#!/usr/bin/env python3
"""Byte-compare the canonical query plans that two builds produce.

    SPARK_GRAFT_SF_DIR=<sf0.01 dir> python3 tools/plan_diff.py <classpathA> <classpathB> [query ...]

Runs `graft.PlanDump` once under each classpath over the fixture in
SPARK_GRAFT_SF_DIR (the sf0.01 tables; the plans are only comparable at
one scale). Each run gets a fresh, empty working directory that is also
its `java.io.tmpdir`, so q105 and q185 build their own artifacts rather
than reading ones the other build left; both runs use the same path for
it, so the file locations in those plans compare. PlanDump writes its
plans canonicalized (plan and RDD ids, call sites and expression ids
masked), so the two dumps of one query compare byte for byte. No
queries named = every registered query.

Exits 0 when every plan is byte-identical; 1 when any differs, listing
the differing queries with the first differing lines of each; 2 when a
run fails. Given the same classpath twice, it lists the plans a build
does not reproduce from run to run.

A classpath is either the classpath itself or the name of a file whose
last line is one, such as the `.bench_build/classpath.txt` that
`perfbench/run.py` writes in a checkout, or the last line printed by
`sbt "export Runtime/fullClasspath"`. Spark runs `local[4]` with 4
shuffle partitions (the partition count is part of the plan); set
SPARK_GRAFT_CPUS to change it for both runs.
"""

import difflib
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
SHOWN_LINES = 12


def classpath(arg):
    p = Path(arg)
    if p.is_file():
        return p.read_text().strip().splitlines()[-1].strip()
    return arg


def dump(cp, sf_dir, queries, out, work):
    """Run graft.PlanDump under `cp`, plans into `out`; True on success."""
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.PlanDump"] + queries)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_PLAN_DIR=out,
               SPARK_GRAFT_PLAN_SUFFIX="plan")
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    res = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write("".join(res.stdout.splitlines(True)[-30:]))
        return False
    return True


def differing(dir_a, dir_b):
    """(query, diff lines) for every plan that is missing on one side or differs."""
    names = sorted({p.name for p in Path(dir_a).iterdir()} |
                   {p.name for p in Path(dir_b).iterdir()})
    out = []
    for name in names:
        a, b = Path(dir_a, name), Path(dir_b, name)
        query = name[:-len("_plan.txt")]
        if not (a.exists() and b.exists()):
            out.append((query, [f"only in {'A' if a.exists() else 'B'}"]))
        elif a.read_bytes() != b.read_bytes():
            diff = difflib.unified_diff(a.read_text().splitlines(),
                                        b.read_text().splitlines(), "A", "B", n=0, lineterm="")
            out.append((query, list(diff)[2:]))
    return out


def main():
    if len(sys.argv) < 3 or "SPARK_GRAFT_SF_DIR" not in os.environ:
        sys.exit(__doc__)
    cp_a, cp_b = classpath(sys.argv[1]), classpath(sys.argv[2])
    queries = sys.argv[3:]
    sf_dir = str(Path(os.environ["SPARK_GRAFT_SF_DIR"]).resolve())
    with tempfile.TemporaryDirectory(prefix="plan_diff") as tmp:
        dirs = []
        work = Path(tmp, "work")
        for name, cp in (("a", cp_a), ("b", cp_b)):
            shutil.rmtree(work, ignore_errors=True)
            work.mkdir()
            out = str(Path(tmp, name))
            if not dump(cp, sf_dir, queries, out, str(work)):
                print(f"plan_diff: graft.PlanDump failed under classpath {name.upper()}",
                      file=sys.stderr)
                sys.exit(2)
            dirs.append(out)
        n = sum(1 for _ in Path(dirs[0]).iterdir())
        diffs = differing(*dirs)
        if not diffs:
            print(f"plan_diff: {n} plans byte-identical")
            sys.exit(0)
        for query, lines in diffs:
            print(f"plan_diff: {query} differs")
            for line in lines[:SHOWN_LINES]:
                print(f"    {line}")
            if len(lines) > SHOWN_LINES:
                print(f"    ... {len(lines) - SHOWN_LINES} more lines")
        print(f"plan_diff: {len(diffs)} of {n} plans differ: "
              + " ".join(q for q, _ in diffs), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
