#!/usr/bin/env python3
"""Byte-compare the TB endpoint payloads that two builds write.

    python3 tools/tb_payload_diff.py <classpathA> <classpathB> <tb.csv> <pop.csv>

Runs `graft.TbServe <tb.csv> <pop.csv> <dir>` once under each classpath,
each into its own temporary directory, then `diff -r` on the two payload
trees. Exits 0 when every payload is byte-identical, 1 on any difference
(the diff is printed), 2 when a run fails.

A classpath is either the classpath itself or the name of a file whose
last line is one, such as the `.bench_build/classpath.txt` that
`perfbench/run.py` writes in a checkout, or the last line printed by
`sbt "export Runtime/fullClasspath"`. Spark runs `local[2]`; set
SPARK_GRAFT_CPUS to change it.
"""

import os
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


def classpath(arg):
    p = Path(arg)
    if p.is_file():
        return p.read_text().strip().splitlines()[-1].strip()
    return arg


def serve(cp, tb_csv, pop_csv, out, work):
    """Run graft.TbServe under `cp`, payloads into `out`; True on success."""
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx1g", f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.TbServe", tb_csv, pop_csv, out])
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    res = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write("".join(res.stdout.splitlines(True)[-30:]))
        return False
    return True


def main():
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    cp_a, cp_b = classpath(sys.argv[1]), classpath(sys.argv[2])
    tb_csv, pop_csv = (str(Path(p).resolve()) for p in sys.argv[3:5])
    with tempfile.TemporaryDirectory(prefix="tb_payload_diff") as tmp:
        trees = []
        for name, cp in (("a", cp_a), ("b", cp_b)):
            work = Path(tmp, f"{name}-work")
            work.mkdir()
            out = str(Path(tmp, name))
            if not serve(cp, tb_csv, pop_csv, out, str(work)):
                print(f"tb_payload_diff: graft.TbServe failed under classpath {name.upper()}",
                      file=sys.stderr)
                sys.exit(2)
            trees.append(out)
        files = sum(1 for p in Path(trees[0]).rglob("*.json"))
        res = subprocess.run(["diff", "-r", trees[0], trees[1]])
        if res.returncode == 0:
            print(f"tb_payload_diff: {files} payloads byte-identical")
        else:
            print("tb_payload_diff: payloads differ", file=sys.stderr)
        sys.exit(0 if res.returncode == 0 else 1)


if __name__ == "__main__":
    main()
