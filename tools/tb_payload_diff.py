#!/usr/bin/env python3
"""Compare the TB endpoint payloads and products that two builds write.

    python3 tools/tb_payload_diff.py <classpathA> <classpathB> <tb.csv> <pop.csv>

Under each classpath, each in its own temporary directory, runs
`graft.TbServe <tb.csv> <pop.csv> <dir>` (the 15 endpoint payloads) and
`graft.TbMain <tb.csv> <pop.csv> <dir>` (the three parquet products). The
payload trees must be byte-identical (`diff -r`). The products are read
with DuckDB: `country_summary` and `yearly_trends` must hold the same
rows in the same order (part files in name order, rows in file order),
`country_trends`, which is partitioned by year, the same multiset of
rows. Column names and types must match too. Exits 0 when everything is
identical, 1 on any difference (the differences are printed), 2 when a
run fails.

A classpath is either the classpath itself or the name of a file whose
last line is one, such as the `.bench_build/classpath.txt` that
`perfbench/run.py` writes in a checkout, or the last line printed by
`sbt "export Runtime/fullClasspath"`. Spark runs `local[2]`; set
SPARK_GRAFT_CPUS to change it.
"""

import collections
import os
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]

# (product, compared in file order?)
PRODUCTS = [("country_summary", True), ("yearly_trends", True), ("country_trends", False)]


def classpath(arg):
    p = Path(arg)
    if p.is_file():
        return p.read_text().strip().splitlines()[-1].strip()
    return arg


def run_main(cp, main, args, work):
    """Run `main` under `cp` with `work` as its working and temp directory;
    True on success."""
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx1g", f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main] + args)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    env.pop("GRAFT_GHO_JSONL", None)  # TbMain's collect phase reads the CSV given
    res = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write("".join(res.stdout.splitlines(True)[-30:]))
        return False
    return True


def read_product(con, root, name, ordered):
    """(columns, types, rows) of one product directory."""
    if ordered:
        files = sorted(str(p) for p in Path(root, name).glob("*.parquet"))
        cur = con.sql(f"SELECT * FROM read_parquet({files!r})")
    else:
        cur = con.sql(f"SELECT * FROM read_parquet('{Path(root, name)}/*/*.parquet', "
                      "hive_partitioning = true)")
    return cur.columns, [str(t) for t in cur.types], cur.fetchall()


def diff_products(root_a, root_b):
    """Lines describing every product difference; empty when identical."""
    con = duckdb.connect()
    out = []
    for name, ordered in PRODUCTS:
        cols_a, types_a, rows_a = read_product(con, root_a, name, ordered)
        cols_b, types_b, rows_b = read_product(con, root_b, name, ordered)
        if (cols_a, types_a) != (cols_b, types_b):
            out.append(f"{name}: schema {list(zip(cols_a, types_a))} vs {list(zip(cols_b, types_b))}")
        elif ordered:
            if len(rows_a) != len(rows_b):
                out.append(f"{name}: {len(rows_a)} rows vs {len(rows_b)}")
            for i, (ra, rb) in enumerate(zip(rows_a, rows_b)):
                if ra != rb:
                    out.append(f"{name}: row {i} differs: {ra} vs {rb}")
                    break
        else:
            ca, cb = collections.Counter(rows_a), collections.Counter(rows_b)
            if ca != cb:
                only_a, only_b = list((ca - cb).elements()), list((cb - ca).elements())
                out.append(f"{name}: {len(only_a)} rows only in A, {len(only_b)} only in B; "
                           f"e.g. {(only_a or only_b)[0]}")
    return out


def main():
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    cp_a, cp_b = classpath(sys.argv[1]), classpath(sys.argv[2])
    tb_csv, pop_csv = (str(Path(p).resolve()) for p in sys.argv[3:5])
    with tempfile.TemporaryDirectory(prefix="tb_payload_diff") as tmp:
        for name, cp in (("a", cp_a), ("b", cp_b)):
            for main_class, out in (("graft.TbServe", "api"), ("graft.TbMain", "products")):
                work = Path(tmp, f"{name}-{out}-work")
                work.mkdir()
                if not run_main(cp, main_class, [tb_csv, pop_csv, str(Path(tmp, name, out))],
                                str(work)):
                    print(f"tb_payload_diff: {main_class} failed under classpath {name.upper()}",
                          file=sys.stderr)
                    sys.exit(2)
        api_a, api_b = Path(tmp, "a", "api"), Path(tmp, "b", "api")
        files = sum(1 for _ in api_a.rglob("*.json"))
        same_payloads = subprocess.run(["diff", "-r", str(api_a), str(api_b)]).returncode == 0
        if same_payloads:
            print(f"tb_payload_diff: {files} payloads byte-identical")
        else:
            print("tb_payload_diff: payloads differ", file=sys.stderr)
        product_diffs = diff_products(Path(tmp, "a", "products"), Path(tmp, "b", "products"))
        for line in product_diffs:
            print(f"tb_payload_diff: {line}", file=sys.stderr)
        if not product_diffs:
            print(f"tb_payload_diff: {len(PRODUCTS)} products identical")
        sys.exit(0 if same_payloads and not product_diffs else 1)


if __name__ == "__main__":
    main()
