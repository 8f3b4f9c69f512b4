#!/usr/bin/env python3
"""Compare what two builds' continuous corpus ingest writes.

    python3 tools/ingest_diff.py <classpathA> <classpathB> <documents.parquet>

Splits the documents into 4 waves by `doc_id % 4` (DuckDB writes each wave
as one parquet file, the same bytes for both builds). Under each
classpath, in its own temporary directory, lands the waves one at a time
and runs `graft.streaming.CorpusIngest <landing> <out>` after each, so
every wave is one micro-batch through the real `foreachBatch` path, with
the stream's checkpoint carried from run to run. Then reads both output
trees with DuckDB and compares, as multisets of rows: the corpus
`(ingest_batch, doc_id)` pairs, the per-batch `reports` and the three
dedup index tables (`hashes`, `shingles`, `dfs`). Column names and types
must match too. Exits 0 when everything is identical, 1 on any
difference (the differences are printed), 2 when a run fails.

A classpath is either the classpath itself or the name of a file whose
last line is one, such as the `.bench_build/classpath.txt` that
`perfbench/run.py` writes in a checkout, or the last line printed by
`sbt "export Runtime/fullClasspath"`. Spark runs `local[2]`; set
SPARK_GRAFT_CPUS to change it. About 3 min on 4 vCPUs for the sf0.1
documents (5,000 docs).
"""

import collections
import shutil
import sys
import tempfile
from pathlib import Path

import duckdb

from tb_payload_diff import classpath, run_main

WAVES = 4

# (table under the output directory, the columns compared)
TABLES = [
    ("corpus", "ingest_batch, doc_id"),
    ("reports", "*"),
    ("index/hashes", "*"),
    ("index/shingles", "*"),
    ("index/dfs", "*"),
]


def write_waves(con, docs, wave_dir):
    """One parquet file per wave; returns their paths in landing order."""
    waves = []
    for w in range(WAVES):
        path = Path(wave_dir, f"wave{w}.parquet")
        con.sql(f"COPY (SELECT * FROM read_parquet('{docs}') WHERE doc_id % {WAVES} = {w} "
                f"ORDER BY doc_id) TO '{path}' (FORMAT parquet)")
        waves.append(path)
    return waves


def ingest(cp, waves, root):
    """Land the waves one per CorpusIngest run; True when every run succeeds."""
    landing, out = Path(root, "landing"), Path(root, "out")
    landing.mkdir(parents=True)
    for wave in waves:
        shutil.copy(wave, landing / wave.name)
        work = Path(root, f"work-{wave.stem}")
        work.mkdir()
        if not run_main(cp, "graft.streaming.CorpusIngest", [str(landing), str(out)],
                        str(work)):
            return False
    return True


def read_table(con, out, table, cols):
    """(columns, types, rows) of one hive-partitioned output table."""
    cur = con.sql(f"SELECT {cols} FROM read_parquet('{Path(out, table)}/*/*.parquet', "
                  "hive_partitioning = true)")
    return cur.columns, [str(t) for t in cur.types], cur.fetchall()


def diff_outputs(out_a, out_b):
    """(lines describing every difference, summary lines of what matched)."""
    con = duckdb.connect()
    diffs, same = [], []
    for table, cols in TABLES:
        try:
            cols_a, types_a, rows_a = read_table(con, out_a, table, cols)
            cols_b, types_b, rows_b = read_table(con, out_b, table, cols)
        except duckdb.Error as e:
            diffs.append(f"{table}: unreadable: {e}")
            continue
        if (cols_a, types_a) != (cols_b, types_b):
            diffs.append(f"{table}: schema {list(zip(cols_a, types_a))} vs "
                         f"{list(zip(cols_b, types_b))}")
            continue
        ca, cb = collections.Counter(rows_a), collections.Counter(rows_b)
        if ca != cb:
            only_a, only_b = list((ca - cb).elements()), list((cb - ca).elements())
            diffs.append(f"{table}: {len(only_a)} rows only in A, {len(only_b)} only in B; "
                         f"e.g. {(only_a or only_b)[0]}")
        else:
            same.append(f"{table} identical ({len(rows_a)} rows)")
    return diffs, same


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    cp_a, cp_b = classpath(sys.argv[1]), classpath(sys.argv[2])
    docs = Path(sys.argv[3]).resolve()
    with tempfile.TemporaryDirectory(prefix="ingest_diff") as tmp:
        waves = write_waves(duckdb.connect(), docs, Path(tmp))
        for name, cp in (("a", cp_a), ("b", cp_b)):
            if not ingest(cp, waves, Path(tmp, name)):
                print(f"ingest_diff: CorpusIngest failed under classpath {name.upper()}",
                      file=sys.stderr)
                sys.exit(2)
        diffs, same = diff_outputs(Path(tmp, "a", "out"), Path(tmp, "b", "out"))
        for line in same:
            print(f"ingest_diff: {line}")
        for line in diffs:
            print(f"ingest_diff: {line}", file=sys.stderr)
        sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
