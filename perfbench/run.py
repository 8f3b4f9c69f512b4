#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload tb-refresh --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the program (the repository's own sbt
build) and the benchmark's code, which depends on it, with sbt on first use (cached under .bench_build/, keyed by a hash of the
sources), runs one workload in one JVM, prints a human-readable report and,
as the last line of stdout, the JSON result. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 700

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build compiles, and of this script, which
    sets how the program runs."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties",
             HERE / "run.py"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, deadline_s, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=deadline_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    """Compile with sbt once per source state; return the source hash and
    the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("program sources (src/main/scala/graft) not found; run from a full checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    digest = source_hash()
    cp_file = BUILD / "classpath.txt"
    if cp_file.exists():
        stamp, _, cp = cp_file.read_text().partition("\n")
        if stamp == digest:
            return digest, cp.strip()
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as out:
        code = run_group(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export perfbench/Runtime/fullClasspath"],
            BUILD_DEADLINE_S, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, env=env)
    lines = log.read_text().strip().splitlines()
    if code != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write("".join(l[:300] + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {code}); full log in {log}")
    cp_file.write_text(digest + "\n" + lines[-1].strip() + "\n")
    return digest, lines[-1].strip()


def report_line(name, unit, samples, agg):
    """Median (or mean) and the highest percentile with at least ten samples beyond it."""
    n = len(samples)
    center = statistics.mean(samples) if agg == "mean" else statistics.median(samples)
    text = f"  {name:<22} {agg:<6} {center:10.4f} {unit:<3} (n={n}"
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            s = sorted(samples)
            text += f", p{p} {s[min(n - 1, max(0, -(-p * n // 100) - 1))]:.4f}"
            break
    return text + ")"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        fail("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_file.read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload!r}")

    digest, cp = classpath()
    started = time.time()
    cpus = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = BUILD / "work" / tag
    out = BUILD / "results" / f"{tag}.json"
    log = BUILD / "logs" / f"{tag}.log"
    trace_file = BUILD / "traces" / f"{a.workload}-seed{a.seed}.json"
    for d in (work / "tmp", out.parent, log.parent):
        d.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xms3g", "-Xmx3g", "-XX:+UseSerialGC", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--work", str(work), "--out", str(out),
            "--ledger", str(BUILD / "ledger" / digest[:16] / f"{a.workload}-seed{a.seed}.tsv"),
            "--trace-file", str(trace_file)])
    try:
        with open(log, "w") as lf:
            code = run_group(cmd, RUN_DEADLINE_S, cwd=work, stdout=lf,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not out.exists():
        sys.stderr.write("".join(log.read_text(errors="replace").splitlines(True)[-40:]))
        fail(f"workload run failed (exit {code}); log in {log}")
    res = json.loads(out.read_text())

    # A metric whose every operation failed reads null; the run is then
    # incorrect and the value is reported as 0.
    if a.trace:
        values = {m["name"]: res["layers"].get(m["name"]) for m in spec["per_layer"]}
    else:
        values = {m["name"]: res["e2e"].get(m["name"]) for m in spec["end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    metrics = {k: {"value": float(v or 0.0), "unit": units[k]} for k, v in values.items()}

    # History of untraced readings, for the tracing-overhead line.
    hist = BUILD / "history" / digest[:16] / f"{a.workload}-seconds{a.seconds:g}.jsonl"
    hist.parent.mkdir(parents=True, exist_ok=True)
    if not a.trace:
        with open(hist, "a") as h:
            h.write(json.dumps(res["e2e"]) + "\n")

    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
          f"cpus={cpus} wall={time.time() - started:.1f}s")
    for m in res["named"]:
        if m["samples"]:
            print(report_line(m["name"], m["unit"], m["samples"], m["agg"]))
    rate = res["failed"] / res["attempted"]
    print(f"  {'fail_rate':<22} {rate:.6f} ({res['failed']} of {res['attempted']} ops)")
    print(f"  {'host steal':<22} {res['steal_s']:.2f} CPU-s withheld by the host while operations ran")
    bad = [c["name"] for c in res["checks"] if not c["ok"]]
    print(f"  checks: {len(res['checks']) - len(bad)}/{len(res['checks'])} passed"
          + (f"; FAILED: {', '.join(bad)}" if bad else ""))
    if a.trace:
        past = [json.loads(l) for l in hist.read_text().splitlines()] if hist.exists() else []
        for key in ("first_s", "op_s", "first_cpu_nojit_s", "op_cpu_nojit_s"):
            traced = res["layers"].get(f"traced.{key}")
            base_runs = [p[key] for p in past if p.get(key) is not None]
            if base_runs and traced:
                base = statistics.median(base_runs)
                print(f"  tracing overhead {key}: {traced - base:+.4f} s "
                      f"({(traced / base - 1) * 100:+.1f}% vs median of {len(base_runs)} untraced runs)")
            else:
                print(f"  tracing overhead {key}: no untraced run of this workload in this checkout yet")
        if "corpus.span_gap_s" in res["layers"]:
            print(f"  corpus span gap: {res['layers']['corpus.span_gap_s']:.4f} s "
                  f"(corpus_build_s minus the sum of the staged replica's spans)")
        print(f"  spans: {trace_file.relative_to(ROOT)}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
