#!/usr/bin/env python3
"""Full-materialization benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 5 --trace 0

It builds the engine and the benchmark program from the checkout's sources
(sbt, offline; once per source state, cached under `.bench_build/`),
generates the workload's inputs from the seed, runs the benchmark
program (`perfbench.Main`) in one local-mode JVM, checks the outputs against the
DuckDB oracles with `tools/selfcheck.py`, and prints the metrics. The last
line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
See NOTES.md beside this file for what each workload and metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as spanlib  # noqa: E402

# Input sizes per workload (see NOTES.md for how they were chosen). Every
# table is always written: the output check registers all of them.
SIZES = {
    "tpch": dict(sf=0.01, docs=100, vecs=100, n_events=1000),
    "corpus": dict(sf=0.001, docs=200, vecs=200, n_events=1000),
}
HEAP = "3g"
YOUNG = "64m"
JVM_TIMEOUT_S = 150

# Bounded end-to-end metrics. op_p50_s and op_tail_s are computed and
# printed with every run (and are per-layer metrics of a traced run) but
# are not bounded: a run has 7 (corpus) or 22 (tpch) op samples, so each is
# one op's time and spreads too much between runs (see NOTES.md).
END_TO_END = ["setup_s", "pass_s", "mem_peak_mb", "cache_amp"]
UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
         "mem_peak_mb": "MB", "cache_amp": "ratio"}

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads, so an edit rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + benchmark program with sbt; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources next to the benchmark (build.sbt, src/main)")
    stamp = os.path.join(BUILD, f"classpath-{source_hash()}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_main(cp, args, work, data):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # JIT at a tenth of the default thresholds: the one warm-up pass then
    # reaches compiled code, which shortens set-up and the timed pass. A
    # fixed young generation collects every YOUNG of allocation, so a pass
    # has dozens of collections for mem_peak_mb to take its peak over
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-XX:CompileThresholdScaling=0.1", f"-Xmn{YOUNG}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-Dgraft.cacheTables=true",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work])
    log = os.path.join(work, "main.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S}s; see {log}")
    raw = os.path.join(work, "raw.json")
    if rc != 0 or not os.path.isfile(raw):
        with open(log) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"benchmark JVM exited {rc}")
    with open(raw) as f:
        return json.load(f)


def oracle_check(raw, data, work):
    """DuckDB hash match of every result written in the check pass.
    Returns the names that failed."""
    oracles = raw["oracles"]
    if not oracles:
        return set()
    verify = os.path.join(work, "verify")
    with open(os.path.join(verify, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"),
         data, verify], capture_output=True, text=True, timeout=60)
    passed = {ln.split()[1] for ln in r.stdout.splitlines()
              if ln.startswith("PASS ")}
    bad = set(oracles) - passed
    for ln in r.stdout.splitlines():
        if ln.startswith("FAIL"):
            print(f"# check: {ln}")
    return bad


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples)."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], round(100.0 * (n - 10) / n, 1), n


def evaluate(raw, bad_oracles):
    """attempted / failed over the timed ops, every check folded in: an
    op fails when it threw, when its entry failed the oracle check, or,
    for a rows-only entry, when it returned no rows or another row count
    than in the check pass."""
    problems = []
    expect = {}
    for o in raw["warmup"]:
        if o["error"]:
            problems.append(f"{o['id']} (check pass): {o['error']}")
        expect[o["name"]] = o["rows"]
        if o["rows"] == 0:
            problems.append(f"{o['name']}: rows-only entry returned no rows")
    ops = [o for p in raw["passes"] for o in p["ops"]]
    failed = 0
    for o in ops:
        why = None
        if o["error"]:
            why = o["error"]
        elif o["name"] in bad_oracles:
            why = "oracle mismatch"
        elif o["rows"] is not None and (o["rows"] == 0 or
                                        o["rows"] != expect.get(o["name"])):
            why = f"{o['rows']} rows, check pass had {expect.get(o['name'])}"
        if why:
            failed += 1
            problems.append(f"{o['id']}: {why}")
    for p in problems[:20]:
        print(f"# problem: {p}")
    for line in raw["error_samples"]:
        print(f"# Spark ERROR line (counted, not failed): {line}")
    return len(ops), failed, not problems and not bad_oracles


def input_bytes(data, tables):
    return sum(os.path.getsize(os.path.join(data, f"{t}.parquet"))
               for t in tables)


def end_to_end(raw, data):
    untraced = [p for p in raw["passes"] if not p["traced"]]
    walls = [(o["end_ms"] - o["start_ms"]) / 1e3
             for p in untraced for o in p["ops"]]
    t, pct, n = tail(walls)
    heap = [mb for p in untraced for mb in p["heap_after_gc_mb"]]
    if not heap:
        fail("no garbage collection during the timed passes; "
             "mem_peak_mb has no sample")
    m = {
        "setup_s": raw["setup_s"],
        "pass_s": median([p["wall_s"] for p in untraced]),
        "op_p50_s": median(walls),
        "op_tail_s": t,
        "mem_peak_mb": max(heap),
        "cache_amp": raw["cache_bytes"] / input_bytes(data, raw["tables"]),
    }
    print(f"# op_tail_s is p{pct} of {n} op samples; "
          f"{len(untraced)} untraced passes")
    print(f"# mem_peak_mb is the largest of {len(heap)} post-collection "
          f"heap figures ({min(heap):.0f}-{max(heap):.0f} MB); "
          f"session start {raw['session_s']:.3f} s of setup_s")
    print(f"# host probes before and after the timed passes: 4-core "
          f"{raw['cal_mt_s']} s, "
          f"serial {raw['cal_serial_s']} s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen.generate(data, args.seed, **SIZES[args.workload])
    raw = run_main(cp, args, work, data)
    try:
        bad = oracle_check(raw, data, work)
        attempted, failed, correct = evaluate(raw, bad)
        e2e = end_to_end(raw, data)
        for k, v in e2e.items():
            print(f"# {k} = {v:.6g} {UNITS[k]}")
        print(f"# op_fail_ratio = {failed / attempted:.6g} ({failed} of "
              f"{attempted} timed ops failed)")
        if args.trace:
            layers = spanlib.per_layer(raw, failed / attempted)
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            trace_file = os.path.join(
                BUILD, "traces", f"{args.workload}-{args.seed}.json")
            spanlib.write_trace(raw, trace_file)
            print(f"# spans written to {os.path.relpath(trace_file, ROOT)}")
            layers["op_p50_s"] = (e2e["op_p50_s"], "s")
            layers["op_tail_s"] = (e2e["op_tail_s"], "s")
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in layers.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": UNITS[k]}
                       for k in END_TO_END}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
