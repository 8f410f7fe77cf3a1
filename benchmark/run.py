#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

    python3 benchmark/run.py --workload program_sweep --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the system and the
benchmark from the checkout's sources with sbt (offline); later runs reuse
the build until a source file changes. The JVM side (perfbench.Main) does
the measuring and checks program outputs against the benchmark's own
evaluator; for gate_mix this script then compares each sampled gate that
has an oracle with DuckDB, outside the timed region. The last line of
standard output is the result:

    {"correct": true, "attempted": 42, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full run record (inputs, versions, environment,
source fingerprint and git commit, percentile sample counts, per-layer
report) is written to
benchmark/work/<workload>-s<seed>-t<trace>/record.json, and a traced run's
spans to spans.jsonl beside it. The testdata root is $GRAFT_TESTDATA, or
~/testdata.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
WORKLOADS = ("program_sweep", "corpus_scan", "gate_mix")
END_TO_END = {
    "setup_s": "s", "compile_p50_ms": "ms", "compile_p90_ms": "ms",
    "program_p50_ms": "ms", "program_p90_ms": "ms", "rows_per_s": "rows/s",
    "gate_cold_total_s": "s", "gate_warm_total_s": "s", "gate_p50_s": "s",
}
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 150
JVM_OPTS = [
    "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"[benchmark] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = []
    for base in (ROOT, BENCH):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            files.append(os.path.join(base, name))
        for top in ("src", "project"):
            for d, dirs, fs in os.walk(os.path.join(base, top)):
                dirs[:] = sorted(x for x in dirs if x != "target")
                files += [os.path.join(d, f) for f in sorted(fs)
                          if f.endswith((".scala", ".java", ".sbt"))]
    return sorted(set(f for f in files if os.path.isfile(f)))


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_commit():
    """The checkout's commit, when it is a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def build():
    """Builds if the sources changed since the last build; returns the
    runtime classpath and the sources' fingerprint."""
    stamp = os.path.join(WORK, "build.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built.get("fingerprint") == fp:
            return built["classpath"], fp
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = [ln for ln in lines if "scala-2.13" in ln and os.pathsep in ln
          and not ln.startswith("[")]
    if r.returncode != 0 or not cp:
        fail(f"build failed (rc={r.returncode}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, f)
    return cp[-1], fp


def canon(df):
    """The strict canonical form of tools/check_correctness.py: columns
    sorted by name, values stringified, rows sorted by every column."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(object).where(pd.notnull(df), None)
    for c in df.columns:
        df[c] = df[c].map(lambda v: f"{v}")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_mismatches(record, out_dir):
    """gate -> why, for each sampled gate whose result differs from DuckDB."""
    oracles = record.get("gate_oracles") or {}
    if not oracles:
        return {}
    import duckdb
    import pandas as pd
    sf_dir = record["sf_dir"]
    con = duckdb.connect()
    for t in sorted(os.listdir(sf_dir)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{sf_dir}/{t}'")
    bad = {}
    for gate, sql in sorted(oracles.items()):
        if gate in record["failed_ops"]:
            continue
        try:
            got = canon(pd.read_parquet(os.path.join(out_dir, "gate_results", gate)))
            want = canon(con.execute(sql).fetchdf())
        except Exception as e:  # a broken oracle or result is a failed op
            bad[gate] = f"oracle compare raised {type(e).__name__}: {e}"
            continue
        if list(got.columns) != list(want.columns):
            bad[gate] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            bad[gate] = f"rows {len(got)} vs {len(want)}"
        elif not got.equals(want):
            bad[gate] = "values differ"
    return bad


def unit(name):
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                      ("_mb", "MB"), ("_pct", "%")):
        if name.endswith(suffix):
            return u
    return "s" if name.startswith("gate.warm_s.") else "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src"))):
        fail(f"no system sources next to the benchmark (expected {ROOT}/build.sbt and src/)")
    testdata = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
    if not os.path.isdir(os.path.join(testdata, "sf0.1")):
        fail(f"testdata not found at {testdata}; set GRAFT_TESTDATA")

    cp, fp = build()
    out_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Main", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", out_dir, "--testdata", testdata]
    t0 = time.time()
    log = os.path.join(out_dir, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=out_dir, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log}")
    if rc != 0:
        fail(f"benchmark JVM exited with {rc}; see {log}")
    jvm_s = time.time() - t0
    with open(os.path.join(out_dir, "record.json")) as f:
        record = json.load(f)
    mismatches = oracle_mismatches(record, out_dir)
    failed_ops = {**record["failed_ops"], **mismatches}
    for op, why in sorted(failed_ops.items()):
        print(f"[benchmark] FAILED {op}: {why}", file=sys.stderr)
    attempted = record["attempted"]
    record["failed_frac"] = len(failed_ops) / attempted
    record["oracle_mismatches"] = mismatches
    record["source_fingerprint"] = fp
    record["git_commit"] = git_commit()
    record["jvm_s"] = jvm_s
    record["wall_s"] = time.time() - t0
    with open(os.path.join(out_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(os.path.join(out_dir, "spark-local"), ignore_errors=True)

    if args.trace:
        layer = record["per_layer"]
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in layer.items()}
        print(f"[benchmark] self ms per layer: {json.dumps(record['self_ms'])}")
        print(f"[benchmark] tracing overhead: {json.dumps(record['overhead'])}")
    else:
        metrics = {k: {"value": record["metrics"][k]["value"], "unit": u}
                   for k, u in END_TO_END.items()}
        print(f"[benchmark] failed_frac {record['failed_frac']} "
              f"({len(failed_ops)}/{attempted} ops); percentiles "
              f"{json.dumps(record['percentiles'])}")
    print(json.dumps({"correct": not failed_ops, "attempted": attempted,
                      "failed": len(failed_ops), "metrics": metrics}))


if __name__ == "__main__":
    main()
