#!/usr/bin/env python3
"""Benchmark launcher: builds the program with the benchmark
(perfbench/build.py), generates the seeded inputs, runs one workload
in one JVM (perfbench.Main), checks its output and prints one JSON
line as the last line of standard output:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Usage (from the repository root):

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: cdc_large_state, llm_queries, dedup_scale.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones and writes the run's spans next to its record. Everything the
run writes stays under .bench_build/ in the current directory.
"""
import argparse
import glob
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

BUILD = ".bench_build"
JVM_TIMEOUT_S = 170
HEAP = "3g"
# tables each workload reads, and at which scale factor
TABLES = {
    "cdc_large_state": None,
    "llm_queries": (0.01, None),
    "dedup_scale": (0.01, ["documents"]),
}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load_metrics():
    with open(os.path.join(HERE, "metrics.json")) as fh:
        return json.load(fh)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def oracle_check(data_dir, results_dir):
    """Digest of each query result against DuckDB's answer to the
    query's oracle SQL, in the form tools/check_oracle.py uses.
    Returns {query: None | reason}."""
    import duckdb
    import pyarrow.parquet as pq
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join("tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = duckdb.connect()
    for t in co.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    out = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            out[name] = "no result"
            continue
        tbl = pq.read_table(files[0])
        s_names = tbl.column_names
        s_rows = [tuple(r[c] for c in s_names) for r in tbl.to_pylist()]
        d_tbl = con.execute(sql).fetch_arrow_table()
        d_names = d_tbl.column_names
        d_rows = [tuple(r[c] for c in d_names) for r in d_tbl.to_pylist()]
        if sorted(s_names) != sorted(d_names):
            out[name] = f"columns {sorted(s_names)} != {sorted(d_names)}"
        elif len(s_rows) != len(d_rows):
            out[name] = f"rows {len(s_rows)} != {len(d_rows)}"
        elif co.table_digest(s_names, s_rows) != co.table_digest(d_names, d_rows):
            out[name] = "digest mismatch"
        else:
            out[name] = None
    return out


def jvm(classes, work, main_class, args):
    """The JVM command and environment for one benchmark process: a
    fixed heap, the flags the program's own build passes to Spark on
    JDK 17, and scratch and temp directories under `work`."""
    import build
    scratch = os.path.join(work, "scratch")
    tmp = os.path.join(work, "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    env["GRAFT_LOCAL_DIR"] = scratch
    # -Xms = -Xmx: a fixed heap, so peak RSS does not swing with G1's
    # heap-sizing decisions from run to run
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]), main_class]
           + args)
    return cmd, env


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join("src", "main", "scala")):
        print("perfbench: program sources (src/main/scala) not found; run from the repository root",
              file=sys.stderr)
        return 2
    import build
    classes = build.build()

    wl = a.workload
    work = os.path.abspath(os.path.join(BUILD, "work", wl))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{wl}-seed{a.seed}-trace{a.trace}"
    out_json = os.path.join(os.path.abspath(results), f"{tag}.json")
    if os.path.exists(out_json):
        os.remove(out_json)

    data = os.path.join(work, "data")
    g0 = time.monotonic()
    if TABLES[wl]:
        import gen_tables
        scale, only = TABLES[wl]
        gen_tables.write(data, a.seed, scale, only)
    pregen = time.monotonic() - g0

    cmd, env = jvm(classes, work, "perfbench.Main", [
        "--workload", wl, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", work, "--out", out_json,
        "--pregen_s", repr(pregen)])
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(logs, f"{tag}.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out_json):
        print(f"perfbench: JVM run failed ({code}); see {logs}/{tag}.log", file=sys.stderr)
        return 1
    with open(out_json) as fh:
        r = json.load(fh)

    attempted, failed, failures = r["attempted"], r["failed"], list(r["failures"])
    if wl == "llm_queries":
        res_dir = r["checks"]["results_dir"]
        bad = {k: v for k, v in oracle_check(data, res_dir).items() if v}
        failed_q = {f.split(":")[0] for f in failures}
        for q, why in sorted(bad.items()):
            failures.append(f"{q}: oracle {why}")
            if q not in failed_q:
                failed += 1
        r["checks"]["oracle_mismatches"] = bad
    if wl == "dedup_scale":
        # pair count and digest must not change between runs of a seed
        pin = os.path.join(results, f"{wl}-seed{a.seed}.pairs.json")
        now = {k: v for k, v in r["checks"].items() if k in ("minhash", "simhash")}
        if os.path.exists(pin):
            with open(pin) as fh:
                before = json.load(fh)
            attempted += 1
            if before != now:
                failed += 1
                failures.append(f"pairs differ from an earlier run of seed {a.seed}: {before} != {now}")
        else:
            with open(pin, "w") as fh:
                json.dump(now, fh)

    spec = load_metrics()
    if a.trace == 0:
        metrics = {m["name"]: (r["e2e"][m["name"]], m["unit"]) for m in spec["end_to_end"]}
    else:
        layers = dict(r["layers"])
        # against the untraced run of this seed, else the newest untraced
        # run of the workload (same input sizes, another seed)
        same = os.path.join(results, f"{wl}-seed{a.seed}-trace0.json")
        runs = [same] if os.path.exists(same) else sorted(
            glob.glob(os.path.join(results, f"{wl}-seed*-trace0.json")), key=os.path.getmtime)[-1:]
        if runs:
            with open(runs[0]) as fh:
                base = json.load(fh)["e2e"]["latency_ms_p50"]
            layers["bench.trace_overhead_pct"] = 100.0 * (r["e2e"]["latency_ms_p50"] - base) / base
        # a layer the workload never enters spends nothing in it
        metrics = {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}

    r.update({"attempted": attempted, "failed": failed, "failures": failures})
    r["record"].update({"git_commit": git_commit(), "heap": f"-Xmx{HEAP}", "workload": wl,
                        "seconds": a.seconds, "trace": a.trace})
    with open(out_json, "w") as fh:
        json.dump(r, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"perfbench: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
