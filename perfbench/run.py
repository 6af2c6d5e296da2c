#!/usr/bin/env python3
"""graft benchmark: one workload, one closed loop with a single client.

Usage (from the repository root):
  python3 perfbench/run.py --workload <cdc_ingest|analytics> --seed <n> \
      --seconds <s> --trace <0|1>

Builds graft and the benchmark runner with sbt (once per source state, into
.bench_build/), generates the inputs, runs the runner JVM on local[<cores>]
with graft's default session, checks every output, prints each figure by
name and unit, and prints one JSON result as the last line of stdout.
With --trace 0 the result holds the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics. Exits non-zero if any check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

DEADLINE_S = 170          # a run must end within 180 s once built
BUILD_TIMEOUT_S = 700     # a run that builds may take 900 s
CDC_SF = 0.01             # orders: 15k keys; customer: 1.5k rows
ANALYTICS_SF = 0.01

# per-layer metric -> (end-to-end metric it should move, the workload that
# calls into the layer; the other workload reports 0 for it)
LAYERS = {
    "SparkEntry.warm_s": ("setup_s", "analytics"),
    "SparkEntry.warm_cpu_s": ("setup_s", "analytics"),
    "SparkEntry.cached_mb": ("footprint_mb", "analytics"),
    "cdc.decode_s": ("throughput_per_s", "cdc_ingest"),
    "cdc.rows_per_event": ("error_rate", "cdc_ingest"),
    "store.merge_s": ("latency_p50_s", "cdc_ingest"),
    "store.merge_jobs": ("latency_p50_s", "cdc_ingest"),
    "store.merge_stages": ("latency_p50_s", "cdc_ingest"),
    "store.merge_tasks": ("latency_p50_s", "cdc_ingest"),
    "store.merge_cpu_s": ("throughput_per_s", "cdc_ingest"),
    "store.vacuum_s": ("throughput_per_s", "cdc_ingest"),
    "store.merge_write_mb": ("throughput_per_s", "cdc_ingest"),
    "store.write_amp": ("throughput_per_s", "cdc_ingest"),
    "store.dirty_bucket_ratio": ("throughput_per_s", "cdc_ingest"),
    "store.read_s": ("latency_p50_s", "cdc_ingest"),
    "store.read_files": ("latency_p50_s", "cdc_ingest"),
    "store.disk_mb": ("footprint_mb", "cdc_ingest"),
    "stream.source_s": ("latency_p50_s", "cdc_ingest"),
    "stream.add_batch_s": ("latency_p50_s", "cdc_ingest"),
    "stream.commit_s": ("latency_p50_s", "cdc_ingest"),
    "archive.add_batch_s": ("latency_p50_s", "cdc_ingest"),
    "queries.build_s": ("throughput_per_s", "analytics"),
    "queries.plan_s": ("throughput_per_s", "analytics"),
    "queries.exec_s": ("throughput_per_s", "analytics"),
    "exec.jobs": ("throughput_per_s", "analytics"),
    "exec.stages": ("throughput_per_s", "analytics"),
    "exec.tasks": ("throughput_per_s", "analytics"),
    "exec.cpu_s": ("throughput_per_s", "analytics"),
    "exec.shuffle_write_mb": ("throughput_per_s", "analytics"),
    "exec.spill_mb": ("throughput_per_s", "analytics"),
    "exec.scan_mb": ("throughput_per_s", "analytics"),
    "exec.gc_s": ("throughput_per_s", "analytics"),
    "plan.exchanges": ("throughput_per_s", "analytics"),
    "plan.windows": ("throughput_per_s", "analytics"),
    "plan.global_windows": ("throughput_per_s", "analytics"),
    "plan.broadcasts": ("throughput_per_s", "analytics"),
    "plan.sorts": ("throughput_per_s", "analytics"),
    "kernel.q33.exec_s": ("throughput_per_s", "analytics"),
    "kernel.q86.exec_s": ("throughput_per_s", "analytics"),
    "kernel.q114.exec_s": ("throughput_per_s", "analytics"),
    "kernel.q206.exec_s": ("throughput_per_s", "analytics"),
    "kernel.q233.exec_s": ("throughput_per_s", "analytics"),
    "kernel.q68.exec_s": ("throughput_per_s", "analytics"),
    "ref.duckdb_ratio": ("latency_p50_s", "analytics"),
    "ref.spark_s": ("latency_p50_s", "analytics"),
    "ref.duck_s": ("latency_p50_s", "analytics"),
    "ref.aligned": ("latency_p50_s", "analytics"),
    "trace.overhead": ("-", "both"),
}

def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every source and build file the runner is compiled from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the runner once per source state; returns the
    runner's JVM arguments: graft's own `run` javaOptions and the runtime
    classpath."""
    args_file = os.path.join(BUILD, "perfbench", "launch-args.txt")
    fp_file = os.path.join(BUILD, "fingerprint")
    fp = fingerprint()
    if os.path.exists(args_file) and os.path.exists(fp_file):
        with open(fp_file) as f, open(args_file) as g:
            same, args = f.read() == fp, g.read().splitlines()
        # graft's classes live in its own target/, outside .bench_build
        if same and all(os.path.exists(p) for p in args[-1].split(os.pathsep)):
            return args
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(fp_file):
        os.remove(fp_file)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchArgs"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(args_file):
        fail(f"build failed, see {log}", 1)
    with open(fp_file, "w") as f:
        f.write(fp)
    with open(args_file) as f:
        return f.read().splitlines()


def dataset(name, sf, seed, tables):
    """Generated input tables, cached under .bench_build/data by the
    generator's own source, so a changed generator writes new tables."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"{name}-sf{sf}-seed{seed}-{version}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        gen.generate(tmp, sf, seed, tables)
        os.replace(tmp, d)
    return d


def duckdb(data_dir):
    import duckdb as ddb
    con = ddb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def normalize(df):
    """Column order and row order do not count (as in dev/check.py)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def oracle_check(con, results_dir, oracle_sql):
    """Each query's collected rows against its DuckDB oracle over the same
    parquet, exactly and dtype for dtype; returns the mismatches, named."""
    import pandas as pd
    failures = []
    for name, sql in sorted(oracle_sql.items()):
        d = os.path.join(results_dir, name)
        if not os.path.isdir(d):
            continue  # the query threw; the runner already named it
        try:
            got = normalize(pd.concat([pd.read_parquet(os.path.join(d, f))
                                       for f in sorted(os.listdir(d))
                                       if f.endswith(".parquet")]))
            exp = normalize(con.sql(sql).df())
            pd.testing.assert_frame_equal(got, exp, check_dtype=True, check_exact=True)
        except (AssertionError, OSError, ValueError, RuntimeError) as e:
            failures.append(f"{name}: differs from its DuckDB oracle: {str(e)[:300]}")
    return failures


def duckdb_reference(con, oracle_sql, spark_s):
    """The oracled queries in DuckDB, fetchall(), min of 2, on as many
    threads as Spark has cores; returns the per-layer ref.* metrics."""
    duck = {}
    for name, sql in sorted(oracle_sql.items()):
        if name not in spark_s:
            continue
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        duck[name] = best
    s = sum(spark_s[n] for n in duck)
    d = sum(duck.values())
    return {"ref.duckdb_ratio": s / d if d else 0.0, "ref.spark_s": s,
            "ref.duck_s": d, "ref.aligned": float(len(duck))}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; expected one of {workloads}")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    jvm_args = build()
    # the run's deadline starts once the build is done
    t_start = time.monotonic()
    if a.workload == "analytics":
        data = dataset("analytics", ANALYTICS_SF, a.seed, gen.TABLES)
    else:
        data = dataset("cdc", CDC_SF, a.seed, ["orders", "customer"])

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = ["java", f"-Djava.io.tmpdir={tmp}", *jvm_args, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", data, "--work", work, "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    budget = DEADLINE_S - (time.monotonic() - t_start)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                env=env)
        try:
            rc = proc.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"runner did not finish within {DEADLINE_S} s, see {log}", 1)
    if rc != 0 or not os.path.exists(out):
        fail(f"runner exited with code {rc}, see {log}", 1)
    with open(out) as f:
        r = json.load(f)
    if a.workload == "analytics":
        con = duckdb(data)
        r["failures"] += oracle_check(con, os.path.join(work, "results"),
                                      r["extra"]["oracle_sql"])
        r["failed"] = len(r["failures"])
    shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump(r, f)
    failed = int(r["failed"])
    attempted = max(1, int(r["attempted"]))
    for msg in r["failures"]:
        print(f"FAILED {msg}")
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{attempted} ops, {failed} failed")
    for d in r["detail"]:
        print(f"  {d['name']:<18} {d['value']:.4f} {d['unit']}")
    print(f"  {'error_rate':<18} {failed / attempted:.4f} ratio")
    print(f"  {'setup_s':<18} {r['e2e']['setup_s']:.4f} s")

    if a.trace:
        layers = dict(r["layers"])
        if a.workload == "analytics":
            layers.update(duckdb_reference(con, r["extra"]["oracle_sql"],
                                           r["extra"]["untraced_query_s"]))
        metrics = {}
        for m in spec["per_layer"]:
            name = m["name"]
            maps_to, most = LAYERS[name]
            if name in layers:
                value = layers[name]
            elif most not in (a.workload, "both"):
                value = 0.0   # this workload does not call into the layer
            else:
                fail(f"per-layer metric {name} missing", 1)
            metrics[name] = {"value": value, "unit": m["unit"]}
            print(f"  layer {name:<26} {value:.4f} {m['unit']:<6} -> {maps_to} "
                  f"(most work: {most})")
        print(f"  tracing overhead: {layers['trace.overhead'] * 100:+.1f}% "
              "on the traced half's median op vs the untraced half's")
    else:
        metrics = {m["name"]: {"value": r["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
