#!/usr/bin/env python3
"""ClearMap engine benchmark: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload clearmap --seed 1 --seconds 12 --trace 0

Builds the engine and the harness from source with sbt when the sources
changed since the last build, runs the JVM harness (perfbench.Main) with a
private, freshly wiped java.io.tmpdir and Spark local dir, checks every
operation's output, and prints the metrics. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("clearmap", "registry_mix")
SETUPS = 2  # set-up repetitions of an untraced run; setup_s is their median
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ORACLE_TIMEOUT_S = 60
# fixed heap and generation sizes, so that peak RSS follows the program's
# memory use, not the collector's adaptive resizing; survivor spaces large
# enough that one operation's short-lived data dies young instead of being
# promoted (old-generation growth then varies less from run to run)
JVM_FLAGS = ["-Xmx3g", "-Xms3g", "-Xmn1g", "-XX:SurvivorRatio=3", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy", "-XX:MetaspaceSize=256m", "-XX:-UsePerfData"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

END_TO_END = [("setup_s", "s"), ("op_gm_s", "s"), ("ops_per_s", "1/s"),
              ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"), ("spark.driver_only_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.task_run_s", "s"), ("spark.gc_s", "s"),
    ("spark.slot_util", "ratio"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ("queries.eager_jobs", "count"), ("queries.construct_s", "s"),
    ("plans.plan_s", "s"), ("queries.exec_s", "s"),
    ("io.files_written", "count"), ("io.bytes_written", "bytes"),
    ("cache.persisted_after_release", "count"), ("trace.overhead_s", "s"),
]
CLEARMAP_LAYERS = ["pipeline.base_s", "geo.reconcile_shape_s", "ops.windows_s",
                   "io.geojson_write_s", "io.geojson_bytes", "pipeline.side_csv_s"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine (the root sbt build) and the harness; returns
    the runtime classpath. Skipped when no source changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found: {need} (run from the repository root)", 2)
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g") +
                       f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    log("perfbench: building engine and harness with sbt ...")
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}", 2)
    out_lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(os.path.join(BUILD, "sbt.log"), "a") as f:
        f.write(p.stdout)
    if p.returncode != 0 or not out_lines or ".jar" not in out_lines[-1]:
        fail(f"build failed (see {os.path.join(BUILD, 'sbt.log')})", 2)
    classpath = out_lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return classpath


def java_cmd(classpath, run_dir, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + JVM_FLAGS + opens +
            [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, "perfbench.Main", "--run-dir", run_dir] + args)


def run_jvm(cmd, run_dir):
    with open(os.path.join(run_dir, "jvm.log"), "w") as errf:
        # few malloc arenas, so that native memory (and so peak RSS) does
        # not depend on which threads happened to allocate
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=errf, stderr=errf,
                             stdin=subprocess.DEVNULL,
                             env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S} s")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited {rc}:\n{tail}")


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


# ---------------------------------------------------------------- checks

def oracle_failures(report):
    """Compares each registry operation's set-up result with its DuckDB
    oracle twin (same column-sorted, row-sorted comparison as the
    engine's correctness gate). Returns {query: reason}; an oracle that
    runs longer than ORACLE_TIMEOUT_S is interrupted and counts as a failure."""
    import threading
    import duckdb
    import numpy as np
    import pandas as pd

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(report['results_dir'], 'duckdb_tmp')}'")
    data = report["data_dir"]
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        # Spark writes session-zone (UTC) timestamps as UTC instants,
        # DuckDB returns them naive: compare the same instants
        for c in df.columns:
            if isinstance(df[c].dtype, pd.DatetimeTZDtype):
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    bad = {}
    for name, sql in sorted(report["oracle"].items()):
        path = os.path.join(report["results_dir"], name)
        if not os.path.isdir(path):
            bad[name] = "no saved result"
            continue
        try:
            parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
            spark_df = pd.concat([pd.read_parquet(os.path.join(path, f))
                                  for f in parts], ignore_index=True)
            timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
            timer.start()
            try:
                duck_df = con.execute(sql).fetchdf()
            finally:
                timer.cancel()
            s, d = canon(spark_df), canon(duck_df)
        except Exception as e:  # oracle or comparison could not run
            bad[name] = f"oracle error: {type(e).__name__}: {str(e)[:200]}"
            continue
        if list(s.columns) != list(d.columns):
            bad[name] = f"columns {list(s.columns)} vs {list(d.columns)}"
            continue
        if len(s) != len(d):
            bad[name] = f"rows {len(s)} vs {len(d)}"
            continue
        for c in s.columns:
            a, b = s[c], d[c]
            try:
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    ok = np.allclose(a.astype(float), b.astype(float),
                                     rtol=0, atol=0, equal_nan=True)
                else:
                    ok = a.astype(str).equals(b.astype(str))
            except Exception:
                ok = False
            if not ok:
                bad[name] = f"value mismatch in column {c}"
                break
    return bad


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(args, report, failures):
    recs = report["records"]
    for r in recs:
        if r["ok"] and r["op"] in failures:
            r["ok"], r["error"] = False, failures[r["op"]]
    attempted = len(recs)
    failed = sum(1 for r in recs if not r["ok"])
    problems = sorted(set(report["setup_failures"]) |
                      {f"{r['op']}: {r['error']}" for r in recs if not r["ok"]} |
                      {f"{k}: {v}" for k, v in failures.items()
                       if not any(r["op"] == k for r in recs)})
    untraced = [r for r in recs if r["ok"] and not r["traced"]]
    traced = [r for r in recs if r["ok"] and r["traced"]]
    lat = [r["latency_s"] for r in untraced]
    # per-operation means: the workload's operations differ in latency by
    # up to 3x, so the median of the mixed samples falls between them, and
    # a single call is either fast or about 1.5x slower, so the median of
    # an operation's 3 or so calls jumps between the two
    by_op = {}
    for r in untraced:
        by_op.setdefault(r["op"], []).append(r["latency_s"])
    op_mean = [statistics.mean(v) for v in by_op.values()]
    e2e = {
        "setup_s": median(report["setup_s"]),
        "op_gm_s": (math.exp(statistics.mean(math.log(m) for m in op_mean))
                    if op_mean else 0.0),
        "ops_per_s": len(op_mean) / sum(op_mean) if op_mean else 0.0,
        "peak_rss_mb": report["peak_rss_mb"],
    }
    extra = {"error_rate": failed / attempted if attempted else 1.0,
             "op_p50_s": median(lat)}
    if args.workload == "clearmap" and lat:
        extra["rows_per_s"] = report["raw_rows"] * len(lat) / sum(lat)
    layers = {}
    if args.trace == 1:
        rows = report["layers"]
        okops = {i + 1 for i, r in enumerate(recs) if r["ok"]}
        rows = [r for r in rows if int(r["op"]) in okops] or rows
        keys = {k for r in rows for k in r}
        mean = {k: sum(r.get(k, 0.0) for r in rows) / len(rows) for k in keys} if rows else {}
        for name, _ in PER_LAYER:
            layers[name] = mean.get(name, 0.0)
        run_s = sum(r["spark.task_run_s"] for r in rows)
        wall = sum(r["latency_s"] for r in rows)
        cores = report["cores"]
        layers["spark.slot_util"] = run_s / (wall * cores) if wall else 0.0
        tl = [r["latency_s"] for r in traced]
        layers["trace.overhead_s"] = (statistics.mean(tl) - statistics.mean(lat)
                                      if tl and lat else 0.0)
        for k in CLEARMAP_LAYERS:
            if k in mean:
                extra[k] = mean[k]
        mods = sorted(k for k in keys if k.startswith("module:"))
        for k in mods:
            vals = [r[k] for r in rows if k in r]
            extra[f"queries.{k[len('module:'):]}.op_s"] = statistics.mean(vals)
        extra["trace.overhead_share"] = (layers["trace.overhead_s"] / statistics.mean(lat)
                                         if lat else 0.0)
    return attempted, failed, problems, e2e, extra, layers


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    run_dir = fresh_dir(os.path.join(HERE, ".run", args.workload))
    setups = SETUPS if args.trace == 0 else 1
    gen_s = [0.0] * setups
    if args.workload == "registry_mix":
        # one table set per set-up; its generation is part of that set-up
        import gen_tables
        for k in range(setups):
            t0 = time.time()
            gen_tables.write(os.path.join(run_dir, f"data_{k + 1}"), args.seed)
            gen_s[k] = time.time() - t0
    jargs = ["--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--setups", str(setups)]
    ops = spec["workloads"][args.workload].get("ops", [])
    if ops:
        jargs += ["--ops", ",".join(ops)]
    run_jvm(java_cmd(classpath, run_dir, jargs), run_dir)
    with open(os.path.join(run_dir, "report.json")) as f:
        report = json.load(f)
    report["setup_s"] = [a + b for a, b in zip(report["setup_s"], gen_s)]
    for phases, g in zip(report["setup_phases"], gen_s):
        phases["generate_s"] += g

    failures = {}
    if report["oracle"]:
        failures.update(oracle_failures(report))
    if args.workload == "clearmap":
        with open(os.path.join(HERE, "clearmap_digests.json")) as f:
            recorded = json.load(f)
        want = recorded.get(str(args.seed))
        if want is None:
            log(f"perfbench: no recorded digests for seed {args.seed}; outputs "
                "checked against ClearMapPipeline.run and the file checks only")
        elif want["outputs"] != report["output_digest"]:
            failures["clearmap_batch"] = "output digest differs from the recorded digest"
        elif report["frame_digest"] and want["frames"] != report["frame_digest"]:
            failures["clearmap_batch"] = "window-frame digest differs from the recorded digest"
    attempted, failed, problems, e2e, extra, layers = summarize(args, report, failures)

    print(f"workload {args.workload}  seed {args.seed}  nproc {report['cores']}  "
          f"load avg {report['load_avg_start']:.2f} -> {report['load_avg_end']:.2f} "
          f"(context only)")
    units = dict(END_TO_END + PER_LAYER)
    for k, v in e2e.items():
        print(f"  {k:<34} {v:14.6f} {units[k]}")
    print(f"  {'error_rate':<34} {extra.pop('error_rate'):14.6f} ratio "
          f"({failed} of {attempted} operations)")
    for k, v in extra.items():
        print(f"  {k:<34} {v:14.6f}")
    for k, v in layers.items():
        print(f"  {k:<34} {v:14.6f} {units[k]}")
    for p in problems:
        print(f"  FAILED {p}")

    side = os.path.join(HERE, ".out")
    os.makedirs(side, exist_ok=True)
    with open(os.path.join(side, f"{args.workload}_seed{args.seed}_trace{args.trace}.json"),
              "w") as f:
        json.dump({"end_to_end": e2e, "extra": extra, "layers": layers,
                   "problems": problems, "setup_s": report["setup_s"],
                   "setup_phases": report["setup_phases"],
                   "records": report["records"], "layer_rows": report["layers"],
                   "spans": report["spans"]}, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    chosen = layers if args.trace == 1 else e2e
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
