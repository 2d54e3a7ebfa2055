#!/usr/bin/env python3
"""Maintenance commands of the benchmark (run from the repository root).

    python3 perfbench/tools.py classify [--seed 1]
        Calls every registry query twice on generated tables with a fresh
        private tmpdir and writes perfbench/registry_split.json: per query
        its module, latencies, result size, files written by the warm call
        (the observed read/write split) and whether both calls agreed.

    python3 perfbench/tools.py select
        Draws the registry_mix sample in perfbench/workloads.json from
        perfbench/registry_split.json (rule in the docstring of select).

    python3 perfbench/tools.py digests --seeds 0-127
        Records the per-seed digest of the four clearmap window frames
        into perfbench/clearmap_digests.json.

    python3 perfbench/tools.py steady --workload W --seeds 1-10 [--label L]
        Runs the benchmark once per seed and reports, per end-to-end
        metric, the median and the interquartile range as a share of
        the median; with --label, saves them under perfbench/results/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

RULE = ("a query writes if its second call, with the fixtures of its first call "
        "in place, creates or changes files under the private java.io.tmpdir; "
        "the other queries read")


def jvm(args, before=None):
    classpath = run.build()
    run_dir = run.fresh_dir(os.path.join(run.HERE, ".run", "tools"))
    if before:
        before(run_dir)
    run.JVM_TIMEOUT_S = 3600
    run.run_jvm(run.java_cmd(classpath, run_dir, args), run_dir)
    return run_dir


def classify(a):
    import gen_tables
    run_dir = jvm(["--mode", "classify"],
                  before=lambda d: gen_tables.write(os.path.join(d, "data_1"), a.seed))
    with open(os.path.join(run_dir, "classify.json")) as f:
        rec = json.load(f)
    for r in rec.values():
        r["writes"] = r["warm_files"] > 0
    out = {"rule": RULE, "seed": a.seed, "queries": dict(sorted(rec.items()))}
    with open(os.path.join(run.HERE, "registry_split.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    n_w = sum(r["writes"] for r in rec.values())
    print(f"{len(rec)} queries: {n_w} write, {len(rec) - n_w} read")


def select(_):
    """Draws the registry_mix sample from registry_split.json: for the three
    modules with the most readers, the lower-quartile reader by warm
    latency; for the two modules with the most writers, the fastest writer.
    Candidates have an oracle twin, give the same result on both calls
    and return at most 20,000 rows."""
    with open(os.path.join(run.HERE, "registry_split.json")) as f:
        rec = json.load(f)["queries"]
    readers, writers = {}, {}
    for r in rec.values():
        readers[r["module"]] = readers.get(r["module"], 0) + (not r["writes"])
        writers[r["module"]] = writers.get(r["module"], 0) + r["writes"]

    def top(count, n):
        return sorted(count, key=lambda m: (-count[m], m))[:n]

    def candidates(module, writes):
        return sorted((r["warm_s"], q) for q, r in rec.items()
                      if r["module"] == module and r["writes"] == writes and
                      r["has_oracle"] and r["repeatable"] and 0 <= r["rows"] <= 20000)

    def lower_quartile(c):
        return c[(len(c) - 1) // 4][1]

    ops = ([lower_quartile(candidates(m, False)) for m in top(readers, 3)] +
           [candidates(m, True)[0][1] for m in top(writers, 2)])
    path = os.path.join(run.HERE, "workloads.json")
    with open(path) as f:
        spec = json.load(f)
    spec["workloads"]["registry_mix"]["ops"] = ops
    with open(path, "w") as f:
        json.dump(spec, f, indent=1)
    print("registry_mix:", ops)


def digests(a):
    run_dir = jvm(["--mode", "digests", "--seeds", a.seeds])
    with open(os.path.join(run_dir, "digests.json")) as f:
        got = json.load(f)
    path = os.path.join(run.HERE, "clearmap_digests.json")
    old = json.load(open(path)) if os.path.exists(path) else {}
    old.update(got)
    with open(path, "w") as f:
        json.dump(dict(sorted(old.items(), key=lambda kv: int(kv[0]))), f, indent=0)
    print(f"recorded {len(got)} digests")


def steady(a):
    lo, hi = map(int, a.seeds.split("-"))
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    values, runs = {}, []
    for seed in range(lo, hi + 1):
        p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, **last})
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: correct={last['correct']} " +
              " ".join(f"{k}={v['value']:.4f}" for k, v in last["metrics"].items()),
              flush=True)
    summary = {}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        summary[k] = {"median": statistics.median(vs), "iqr_share": (q3 - q1) / statistics.median(vs)}
        print(f"{k:<14} median {summary[k]['median']:.4f}  spread {summary[k]['iqr_share']:.4f}")
    if a.label:
        os.makedirs(os.path.join(run.HERE, "results"), exist_ok=True)
        with open(os.path.join(run.HERE, "results", f"{a.label}_{a.workload}.json"), "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds, "seconds": seconds,
                       "summary": summary, "runs": runs}, f, indent=1)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("classify")
    c.add_argument("--seed", type=int, default=1)
    sub.add_parser("select")
    d = sub.add_parser("digests")
    d.add_argument("--seeds", required=True)
    s = sub.add_parser("steady")
    s.add_argument("--workload", required=True, choices=run.WORKLOADS)
    s.add_argument("--seeds", default="1-10")
    s.add_argument("--label", default="")
    a = ap.parse_args()
    {"classify": classify, "select": select, "digests": digests,
     "steady": steady}[a.cmd](a)


if __name__ == "__main__":
    main()
