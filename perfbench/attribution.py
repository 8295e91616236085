#!/usr/bin/env python3
"""Attribution table: where each workload's time goes, layer by layer.

    python3 perfbench/attribution.py [--seed 1] > perfbench/ATTRIBUTION.md

For every workload it makes one untraced and one traced run with the same
seed, each as long as BENCHMARK.json's `run_seconds`, and prints, as
markdown, the construct / plan / execute split per catalog family, the
micro-batch phases per streaming query, the sink and ingress counters,
and the tracing overhead (traced minus untraced end-to-end figures).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402


def bench(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit("run failed: %s trace=%d" % (workload, trace))
    return json.loads(lines[-1]), lines[:-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    print("# Attribution, seed %d, %d s runs, Spark local[%d] on %d cores\n"
          % (args.seed, seconds, run.CPUS, os.cpu_count()))
    for w in run.WORKLOADS:
        plain, notes = bench(w, args.seed, seconds, 0)
        traced, _ = bench(w, args.seed, seconds, 1)
        e2e, m = plain["metrics"], {k: v["value"] for k, v in traced["metrics"].items()}
        print("## %s\n" % w)
        for n in notes:
            print("    " + n)
        print("\ncorrect: %s, attempted %d, failed %d\n" % (plain["correct"], plain["attempted"],
                                                         plain["failed"]))
        print("| end-to-end | untraced | traced | overhead |\n|---|---|---|---|")
        # latency is not an end-to-end metric, but its tracing overhead is shown too
        untraced = {k: e2e[k]["value"] for k, _ in run.END_TO_END}
        untraced.update((n.split()[0], float(n.split()[1])) for n in notes
                        if n.startswith("latency_ms "))
        for k, a in untraced.items():
            b = m["trace." + k]
            print("| %s | %.4g | %.4g | %+.1f%% |" % (k, a, b, 100.0 * (b - a) / a if a else 0))
        if w == "catalog":
            print("\n| family | construct s | execute s |\n|---|---|---|")
            for f in layers.FAMILIES:
                print("| %s | %.3f | %.3f |" % (f, m["queries.%s.construct_s" % f],
                                                m["queries.%s.execute_s" % f]))
            print("| **all** | %.3f (plan %.3f) | %.3f |" % (
                m["queries.construct_s"], m["queries.plan_s"], m["queries.execute_s"]))
            print("\n| layer metric | value |\n|---|---|")
            for k in ["queries.construct_jobs", "queries.execute_tasks", "queries.shuffle_write_mb",
                      "queries.spill_mb", "catalog.batch_total_s", "catalog.batch_geomean_s",
                      "catalog.stream_total_s", "catalog.stream_geomean_s"] + \
                     [k for k, _ in layers.PER_LAYER if k.startswith(("runner.", "calib."))]:
                print("| %s | %.4g |" % (k, m[k]))
        else:
            cols = layers.PHASES + ["other"]
            print("\n| query (mean ms per batch) | %s | batches | rows/batch | busy | "
                  "state commit ms |" % " | ".join(cols))
            print("|---" * (len(cols) + 5) + "|")
            for q in layers.QUERIES:
                p = "streaming.%s." % q
                print("| %s | %s | %d | %.1f | %.2f | %.0f |" % (
                    q, " | ".join("%.0f" % m[p + c + "_ms"] for c in cols), m[p + "batches"],
                    m[p + "rows_per_batch"], m[p + "busy_frac"], m[p + "state_commit_ms"]))
            print("\n| layer metric | value |\n|---|---|")
            for k, _ in layers.PER_LAYER:
                if k.startswith(("pipeline.", "sink.", "ingress.", "calib.")):
                    print("| %s | %.4g |" % (k, m[k]))
        print()


if __name__ == "__main__":
    main()
