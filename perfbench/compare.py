#!/usr/bin/env python3
"""Parent-vs-change comparison by the benchmark's acceptance rule.

    python3 perfbench/compare.py --parent ../parent-checkout --change . [--out runs.jsonl]
    python3 perfbench/compare.py --runs runs.jsonl      # re-judge recorded runs

Runs ten pairs on every workload of BENCHMARK.json, each run as long as
its `run_seconds`, alternating which side goes first,
with the same seed on both sides of a pair, each side using its own
checkout's benchmark (the two `perfbench/` trees must be identical).
Per workload row and end-to-end metric it reports each side's median and
quartiles and one verdict:

  better      the change wins >= 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              inter-quartile distance; void if more operations failed
              than at the parent
  worse       the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json
  unresolved  either side's spread (IQR / median) exceeds the bound, and
              not every change run beats every parent run
  same        none of the above
  unbounded   latency_ms, which has no bound, when it is not better
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import quartiles, spread  # noqa: E402


def tree_hash(root):
    h = hashlib.sha256()
    base = os.path.join(root, "perfbench")
    for d, dirs, files in sorted(os.walk(base)):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, base).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


PAIRS = 10


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True, timeout=1000)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit("run failed in %s: %s seed %d" % (checkout, workload, seed))
    res = json.loads(lines[-1])
    for line in lines:
        if line.startswith("latency_ms "):
            res["metrics"]["latency_ms"] = {"value": float(line.split()[1]), "unit": "ms"}
    return res


# Latency is printed by every run but has no bound (see run.END_TO_END): the
# pairs rule can still show a gain, but no regression verdict applies.
LATENCY = {"name": "latency_ms", "better": "lower", "bound": None}


def judge(runs, spec):
    """runs: [{workload, pair, side, result}] -> report rows."""
    rows = []
    failed = {}
    for r in runs:
        side = failed.setdefault(r["workload"], {"parent": 0, "change": 0})
        side[r["side"]] += r["result"]["failed"]
    for w in sorted(failed):
        for m in spec["end_to_end"] + [LATENCY]:
            name, bound, lower = m["name"], m.get("bound", 0.25), m["better"] == "lower"
            pairs = {}
            for r in runs:
                if r["workload"] == w and name in r["result"]["metrics"]:
                    pairs.setdefault(r["pair"], {})[r["side"]] = \
                        r["result"]["metrics"][name]["value"]
            full = [p for p in pairs.values() if "parent" in p and "change" in p]
            if not full:
                continue
            par = [p["parent"] for p in full]
            chg = [p["change"] for p in full]
            pq1, pmed, pq3 = quartiles(par)
            cq1, cmed, cq3 = quartiles(chg)
            gain = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
            wins = sum(1 for p in full if gain(p["change"], p["parent"]))
            worse_by = ((cmed - pmed) if lower else (pmed - cmed)) / pmed if pmed else 0.0
            spread_p, spread_c = spread(par), spread(chg)
            all_better = all(gain(c, p) for c in chg for p in par)
            if wins >= 0.9 * len(full) and abs(cmed - pmed) > (pq3 - pq1) and gain(cmed, pmed):
                # a gain does not count when more operations fail than at the parent
                verdict = "better" if failed[w]["change"] <= failed[w]["parent"] else \
                    "void (more failures)"
            elif bound is None:
                verdict = "unbounded"
            elif worse_by > bound:
                verdict = "worse"
            elif max(spread_p, spread_c) > bound and not all_better:
                verdict = "unresolved"
            else:
                verdict = "same"
            rows.append(dict(workload=w, metric=name, pairs=len(full), wins=wins,
                             parent=(pq1, pmed, pq3), change=(cq1, cmed, cq3),
                             spread=(spread_p, spread_c), verdict=verdict))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--out", help="append every run as a JSON line here")
    ap.add_argument("--runs", help="judge recorded runs instead of running")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)

    if args.runs:
        with open(args.runs) as f:
            runs = [json.loads(l) for l in f if l.strip()]
    else:
        if not (args.parent and args.change):
            ap.error("--parent and --change are required unless --runs is given")
        if tree_hash(args.parent) != tree_hash(args.change):
            raise SystemExit("the two checkouts run different benchmark code")
        runs = []
        for w in [w["name"] for w in spec["workloads"]]:
            for i in range(PAIRS):
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                for side in order:
                    res = run_once(getattr(args, side), w, 1000 + i, spec["run_seconds"])
                    rec = dict(workload=w, pair=i, side=side, result=res)
                    runs.append(rec)
                    if args.out:
                        with open(args.out, "a") as f:
                            f.write(json.dumps(rec) + "\n")

    print("%-16s %-14s %5s %-28s %-28s %s" % ("workload", "metric", "wins", "parent q1/med/q3",
                                              "change q1/med/q3", "verdict"))
    for r in judge(runs, spec):
        fmt = lambda t: "%.4g/%.4g/%.4g" % t  # noqa: E731
        print("%-16s %-14s %2d/%-2d %-28s %-28s %s" % (
            r["workload"], r["metric"], r["wins"], r["pairs"], fmt(r["parent"]),
            fmt(r["change"]), r["verdict"]))


if __name__ == "__main__":
    main()
