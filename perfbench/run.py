#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload pipeline_steady --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
JVM harness into `.bench_build/`; each run works in its own directory
under `.bench_work/` and removes it at the end.

Workloads (see BENCHMARK.json for why each was chosen):
  pipeline_steady  open loop: CDC snapshot backlog, then order/shipment
                   pairs at a fixed rate through streaming.Pipeline
  catalog          closed loop, one client: a fixed stratified set of
                   SparkEntry.queries rows, fully materialized

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics derived from the traced run.
Lines before it give each percentile with its sample count.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from stats import geomean, percentile, summary  # noqa: E402

ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
# Spark cores: every core, at most 4, as the repository's own harnesses use
CPUS = max(1, min(4, os.cpu_count() or 1))
# set-ups per run, of which the median is reported; the first is always
# the slowest (a cold JVM), and a session build costs far less than a
# pipeline start
SETUP_REPS = {"pipeline_steady": 3, "catalog": 5}
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# cpu_ms: CPU time of the program's threads per operation. Pipeline: over
# the steady phase and its drain, per steady document delivered; catalog,
# geometric mean over rows of each row's median per execution.
# latency_ms (pipeline, median freshness of a sink document; catalog,
# geometric mean over rows of each row's median full-result latency) is
# computed too, but it is not an end-to-end metric: on a shared 4-core
# host its spread over ten runs reached 0.25-0.46, beyond the 0.25 bound
# of the timing metrics (perfbench/README.md, Steadiness). A traced run
# reports it as trace.latency_ms, and every run prints it.
END_TO_END = [("setup_s", "s"), ("cpu_ms", "ms"), ("heap_live_mb", "MB")]
WORKLOADS = ["pipeline_steady", "catalog"]


def jvm(mode, conf, work):
    """Run the JVM harness in `mode` with `conf`; its log goes to work/jvm.log."""
    conf_path = os.path.join(work, "conf")
    with open(conf_path, "w") as f:
        for k, v in conf.items():
            f.write("%s=%s\n" % (k, v))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", build.classpath(), "perfbench.PerfBench", mode, conf_path])
    with open(os.path.join(work, "jvm.log"), "ab") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: JVM harness timed out (%s)" % mode)
    if rc != 0:
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: JVM harness failed (%s, exit %d)" % (mode, rc))


def read_tsv(work, name):
    path = os.path.join(work, name)
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if line:
                out.append([None if x == "\\N" else x.replace("\\t", "\t").replace("\\n", "\n")
                            .replace("\\\\", "\\") for x in line.split("\t")])
    return out


def describe(sm):
    """A percentile summary with its sample count, for the log lines."""
    tail = ("p%g=%.1f ms" % (sm["tail_q"], sm["tail"]) if sm["tail_q"]
            else "no tail percentile with >= 10 samples beyond it")
    return "n=%d p50=%.1f ms, %s" % (sm["n"], sm["p50"], tail)


def scalars(work):
    return {r[0]: r[1] for r in read_tsv(work, "scalars.tsv")}


# ---------------------------------------------------------------- pipeline

def run_pipeline(args, work):
    g = gen.generate(args.workload, args.seed, args.seconds)
    paths = {}
    for phase in ("backlog", "steady"):
        paths[phase] = os.path.join(work, phase + ".tsv")
        gen.write_schedule(paths[phase], g[phase])
    jvm("pipeline", {
        "work": work, "cpus": CPUS, "trace": args.trace, "fixtures": FIXTURES,
        "backlog_schedule": paths["backlog"],
        "steady_schedule": paths["steady"], "setup_reps": SETUP_REPS[args.workload],
        "drain_timeout_s": 60, "run_id": "r%d" % args.seed}, work)

    sc = scalars(work)
    phases = {r[0]: (float(r[1]), float(r[2])) for r in read_tsv(work, "phases.tsv")}
    # generator log: topic, offset, key, due, produced -> schedule records
    produced = {}
    for topic, off, key, due, at in read_tsv(work, "generator.tsv"):
        produced.setdefault(topic, []).append((int(off), key, float(due), float(at)))
    for v in produced.values():
        v.sort()
    by_key = {t: {k: (o, d, a) for o, k, d, a in v} for t, v in produced.items()}
    docs = {r[0]: dict(first=float(r[2]), json=r[3]) for r in read_tsv(work, "endpoint.tsv")}

    # ---- correctness: the sink's final documents against the generator's truth
    version_at = {}  # (customer id, name, age) -> produced time of that version
    cust_recs = produced.get("customers", [])
    sched_cust = [r for r in g["backlog"] + g["steady"] if r[0] == "customers"]
    for (off, key, due, at), rec in zip(cust_recs, sched_cust):
        if key == rec[1]:
            after = json.loads(rec[2])["after"]
            version_at.setdefault((key, after["name"], after["age"]), at)
    problems = []  # (document id, what is wrong)
    for oid, want in g["orders"].items():
        d = docs.get(oid)
        if d is None:
            problems.append((oid, "missing document"))
            continue
        got = json.loads(d["json"])
        for k in ("order_id", "shipment_id", "customer_id", "price", "currency", "origin"):
            if got.get(k) != want[k]:
                problems.append((oid, "%s=%r, want %r" % (k, got.get(k), want[k])))
        ship = by_key.get("shipments", {}).get(oid)
        if ship is None or got.get("__s_offset") != ship[0]:
            problems.append((oid, "__s_offset=%r, want %r" % (got.get("__s_offset"),
                                                              ship and ship[0])))
        name, age = got.get("customer_name"), got.get("customer_age")
        if name is not None or age is not None:
            at = version_at.get((want["customer_id"], name, age))
            if at is None or at > d["first"]:
                problems.append((oid, "customer (%r, %r) is no version of %s produced before "
                                 "delivery" % (name, age, want["customer_id"])))
    extra = sorted(set(docs) - set(g["orders"]))
    problems += [(k, "unexpected document") for k in extra]
    # a query that died is a failed operation, even though the harness
    # restarted the pipeline from its checkpoints and the documents arrived
    restarts = read_tsv(work, "restarts.tsv")
    problems += [("restart %d" % i, "%s died at %.0f ms: %s" % (q, float(t), e))
                 for i, (t, q, e) in enumerate(restarts)]
    attempted = len(g["orders"]) + len(extra) + len(restarts)

    # ---- end-to-end metrics
    s0, s1 = phases["steady"]
    fresh = []
    for oid in g["orders"]:
        if oid.startswith("s") and oid in docs:  # steady-phase orders are s<i>
            o, s = by_key["orders"][oid], by_key["shipments"][oid]
            fresh.append(docs[oid]["first"] - max(o[1], s[1]))
    b0, b1 = phases["backlog"]
    backlog_n = len(g["backlog"])
    sm = summary(fresh)
    # capacity: rows the three queries processed per second of batch time
    # over the steady phase and its drain
    progress = [(float(t), json.loads(j)) for t, j in read_tsv(work, "progress.tsv")]
    steady = [b for b in layers.batches(progress, float(sc["epoch_ms_at_zero"]))
              if b["start"] >= s0]
    rows = sum(b["numInputRows"] for b in steady)
    busy_s = sum(b["durationMs"]["triggerExecution"] for b in steady) / 1000.0
    metrics = {
        "setup_s": float(sc["setup_s"]),
        "latency_ms": sm["p50"],
        "cpu_ms": float(sc["steady_cpu_ms"]) / max(1, len(fresh)),
        "heap_live_mb": float(sc["heap_live_mb"]),
    }
    notes = ["freshness (due -> endpoint) over steady documents: " + describe(sm),
             "snapshot backlog: %d records in %.2f s" % (backlog_n, (b1 - b0) / 1000.0),
             "steady capacity: %d rows in %.2f s of batch time over %d batches"
             % (rows, busy_s, len(steady)),
             "set-up runs (s): " + sc["setup_all_s"]]
    per_layer = None
    if args.trace:
        per_layer = layers.pipeline(progress, produced, phases, read_tsv(work, "bulk.tsv"),
                                    docs, read_tsv(work, "spans.tsv"), sc, fresh)
        per_layer["streaming.restarts"] = len(restarts)
        per_layer.update({"trace." + k: v for k, v in metrics.items()})
    return metrics, per_layer, attempted, len({k for k, _ in problems}), problems, notes


# ---------------------------------------------------------------- catalog

def family(name):
    head = name.split("_")[0]
    # the reference's single-letter operator ids (a2, j1, q3, ...) form one family
    if len(head) == 2 and head[0].isalpha() and head[1].isdigit():
        return "ops"
    return head


# A fixed stratified set: one SparkEntry.queries row per family, the
# family's cheapest in graft.Bench's per-query medians (bench_out.json,
# sf0.1), so that a warm-up pass and three timed passes fit one run. A row
# missing from the engine fails the run, so a renamed or removed row never
# silently changes the measured work.
CATALOG_ROWS = [
    "curate_dataset_split", "dedup_simhash", "mm_frame_sample", "pipeline_shipped_orders",
    "q_ksql_json_funcs", "s5_event_time", "sim_topk_native", "sketch_kmv_distinct",
    "src_json_roundtrip", "stream_token_budget", "text_char_entropy_native",
]
# timed executions per row, at the least, whatever the window
MIN_PASSES = 3


def run_catalog(args, work):
    rows = list(CATALOG_ROWS)
    random.Random("catalog:%d" % args.seed).shuffle(rows)
    jvm("catalog", {
        "work": work, "cpus": CPUS, "trace": args.trace, "fixtures": FIXTURES,
        "queries": ",".join(rows), "seconds": args.seconds, "min_passes": MIN_PASSES,
        "setup_reps": SETUP_REPS[args.workload], "run_id": "r%d" % args.seed}, work)
    sc = scalars(work)
    oracle_sql = {r[0]: r[1] for r in read_tsv(work, "oracle.tsv")}
    failures = [r[0] for r in read_tsv(work, "failures.tsv")]
    problems = [(n, "failed to run") for n in failures]
    for name in rows:
        if name in failures:
            continue
        if oracle_sql.get(name) is None:
            continue  # no oracle for this row
        err = oracle.check(FIXTURES, oracle_sql[name], os.path.join(work, "results", name))
        if err:
            problems.append((name, err))
    failed = {k for k, _ in problems}

    execs = [(r[0], int(r[1]), float(r[2]), float(r[3]), float(r[4]), float(r[5]))
             for r in read_tsv(work, "rows.tsv")]
    timed = [e for e in execs if e[1] > 0]
    lat = [c + p + x for _, _, c, p, x, _ in timed]
    sm = summary(lat)
    # each row counts once, through its median over the passes, so the
    # figures do not depend on where in the seeded order the window ended
    per_row, cpu_row = {}, {}
    for n, _, c, p, x, cpu in timed:
        per_row.setdefault(n, []).append((c + p + x) / 1000.0)
        cpu_row.setdefault(n, []).append(cpu)
    med = {n: percentile(v, 50) for n, v in per_row.items()}
    metrics = {
        "setup_s": float(sc["setup_s"]),
        "latency_ms": 1000.0 * geomean(list(med.values())),
        "cpu_ms": geomean([percentile(v, 50) for v in cpu_row.values()]),
        "heap_live_mb": float(sc["heap_live_mb"]),
    }
    batch = [v for n, v in med.items() if family(n) != "stream"]
    stream = [v for n, v in med.items() if family(n) == "stream"]
    notes = ["full-result latency per execution over %s passes: %s"
             % (sc.get("passes"), describe(sm)),
             "batch rows: %d, total %.3f s, geomean %.4f s; stream rows: %d, total %.3f s, "
             "geomean %.4f s" % (len(batch), sum(batch), geomean(batch) if batch else 0,
                                 len(stream), sum(stream), geomean(stream) if stream else 0),
             "set-up runs (s): %s; warm-up pass %.1f s; timed %.1f s"
             % (sc["setup_all_s"], float(sc["warmup_s"]), float(sc["measured_s"])),
             "per-row median s: " + ", ".join("%s %.3f" % kv for kv in sorted(med.items()))]
    per_layer = None
    if args.trace:
        per_layer = layers.catalog(execs, read_tsv(work, "tasks.tsv"),
                                   read_tsv(work, "runner.tsv"), read_tsv(work, "spans.tsv"),
                                   sc, family)
        per_layer.update({"trace." + k: v for k, v in metrics.items()})
    return metrics, per_layer, len(rows), len(failed), problems, notes


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build.build()
    work = os.path.join(ROOT, ".bench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.time()
        if args.workload == "catalog":
            res = run_catalog(args, work)
        else:
            res = run_pipeline(args, work)
        metrics, per_layer, attempted, failed, problems, notes = res
        for n in notes:
            print(n)
        print("latency_ms %.3f (not an end-to-end metric; see END_TO_END)" % metrics["latency_ms"])
        for k, p in problems[:50]:
            print("FAIL %s: %s" % (k, p))
        print("wall %.1f s" % (time.time() - t))
        units = dict(END_TO_END)
        if args.trace:
            names = layers.PER_LAYER
            out = {k: {"value": float(per_layer.get(k, 0.0)), "unit": u} for k, u in names}
        else:
            out = {k: {"value": float(metrics[k]), "unit": units[k]} for k, _ in END_TO_END}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
