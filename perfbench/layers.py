"""Per-layer metrics of a traced run, derived from the raw records the JVM
harness writes: streaming progress events, generator and endpoint logs,
job/task counters and spans. Every name in PER_LAYER is reported on every
workload; a layer a workload does not exercise reads 0."""
import datetime
import json

from stats import geomean, percentile, self_times

QUERIES = ["customers_by_key", "enriched_orders", "shipped_orders"]
TOPIC_OF = {"customers_by_key": "customers", "enriched_orders": "orders",
            "shipped_orders": "shipments"}
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
FAMILIES = ["curate", "dedup", "mm", "ops", "pipeline", "q", "sim", "sketch", "src",
            "stream", "text"]

PER_LAYER = (
    [("streaming.%s.%s_ms" % (q, ph), "ms") for q in QUERIES for ph in PHASES + ["other"]]
    + [("streaming.%s.%s" % (q, m), u) for q in QUERIES for m, u in
       [("batches", "count"), ("rows_per_batch", "rows"), ("busy_frac", "fraction"),
        ("lag_records_p50", "records"), ("state_rows", "rows"), ("state_commit_ms", "ms")]]
    + [("streaming.restarts", "count")]
    + [("pipeline.table_freshness_p50_ms", "ms"), ("pipeline.table_freshness_p95_ms", "ms"),
       ("pipeline.freshness_p95_ms", "ms"), ("pipeline.snapshot_eps", "records/s")]
    + [("sink.bulk_calls", "count"), ("sink.docs", "count"), ("sink.docs_per_key", "ratio"),
       ("sink.bulk_ms", "ms")]
    + [("ingress.records", "count"), ("ingress.produce_ms", "ms"),
       ("ingress.generator_late_p99_ms", "ms")]
    + [("queries.%s" % m, u) for m, u in
       [("construct_s", "s"), ("construct_jobs", "count"), ("plan_s", "s"), ("execute_s", "s"),
        ("execute_tasks", "count"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]]
    + [("queries.%s.%s" % (f, m), "s") for f in FAMILIES for m in ("construct_s", "execute_s")]
    + [("catalog.batch_total_s", "s"), ("catalog.batch_geomean_s", "s"),
       ("catalog.stream_total_s", "s"), ("catalog.stream_geomean_s", "s")]
    + [("runner.%s" % m, u) for m, u in
       [("microbatch_s", "s"), ("queryPlanning_s", "s"), ("addBatch_s", "s"),
        ("walCommit_s", "s"), ("state_commit_s", "s"), ("batches", "count"),
        ("nodata_batches", "count"), ("overhead_s", "s")]]
    + [("calib.q1_s", "s"), ("calib.cpu_s", "s")]
    + [("trace.setup_s", "s"), ("trace.latency_ms", "ms"), ("trace.cpu_ms", "ms"),
       ("trace.heap_live_mb", "MB")]
)


def _epoch_ms(ts):
    dt = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def batches(events, zero):
    """Progress events of executed micro-batches (idle heartbeats dropped),
    each with its start in benchmark-clock ms."""
    out = []
    for _, p in events:
        if "addBatch" not in p.get("durationMs", {}):
            continue
        out.append(dict(p, start=_epoch_ms(p["timestamp"]) - zero))
    return out


def _batch_spans(batches, parent_of, first_id):
    """Spans for each micro-batch and its phases, laid end to end in the
    order Spark runs them."""
    spans, nid = [], first_id
    for b in batches:
        d = b["durationMs"]
        bid = nid
        nid += 1
        start = b["start"]
        spans.append(dict(id=bid, name="batch:" + (b.get("name") or ""), start=start,
                          end=start + d.get("triggerExecution", 0), parent=parent_of(b)))
        t = start
        for ph in PHASES:
            if ph in d:
                spans.append(dict(id=nid, name=ph, start=t, end=t + d[ph], parent=bid))
                nid += 1
                t += d[ph]
    return spans


def _read_spans(rows):
    return [dict(id=int(r[0]), name=r[1], start=float(r[2]), end=float(r[3]),
                 parent=int(r[4]), run=r[5]) for r in rows]


def pipeline(progress, produced, phases, bulk, docs, span_rows, sc, fresh):
    zero = float(sc["epoch_ms_at_zero"])
    b0 = phases["backlog"][0]
    d1 = phases["drain"][1]
    out = {}
    run_batches = [b for b in batches(progress, zero) if b["start"] >= b0]
    spans = _read_spans(span_rows)
    spans += _batch_spans(run_batches, lambda b: 0, 10 ** 9)
    selft = self_times(spans)
    for q in QUERIES:
        bs = [b for b in run_batches if b.get("name") == q]
        n = len(bs)
        out["streaming.%s.batches" % q] = n
        if not n:
            continue
        for ph in PHASES:
            out["streaming.%s.%s_ms" % (q, ph)] = sum(b["durationMs"].get(ph, 0) for b in bs) / n
        other = [selft[s["id"]] for s in spans if s["name"] == "batch:" + q]
        out["streaming.%s.other_ms" % q] = sum(other) / len(other)
        out["streaming.%s.rows_per_batch" % q] = sum(b["numInputRows"] for b in bs) / n
        out["streaming.%s.busy_frac" % q] = (
            sum(b["durationMs"]["triggerExecution"] for b in bs) / (d1 - b0))
        topic = produced.get(TOPIC_OF[q], [])
        lags = []
        for b in bs:
            src = [s for s in b["sources"] if "FakeKafka" in s.get("description", "")]
            if not src or not isinstance(src[0].get("startOffset"), int):
                continue
            sent = max([o + 1 for o, _, _, at in topic if at <= b["start"]] or [0])
            lags.append(max(0, sent - src[0]["startOffset"]))
        if lags:
            out["streaming.%s.lag_records_p50" % q] = percentile(lags, 50)
        ops = [s for b in bs for s in b.get("stateOperators", [])]
        if ops:
            out["streaming.%s.state_rows" % q] = bs[-1]["stateOperators"][0]["numRowsTotal"]
            out["streaming.%s.state_commit_ms" % q] = sum(s.get("commitTimeMs", 0) for s in ops) / n

    # table freshness: customer record due -> end of the customers_by_key
    # batch whose end offset covers it
    cbk = sorted((b["sources"][0]["endOffset"], b["start"] + b["durationMs"]["triggerExecution"])
                 for b in run_batches if b.get("name") == "customers_by_key"
                 and isinstance(b["sources"][0].get("endOffset"), int))
    s0 = phases["steady"][0]
    tf = []
    for off, _, due, _ in produced.get("customers", []):
        if due < s0:
            continue
        ends = [e for end_off, e in cbk if end_off > off]
        if ends:
            tf.append(min(ends) - due)
    if tf:
        out["pipeline.table_freshness_p50_ms"] = percentile(tf, 50)
        out["pipeline.table_freshness_p95_ms"] = percentile(tf, 95)
    out["pipeline.freshness_p95_ms"] = percentile(fresh, 95) if fresh else 0
    b = phases["backlog"]
    n_backlog = sum(1 for v in produced.values() for _, _, due, _ in v if due < s0)
    out["pipeline.snapshot_eps"] = n_backlog / ((b[1] - b[0]) / 1000.0)

    sent = sum(int(r[2]) for r in bulk)
    out["sink.bulk_calls"] = len(bulk)
    out["sink.docs"] = sent
    out["sink.docs_per_key"] = len(docs) / sent if sent else 0
    out["sink.bulk_ms"] = sum(float(r[1]) - float(r[0]) for r in bulk)

    recs = [r for v in produced.values() for r in v]
    out["ingress.records"] = len(recs)
    out["ingress.produce_ms"] = sum(s["end"] - s["start"] for s in spans
                                    if s["name"] == "ingress.tick")
    late = [at - due for _, _, due, at in recs if due >= s0]
    out["ingress.generator_late_p99_ms"] = percentile(late, 99) if late else 0
    out.update(_calib(sc))
    return out


def _calib(sc):
    return {k: float(sc[k]) for k in ("calib.q1_s", "calib.cpu_s") if k in sc}


def _per_pass_median(per_pass):
    return percentile(list(per_pass.values()), 50) if per_pass else 0


def catalog(execs, tasks, runner, span_rows, sc, family):
    zero = float(sc["epoch_ms_at_zero"])
    timed = [e for e in execs if e[1] > 0]
    out = {}
    # construct / plan / execute: per-row medians over passes, summed
    per_row = {}
    for n, _, c, p, x, _ in timed:
        per_row.setdefault(n, []).append((c, p, x))
    med = {n: [percentile([v[i] for v in vs], 50) / 1000.0 for i in range(3)]
           for n, vs in per_row.items()}
    for i, m in enumerate(("construct_s", "plan_s", "execute_s")):
        out["queries." + m] = sum(v[i] for v in med.values())
    for n, v in med.items():
        f = family(n)
        for i, m in ((0, "construct_s"), (2, "execute_s")):
            k = "queries.%s.%s" % (f, m)
            out[k] = out.get(k, 0) + v[i]
    tot = {n: sum(v) for n, v in med.items()}
    batch = [v for n, v in tot.items() if family(n) != "stream"]
    stream = [v for n, v in tot.items() if family(n) == "stream"]
    if batch:
        out["catalog.batch_total_s"] = sum(batch)
        out["catalog.batch_geomean_s"] = geomean(batch)
    if stream:
        out["catalog.stream_total_s"] = sum(stream)
        out["catalog.stream_geomean_s"] = geomean(stream)

    # job/task counters, tagged name|pass|phase: per-pass sums, median over passes
    def counter(phase, idx, scale=1.0):
        per_pass = {}
        for tag, *vals in tasks:
            parts = tag.split("|")
            if len(parts) == 3 and parts[2] == phase and int(parts[1]) > 0:
                per_pass[parts[1]] = per_pass.get(parts[1], 0) + int(vals[idx]) / scale
        return _per_pass_median(per_pass)
    out["queries.construct_jobs"] = counter("construct", 0)
    out["queries.execute_tasks"] = counter("execute", 1)
    mb = 1048576.0
    out["queries.shuffle_write_mb"] = sum(counter(ph, 2, mb) for ph in ("construct", "execute"))
    out["queries.spill_mb"] = sum(counter(ph, 3, mb) for ph in ("construct", "execute"))

    # the finite-stream runner, from the progress events of its queries
    spans = _read_spans(span_rows)
    ev_by_exec = {}
    for name, ps, _, j in runner:
        if int(ps) > 0:
            ev_by_exec.setdefault((name, ps), []).append((0.0, json.loads(j)))
    per_pass = {}
    all_batches = []
    for (name, ps), evs in ev_by_exec.items():
        bs = batches(evs, zero)
        all_batches += bs
        acc = per_pass.setdefault(ps, dict.fromkeys(
            ("microbatch_s", "queryPlanning_s", "addBatch_s", "walCommit_s", "state_commit_s",
             "batches", "nodata_batches"), 0.0))
        for b in bs:
            d = b["durationMs"]
            acc["microbatch_s"] += d.get("triggerExecution", 0) / 1000.0
            acc["queryPlanning_s"] += d.get("queryPlanning", 0) / 1000.0
            acc["addBatch_s"] += d.get("addBatch", 0) / 1000.0
            acc["walCommit_s"] += d.get("walCommit", 0) / 1000.0
            acc["state_commit_s"] += sum(s.get("commitTimeMs", 0)
                                         for s in b.get("stateOperators", [])) / 1000.0
            acc["batches"] += 1
            acc["nodata_batches"] += 1 if b.get("numInputRows", 0) == 0 else 0
    for m in ("microbatch_s", "queryPlanning_s", "addBatch_s", "walCommit_s", "state_commit_s",
              "batches", "nodata_batches"):
        out["runner." + m] = _per_pass_median({p: a[m] for p, a in per_pass.items()})

    # runner overhead: self time of the stream rows' construct spans once
    # their micro-batches are laid inside them
    cons = [s for s in spans if s["name"] == "construct"]

    def parent_of(b):
        for c in cons:
            if c["start"] <= b["start"] <= c["end"]:
                return c["id"]
        return 0
    spans += _batch_spans(all_batches, parent_of, 10 ** 9)
    selft = self_times(spans)
    rows = {s["id"]: s for s in spans if s["name"].startswith("row:")}
    over = {}
    for c in cons:
        row = rows.get(c["parent"])
        if row and family(row["name"][4:]) == "stream":
            # spans are in execution order, so index i is pass i
            over.setdefault(row["name"], []).append(selft[c["id"]] / 1000.0)
    if over:
        npass = min(len(v) for v in over.values())
        # pass 0 is the warm-up; the rest are timed
        per = [sum(v[i] for v in over.values()) for i in range(1, npass)]
        out["runner.overhead_s"] = percentile(per, 50) if per else 0
    out.update(_calib(sc))
    return out
