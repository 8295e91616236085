"""Seeded CDC event generator for the pipeline workloads.

`generate(workload, seed, seconds)` returns the two schedules the JVM
harness replays (snapshot backlog, open-loop steady stream) plus the
truth the correctness check needs. The same arguments always give
the same events; only the seed varies them between runs.

A schedule record is `(topic, key, value, due_ms, expect)`: `value` is
the Kafka payload (Debezium JSON for customers, plain JSON for orders
and shipments), `due_ms` is when the record is
due relative to its phase start, and `expect` marks an order whose
shipment falls inside the 7-day join band, so exactly one document for
it must reach the sink.
"""
import bisect
import datetime
import json
import random

# Workload shapes; shares are per order/shipment pair.
#  customers     1,500: the TPC-H customer count at scale factor 0.01, the
#                scale of the catalog's fixtures
#  rate          20 pairs/s. Measured on 4 cores, Spark local[4], with
#                2,000 customers, Zipf s = 1.1 and 20 s windows:
#                freshness p50 is flat (8.9-9.9 s) from 10 to 40 pairs/s
#                and every query is busy 0.64-1.0 of the time at every
#                rate, because each micro-batch has a fixed cost of about
#                3 s. The rate sets the sample count, not the operating
#                point; at 20 pairs/s freshness sat at its floor.
#  cust_changes  one customer update per ten pairs
#  zipf_s        0.99, YCSB's default Zipfian constant (Cooper et al.,
#                SoCC 2010), for the customer of each order and update
#  out_of_band, out_of_order, ship_delay_ms: coverage, not a traffic
#                model. Each run sends shipments outside the 7-day band
#                and shipments before their orders, so both sides of the
#                interval join run; the 0.08-0.4 s gap between an order
#                and its shipment is shorter than any micro-batch.
# The snapshot backlog holds as many pairs as the steady phase sends.
WORKLOADS = {
    "pipeline_steady": dict(
        customers=1500, rate=20.0, cust_changes=0.1, zipf_s=0.99,
        out_of_band=0.1, out_of_order=0.2, ship_delay_ms=400.0),
}

BAND_DAYS = 7
EPOCH = datetime.datetime(2020, 4, 1)
CURRENCIES = ["usd", "eur", "aud", "gbp", "cad"]
ORIGINS = ["texas", "iowa", "maine", "florida", "ohio", "utah", "oregon", "nevada"]


def _ts(dt):
    return dt.strftime("%Y-%m-%dT%H:%M:%S")


def _debezium(op, row):
    return json.dumps({"after": row, "op": op}, separators=(",", ":"))


class _Stream:
    """Builds one run's records and keeps the truth alongside."""

    def __init__(self, p, rng):
        self.p, self.rng = p, rng
        n = p["customers"]
        self.cum = list(_accumulate([1.0 / (k + 1) ** p["zipf_s"] for k in range(n)]))
        self.versions = {}     # customer id -> number of versions sent
        self.orders = {}       # order id -> expected document fields
        self.pair = 0

    def zipf_key(self):
        i = bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
        return "c%d" % min(i, len(self.cum) - 1)

    def customer(self, cid, op, due):
        v = self.versions.get(cid, 0)
        self.versions[cid] = v + 1
        row = {"id": cid, "name": "%s_v%d" % (cid, v), "age": self.rng.randint(18, 90)}
        return [("customers", cid, _debezium(op, row), due)]

    def pair_records(self, oid, due, band_out, ship_first, ship_gap):
        """An order and its shipment, due `ship_gap` ms apart."""
        rng = self.rng
        o_dt = EPOCH + datetime.timedelta(minutes=self.pair)
        self.pair += 1
        if band_out:
            s_dt = o_dt + datetime.timedelta(days=BAND_DAYS + 1 + rng.random() * 10)
        else:
            s_dt = o_dt + datetime.timedelta(seconds=rng.randint(-2 * 86400, 6 * 86400))
        cid = self.zipf_key()
        price = round(rng.uniform(1, 500), 2)
        cur, origin = rng.choice(CURRENCIES), rng.choice(ORIGINS)
        sid = "sh" + oid
        order = json.dumps({"customer_id": cid, "order_id": oid, "price": price,
                            "currency": cur, "ts": _ts(o_dt)}, separators=(",", ":"))
        ship = json.dumps({"order_id": oid, "shipment_id": sid, "origin": origin,
                           "ts": _ts(s_dt)}, separators=(",", ":"))
        o_due, s_due = (due + ship_gap, due) if ship_first else (due, due + ship_gap)
        if not band_out:
            self.orders[oid] = dict(order_id=oid, shipment_id=sid, customer_id=cid,
                                    price=price, currency=cur, origin=origin,
                                    due_ms=max(o_due, s_due))
        return [("orders", oid, order, o_due, not band_out),
                ("shipments", oid, ship, s_due, False)]


def _accumulate(xs):
    t = 0.0
    for x in xs:
        t += x
        yield t


def _rec(r):
    return r if len(r) == 5 else r + (False,)


def generate(workload, seed, seconds):
    p = WORKLOADS[workload]
    rng = random.Random("%s:%d" % (workload, seed))
    st = _Stream(p, rng)

    # phase 1: the initial snapshot, all due at once, customers first
    backlog = []
    for k in range(p["customers"]):
        backlog += st.customer("c%d" % k, "c", 0.0)
    n_pairs = int(round(p["rate"] * seconds))
    out_b = set(rng.sample(range(n_pairs), int(n_pairs * p["out_of_band"])))
    for i in range(n_pairs):
        backlog += st.pair_records("b%d" % i, 0.0, i in out_b, False, 0.0)

    # phase 2: pairs at a fixed rate, customer changes between them
    steady = []
    out_s = set(rng.sample(range(n_pairs), int(n_pairs * p["out_of_band"])))
    late = set(rng.sample(range(n_pairs), int(n_pairs * p["out_of_order"])))
    gap = 1000.0 / p["rate"]
    carry = 0.0
    for i in range(n_pairs):
        due = i * gap
        carry += p["cust_changes"]
        n_changes = int(carry)
        carry -= n_changes
        for j in range(n_changes):
            steady += st.customer(st.zipf_key(), "u", due + gap * (j + 1) / (n_changes + 1))
        steady += st.pair_records("s%d" % i, due, i in out_s, i in late,
                                  rng.uniform(0.2, 1.0) * p["ship_delay_ms"])

    backlog = [_rec(r) for r in backlog]
    steady = sorted((_rec(r) for r in steady), key=lambda r: r[3])
    return dict(backlog=backlog, steady=steady, orders=st.orders)


def write_schedule(path, recs):
    with open(path, "w") as f:
        for topic, key, value, due, expect in recs:
            f.write("%s\t%s\t%s\t%r\t%d\n" % (topic, key, "\\N" if value is None else value,
                                            float(due), 1 if expect else 0))
