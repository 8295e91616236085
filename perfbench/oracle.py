"""DuckDB oracle check of one catalog result, with the canonical row hash
of the repository's correctness gate: row count, column names, and a
hash over rows sorted after ordering columns by name."""
import glob
import hashlib
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
_con = {}


def _connect(fixtures):
    if fixtures not in _con:
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(fixtures, t + ".parquet")
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, path))
        _con[fixtures] = con
    return _con[fixtures]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x01".join(canon(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def check(fixtures, sql, result_dir):
    """None when the Spark result in `result_dir` matches the oracle, else
    a one-line description of the first difference."""
    con = _connect(fixtures)
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return "no result written"
    try:
        d = con.sql(sql)
        dcols = [c.lower() for c in d.columns]
        drows = d.fetchall()
    except Exception as e:  # an oracle that cannot run is a failed check
        return "oracle error: %s" % str(e).splitlines()[0]
    s = con.sql("SELECT * FROM read_parquet(%r)" % files)
    scols = [c.lower() for c in s.columns]
    srows = s.fetchall()
    if sorted(scols) != sorted(dcols):
        return "columns %s, oracle %s" % (sorted(scols), sorted(dcols))
    if len(srows) != len(drows):
        return "%d rows, oracle %d" % (len(srows), len(drows))
    if table_hash(srows, scols) != table_hash(drows, dcols):
        return "row hash differs from the oracle"
    return None
