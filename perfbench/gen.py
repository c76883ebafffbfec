"""Seeded benchmark inputs.

* ``ingest_csv``: a synthetic CSV whose columns plant every branch of the
  program's type inference, plus the generator's ground truth for it.
* ``queries``: the ten star-schema and corpus tables the queries read. The base tables are fixed (``BASE_SEED``); the
  run seed only permutes the row order of each table, which must leave
  every query result unchanged.

Everything is written under the caller's cache directory; nothing here is
timed.
"""
import csv
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20261017
# table sizes per unit of scale (scale 0.01 ≈ the repo's sf0.01 tables)
PER_SCALE = {"lineitem": 6_000_000, "orders": 1_500_000, "customer": 150_000,
             "supplier": 10_000, "part": 200_000, "documents": 50_000,
             "embeddings": 50_000, "events": 1_000_000}
USERS_PER_SCALE = 15_000
WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line table data agg value key stream window spark a "
         "group part big sort query fast the").split()


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def base_tables(scale):
    """The fixed tables, as ``{name: pyarrow.Table}``."""
    rng = np.random.default_rng(BASE_SEED)
    n = {k: max(1, int(v * scale)) for k, v in PER_SCALE.items()}
    users = max(10, int(USERS_PER_SCALE * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    adj = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
    noun = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO",
                              "SMALL", "MEDIUM"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": np.round(rng.uniform(1000, 400000, o), 2),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 2), o),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["O", "F"], li),
        "l_shipdate": _days(rng, dt.date(1992, 1, 1), dt.date(2001, 12, 1), li)})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
        .astype("timedelta64[us]"),
        "user_id": rng.integers(0, users, e),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], e),
        "value": np.round(np.minimum(rng.exponential(50.0, e), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        if i >= 20 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], d),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    m = n["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, m)
    vecs = centers[labels] + rng.normal(0, 1.2, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def version(scale):
    """Identifies the base tables: this file's source and the scale."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest() + f"@{scale}"


def permuted_tables(out_dir, scale, seed):
    """Write every base table, rows permuted by ``seed``, as
    ``<out_dir>/<name>.parquet``. Returns the total row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = 0
    for name, table in sorted(base_tables(scale).items()):
        perm = rng.permutation(table.num_rows)
        pq.write_table(table.take(pa.array(perm)), f"{out_dir}/{name}.parquet")
        rows += table.num_rows
    return rows


# ---------------------------------------------------------------- ingest

NULL_TOKENS = ["null", "na", "n/a", "none", "", "-"]  # graft.ingest.Nulls
NULL_RATE = 0.03


def scan_count(n, cap=2_000_000):
    """graft.ingest.TypeInference.scanCount: the inference prefix."""
    return n if n < 1000 else min(max(1000, int(n * 0.3)), cap)


def categorical_threshold(n, scanned):
    """graft.ingest.Categorical.threshold (the reference's rule)."""
    frac = 1.0 if n == 0 else scanned / n
    ef = next((v for k, v in [(1.0, 1.0), (0.8, 0.7), (0.4, 0.65), (0.2, 0.6),
                              (0.1, 0.5), (0.04, 0.3), (0.01, 0.1)]
               if frac >= k), 0.0)
    return min(-(-n * 3 // 10), 65536) * ef ** 2


def checksum(kind, values):
    """Order-insensitive checksum of a column's non-null values."""
    vals = [v for v in values if v is not None]
    if kind in ("int", "bigint"):
        total = sum(int(v) for v in vals)
    elif kind == "double":
        total = sum(round(v * 100) for v in vals)
    elif kind == "date":
        total = sum((v - dt.date(1970, 1, 1)).days for v in vals)
    else:
        total = sum(int(hashlib.sha1(v.encode()).hexdigest()[:15], 16)
                    for v in vals) % (1 << 61)
    return f"{len(vals)}:{total}"


def ingest_csv(path, rows, seed):
    """Write the planted-type CSV; return its ground truth."""
    rng = np.random.default_rng(seed)
    d0 = dt.date(2015, 1, 1)
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                "MACHINERY", "RETAIL"]
    # (column, spark type, date format, typed values)
    cols = [
        ("id", "int", None,
         [int(v) for v in rng.integers(-2**31, 2**31, rows)]),
        ("big", "bigint", None,
         [int(v) for v in rng.integers(-9 * 10**15, 9 * 10**15, rows)]),
        ("unit price", "double", None,
         [float(v) for v in np.round(rng.uniform(0, 1000, rows), 2)]),
        ("segment", "string", None, list(rng.choice(segments, rows))),
        ("user", "string", None,
         [f"u{v:012x}" for v in rng.integers(0, 1 << 48, rows)]),
        ("note", "string", None,
         [f'said "{WORDS[a]}", then {WORDS[b]} #{i}' for i, (a, b) in
          enumerate(zip(rng.integers(0, 30, rows), rng.integers(0, 30, rows)))]),
        ("ship date", "date", "yyyy-M-d",
         [d0 + dt.timedelta(days=int(v)) for v in rng.integers(0, 3650, rows)]),
        ("order date", "date", "M/d/yyyy",
         [d0 + dt.timedelta(days=int(v)) for v in rng.integers(0, 3650, rows)]),
        ("qty", "int", None, [int(v) for v in rng.integers(1, 51, rows)]),
    ]
    nullable = {"big", "unit price", "segment", "ship date", "order date",
                "qty", "note"}

    def render(name, v):
        if isinstance(v, dt.date):
            if name == "ship date":
                return f"{v.year}-{v.month}-{v.day}"
            return f"{v.month}/{v.day}/{v.year}"
        return str(v)

    table = []
    for name, kind, fmt, vals in cols:
        mask = (rng.random(rows) < NULL_RATE) if name in nullable else \
            np.zeros(rows, bool)
        toks = rng.integers(0, len(NULL_TOKENS), rows)
        cells = [NULL_TOKENS[toks[i]] if mask[i] else render(name, v)
                 for i, v in enumerate(vals)]
        typed = [None if mask[i] else v for i, v in enumerate(vals)]
        table.append((name, kind, fmt, cells, typed))

    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow([c[0] for c in table])
        for r in range(rows):
            w.writerow([c[3][r] for c in table])

    scan = scan_count(rows)
    thresh = categorical_threshold(rows, scan)
    fields = {}
    for name, kind, fmt, cells, typed in table:
        distinct = {c for c, v in zip(cells[:scan], typed[:scan]) if v is not None}
        fields[name] = {
            "type": kind, "date_format": fmt,
            "categorical": len(distinct) <= thresh,
            "nulls": sum(v is None for v in typed),
            "checksum": checksum(kind, typed)}
    return {"rows": rows, "csv_bytes": os.path.getsize(path), "fields": fields}
