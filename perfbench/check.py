"""Output checks, run after the benchmark process has exited (never
timed). Each returns a list of mismatch descriptions; empty means the
outputs are correct.

* ingest: the inferred schema, row count, null counts and per-column
  checksums against the generator's ground truth, plus the index
  sidecar and the raw column files.
* queries: an order-insensitive hash of each result, against DuckDB
  running the query's oracle SQL on the same permuted tables, or against
  the recorded expected value for queries without an oracle.
"""
import hashlib
import json
import os

import duckdb
import pyarrow.parquet as pq

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_ingest(work, truth):
    bad = []
    schema = json.load(open(f"{work}/schema.json"))
    if schema["row_count"] != truth["rows"]:
        bad.append(f"ingest: row_count {schema['row_count']} != {truth['rows']}")
    fields = {f["name"]: f for f in schema["fields"]}
    if sorted(fields) != sorted(truth["fields"]):
        return bad + [f"ingest: columns {sorted(fields)} != {sorted(truth['fields'])}"]
    out = f"{work}/ingest/p0"
    store = pq.read_table(f"{out}/store/data.parquet")
    index = json.load(open(f"{out}/store/index.json"))
    raw_files = os.listdir(f"{out}/raw")
    for name, want in truth["fields"].items():
        got = fields[name]
        for key in ("type", "categorical", "date_format"):
            if got[key] != want[key]:
                bad.append(f"ingest: {name}.{key} {got[key]!r} != {want[key]!r}")
        if name not in index:
            bad.append(f"ingest: {name} missing from index.json")
        if not any(f.startswith(got["column"] + ".") for f in raw_files):
            bad.append(f"ingest: {name} has no raw column file")
        if got["column"] not in store.column_names:
            bad.append(f"ingest: {name} missing from the parquet store")
            continue
        vals = store.column(got["column"]).to_pylist()
        nulls = sum(v is None for v in vals)
        if len(vals) != truth["rows"] or nulls != want["nulls"]:
            bad.append(f"ingest: {name} rows/nulls {len(vals)}/{nulls} != "
                       f"{truth['rows']}/{want['nulls']}")
        elif gen.checksum(want["type"], vals) != want["checksum"]:
            bad.append(f"ingest: {name} checksum differs")
    return bad


def result_hash(con, relation_sql):
    """(rows, hash) of a relation: every column rendered as VARCHAR by
    DuckDB, columns in name order, rows sorted."""
    rel = con.sql(relation_sql)
    cols = sorted(rel.columns)
    proj = ", ".join(f'"{c}"::VARCHAR' for c in cols)
    rows = sorted(con.sql(f"SELECT {proj} FROM ({relation_sql})").fetchall(),
                  key=lambda r: tuple("\x00" if v is None else v for v in r))
    h = hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()
    return len(rows), h


def connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def oracle_hashes(tables_dir, oracle_sql):
    """{name: (rows, hash)} of each oracle SQL ({name: sql}) run by DuckDB
    on the tables in ``tables_dir``."""
    con = connect(tables_dir)
    return {name: result_hash(con, sql) for name, sql in oracle_sql.items()}


def check_queries(work, names, oracle, expected, version):
    """Compare each query's result under ``work/results`` with ``oracle``
    ({name: (rows, hash)}) or, for queries without an oracle, with the
    recorded ``expected`` values. Returns (mismatches by name,
    {name: (rows, hash)} of what was found)."""
    con = duckdb.connect()
    bad, found = {}, {}
    for name in names:
        res = f"{work}/results/{name}"
        try:
            got = result_hash(con, f"SELECT * FROM '{res}/*.parquet'")
        except duckdb.Error as e:
            bad[name] = f"unreadable result: {e}"
            continue
        found[name] = got
        recorded = expected.get("queries", {}) if expected.get("version") == version else {}
        if name in oracle:
            want, source = oracle[name], "oracle"
        elif name in recorded:
            want, source = (recorded[name]["rows"], recorded[name]["hash"]), "expected"
        else:
            bad[name] = "no oracle SQL and no expected value for these base tables"
            continue
        if got[0] != want[0]:
            bad[name] = f"rows {got[0]} != {source} {want[0]}"
        elif got[1] != want[1]:
            bad[name] = f"result hash differs from {source}"
    return bad, found
