"""Seeded input generator for the benchmark.

Replicates a committed testdata scale R times with key shifts (the scheme
of tools/make_sf1.py: replica i adds i * SHIFT to every entity key, so
joins stay inside a replica and never match across replicas). The seed
picks the row order of every table and which documents get a text
perturbation. The source directory is only ever read.
"""
import hashlib
import os

import duckdb

GEN_VERSION = 1
SHIFT = 10_000_000  # key shift per replica; far above any sf0.1 key

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Entity keys shifted per replica; nation/region are copied once.
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# Columns whose hash (with the seed) orders the rows of each table.
ORDER = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"], "events": ["event_id"],
    "documents": ["doc_id"], "embeddings": ["vec_id"],
}


def _select(src, table, i, seed):
    path = f"{src}/{table}.parquet"
    s = i * SHIFT
    repl = [f"{k} + {s} AS {k}" for k in KEYS.get(table, [])]
    if table == "documents":
        # make_sf1's replica suffix, plus a seeded perturbation of about a
        # quarter of the documents (n_chars follows the text)
        tok = hashlib.sha256(str(seed).encode()).hexdigest()[:6]
        suffix = (f"CASE WHEN {i} = 0 THEN '' ELSE ' r{i}' END || "
                  f"CASE WHEN hash(doc_id, {seed}) % 4 = 0 "
                  f"THEN ' z{tok}' ELSE '' END")
        repl += [f"text || {suffix} AS text",
                 f"n_chars + length({suffix}) AS n_chars"]
    star = f"* REPLACE ({', '.join(repl)})" if repl else "*"
    order = ", ".join(ORDER[table])
    return (f"SELECT {star}, hash({order}, {i}, {seed}) AS __o "
            f"FROM '{path}'")


def generate(src, out, replicas, seed, tables=TABLES):
    """Write `tables` to `out` and return {table: {"rows", "bytes"}}."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET enable_progress_bar=false")
    info = {}
    for t in tables:
        reps = 1 if t in ("nation", "region") else replicas
        union = " UNION ALL ".join(_select(src, t, i, seed)
                                   for i in range(reps))
        dst = f"{out}/{t}.parquet"
        con.execute(f"COPY (SELECT * EXCLUDE (__o) FROM ({union}) "
                    f"ORDER BY __o) TO '{dst}' (FORMAT PARQUET)")
        rows = con.execute(f"SELECT count(*) FROM '{dst}'").fetchone()[0]
        info[t] = {"rows": rows, "bytes": os.path.getsize(dst)}
    con.close()
    return info


def table_hashes(out, tables=TABLES):
    """Order-sensitive content hash of every generated table."""
    con = duckdb.connect()
    res = {}
    for t in tables:
        h = hashlib.sha256()
        cur = con.execute(f"SELECT * FROM '{out}/{t}.parquet'")
        while True:
            rows = cur.fetchmany(50_000)
            if not rows:
                break
            h.update(repr(rows).encode())
        res[t] = h.hexdigest()
    con.close()
    return res
