#!/usr/bin/env python
"""Deterministic sf1 scale-up: 10 key-shifted copies of the driver's
sf0.1 tables -> /root/repo/testdata_sf1 (bench-only; never committed).

One measured bench point at sf1 (~6M lineitem) lets a "survives 100x"
claim rest on measurement, not plan reading. The driver's generator isn't available, so sf1 is built
by replicating sf0.1 with per-copy key shifts that preserve referential
integrity (copy i shifts every surrogate key by i * stride, stride =
max(key)+1 of the base table):

- region/nation: fixed dimensions, copied once (as in TPC-H scaling).
- customer/supplier/part/orders/lineitem/events: key-shifted copies;
  value columns untouched, so per-key distributions match the base.
- documents: copy 0 verbatim; copies 1-9 salt every WORD with the copy
  index. Copies therefore share zero shingles (disjoint per-copy
  vocabulary — plausible 10x growth under Heaps' law) while each copy
  replays the base corpus's shingle/near-dup structure exactly, so
  Σ df(shingle)² — the self-join cost — scales linearly (measured:
  2.79M at the base, 27.9M at sf1). The rejected alternatives both
  measure generation artifacts, not scale: verbatim copies give every
  doc 9 synthetic near-duplicates, and a random word permutation draws
  trigrams from the base's SMALL vocabulary, making every random
  trigram hot (measured Σ df² ≈ 6e9 — a 2000x superlinear join).
- embeddings: copy i rotates the vector dimensions by i. Rotation is
  orthogonal: norms and within-copy distances are preserved exactly
  (each copy replays the base neighbor structure) while cross-copy
  cosines decorrelate.

Everything is pure SQL over DuckDB; output is one parquet per table.
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/testdata_sf1"
COPIES = int(os.environ.get("SF1_COPIES", "10"))



def main() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE copies AS SELECT unnest(range({COPIES})) AS i")

    def src(t: str) -> str:
        return f"read_parquet('{SRC}/{t}.parquet')"

    def emit(t: str, sql: str) -> None:
        out = f"{DST}/{t}.parquet"
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM read_parquet('{out}')").fetchone()[0]
        print(f"{t}: {n} rows")

    for t in ("region", "nation"):
        emit(t, f"SELECT * FROM {src(t)}")

    strides = {}
    for t, key in (
        ("customer", "c_custkey"),
        ("supplier", "s_suppkey"),
        ("part", "p_partkey"),
        ("orders", "o_orderkey"),
        ("events", "event_id"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ):
        strides[t] = con.execute(
            f"SELECT max({key}) + 1 FROM {src(t)}"
        ).fetchone()[0]
    strides["user"] = con.execute(
        f"SELECT max(user_id) + 1 FROM {src('events')}"
    ).fetchone()[0]

    emit("customer", f"""
        SELECT c_custkey + i * {strides['customer']} AS c_custkey,
               c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM {src('customer')}, copies""")
    emit("supplier", f"""
        SELECT s_suppkey + i * {strides['supplier']} AS s_suppkey,
               s_name, s_nationkey, s_acctbal
        FROM {src('supplier')}, copies""")
    emit("part", f"""
        SELECT p_partkey + i * {strides['part']} AS p_partkey,
               p_name, p_brand, p_type, p_size, p_retailprice
        FROM {src('part')}, copies""")
    emit("orders", f"""
        SELECT o_orderkey + i * {strides['orders']} AS o_orderkey,
               o_custkey + i * {strides['customer']} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM {src('orders')}, copies""")
    emit("lineitem", f"""
        SELECT l_orderkey + i * {strides['orders']} AS l_orderkey,
               l_partkey + i * {strides['part']} AS l_partkey,
               l_suppkey + i * {strides['supplier']} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM {src('lineitem')}, copies""")
    emit("events", f"""
        SELECT event_id + i * {strides['events']} AS event_id,
               ts,
               user_id + i * {strides['user']} AS user_id,
               event_type, value, props
        FROM {src('events')}, copies""")
    emit("documents", f"""
        SELECT doc_id + i * {strides['documents']} AS doc_id,
               CASE WHEN i = 0 THEN text ELSE
                 array_to_string(
                   list_transform(string_split(text, ' '),
                                  w -> w || 'q' || i),
                   ' ')
               END AS text,
               lang, source, n_chars
        FROM {src('documents')}, copies""")
    emit("embeddings", f"""
        SELECT vec_id + i * {strides['embeddings']} AS vec_id,
               CASE WHEN i = 0 THEN embedding ELSE
                 list_concat(embedding[i + 1:], embedding[1:i])
               END::FLOAT[] AS embedding,
               label
        FROM {src('embeddings')}, copies""")


if __name__ == "__main__":
    main()
