#!/usr/bin/env python3
"""Build an sf1.0-scale dataset (10× sf0.1) for the cross-scale
oracle-parity sweep (VERDICT r8 task 5).

The driver's generator only ships sf{0.001,0.01,0.1}; the sweep's goal
is flushing cross-engine float divergences (accumulation order,
overflow, rounding edges) that only trigger at larger row counts —
parity compares Spark vs DuckDB over the SAME parquet, so a
replication-based scale-up preserves exactly what matters: schemas,
key uniqueness, FK joinability, and value distributions. Documents
gain ' v<k>' suffix variants (the scale_check near-dup stress); facts
shift keys consistently so lineitem⋈orders / orders⋈customer /
lineitem⋈part/supplier all stay valid.

Usage: python3 tools/make_sf1.py [--base /root/testdata/sf0.1]
                                 [--out /tmp/leann-sf1.0]
Then:  python3 tools/selfcheck.py /tmp/leann-sf1.0
"""

from __future__ import annotations

import argparse
import os

K = 10  # replication factor: sf0.1 × 10 = sf1.0


def build(base: str, out: str) -> None:
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    rep = f"unnest(generate_series(0, {K - 1})) k(x)"

    def copy(sql: str, name: str) -> None:
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT parquet)")

    # dims: unchanged
    for t in ("region", "nation"):
        copy(f"SELECT * FROM '{base}/{t}.parquet'", t)
    # documents / embeddings / events: the near-dup stress
    # tools/scale_check.py times at 10×
    copy(
        f"""SELECT doc_id + 5000*k.x AS doc_id,
                   CASE WHEN k.x = 0 THEN text
                        ELSE text || ' v' || k.x::varchar END AS text,
                   lang, source, n_chars
            FROM '{base}/documents.parquet', {rep}""",
        "documents",
    )
    copy(
        f"""SELECT vec_id + 5000*k.x AS vec_id, embedding, label
            FROM '{base}/embeddings.parquet', {rep}""",
        "embeddings",
    )
    copy(
        f"""SELECT event_id + 100000*k.x AS event_id,
                   ts + (k.x * INTERVAL '7 days') AS ts,
                   user_id + 10000*k.x AS user_id, event_type, value, props
            FROM '{base}/events.parquet', {rep}""",
        "events",
    )
    # TPC-H facts: consistent key shifts keep every FK join valid
    copy(
        f"""SELECT c_custkey + 15000*k.x AS c_custkey, c_name, c_nationkey,
                   c_acctbal, c_mktsegment
            FROM '{base}/customer.parquet', {rep}""",
        "customer",
    )
    copy(
        f"""SELECT s_suppkey + 1000*k.x AS s_suppkey, s_name, s_nationkey,
                   s_acctbal
            FROM '{base}/supplier.parquet', {rep}""",
        "supplier",
    )
    copy(
        f"""SELECT p_partkey + 20000*k.x AS p_partkey, p_name, p_brand,
                   p_type, p_size, p_retailprice
            FROM '{base}/part.parquet', {rep}""",
        "part",
    )
    copy(
        f"""SELECT o_orderkey + 150000*k.x AS o_orderkey,
                   o_custkey + 15000*k.x AS o_custkey,
                   o_orderstatus, o_totalprice,
                   o_orderdate + (k.x * INTERVAL '7 days') AS o_orderdate,
                   o_orderpriority
            FROM '{base}/orders.parquet', {rep}""",
        "orders",
    )
    copy(
        f"""SELECT l_orderkey + 150000*k.x AS l_orderkey,
                   l_partkey + 20000*k.x AS l_partkey,
                   l_suppkey + 1000*k.x AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus,
                   l_shipdate + (k.x * INTERVAL '7 days') AS l_shipdate
            FROM '{base}/lineitem.parquet', {rep}""",
        "lineitem",
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/leann-sf1.0")
    args = ap.parse_args()
    build(args.base, args.out)
    print(f"built {args.out} ({K}x {args.base})")


if __name__ == "__main__":
    main()
