"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB over the same parquet tables, then compares
row count, column names, and values. Values are compared EXACTLY
(stringified, rows sorted) — stricter than any reasonable driver hash,
so passing here should mean passing there.

Usage: python tools/selfcheck.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Gates whose ORACLES read the committed sf0.01 golden chunk corpus
# (fixtures/chunker_golden_*_sf0.01.parquet) rather than deriving the
# chunk table in SQL — exact-golden by design, which is the driver
# contract's scale. At any other sf_dir they fail BY CONSTRUCTION
# (Spark chunks the current corpus, the oracle reads the committed
# one), so the cross-scale sweep (SURVEY §16) skips them explicitly
# instead of reporting false failures. Everything else is
# scale-portable: the round-8 sf0.1 sweep passes 151/151.
SF001_GOLDEN_GATES = {
    "t1_chunk_passages", "t2_code_chunks",
    "x_append_consistency", "x_ivf_append", "x_bm25_append",
    "x_stream_ivf_ingest", "x_ivf_compact", "q15_expanded_search",
}
GOLDEN_SF_DIR = "/root/testdata/sf0.01"


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").map(
                lambda v: "NULL" if v is None or (isinstance(v, float) and math.isnan(v))
                else repr(float(v))
            )
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64").astype(str)
        else:
            df[c] = s.map(lambda v: "NULL" if v is None else str(v))
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from leann_rs_spark.session import get_spark

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}")
        return 2
    failures = []
    ran = 0
    skipped = 0

    cross_scale = os.path.realpath(sf_dir) != os.path.realpath(GOLDEN_SF_DIR)
    # explicit names run in ARGUMENT order (so a deadline-bounded
    # cross-scale sweep can front-load its highest-value gates),
    # deduped so a repeated name runs (and is counted) once;
    # the full run keeps queries() rotation order
    ordered = (
        [(n, qs[n]) for n in dict.fromkeys(sys.argv[2:]) if n in qs]
        if only
        else list(qs.items())
    )
    for name, fn in ordered:
        if only and name not in only:
            continue
        if cross_scale and name in SF001_GOLDEN_GATES and name not in only:
            print(f"SKIP {name}: oracle pinned to the sf0.01 golden corpus")
            skipped += 1
            continue
        ran += 1
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"WEAK {name}: no oracle, rows={len(got)}")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures.append(name)
            continue
        if sorted(got.columns) != sorted(want.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
            failures.append(name)
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            failures.append(name)
            continue
        g, w = normalize(got), normalize(want)
        if not g.equals(w):
            diff = (g != w).any(axis=1)
            print(f"FAIL {name}: {int(diff.sum())}/{len(g)} rows differ; first:")
            idx = diff.idxmax()
            print("  spark :", g.loc[idx].to_dict())
            print("  duckdb:", w.loc[idx].to_dict())
            failures.append(name)
            continue
        print(f"PASS {name} ({len(got)} rows)")

    tail = f" ({skipped} skipped: sf0.01-golden-pinned)" if skipped else ""
    print(f"\n{ran - len(failures)}/{ran} queries pass{tail}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
