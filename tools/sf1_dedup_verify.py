#!/usr/bin/env python3
"""sf1.0 verification for the four oracle-cost-bound dedup gates
(VERDICT r9 task 3): x_dedup_clusters, x_leakage_safe_split,
x_dedup_ngram_jaccard, x_dedup_embedding_cosine.

The r9 sf1.0 sweep skipped these because their DuckDB twins are
single-node quadratic (recursive-CTE transitive closure; inverted-
index self-join at 114 GB RSS; 1.25B-pair cosine). The ENGINE side is
the banded/blocked plan built to dodge exactly that cost shape — so
each gate gets a scale-tractable verification mechanism instead:

- x_dedup_clusters / x_leakage_safe_split → FULL-value compare, all
  50k rows. The closure is recomputed by ITERATIVE min-label
  propagation over DuckDB temp tables (one linear edges⋈labels join
  per round, materialized as a real table — the `AS MATERIALIZED`
  lesson applied literally), converging in component-diameter rounds.
  Pair generation reuses duckdb_minhash_near_dups, which the r9 sweep
  already proved tractable at sf1.0 (x_dedup_minhash passed).

- x_dedup_ngram_jaccard / x_dedup_embedding_cosine → the pair
  predicate is a pure function of the two documents (the gate runs
  without a df cut), so restriction COMMUTES: Spark's full-corpus
  output ∩ (B × B) must equal the quadratic twin run on the small
  subcorpus B alone. Three mechanisms compose:
    (1) BLOCK full-value: B = {doc_id % 101 == 0} (~495 docs) — the
        exact quadratic twin runs on B only;
    (2) PLANTED-FAMILY completeness: make_sf1 constructs families
        {b, b+5000k} whose texts differ by a ' v<k>' suffix; all
        C(10,2)=45 within-family pairs per base are computed
        pair-at-a-time (linear, 225k pairs) and every one at/over the
        gate threshold must appear in the Spark output with the exact
        rounded value — and every one under it must be absent;
    (3) 1-in-97 stratified SOUNDNESS sample: every 97th Spark output
        pair (ordered) is recomputed pair-at-a-time and full-value
        matched.

Usage: python3 tools/sf1_dedup_verify.py [sf1_dir] [gate ...]
Exit 0 iff every requested check passes. Expect ~15-30 min total.
"""
from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from selfcheck import normalize  # noqa: E402  (tools/ sibling)

SF1_DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/leann-sf1.0"
ONLY = set(sys.argv[2:])

BLOCK_MOD = 101
SAMPLE_STRIDE = 97
FAMILY_BASE = 5000  # make_sf1: member ids are base + 5000*k


def _labels_by_propagation(con: duckdb.DuckDBPyConnection, pairs_sql: str) -> None:
    """Materialize __labels(id, lab): min-reachable-id component labels
    for every id appearing in `pairs_sql` (id_a, id_b). One linear
    edges⋈labels join per round, each round a REAL temp table, loop
    until a fixpoint — never the recursive-CTE reach set."""
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE __edges AS
            SELECT id_a AS src, id_b AS dst FROM ({pairs_sql})
            UNION
            SELECT id_b, id_a FROM ({pairs_sql})"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE __labels AS
           SELECT DISTINCT src AS id, src AS lab FROM __edges"""
    )
    for rnd in range(64):
        con.execute(
            """CREATE OR REPLACE TEMP TABLE __labels2 AS
               SELECT id, min(lab) AS lab FROM (
                 SELECT id, lab FROM __labels
                 UNION ALL
                 SELECT e.dst AS id, l.lab
                 FROM __edges e JOIN __labels l ON l.id = e.src
               ) GROUP BY id"""
        )
        diff = con.sql(
            """SELECT count(*) FROM __labels a JOIN __labels2 b USING (id)
               WHERE a.lab <> b.lab"""
        ).fetchone()[0]
        con.execute("CREATE OR REPLACE TEMP TABLE __labels AS SELECT * FROM __labels2")
        if diff == 0:
            print(f"  label propagation converged in {rnd + 1} rounds")
            return
    raise RuntimeError("label propagation did not converge in 64 rounds")


def _match(name: str, got: pd.DataFrame, want: pd.DataFrame) -> bool:
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
        return False
    if len(g) != len(w):
        print(f"FAIL {name}: {len(g)} vs {len(w)} rows")
        return False
    if not g.equals(w):
        neq = (g != w).any(axis=1)
        print(f"FAIL {name}: {int(neq.sum())} differing rows, first:")
        print(pd.concat([g[neq].head(3), w[neq].head(3)]))
        return False
    print(f"PASS {name} ({len(g)} rows)")
    return True


def check_clusters_and_split(spark, con, results: dict) -> None:
    import __spark_entry__ as entry
    from leann_rs_spark.operators.dedup import duckdb_minhash_near_dups
    from leann_rs_spark.operators.sampling import duckdb_split_assign

    pairs_sql = (
        f"SELECT id_a, id_b FROM ({duckdb_minhash_near_dups(threshold=0.5)})"
    )
    t0 = time.perf_counter()
    con.execute(f"CREATE OR REPLACE TEMP TABLE __pairs AS {pairs_sql}")
    n_pairs = con.sql("SELECT count(*) FROM __pairs").fetchone()[0]
    print(f"  duckdb pair set: {n_pairs} rows in {time.perf_counter()-t0:.1f}s")
    _labels_by_propagation(con, "SELECT id_a, id_b FROM __pairs")

    if "x_dedup_clusters" in TODO:
        want = con.sql(
            """SELECT d.doc_id,
                      coalesce(l.lab, d.doc_id) AS cluster_id,
                      coalesce(l.lab, d.doc_id) = d.doc_id AS keep
               FROM documents d LEFT JOIN __labels l ON l.id = d.doc_id
               ORDER BY d.doc_id"""
        ).df()
        got = entry.queries()["x_dedup_clusters"](spark, SF1_DIR).toPandas()
        results["x_dedup_clusters"] = _match("x_dedup_clusters (full)", got, want)

    if "x_leakage_safe_split" in TODO:
        key = "coalesce(l.lab, d.doc_id)"
        want = con.sql(
            f"""SELECT d.doc_id,
                       {key} AS cluster_id,
                       {key} = d.doc_id AS keep,
                       {duckdb_split_assign(key, entry._LEAK_WEIGHTS)} AS split
                FROM documents d LEFT JOIN __labels l ON l.id = d.doc_id
                ORDER BY d.doc_id"""
        ).df()
        got = entry.queries()["x_leakage_safe_split"](spark, SF1_DIR).toPandas()
        results["x_leakage_safe_split"] = _match(
            "x_leakage_safe_split (full)", got, want
        )


def _three_way(
    name: str,
    con,
    got: pd.DataFrame,
    val_col: str,
    block_twin_sql: str,
    family_sql: str,
    pair_value_sql,
    threshold: float,
    results: dict,
) -> None:
    """The commuting-restriction checks shared by the two pair gates.
    `got` is the FULL Spark output (id_a, id_b, <val_col>).
    `block_twin_sql` computes the quadratic twin over the block only;
    `family_sql` computes (id_a, id_b, <val_col>) for every
    within-family pair (all of them, any value);
    `pair_value_sql(pair_table)` recomputes <val_col> for an explicit
    (id_a, id_b) pair table."""
    ok = True
    # (1) block full-value
    blk = got[(got["id_a"] % BLOCK_MOD == 0) & (got["id_b"] % BLOCK_MOD == 0)]
    want = con.sql(block_twin_sql).df()
    ok &= _match(f"{name} block", blk.reset_index(drop=True), want)
    # (2) planted-family completeness (both directions on the family set)
    fam = con.sql(family_sql).df()
    fam_over = fam[fam[val_col] >= round(threshold, 9)]
    got_pairs = got.set_index(["id_a", "id_b"])[val_col]
    fam_idx = list(zip(fam_over["id_a"], fam_over["id_b"]))
    missing = [p for p in fam_idx if p not in got_pairs.index]
    if missing:
        print(f"FAIL {name} family-completeness: {len(missing)} planted "
              f"pairs over threshold absent, first {missing[:3]}")
        ok = False
    else:
        vals = got_pairs.loc[fam_idx]
        if not (
            vals.to_numpy() == fam_over[val_col].to_numpy()
        ).all():
            print(f"FAIL {name} family-completeness: value mismatch")
            ok = False
        else:
            print(f"PASS {name} family-completeness ({len(fam_over)} planted"
                  f" pairs present, values exact)")
    fam_under = set(
        map(
            tuple,
            fam[fam[val_col] < round(threshold, 9)][["id_a", "id_b"]]
            .to_numpy()
            .tolist(),
        )
    )
    spurious = [p for p in fam_under if p in got_pairs.index]
    if spurious:
        print(f"FAIL {name} family-soundness: {len(spurious)} under-threshold"
              f" planted pairs present, first {spurious[:3]}")
        ok = False
    else:
        print(f"PASS {name} family-soundness ({len(fam_under)} under-threshold"
              f" pairs absent)")
    # (3) 1-in-97 soundness sample over the whole output
    sample = got.sort_values(["id_a", "id_b"]).iloc[::SAMPLE_STRIDE]
    con.register("__sample_pairs", sample[["id_a", "id_b"]])
    want_s = con.sql(pair_value_sql("__sample_pairs")).df()
    ok &= _match(
        f"{name} 1-in-{SAMPLE_STRIDE} sample",
        sample.reset_index(drop=True),
        want_s,
    )
    results[name] = bool(ok)


def check_ngram(spark, con, results: dict) -> None:
    import __spark_entry__ as entry
    from leann_rs_spark.functions.text import (
        duckdb_tokenize,
        duckdb_word_ngrams,
    )
    from leann_rs_spark.operators.dedup import duckdb_ngram_jaccard_pairs

    t0 = time.perf_counter()
    got = entry.queries()["x_dedup_ngram_jaccard"](spark, SF1_DIR).toPandas()
    print(f"  spark x_dedup_ngram_jaccard: {len(got)} pairs "
          f"in {time.perf_counter()-t0:.1f}s")
    con.execute(
        f"""CREATE OR REPLACE TEMP VIEW __blockdocs AS
            SELECT * FROM documents WHERE doc_id % {BLOCK_MOD} = 0"""
    )
    block_twin = f"""
        SELECT id_a, id_b, round(jaccard, 6) AS jaccard_r
        FROM ({duckdb_ngram_jaccard_pairs(table="__blockdocs", n=3, threshold=0.3)})
        ORDER BY id_a, id_b
    """
    grams = (
        f"list_distinct({duckdb_word_ngrams(duckdb_tokenize('text'), 3)})"
    )
    gtab = f"""
        SELECT doc_id, gs FROM
          (SELECT doc_id, {grams} AS gs FROM documents)
        WHERE len(gs) > 0
    """
    inter = "len(list_filter(ga.gs, g -> list_contains(gb.gs, g)))"
    jac = f"{inter}::double / (len(ga.gs) + len(gb.gs) - {inter})"
    family = f"""
        WITH g AS ({gtab})
        SELECT ga.doc_id AS id_a, gb.doc_id AS id_b,
               round({jac}, 6) AS jaccard_r
        FROM g ga JOIN g gb
          ON gb.doc_id % {FAMILY_BASE} = ga.doc_id % {FAMILY_BASE}
         AND gb.doc_id > ga.doc_id
    """

    def pair_values(tab: str) -> str:
        return f"""
            WITH g AS ({gtab})
            SELECT p.id_a, p.id_b, round({jac}, 6) AS jaccard_r
            FROM {tab} p
            JOIN g ga ON ga.doc_id = p.id_a
            JOIN g gb ON gb.doc_id = p.id_b
            ORDER BY p.id_a, p.id_b
        """

    _three_way(
        "x_dedup_ngram_jaccard", con, got, "jaccard_r",
        block_twin, family, pair_values, 0.3, results,
    )


def check_embcos(spark, con, results: dict) -> None:
    import __spark_entry__ as entry
    from leann_rs_spark.functions.vector import duckdb_dot
    from leann_rs_spark.operators.embedder import duckdb_embed_table

    t0 = time.perf_counter()
    got = entry.queries()["x_dedup_embedding_cosine"](spark, SF1_DIR).toPandas()
    print(f"  spark x_dedup_embedding_cosine: {len(got)} pairs "
          f"in {time.perf_counter()-t0:.1f}s")
    tau = entry._EMBCOS_TAU
    dims = entry._EMBED_DIMS
    con.execute(
        f"""CREATE OR REPLACE TEMP VIEW __blockdocs AS
            SELECT * FROM documents WHERE doc_id % {BLOCK_MOD} = 0"""
    )
    cos = duckdb_dot("a.embedding", "b.embedding")
    block_twin = f"""
        WITH de AS ({duckdb_embed_table("__blockdocs", dims=dims)})
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, round({cos}, 6) AS cos_r
        FROM de a, de b
        WHERE a.doc_id < b.doc_id AND {cos} >= {tau}
        ORDER BY id_a, id_b
    """
    # one embedding table, reused by family + sample (materialized —
    # recomputing the md5 embedding per consumer triples the cost)
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE __emb AS
            {duckdb_embed_table("documents", dims=dims)}"""
    )
    cose = duckdb_dot("ea.embedding", "eb.embedding")
    family = f"""
        SELECT ea.doc_id AS id_a, eb.doc_id AS id_b,
               round({cose}, 6) AS cos_r
        FROM __emb ea JOIN __emb eb
          ON eb.doc_id % {FAMILY_BASE} = ea.doc_id % {FAMILY_BASE}
         AND eb.doc_id > ea.doc_id
    """

    def pair_values(tab: str) -> str:
        return f"""
            SELECT p.id_a, p.id_b, round({cose}, 6) AS cos_r
            FROM {tab} p
            JOIN __emb ea ON ea.doc_id = p.id_a
            JOIN __emb eb ON eb.doc_id = p.id_b
            ORDER BY p.id_a, p.id_b
        """

    _three_way(
        "x_dedup_embedding_cosine", con, got, "cos_r",
        block_twin, family, pair_values, tau, results,
    )


GATES = (
    "x_dedup_clusters",
    "x_leakage_safe_split",
    "x_dedup_ngram_jaccard",
    "x_dedup_embedding_cosine",
)
TODO = set(GATES) if not ONLY else (set(GATES) & ONLY)


def main() -> int:
    from leann_rs_spark.session import get_spark

    spark = get_spark("sf1-dedup-verify")
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{SF1_DIR}/documents.parquet'"
    )
    results: dict[str, bool] = {}
    if TODO & {"x_dedup_clusters", "x_leakage_safe_split"}:
        check_clusters_and_split(spark, con, results)
    if "x_dedup_ngram_jaccard" in TODO:
        check_ngram(spark, con, results)
    if "x_dedup_embedding_cosine" in TODO:
        check_embcos(spark, con, results)
    n_ok = sum(results.values())
    print(f"\n{n_ok}/{len(results)} gates verified at {SF1_DIR}")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
