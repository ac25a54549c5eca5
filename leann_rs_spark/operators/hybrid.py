"""Hybrid search: vector ⊕ BM25 candidate union + min-max rerank.

Reference semantics, preserved exactly:
- Candidate union (src/index/searcher.rs:146-169): vector top-fetch_k
  hits, plus BM25 top-fetch_k hits not already present added with
  vector score 0.0 — a full-outer join replaces the HashSet logic.
- Rerank (hybrid_rerank, src/index/bm25.rs:135-170): min-max normalize
  the candidates' vector scores (including the 0.0 fills) and the
  *entire corpus's* BM25 scores (zero-initialized vector → min includes
  0.0 whenever any document matches no query term); ranges clamped to
  ≥ 1e-6; combined = α·norm_vec + (1−α)·norm_bm25, default α = 0.7
  (src/index/searcher.rs:47).
- Over-fetch factor 5× when hybrid/filtered (src/index/searcher.rs:129-133).

Scale design: both candidate sets are ≤ fetch_k rows (tiny), so the
union, the min/max stats, and the rerank are all broadcast-sized.
The only large-data stages are the two top-k producers upstream, which
prune to k per partition before shuffling. The rerank is one lazy plan
with no persist, so a long-lived server caches nothing per request.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

DEFAULT_ALPHA = 0.7
OVERFETCH = 5  # src/index/searcher.rs:129-133
AUTO_HYBRID_MAX_WORDS = 3  # src/cli/search.rs:147-148


def use_hybrid(query: str, hybrid: bool = False, auto_hybrid: bool = False) -> bool:
    """Q15 plan heuristic (src/cli/search.rs:147-148): hybrid when
    explicitly requested, or when auto_hybrid is on and the query is
    short (≤ 3 whitespace-separated words). Driver-side branch — picks
    the physical plan, never touches data."""
    return hybrid or (auto_hybrid and len(query.split()) <= AUTO_HYBRID_MAX_WORDS)


def hybrid_rerank(
    vec_hits: DataFrame,
    bm25_scored: DataFrame,
    bm25_top: DataFrame,
    num_docs: int | DataFrame,
    alpha: float = DEFAULT_ALPHA,
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (id_col, combined DOUBLE, vec_score, bm25_score) ordered by
    combined DESC, id ASC.

    vec_hits: (id_col, score) — vector top-fetch_k
    bm25_scored: (id_col, score) — BM25 scores for every matching doc
    bm25_top: (id_col,) — BM25 top-fetch_k candidate ids
    num_docs: corpus size (to account for implicit 0.0 BM25 scores) —
        either an int, or the corpus DataFrame itself, in which case
        its count is folded into the same Spark job as a broadcast
        1-row aggregate instead of a separate eager .count() action

    The candidate table (≤ 2×fetch_k rows) needs its own min/max for
    the vector normalization. Its subtree holds the full vector top-k
    scan, so the stats are an unpartitioned window over the candidates
    — one pass, where an aggregate cross-joined back would re-run that
    subtree per consumer. Nothing is persisted: a persist per request
    would leave cached frames behind in a long-lived server.
    """
    if isinstance(num_docs, DataFrame):
        ndocs = num_docs.agg(F.count("*").alias("_n_docs"))
        num_docs_col = F.col("_n_docs")
    else:
        ndocs = None
        num_docs_col = F.lit(num_docs)
    v = vec_hits.select(F.col(id_col), F.col("score").alias("vec_score"))
    bt = bm25_top.select(id_col)

    cand = (
        v.join(bt, id_col, "full_outer")
        .select(id_col, F.coalesce(F.col("vec_score"), F.lit(0.0)).alias("vec_score"))
    )

    b = bm25_scored.select(F.col(id_col), F.col("score").alias("bm25_score"))
    cand = cand.join(b, id_col, "left").select(
        id_col,
        "vec_score",
        F.coalesce(F.col("bm25_score"), F.lit(0.0)).alias("bm25_score"),
    )
    # ≤ 2×fetch_k rows: the stats ride along as one unpartitioned
    # window, so the vector top-k subtree below runs once
    everything = Window.partitionBy()
    cand = cand.select(
        "*",
        F.min("vec_score").over(everything).alias("vmin"),
        F.max("vec_score").over(everything).alias("vmax"),
    )
    # BM25 min/max over the whole zero-initialized score vector
    # (src/index/bm25.rs:152-154): docs matching no term contribute 0.0.
    bstats = b.agg(
        F.min("bm25_score").alias("bmin_m"),
        F.max("bm25_score").alias("bmax_m"),
        F.count("*").alias("matched"),
    )
    if ndocs is not None:
        bstats = bstats.crossJoin(F.broadcast(ndocs))
    bstats = bstats.select(
        F.when(F.col("matched") < num_docs_col, F.least(F.col("bmin_m"), F.lit(0.0)))
        .otherwise(F.col("bmin_m"))
        .alias("bmin"),
        F.coalesce(F.greatest(F.col("bmax_m"), F.lit(0.0)), F.lit(0.0)).alias("bmax"),
    )

    out = (
        cand.crossJoin(F.broadcast(bstats))
        .select(
            id_col,
            "vec_score",
            "bm25_score",
            (
                F.lit(alpha)
                * (F.col("vec_score") - F.col("vmin"))
                / F.greatest(F.col("vmax") - F.col("vmin"), F.lit(1e-6))
                + F.lit(1.0 - alpha)
                * (F.col("bm25_score") - F.col("bmin"))
                / F.greatest(F.col("bmax") - F.col("bmin"), F.lit(1e-6))
            ).alias("combined"),
        )
        .orderBy(F.col("combined").desc(), F.col(id_col).asc())
    )
    return out


def rrf_fuse(
    vec_hits: DataFrame,
    bm25_hits: DataFrame,
    k0: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) — the
    score-free alternative to the reference's min-max blend: each list
    contributes 1/(k0 + rank), absent docs contribute nothing, k0=60
    is the published default. → (id_col, vec_rank, bm25_rank, rrf)
    ordered rrf DESC, id ASC. vec_rank/bm25_rank are NULL for docs
    present in only one list.

    Ranks are computed here over `round(score, 6)` with an id
    tie-break: float scores rank identically across engines only
    after the 6-dp recipe (BM25 term sums differ in the last ulp).
    Both inputs are top-fetch_k candidate sets (tiny), so the
    unpartitioned rank windows and the full-outer join are
    driver-trivial — the heavy lifting stays in the upstream top-k
    producers, exactly as hybrid_rerank."""
    w = Window.orderBy(F.round(F.col("score"), 6).desc(), F.col(id_col).asc())
    v = (
        vec_hits.select(id_col, "score")
        .withColumn("vec_rank", F.row_number().over(w))
        .drop("score")
    )
    b = (
        bm25_hits.select(id_col, "score")
        .withColumn("bm25_rank", F.row_number().over(w))
        .drop("score")
    )
    return (
        v.join(b, id_col, "full_outer")
        .select(
            id_col,
            "vec_rank",
            "bm25_rank",
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(k0) + F.col("vec_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(k0) + F.col("bm25_rank")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
    )


def duckdb_rrf_fuse(
    vec_hits_sql: str,
    bm25_hits_sql: str,
    k0: int = 60,
    id_col: str = "doc_id",
) -> str:
    """Oracle twin: both inputs SELECTs producing (id_col, score);
    identical 6-dp rank keys, identical two-term sum order."""
    return f"""
    WITH vh AS ({vec_hits_sql}),
    bh AS ({bm25_hits_sql}),
    vr AS (
        SELECT {id_col}, row_number() OVER (
            ORDER BY round(score, 6) DESC, {id_col} ASC) AS vec_rank
        FROM vh
    ),
    br AS (
        SELECT {id_col}, row_number() OVER (
            ORDER BY round(score, 6) DESC, {id_col} ASC) AS bm25_rank
        FROM bh
    )
    SELECT coalesce(vr.{id_col}, br.{id_col}) AS {id_col},
           vr.vec_rank, br.bm25_rank,
           (coalesce(1.0 / ({k0} + vr.vec_rank), 0.0)
            + coalesce(1.0 / ({k0} + br.bm25_rank), 0.0)) AS rrf
    FROM vr FULL OUTER JOIN br USING ({id_col})
    ORDER BY rrf DESC, {id_col} ASC
    """


def duckdb_hybrid_rerank(
    bm25_scored_cte: str,
    vec_hits_sql: str,
    fetch_k: int,
    alpha: float = DEFAULT_ALPHA,
    id_col: str = "doc_id",
    num_docs_sql: str = "(SELECT count(*) FROM documents)",
) -> str:
    """Oracle twin. `bm25_scored_cte` must be a complete SELECT producing
    (id_col, score); `vec_hits_sql` a SELECT producing (id_col, score)."""
    return f"""
    WITH bm25_scored AS ({bm25_scored_cte}),
    vec_hits AS ({vec_hits_sql}),
    bm25_top AS (
        -- rank on round(score,6): BM25 sums are order-sensitive in the
        -- last ulp across engines; rounding makes the candidate set
        -- deterministic (id tie-break handles rounded ties)
        SELECT {id_col} FROM bm25_scored WHERE score > 0.0
        ORDER BY round(score, 6) DESC, {id_col} ASC LIMIT {fetch_k}
    ),
    cand AS (
        SELECT coalesce(v.{id_col}, t.{id_col}) AS {id_col},
               coalesce(v.score, 0.0) AS vec_score
        FROM vec_hits v FULL OUTER JOIN bm25_top t USING ({id_col})
    ),
    cand2 AS (
        SELECT c.{id_col}, c.vec_score, coalesce(b.score, 0.0) AS bm25_score
        FROM cand c LEFT JOIN bm25_scored b USING ({id_col})
    ),
    vstats AS (SELECT min(vec_score) vmin, max(vec_score) vmax FROM cand2),
    bstats AS (
        SELECT CASE WHEN count(*) < {num_docs_sql} THEN least(coalesce(min(score), 0.0), 0.0)
                    ELSE min(score) END AS bmin,
               coalesce(greatest(max(score), 0.0), 0.0) AS bmax
        FROM bm25_scored
    )
    SELECT c.{id_col}, c.vec_score, c.bm25_score,
           ({alpha!r} * (c.vec_score - vstats.vmin)
                / greatest(vstats.vmax - vstats.vmin, 1e-6)
            + {1.0 - alpha!r} * (c.bm25_score - bstats.bmin)
                / greatest(bstats.bmax - bstats.bmin, 1e-6)) AS combined
    FROM cand2 c CROSS JOIN vstats CROSS JOIN bstats
    ORDER BY combined DESC, c.{id_col} ASC
    """
