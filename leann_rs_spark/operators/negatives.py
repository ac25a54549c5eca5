"""Hard-negative mining for contrastive / embedding training.

The training-data counterpart of the serving-side search operators
(SURVEY §2.5 — no reference analog): given anchor vectors with class
labels, mine the negatives an embedding model should be trained
against. Two published selection rules:

- `mode="hard"`: the top-k highest-scoring different-label rows per
  anchor — the classic "BM25/ANN hard negatives" recipe (DPR,
  Karpukhin et al. 2020, arXiv:2004.04906).
- `mode="semi_hard"`: negatives scoring BELOW the anchor's best
  positive but within `margin` of it (FaceNet, Schroff et al. 2015,
  arXiv:1503.03832 §3.3, restated for similarity: s(a,p) − margin <
  s(a,n) < s(a,p)) — negatives that are wrong but not trivially so,
  the band that produces gradient without collapsing training.

Scale shape (the batch_search layout, operators/search.py):
- anchors broadcast into the corpus scan — the corpus (the 100 TB
  side) is scored map-side ONCE and never shuffled;
- per-anchor best-positive is a map-side-combined max over the same
  scored pass (≤Q rows after partials) broadcast back;
- the banded negatives are pruned to k per (partition, anchor) in an
  Arrow batch (selection only — no float math in Python) BEFORE the
  single per-anchor ranking shuffle, so shuffle volume is P·k·Q, not
  the band size.

Anchors with no same-label positive have no semi-hard band and are
dropped in semi_hard mode (emitted normally in hard mode, where
pos_score is NULL-safe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from leann_rs_spark.functions.vector import dot, duckdb_dot
from leann_rs_spark.operators.search import topk_batch


def mine_hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    mode: str = "semi_hard",
    margin: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
    anchor_vec_col: str = "anchor_vec",
    anchor_label_col: str = "anchor_label",
    prune_partitions: bool = True,
) -> DataFrame:
    """→ (anchor_id, neg_id, score DOUBLE, pos_score DOUBLE, rank)
    — top-k selected negatives per anchor, rank 1 = highest score,
    ties broken by neg_id ASC. pos_score is the anchor's best
    same-label score (self excluded); NULL in hard mode when the
    anchor has no positive."""
    if mode not in ("hard", "semi_hard"):
        raise ValueError(f"unknown mode {mode!r} (expected 'hard' or 'semi_hard')")

    a = anchors.select(
        F.col(anchor_id_col).alias("_aid"),
        F.col(anchor_vec_col).alias("_avec"),
        F.col(anchor_label_col).alias("_albl"),
    )
    scored = corpus.join(F.broadcast(a)).select(
        F.col("_aid"),
        F.col("_albl"),
        F.col(id_col).alias("_cid"),
        F.col(label_col).alias("_clbl"),
        dot(F.col(vec_col), F.col("_avec")).alias("_s"),
    )

    pos = (
        scored.filter(
            (F.col("_clbl") == F.col("_albl")) & (F.col("_cid") != F.col("_aid"))
        )
        .groupBy("_aid")
        .agg(F.max("_s").alias("pos_score"))
    )

    neg = scored.filter(F.col("_clbl") != F.col("_albl"))
    join_type = "left" if mode == "hard" else "inner"
    neg = neg.join(F.broadcast(pos), "_aid", join_type)
    if mode == "semi_hard":
        neg = neg.filter(
            (F.col("_s") < F.col("pos_score"))
            & (F.col("_s") > F.col("pos_score") - F.lit(float(margin)))
        )

    neg = neg.select(
        F.col("_aid").alias("anchor_id"),
        F.col("_cid").alias("neg_id"),
        F.col("_s").alias("score"),
        "pos_score",
    )
    return topk_batch(
        neg, k, id_col="neg_id", query_id_col="anchor_id",
        prune_partitions=prune_partitions,
    ).orderBy("anchor_id", "rank")


def duckdb_mine_hard_negatives(
    anchors_sql: str,
    k: int = 5,
    mode: str = "semi_hard",
    margin: float = 0.5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> str:
    """Oracle twin. `anchors_sql` is a SELECT producing
    (anchor_id, anchor_vec, anchor_label)."""
    score = duckdb_dot(f"c.{vec_col}", "a.anchor_vec")
    band = (
        "WHERE n._s < n.pos_score AND n._s > n.pos_score - "
        f"{float(margin)!r}"
        if mode == "semi_hard"
        else ""
    )
    join = "JOIN" if mode == "semi_hard" else "LEFT JOIN"
    return f"""
    WITH a AS ({anchors_sql}),
    scored AS (
        SELECT a.anchor_id, a.anchor_label,
               c.{id_col} AS cid, c.{label_col} AS clbl,
               {score} AS _s
        FROM {table} c, a
    ),
    pos AS (
        SELECT anchor_id, max(_s) AS pos_score
        FROM scored
        WHERE clbl = anchor_label AND cid <> anchor_id
        GROUP BY anchor_id
    ),
    neg AS (
        SELECT s.anchor_id, s.cid, s._s, pos.pos_score
        FROM scored s {join} pos USING (anchor_id)
        WHERE s.clbl <> s.anchor_label
    ),
    banded AS (SELECT * FROM neg n {band}),
    ranked AS (
        SELECT anchor_id, cid AS neg_id, _s AS score, pos_score,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY _s DESC, cid ASC) AS rank
        FROM banded
    )
    SELECT * FROM ranked WHERE rank <= {k}
    ORDER BY anchor_id, rank
    """
