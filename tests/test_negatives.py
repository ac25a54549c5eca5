"""Hard-negative mining (operators/negatives.py): band semantics,
self/positive exclusion, mode behavior, prune invariance."""

import pytest
from pyspark.sql import functions as F

from leann_rs_spark.operators.negatives import mine_hard_negatives
from tests.conftest import SF_SMOKE


def _corpus(spark):
    # 1-d embeddings: score(a, c) = a[0] * c[0]; anchor [1.0] scores
    # each row by its own value — band membership is readable.
    rows = [
        (0, [1.0], 0),   # the anchor
        (1, [0.9], 0),   # positive: pos_score = 0.9
        (2, [0.85], 1),  # negative in band (0.4, 0.9) for margin 0.5
        (3, [0.5], 1),   # negative in band
        (4, [0.95], 1),  # negative ABOVE pos_score → excluded (semi-hard)
        (5, [0.3], 1),   # negative below band → excluded
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )


def _anchors(spark):
    return spark.createDataFrame(
        [(0, [1.0], 0)],
        "anchor_id bigint, anchor_vec array<double>, anchor_label int",
    )


def test_semi_hard_band(spark):
    out = mine_hard_negatives(
        _corpus(spark), _anchors(spark), k=10, mode="semi_hard", margin=0.5
    ).collect()
    assert [(r["neg_id"], r["rank"]) for r in out] == [(2, 1), (3, 2)]
    for r in out:
        assert r["pos_score"] == pytest.approx(0.9)
        assert 0.4 < r["score"] < 0.9


def test_hard_mode_takes_top_negatives_regardless_of_band(spark):
    out = mine_hard_negatives(
        _corpus(spark), _anchors(spark), k=2, mode="hard"
    ).collect()
    # hardest negatives by raw score: 4 (0.95), 2 (0.85)
    assert [(r["neg_id"], r["rank"]) for r in out] == [(4, 1), (2, 2)]


def test_positives_and_self_never_mined(spark):
    out = mine_hard_negatives(
        _corpus(spark), _anchors(spark), k=10, mode="hard"
    ).collect()
    assert {r["neg_id"] for r in out}.isdisjoint({0, 1})


def test_semi_hard_drops_anchor_without_positive(spark):
    corpus = spark.createDataFrame(
        [(0, [1.0], 0), (1, [0.5], 1)],
        "vec_id bigint, embedding array<double>, label int",
    )
    semi = mine_hard_negatives(
        corpus, _anchors(spark), k=5, mode="semi_hard"
    ).collect()
    assert semi == []
    hard = mine_hard_negatives(
        corpus, _anchors(spark), k=5, mode="hard"
    ).collect()
    assert len(hard) == 1 and hard[0]["pos_score"] is None


def test_unknown_mode_raises(spark):
    with pytest.raises(ValueError):
        mine_hard_negatives(_corpus(spark), _anchors(spark), mode="easy")


def test_prune_invariance_on_corpus(spark):
    """The partition-local top-k (a partial WindowGroupLimit) is a
    physical optimization — results identical over 8 partitions and
    over the unpartitioned table, on the real embeddings."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )

    def run(corpus):
        return [
            (r["anchor_id"], r["neg_id"], r["score"], r["rank"])
            for r in mine_hard_negatives(
                corpus, anchors, k=5, mode="semi_hard", margin=0.5,
            ).collect()
        ]

    assert run(emb.repartition(8)) == run(emb)


def test_rank_one_is_hardest_in_band(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )
    rows = mine_hard_negatives(
        emb, anchors, k=5, mode="semi_hard", margin=0.8
    ).collect()
    assert rows, "margin 0.8 should produce a non-empty band on sf0.001"
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r["score"] < r["pos_score"] for r in rows)
