"""Binary quantization (operators/bq.py): packing layout, driver/JVM
pack agreement, Hamming identity, refine degradation, recall floor,
plan pins."""

import pytest
from pyspark.sql import functions as F

from leann_rs_spark.operators.bq import (
    bq_encode,
    bq_hamming_col,
    bq_query_words,
    bq_search,
    bq_train,
)
from leann_rs_spark.operators.search import exact_search
from tests.conftest import SF_SMOKE

DIMS = 64


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="module")
def thr(emb):
    return bq_train(emb, dims=DIMS)


def test_word_layout_spans_63_bit_words(spark):
    """64 dims → 2 words; dim 64 (0-based 63) lands in word 2 bit 0."""
    dims = 64
    thr = [0.0] * dims
    vec = [0.0] * dims
    vec[0] = 1.0   # word 1, bit 0
    vec[62] = 1.0  # word 1, bit 62
    vec[63] = 1.0  # word 2, bit 0
    df = spark.createDataFrame(
        [(0, vec)], "vec_id bigint, embedding array<double>"
    )
    row = bq_encode(df, thr).head()
    assert list(row["bcode"]) == [(1 << 0) | (1 << 62), 1]
    assert bq_query_words(vec, thr) == [(1 << 0) | (1 << 62), 1]


def test_driver_pack_matches_jvm_pack(emb, thr):
    """Every corpus vector packed by the JVM expression equals the
    driver-side pure-Python pack — the query path and the corpus path
    can never disagree on a bit."""
    rows = (
        bq_encode(emb, thr)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .collect()
    )
    for r in rows:
        assert list(r["bcode"]) == bq_query_words(
            [float(x) for x in r["embedding"]], thr
        ), r["vec_id"]


def test_hamming_self_is_zero(emb, thr):
    """bcode vs its own query words → Hamming 0 for every row."""
    rows = (
        bq_encode(emb, thr)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .collect()
    )
    codes = bq_encode(emb, thr)
    sample = rows[:5]
    for r in sample:
        qw = bq_query_words([float(x) for x in r["embedding"]], thr)
        h = (
            codes.filter(F.col("vec_id") == r["vec_id"])
            .select(bq_hamming_col(F.col("bcode"), qw).alias("h"))
            .head()["h"]
        )
        assert h == 0


def test_full_refine_equals_exact(emb, thr):
    """refine·k ≥ N → the rescore sees every row → exact bit-for-bit."""
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 5).head()["embedding"]]
    n = emb.count()
    got = bq_search(
        bq_encode(emb, thr), thr, qv, k=10, refine=(n // 10) + 1, vectors=emb
    ).collect()
    exact = exact_search(emb, qv, k=10, metric="ip").collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_bq_recall_floor_at_refine4(emb, thr):
    """1 bit/dim is coarse but the refine=4 shortlist should still
    recover most of the exact top-10 on this corpus (self-query is
    always Hamming-0, so the probe's own id is guaranteed)."""
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 5).head()["embedding"]]
    got = {
        r["vec_id"]
        for r in bq_search(
            bq_encode(emb, thr), thr, qv, k=10, refine=4, vectors=emb
        ).collect()
    }
    exact = {r["vec_id"] for r in exact_search(emb, qv, k=10, metric="ip").collect()}
    assert 5 in got
    assert len(got & exact) >= 5


def test_refine_requires_vectors(emb, thr):
    with pytest.raises(ValueError):
        bq_search(bq_encode(emb, thr), thr, [0.0] * DIMS, refine=2)


def test_encode_plan_is_shuffle_free(emb, thr):
    plan = bq_encode(emb, thr)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_shortlist_plan_is_take_ordered(emb, thr):
    """The Hamming shortlist must plan as TakeOrderedAndProject —
    per-partition heap + driver merge, no shuffle of the code table."""
    qw = bq_query_words([0.0] * DIMS, thr)
    plan = (
        bq_encode(emb, thr)
        .select("vec_id", bq_hamming_col(F.col("bcode"), qw).alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(40)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


# ---------------------------------------------------------------- MRL


def test_mrl_full_d_refine0_equals_exact_cosine(emb):
    """d = D with no refine ≡ exact cosine search bit-for-bit."""
    from leann_rs_spark.operators.search import mrl_search

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 5).head()["embedding"]]
    got = mrl_search(emb, qv, d=DIMS, k=10).collect()
    exact = exact_search(emb, qv, k=10, metric="cosine").collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_mrl_full_refine_equals_exact_ip(emb):
    """refine·k ≥ N → full-dim rescore sees everything → exact IP."""
    from leann_rs_spark.operators.search import mrl_search

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 5).head()["embedding"]]
    n = emb.count()
    got = mrl_search(emb, qv, d=8, k=10, refine=(n // 10) + 1).collect()
    exact = exact_search(emb, qv, k=10, metric="ip").collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_mrl_recall_grows_with_refine(emb):
    """These synthetic embeddings spread information uniformly across
    dims (they are not MRL-trained), so a 16-dim prefix keeps only
    1/4 of the signal — absolute recall is low by construction
    (measured 3/10 at refine=3). What the funnel must still deliver:
    monotone recall in the refine factor, closing at 10/10 when the
    shortlist covers the corpus."""
    from leann_rs_spark.operators.search import mrl_search

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 5).head()["embedding"]]
    exact = {r["vec_id"] for r in exact_search(emb, qv, k=10, metric="ip").collect()}
    n = emb.count()

    def recall(refine):
        got = {
            r["vec_id"]
            for r in mrl_search(emb, qv, d=16, k=10, refine=refine).collect()
        }
        return len(got & exact)

    r3, r10, rall = recall(3), recall(10), recall((n // 10) + 1)
    assert r3 >= 2
    assert r3 <= r10 <= rall == 10


# ---------------------------------------------------------------- MMR


def _mmr_corpus(spark):
    # 2-d: query [1, 0.3] (NOT equal to any candidate — with IP and
    # query == first pick, step-2 MMR keys collapse to a multiple of
    # rel and the test shows nothing). ids 0,1 near-identical
    # high-rel; id 2 diverse but relevant; id 3 low-rel.
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.99, 0.02]),
        (2, [0.6, 0.8]),
        (3, [0.1, 0.1]),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_mmr_first_pick_is_top_rel(spark):
    from leann_rs_spark.operators.search import mmr_search

    out = mmr_search(_mmr_corpus(spark), [1.0, 0.3], k=1, fetch_k=4).collect()
    assert [(r["rank"], r["vec_id"]) for r in out] == [(1, 0)]


def test_mmr_diversifies_away_from_near_dup(spark):
    """With λ=0.5 the near-duplicate of the first pick (id 1,
    sim≈0.99) loses to the diverse id 2 at rank 2."""
    from leann_rs_spark.operators.search import mmr_search

    out = mmr_search(
        _mmr_corpus(spark), [1.0, 0.3], k=3, fetch_k=4, lam=0.5
    ).collect()
    assert [r["vec_id"] for r in out] == [0, 2, 1]


def test_mmr_lambda1_is_plain_topk(spark):
    from leann_rs_spark.operators.search import mmr_search

    out = mmr_search(
        _mmr_corpus(spark), [1.0, 0.3], k=3, fetch_k=4, lam=1.0
    ).collect()
    assert [r["vec_id"] for r in out] == [0, 1, 2]


def test_mmr_k_exceeding_pool_returns_pool(spark):
    from leann_rs_spark.operators.search import mmr_search

    out = mmr_search(_mmr_corpus(spark), [1.0, 0.3], k=10, fetch_k=4).collect()
    assert len(out) == 4
    assert [r["rank"] for r in out] == [1, 2, 3, 4]


# ---------------------------------------------------------------- IVF-BQ


def test_ivfbq_full_probe_full_refine_equals_exact(emb, thr):
    """nprobe = C and refine·k >= N degrade the composition to exact."""
    from leann_rs_spark.operators.ann import (
        ivf_assign, ivf_probe, take_centroids,
    )
    from leann_rs_spark.operators.bq import bq_encode_col

    cents = take_centroids(emb, 8)
    codes = ivf_assign(emb, cents).select(
        "vec_id", "cluster_id",
        bq_encode_col(F.col("embedding"), thr).alias("bcode"),
    )
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 5).head()["embedding"]]
    n = emb.count()
    got = bq_search(
        codes.filter(ivf_probe(cents, qv, 8)), thr, qv, k=10,
        refine=(n // 10) + 1, vectors=emb,
    ).collect()
    exact = exact_search(emb, qv, k=10, metric="ip").collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_ivfbq_nprobe1_stays_in_one_cluster(emb, thr):
    from leann_rs_spark.operators.ann import (
        ivf_assign, ivf_probe, take_centroids,
    )
    from leann_rs_spark.operators.bq import bq_encode_col

    cents = take_centroids(emb, 8)
    assigned = ivf_assign(emb, cents)
    codes = assigned.select(
        "vec_id", "cluster_id",
        bq_encode_col(F.col("embedding"), thr).alias("bcode"),
    )
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 5).head()["embedding"]]
    hits = bq_search(
        codes.filter(ivf_probe(cents, qv, 1)), thr, qv, k=10, refine=0
    ).collect()
    ids = [r["vec_id"] for r in hits]
    clusters = {
        r["cluster_id"]
        for r in assigned.filter(F.col("vec_id").isin(ids)).collect()
    }
    assert len(clusters) == 1


def test_bq_batch_full_refine_equals_exact_per_query(emb, thr):
    """Batch form, refine·k >= N → exact per-query top-k."""
    from leann_rs_spark.operators.bq import bq_search_batch
    from leann_rs_spark.operators.search import batch_search

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    n = emb.count()
    got = bq_search_batch(
        bq_encode(emb, thr), thr, queries, k=5, refine=(n // 5) + 1,
        vectors=emb,
    ).collect()
    want = batch_search(emb, queries, k=5, metric="ip").collect()
    assert [(r["query_id"], r["vec_id"], r["score"], r["rank"]) for r in got] == [
        (r["query_id"], r["vec_id"], r["score"], r["rank"]) for r in want
    ]


def test_bq_batch_prune_invariance(emb, thr):
    from leann_rs_spark.operators.bq import bq_search_batch

    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    def run(prune):
        return [
            (r["query_id"], r["vec_id"], r["rank"])
            for r in bq_search_batch(
                bq_encode(emb.repartition(8), thr), thr, queries,
                k=5, refine=3, vectors=emb, prune_partitions=prune,
            ).collect()
        ]

    assert run(True) == run(False)
