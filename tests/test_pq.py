"""Product quantization (operators/pq.py): encode determinism, ADC/refine
semantics, codebook policies, and the no-shuffle search plan."""

import pytest
from pyspark.sql import functions as F

from leann_rs_spark.operators.pq import (
    kmeans_subcodebooks,
    pq_encode,
    pq_encode_col,
    pq_reconstruct_col,
    pq_refine_recall_curve,
    pq_search,
    take_subcodebooks,
)
from leann_rs_spark.operators.search import exact_search
from tests.conftest import SF_SMOKE

M, K = 8, 16


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="module")
def cb(emb):
    return take_subcodebooks(emb, m=M, k=K)


def test_codebook_shape(cb):
    assert len(cb) == M
    assert all(len(sub) == K for sub in cb)
    assert all(len(cv) == 64 // M for sub in cb for cv in sub)


def test_codebook_rejects_indivisible_dims(emb):
    with pytest.raises(ValueError):
        take_subcodebooks(emb, m=7, k=K)


def test_codebook_sources_encode_to_themselves(emb, cb):
    """A vector whose sub-slices ARE codebook entries has distance 0 to
    its own sub-centroid, so (modulo exact duplicates, tie-broken by
    cid) it decodes back to itself bit-for-bit."""
    rows = (
        pq_encode(emb.filter(F.col("vec_id") < K), cb)
        .withColumn("recon", pq_reconstruct_col(F.col("code"), cb))
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .collect()
    )
    assert len(rows) == K
    for r in rows:
        assert [float(x) for x in r["recon"]] == pytest.approx(
            [float(x) for x in r["embedding"]], abs=0.0
        )


def test_codes_are_valid_and_deterministic(emb, cb):
    codes = pq_encode(emb, cb)
    bad = codes.filter(
        (F.size("code") != M)
        | F.exists("code", lambda c: (c < 0) | (c >= K))
    ).count()
    assert bad == 0
    a = {r["vec_id"]: list(r["code"]) for r in codes.collect()}
    b = {r["vec_id"]: list(r["code"]) for r in pq_encode(emb, cb).collect()}
    assert a == b


def test_full_refine_equals_exact(spark, emb, cb):
    """refine·k ≥ N degrades refined search to exact search — ids AND
    scores bit-identical (the refine scores are exact dot products)."""
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    n = emb.count()
    codes = pq_encode(emb, cb)
    refined = pq_search(
        codes, cb, qv, k=10, refine=(n // 10) + 1, vectors=emb
    ).collect()
    exact = exact_search(emb, qv, k=10, metric="ip").collect()
    assert [(r["vec_id"], r["score"]) for r in refined] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_adc_self_query_ranks_self_first(emb, cb):
    """The query's own row decodes to the closest code — ADC must rank
    the query vector itself at the top (sanity of the score direction)."""
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 7).head()["embedding"]]
    top = pq_search(pq_encode(emb, cb), cb, qv, k=3).collect()
    assert top[0]["vec_id"] == 7


def test_recall_curve_monotone_and_closes_at_one(emb, cb):
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    curve = pq_refine_recall_curve(
        emb, cb, queries, k=5, refines=[1, 4, (n // 5) + 1],
    ).collect()
    rec = [r["recall_r"] for r in curve]
    assert rec == sorted(rec)
    assert rec[-1] == 1.0
    assert all(0.0 <= x <= 1.0 for x in rec)


def test_kmeans_subcodebooks_shape_and_search(emb):
    cb2 = kmeans_subcodebooks(emb, m=M, k=4, seed=7)
    assert len(cb2) == M and all(len(s) == 4 for s in cb2)
    cb3 = kmeans_subcodebooks(emb, m=M, k=4, seed=7)
    assert cb2 == cb3  # seeded → reproducible codebook
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    top = pq_search(pq_encode(emb, cb2), cb2, qv, k=5).collect()
    assert len(top) == 5


def test_ivf_pq_full_probe_full_refine_equals_exact(spark, emb, cb):
    """nprobe = C prunes nothing; refine covering N rescores everything
    exactly — the composed path degrades to exact search bit-for-bit."""
    from leann_rs_spark.operators.ann import ivf_assign, take_centroids
    from leann_rs_spark.operators.pq import ivf_pq_search

    C = 8
    cents = take_centroids(emb, C)
    ac = pq_encode(ivf_assign(emb, cents), cb, extra_cols=["cluster_id"])
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 2).head()["embedding"]]
    n = emb.count()
    got = ivf_pq_search(
        ac, cents, cb, qv, k=10, nprobe=C, refine=(n // 10) + 1, vectors=emb
    ).collect()
    exact = exact_search(emb, qv, k=10, metric="ip").collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_ivf_pq_probing_prunes_candidates(emb, cb):
    """nprobe=1 results are a subset of the probed cluster's members."""
    from leann_rs_spark.operators.ann import ivf_assign, take_centroids
    from leann_rs_spark.operators.pq import ivf_pq_search

    cents = take_centroids(emb, 8)
    assigned = ivf_assign(emb, cents)
    ac = pq_encode(assigned, cb, extra_cols=["cluster_id"])
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 2).head()["embedding"]]
    got = ivf_pq_search(ac, cents, cb, qv, k=10, nprobe=1).collect()
    clusters = {
        r["cluster_id"]
        for r in assigned.join(
            emb.sparkSession.createDataFrame(
                [(r["vec_id"],) for r in got], "vec_id bigint"
            ),
            "vec_id",
        ).collect()
    }
    assert len(clusters) == 1


def test_ivf_pq_batch_matches_single_and_exact(spark, emb, cb):
    """The batch form per query ≡ the single-query form; with full
    probes + covering refine both ≡ exact batch search."""
    from leann_rs_spark.operators.ann import ivf_assign, take_centroids
    from leann_rs_spark.operators.pq import (
        ivf_pq_search, ivf_pq_search_batch,
    )
    from leann_rs_spark.operators.search import batch_search

    C = 8
    cents = take_centroids(emb, C)
    ac = pq_encode(ivf_assign(emb, cents), cb, extra_cols=["cluster_id"])
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = ivf_pq_search_batch(
        ac, cents, cb, queries, k=4, nprobe=2, refine=2, vectors=emb
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    for qid in (0, 1, 2):
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == qid).head()["embedding"]]
        single = ivf_pq_search(
            ac, cents, cb, qv, k=4, nprobe=2, refine=2, vectors=emb
        ).collect()
        assert by_q[qid] == [(r["vec_id"], r["score"]) for r in single]
    n = emb.count()
    full = ivf_pq_search_batch(
        ac, cents, cb, queries, k=4, nprobe=C, refine=(n // 4) + 1,
        vectors=emb,
    ).collect()
    exact = batch_search(emb, queries, k=4, metric="ip").collect()
    key = lambda rows: sorted(
        (r["query_id"], r["vec_id"], r["score"], r["rank"]) for r in rows
    )
    assert key(full) == key(exact)


def test_ivf_pq_refine_requires_vectors(emb, cb):
    from leann_rs_spark.operators.ann import ivf_assign, take_centroids
    from leann_rs_spark.operators.pq import ivf_pq_search

    cents = take_centroids(emb, 8)
    ac = pq_encode(ivf_assign(emb, cents), cb, extra_cols=["cluster_id"])
    with pytest.raises(ValueError):
        ivf_pq_search(ac, cents, cb, [0.0] * 64, refine=2)


def test_k_larger_than_corpus_returns_all(emb, cb):
    n = emb.count()
    rows = pq_search(pq_encode(emb, cb), cb, [1.0] * 64, k=n + 50).collect()
    assert len(rows) == n


def test_nprobe_exceeding_centroid_count_is_safe(emb, cb):
    from leann_rs_spark.operators.ann import ivf_assign, take_centroids
    from leann_rs_spark.operators.pq import ivf_pq_search

    cents = take_centroids(emb, 4)
    ac = pq_encode(ivf_assign(emb, cents), cb, extra_cols=["cluster_id"])
    rows = ivf_pq_search(ac, cents, cb, [1.0] * 64, k=5, nprobe=99).collect()
    assert len(rows) == 5


def test_kernel_encode_bit_identical_to_expression(spark, emb, cb):
    """The numpy kernel (sequential d-fold, argmin-first tie-break)
    must reproduce the Catalyst expression form code-for-code — the
    lsh_near_dups kernel precedent. Checked on the real table and on
    a duplicate-heavy corpus (exact ties exercise the tie-break)."""
    a = {r["vec_id"]: list(r["code"]) for r in pq_encode(emb, cb).collect()}
    b = {
        r["vec_id"]: list(r["code"])
        for r in pq_encode(emb, cb, kernel=True).collect()
    }
    assert a == b
    import random

    rng = random.Random(3)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    rows = [(i, base if i % 2 == 0 else
             [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    dup = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cb2 = take_subcodebooks(dup, m=8, k=8)
    a2 = {r["vec_id"]: list(r["code"]) for r in pq_encode(dup, cb2).collect()}
    b2 = {
        r["vec_id"]: list(r["code"])
        for r in pq_encode(dup, cb2, kernel=True).collect()
    }
    assert a2 == b2


def test_kernel_encode_carries_extra_cols(spark, emb, cb):
    from leann_rs_spark.operators.ann import ivf_assign, take_centroids

    assigned = ivf_assign(emb, take_centroids(emb, 4))
    out = pq_encode(
        assigned, cb, extra_cols=["embedding", "cluster_id"], kernel=True
    )
    assert set(out.columns) == {"vec_id", "code", "embedding", "cluster_id"}
    row = out.filter(F.col("vec_id") == 3).head()
    src = assigned.filter(F.col("vec_id") == 3).head()
    assert list(row["embedding"]) == list(src["embedding"])
    assert row["cluster_id"] == src["cluster_id"]


def test_pack_unpack_roundtrip(spark):
    from leann_rs_spark.operators.pq import pq_bits, pq_pack_col, pq_unpack_col

    assert pq_bits(16) == 4 and pq_bits(256) == 8 and pq_bits(2) == 1
    m, k = 8, 16
    bits = pq_bits(k)
    rows = [([(i * 7 + j * 3) % k for j in range(m)],) for i in range(50)]
    df = spark.createDataFrame(rows, "code array<int>")
    out = df.select(
        "code",
        pq_unpack_col(pq_pack_col(F.col("code"), m, bits), m, bits).alias("rt"),
    ).collect()
    for r in out:
        assert list(r["rt"]) == list(r["code"])
    with pytest.raises(ValueError):
        pq_pack_col(F.col("code"), 8, 8)  # 64 bits > 60-bit budget


def test_codebook_rows_roundtrip(spark, cb):
    from leann_rs_spark.operators.pq import codebook_from_rows, codebook_to_rows

    df = spark.createDataFrame(
        codebook_to_rows(cb), schema="m int, cid int, cv array<double>"
    )
    assert codebook_from_rows(df.collect()) == cb


def test_adc_search_plan_has_no_exchange(emb, cb):
    """ADC top-k is Scan → Project → TakeOrdered: the corpus is never
    shuffled (the reduction happens in the take, not an Exchange)."""
    qv = [1.0] * 64
    plan = (
        pq_search(pq_encode(emb, cb), cb, qv, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan


def test_encode_plan_is_shuffle_free(emb, cb):
    plan = (
        pq_encode(emb, cb)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
