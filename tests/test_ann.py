"""IVF approximate search: exactness degradation invariant + oracle parity.

The key invariant: probing ALL clusters must reproduce exact search
bit-for-bit (IVF only prunes candidates, never rescores). Partial probes
are pinned against the DuckDB oracle running the same assign/probe math.
"""

import pytest
from pyspark.sql import functions as F

from leann_rs_spark.operators.ann import (
    duckdb_ivf_search,
    ivf_assign,
    ivf_search,
    take_centroids,
)
from leann_rs_spark.operators.search import exact_search

from conftest import SF_SMOKE

N_CENT = 8


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="module")
def assigned(emb):
    cents = take_centroids(emb, N_CENT)
    return ivf_assign(emb, cents).cache()


def _qv(emb, vec_id):
    return list(emb.filter(F.col("vec_id") == vec_id).head()["embedding"])


def test_assignment_total(emb, assigned):
    assert assigned.count() == emb.count()
    clusters = {r["cluster_id"] for r in assigned.select("cluster_id").distinct().collect()}
    assert clusters <= set(range(N_CENT))


def test_full_probe_equals_exact(emb, assigned):
    qv = _qv(emb, 7)
    cents = take_centroids(emb, N_CENT)
    approx = ivf_search(assigned, cents, qv, k=10, nprobe=N_CENT).collect()
    exact = exact_search(emb, qv, k=10, metric="ip").collect()
    assert [(r["vec_id"], r["score"]) for r in approx] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_partial_probe_matches_oracle(emb, assigned, duck):
    qv = _qv(emb, 3)
    cents = take_centroids(emb, N_CENT)
    got = [
        (r["vec_id"], round(r["score"], 9))
        for r in ivf_search(assigned, cents, qv, k=10, nprobe=3).collect()
    ]
    want = [
        (int(r[0]), round(r[1], 9))
        for r in duck.sql(
            duckdb_ivf_search(query_vec_id=3, k=10, nprobe=3, n_centroids=N_CENT)
        ).fetchall()
    ]
    assert got == want


def test_partial_probe_recall_reasonable(emb, assigned):
    """Probing half the clusters should still recover a decent share of
    the true top-10 (sanity, not a strict recall guarantee)."""
    qv = _qv(emb, 11)
    cents = take_centroids(emb, N_CENT)
    approx = {r["vec_id"] for r in ivf_search(assigned, cents, qv, k=10, nprobe=4).collect()}
    exact = {r["vec_id"] for r in exact_search(emb, qv, k=10, metric="ip").collect()}
    assert len(approx & exact) >= 3


def test_lsh_near_dups_subset_and_recall(spark):
    """lsh_near_dups returns a verified SUBSET of the exact pair set
    (precision 1.0 by construction); at a high threshold (the dedup
    regime — planted near-dup documents, cos ≥ 0.97) the banded sketch's
    recall is pinned high. Runs on hash-embedded documents because the
    raw synthetic embeddings contain no near pairs (max cos ≈ 0.48)."""
    from leann_rs_spark.operators.ann import lsh_near_dups
    from leann_rs_spark.operators.dedup import embedding_near_dups
    from leann_rs_spark.operators.embedder import embed_documents

    dims, tau = 32, 0.97
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    de = embed_documents(docs, dims=dims).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(
            de, threshold=tau, assume_normalized=True
        ).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in lsh_near_dups(
            de, dims=dims, threshold=tau, assume_normalized=True
        ).collect()
    }
    assert approx <= exact
    assert exact  # corpus must actually contain near pairs at tau
    assert len(approx) / len(exact) >= 0.8


def test_lsh_hot_bucket_cap_bounds_pairs_both_paths(spark):
    """B identical embeddings share the full sign-bit sketch → one hot
    bucket per band; max_bucket_size chains it to O(B) output pairs on
    BOTH verify paths (kernel and expression), with scores identical
    to the uncapped path and under-cap pairs unchanged."""
    from leann_rs_spark.operators.ann import lsh_near_dups
    from leann_rs_spark.operators.embedder import embed_documents

    dims, tau, B = 32, 0.97, 300
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    de = embed_documents(docs, dims=dims).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    src = de.filter(F.col("vec_id") == 0).select("embedding")
    plant = (
        spark.range(B)
        .crossJoin(F.broadcast(src))
        .select((F.col("id") + 1_000_000).alias("vec_id"), "embedding")
    )
    emb = de.unionByName(plant)

    from leann_rs_spark.operators.dedup import dedup_keep_canonical

    ids = emb.select(F.col("vec_id").alias("doc_id"))
    for normalized in (True, False):
        capped = lsh_near_dups(
            emb, dims=dims, threshold=tau,
            assume_normalized=normalized, max_bucket_size=50,
        )
        planted_pairs = [
            (r["id_a"], r["id_b"])
            for r in capped.collect()
            if r["id_a"] >= 1_000_000 or r["id_b"] >= 1_000_000
        ]
        # identical vectors: spanning set ≤ 2·B pairs (chain+star over
        # the (B+1)-member cluster incl. source vec 0), not B²/2
        assert 0 < len(planted_pairs) <= 2 * B + 10, (
            normalized, len(planted_pairs)
        )
        # the deliverable guarantee (hedged per the helper's contract):
        # the NEAR-IDENTICAL cluster — identical sketches, contiguous
        # in the window order — keeps its component and keep decisions
        # exactly. Real docs that merely share one band with the hot
        # bucket are the documented spanning-approximation case (their
        # cross pairs may drop if found in no other band), so the
        # equality is asserted on the planted cluster + its source.
        uncapped = lsh_near_dups(
            emb, dims=dims, threshold=tau, assume_normalized=normalized
        )

        def keep_set(pairs, member_min):
            return {
                (r["doc_id"], r["cluster_id"], r["keep"])
                for r in dedup_keep_canonical(ids, pairs).collect()
                if r["doc_id"] >= member_min or r["doc_id"] == 0
            }

        assert keep_set(capped, 1_000_000) == keep_set(
            uncapped, 1_000_000
        ), normalized
        # with a cap no bucket reaches, the guarded path is a no-op:
        # capped ≡ uncapped pair-for-pair, scores included (the sf0.001
        # corpus itself holds natural >50 buckets — its texts contain
        # planted near-dups — so the no-op cap must clear corpus size)
        a = sorted(
            (r["id_a"], r["id_b"], round(r["cos"], 9))
            for r in lsh_near_dups(
                de, dims=dims, threshold=tau,
                assume_normalized=normalized, max_bucket_size=100_000,
            ).collect()
        )
        b = sorted(
            (r["id_a"], r["id_b"], round(r["cos"], 9))
            for r in lsh_near_dups(
                de, dims=dims, threshold=tau, assume_normalized=normalized
            ).collect()
        )
        assert a == b and len(a) >= 1, normalized


def test_lsh_incremental_matches_cross_split_pairs(spark):
    """Incremental (new vs corpus) must return exactly the symmetric
    operator's cross-split pairs with the same cos; the persisted-
    sketch path must agree; the new side broadcasts."""
    from leann_rs_spark.operators.ann import (
        lsh_near_dups,
        lsh_near_dups_incremental,
        lsh_sketch_table,
    )
    from leann_rs_spark.operators.embedder import embed_documents

    dims, tau, split = 32, 0.97, 400
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    de = embed_documents(docs, dims=dims).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    ).persist()
    de.count()
    corpus = de.filter(F.col("vec_id") < split)
    new = de.filter(F.col("vec_id") >= split)

    sym = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])): round(r["cos"], 9)
        for r in lsh_near_dups(
            de, dims=dims, threshold=tau, assume_normalized=True
        ).collect()
        if (r["id_a"] >= split) != (r["id_b"] >= split)
    }
    inc_df = lsh_near_dups_incremental(
        corpus, new, dims=dims, threshold=tau, assume_normalized=True
    )
    inc = {
        (r["new_id"], r["corpus_id"]): round(r["cos"], 9)
        for r in inc_df.collect()
    }
    assert inc == sym and inc

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        inc_df.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()

    sk = lsh_sketch_table(corpus, dims).persist()
    sk.count()
    pre = {
        (r["new_id"], r["corpus_id"]): round(r["cos"], 9)
        for r in lsh_near_dups_incremental(
            corpus, new, dims=dims, threshold=tau,
            assume_normalized=True, corpus_sketches=sk,
        ).collect()
    }
    assert pre == inc
    sk.unpersist()
    de.unpersist()


def test_lloyd_refine_preserves_labels_and_reduces_error(spark):
    """Warm-start refinement must keep centroid ids (label k out = the
    refined version of k in), keep empty-cluster vectors, return unit
    norms, and not worsen the spherical quantization objective
    (mean best-dot over the corpus)."""
    import math

    from leann_rs_spark.operators.ann import (
        ivf_assign,
        lloyd_refine_centroids,
    )

    # controlled geometry: two tight direction groups around e0 and
    # e1; centroids start PERTURBED off the group means, plus a dead
    # centroid along -e0 that every vector scores strictly below its
    # own group's centroid (no member ever, under inner product)
    import random

    rng = random.Random(7)

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = []
    for i in range(40):
        axis = i % 2
        v = [0.0] * 4
        v[axis] = 1.0
        v[2] = rng.uniform(-0.1, 0.1)
        rows.append((i, unit(v)))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).persist()
    emb.count()
    cents0 = spark.createDataFrame(
        [
            (0, unit([1.0, 0.3, 0.0, 0.0])),   # perturbed e0
            (1, unit([0.3, 1.0, 0.0, 0.0])),   # perturbed e1
            (99, [-1.0, 0.0, 0.0, 0.0]),       # unreachable under IP
        ],
        "centroid_id bigint, centroid_vec array<double>",
    )
    refined = lloyd_refine_centroids(emb, cents0, iters=2)
    got = {r["centroid_id"]: r["centroid_vec"] for r in refined.collect()}
    assert set(got) == {0, 1, 99}
    for v in got.values():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-9
    assert got[99] == [-1.0, 0.0, 0.0, 0.0]  # empty cluster carried
    # labels persisted toward the true group means: refined 0 points
    # at e0's group, refined 1 at e1's
    assert got[0][0] > 0.9 and got[1][1] > 0.9

    def objective(cents):
        scored = ivf_assign(emb, cents)
        from leann_rs_spark.functions.vector import dot as _dot

        joined = scored.join(
            cents.select(
                F.col("centroid_id").alias("cluster_id"), "centroid_vec"
            ),
            "cluster_id",
        )
        return joined.agg(
            F.avg(_dot(F.col("embedding"), F.col("centroid_vec")))
        ).head()[0]

    assert objective(refined) >= objective(cents0) - 1e-9


def test_predicate_pushdown_into_probe(emb, assigned):
    qv = _qv(emb, 5)
    cents = take_centroids(emb, N_CENT)
    out = ivf_search(
        assigned, cents, qv, k=10, nprobe=N_CENT, predicate=F.col("vec_id") % 2 == 0
    ).collect()
    assert out and all(r["vec_id"] % 2 == 0 for r in out)


def test_large_codebook_broadcast_no_literal_blowup(emb):
    """At C=1024 the assignment plan must use a broadcast relation, not
    C x dims inline float literals: the optimized-plan string stays
    small and literal-free where the inline path would embed ~tens of
    thousands of float constants."""
    import numpy as np
    from pyspark.sql import Row

    spark = emb.sparkSession
    dims = len(emb.head()["embedding"])
    rng = np.random.default_rng(7)
    cents = spark.createDataFrame(
        [
            Row(centroid_id=i, centroid_vec=[float(x) for x in rng.standard_normal(dims)])
            for i in range(1024)
        ]
    )
    out = ivf_assign(emb, cents)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan
    assert len(plan) < 50_000, f"plan string blew up: {len(plan)} chars"
    # and it still assigns every vector to exactly one cluster
    assert out.count() == emb.count()


def test_inline_and_broadcast_paths_agree(emb):
    """Forcing the broadcast-join path on a small codebook must produce
    bit-identical assignments to the inline-literal path (same dot()
    fold, same struct-max tie-break)."""
    cents = take_centroids(emb, N_CENT)
    inline = {
        r["vec_id"]: r["cluster_id"]
        for r in ivf_assign(emb, cents).collect()
    }
    bcast = {
        r["vec_id"]: r["cluster_id"]
        for r in ivf_assign(emb, cents, inline_max=0).collect()
    }
    assert bcast == inline


def test_kmeans_codebook_drop_in(emb):
    """kmeans_centroids returns the take_centroids shape and slots into
    the same assign/search pipeline; full probe still degrades to
    exact search regardless of codebook policy."""
    from leann_rs_spark.operators.ann import kmeans_centroids

    cents = kmeans_centroids(emb, N_CENT, seed=42).cache()
    assert cents.count() == N_CENT
    assert set(cents.columns) == {"centroid_id", "centroid_vec"}
    assigned = ivf_assign(emb, cents).cache()
    qv = _qv(emb, 7)
    approx = ivf_search(assigned, cents, qv, k=10, nprobe=N_CENT).collect()
    exact = exact_search(emb, qv, k=10, metric="ip").collect()
    assert [(r["vec_id"], r["score"]) for r in approx] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_lsh_bucket_splitting_is_result_identical(spark):
    """Oversized (band, bits) buckets are split into ≤bucket_block
    sub-blocks and scored as sub-block pairs — the pair set and scores
    must be IDENTICAL to the unsplit kernel, including a duplicate-heavy
    corpus that lands most rows in one bucket (the regime the split
    exists for)."""
    from leann_rs_spark.operators.ann import lsh_near_dups
    from leann_rs_spark.operators.embedder import embed_documents

    dims = 32
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(200)
    # duplicate-heavy: every doc appears twice under distinct ids
    twice = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    de = embed_documents(twice, dims=dims).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    kw = dict(dims=dims, threshold=0.97, assume_normalized=True)
    base = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in lsh_near_dups(de, bucket_block=10**9, **kw).collect()
    }
    split = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in lsh_near_dups(de, bucket_block=7, **kw).collect()
    }
    assert base  # the planted duplicates must collide
    assert split == base


def test_signbit_sketch_matches_unrolled_fold(spark):
    """_signbit_sketch (the HOF transform+dot form all LSH operators
    share) must be bit-identical to the fully-unrolled left-associated
    literal multiply-add form — the round-10 bench kept the HOF form
    (the unroll's giant generated method mis-ranks; see the helper's
    docstring), and this equality keeps any future swap between the
    two physical shapes safe: same accumulation order, same bits, same
    LSH bucket sets."""
    from leann_rs_spark.operators.ann import _hyperplanes, _signbit_sketch
    from leann_rs_spark.operators.embedder import embed_documents

    planes, dims = 32, 32
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    de = embed_documents(docs, dims=dims).select("doc_id", "embedding")
    hp = _hyperplanes(planes, dims)
    vec = F.col("embedding")

    def plane(hv):
        s = vec[0] * F.lit(hv[0])
        for d in range(1, len(hv)):
            s = s + vec[d] * F.lit(hv[d])
        return F.when(s > 0, F.lit(1)).otherwise(F.lit(0))

    unrolled = F.array(*[plane(hv) for hv in hp])
    mismatched = (
        de.select(unrolled.alias("a"), _signbit_sketch(vec, hp).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert mismatched == 0


def test_batch_full_probe_equals_exact_batch(spark, emb, assigned):
    from leann_rs_spark.operators.ann import ivf_search_batch
    from leann_rs_spark.operators.search import batch_search

    cents = take_centroids(emb, N_CENT)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["score"])
        for r in ivf_search_batch(
            assigned, cents, queries, k=5, nprobe=N_CENT
        ).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["score"])
        for r in batch_search(emb, queries, k=5, metric="ip").collect()
    )
    assert got == want  # full probe == exact, bit-for-bit


def test_batch_partial_probe_matches_oracle(spark, emb, assigned, duck):
    from leann_rs_spark.operators.ann import (
        duckdb_ivf_search_batch,
        ivf_search_batch,
    )

    cents = take_centroids(emb, N_CENT)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], round(r["score"], 9))
        for r in ivf_search_batch(
            assigned, cents, queries, k=5, nprobe=2
        ).collect()
    )
    want = sorted(
        (q, rk, v, round(s, 9))
        for q, v, s, rk in duck.execute(
            duckdb_ivf_search_batch(n_queries=4, k=5, nprobe=2, n_centroids=N_CENT)
        ).fetchall()
    )
    assert got == want


def test_ivf_assign_broadcast_path_keeps_duplicate_id_rows(spark):
    """The token-level assignment keys rows by (doc_id, token) — doc_id
    alone repeats. The broadcast path (C > inline_max) must preserve
    every row and agree bit-for-bit with the inline-projection path;
    before the (id_col, *extra_cols) group key it collapsed all of a
    doc's tokens into ONE arbitrary assignment (found sizing the
    routing fixture at C=256)."""
    from leann_rs_spark.operators.ann import ivf_assign

    rows = [
        (1, "aa", [1.0, 0.0]),
        (1, "bb", [0.0, 1.0]),
        (2, "aa", [1.0, 0.0]),
        (2, "cc", [0.7, 0.7]),
    ]
    vecs = spark.createDataFrame(
        rows, "doc_id long, token string, vec array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0])],
        "centroid_id int, centroid_vec array<double>",
    )
    kw = dict(id_col="doc_id", vec_col="vec", extra_cols=["token"])
    inline = sorted(
        (r["doc_id"], r["token"], r["cluster_id"])
        for r in ivf_assign(vecs, cents, **kw).collect()
    )
    bcast = sorted(
        (r["doc_id"], r["token"], r["cluster_id"])
        for r in ivf_assign(vecs, cents, inline_max=1, **kw).collect()
    )
    assert len(inline) == 4
    assert inline == bcast
    assert inline == [(1, "aa", 0), (1, "bb", 1), (2, "aa", 0), (2, "cc", 0)]


def test_ivf_assign_validate_flags_duplicate_keys(spark):
    """validate=True turns a silent duplicate-key collapse (the r8
    broadcast-path bug class) into an error, and accepts a frame whose
    (id_col, *extra_cols) key is genuinely unique."""
    import pytest as _pytest

    from leann_rs_spark.operators.ann import ivf_assign

    vecs = spark.createDataFrame(
        [
            (1, "aa", [1.0, 0.0]),
            (1, "bb", [0.0, 1.0]),
            (2, "aa", [1.0, 0.0]),
        ],
        "doc_id long, token string, vec array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id int, centroid_vec array<double>",
    )
    # doc_id alone repeats -> raises, naming the key
    with _pytest.raises(ValueError, match="uniquely key"):
        ivf_assign(vecs, cents, id_col="doc_id", vec_col="vec", validate=True)
    # the full (doc_id, token) key is unique -> passes both paths
    for inline_max in (16, 1):
        out = ivf_assign(
            vecs, cents, id_col="doc_id", vec_col="vec",
            extra_cols=["token"], validate=True, inline_max=inline_max,
        )
        assert out.count() == 3


def _probe_table():
    """(vec_id, embedding) rows: ids < 6 are the take-policy centroids,
    with a duplicate pair (1 and 4: tied scores) and a zero vector (5);
    the rest are queries, 9 the zero query."""
    import random

    rnd = random.Random(7)
    vec = lambda: [rnd.uniform(-1.0, 1.0) for _ in range(8)]  # noqa: E731
    rows = [(i, vec()) for i in range(4)]
    rows += [(4, list(rows[1][1])), (5, [0.0] * 8)]
    rows += [(i, vec()) for i in range(6, 9)] + [(9, [0.0] * 8)]
    return rows, 6


def test_probe_order_matches_spark_dot_and_duckdb_twin(spark, duck):
    """The driver-side probe ranks centroids exactly as Spark's `dot`
    ordering (score DESC, centroid_id ASC) and as the DuckDB twins'
    probes CTE, through ties, a zero query, nprobe > C and nprobe = 0."""
    import pandas as pd

    from leann_rs_spark.functions.vector import dot, lit_vec
    from leann_rs_spark.operators.ann import (
        _duckdb_ivf_ctes,
        centroid_arrays,
        ivf_probe_ids,
        probe_order,
    )
    from leann_rs_spark.utils import local_frame

    rows, c = _probe_table()
    cents = local_frame(
        spark, rows[:c], "centroid_id bigint, centroid_vec array<double>"
    )
    ids, vecs = centroid_arrays(cents)
    duck.register(
        "probe_emb",
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]}),
    )
    try:
        for qid, qv in rows[c:]:
            ctes = _duckdb_ivf_ctes(c, "probe_emb", query_vec_id=qid)
            twin = [r[0] for r in duck.sql(
                f"WITH {', '.join(ctes)} SELECT centroid_id FROM probes "
                "ORDER BY probe_rank"
            ).fetchall()]
            for nprobe in (0, 1, 3, c, c + 4):
                spark_ids = [r[0] for r in cents.select(
                    "centroid_id",
                    dot(F.col("centroid_vec"), lit_vec(qv)).alias("s"),
                ).orderBy(F.col("s").desc(), F.col("centroid_id").asc())
                    .limit(nprobe).collect()]
                got = probe_order(ids, vecs, qv, nprobe)
                assert got == spark_ids == twin[:nprobe], (qid, nprobe)
                assert ivf_probe_ids(cents, qv, nprobe) == got
    finally:
        duck.unregister("probe_emb")
    # ties rank by id and the zero query scores every centroid 0.0
    assert probe_order(ids, vecs, rows[-1][1], c) == list(range(c))
    assert probe_order(ids, vecs, [1.0] * 8, -1) == []
