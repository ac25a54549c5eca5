"""ColBERT-lite late interaction (operators/late_interaction.py) and
the token-KL drift monitor (functions/textstats.token_kl_by_group)."""

import math

from pyspark.sql import functions as F


def test_query_tokens_match_engine_tokenizer_and_dedup():
    from leann_rs_spark.operators.late_interaction import query_tokens

    assert query_tokens("Merge-SORT, merge batch!") == ["merge", "sort", "batch"]
    assert query_tokens("a b c") == []  # length-1 tokens dropped


def test_token_embeddings_vocab_join(spark):
    from leann_rs_spark.operators.late_interaction import token_embeddings

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma")],
        "doc_id long, text string",
    )
    rows = token_embeddings(docs, dims=8).collect()
    # distinct (doc, token): dup 'alpha' collapses
    assert {(r["doc_id"], r["token"]) for r in rows} == {
        (1, "alpha"), (1, "beta"), (2, "beta"), (2, "gamma"),
    }
    # the same token carries the same vector in every doc
    beta = {tuple(r["vec"]) for r in rows if r["token"] == "beta"}
    assert len(beta) == 1
    # unit norm
    v = next(iter(beta))
    assert abs(sum(x * x for x in v) - 1.0) < 1e-9


def test_maxsim_scoring_and_order(spark):
    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "merge sort algorithms for external data"),
            (2, "merge only"),
            (3, "completely unrelated words here"),
        ],
        "doc_id long, text string",
    )
    rows = late_interaction_topk(docs, "merge sort", k=3, dims=32).collect()
    scores = {r["doc_id"]: r["score_r"] for r in rows}
    # doc 1 matches BOTH query tokens exactly: each MaxSim term = 1
    assert abs(scores[1] - 2.0) < 1e-6
    # doc 2 matches one exactly; its other term is a non-1 best match
    assert scores[2] < scores[1]
    # full containment ranks first
    assert rows[0]["doc_id"] == 1


def test_token_kl_zero_for_identical_slices_positive_for_skew(spark):
    from leann_rs_spark.functions.textstats import token_kl_by_group

    same = spark.createDataFrame(
        [(1, "aa bb cc", "s1"), (2, "aa bb cc", "s2")],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in token_kl_by_group(same).collect()}
    # identical distributions: D(P_g || P) = 0 exactly
    assert rows["s1"]["kl_r"] == 0.0 and rows["s2"]["kl_r"] == 0.0
    assert rows["s1"]["n_token_types"] == 3

    skew = spark.createDataFrame(
        [(1, "aa aa aa aa", "s1"), (2, "aa bb bb cc", "s2")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r["kl_r"] for r in token_kl_by_group(skew).collect()}
    assert out["s1"] > 0 and out["s2"] > 0

    # hand-check s1: p_s1(aa)=1, corpus p(aa)=5/8 -> KL = ln(8/5)
    want = round(round(1.0 * math.log(8 / 5) * 1e6) / 1e6, 6)
    assert abs(out["s1"] - want) < 1e-9


def test_token_kl_plan_is_one_token_shuffle(spark):
    """The token-count groupBy is THE corpus-sized shuffle; the corpus/
    totals re-aggregations ride the persisted counts (vocabulary-sized,
    broadcast back). No Python stage anywhere."""
    from leann_rs_spark.functions.textstats import token_kl_by_group

    docs = spark.createDataFrame(
        [(1, "aa bb", "s1")], "doc_id long, text string, source string"
    )
    plan = token_kl_by_group(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_late_interaction_edges(spark):
    """Verify-checklist probes: k > corpus, no-token docs dropped,
    no-token query raises, top-k plan is TakeOrderedAndProject."""
    import pytest

    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk,
    )

    docs = spark.createDataFrame(
        [(1, "merge sort"), (2, "x y")],  # doc 2: only length-1 tokens
        "doc_id long, text string",
    )
    out = late_interaction_topk(docs, "merge", k=10, dims=16)
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [1]  # tokenless doc absent
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    with pytest.raises(ValueError, match="no tokens"):
        late_interaction_topk(docs, "a ! ?", k=5)


def test_token_kl_single_slice_is_zero(spark):
    """One slice == the corpus: every contribution is p·ln(1) = 0."""
    from leann_rs_spark.functions.textstats import token_kl_by_group

    docs = spark.createDataFrame(
        [(1, "aa bb cc aa", "only")], "doc_id long, text string, source string"
    )
    rows = token_kl_by_group(docs).collect()
    assert len(rows) == 1 and rows[0]["kl_r"] == 0.0


def test_embedding_drift_empty_new_slice(spark):
    """A zero-row new batch stays finite via add-one smoothing (the
    empty-slice ingest-monitor case) and keeps every cluster row."""
    from pyspark.sql import Row

    from leann_rs_spark.operators.clustering import embedding_drift

    def vec(i):
        v = [0.0] * 2
        v[i] = 1.0
        return v

    ref = spark.createDataFrame(
        [Row(vec_id=i, embedding=vec(i % 2)) for i in range(6)]
    )
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    cents = ref.filter("vec_id < 2").selectExpr(
        "vec_id AS centroid_id", "embedding AS centroid_vec"
    )
    rows = embedding_drift(ref, empty, cents).collect()
    assert len(rows) == 2
    assert all(r["n_new"] == 0 for r in rows)
    # uniform smoothed new vs uniform ref: terms are finite and zero
    assert all(abs(r["kl_term_r"]) < 1.0 for r in rows)


def test_batch_matches_single_query_form(spark):
    """The batch form over a token index reproduces the single-query
    top-k per query (same scores, same tie-breaks)."""
    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk,
        late_interaction_topk_batch,
        token_embeddings,
    )

    docs = spark.createDataFrame(
        [
            (1, "merge sort algorithms for external data"),
            (2, "merge only"),
            (3, "completely unrelated words here"),
            (4, "external merge sort on sorted runs"),
        ],
        "doc_id long, text string",
    )
    tok = token_embeddings(docs, dims=32, cache=False)
    queries = [(0, "merge sort"), (1, "external data words")]
    got = late_interaction_topk_batch(tok, queries, k=3, dims=32).collect()
    for qid, q in queries:
        want = late_interaction_topk(docs, q, k=3, dims=32).collect()
        mine = [r for r in got if r["query_id"] == qid]
        assert [(r["doc_id"], r["score_r"]) for r in mine] == [
            (r["doc_id"], r["score_r"]) for r in want
        ]
        assert [r["rank"] for r in mine] == list(range(1, len(want) + 1))


def test_batch_rejects_tokenless_query(spark):
    import pytest

    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk_batch,
        token_embeddings,
    )

    docs = spark.createDataFrame([(1, "merge sort")], "doc_id long, text string")
    tok = token_embeddings(docs, dims=8, cache=False)
    with pytest.raises(ValueError, match="no tokens"):
        late_interaction_topk_batch(tok, [(0, "a ! ?")], k=2, dims=8)
    # an empty batch and a repeated query_id (whose tokens would merge
    # into one MaxSim sum) raise before any job runs
    sc = spark.sparkContext
    sc.setJobGroup("li-batch-precheck", "li-batch-precheck")
    try:
        with pytest.raises(ValueError, match="empty query batch"):
            late_interaction_topk_batch(tok, [], k=2, dims=8)
        with pytest.raises(ValueError, match="duplicate query_id"):
            late_interaction_topk_batch(
                tok, [(0, "merge sort"), (0, "hash join")], k=2, dims=8
            )
    finally:
        sc.setJobGroup(None, None)
    assert not sc.statusTracker().getJobIdsForGroup("li-batch-precheck")


def test_token_index_catalog_roundtrip(spark, tmp_path):
    """catalog.build_token_index persists the artifact; the loaded scan
    serves BOTH the single-query (token_index=...) and batch forms with
    results identical to the inline path; meta records the config."""
    from leann_rs_spark.catalog import (
        build_token_index,
        load_meta,
        load_token_index,
    )
    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk,
        late_interaction_topk_batch,
    )

    wh = str(tmp_path / "wh")
    docs = spark.createDataFrame(
        [(1, "merge sort external"), (2, "hash join"), (3, "merge join")],
        "doc_id long, text string",
    )
    meta = build_token_index(spark, wh, "tok", docs, dims=16)
    assert meta.extra["token_index"]["dims"] == 16
    assert meta.extra["token_index"]["id_col"] == "doc_id"
    assert load_meta(wh, "tok").extra["token_index"]["rows"] == 7

    tok, info = load_token_index(spark, wh, "tok")
    assert info["dims"] == 16
    single = late_interaction_topk(
        None, "merge join", k=3, dims=16, token_index=tok
    ).collect()
    inline = late_interaction_topk(docs, "merge join", k=3, dims=16).collect()
    assert [tuple(r) for r in single] == [tuple(r) for r in inline]

    batch = late_interaction_topk_batch(tok, [(7, "merge join")], k=3, dims=16)
    assert [
        (r["doc_id"], r["score_r"]) for r in batch.collect()
    ] == [(r["doc_id"], r["score_r"]) for r in inline]


def test_token_index_missing_raises(spark, tmp_path):
    import pytest

    from leann_rs_spark.catalog import IndexMeta, load_token_index, save_meta

    wh = str(tmp_path / "wh")
    save_meta(wh, "plain", IndexMeta())
    with pytest.raises(ValueError, match="no token index"):
        load_token_index(spark, wh, "plain")


def test_batch_plan_one_wide_shuffle_over_token_index(spark, tmp_path):
    """The serving plan over the PERSISTED token index: queries
    broadcast, ONE wide exchange on (query_id, doc) under a map-side-
    combined aggregate, the per-query top-k bounded BEFORE its
    query_id exchange (partial WindowGroupLimit), no Python stage."""
    from leann_rs_spark.catalog import build_token_index, load_token_index
    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk_batch,
    )

    wh = str(tmp_path / "wh")
    docs = spark.createDataFrame(
        [(1, "merge sort external"), (2, "hash join")],
        "doc_id long, text string",
    )
    build_token_index(spark, wh, "tok", docs, dims=8)
    tok, _ = load_token_index(spark, wh, "tok")
    out = late_interaction_topk_batch(tok, [(0, "merge sort")], k=2, dims=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "BroadcastExchange" in plan
    wide = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "doc_id" in ln
    ]
    assert len(wide) == 1, plan
    assert "partial_max" in plan  # map-side combine under the one shuffle
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_token_index_append_equals_rebuild(spark, tmp_path):
    """append_to_token_index(batch) over a built index produces the
    same (doc, token, vec) SET as a full rebuild — hash token
    embeddings are corpus-independent — and meta row counts track."""
    import pytest

    from leann_rs_spark.catalog import (
        append_to_token_index,
        build_token_index,
        load_meta,
        load_token_index,
    )

    docs = spark.createDataFrame(
        [(1, "merge sort external"), (2, "hash join"),
         (3, "merge join"), (4, "sorted runs spill")],
        "doc_id long, text string",
    )
    wh_inc = str(tmp_path / "inc")
    build_token_index(spark, wh_inc, "tok",
                      docs.filter("doc_id % 2 = 0"), dims=16)
    append_to_token_index(spark, wh_inc, "tok",
                          docs.filter("doc_id % 2 = 1"))
    wh_full = str(tmp_path / "full")
    build_token_index(spark, wh_full, "tok", docs, dims=16)

    inc, info = load_token_index(spark, wh_inc, "tok")
    full, _ = load_token_index(spark, wh_full, "tok")
    key = lambda r: (r["doc_id"], r["token"], tuple(r["vec"]))
    assert {key(r) for r in inc.collect()} == {key(r) for r in full.collect()}
    assert info["rows"] == load_meta(wh_full, "tok").extra["token_index"]["rows"]

    # appending to an index with no token artifact refuses
    from leann_rs_spark.catalog import IndexMeta, save_meta

    save_meta(wh_inc, "plain", IndexMeta())
    with pytest.raises(ValueError, match="no token index"):
        append_to_token_index(spark, wh_inc, "plain", docs)


def test_pq_maxsim_exact_when_codebook_covers_vocab(spark):
    """With k_cb ≥ |vocab| every token vector IS a sub-centroid, argmin
    distance is 0 and reconstruction is exact — ADC MaxSim must equal
    the exact batch bit-for-bit. With a tiny codebook it degrades but
    still returns a full ranking."""
    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk_batch,
        late_interaction_topk_batch_pq,
        pq_token_codes,
        token_embeddings,
        token_subcodebooks,
    )

    docs = spark.createDataFrame(
        [
            (1, "merge sort algorithms for external data"),
            (2, "merge only"),
            (3, "completely unrelated words here"),
        ],
        "doc_id long, text string",
    )
    tok = token_embeddings(docs, dims=32, cache=False).persist()
    tok.count()
    queries = [(0, "merge sort"), (1, "external data")]
    exact = late_interaction_topk_batch(tok, queries, k=3, dims=32).collect()

    cb = token_subcodebooks(tok, m=4, k_cb=64)  # vocab is ~12 tokens
    codes = pq_token_codes(tok, cb)
    adc = late_interaction_topk_batch_pq(
        codes, cb, queries, k=3, dims=32
    ).collect()
    assert [tuple(r) for r in adc] == [tuple(r) for r in exact]

    small_cb = token_subcodebooks(tok, m=4, k_cb=2)
    small = late_interaction_topk_batch_pq(
        pq_token_codes(tok, small_cb), small_cb, queries, k=3, dims=32
    ).collect()
    assert {r["query_id"] for r in small} == {0, 1}
    assert all(r["rank"] >= 1 for r in small)
    tok.unpersist()


def test_refined_two_pass_matches_exact_with_covering_codebook(spark):
    """ADC shortlist + exact rescore: with a covering codebook the
    shortlist contains the true top-k, so refined output == exact
    batch bit-for-bit; with a lossy 2-centroid codebook it still
    returns a full per-query ranking with EXACT scores (the rescore
    pass), only the candidate set can differ."""
    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk_batch,
        late_interaction_topk_batch_refined,
        pq_token_codes,
        token_embeddings,
        token_subcodebooks,
    )

    docs = spark.createDataFrame(
        [
            (1, "merge sort algorithms for external data"),
            (2, "merge only"),
            (3, "completely unrelated words here"),
            (4, "external merge sort on sorted runs"),
        ],
        "doc_id long, text string",
    )
    tok = token_embeddings(docs, dims=32, cache=False).persist()
    tok.count()
    queries = [(0, "merge sort"), (1, "external data")]
    exact = late_interaction_topk_batch(tok, queries, k=2, dims=32).collect()

    cb = token_subcodebooks(tok, m=4, k_cb=64)
    refined = late_interaction_topk_batch_refined(
        tok, pq_token_codes(tok, cb), cb, queries, k=2, refine=2, dims=32
    ).collect()
    assert [tuple(r) for r in refined] == [tuple(r) for r in exact]

    lossy = token_subcodebooks(tok, m=4, k_cb=2)
    out = late_interaction_topk_batch_refined(
        tok, pq_token_codes(tok, lossy), lossy, queries, k=2, refine=1,
        dims=32,
    ).collect()
    exact_scores = {
        (r["query_id"], r["doc_id"]): r["score_r"] for r in exact
    }
    for r in out:  # rescored values are EXACT wherever pairs overlap
        if (r["query_id"], r["doc_id"]) in exact_scores:
            assert r["score_r"] == exact_scores[(r["query_id"], r["doc_id"])]
    tok.unpersist()


def test_pruned_equals_exact_with_covering_probe(spark):
    """nprobe = C (every centroid probed) makes candidate generation
    total, so the centroid-routed form must be bit-identical to the
    exact batch — routing only ever changes WHICH pairs are rescored,
    never their scores."""
    from leann_rs_spark.operators.late_interaction import (
        assign_token_cids,
        late_interaction_topk_batch,
        late_interaction_topk_batch_pruned,
        token_embeddings,
        token_take_centroids,
    )

    docs = spark.createDataFrame(
        [
            (1, "merge sort algorithms for external data"),
            (2, "merge only"),
            (3, "completely unrelated words here"),
            (4, "external merge sort on sorted runs"),
        ],
        "doc_id long, text string",
    )
    tok = token_embeddings(docs, dims=32, cache=False).persist()
    tok.count()
    queries = [(0, "merge sort"), (1, "external data")]
    exact = late_interaction_topk_batch(tok, queries, k=3, dims=32).collect()
    cents = token_take_centroids(tok, c=4)
    routed = assign_token_cids(tok, cents)
    pruned = late_interaction_topk_batch_pruned(
        routed, cents, queries, k=3, nprobe=4, dims=32
    ).collect()
    assert [tuple(r) for r in pruned] == [tuple(r) for r in exact]

    # a lossy probe still returns exact SCORES on surviving pairs
    narrow = late_interaction_topk_batch_pruned(
        routed, cents, queries, k=3, nprobe=1, dims=32
    ).collect()
    exact_scores = {
        (r["query_id"], r["doc_id"]): r["score_r"] for r in exact
    }
    for r in narrow:
        if (r["query_id"], r["doc_id"]) in exact_scores:
            assert r["score_r"] == exact_scores[(r["query_id"], r["doc_id"])]
    tok.unpersist()


def test_token_index_cid_partition_pruning(spark, tmp_path):
    """The routed artifact's probed-cid read is PARTITION pruning: the
    isin filter must land in the scan's PartitionFilters (directory
    level — unprobed cids are never opened), and a routed append with
    the frozen codebook serves identically to a full rebuild."""
    from leann_rs_spark.catalog import (
        append_to_token_index,
        build_token_index,
        load_token_index,
    )
    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk_batch_pruned,
    )

    docs = spark.createDataFrame(
        [
            (1, "merge sort algorithms for external data"),
            (2, "merge only"),
            (3, "completely unrelated words here"),
            (4, "external merge sort on sorted runs"),
            (5, "window aggregate state streams"),
            (6, "hash join partition keys"),
        ],
        "doc_id long, text string",
    )
    wh = str(tmp_path / "wh")
    build_token_index(spark, wh, "tok", docs, dims=32, n_centroids=4)
    tok, info = load_token_index(spark, wh, "tok")
    assert info["n_centroids"] == 4 and len(info["centroids"]) == 4
    sub = tok.filter(F.col("cid").isin([0, 2]))
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert plan[plan.index("PartitionFilters"):].split("]")[0].count("cid")

    # routed append ≡ rebuild, end-to-end through pruned serving
    wh2 = str(tmp_path / "wh2")
    build_token_index(
        spark, wh2, "tok",
        docs.filter(F.col("doc_id") <= 3), dims=32, n_centroids=4,
    )
    append_to_token_index(
        spark, wh2, "tok", docs.filter(F.col("doc_id") > 3)
    )
    tok2, info2 = load_token_index(spark, wh2, "tok")
    assert len(info2["centroids"]) == 4  # frozen at build time
    # rebuild-with-the-SAME-frozen-codebook twin: route the full corpus
    # through wh2's codebook (cid is a pure function of token+codebook,
    # so appended partitions must equal this)
    from leann_rs_spark.operators.late_interaction import (
        assign_token_cids,
        token_embeddings,
    )

    rebuilt = assign_token_cids(
        token_embeddings(docs, dims=32, cache=False), info2["centroids"]
    )
    queries = [(0, "merge sort"), (1, "external data")]
    full = late_interaction_topk_batch_pruned(
        rebuilt, info2["centroids"], queries, k=3, nprobe=2, dims=32
    ).collect()
    appended = late_interaction_topk_batch_pruned(
        tok2, info2["centroids"], queries, k=3, nprobe=2, dims=32
    ).collect()
    assert [tuple(r) for r in appended] == [tuple(r) for r in full]


def test_li_probe_recall_curve_monotone_and_saturating(spark):
    """Recall and candidate count are nondecreasing in nprobe, and a
    covering probe (nprobe = C) reaches recall 1.0 — routing can only
    ADD candidates, and exact rescoring makes the covering sweep point
    reproduce the exact top-k."""
    from leann_rs_spark.operators.late_interaction import (
        assign_token_cids,
        li_probe_recall_curve,
        token_embeddings,
        token_take_centroids,
    )

    docs = spark.createDataFrame(
        [
            (1, "merge sort algorithms for external data"),
            (2, "merge only"),
            (3, "completely unrelated words here"),
            (4, "external merge sort on sorted runs"),
            (5, "window aggregate state streams"),
            (6, "hash join partition keys"),
        ],
        "doc_id long, text string",
    )
    tok = token_embeddings(docs, dims=32, cache=False).persist()
    tok.count()
    cents = token_take_centroids(tok, c=4)
    routed = assign_token_cids(tok, cents)
    rows = li_probe_recall_curve(
        routed, cents, [(0, "merge sort"), (1, "external data")],
        k=2, nprobes=[1, 2, 4], dims=32,
    ).collect()
    assert [r["nprobe"] for r in rows] == [1, 2, 4]
    recalls = [r["recall_r"] for r in rows]
    cands = [r["n_candidates"] for r in rows]
    assert recalls == sorted(recalls) and cands == sorted(cands)
    assert recalls[-1] == 1.0  # covering probe == exact
    tok.unpersist()

    # k > N: recall divides by the truth rows (3 per query here), not
    # k·|queries|, so the covering probe still reaches 1.0
    small = spark.createDataFrame(
        [
            (1, "merge sort algorithms"),
            (2, "hash join keys"),
            (3, "window state"),
        ],
        "doc_id long, text string",
    )
    stok = token_embeddings(small, dims=32, cache=False)
    scents = token_take_centroids(stok, c=4)
    rows = li_probe_recall_curve(
        assign_token_cids(stok, scents), scents,
        [(0, "merge sort"), (1, "hash join")], k=5, nprobes=[1, 4], dims=32,
    ).collect()
    assert rows[-1]["nprobe"] == 4 and rows[-1]["recall_r"] == 1.0


def test_compact_token_index_preserves_rows_and_layout(spark, tmp_path):
    """Compaction after appends: file count drops, row set identical,
    a routed index keeps its cid directories (and partition pruning),
    an unrouted one collapses to a bounded file count."""
    import os

    from leann_rs_spark.catalog import (
        append_to_token_index,
        build_token_index,
        compact_token_index,
        load_token_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "merge sort algorithms for external data"),
            (2, "merge only"),
            (3, "completely unrelated words here"),
            (4, "external merge sort on sorted runs"),
        ],
        "doc_id long, text string",
    )

    def files(p):
        return sum(
            1 for root, _, fs in os.walk(p)
            for f in fs if f.endswith(".parquet")
        )

    for routed, wh in ((False, str(tmp_path / "a")), (True, str(tmp_path / "b"))):
        build_token_index(
            spark, wh, "tok", docs.filter(F.col("doc_id") <= 2),
            dims=16, n_centroids=4 if routed else None,
        )
        append_to_token_index(
            spark, wh, "tok", docs.filter(F.col("doc_id") > 2)
        )
        before = sorted(
            tuple(r) for r in spark.read.parquet(
                f"{wh}/tok/token_index"
            ).select("doc_id", "token").collect()
        )
        n_before = compact_token_index(spark, wh, "tok")
        tok, info = load_token_index(spark, wh, "tok")
        after = sorted(
            tuple(r) for r in tok.select("doc_id", "token").collect()
        )
        assert after == before
        assert files(f"{wh}/tok/token_index") < n_before
        if routed:
            assert any(
                e.startswith("cid=")
                for e in os.listdir(f"{wh}/tok/token_index")
            )
        else:
            assert files(f"{wh}/tok/token_index") == 1  # 4 docs << 4M rows


def test_kmeans_routed_token_index(spark, tmp_path):
    """centroid_policy='kmeans': seeded spherical codebook over the
    vocabulary — unit-norm centroids, policy recorded in meta, and the
    covering probe still reproduces the exact batch bit-for-bit
    (assignment/serving are policy-blind)."""
    from leann_rs_spark.catalog import build_token_index, load_token_index
    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk_batch,
        late_interaction_topk_batch_pruned,
    )

    docs = spark.createDataFrame(
        [
            (1, "merge sort algorithms for external data"),
            (2, "merge only"),
            (3, "completely unrelated words here"),
            (4, "external merge sort on sorted runs"),
            (5, "window aggregate state streams"),
            (6, "hash join partition keys"),
        ],
        "doc_id long, text string",
    )
    wh = str(tmp_path / "wh")
    build_token_index(
        spark, wh, "tok", docs, dims=32,
        n_centroids=4, centroid_policy="kmeans",
    )
    tok, info = load_token_index(spark, wh, "tok")
    assert info["centroid_policy"] == "kmeans"
    for cv in info["centroids"]:
        assert abs(sum(x * x for x in cv) - 1.0) < 1e-6
    queries = [(0, "merge sort"), (1, "external data")]
    exact = late_interaction_topk_batch(
        tok.select("doc_id", "token", "vec"), queries, k=3, dims=32
    ).collect()
    pruned = late_interaction_topk_batch_pruned(
        tok, info["centroids"], queries, k=3, nprobe=4, dims=32
    ).collect()
    assert [tuple(r) for r in pruned] == [tuple(r) for r in exact]

    import pytest

    with pytest.raises(ValueError, match="centroid_policy"):
        build_token_index(
            spark, str(tmp_path / "wh2"), "tok", docs, dims=32,
            n_centroids=4, centroid_policy="nope",
        )


def test_batch_results_invariant_to_batch_width(spark):
    """A query's top-k must not depend on which other queries share
    the batch (the ordinal pivot pads ragged widths with exact-zero
    additions): queries run in a 22-query batch agree row-for-row with
    the same queries run in a 2-query batch."""
    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk_batch,
        token_embeddings,
    )

    docs = spark.createDataFrame(
        [
            (1, "merge sort algorithms for external data"),
            (2, "merge only"),
            (3, "completely unrelated words here"),
            (4, "external merge sort on sorted runs"),
        ],
        "doc_id long, text string",
    )
    tok = token_embeddings(docs, dims=16, cache=False).persist()
    tok.count()
    # first 2 queries also run in a narrow batch and must agree
    wide_qs = [(i, f"merge sort run{i} data{i}") for i in range(22)]
    wide = late_interaction_topk_batch(tok, wide_qs, k=2, dims=16).collect()
    small = late_interaction_topk_batch(
        tok, wide_qs[:2], k=2, dims=16
    ).collect()
    wide_by_q = {}
    for r in wide:
        wide_by_q.setdefault(r["query_id"], []).append(tuple(r))
    for r in small:
        assert tuple(r) in wide_by_q[r["query_id"]]
    tok.unpersist()


def test_rescore_pair_broadcast_guard(spark):
    """The exact-MaxSim rescore broadcasts the candidate-pair frame
    only when it is provably bounded (pair_rows ≤ limit, or None =
    bounded by construction); above the limit the pair join must
    degrade to a non-broadcast join — routing that fails to prune
    degrades to a slow query, never a broadcast OOM. Both physical
    forms pinned, identical results."""
    from leann_rs_spark.operators.late_interaction import (
        PAIR_BROADCAST_ROW_LIMIT,
        _exact_maxsim_scores,
        token_embeddings,
    )

    docs = spark.createDataFrame(
        [(1, "merge sort external data"), (2, "hash join keys")],
        "doc_id long, text string",
    )
    tok = token_embeddings(docs, dims=32, cache=False)
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2)], "query_id int, doc_id long"
    )
    queries = [(0, "merge join")]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        under = _exact_maxsim_scores(
            tok, pairs, queries, 32, "doc_id", pair_rows=2
        )
        plan_u = under._jdf.queryExecution().executedPlan().toString()
        over = _exact_maxsim_scores(
            tok, pairs, queries, 32, "doc_id",
            pair_rows=PAIR_BROADCAST_ROW_LIMIT + 1,
        )
        plan_o = over._jdf.queryExecution().executedPlan().toString()
        got_u = sorted(tuple(r) for r in under.collect())
        got_o = sorted(tuple(r) for r in over.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # under the limit: TWO broadcast joins (pairs + query vectors);
    # over it: only the query-vector broadcast survives and the pair
    # join is a shuffle join on doc_id
    assert plan_u.count("BroadcastHashJoin") == 2, plan_u
    assert plan_o.count("BroadcastHashJoin") == 1, plan_o
    assert "SortMergeJoin" in plan_o or "ShuffledHashJoin" in plan_o, plan_o
    assert got_u == got_o and len(got_u) == 2


def test_token_index_model_meta_and_append_refusal(spark, tmp_path):
    """The token-index meta records its embedding model, round-trips
    through load, and append REFUSES a corpus-dependent model — the
    O(batch) append ≡ rebuild premise holds only for corpus-
    -independent embeddings (VERDICT r7 task 7). Pre-model metas
    (all hash-built) keep appending."""
    import pytest

    from leann_rs_spark.catalog import (
        append_to_token_index,
        build_token_index,
        load_meta,
        load_token_index,
        save_meta,
    )

    docs = spark.createDataFrame(
        [(1, "merge sort external"), (2, "hash join keys")],
        "doc_id long, text string",
    )
    wh = str(tmp_path / "wh")
    build_token_index(spark, wh, "tok", docs, dims=16)
    _, info = load_token_index(spark, wh, "tok")
    assert info["model"] == "hash"

    more = spark.createDataFrame(
        [(3, "window aggregate state")], "doc_id long, text string"
    )
    # legacy meta without the field appends (treated as hash-built)
    meta = load_meta(wh, "tok")
    del meta.extra["token_index"]["model"]
    save_meta(wh, "tok", meta)
    append_to_token_index(spark, wh, "tok", more)

    # a corpus-dependent model refuses
    meta = load_meta(wh, "tok")
    meta.extra["token_index"]["model"] = "tfidf"
    save_meta(wh, "tok", meta)
    even_more = spark.createDataFrame(
        [(4, "partition keys again")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="corpus-dependent"):
        append_to_token_index(spark, wh, "tok", even_more)


def test_pruned_degenerate_probe_and_empty_pairs(spark):
    """Round-8 edge probes for the guarded rescore: nprobe=0 probes
    nothing → empty result with the full schema (not an error), and
    the over-limit shuffle path agrees on an EMPTY pair frame too."""
    from leann_rs_spark.operators.late_interaction import (
        PAIR_BROADCAST_ROW_LIMIT,
        _exact_maxsim_scores,
        assign_token_cids,
        late_interaction_topk_batch_pruned,
        token_embeddings,
        token_take_centroids,
    )

    docs = spark.createDataFrame(
        [(1, "merge sort external"), (2, "hash join keys")],
        "doc_id long, text string",
    )
    tok = token_embeddings(docs, dims=16, cache=False)
    cents = token_take_centroids(tok, c=2)
    routed = assign_token_cids(tok, cents)
    out = late_interaction_topk_batch_pruned(
        routed, cents, [(0, "merge sort")], k=3, nprobe=0, dims=16
    )
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "doc_id", "score_r", "rank"}

    empty_pairs = spark.createDataFrame([], "query_id int, doc_id long")
    for rows in (0, PAIR_BROADCAST_ROW_LIMIT + 1):
        got = _exact_maxsim_scores(
            tok, empty_pairs, [(0, "merge sort")], 16, "doc_id",
            pair_rows=rows,
        )
        assert got.count() == 0
