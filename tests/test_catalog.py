"""Index lifecycle: build → search → append → prune → list → remove.

Pins the invariants the reference guarantees across its index files
(builder/update/prune/locate) re-expressed over Parquet tables:
append offsets ids from passage_count, prune switches search to the
recompute plan without changing results, remove drops the catalog entry.
"""

import pytest
from pyspark.sql import functions as F

from leann_rs_spark import catalog
from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id") < 30)
        .cache()
    )


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    return str(tmp_path_factory.mktemp("warehouse"))


@pytest.fixture(scope="module")
def built(spark, docs, warehouse):
    meta = catalog.build_index(
        spark, warehouse, "main", docs, chunk_size=16, chunk_overlap=4, dims=32
    )
    return meta


def test_build_writes_tables(spark, warehouse, built):
    passages = spark.read.parquet(f"{warehouse}/main/passages")
    emb = spark.read.parquet(f"{warehouse}/main/embeddings")
    assert built.passage_count == passages.count() == emb.count()
    # ids are dense 0..n-1 (ids.txt parity, builder.rs:100-103)
    n = built.passage_count
    assert passages.agg(F.min("idx"), F.max("idx")).head() == (0, n - 1)
    assert passages.select("idx").distinct().count() == n


def test_search_end_to_end(spark, warehouse, built):
    out = catalog.search_index(
        spark, warehouse, "main", "alpha beta gamma delta", k=5, hybrid=False
    )
    rows = out.collect()
    assert len(rows) == 5
    assert rows[0]["score"] >= rows[-1]["score"]
    assert all(r["text"] for r in rows)


def test_search_filtered(spark, warehouse, built):
    out = catalog.search_index(
        spark, warehouse, "main", "alpha beta gamma delta", k=5,
        filter_str="doc_id<10", hybrid=False,
    ).collect()
    assert out and all(r["doc_id"] < 10 for r in out)


def test_search_auto_hybrid_runs(spark, warehouse, built):
    # ≤3 words triggers the auto-hybrid gate; just pin shape + order
    out = catalog.search_index(spark, warehouse, "main", "alpha beta", k=3).collect()
    assert len(out) == 3
    assert out[0]["score"] >= out[-1]["score"]


def test_append_offsets_ids(spark, docs, warehouse, built):
    before = built.passage_count
    new_docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40))
    )
    meta = catalog.append_to_index(spark, warehouse, "main", new_docs)
    assert meta.passage_count > before
    passages = spark.read.parquet(f"{warehouse}/main/passages")
    assert passages.count() == meta.passage_count
    # appended ids continue densely from the previous count
    assert passages.agg(F.max("idx")).head()[0] == meta.passage_count - 1
    assert passages.select("idx").distinct().count() == meta.passage_count
    emb = spark.read.parquet(f"{warehouse}/main/embeddings")
    assert emb.count() == meta.passage_count


def test_prune_recompute_parity(spark, warehouse):
    q = "alpha beta gamma delta"
    before = [
        (r["idx"], round(r["score"], 9))
        for r in catalog.search_index(spark, warehouse, "main", q, k=5, hybrid=False).collect()
    ]
    meta = catalog.prune_index(str(warehouse), "main")
    assert meta.is_pruned
    after = [
        (r["idx"], round(r["score"], 9))
        for r in catalog.search_index(spark, warehouse, "main", q, k=5, hybrid=False).collect()
    ]
    assert before == after  # recompute plan ≡ stored-embeddings plan


def test_list_and_remove(spark, docs, warehouse):
    catalog.build_index(
        spark, warehouse, "second", docs.limit(5), chunk_size=16, chunk_overlap=4,
        dims=16, with_bm25=False,
    )
    listed = catalog.list_indexes(spark, warehouse)
    names = {r["name"] for r in listed.collect()}
    assert {"main", "second"} <= names
    pruned = {r["name"]: r["is_pruned"] for r in listed.collect()}
    assert pruned["main"] is True and pruned["second"] is False
    catalog.remove_index(warehouse, "second")
    names2 = {r["name"] for r in catalog.list_indexes(spark, warehouse).collect()}
    assert "second" not in names2 and "main" in names2


def test_is_faiss_index(tmp_path):
    """S15 magic-byte sniffing (compat.rs:15-38): Ix*/CSR\\0/HNSW headers
    are FAISS; anything else (or a missing .index sibling) is not."""
    from leann_rs_spark.catalog import is_faiss_index

    for magic, want in [
        (b"IxFl" + b"\x00" * 16, True),
        (b"IxHN" + b"\x00" * 16, True),
        (b"CSR\x00rest", True),
        (b"HNSWrest", True),
        (b"PAR1col", False),
        (b"Ix", False),  # short read
    ]:
        p = tmp_path / "idx.leann"
        (tmp_path / "idx.index").write_bytes(magic)
        assert is_faiss_index(str(p)) is want, magic
    (tmp_path / "idx.index").unlink()
    assert is_faiss_index(str(tmp_path / "idx.leann")) is False


def test_use_hybrid_gate():
    """Q15 (search.rs:147-148): explicit flag wins; auto only for ≤3 words."""
    from leann_rs_spark.operators.hybrid import use_hybrid

    assert use_hybrid("anything at all here now", hybrid=True)
    assert not use_hybrid("one two three four", auto_hybrid=True)
    assert use_hybrid("one two three", auto_hybrid=True)
    assert not use_hybrid("one two three")


def test_term_bucket_py_matches_column(spark):
    from leann_rs_spark.catalog import py_term_bucket, term_bucket

    terms = ["spark", "filter", "join", "window", "zz9", "a1"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {r["term"]: r["b"] for r in df.select("term", term_bucket("term").alias("b")).collect()}
    assert got == {t: py_term_bucket(t) for t in terms}


def test_hybrid_bucket_pruning_results_and_plan(spark, warehouse, built):
    """Bucket-pruned hybrid search: identical scores to scoring over the
    UNPRUNED postings (term rows are complete within their bucket), and
    the postings scan carries a term_bucket partition filter."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from leann_rs_spark import catalog
    from leann_rs_spark.operators.bm25 import score_query, tokenize_py

    q = "alpha beta"
    out = catalog.search_index(spark, warehouse, "main", q, k=5, hybrid=True)
    rows = out.collect()
    assert len(rows) > 0

    # unpruned reference scoring for the same query
    base = f"{warehouse}/main"
    postings = spark.read.parquet(f"{base}/bm25_postings")
    docstats = spark.read.parquet(f"{base}/bm25_docstats")
    termstats = postings.groupBy("term").agg(F.count("*").alias("df"))
    full = {
        r["idx"]: r["score"]
        for r in score_query(postings, docstats, termstats, q, id_col="idx").collect()
    }
    qbuckets = sorted({catalog.py_term_bucket(t) for t in tokenize_py(q)})
    pruned_postings = postings.filter(F.col("term_bucket").isin(qbuckets))
    pruned_termstats = pruned_postings.groupBy("term").agg(F.count("*").alias("df"))
    pruned = {
        r["idx"]: r["score"]
        for r in score_query(
            pruned_postings, docstats, pruned_termstats, q, id_col="idx"
        ).collect()
    }
    assert pruned == full

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned_postings.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "term_bucket" in plan


@pytest.fixture(scope="module")
def ivf_built(spark, docs, warehouse):
    catalog.build_index(
        spark, warehouse, "ivfidx", docs, chunk_size=16, chunk_overlap=4, dims=32
    )
    return catalog.build_ivf_index(spark, warehouse, "ivfidx", n_centroids=4)


def test_ivf_index_build_and_search(spark, warehouse, ivf_built):
    meta = ivf_built
    assert meta.backend == "ivf"
    import os

    parts = os.listdir(f"{warehouse}/ivfidx/ivf")
    assert any(p.startswith("cluster_id=") for p in parts)

    # nprobe == n_centroids degrades to exact search → same results as
    # the exact read path
    exact = catalog.search_index(
        spark, warehouse, "ivfidx", "alpha beta gamma", k=5, hybrid=False
    ).select("idx", "score").collect()
    ivf = catalog.search_ivf_index(
        spark, warehouse, "ivfidx", "alpha beta gamma", k=5, nprobe=4
    ).select("idx", "score").collect()
    assert [(r["idx"], r["score"]) for r in ivf] == [
        (r["idx"], r["score"]) for r in exact
    ]


def test_ivf_search_prunes_partitions(spark, warehouse, ivf_built):
    from leann_rs_spark.operators.ann import ivf_search
    from leann_rs_spark.operators.embedder import py_hash_embedding

    qv = py_hash_embedding("alpha beta gamma", 32)
    assigned = spark.read.parquet(f"{warehouse}/ivfidx/ivf")
    cents = spark.read.parquet(f"{warehouse}/ivfidx/ivf_centroids")
    hits = ivf_search(assigned, cents, qv, k=5, nprobe=1, id_col="idx")
    plan = hits._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # the cluster_id IN (...) predicate must reach PartitionFilters of
    # the ivf scan — file-level pruning, the IVF "seek"
    assert "PartitionFilters" in plan, plan
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*cluster_id[^\]]*\]", plan)
    assert m, plan


def test_warm_ivf_search_reads_no_centroids(spark, warehouse, ivf_built):
    """The centroids are held per index version: once a search has
    ranked them, the next one runs no job over ivf_centroids (it gives
    the same hits with the table moved away)."""
    import os

    def hits():
        return catalog.search_ivf_index(
            spark, warehouse, "ivfidx", "alpha beta gamma", k=5, nprobe=2
        ).select("idx", "score").collect()

    cold = hits()
    path = f"{warehouse}/ivfidx/ivf_centroids"
    os.rename(path, f"{path}__away")
    try:
        assert hits() == cold
    finally:
        os.rename(f"{path}__away", path)


def test_append_rebuilds_ivf_layout(spark, docs, warehouse, ivf_built):
    more = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40))
    )
    before = spark.read.parquet(f"{warehouse}/ivfidx/ivf").count()
    meta = catalog.append_to_index(spark, warehouse, "ivfidx", more)
    assert meta.backend == "ivf"
    after = spark.read.parquet(f"{warehouse}/ivfidx/ivf").count()
    assert after == meta.passage_count > before


def test_embedding_model_version_mismatch(spark, docs, warehouse):
    """A pre-existing index built by an older embedding-model version
    must not be silently mixed with current-code vectors: append
    refuses (stored rows would become permanently inconsistent),
    search warns (scores shift only in the last ulp)."""
    import warnings

    import pytest

    catalog.build_index(
        spark, warehouse, "oldidx", docs.limit(3), chunk_size=16,
        chunk_overlap=4, dims=32,
    )
    meta = catalog.load_meta(warehouse, "oldidx")
    meta.embedding_model = "hash-v1"
    catalog.save_meta(warehouse, "oldidx", meta)

    with pytest.raises(ValueError, match="embedding_model"):
        catalog.append_to_index(spark, warehouse, "oldidx", docs.limit(1))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        catalog.search_index(spark, warehouse, "oldidx", "alpha", k=2, hybrid=False)
    assert any("embedding_model" in str(x.message) for x in w)


@pytest.fixture(scope="module")
def exp_built(spark, docs, warehouse):
    # dedicated index: the shared "main" is appended/pruned by other
    # tests in this module, which would disable/skew expansion
    return catalog.build_index(
        spark, warehouse, "expidx", docs, chunk_size=16, chunk_overlap=4, dims=32
    )


def test_search_expand_appends_mined_terms(spark, docs, warehouse, exp_built):
    """expand=True on a short query mines terms from the BM25 top-5 and
    both search sides use the expanded query: results must equal an
    explicit search for the manually-expanded string, and differ from
    the unexpanded search (the sf corpus yields nonempty mined terms)."""
    from leann_rs_spark.operators.bm25 import score_query, tokenize_py
    from leann_rs_spark.operators.query_expansion import expansion_terms

    q = "spark filter"  # 2 words -> should_expand AND auto-hybrid
    base = f"{warehouse}/expidx"
    postings = spark.read.parquet(f"{base}/bm25_postings")
    docstats = spark.read.parquet(f"{base}/bm25_docstats")
    termstats = postings.groupBy("term").agg(F.count("*").alias("df"))
    scored = score_query(postings, docstats, termstats, q, id_col="idx")
    top5 = (
        scored.filter(F.col("score") > 0.0)
        .orderBy(F.round(F.col("score"), 6).desc(), F.col("idx").asc())
        .limit(5)
    )
    texts = F.broadcast(top5.select("idx")).join(
        spark.read.parquet(f"{base}/passages"), "idx"
    )
    mined = [r["term"] for r in expansion_terms(texts, q, max_terms=5).collect()]
    assert mined  # corpus must actually yield expansion terms

    expanded = f"{q} {' '.join(mined)}"
    got = catalog.search_index(
        spark, warehouse, "expidx", q, k=5, hybrid=True, expand=True
    ).collect()
    want = catalog.search_index(
        spark, warehouse, "expidx", expanded, k=5, hybrid=True, expand=False
    ).collect()
    assert [(r["idx"], r["score"]) for r in got] == [
        (r["idx"], r["score"]) for r in want
    ]
    plain = catalog.search_index(
        spark, warehouse, "expidx", q, k=5, hybrid=True, expand=False
    ).collect()
    assert [(r["idx"], r["score"]) for r in got] != [
        (r["idx"], r["score"]) for r in plain
    ]


def test_search_expand_skips_long_queries(spark, docs, warehouse, exp_built):
    """should_expand gates on <=3 words: a long query is searched as-is
    even with expand=True."""
    q = "distributed stream processing engine design"
    a = catalog.search_index(
        spark, warehouse, "expidx", q, k=5, hybrid=False, expand=True
    ).collect()
    b = catalog.search_index(
        spark, warehouse, "expidx", q, k=5, hybrid=False, expand=False
    ).collect()
    assert [(r["idx"], r["score"]) for r in a] == [
        (r["idx"], r["score"]) for r in b
    ]


def test_provider_built_index_lifecycle(spark, docs, warehouse):
    """build(provider=) routes through the hardened embed_pandas slot;
    the HashEmbedder provider is bit-identical to the native expression
    embedder, so search results must match the hash-built index
    exactly. Provider indexes refuse hash-mode search/append (the
    reference reconstructs the provider FROM meta, search.rs:100-117)
    and accept the same provider end-to-end incl. append + prune."""
    from leann_rs_spark.operators.embedder import HashEmbedder

    prov = HashEmbedder(32)
    catalog.build_index(
        spark, warehouse, "providx", docs.filter(F.col("doc_id") < 20),
        chunk_size=16, chunk_overlap=4, provider=prov,
    )
    meta = catalog.load_meta(warehouse, "providx")
    assert meta.embedding_mode == "custom"
    assert meta.dimensions == 32  # auto-probed (T8)

    with pytest.raises(ValueError, match="query_provider"):
        catalog.search_index(spark, warehouse, "providx", "data", k=3, hybrid=False)
    with pytest.raises(ValueError, match="provider"):
        catalog.append_to_index(
            spark, warehouse, "providx", docs.filter(F.col("doc_id") >= 20)
        )

    catalog.append_to_index(
        spark, warehouse, "providx",
        docs.filter(F.col("doc_id") >= 20), provider=prov,
    )
    got = catalog.search_index(
        spark, warehouse, "providx", "data processing", k=5,
        hybrid=False, query_provider=prov,
    ).collect()

    # reference index: same docs, native hash expression path
    catalog.build_index(
        spark, warehouse, "hashidx", docs, chunk_size=16, chunk_overlap=4, dims=32
    )
    want = catalog.search_index(
        spark, warehouse, "hashidx", "data processing", k=5, hybrid=False
    ).collect()
    assert [(r["doc_id"], r["text"], r["score"]) for r in got] == [
        (r["doc_id"], r["text"], r["score"]) for r in want
    ]

    # the IVF read path embeds queries with the hash embedder only: on a
    # provider-built index it refuses rather than score a hash vector
    # against provider vectors
    catalog.build_ivf_index(
        spark, warehouse, "providx", n_centroids=2, centroids="take"
    )
    with pytest.raises(ValueError, match=r"search_index\(query_provider="):
        catalog.search_ivf_index(spark, warehouse, "providx", "data", k=3)

    # pruned provider index recomputes through the provider slot
    catalog.prune_index(warehouse, "providx")
    pruned = catalog.search_index(
        spark, warehouse, "providx", "data processing", k=5,
        hybrid=False, query_provider=prov,
    ).collect()
    assert [(r["doc_id"], r["text"], round(r["score"], 9)) for r in pruned] == [
        (r["doc_id"], r["text"], round(r["score"], 9)) for r in want
    ]


def test_append_refuses_orphaned_passages(spark, docs, warehouse):
    """A prior append that crashed after the passages write but before
    save_meta leaves rows with idx >= meta.passage_count. Appending on
    top would assign COLLIDING dense ids and re-embed the orphans —
    append_to_index must detect and refuse (ADVICE r3: the range
    read-back would silently sweep the orphans into the new batch)."""
    catalog.build_index(
        spark, warehouse, "orphidx", docs.filter(F.col("doc_id") < 10),
        chunk_size=16, chunk_overlap=4, dims=32,
    )
    meta = catalog.load_meta(warehouse, "orphidx")
    # simulate the crash: passages written past passage_count, meta stale
    spark.range(3).select(
        (F.col("id") + meta.passage_count).alias("idx"),
        F.lit(999).alias("doc_id"),
        F.lit("orphan").alias("source"),
        F.lit(0).alias("chunk_index"),
        F.lit("orphan text").alias("text"),
    ).write.mode("append").parquet(f"{warehouse}/orphidx/passages")
    more = docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 15))
    with pytest.raises(ValueError, match="orphaned passages"):
        catalog.append_to_index(spark, warehouse, "orphidx", more)


def test_ivf_default_policy_is_learned_codebook(spark, docs, warehouse):
    """The persisted-artifact default is the seeded-KMeans codebook
    (balanced clusters = effective nprobe/C pruning at scale); the
    policy travels in meta and the full-probe search still equals the
    exact read path."""
    catalog.build_index(
        spark, warehouse, "kmidx", docs, chunk_size=16, chunk_overlap=4,
        dims=32, with_bm25=False,
    )
    meta = catalog.build_ivf_index(spark, warehouse, "kmidx", n_centroids=8)
    assert meta.extra["ivf_policy"] == "kmeans"
    assert meta.extra["ivf_seed"] == 42
    # every passage assigned exactly once, clusters partition the corpus
    assigned = spark.read.parquet(f"{warehouse}/kmidx/ivf")
    assert assigned.count() == meta.passage_count
    assert assigned.select("idx").distinct().count() == meta.passage_count
    sizes = [
        r["n"] for r in
        assigned.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    ]
    assert sum(sizes) == meta.passage_count and len(sizes) >= 2
    # full probe (nprobe = C) degrades to exact search
    got = catalog.search_ivf_index(
        spark, warehouse, "kmidx", "alpha beta", k=5, nprobe=8
    )
    want = catalog.search_index(
        spark, warehouse, "kmidx", "alpha beta", k=5, hybrid=False
    )
    rows = lambda df: [
        (r["idx"], round(r["score"], 9)) for r in df.collect()
    ]
    assert rows(got) == rows(want)
    # rebuild with the same seed is deterministic
    pairs = lambda df: sorted(
        (r["idx"], r["cluster_id"]) for r in df.select("idx", "cluster_id").collect()
    )
    before = pairs(assigned)
    catalog.build_ivf_index(spark, warehouse, "kmidx", n_centroids=8)
    a2 = spark.read.parquet(f"{warehouse}/kmidx/ivf")
    assert pairs(a2) == before


def test_ivf_autosized_codebook(spark, docs, warehouse):
    """n_centroids=None sizes the codebook as 4·√N (floored at 16) —
    the C∝N rule that keeps per-probe scan share flat as the corpus
    grows."""
    from leann_rs_spark.catalog import suggest_ivf_centroids

    assert suggest_ivf_centroids(0) == 16
    assert suggest_ivf_centroids(100) == 40
    assert suggest_ivf_centroids(1_000_000) == 4000
    catalog.build_index(
        spark, warehouse, "autoidx", docs, chunk_size=16, chunk_overlap=4,
        dims=32, with_bm25=False,
    )
    meta = catalog.build_ivf_index(spark, warehouse, "autoidx", n_centroids=None)
    assert meta.extra["ivf_centroids"] == suggest_ivf_centroids(
        meta.passage_count
    )


@pytest.fixture(scope="module")
def ivfpq_built(spark, docs, warehouse):
    catalog.build_index(
        spark, warehouse, "pqidx", docs, chunk_size=16, chunk_overlap=4,
        dims=32, with_bm25=False,
    )
    return catalog.build_ivf_index(
        spark, warehouse, "pqidx", n_centroids=4, centroids="take",
        pq_m=8, pq_k=8,
    )


def test_ivfpq_build_writes_packed_codes(spark, warehouse, ivfpq_built):
    meta = ivfpq_built
    assert meta.extra["pq_m"] == 8 and meta.extra["pq_k"] == 8
    ivf = spark.read.parquet(f"{warehouse}/pqidx/ivf")
    assert dict(ivf.dtypes)["code"] == "bigint"
    assert ivf.filter(F.col("code") < 0).count() == 0
    cb = spark.read.parquet(f"{warehouse}/pqidx/pq_codebook")
    assert cb.count() == 8 * 8  # m * k rows
    # every persisted row has a code covering all subspaces
    assert ivf.filter(F.col("code").isNull()).count() == 0


def test_ivfpq_full_probe_full_refine_equals_exact(spark, warehouse, ivfpq_built):
    """nprobe=C + refine covering the corpus: the PQ read path must
    reproduce the exact read path bit-for-bit through the catalog."""
    n = spark.read.parquet(f"{warehouse}/pqidx/ivf").count()
    exact = catalog.search_index(
        spark, warehouse, "pqidx", "alpha beta gamma", k=5, hybrid=False
    ).select("idx", "score").collect()
    pq = catalog.search_ivf_index(
        spark, warehouse, "pqidx", "alpha beta gamma", k=5, nprobe=4,
        use_pq=True, refine=(n // 5) + 1,
    ).select("idx", "score").collect()
    assert [(r["idx"], r["score"]) for r in pq] == [
        (r["idx"], r["score"]) for r in exact
    ]


def test_ivfpq_adc_only_returns_k(spark, warehouse, ivfpq_built):
    rows = catalog.search_ivf_index(
        spark, warehouse, "pqidx", "alpha beta", k=3, nprobe=4,
        use_pq=True, refine=0,
    ).collect()
    assert len(rows) == 3
    # result carries the assembled passage columns like the exact path
    assert {"idx", "score", "doc_id", "source", "text"} <= set(rows[0].asDict())


def test_ivfpq_use_pq_without_codes_raises(spark, docs, warehouse):
    catalog.build_index(
        spark, warehouse, "nopq", docs.limit(3), chunk_size=16,
        chunk_overlap=4, dims=32, with_bm25=False,
    )
    catalog.build_ivf_index(
        spark, warehouse, "nopq", n_centroids=2, centroids="take"
    )
    with pytest.raises(ValueError, match="no PQ codes"):
        catalog.search_ivf_index(
            spark, warehouse, "nopq", "alpha", k=2, use_pq=True
        )


def test_ivfpq_append_rederives_codes(spark, docs, warehouse, ivfpq_built):
    more = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 45))
    )
    meta = catalog.append_to_index(spark, warehouse, "pqidx", more)
    assert meta.extra.get("pq_m") == 8  # pq survives the re-derive
    ivf = spark.read.parquet(f"{warehouse}/pqidx/ivf")
    assert ivf.count() == meta.passage_count
    assert ivf.filter(F.col("code").isNull()).count() == 0
    rows = catalog.search_ivf_index(
        spark, warehouse, "pqidx", "alpha beta", k=3, nprobe=4,
        use_pq=True, refine=2,
    ).collect()
    assert len(rows) == 3


def test_prune_clears_pq_artifacts(spark, docs, warehouse):
    import os

    catalog.build_index(
        spark, warehouse, "prunepq", docs.limit(4), chunk_size=16,
        chunk_overlap=4, dims=32, with_bm25=False,
    )
    catalog.build_ivf_index(
        spark, warehouse, "prunepq", n_centroids=2, centroids="take",
        pq_m=8, pq_k=4,
    )
    meta = catalog.prune_index(warehouse, "prunepq")
    assert "pq_m" not in meta.extra
    assert not os.path.isdir(f"{warehouse}/prunepq/pq_codebook")
    # the guard now fires cleanly instead of a missing-path read error
    with pytest.raises(ValueError):
        catalog.search_ivf_index(
            spark, warehouse, "prunepq", "alpha", k=2, use_pq=True
        )


def test_ivf_incremental_append_equals_rebuild(spark, docs, warehouse):
    """Frozen-codebook incremental append must reproduce the rebuild
    result EXACTLY under the take policy (first-n centroids and
    deterministic PQ slices are append-invariant): same rows, same
    cluster assignments, same packed codes — and O(batch) instead of
    O(corpus)."""
    first = docs.filter(F.col("doc_id") < 20)
    more = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 30))
    for name in ("ivfinc", "ivfreb"):
        catalog.build_index(
            spark, warehouse, name, first, chunk_size=16,
            chunk_overlap=4, dims=32, with_bm25=False,
        )
        catalog.build_ivf_index(
            spark, warehouse, name, n_centroids=4, centroids="take",
            pq_m=8, pq_k=4,
        )
    catalog.append_to_index(
        spark, warehouse, "ivfinc", more, ivf_append="incremental"
    )
    catalog.append_to_index(
        spark, warehouse, "ivfreb", more, ivf_append="rebuild"
    )
    cols = ["idx", "cluster_id", "code"]
    inc = sorted(
        tuple(r) for r in
        spark.read.parquet(f"{warehouse}/ivfinc/ivf").select(cols).collect()
    )
    reb = sorted(
        tuple(r) for r in
        spark.read.parquet(f"{warehouse}/ivfreb/ivf").select(cols).collect()
    )
    assert inc == reb and len(inc) > 0
    # the searches agree too (same artifact ⇒ same plan inputs)
    a = catalog.search_ivf_index(
        spark, warehouse, "ivfinc", "alpha beta", k=5, nprobe=2
    ).collect()
    b = catalog.search_ivf_index(
        spark, warehouse, "ivfreb", "alpha beta", k=5, nprobe=2
    ).collect()
    assert [(r["idx"], r["score"]) for r in a] == [
        (r["idx"], r["score"]) for r in b
    ]


def test_ivf_append_unknown_mode_refused(spark, docs, warehouse, ivf_built):
    with pytest.raises(ValueError, match="ivf_append"):
        catalog.append_to_index(
            spark, warehouse, "ivfidx", docs.limit(1), ivf_append="nope"
        )


def test_compact_ivf_after_appends(spark, docs, warehouse):
    """Incremental appends accumulate one file per touched cluster per
    batch; compact rewrites to one file per cluster with the row set,
    codes, and search results unchanged."""
    import os

    catalog.build_index(
        spark, warehouse, "cmp", docs.filter(F.col("doc_id") < 10),
        chunk_size=16, chunk_overlap=4, dims=32, with_bm25=False,
    )
    catalog.build_ivf_index(
        spark, warehouse, "cmp", n_centroids=2, centroids="take",
        pq_m=8, pq_k=4,
    )
    for lo, hi in ((10, 20), (20, 30)):
        catalog.append_to_index(
            spark, warehouse, "cmp",
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
        )
    ivf_dir = f"{warehouse}/cmp/ivf"
    rows_before = sorted(
        tuple(r) for r in spark.read.parquet(ivf_dir)
        .select("idx", "cluster_id", "code").collect()
    )
    hits_before = [
        (r["idx"], r["score"]) for r in catalog.search_ivf_index(
            spark, warehouse, "cmp", "alpha beta", k=5, nprobe=2
        ).collect()
    ]
    n_before = catalog.compact_ivf_index(spark, warehouse, "cmp")
    assert n_before > 2  # the appends really did fragment the layout
    for d in os.listdir(ivf_dir):
        if d.startswith("cluster_id="):
            files = [f for f in os.listdir(f"{ivf_dir}/{d}")
                     if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)
    rows_after = sorted(
        tuple(r) for r in spark.read.parquet(ivf_dir)
        .select("idx", "cluster_id", "code").collect()
    )
    assert rows_after == rows_before
    hits_after = [
        (r["idx"], r["score"]) for r in catalog.search_ivf_index(
            spark, warehouse, "cmp", "alpha beta", k=5, nprobe=2
        ).collect()
    ]
    assert hits_after == hits_before


def test_compact_refuses_non_ivf(spark, docs, warehouse, built):
    with pytest.raises(ValueError, match="no IVF layout"):
        catalog.compact_ivf_index(spark, warehouse, "main")


def test_ivf_refresh_equals_rebuild_and_links_unmoved(spark, docs, warehouse):
    """refresh_ivf_index(n_centroids=…) must reproduce a from-scratch
    rebuild at the new codebook size row for row (assignments + pq
    codes), report a sane moved-rows stat, and carry partitions with
    no membership change by HARDLINK (inode equality — write bytes
    ∝ moved mass, not corpus size)."""
    import os

    # (20 docs built + 10 appended, C 6→7) probed to leave at least one
    # cluster's membership untouched, so the hardlink carry is exercised
    first = docs.filter(F.col("doc_id") < 20)
    more = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 30))
    for name in ("rfr", "rfb"):
        catalog.build_index(
            spark, warehouse, name, first, chunk_size=16,
            chunk_overlap=4, dims=32, with_bm25=False,
        )
        catalog.build_ivf_index(
            spark, warehouse, name, n_centroids=6, centroids="take",
            pq_m=8, pq_k=4,
        )
        catalog.append_to_index(
            spark, warehouse, name, more, ivf_append="incremental"
        )
    ivf_dir = f"{warehouse}/rfr/ivf"
    inode_before = {
        d: {
            f: os.stat(f"{ivf_dir}/{d}/{f}").st_ino
            for f in os.listdir(f"{ivf_dir}/{d}")
        }
        for d in os.listdir(ivf_dir)
        if d.startswith("cluster_id=")
    }
    stats = catalog.refresh_ivf_index(spark, warehouse, "rfr", n_centroids=7)
    assert stats["moved_rows"] > 0 and stats["affected_clusters"] > 0
    assert stats["moved_rows"] <= stats["total_rows"]
    # rebuild twin at the same (policy, C)
    catalog.build_ivf_index(
        spark, warehouse, "rfb", n_centroids=7, centroids="take",
        pq_m=8, pq_k=4,
    )
    cols = ["idx", "cluster_id", "code"]
    ref = sorted(
        tuple(r) for r in
        spark.read.parquet(f"{warehouse}/rfr/ivf").select(cols).collect()
    )
    reb = sorted(
        tuple(r) for r in
        spark.read.parquet(f"{warehouse}/rfb/ivf").select(cols).collect()
    )
    assert ref == reb and len(ref) > 0
    # meta coherent: resized codebook recorded, centroids table matches
    meta = catalog.load_meta(warehouse, "rfr")
    assert meta.extra["ivf_centroids"] == 7
    assert (
        spark.read.parquet(f"{warehouse}/rfr/ivf_centroids").count() == 7
    )
    # unmoved partitions carried by hardlink: at least one cluster kept
    # its exact membership, and every such cluster's files kept their
    # inodes (metadata-only carry)
    moved_members = {
        d for d in os.listdir(ivf_dir) if d.startswith("cluster_id=")
    }
    unchanged = [
        d for d in moved_members
        if d in inode_before
        and {
            f: os.stat(f"{ivf_dir}/{d}/{f}").st_ino
            for f in os.listdir(f"{ivf_dir}/{d}")
        }
        == inode_before[d]
    ]
    assert stats["affected_clusters"] + len(unchanged) >= len(moved_members)
    assert unchanged, "no partition was carried by hardlink"
    # searches agree end-to-end
    a = catalog.search_ivf_index(
        spark, warehouse, "rfr", "alpha beta", k=5, nprobe=3
    ).collect()
    b = catalog.search_ivf_index(
        spark, warehouse, "rfb", "alpha beta", k=5, nprobe=3
    ).collect()
    assert [(r["idx"], r["score"]) for r in a] == [
        (r["idx"], r["score"]) for r in b
    ]
    # no-op refresh at the same C moves nothing and changes nothing
    stats2 = catalog.refresh_ivf_index(spark, warehouse, "rfr", n_centroids=7)
    assert stats2["moved_rows"] == 0 and stats2["affected_clusters"] == 0
    ref2 = sorted(
        tuple(r) for r in
        spark.read.parquet(f"{warehouse}/rfr/ivf").select(cols).collect()
    )
    assert ref2 == ref


def test_ivf_refresh_refuses_non_ivf(spark, docs, warehouse, built):
    with pytest.raises(ValueError, match="no IVF layout"):
        catalog.refresh_ivf_index(spark, warehouse, "main")


def test_ivf_drift_report(spark, docs, warehouse):
    """After an incremental append, the drift report splits occupancy
    into built vs appended mass; shares sum to 1 within each era and
    the totals reconcile with the layout."""
    catalog.build_index(
        spark, warehouse, "drift", docs.filter(F.col("doc_id") < 15),
        chunk_size=16, chunk_overlap=4, dims=32, with_bm25=False,
    )
    catalog.build_ivf_index(
        spark, warehouse, "drift", n_centroids=4, centroids="take"
    )
    catalog.append_to_index(
        spark, warehouse, "drift",
        docs.filter((F.col("doc_id") >= 15) & (F.col("doc_id") < 30)),
        ivf_append="incremental",
    )
    rep = catalog.ivf_drift_report(spark, warehouse, "drift").collect()
    meta = catalog.load_meta(warehouse, "drift")
    built = meta.extra["ivf_built_count"]
    assert sum(r["n_built"] for r in rep) == built
    assert sum(r["n_appended"] for r in rep) == meta.passage_count - built
    assert meta.passage_count > built > 0
    assert abs(sum(r["built_share"] for r in rep) - 1.0) < 1e-9
    assert abs(sum(r["appended_share"] for r in rep) - 1.0) < 1e-9
    for r in rep:
        if r["n_built"] > 0:
            assert r["drift_ratio"] is not None and r["drift_ratio"] >= 0


def test_ivf_drift_report_refuses_non_ivf(spark, docs, warehouse, built):
    with pytest.raises(ValueError, match="no IVF layout"):
        catalog.ivf_drift_report(spark, warehouse, "main")


def test_minhash_index_build_append_load_roundtrip(spark, tmp_path):
    """The persisted signature artifact: build on half the corpus,
    append the rest — the loaded table must equal a from-scratch bulk
    signature run bit-for-bit (MinHash is a fixed derived-hash family,
    corpus-independent), and the meta round-trips."""
    import pytest

    from leann_rs_spark.catalog import (
        append_to_minhash_index,
        build_minhash_index,
        load_minhash_index,
    )
    from leann_rs_spark.operators.dedup import _minhash_signatures_bulk

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text lives here"),
            (4, "abc"),  # shorter than shingle_k: no signature row
        ],
        "doc_id long, text string",
    )
    wh = str(tmp_path / "wh")
    build_minhash_index(
        spark, wh, "sigs", docs.filter("doc_id <= 2"), num_hashes=8
    )
    append_to_minhash_index(spark, wh, "sigs", docs.filter("doc_id > 2"))
    sigs, info = load_minhash_index(spark, wh, "sigs")
    assert info["num_hashes"] == 8 and info["shingle_k"] == 5
    assert info["rows"] == 3  # doc 4 too short
    got = sorted(
        (r["doc_id"], tuple(r["sig"])) for r in sigs.collect()
    )
    want = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in _minhash_signatures_bulk(docs, num_hashes=8).collect()
    )
    assert got == want

    # an index whose meta lacks the minhash section refuses clearly
    from leann_rs_spark.catalog import load_meta, save_meta

    meta = load_meta(wh, "sigs")
    del meta.extra["minhash_index"]
    save_meta(wh, "sigs", meta)
    with pytest.raises(ValueError, match="no minhash index"):
        load_minhash_index(spark, wh, "sigs")


def test_minhash_index_degenerate_inputs(spark, tmp_path):
    """Round-8 edge probes for the signature artifact: a corpus whose
    docs are all shorter than shingle_k builds an EMPTY but loadable
    artifact (rows=0); an empty append batch is a no-op; compacting a
    fresh single-write artifact works and serving is unchanged."""
    from leann_rs_spark.catalog import (
        append_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        load_minhash_index,
    )

    short = spark.createDataFrame(
        [(1, "ab"), (2, "cd")], "doc_id long, text string"
    )
    wh = str(tmp_path / "wh")
    build_minhash_index(spark, wh, "s", short)
    sigs, info = load_minhash_index(spark, wh, "s")
    assert info["rows"] == 0 and sigs.count() == 0

    # empty append batch: no-op, meta unchanged
    append_to_minhash_index(
        spark, wh, "s", short.filter("doc_id > 99")
    )
    _, info2 = load_minhash_index(spark, wh, "s")
    assert info2["rows"] == 0

    # real docs, then compact a single-write layout
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps x")],
        "doc_id long, text string",
    )
    wh2 = str(tmp_path / "wh2")
    build_minhash_index(spark, wh2, "s", docs)
    before = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in load_minhash_index(spark, wh2, "s")[0].collect()
    )
    n = compact_minhash_index(spark, wh2, "s")
    assert n >= 1
    after = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in load_minhash_index(spark, wh2, "s")[0].collect()
    )
    assert after == before


# --- the shared artifact lifecycle: guard, writer heal, _compact -----------

# artifact -> (its table, compact entry point, partition column or None)
_ARTIFACTS = {
    "ivf": ("ivf", catalog.compact_ivf_index, "cluster_id"),
    "token_routed": ("token_index", catalog.compact_token_index, "cid"),
    "token": ("token_index", catalog.compact_token_index, None),
    "minhash": ("minhash_sigs", catalog.compact_minhash_index, None),
}


def _lifecycle_docs(spark, lo, hi):
    return (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    )


@pytest.fixture(scope="module")
def pristine(spark, tmp_path_factory):
    """One freshly built index per artifact (docs 0-9, no append yet);
    each test copies the one it needs."""
    wh = str(tmp_path_factory.mktemp("pristine"))
    first = _lifecycle_docs(spark, 0, 10)
    catalog.build_index(
        spark, wh, "ivf", first, chunk_size=16, chunk_overlap=4, dims=32,
        with_bm25=False,
    )
    catalog.build_ivf_index(
        spark, wh, "ivf", n_centroids=2, centroids="take", pq_m=8, pq_k=4
    )
    catalog.build_token_index(spark, wh, "token_routed", first, dims=16,
                              n_centroids=4)
    catalog.build_token_index(spark, wh, "token", first, dims=16)
    catalog.build_minhash_index(spark, wh, "minhash", first, num_hashes=8)
    return wh


def _copy_index(pristine, tmp_path, artifact):
    import shutil

    wh = str(tmp_path / "wh")
    shutil.copytree(f"{pristine}/{artifact}", f"{wh}/{artifact}")
    return wh


def _append_batch(spark, wh, artifact, lo, hi):
    batch = _lifecycle_docs(spark, lo, hi)
    if artifact == "ivf":
        catalog.append_to_index(spark, wh, artifact, batch)
    elif artifact.startswith("token"):
        catalog.append_to_token_index(spark, wh, artifact, batch)
    else:
        catalog.append_to_minhash_index(spark, wh, artifact, batch)


def _rows(spark, path):
    df = spark.read.parquet(path)
    return sorted(repr(r) for r in df.select(sorted(df.columns)).collect())


def _parquet_files(path):
    import os

    return sorted(
        os.path.relpath(os.path.join(root, f), path)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _meta_rows(wh, artifact):
    meta = catalog.load_meta(wh, artifact)
    if artifact == "ivf":
        return meta.passage_count
    kind = "token" if artifact.startswith("token") else "minhash"
    return meta.extra[f"{kind}_index"]["rows"]


@pytest.mark.parametrize("crash", ["compacting_leftover", "lone_old"])
@pytest.mark.parametrize("artifact", list(_ARTIFACTS))
def test_compact_heals_and_keeps_rows_and_layout(
    spark, pristine, tmp_path, artifact, crash
):
    """Every compaction runs through `_compact`: after an append has
    fragmented the table, a crashed compaction's leftover
    `<table>__compacting` is discarded, and a crashed swap's lone
    `<table>__old` (no live table) is restored before compacting. The
    row set is unchanged, the returned count is the pre-compaction file
    count, and a partitioned table keeps its directories with one file
    each (an unpartitioned one collapses to one file at this size)."""
    import os

    table, compact, part_col = _ARTIFACTS[artifact]
    wh = _copy_index(pristine, tmp_path, artifact)
    _append_batch(spark, wh, artifact, 10, 20)
    live = f"{wh}/{artifact}/{table}"
    rows, files = _rows(spark, live), _parquet_files(live)
    dirs = sorted(d for d in os.listdir(live) if "=" in d)
    if crash == "lone_old":
        os.rename(live, live + "__old")
    else:
        os.makedirs(live + "__compacting/junk=1")
        open(live + "__compacting/junk=1/part-0.parquet", "w").close()

    assert compact(spark, wh, artifact) == len(files)

    for leftover in ("__old", "__compacting"):
        assert not os.path.exists(live + leftover)
    assert _rows(spark, live) == rows
    after = _parquet_files(live)
    if part_col is None:
        assert len(after) == 1 and "/" not in after[0]
    else:
        assert sorted(d for d in os.listdir(live) if "=" in d) == dirs
        assert all(d.startswith(f"{part_col}=") for d in dirs)
        assert len(after) == len(dirs)  # one file per directory


@pytest.mark.parametrize("artifact", ["ivf", "token", "minhash"])
def test_append_after_crashed_swap_keeps_the_artifact(
    spark, pristine, tmp_path, artifact
):
    """A swap that crashed between its renames leaves only
    `<table>__old`. An append is a writer: it must heal the table
    before writing, or it starts a fresh table holding only its batch
    (and the next heal would delete the corpus in `__old`)."""
    import os

    table = _ARTIFACTS[artifact][0]
    wh = _copy_index(pristine, tmp_path, artifact)
    live = f"{wh}/{artifact}/{table}"
    old_rows = spark.read.parquet(live).count()
    os.rename(live, live + "__old")

    _append_batch(spark, wh, artifact, 10, 20)

    batch = _meta_rows(wh, artifact) - _meta_rows(pristine, artifact)
    assert batch > 0
    assert old_rows == _meta_rows(pristine, artifact)
    assert spark.read.parquet(live).count() == old_rows + batch
    assert not os.path.exists(live + "__old")


_NO_IVF = "index 'bare' has no IVF layout (backend=exact)"
_NO_TOKEN = "index 'bare' has no token index — run build_token_index"
_NO_MINHASH = "index 'bare' has no minhash index — run build_minhash_index"


@pytest.mark.parametrize(
    "call, message",
    [
        (lambda s, wh, d: catalog.ivf_drift_report(s, wh, "bare"), _NO_IVF),
        (lambda s, wh, d: catalog.compact_ivf_index(s, wh, "bare"), _NO_IVF),
        (lambda s, wh, d: catalog.refresh_ivf_index(s, wh, "bare"), _NO_IVF),
        (lambda s, wh, d: catalog.search_ivf_index(s, wh, "bare", "q"),
         _NO_IVF),
        (lambda s, wh, d: catalog.append_to_token_index(s, wh, "bare", d),
         _NO_TOKEN),
        (lambda s, wh, d: catalog.compact_token_index(s, wh, "bare"),
         _NO_TOKEN),
        (lambda s, wh, d: catalog.load_token_index(s, wh, "bare"), _NO_TOKEN),
        (lambda s, wh, d: catalog.append_to_minhash_index(s, wh, "bare", d),
         _NO_MINHASH),
        (lambda s, wh, d: catalog.compact_minhash_index(s, wh, "bare"),
         _NO_MINHASH),
        (lambda s, wh, d: catalog.load_minhash_index(s, wh, "bare"),
         _NO_MINHASH),
    ],
    ids=[
        "ivf_drift_report", "compact_ivf_index", "refresh_ivf_index",
        "search_ivf_index", "append_to_token_index", "compact_token_index",
        "load_token_index", "append_to_minhash_index",
        "compact_minhash_index", "load_minhash_index",
    ],
)
def test_artifact_entry_points_refuse_a_missing_artifact(
    spark, tmp_path, call, message
):
    """Each entry point of an optional artifact refuses an index without
    it, with the artifact's message, before touching any table."""
    import os
    import re

    wh = str(tmp_path / "wh")
    catalog.save_meta(wh, "bare", catalog.IndexMeta())
    docs = spark.range(1).selectExpr("id AS doc_id", "'x y z' AS text")
    with pytest.raises(ValueError, match=f"^{re.escape(message)}$"):
        call(spark, wh, docs)
    assert os.listdir(f"{wh}/bare") == ["meta.json"]


FLAT_TABLES = ("passages", "embeddings", "bm25_docstats")


def test_small_tables_are_one_file_each(spark, docs, tmp_path):
    """A small build writes each unpartitioned table (passages,
    embeddings, bm25_docstats, pq_codebook) as one parquet file and a
    small append adds one file per table; search results are those of
    the same rows spread over four files per table."""
    import shutil

    wh = str(tmp_path)
    catalog.build_index(
        spark, wh, "small", docs.filter(F.col("doc_id") < 20),
        chunk_size=16, chunk_overlap=4, dims=32,
    )
    for table in FLAT_TABLES:
        assert len(_parquet_files(f"{wh}/small/{table}")) == 1, table
    catalog.build_ivf_index(
        spark, wh, "small", n_centroids=4, centroids="take", pq_m=4, pq_k=4
    )
    assert len(_parquet_files(f"{wh}/small/pq_codebook")) == 1
    meta = catalog.append_to_index(
        spark, wh, "small", docs.filter(F.col("doc_id") >= 20)
    )
    for table in FLAT_TABLES:
        path = f"{wh}/small/{table}"
        assert len(_parquet_files(path)) == 2, table
        assert spark.read.parquet(path).count() == meta.passage_count

    shutil.copytree(f"{wh}/small", f"{wh}/spread")
    for table in FLAT_TABLES:
        path = f"{wh}/spread/{table}"
        spark.read.parquet(path).repartition(4).write.parquet(path + "__4")
        shutil.rmtree(path)
        shutil.move(path + "__4", path)
        assert len(_parquet_files(path)) == 4, table

    def search(name, **kw):
        return catalog.search_index(
            spark, wh, name, "alpha beta", k=5, **kw
        ).collect()

    for kw in ({"hybrid": False}, {"hybrid": True},
               {"filter_str": "doc_id>=10"}):
        assert search("small", **kw) == search("spread", **kw), kw
