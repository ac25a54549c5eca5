"""Dedup operator tests: semantics on constructed cases + full
Spark ⟷ DuckDB parity on the sf0.001 documents table."""

import duckdb
import pytest
from pyspark.sql import functions as F

from leann_rs_spark.operators.dedup import (
    duckdb_minhash_near_dups,
    duckdb_ngram_jaccard_pairs,
    duckdb_simhash_near_dups,
    embedding_near_dups,
    exact_dedup,
    minhash_near_dups,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_bits,
    simhash_near_dups,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other"), (4, "same text")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in exact_dedup(df).collect()}
    assert rows[1]["group_size"] == 3 and rows[1]["is_canonical"]
    assert rows[2]["group_size"] == 3 and not rows[2]["is_canonical"]
    assert rows[4]["group_size"] == 3 and not rows[4]["is_canonical"]
    assert rows[3]["group_size"] == 1 and rows[3]["is_canonical"]


def test_minhash_identical_docs_jaccard_one(spark):
    text = "the quick brown fox jumps over the lazy dog repeatedly today"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely unrelated words entirely xyz")],
        ["doc_id", "text"],
    )
    pairs = minhash_near_dups(df, threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_minhash_signature_shape(spark):
    df = _docs(spark).limit(10)
    sigs = minhash_signatures(df, num_hashes=8).collect()
    assert len(sigs) == 10
    for r in sigs:
        assert len(r["sig"]) == 8
        assert all(s >= 0 for s in r["sig"])


def test_minhash_bulk_matches_scalar(spark):
    """_minhash_signatures_bulk (exploded shingle rows, codegen'd min
    aggregates over NON-distinct shingles) must be bit-identical to
    minhash_signatures (scalar HOF over distinct shingles): min over a
    multiset equals min over its distinct set. Pins the two forms
    together regardless of which physical shape each uses (the round-10
    scalar rewrite of the bulk form was reverted on bench evidence —
    see _minhash_signatures_bulk's docstring)."""
    from leann_rs_spark.operators.dedup import _minhash_signatures_bulk

    docs = _docs(spark).select("doc_id", "text").limit(50)
    short = spark.createDataFrame([(10_000, "ab")], ["doc_id", "text"])
    docs = docs.unionByName(short)
    bulk = {
        r["doc_id"]: r["sig"]
        for r in _minhash_signatures_bulk(docs, num_hashes=16).collect()
    }
    ref = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures(docs, num_hashes=16).collect()
    }
    assert bulk == ref
    assert 10_000 not in bulk  # sub-shingle_k docs dropped by both forms


def test_ngram_jaccard_exact_small(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),  # 5-of-6 tokens shared
            (3, "nothing in common here at all"),
        ],
        ["doc_id", "text"],
    )
    # 3-grams doc1: 4 grams, doc2: 4 grams, shared: 3 -> j = 3/5
    pairs = ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["id_a"], p["id_b"]) == (1, 2)
    assert p["jaccard"] == pytest.approx(3 / 5)


def test_simhash_identical_hamming_zero(spark):
    text = "spark catalyst tungsten optimizer whole stage codegen"
    df = spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    pairs = simhash_near_dups(df, max_hamming=0).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]
    bits = df.select(simhash_bits("text", 32).alias("b")).head()["b"]
    assert len(bits) == 32 and set(bits) <= {0, 1}


def test_embedding_near_dups_constructed(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),   # ~parallel to 1
            (3, [0.0, 1.0, 0.0]),      # orthogonal
        ],
        ["vec_id", "embedding"],
    )
    pairs = embedding_near_dups(df, threshold=0.95).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["cos"] > 0.99


def _duck(sql: str):
    con = duckdb.connect()
    con.sql(f"create view documents as select * from '{SF}/documents.parquet'")
    return con.sql(sql).fetchall()


def test_minhash_parity_with_duckdb(spark):
    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_near_dups(_docs(spark), threshold=0.3).collect()
    }
    want = {
        (a, b, round(j, 9))
        for a, b, j in _duck(duckdb_minhash_near_dups(threshold=0.3))
    }
    assert got == want and len(got) > 0


def test_ngram_parity_with_duckdb(spark):
    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()
    }
    want = {
        (a, b, round(j, 9))
        for a, b, j in _duck(duckdb_ngram_jaccard_pairs(threshold=0.3))
    }
    assert got == want and len(got) > 0


def test_simhash_parity_with_duckdb(spark):
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(_docs(spark), max_hamming=2).collect()
    }
    want = {(a, b, h) for a, b, h in _duck(duckdb_simhash_near_dups(max_hamming=2))}
    assert got == want


def test_minhash_catches_all_planted_near_dups(spark):
    """Recall check on real data: brute-force char-5-shingle Jaccard
    ≥ 0.5 pairs (planted near-dups sit at j 0.92-1.0 in sf0.001) are
    all caught by LSH(16 hashes, 4 bands). Deterministic — fixed data,
    fixed hash."""
    exact = {
        (ia, ib)
        for ia, ib, j in _duck("""
            WITH s AS (
              SELECT doc_id, list_distinct(list_transform(
                generate_series(1, length(text) - 4),
                i -> substr(text, i, 5))) AS sh
              FROM documents WHERE length(text) >= 5)
            SELECT a.doc_id, b.doc_id,
              len(list_filter(a.sh, x -> list_contains(b.sh, x)))::double /
              (len(a.sh) + len(b.sh)
               - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS j
            FROM s a, s b WHERE a.doc_id < b.doc_id
        """)
        if j >= 0.5
    }
    mh = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(_docs(spark), threshold=0.0).collect()
    }
    assert len(exact) > 0 and exact <= mh


def test_embedding_near_dups_blocked_bit_exact(spark):
    """The numpy block-matmul variant must return BIT-IDENTICAL pairs
    and scores to the aggregate(zip_with) expression variant — same
    left-fold summation order over dimensions."""
    from leann_rs_spark.operators.dedup import (
        embedding_near_dups,
        embedding_near_dups_blocked,
    )
    from leann_rs_spark.operators.embedder import embed_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = embed_documents(docs, dims=32).select("doc_id", "embedding")
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_dups(
            emb, id_col="doc_id", threshold=0.9, assume_normalized=True
        ).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_dups_blocked(
            emb, id_col="doc_id", threshold=0.9, block=17
        ).collect()
    }
    assert blocked == exact  # exact float equality, no rounding
    assert len(exact) > 0


def test_contamination_overlap_flags_planted_probe(spark):
    from leann_rs_spark.operators.dedup import contamination_overlap

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    probe_row = docs.filter(F.col("doc_id") == 7).select(
        F.substring("text", 5, 120).alias("s")
    ).head()
    probes = spark.createDataFrame(
        [(0, probe_row["s"]), (1, "completely unrelated probe text zzz")],
        "probe_id long, probe_text string",
    )
    out = contamination_overlap(docs, probes, n=5).collect()
    hits = {(r["doc_id"], r["probe_id"]): r["n_shared"] for r in out}
    assert (7, 0) in hits and hits[(7, 0)] > 0
    assert all(pid != 1 for (_, pid) in hits)


def test_exact_near_dup_guard_refuses_large_inputs(spark):
    """The exact all-pairs operators are small-N verification tools:
    above max_rows they must refuse and point at the LSH path."""
    import pytest

    from leann_rs_spark.operators.dedup import (
        embedding_near_dups,
        embedding_near_dups_blocked,
    )

    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="lsh_near_dups"):
        embedding_near_dups(emb, max_rows=10, cache=False)
    with pytest.raises(ValueError, match="lsh_near_dups"):
        embedding_near_dups_blocked(emb, max_rows=10, cache=False)
    # override restores the small-N verification path
    assert embedding_near_dups(emb, max_rows=None, cache=False).count() >= 0


def test_incremental_minhash_matches_cross_split_pairs(spark):
    """Incremental (new vs corpus) must return exactly the symmetric
    operator's pairs that straddle the split — same candidates, same
    jaccard values — and the precomputed-signature path must agree."""
    from leann_rs_spark.operators.dedup import (
        _minhash_signatures_bulk,
        minhash_near_dups,
        minhash_near_dups_incremental,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    split = 400
    corpus = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)

    sym = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])): round(r["jaccard"], 9)
        for r in minhash_near_dups(docs, threshold=0.5).collect()
        if (r["id_a"] >= split) != (r["id_b"] >= split)
    }
    inc = {
        (r["new_id"], r["corpus_id"]): round(r["jaccard"], 9)
        for r in minhash_near_dups_incremental(corpus, new, threshold=0.5).collect()
    }
    assert inc == sym and inc  # the planted near-dups straddle the split

    sigs = _minhash_signatures_bulk(corpus).persist()
    sigs.count()
    pre = {
        (r["new_id"], r["corpus_id"]): round(r["jaccard"], 9)
        for r in minhash_near_dups_incremental(
            corpus, new, threshold=0.5, corpus_sigs=sigs
        ).collect()
    }
    assert pre == inc


def test_minhash_corpus_sigs_persists_verify_shingles(spark):
    """The artifact-served path persists the verify-shingle frame (it
    feeds BOTH attach joins; with the signature aggregate gone the
    double shingle pass is the dominant per-action cost — measured
    x_curation_pipeline_sigs 9.5→7.2 s at sf0.1, r10) and registers
    it in `intermediates` so long-lived drivers can unpersist it. The
    inline path deliberately does NOT (the persist barrier measured as
    a net regression there — see the minhash_near_dups comment)."""
    from pyspark.sql import functions as F

    from leann_rs_spark.operators.dedup import (
        _minhash_signatures_bulk,
        minhash_near_dups,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id") < 120)
    sigs = _minhash_signatures_bulk(docs).persist()
    sigs.count()

    inter_inline: list = []
    minhash_near_dups(
        docs, threshold=0.5, intermediates=inter_inline
    ).count()
    inter_served: list = []
    minhash_near_dups(
        docs, threshold=0.5, corpus_sigs=sigs, intermediates=inter_served
    ).count()
    # served = [sliced sigs persist, verify-shingle persist];
    # inline = [sig-table persist] only.
    assert len(inter_served) == len(inter_inline) + 1
    shingle_frames = [
        f for f in inter_served if "shingles" in f.columns
    ]
    assert len(shingle_frames) == 1
    assert shingle_frames[0].storageLevel.useMemory
    for f in inter_inline + inter_served:
        f.unpersist()
    sigs.unpersist()


def test_minhash_corpus_sigs_validates_coverage_and_width(spark):
    """A stale artifact (missing docs) or a too-narrow artifact must
    raise instead of silently under-deduplicating / degenerating the
    banded plan (ADVICE r9)."""
    import pytest

    from leann_rs_spark.operators.dedup import (
        _minhash_signatures_bulk,
        minhash_near_dups,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id") < 200)

    # full-coverage artifact: passes validation, matches inline output
    sigs = _minhash_signatures_bulk(docs).persist()
    sigs.count()
    inline = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in minhash_near_dups(docs, threshold=0.5).collect()
    }
    served = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in minhash_near_dups(
            docs, threshold=0.5, corpus_sigs=sigs
        ).collect()
    }
    assert served == inline

    # artifact missing shingle-eligible docs → coverage error naming
    # the uncovered count
    stale = sigs.filter(F.col("doc_id") < 100)
    with pytest.raises(ValueError, match="does not cover"):
        minhash_near_dups(docs, threshold=0.5, corpus_sigs=stale)
    # validate_sigs=False restores the (documented-unsafe) old behavior
    assert (
        minhash_near_dups(
            docs, threshold=0.5, corpus_sigs=stale, validate_sigs=False
        ).count()
        >= 0
    )

    # artifact narrower than num_hashes → width error (empty trailing
    # bands would collide every doc)
    narrow = sigs.select("doc_id", F.slice("sig", 1, 8).alias("sig"))
    with pytest.raises(ValueError, match="hashes wide"):
        minhash_near_dups(docs, threshold=0.5, corpus_sigs=narrow)
    sigs.unpersist()


def test_incremental_minhash_broadcasts_new_side(spark):
    from leann_rs_spark.operators.dedup import minhash_near_dups_incremental

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = minhash_near_dups_incremental(
        docs.filter(F.col("doc_id") < 400),
        docs.filter(F.col("doc_id") >= 400),
    )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_incremental_simhash_matches_cross_split_pairs(spark):
    """Incremental (new vs corpus) must return exactly the symmetric
    operator's cross-split pairs with the same hamming; the
    precomputed-sketch path must agree; the new side broadcasts."""
    from leann_rs_spark.operators.dedup import (
        _simhash_packed,
        simhash_near_dups,
        simhash_near_dups_incremental,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    split = 400
    corpus = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)

    sym = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])): r["hamming"]
        for r in simhash_near_dups(docs, max_hamming=3).collect()
        if (r["id_a"] >= split) != (r["id_b"] >= split)
    }
    inc_df = simhash_near_dups_incremental(corpus, new, max_hamming=3)
    inc = {
        (r["new_id"], r["corpus_id"]): r["hamming"] for r in inc_df.collect()
    }
    assert inc == sym and inc

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        inc_df.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()

    sk = _simhash_packed(corpus, "doc_id", "text", 32).persist()
    sk.count()
    pre = {
        (r["new_id"], r["corpus_id"]): r["hamming"]
        for r in simhash_near_dups_incremental(
            corpus, new, max_hamming=3, corpus_sketches=sk
        ).collect()
    }
    assert pre == inc
    sk.unpersist()


def test_dedup_clusters_deep_chain_converges(spark):
    """A diameter-8 chain ordered AGAINST the propagation direction
    (min id at the far end) forces several label-propagation rounds —
    pins the r10 fused round (lazy localCheckpoint materialized by the
    change-check count, init agg not checkpointed) through the
    multi-round path, not just the 1-2-round graphs the bench data
    produces."""
    from leann_rs_spark.operators.dedup import dedup_clusters

    # chain 9-8-7-...-1: label 1 must walk 8 hops
    pairs = spark.createDataFrame(
        [(i, i - 1) for i in range(9, 1, -1)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {i: 1 for i in range(1, 10)}


def test_dedup_clusters_hand_graph(spark):
    """Chain 1-2-3-4 and pair (10,11) must collapse to min-id labels;
    convergence needs diameter rounds, pinned under max_iter."""
    from leann_rs_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_keep_canonical(spark):
    from leann_rs_spark.operators.dedup import dedup_keep_canonical

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in dedup_keep_canonical(docs, pairs).collect()
    }
    # component {0,3,5} keeps 0; singletons keep themselves
    assert got == {
        0: (0, True), 1: (1, True), 2: (2, True),
        3: (0, False), 4: (4, True), 5: (0, False),
    }


def test_dedup_clusters_matches_recursive_cte(spark, duck):
    """Random-ish sparse graph: Spark label propagation == DuckDB
    transitive closure."""
    from leann_rs_spark.operators.dedup import dedup_clusters, duckdb_dedup_clusters

    edges = [(i, (i * 7 + 3) % 40) for i in range(0, 40, 2) if i != (i * 7 + 3) % 40]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    vals = ", ".join(f"({a}, {b})" for a, b in edges)
    want = {
        int(r[0]): int(r[1])
        for r in duck.sql(
            duckdb_dedup_clusters(f"SELECT * FROM (VALUES {vals}) v(id_a, id_b)")
        ).fetchall()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Exact-substring span dedup (duplicate_spans)
# ---------------------------------------------------------------------------

def _span_rows(spark, rows, n):
    from leann_rs_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return {r["doc_id"]: r for r in duplicate_spans(df, n=n).collect()}


def test_duplicate_spans_marks_shared_gram(spark):
    # docs 1 and 2 share the 3-gram "a b c"; doc 3 shares nothing
    got = _span_rows(
        spark,
        [(1, "a b c x y"), (2, "z a b c"), (3, "p q r s t")],
        n=3,
    )
    assert got[1]["dup_tokens"] == 3 and got[1]["clean_text"] == "x y"
    assert got[2]["dup_tokens"] == 3 and got[2]["clean_text"] == "z"
    assert got[3]["dup_tokens"] == 0 and got[3]["clean_text"] == "p q r s t"


def test_duplicate_spans_same_doc_repeat_counts(spark):
    # the gram repeats WITHIN one document -> both occurrences cut
    got = _span_rows(spark, [(1, "a b c q a b c")], n=3)
    assert got[1]["dup_tokens"] == 6
    assert got[1]["clean_text"] == "q"


def test_duplicate_spans_overlapping_grams_merge(spark):
    # "a b c d" in both docs: with n=3 the two grams overlap; covered
    # positions union, not double-count
    got = _span_rows(spark, [(1, "a b c d x"), (2, "a b c d y")], n=3)
    assert got[1]["dup_tokens"] == 4 and got[1]["clean_text"] == "x"


def test_duplicate_spans_short_doc_untouched(spark):
    got = _span_rows(spark, [(1, "a b"), (2, "a b")], n=3)
    assert got[1]["dup_tokens"] == 0 and got[1]["clean_text"] == "a b"


def test_duplicate_spans_duckdb_parity(spark):
    from leann_rs_spark.operators.dedup import (
        duckdb_duplicate_spans,
        duplicate_spans,
    )

    out = duplicate_spans(_docs(spark), n=8)
    got = sorted(
        (r["doc_id"], r["n_tokens"], r["dup_tokens"],
         round(r["dup_frac"], 6), r["clean_text"])
        for r in out.collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    want = sorted(
        (a, b, c, round(d, 6), e)
        for a, b, c, d, e in con.execute(duckdb_duplicate_spans(8)).fetchall()
    )
    assert got == want


def test_exact_dedup_incremental_drops_corpus_and_batch_dups(spark):
    from leann_rs_spark.operators.dedup import exact_dedup_incremental

    corpus = spark.createDataFrame(
        [(1, "known text"), (2, "other known")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "known text"),   # exact dup of corpus -> dropped
            (11, "fresh text"),   # new -> kept
            (12, "fresh text"),   # in-batch dup, higher id -> dropped
            (13, "also new"),
        ],
        ["doc_id", "text"],
    )
    kept = {r["doc_id"] for r in exact_dedup_incremental(corpus, batch).collect()}
    assert kept == {11, 13}


def test_exact_dedup_incremental_duckdb_parity(spark):
    from leann_rs_spark.operators.dedup import (
        duckdb_exact_dedup_incremental,
        exact_dedup_incremental,
    )

    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") < 300)
    batch = docs.filter(F.col("doc_id") >= 300)
    got = sorted(
        (r["doc_id"], r["text_md5"])
        for r in exact_dedup_incremental(corpus, batch).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    want = sorted(
        (a, b)
        for a, b in con.execute(
            "SELECT doc_id, text_md5 FROM ("
            + duckdb_exact_dedup_incremental(
                "SELECT * FROM documents WHERE doc_id < 300",
                "SELECT * FROM documents WHERE doc_id >= 300",
            )
            + ")"
        ).fetchall()
    )
    assert got == want


def test_duplicate_spans_duckdb_parity_with_empty_docs(spark):
    """Zero-token docs (empty / whitespace-only text) must survive BOTH
    the operator and the oracle with n_tokens=0 and clean_text='' — the
    oracle's clean CTE has no token rows for them, so its final join
    must be a LEFT join (regression: an INNER join dropped them)."""
    from leann_rs_spark.operators.dedup import (
        duckdb_duplicate_spans,
        duplicate_spans,
    )

    rows = [
        (1, "a b c d e f g h x"),
        (2, "a b c d e f g h y"),
        (3, ""),
        (4, "   "),
        (5, "solo"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r["doc_id"], r["n_tokens"], r["dup_tokens"],
         round(r["dup_frac"], 6), r["clean_text"])
        for r in duplicate_spans(df, n=8).collect()
    )
    con = duckdb.connect()
    vals = ", ".join(f"({i}, '{t}')" for i, t in rows)
    want = sorted(
        (a, b, c, round(d, 6), e)
        for a, b, c, d, e in con.execute(
            duckdb_duplicate_spans(8, table=f"(SELECT * FROM (VALUES {vals}) v(doc_id, text))")
        ).fetchall()
    )
    assert got == want
    assert (3, 0, 0, 0.0, "") in got and (4, 0, 0, 0.0, "") in got


# ---------------------------------------------------------------- paragraph


def test_paragraph_dedup_first_occurrence_wins(spark):
    pages = spark.createDataFrame(
        [
            (1, "A\nB\nfoot"),
            (2, "B\nC\nfoot"),
            (3, "  \n\n"),
        ],
        ["page_id", "text"],
    )
    from leann_rs_spark.operators.dedup import paragraph_dedup

    rows = {r["page_id"]: r for r in paragraph_dedup(pages, id_col="page_id").collect()}
    assert rows[1]["n_paras"] == 3 and rows[1]["dup_paras"] == 0
    assert rows[1]["clean_text"] == "A\nB\nfoot"
    assert rows[2]["n_paras"] == 3 and rows[2]["dup_paras"] == 2
    assert rows[2]["clean_text"] == "C"
    assert rows[2]["dup_frac"] == pytest.approx(2 / 3)
    # all-blank page survives with zero counts (the zero-token lesson)
    assert rows[3]["n_paras"] == 0 and rows[3]["clean_text"] == ""


def test_paragraph_dedup_within_page_copy_dropped(spark):
    pages = spark.createDataFrame([(7, "X\nY\nX")], ["page_id", "text"])
    from leann_rs_spark.operators.dedup import paragraph_dedup

    r = paragraph_dedup(pages, id_col="page_id").collect()[0]
    assert r["n_paras"] == 3 and r["dup_paras"] == 1
    assert r["clean_text"] == "X\nY"


def test_paragraph_dedup_duckdb_parity(spark):
    """Full parity on synthesized pages over the sf0.001 corpus: docs
    as paragraphs grouped 4/page + a boilerplate footer on every page."""
    from leann_rs_spark.operators.dedup import (
        duckdb_paragraph_dedup,
        paragraph_dedup,
    )

    docs = _docs(spark)
    base = docs.select(
        F.floor(F.col("doc_id") / 4).cast("bigint").alias("page_id"),
        (F.col("doc_id") % 4).cast("int").alias("idx"),
        F.col("text").alias("para"),
    )
    boiler = base.select("page_id").distinct().select(
        "page_id", F.lit(4).cast("int").alias("idx"),
        F.lit("follow us on social media").alias("para"),
    )
    pages = (
        base.unionAll(boiler)
        .groupBy("page_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("idx", "para"))),
                    lambda s: s["para"],
                ),
                "\n",
            ).alias("text")
        )
    )
    got = sorted(
        (r["page_id"], r["n_paras"], r["dup_paras"], r["clean_text"])
        for r in paragraph_dedup(pages, id_col="page_id").collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    pages_sql = """
        WITH prows AS (
            SELECT doc_id // 4 AS page_id, (doc_id % 4)::int AS idx,
                   text AS para FROM documents
            UNION ALL
            SELECT DISTINCT doc_id // 4, 4, 'follow us on social media'
            FROM documents
        )
        SELECT page_id, string_agg(para, chr(10) ORDER BY idx) AS text
        FROM prows GROUP BY 1
    """
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"SELECT page_id, n_paras, dup_paras, clean_text FROM ("
            f"{duckdb_paragraph_dedup(pages_sql, id_col='page_id')})"
        ).fetchall()
    )
    assert got == want
    # boilerplate must have been cut from every page but one
    n_pages = pages.count()
    kept_boiler = sum(
        1 for (_, _, _, t) in got if "follow us on social media" in t
    )
    assert kept_boiler == 1 and n_pages > 1


class TestEditDistNearDups:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_substitution_pairs_always_blocked(self, spark):
        """Pigeonhole completeness for equal-length substitution edits:
        any ≤max_dist substitutions leave ≥1 of the max_dist+1 segments
        untouched, so the pair MUST surface regardless of edit
        position."""
        from leann_rs_spark.operators.dedup import editdist_near_dups

        base = "the quick brown fox jumps over the lazy dog once"
        rows = [(0, base)]
        # one- and two-substitution variants at assorted positions,
        # including edits inside different segments
        for j, positions in enumerate([(0,), (20,), (47,), (5, 40), (15, 30)]):
            t = list(base)
            for p in positions:
                t[p] = "Z"
            rows.append((j + 1, "".join(t)))
        out = editdist_near_dups(
            self._docs(spark, rows), prefix_len=48, max_dist=2
        ).collect()
        found = {(r["id_a"], r["id_b"]) for r in out}
        for j in range(1, 6):
            assert (0, j) in found, f"variant {j} escaped blocking"
        dists = {(r["id_a"], r["id_b"]): r["dist"] for r in out}
        assert dists[(0, 1)] == 1 and dists[(0, 4)] == 2

    def test_verify_rejects_far_pairs_sharing_a_segment(self, spark):
        from leann_rs_spark.operators.dedup import editdist_near_dups

        # same first third (= shared segment 0), rest entirely different
        a = "aaaaaaaaaaaaaaaa" + "b" * 32
        b = "aaaaaaaaaaaaaaaa" + "c" * 32
        out = editdist_near_dups(
            self._docs(spark, [(0, a), (1, b)]), prefix_len=48, max_dist=2
        ).collect()
        assert out == []  # candidate generated, verify kills it

    def test_max_seg_df_cuts_boilerplate(self, spark):
        from leann_rs_spark.operators.dedup import editdist_near_dups

        # 6 docs sharing a boilerplate prefix, pairwise dist 0 on it
        rows = [(i, "common boilerplate prefix here!! " + "x" * 15)
                for i in range(6)]
        full = editdist_near_dups(
            self._docs(spark, rows), prefix_len=48, max_dist=2
        ).count()
        cut = editdist_near_dups(
            self._docs(spark, rows), prefix_len=48, max_dist=2,
            max_seg_df=5,
        ).count()
        assert full == 15 and cut == 0  # all 6-doc segments exceed df 5


def test_dedup_pr_gate_semantics(spark):
    """x_dedup_pr (the dedup-family recall diagnostic): planted pairs
    count as tp, P/R arithmetic checks out, thresholds monotone."""
    import __spark_entry__ as e

    rows = e.queries()["x_dedup_pr"](spark, "/root/testdata/sf0.001").collect()
    assert [r["threshold_r"] for r in rows] == [0.3, 0.5, 0.7]
    for r in rows:
        assert r["tp"] + r["fn"] > 0
        if r["tp"] + r["fp"]:
            assert r["precision_r"] == round(
                round(r["tp"] / (r["tp"] + r["fp"]) * 1e6) / 1e6, 6
            )
        assert 0.0 <= r["recall_r"] <= 1.0
    # raising the threshold can only shrink the predicted set
    tps = [r["tp"] for r in rows]
    fps = [r["fp"] for r in rows]
    assert tps == sorted(tps, reverse=True)
    assert fps == sorted(fps, reverse=True)
    # the light (1-char) variants are high-jaccard: found even at 0.7
    assert rows[-1]["tp"] > 0


def test_minhash_band_sweep_monotone_recall_and_sig_prefix(spark):
    """The banding sweep: (1) recall is non-decreasing as bands-width r
    shrinks (the S-curve midpoint moves down); (2) tp+fp == candidates;
    (3) the shared max-width signature trick — a config's candidate set
    equals running minhash_near_dups(threshold=0) at that config."""
    from leann_rs_spark.operators.dedup import (
        minhash_band_sweep,
        minhash_near_dups,
    )

    base = [
        (i, f"document number {i} about distributed query engines "
            f"and their shuffle behavior under skewed key {i}")
        for i in range(8)
    ]
    # planted: light edit of each doc
    variants = [(100 + i, t.replace("shuffle", "shufle")) for i, t in base]
    docs = spark.createDataFrame(base + variants, "doc_id long, text string")
    truth = spark.createDataFrame(
        [(i, 100 + i) for i in range(8)], "id_a long, id_b long"
    )
    out = minhash_band_sweep(
        docs, truth, configs=((16, 4), (16, 8)), shingle_k=5
    ).collect()
    assert [(r["num_hashes"], r["bands"]) for r in out] == [(16, 4), (16, 8)]
    for r in out:
        assert r["tp"] + r["fp"] == r["n_candidates"]
        assert r["tp"] + r["fn"] == 8
    assert out[1]["recall_r"] >= out[0]["recall_r"]

    # prefix property: 16/8 candidates == direct 16-hash 8-band run
    direct = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(
            docs, num_hashes=16, bands=8, threshold=0.0, cache=False
        ).collect()
    }
    swept = minhash_band_sweep(docs, truth, configs=((16, 8),))
    assert swept.head()["n_candidates"] == len(direct)


def test_leakage_safe_split_colocates_clusters(spark):
    """Every member of a near-dup component gets the SAME split (the
    operator's whole point), singletons split by their own id, and the
    assignment matches split_assign on the cluster label."""
    from leann_rs_spark.operators.dedup import leakage_safe_split
    from leann_rs_spark.operators.sampling import split_assign

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 7), (7, 13), (2, 9)], "id_a long, id_b long"
    )
    out = leakage_safe_split(
        docs, pairs, weights={"train": 0.5, "val": 0.25, "test": 0.25}
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(out) == 20
    # chained component {0,7,13} — one split, labeled by min id 0
    assert {by_id[i]["cluster_id"] for i in (0, 7, 13)} == {0}
    assert len({by_id[i]["split"] for i in (0, 7, 13)}) == 1
    assert {by_id[i]["cluster_id"] for i in (2, 9)} == {2}
    assert by_id[2]["split"] == by_id[9]["split"]
    # singleton: cluster = self, split = split_assign(own id)
    solo = split_assign(
        docs.filter(F.col("doc_id") == 5),
        F.col("doc_id"),
        {"train": 0.5, "val": 0.25, "test": 0.25},
    ).collect()[0]["split"]
    assert by_id[5]["cluster_id"] == 5 and by_id[5]["split"] == solo
    # keep flag: exactly one canonical per component
    assert [by_id[i]["keep"] for i in (0, 7, 13)] == [True, False, False]


def test_minhash_estimate_pairs_identical_and_quantized(spark):
    """Signature-only triage: an identical text under a fresh id
    estimates exactly 1.0; every estimate is k/num_hashes; disjoint
    text produces no candidate pair at all."""
    from leann_rs_spark.operators.dedup import minhash_estimate_pairs
    from leann_rs_spark.operators.dedup import _minhash_signatures_bulk

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "zzz completely unrelated content qqq www eee"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "aaa bbb ccc ddd eee fff ggg hhh nothing shared"),
        ],
        "doc_id long, text string",
    )
    sigs = _minhash_signatures_bulk(corpus)
    got = {
        (r["new_id"], r["corpus_id"]): r["est_jaccard"]
        for r in minhash_estimate_pairs(sigs, batch, min_est=0.0).collect()
    }
    assert got[(10, 1)] == 1.0
    assert (11, 1) not in got and (11, 2) not in got
    for v in got.values():
        assert abs(v * 16 - round(v * 16)) < 1e-12  # k/16 quantization


def test_minhash_index_append_equals_rebuild_property(spark, tmp_path):
    """Hypothesis-style property (enumerated splits): for a small
    corpus, ANY build/append split of the persisted artifact yields
    the same signature set as building on everything at once — the
    corpus-independence argument append relies on."""
    from leann_rs_spark.catalog import (
        append_to_minhash_index,
        build_minhash_index,
        load_minhash_index,
    )
    from leann_rs_spark.operators.dedup import _minhash_signatures_bulk

    docs = spark.createDataFrame(
        [
            (i, t)
            for i, t in enumerate([
                "alpha beta gamma delta epsilon",
                "alpha beta gamma delta zeta",
                "one two three four five six",
                "seven eight nine ten eleven",
                "alpha one seven beta two eight",
            ])
        ],
        "doc_id long, text string",
    )
    want = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in _minhash_signatures_bulk(docs, num_hashes=8).collect()
    )
    for split in (1, 2, 4):
        wh = str(tmp_path / f"wh{split}")
        build_minhash_index(
            spark, wh, "s", docs.filter(F.col("doc_id") < split),
            num_hashes=8,
        )
        append_to_minhash_index(
            spark, wh, "s", docs.filter(F.col("doc_id") >= split)
        )
        got = sorted(
            (r["doc_id"], tuple(r["sig"]))
            for r in load_minhash_index(spark, wh, "s")[0].collect()
        )
        assert got == want, split


def test_hot_bucket_cap_bounds_candidates_and_preserves_clusters(spark):
    """A planted hot bucket (B identical boilerplate docs) all-pairs
    into B(B-1)/2 candidates; max_bucket_size chains it to O(B) while
    dedup_keep_canonical output stays identical (the spanning-set
    component argument in _banded_candidate_pairs)."""
    from leann_rs_spark.operators.dedup import (
        _band_sigs,
        _banded_candidate_pairs,
        _minhash_signatures_bulk,
        dedup_keep_canonical,
        minhash_near_dups,
    )

    B = 300
    boiler = "MIT license copyright notice permission hereby granted free of charge"
    rows = [(i, boiler) for i in range(B)]
    rows += [
        (1000, "the quick brown fox jumps over the lazy dog near the river"),
        (1001, "the quick brown fox jumps over the lazy dog near the shore"),
        (2000, "an entirely unrelated singleton document about spark plans"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = _minhash_signatures_bulk(docs, "doc_id", "text", 5, 16).persist()
    sigs.count()
    banded = _band_sigs(sigs, "doc_id", 4, 4)
    keys = ["band", "bucket"]
    n_uncapped = _banded_candidate_pairs(banded, keys, "doc_id").count()
    order = ("__sig", sigs.select("doc_id", F.col("sig").alias("__sig")))
    n_capped = _banded_candidate_pairs(
        banded, keys, "doc_id", max_bucket_size=50, order=order
    ).count()
    assert n_uncapped >= B * (B - 1) // 2          # quadratic without the cap
    assert n_capped <= 2 * (B - 1) + 10            # chain + star + small pairs
    sigs.unpersist()

    def keep_set(pairs):
        return {
            (r["doc_id"], r["cluster_id"], r["keep"])
            for r in dedup_keep_canonical(docs, pairs).collect()
        }

    capped = minhash_near_dups(docs, threshold=0.5, max_bucket_size=50)
    uncapped = minhash_near_dups(docs, threshold=0.5)
    assert keep_set(capped) == keep_set(uncapped)


def test_hot_bucket_cap_noop_below_threshold(spark):
    """Buckets at or under the cap take the exact all-pairs path —
    capped output == uncapped output, pair for pair."""
    from leann_rs_spark.operators.dedup import minhash_near_dups

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappaX"),
            (3, "unrelated words entirely different content over here xyz"),
        ],
        "doc_id long, text string",
    )
    a = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_near_dups(docs, threshold=0.3).collect()
    )
    b = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_near_dups(docs, threshold=0.3, max_bucket_size=50).collect()
    )
    assert a == b and len(a) >= 1


def test_simhash_hot_bucket_cap_bounds_candidates(spark):
    """B identical docs share the full SimHash sketch → one hot bucket
    per band; max_bucket_size chains it to O(B) pairs (all hamming 0,
    so every spanning pair survives verify) while components — and
    pairs on under-cap buckets — are unchanged."""
    from leann_rs_spark.operators.dedup import (
        dedup_keep_canonical,
        simhash_near_dups,
    )

    B = 300
    boiler = "MIT license copyright notice permission hereby granted free of charge"
    rows = [(i, boiler) for i in range(B)]
    rows += [
        (1000, "the quick brown fox jumps over the lazy dog near the river"),
        (1001, "the quick brown fox jumps over the lazy dog near the shore"),
        (2000, "an entirely unrelated singleton document about spark plans"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = simhash_near_dups(docs, max_hamming=3, max_bucket_size=50)
    n_capped = capped.count()
    # identical sketches: chain+star emits ≤ 2(B-1) verified pairs for
    # the hot cluster (+ a handful from the small near-dup pair)
    assert n_capped <= 2 * (B - 1) + 10
    uncapped_planted = (
        simhash_near_dups(docs, max_hamming=3)
        .filter((F.col("id_a") < B) & (F.col("id_b") < B))
        .count()
    )
    assert uncapped_planted == B * (B - 1) // 2  # the quadratic the cap removes

    def keep_set(pairs):
        return {
            (r["doc_id"], r["cluster_id"], r["keep"])
            for r in dedup_keep_canonical(docs, pairs).collect()
        }

    assert keep_set(capped) == keep_set(simhash_near_dups(docs, max_hamming=3))

    # under-cap corpus: capped ≡ uncapped pair-for-pair (identical
    # texts guarantee at least one hamming-0 pair under the default
    # pigeonhole budget)
    small = spark.createDataFrame(
        [
            (1000, "the quick brown fox jumps over the lazy dog near the river"),
            (1001, "the quick brown fox jumps over the lazy dog near the river"),
            (2000, "an entirely unrelated singleton document about spark plans"),
        ],
        "doc_id long, text string",
    )
    a = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(small, max_hamming=3).collect()
    )
    b = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(
            small, max_hamming=3, max_bucket_size=50
        ).collect()
    )
    assert a == b and len(a) >= 1


def test_estimate_pairs_top_per_new_caps_hot_corpus_bucket(spark):
    """A new doc matching a B-member corpus boilerplate cluster keeps
    only top_per_new matches (est DESC, corpus_id ASC) — the ingest-
    side hot-bucket bound on the triage rung."""
    from leann_rs_spark.operators.dedup import (
        _minhash_signatures_bulk,
        minhash_estimate_pairs,
    )

    boiler = "permission is hereby granted free of charge to any person"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(20)]
        + [(100, "some entirely unrelated corpus document text here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame([(500, boiler)], "doc_id long, text string")
    sigs = _minhash_signatures_bulk(corpus, "doc_id", "text", 5, 16)
    uncapped = minhash_estimate_pairs(sigs, new, min_est=0.5).collect()
    capped = minhash_estimate_pairs(
        sigs, new, min_est=0.5, top_per_new=3
    ).collect()
    assert len(uncapped) == 20
    got = sorted((r["new_id"], r["corpus_id"], r["est_jaccard"]) for r in capped)
    # identical sigs -> est 1.0 everywhere; tie-break keeps smallest ids
    assert got == [(500, 0, 1.0), (500, 1, 1.0), (500, 2, 1.0)]


def test_bloom_dedup_duplicate_id_rows_keep_independent_flags(spark):
    """Two batch rows under ONE id with different texts must keep
    independent (maybe_dup, true_dup) flags — the verified flag of one
    text leaked onto the other before the (id, text-hash) re-attach
    (found by the r9 sf1.0 parity sweep)."""
    from leann_rs_spark.operators.dedup import bloom_dedup_incremental

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "an unrelated corpus document")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),
         (10, "a fresh never-seen text entirely")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["maybe_dup"], r["true_dup"])
        for r in bloom_dedup_incremental(corpus, batch).collect()
    )
    assert len(rows) == 2
    assert rows[1] == (True, True)       # the re-crawled duplicate
    assert rows[0][1] is False           # the fresh text is NOT a dup
