"""Physical-plan property tests: the plans, not just the answers.

At 100 TB the difference between a correct operator and a usable one is
the plan Catalyst produces. These tests pin the properties the scale
design relies on, so a refactor that silently turns a pushed filter
into a post-scan filter, or a heap top-k into a full sort, fails CI:

- predicate pushdown reaches the parquet scan (PushedFilters),
- column pruning reaches the scan (ReadSchema),
- single-query top-k plans TakeOrderedAndProject (per-partition heap +
  k-row merge — /root/reference/benches/benchmarks.rs:222-284's winning
  variant, which Catalyst implements for ORDER BY ... LIMIT),
- small sides of joins are broadcast (no shuffle of the big side).
"""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from leann_rs_spark.operators.filter_dsl import compile_spark, parse
from leann_rs_spark.operators.search import (
    assemble_results,
    batch_search,
    exact_search,
)

SF = "/root/testdata/sf0.01"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _qv(spark):
    return list(
        _emb(spark).filter(F.col("vec_id") == 0).head()["embedding"]
    )


def test_exact_search_plans_take_ordered(spark):
    df = exact_search(_emb(spark), _qv(spark), k=10, metric="ip")
    assert "TakeOrderedAndProject" in plan_of(df)


def test_filtered_search_pushes_predicate_to_scan(spark):
    df = exact_search(
        _emb(spark), _qv(spark), k=10, metric="ip",
        predicate=F.col("label") >= 5,
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(label,5)" in plan


def test_filter_dsl_pushes_to_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ast = parse("lang in [en,de] AND source^src1")
    df = docs.filter(compile_spark(ast)).select("doc_id", "lang", "source")
    plan = plan_of(df)
    assert "In(lang, [de,en])" in plan or "In(lang, [en,de])" in plan
    assert "StringStartsWith(source,src1)" in plan


def test_column_pruning_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = docs.select("doc_id", F.length("text").alias("n"))
    plan = plan_of(df)
    # the scan must read only the two referenced columns
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_batch_search_broadcasts_queries(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    df = batch_search(emb, queries, k=5, metric="ip")
    plan = plan_of(df, "simple")
    assert "Broadcast" in plan  # broadcast join, not a shuffle join
    assert "SortMergeJoin" not in plan


def test_assemble_results_broadcasts_hits(spark):
    emb = _emb(spark)
    hits = exact_search(emb, _qv(spark), k=5, metric="ip")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = assemble_results(hits, docs, id_col="vec_id", passage_id_col="doc_id")
    plan = plan_of(df, "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_adhoc_bm25_filters_terms_before_aggregate(spark):
    """score_adhoc_query: the query-term filter must sit BELOW the
    (doc, term) aggregation — the shuffle carries only matching-term
    rows. A regression that filters after the groupBy would shuffle the
    whole postings set."""
    from leann_rs_spark.operators.bm25 import score_adhoc_query

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(score_adhoc_query(docs, "spark filter", cache=False))
    # the term IN (spark,filter) filter exists...
    fpos = plan.find("IN (spark,filter)")
    assert fpos != -1, plan
    # ...and the node tree shows Filter directly feeding the partial
    # HashAggregate below the Exchange: "HashAggregate ... Filter ...
    # Generate" appear in that indented order in the tree section
    tree = plan.split("(1) Scan")[0]
    ha = tree.find("HashAggregate")
    f = tree.find("Filter", ha)
    g = tree.find("Generate", f)
    assert -1 < ha < f < g, tree


def test_minhash_band_join_shuffles_ids_only(spark):
    """The (band, bucket) self-join must not carry shingle arrays —
    banded rows are (id, band, bucket) only; shingles re-attach to
    unique candidate pairs afterwards."""
    from leann_rs_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    out = dedup.minhash_near_dups(docs, threshold=0.5, cache=False)
    plan = plan_of(out, "extended")
    # in the analyzed plan, the join on (band, bucket) projects no
    # shingles on either side: 'sh_a'/'sh_b' only appear AFTER the
    # candidate-pair dedup (Deduplicate/Aggregate), via the re-attach
    # joins — i.e. the string 'sh_a' must not occur before the first
    # 'Deduplicate' in the optimized plan section
    opt = plan.split("== Optimized Logical Plan ==")[1]
    dedup_pos = opt.find("Aggregate")
    assert dedup_pos != -1
    assert "band" in opt


def test_bulk_embedding_is_single_shuffle_hash_agg(spark):
    """embed_documents(id_col=...) must be one Exchange (the groupBy on
    the id) fed by a codegen'd projection of the unrolled weight sums —
    no interpreted HOF lambdas (LambdaFunction) anywhere in the plan,
    except in the final dims-sized normalize step."""
    from leann_rs_spark.operators.embedder import embed_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = embed_documents(
        docs.select("doc_id", "text"), dims=8, id_col="doc_id", bulk=True
    ).select("doc_id", "embedding")  # the hot path prunes to (id, vec)
    plan = plan_of(out)
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, plan
    assert tree.count("HashAggregate") == 2, plan  # partial + final
    # retaining non-key columns through the aggregation is the slow
    # path (string-buffered first() falls back to SortAggregate) — the
    # scalar expression form is the right tool there


def test_bulk_minhash_sigs_single_shuffle(spark):
    """_minhash_signatures_bulk: exploded shingles + unrolled min
    aggregates → exactly one Exchange, map-side partial agg."""
    from leann_rs_spark.operators.dedup import _minhash_signatures_bulk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = _minhash_signatures_bulk(docs.select("doc_id", "text"))
    plan = plan_of(out)
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, plan
    assert tree.count("HashAggregate") == 2, plan  # partial + final


def test_sampling_ops_are_shuffle_free(spark):
    """deterministic_sample / split_assign / redact are projections and
    filters — zero Exchange in the plan (the 100 TB contract)."""
    from leann_rs_spark.functions.textstats import redact_pii
    from leann_rs_spark.operators.sampling import (
        deterministic_sample,
        split_assign,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for out in (
        deterministic_sample(docs, 0.5, "doc_id"),
        split_assign(docs, "doc_id"),
        docs.select("doc_id", redact_pii("text")),
    ):
        plan = plan_of(out)
        tree = plan.split("(1) Scan")[0]
        assert "Exchange" not in tree, plan


def test_pack_sequences_single_shuffle(spark):
    """pack_sequences: one Exchange (the shard window)."""
    from leann_rs_spark.functions.textstats import token_count
    from leann_rs_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "n_tokens", token_count("text")
    )
    out = pack_sequences(docs, "n_tokens", 512, "doc_id", n_shards=8,
                         id_cols=["doc_id"])
    plan = plan_of(out)
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, plan


def test_bm25_scoring_triggers_no_eager_jobs(spark):
    """Corpus N / avg_doc_len must be folded into the scoring plan as a
    broadcast 1-row aggregate, NOT computed via an eager .head() at
    DataFrame-construction time. A regression re-introducing the eager
    stats job makes q8/q11/q13/q14 each pay an extra full pass."""
    from leann_rs_spark.operators.bm25 import (
        build_bm25_index,
        score_adhoc_query,
        score_query,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sc = spark.sparkContext
    group = "bm25-lazy-check"
    sc.setJobGroup(group, "construction must be lazy")
    try:
        score_adhoc_query(docs, "spark filter", cache=False)
        p, d, t = build_bm25_index(docs, cache=False)
        score_query(p, d, t, "spark filter")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert list(jobs) == [], f"eager jobs ran during construction: {jobs}"


def test_postings_scan_prunes_term_bucket_partitions(spark, tmp_path):
    """The persisted BM25 postings are partitioned on term_bucket; a
    query's bucket IN-filter must appear as PartitionFilters on the
    scan (directory pruning — at 100 TB the scan reads <= |query terms|
    of the 64 bucket directories, not the whole postings table)."""
    from leann_rs_spark.catalog import _write_bm25, py_term_bucket
    from leann_rs_spark.operators.bm25 import tokenize_py

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .limit(50)
        .selectExpr("doc_id AS idx", "text")
    )
    base = str(tmp_path / "bm")
    _write_bm25(docs, base, mode="overwrite")
    q = "spark filter"
    buckets = sorted({py_term_bucket(t) for t in tokenize_py(q)})
    scan = spark.read.parquet(f"{base}/bm25_postings").filter(
        F.col("term_bucket").isin(buckets)
    )
    plan = plan_of(scan)
    assert "PartitionFilters" in plan
    # the IN-list lands in PartitionFilters (dir pruning), not PushedFilters
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "term_bucket" in pf, plan


def test_bm25_write_shuffles_on_bucket(spark):
    """The postings write must repartition on term_bucket so each
    bucket directory is written by one task (single Exchange keyed on
    the partition column in the pre-write plan)."""
    from leann_rs_spark.catalog import TERM_BUCKETS, term_bucket
    from leann_rs_spark.operators.bm25 import build_bm25_index

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id AS idx", "text"
    )
    postings, _, _ = build_bm25_index(docs, id_col="idx", cache=False)
    pre_write = postings.withColumn("term_bucket", term_bucket("term")).repartition(
        TERM_BUCKETS, "term_bucket"
    )
    plan = plan_of(pre_write)
    assert "hashpartitioning(term_bucket" in plan, plan


# ---------------------------------------------------------------------------
# Round-3 operators: clustering, span dedup, sampling
# ---------------------------------------------------------------------------

def test_cluster_assign_inline_is_shuffle_free(spark):
    from leann_rs_spark.operators.ann import take_centroids
    from leann_rs_spark.operators.clustering import cluster_assign

    emb = _emb(spark)
    df = cluster_assign(emb, take_centroids(emb, 8))
    assert "Exchange" not in plan_of(df)  # pure projection over the scan


def _shuffles(plan: str) -> int:
    """Non-broadcast exchanges in a simple-mode plan."""
    return plan.count("Exchange") - plan.count("BroadcastExchange")


def test_cluster_assign_broadcast_path_no_vector_shuffle(spark):
    from leann_rs_spark.operators.ann import take_centroids
    from leann_rs_spark.operators.clustering import cluster_assign

    emb = _emb(spark)
    plan = plan_of(
        cluster_assign(emb, take_centroids(emb, 8), inline_max=2), "simple"
    )
    assert "BroadcastExchange" in plan  # codebook ships once per executor
    # the only non-broadcast exchange is the final per-id partial MAX
    assert _shuffles(plan) == 1


def test_upsample_is_shuffle_free(spark):
    from leann_rs_spark.operators.sampling import upsample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert "Exchange" not in plan_of(upsample(docs, 2.5, "doc_id"))


def test_stratified_sample_single_exchange(spark):
    from leann_rs_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(stratified_sample(docs, "lang", 5, "doc_id"), "simple")
    assert _shuffles(plan) == 1  # just the group window


def test_duplicate_spans_bounded_shuffles(spark):
    from leann_rs_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(duplicate_spans(docs, n=8), "simple")
    # at most three keyed shuffles: gram count, per-doc coverage, and
    # the final doc_id join (the dup-gram side may instead be broadcast
    # when small — either physical choice is acceptable, a cartesian or
    # extra repartition is not)
    assert _shuffles(plan) <= 3
    assert "CartesianProduct" not in plan


def test_ivf_batch_probes_broadcast_corpus_not_shuffled(spark):
    from leann_rs_spark.operators.ann import (
        ivf_assign,
        ivf_search_batch,
        take_centroids,
    )

    emb = _emb(spark)
    cents = take_centroids(emb, 8)
    assigned = ivf_assign(emb, cents)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = plan_of(
        ivf_search_batch(assigned, cents, queries, k=5, nprobe=2), "simple"
    )
    assert "BroadcastExchange" in plan  # the Q×nprobe probe table
    # shuffles: the probe-ranking window (query-sized) + the final
    # per-query rank window (candidate-sized) — the corpus itself
    # reaches the join through the broadcast, never an exchange
    assert _shuffles(plan) <= 2


def test_domain_mix_adds_no_shuffle_beyond_assignment(spark):
    from leann_rs_spark.operators.ann import take_centroids
    from leann_rs_spark.operators.clustering import cluster_assign
    from leann_rs_spark.operators.sampling import weighted_mix

    emb = _emb(spark)
    assigned = cluster_assign(emb, take_centroids(emb, 8)).select(
        "vec_id", "cluster_id"
    )
    even = assigned.filter(F.col("cluster_id") % 2 == 0)
    odd = assigned.filter(F.col("cluster_id") % 2 == 1)
    plan = plan_of(weighted_mix([(even, 1.0), (odd, 0.25)], "vec_id"), "simple")
    # inline assignment is a projection; the mix is filters + union
    assert _shuffles(plan) == 0


def test_lm_score_plan_is_native_and_broadcasts_vocab(spark):
    """lm_score must stay JVM-side (no Python eval nodes), never plan a
    cartesian product, and the only nested-loop join allowed is the
    broadcast of the 1-row vocab frame."""
    from leann_rs_spark.functions.textstats import lm_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(lm_score(docs))
    tree = plan.split("(1) ")[0]  # tree section (details repeat names)
    assert "CartesianProduct" not in plan
    assert tree.count("BroadcastNestedLoopJoin") <= 1
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                    "MapInPandas"):
        assert py_node not in plan, py_node


def test_ivf_recall_probe_table_broadcasts(spark, monkeypatch):
    """The recall sweep's candidate join must broadcast the Q×C probe
    table — the corpus side is never shuffled. The curve comes back
    materialized, so the plan is read from the candidate frames the
    IVF source hands to the sweep core."""
    from leann_rs_spark.operators import ann
    from leann_rs_spark.operators.ann import (
        ivf_assign,
        ivf_recall_curve,
        take_centroids,
    )

    plans = []
    core = ann._sweep_curve

    def spy(cands, *args, **kwargs):
        plans.extend(plan_of(c) for c in cands.values())
        return core(cands, *args, **kwargs)

    monkeypatch.setattr(ann, "_sweep_curve", spy)
    emb = _emb(spark)
    cents = take_centroids(emb, 16)
    assigned = ivf_assign(emb, cents)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    df = ivf_recall_curve(assigned, cents, queries, k=5, nprobes=[1, 16])
    assert plans
    for plan in plans:
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # and the sweep self-checks: nprobe = C row must be exact
    rows = {r["nprobe"]: r["recall_r"] for r in df.collect()}
    assert rows[16] == 1.0


def test_c4_clean_is_shuffle_free(spark):
    """The C4 gate (line filter + page rules) is one projection over
    the scan — no Exchange anywhere in the plan (the final sort in the
    gate query is presentation; the operator itself must not shuffle)."""
    from leann_rs_spark.functions.textstats import c4_signals

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    s = c4_signals("text")
    df = docs.select("doc_id", s["keep"], s["clean_text"])
    assert "Exchange" not in plan_of(df)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides bucketed 8 ways on the join key: the per-order agg,
    the join, AND the key-grouped aggregation run with ZERO Exchange —
    the write-time shuffle is reused by every downstream consumer. The
    same query over plain parquet shuffles both sides (counterfactual
    pinned below)."""
    from leann_rs_spark.sources.warehouse import (
        drop_bucketed,
        read_bucketed,
        write_bucketed,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    od = spark.read.parquet(f"{SF}/orders.parquet")
    write_bucketed(
        li, "tp_li", str(tmp_path / "li"), "l_orderkey", 8,
        sort_cols="l_orderkey",
    )
    write_bucketed(
        od, "tp_od", str(tmp_path / "od"), "o_orderkey", 8,
        sort_cols="o_orderkey",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = read_bucketed(spark, "tp_li"), read_bucketed(spark, "tp_od")
        per_order = a.groupBy("l_orderkey").agg(
            F.sum("l_extendedprice").alias("rev"), F.count("*").alias("n")
        )
        j = per_order.join(b, per_order.l_orderkey == b.o_orderkey).select(
            "l_orderkey", "o_orderpriority", "rev", "n"
        )
        assert "Exchange" not in plan_of(j)
        # counterfactual: same query over the raw parquet shuffles
        po2 = li.groupBy("l_orderkey").agg(
            F.sum("l_extendedprice").alias("rev"), F.count("*").alias("n")
        )
        j2 = po2.join(od, po2.l_orderkey == od.o_orderkey).select(
            "l_orderkey", "o_orderpriority", "rev", "n"
        )
        assert "Exchange" in plan_of(j2)
        # and the bucketed result is the same data
        assert j.count() == j2.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        drop_bucketed(spark, "tp_li")
        drop_bucketed(spark, "tp_od")


def test_upsert_partition_pruned_base_scan(spark, tmp_path):
    """The pruned upsert's OWN base scan (the exact DataFrame
    upsert_parquet merges against, built by _touched_pruned_base from
    the update batch) must carry the touched-partition predicate as
    PARTITION FILTERS on the hive layout — untouched directories are
    never read. This fails if the operator's internally-built
    OR-of-conjunctions predicate stops reaching the scan (the
    rewrite-bytes proof lives in test_warehouse's inode check; this
    pins the scan side)."""
    from leann_rs_spark.sources.warehouse import _touched_pruned_base

    p = str(tmp_path / "pt")
    spark.createDataFrame(
        [(1, "en", "a"), (2, "de", "b"), (3, "fr", "c")],
        "id long, lang string, v string",
    ).write.partitionBy("lang").parquet(p)
    updates = spark.createDataFrame(
        [(1, "en", "A"), (9, "de", "z")], "id long, lang string, v string"
    )
    base, touched, _pred = _touched_pruned_base(spark, p, updates, ["lang"])
    assert sorted(touched) == [("de",), ("en",)]
    plan = plan_of(base)
    assert "PartitionFilters" in plan
    # the predicate reached the scan's partition filters, not a
    # post-scan Filter: both touched values appear in the scan node
    scan = plan[plan.index("PartitionFilters"):]
    assert "en" in scan and "de" in scan
    assert base.count() == 2  # fr never read


def test_html_to_text_is_one_projection(spark):
    """The extraction chain is pure native expressions: one Project
    over the scan, no Exchange, no Python (BatchEvalPython /
    ArrowEvalPython would mean a UDF leaked into the hot path)."""
    from leann_rs_spark.operators.textprep import html_to_text

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(docs.select("doc_id", html_to_text("text").alias("t")))
    assert "Exchange" not in plan
    assert "Python" not in plan  # no UDF of any kind


def test_ivfsq_probe_filter_reaches_code_scan(spark, tmp_path):
    """IVF-SQ8 over a cluster-partitioned code layout: the nprobe
    cluster filter must prune partitions at the scan (the (nprobe/C)
    scan-bytes claim is a file-pruning property, not a post-filter)."""
    from leann_rs_spark.operators.ann import ivf_assign, take_centroids
    from leann_rs_spark.operators.sq import sq8_encode_col, sq8_train

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    mins, rngs = sq8_train(emb, dims=64)
    cents = take_centroids(emb, 8)
    codes = ivf_assign(emb, cents).select(
        "vec_id", "cluster_id",
        sq8_encode_col(F.col("embedding"), mins, rngs).alias("qcode"),
    )
    p = str(tmp_path / "codes")
    codes.write.partitionBy("cluster_id").parquet(p)
    pruned = spark.read.parquet(p).filter(F.col("cluster_id").isin([0, 3]))
    plan = plan_of(pruned)
    assert "PartitionFilters" in plan and "cluster_id" in plan


def test_li_bm25_hybrid_gate_serves_from_postings_artifact(spark):
    """The hybrid gate's lexical side must read the persisted
    bucket-partitioned postings artifact (not re-derive BM25 from the
    corpus): the executed plan scans bm25_postings with the query
    terms' bucket IN-list as PartitionFilters (directory pruning)."""
    import __spark_entry__ as entry

    df = entry.x_li_bm25_hybrid(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the postings scan's bucket IN-list lands in PartitionFilters
    # (directory pruning); file paths are elided in the rendered plan,
    # so pin the filter itself
    pfs = [
        seg.split("]")[0]
        for seg in plan.split("PartitionFilters: [")[1:]
    ]
    assert any("term_bucket" in pf for pf in pfs), plan


# ---------------------------------------------------------------------------
# The serve path: index reads cost no job of their own, no Python workers
# ---------------------------------------------------------------------------

_PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "ExistingRDD")


def _stage_names(spark, group: str) -> list[str]:
    st = spark.sparkContext.statusTracker()
    names = []
    for j in st.getJobIdsForGroup(group):
        for sid in st.getJobInfo(j).stageIds:
            info = st.getStageInfo(sid)
            if info is not None:
                names.append(info.name)
    return names


def test_warm_serve_reads_run_no_parquet_jobs_or_python(spark, tmp_path):
    """A warm hybrid+expand search and a warm IVF-PQ search: no
    "parquet at" job (schema inference, or the parallel listing of a
    table with more than 32 partition directories — C = 40 here), and
    no Python worker node in the executed plan (the BM25 query weights
    are a literal map, not a createDataFrame'd table)."""
    from leann_rs_spark import catalog

    wh = str(tmp_path / "wh")
    from conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        F.col("doc_id") < 40
    )
    catalog.build_index(
        spark, wh, "ix", docs, chunk_size=16, chunk_overlap=4, dims=32
    )
    catalog.build_ivf_index(
        spark, wh, "ix", n_centroids=40, centroids="take", pq_m=8, pq_k=8
    )
    requests = {
        "expand": lambda: catalog.search_index(
            spark, wh, "ix", "spark filter", k=5, hybrid=True, expand=True
        ),
        "ivfpq": lambda: catalog.search_ivf_index(
            spark, wh, "ix", "spark filter", k=5, nprobe=4, use_pq=True
        ),
    }
    sc = spark.sparkContext
    for kind, request in requests.items():
        request().collect()  # cold: infers and remembers the schemas
        group = f"warm-{kind}"
        sc.setJobGroup(group, group)
        try:
            df = request()
            assert df.collect()
        finally:
            sc.setJobGroup(None, None)
        names = _stage_names(spark, group)
        assert names, kind
        assert not [n for n in names if n.startswith("parquet at")], (kind, names)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in _PY_NODES:
            assert node not in plan, (kind, node, plan)


def test_batch_search_prunes_partitions_in_jvm(spark):
    """batch_search's per-query row_number <= k plans a partial
    WindowGroupLimit below the ranking Exchange — the partition-local
    top-k, with no Python worker."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    plan = plan_of(batch_search(emb, queries, k=5, metric="ip"), "simple")
    lines = plan.splitlines()
    exchange = next(
        i for i, l in enumerate(lines)
        if "Exchange hashpartitioning(query_id" in l
    )
    assert any(
        "WindowGroupLimit" in l and "Partial" in l for l in lines[exchange + 1:]
    ), plan
    for node in _PY_NODES:
        assert node not in plan, node


def test_li_batch_pq_pruned_plans_scan_no_python_rdd(spark, tmp_path):
    """The batch, PQ and pruned late-interaction forms over a token
    index build their driver-side frames (query tokens, ADC lookup
    table, probe rows) as LocalTableScans: no `Scan ExistingRDD` of
    Python rows in the executed plan. The pruned form's one
    ExistingRDD is its candidate-pair localCheckpoint (JVM rows)."""
    from leann_rs_spark.catalog import build_token_index, load_token_index
    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk_batch,
        late_interaction_topk_batch_pq,
        late_interaction_topk_batch_pruned,
        pq_token_codes,
        token_subcodebooks,
    )

    wh = str(tmp_path / "wh")
    docs = spark.createDataFrame(
        [(1, "merge sort external"), (2, "hash join keys"), (3, "window state")],
        "doc_id long, text string",
    )
    build_token_index(spark, wh, "tok", docs, dims=8, n_centroids=4)
    tok, info = load_token_index(spark, wh, "tok")
    queries = [(0, "merge sort"), (1, "hash join")]
    cb = token_subcodebooks(tok, m=2, k_cb=4)
    forms = {
        "batch": late_interaction_topk_batch(tok, queries, k=2, dims=8),
        "pq": late_interaction_topk_batch_pq(
            pq_token_codes(tok, cb), cb, queries, k=2, dims=8
        ),
        "pruned": late_interaction_topk_batch_pruned(
            tok, info["centroids"], queries, k=2, nprobe=2, dims=8
        ),
    }
    for form, df in forms.items():
        plan = plan_of(df)
        rdd_scans = [
            ln for ln in plan.splitlines()
            if ln.startswith("Arguments:") and "ExistingRDD" in ln
        ]
        if form == "pruned":
            assert len(rdd_scans) == 1, plan
            assert "at localCheckpoint" in rdd_scans[0], plan
        else:
            assert "ExistingRDD" not in plan, (form, plan)


def test_curve_gate_plans_local_table_scan(spark):
    """A sweep gate's collected curve comes back as a LocalTableScan,
    not a `Scan ExistingRDD` of pickled rows."""
    import __spark_entry__ as entry

    df = entry.x_ivf_recall(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan


def test_local_frame_empty_rows_plans_local_table_scan(spark):
    """An empty `rows` keeps the JVM-local form (the frame the pruned
    late-interaction rung broadcasts at nprobe=0)."""
    from pyspark.sql import types as T

    from leann_rs_spark.utils import local_frame

    schema = T.StructType([
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("cid", T.IntegerType(), True),
    ])
    df = local_frame(spark, [], schema)
    plan = plan_of(df)
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan
    assert df.schema == schema
    assert df.count() == 0


# ---------------------------------------------------------------------------
# Warm serve requests: values held per index version, ≤k-row final sort
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def serve_wh(spark, tmp_path_factory):
    from conftest import SF_SMOKE
    from leann_rs_spark import catalog

    wh = str(tmp_path_factory.mktemp("serve_plans"))
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        F.col("doc_id") < 40
    )
    catalog.build_index(
        spark, wh, "ix", docs, chunk_size=16, chunk_overlap=4, dims=32
    )
    catalog.build_ivf_index(
        spark, wh, "ix", n_centroids=8, centroids="take", pq_m=8, pq_k=8
    )
    return wh


_SERVE_KW = {
    "flat": {"hybrid": False},
    "hybrid": {"hybrid": True},
    "expand": {"hybrid": True, "expand": True},
    "ivf": {"nprobe": 4},
    "ivfpq": {"nprobe": 4, "use_pq": True},
}


def _warm_action_plans(spark, monkeypatch, wh: str, kind: str) -> list[str]:
    """The executed plan of every action a warm request runs: the
    request runs once cold, then again with DataFrame.collect (which
    head() and take() go through) recording each plan."""
    from leann_rs_spark import catalog

    search = catalog.search_ivf_index if kind.startswith("ivf") else catalog.search_index
    search(spark, wh, "ix", "spark join", k=5, **_SERVE_KW[kind]).collect()
    plans: list[str] = []
    frame = type(spark.range(0))  # the session's DataFrame class
    collect = frame.collect

    def recording(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    with monkeypatch.context() as m:
        m.setattr(frame, "collect", recording)
        assert search(spark, wh, "ix", "spark join", k=5, **_SERVE_KW[kind]).collect()
    return plans


def _depth(line: str) -> int:
    m = re.search(r"[\w*]", line)
    return m.start() if m else 0


def _keyless_aggs_over_docstats(plan: str) -> list[str]:
    """Keyless HashAggregates whose input is a scan of `bm25_docstats`
    (the only table with a doc_len column) with no join in between."""
    lines = plan.splitlines()
    found = []
    for i, line in enumerate(lines):
        if "HashAggregate(keys=[]" not in line:
            continue
        sub = []
        for below in lines[i + 1:]:
            if _depth(below) <= _depth(line):
                break
            sub.append(below)
        if any("FileScan" in s and "doc_len" in s for s in sub) and not any(
            "Join" in s for s in sub
        ):
            found.append(line)
    return found


@pytest.mark.parametrize("kind", ["hybrid", "expand"])
def test_warm_bm25_requests_aggregate_no_docstats(spark, monkeypatch, serve_wh, kind):
    """BM25 corpus N and avg_doc_len (and hybrid_rerank's n_docs) are
    held per index version: a warm request runs no keyless aggregate
    over the docstats scan."""
    plans = _warm_action_plans(spark, monkeypatch, serve_wh, kind)
    assert any("doc_len" in p for p in plans)  # still joined for doc_len
    for plan in plans:
        assert not _keyless_aggs_over_docstats(plan), plan


@pytest.mark.parametrize("kind", ["flat", "ivf", "ivfpq"])
def test_warm_search_final_sort_plans_no_range_partitioning(
    spark, monkeypatch, serve_wh, kind
):
    """The ≤k-row final sort is a top-k over the hits ⋈ passages scan:
    no range-partition Exchange, whose bound-sampling job would re-run
    that scan."""
    plans = _warm_action_plans(spark, monkeypatch, serve_wh, kind)
    root = plans[-1].split("== Initial Plan ==\n")[1].lstrip()
    assert root.startswith("TakeOrderedAndProject"), plans[-1]
    for plan in plans:
        assert "rangepartitioning" not in plan, plan


def test_warm_ivfpq_request_scans_no_codebook(spark, monkeypatch, serve_wh):
    """The PQ codebook is held per index version: a warm IVF-PQ request
    reads no `pq_codebook` (m, cid, cv) scan."""
    plans = _warm_action_plans(spark, monkeypatch, serve_wh, "ivfpq")
    assert plans
    for plan in plans:
        scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
        assert not [s for s in scans if re.search(r"\bcv#", s)], plan


# Gates whose sf0.001 plan still scans Python rows (tools/plan_audit.py
# `python_scan`), each with where its rows come from. An entry must go
# once its gate plans a LocalTableScan; none is left.
PYTHON_SCAN_ALLOWED: dict[str, str] = {}
# gates whose driver-side rows once planned a Python-row scan and now go
# through utils.local_frame
FORMER_PYTHON_SCANS = [
    "x_analyze_report", "x_bpe_merges", "x_budget_select", "x_concat_chunk",
    "x_curriculum_blocks", "x_kcenter_sample", "x_mmr_rerank",
]


@pytest.mark.parametrize(
    "gate",
    ["x_curriculum_blocks", "x_concat_chunk", "x_lm_score", "x_ccnet_buckets"],
)
def test_gate_result_leaves_no_persisted_rdd(spark, gate):
    """Gates that persist intermediates return their result through
    utils.materialize: the call leaves the session's persisted RDDs as
    it found them, and the result is a LocalTableScan, not one more
    cached corpus-sized frame."""
    import __spark_entry__ as entry
    from conftest import SF_SMOKE

    jsc = spark.sparkContext._jsc
    held = set(jsc.getPersistentRDDs().keys())
    df = entry.queries()[gate](spark, SF_SMOKE)
    assert set(jsc.getPersistentRDDs().keys()) == held
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip().startswith("LocalTableScan"), plan


@pytest.mark.parametrize(
    "gate", ["r1_rag_batch", *FORMER_PYTHON_SCANS, *PYTHON_SCAN_ALLOWED]
)
def test_python_row_scans_only_in_allow_listed_gates(spark, gate):
    """r1_rag_batch (the `ask` request's operator) and the gates that
    return or join driver-side rows build those frames with
    utils.local_frame: no Python-row `Scan ExistingRDD`. The
    allow-listed gates, if any, still scan one."""
    import __spark_entry__ as entry
    from conftest import SF_SMOKE
    from tools.plan_audit import python_scans

    jsc = spark.sparkContext._jsc
    held = set(jsc.getPersistentRDDs().keys())
    try:
        df = entry.queries()[gate](spark, SF_SMOKE)
        formatted = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        # the gates persist and checkpoint; leave no cached RDD behind
        # for the later leak checks of this session
        spark.catalog.clearCache()
        for rid, rdd in jsc.getPersistentRDDs().items():
            if rid not in held:
                rdd.unpersist()
    if gate in PYTHON_SCAN_ALLOWED:
        assert python_scans(formatted) > 0, gate
    else:
        assert python_scans(formatted) == 0, formatted


def test_plan_audit_counts_executed_plans_once(spark):
    """tools/plan_audit reads a gate's executions from the SQL status
    store and counts each final-plan node once: an aggregate sorted by
    its count runs two shuffles, although its adaptive plan's formatted
    explain lists the replaced initial plan's exchanges too."""
    from tools.plan_audit import audit_executions, executed_plans

    _, seen = executed_plans(spark, -1)
    spark.range(100).groupBy((F.col("id") % 7).alias("g")).count().orderBy(
        "count"
    ).collect()
    plans, last = executed_plans(spark, seen)
    assert len(plans) == 1 and last > seen
    assert "== Initial Plan ==" in plans[0]
    out = audit_executions(plans, "")
    assert out["executions"] == 1
    assert out["exchanges"] == 2
    assert out["object_hash_agg"] == 0 and out["take_ordered"] == 0
