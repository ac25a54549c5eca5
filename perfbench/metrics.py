"""Names of every metric the benchmark prints. BENCHMARK.json lists the
same names (a test keeps the two in step).

Every run prints all of them: end-to-end metrics in an untraced run,
per-layer metrics in a traced run. A layer that a workload never calls
reports 0 there.
"""

from __future__ import annotations

REQUEST_TYPES = ("flat", "filtered", "hybrid", "expand", "ivf", "ivfpq", "ask")
SEARCH_TYPES = ("flat", "filtered", "hybrid", "expand", "ivf", "ivfpq")
INGEST_PHASES = ("build", "ivf_build", "append")
CURATE_PHASES = ("curate", "select")
PHASES = INGEST_PHASES + CURATE_PHASES
CURATION_STAGES = ("quality_gate", "exact_dedup", "minhash_cluster_keep", "split_assign")

END_TO_END = {
    "setup_s": "s",
    "items_per_cpu_s": "1/cpu_s",
}


def _per_layer() -> dict[str, str]:
    m: dict[str, str] = {}
    for t in REQUEST_TYPES:
        m[f"request.{t}.p50_ms"] = "ms"
    m["request.cpu_geomean_ms"] = "cpu_ms"
    for key in REQUEST_TYPES + PHASES:
        m[f"spark.jobs.{key}"] = "count"
        m[f"spark.stages.{key}"] = "count"
        m[f"spark.tasks.{key}"] = "count"
        m[f"spark.job_ms.{key}"] = "ms"
        m[f"spark.driver_ms.{key}"] = "ms"
    for p in PHASES:
        m[f"spark.exec_cpu_ms.{p}"] = "ms"
        m[f"spark.shuffle_kb.{p}"] = "KiB"
        m[f"spark.gc_ms.{p}"] = "ms"
    m["serving.http_overhead_ms"] = "ms"
    for t in SEARCH_TYPES:
        m[f"catalog.plan_ms.{t}"] = "ms"
        m[f"catalog.collect_ms.{t}"] = "ms"
    m.update({
        "catalog.persisted_rdds_end": "count",
        "catalog.index_files": "count",
        "catalog.index_bytes_per_passage": "B",
        "catalog.build_passages_per_s": "1/s",
        "catalog.ivf_build_passages_per_s": "1/s",
        "catalog.append_ms": "ms",
        "embedder.query_embed_us": "us",
        "embedder.embed_s": "s",
        "filter_dsl.compile_us": "us",
        "search.exact_ms": "ms",
        "ann.ivf_search_ms": "ms",
        "ann.probed_fraction": "ratio",
        "ann.recall_at_10": "ratio",
        "ann.assign_s": "s",
        "pq.search_ms": "ms",
        "pq.encode_s": "s",
        "bm25.score_ms": "ms",
        "bm25.index_build_s": "s",
        "hybrid.rerank_ms": "ms",
        "query_expansion.terms_ms": "ms",
        "chunker.chunk_s": "s",
        "chunker.passages_per_doc": "ratio",
    })
    for s in CURATION_STAGES:
        m[f"curation.stage_s.{s}"] = "s"
    m.update({
        "dedup.pairs": "count",
        "dedup.kept_ratio": "ratio",
        "dsir.select_s": "s",
        "session.start_s": "s",
        "session.peak_rss_mb": "MiB",
    })
    for name in END_TO_END:
        if name != "setup_s":
            m[f"trace.overhead.{name}"] = "ratio"
    return m


PER_LAYER = _per_layer()
