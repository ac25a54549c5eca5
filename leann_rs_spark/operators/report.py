"""Corpus audit report: the one-pass summary a training-data build
reads before setting chunking/packing/filter knobs.

Library twin of the `leann-spark analyze` CLI (cli.py:cmd_analyze) —
the CLI composes the same gated operators into a nested JSON for
humans; this returns the flat (metric, value) frame the oracle gate
(`x_analyze_report`) and monitoring jobs consume. One persisted
single-pass projection feeds every aggregate (count, token totals,
exact length/token percentiles, Gopher keep rate, exact-dup rate,
detected-language mix); the heavy-hitter n-grams ride the existing
one-shuffle `top_ngrams`. All tiny results materialize driver-side
(≤ a few dozen rows) and the base frame unpersists — the scan runs
ONCE at any corpus size.

The exact `percentile` here is the sf-test form; at 100 TB swap
`percentile` → `percentile_approx` (documented knob, same as
functions/quality_checks.py) — the single-pass shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from leann_rs_spark.functions.text import tokenize
from leann_rs_spark.functions.textstats import gopher_keep, lang_id, top_ngrams
from leann_rs_spark.utils import local_frame

_PCTS = (0.5, 0.9, 0.99)


def corpus_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 3,
    ngram_k: int = 10,
) -> DataFrame:
    """DataFrame(metric STRING, value DOUBLE), sorted by metric.

    Metrics: n_docs, total_tokens, chars_p50/p90/p99,
    tokens_p50/p90/p99, gopher_keep_rate, exact_dup_rate,
    lang:<detected> doc counts, ngram:<gram> occurrence counts for the
    top-k word n-grams. NULL text folds to '' (dirty-crawl rule shared
    with the CLI): sizes stay >= 0 and null-text rows count as
    duplicates of the empty document."""
    spark = docs.sparkSession
    txt = F.coalesce(F.col(text_col), F.lit(""))
    base = docs.select(
        F.length(txt).alias("__len"),
        F.size(tokenize(txt)).alias("__toks"),
        lang_id(txt).alias("__lang"),
        gopher_keep(txt).alias("__keep"),
        F.md5(txt).alias("__h"),
    ).persist()
    try:
        # Materialize BEFORE the percentile aggregate: exact
        # `percentile` is an ObjectHashAggregate, which disables
        # whole-stage codegen for its entire stage — fused with the
        # un-materialized base, the expression-heavy projection
        # (lang_id, gopher, tokenize) ran INTERPRETED inside it
        # (measured 12.4 s vs 0.96+0.7 s split at sf0.1). With the
        # count() the projection runs codegen'd once and every
        # aggregate reads cached rows (the §9 persist-AND-materialize
        # rule; this was the one consumer that hid the fusion).
        base.count()
        pcts = ", ".join(str(p) for p in _PCTS)
        # The three result jobs (global stats, language mix, heavy-
        # hitter n-grams) are INDEPENDENT — two read the cached base,
        # one re-scans docs. Submitted from a small thread pool so the
        # later jobs back-fill executors freed by the earlier jobs'
        # stragglers instead of serializing three scheduling tails
        # (the overlap-independent-jobs rule; job descriptions are
        # thread-local so the UI stays attributable). Each job's
        # result is a deterministic collect, so output is unchanged.
        from concurrent.futures import ThreadPoolExecutor

        def _stats():
            return base.agg(
                F.count("*").alias("n"),
                F.expr(f"percentile(__len, array({pcts}))").alias("lp"),
                F.expr(f"percentile(__toks, array({pcts}))").alias("tp"),
                F.sum("__toks").alias("total_tokens"),
                F.avg(F.col("__keep").cast("double")).alias("keep_rate"),
                F.count_distinct("__h").alias("uniq"),
            ).first()

        def _langs():
            return (
                base.groupBy("__lang").agg(F.count("*").alias("c")).collect()
            )

        def _ngrams():
            return top_ngrams(
                docs, n=ngram_n, k=ngram_k, id_col=id_col, text_col=text_col
            ).collect()

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_stats = pool.submit(_stats)
            f_langs = pool.submit(_langs)
            f_ngrams = pool.submit(_ngrams)
            stats = f_stats.result()
            lang_rows = f_langs.result()
            ngram_rows = f_ngrams.result()
        rows: list[tuple[str, float]] = [("n_docs", float(stats["n"]))]
        if stats["n"]:
            rows += [
                ("total_tokens", float(stats["total_tokens"])),
                ("gopher_keep_rate", stats["keep_rate"]),
                ("exact_dup_rate", 1.0 - stats["uniq"] / stats["n"]),
            ]
            for tag, arr in (("chars", stats["lp"]), ("tokens", stats["tp"])):
                rows += [
                    (f"{tag}_p{int(p * 100)}", v)
                    for p, v in zip(_PCTS, arr)
                ]
            rows += [
                (f"lang:{r['__lang']}", float(r["c"])) for r in lang_rows
            ]
            rows += [
                (f"ngram:{r['ngram']}", float(r["n_occurrences"]))
                for r in ngram_rows
            ]
    finally:
        base.unpersist()
    return local_frame(
        spark, sorted(rows), "metric string, value double"
    ).orderBy("metric")


def duckdb_corpus_report(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 3,
    ngram_k: int = 10,
) -> str:
    """The full SQL twin (DuckDB): same metric names, same NULL fold,
    quantile_cont == Spark's exact `percentile` (both linear
    interpolation at p·(n−1))."""
    from leann_rs_spark.functions.text import duckdb_tokenize
    from leann_rs_spark.functions.textstats import (
        duckdb_gopher_keep,
        duckdb_lang_id,
        duckdb_top_ngrams,
    )

    t = f"coalesce({text_col}, '')"
    pct_rows = []
    for tag, col in (("chars", "len"), ("tokens", "toks")):
        for p in _PCTS:
            pct_rows.append(
                f"SELECT '{tag}_p{int(p * 100)}' AS metric,"
                f" quantile_cont({col}, {p})::double AS value FROM base"
            )
    pcts_sql = " UNION ALL ".join(pct_rows)
    return f"""
        WITH base AS (
            SELECT length({t}) AS len,
                   len({duckdb_tokenize(t)}) AS toks,
                   {duckdb_lang_id(t)} AS lang,
                   {duckdb_gopher_keep(t)} AS keep,
                   md5({t}) AS h
            FROM {table}
        )
        SELECT metric, value FROM (
            SELECT 'n_docs' AS metric, count(*)::double AS value FROM base
            UNION ALL
            SELECT 'total_tokens', sum(toks)::double FROM base
            UNION ALL
            SELECT 'gopher_keep_rate',
                   avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END) FROM base
            UNION ALL
            SELECT 'exact_dup_rate',
                   1.0 - count(DISTINCT h)::double / count(*)::double
            FROM base
            UNION ALL
            {pcts_sql}
            UNION ALL
            SELECT 'lang:' || lang, count(*)::double FROM base GROUP BY lang
            UNION ALL
            SELECT 'ngram:' || ngram, n_occurrences::double
            FROM ({duckdb_top_ngrams(ngram_n, ngram_k, table, id_col, text_col)})
        ) ORDER BY metric
    """
