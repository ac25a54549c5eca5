"""BM25 as relational algebra over persisted postings tables.

Reference: Bm25Scorer (/root/reference/src/index/bm25.rs:31-122) —
hand-rolled hashmaps rebuilt from a full corpus scan on *every* hybrid
query (src/index/searcher.rs:149-151, a noted inefficiency). Here the
build is a one-time aggregation producing three tables that any number
of queries reuse:

    postings(doc_id, term, tf)   — the inverted index
    docstats(doc_id, doc_len)
    termstats(term, df)

Formula parity (k1=1.2, b=0.75, src/index/bm25.rs:9-10):
    idf  = ln((N - df + 0.5) / (df + 0.5) + 1)           (:88)
    norm = 1 - b + b * doc_len / avg_doc_len             (:97)
    s    = idf * tf * (k1+1) / (tf + k1 * norm)          (:100)
accumulated per duplicated query token (the reference does not dedup
query tokens, :81 — equivalent to multiplying by the query-term count).
We accumulate in DOUBLE (reference uses f32).

Scale design: the postings build is the classic inverted-index job —
one shuffle on (doc_id, term) with map-side combine, then a term-keyed
aggregation for df. Query-side, the `term IN (...)` predicate prunes
the postings scan (pushed to Parquet; partition postings by a term hash
bucket at 100 TB so pruning skips files), and everything after the scan
touches only rows for the query's terms. The query's term counts ride
in the plan as a literal map Column (`_query_weights`), so scoring runs
no Python worker. The corpus stats N and avg_doc_len are constant for
a persisted index: a caller that holds them (catalog memoizes them per
index version) passes them to `score_query` as literals; otherwise
they are a keyless aggregate over docstats inside the scoring plan.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import Column, DataFrame, functions as F

from leann_rs_spark.functions.text import duckdb_tokenize, tokenize

K1 = 1.2
B = 0.75

_TOKEN_RE = re.compile(r"[a-zA-Z0-9]+")


def tokenize_py(text: str) -> list[str]:
    """Driver-side tokenizer for query strings — same semantics as the
    tokenize() Column (and src/index/bm25.rs:127-132)."""
    return [t.lower() for t in _TOKEN_RE.findall(text) if len(t) > 1]


def _query_weights(qtokens: list[str]) -> tuple[list[str], Column]:
    """(distinct query terms, qtf Column): each term's count in the
    query (the reference scores every duplicated token, :81) as a
    literal map looked up by the row's `term`. A Column, not a
    createDataFrame'd term table: a frame built from a Python list is
    a Python-RDD scan, run on Python workers per query."""
    counts = Counter(qtokens)
    weights = F.create_map(
        *[x for t, c in counts.items() for x in (F.lit(t), F.lit(float(c)))]
    )
    return list(counts), F.element_at(weights, F.col("term"))


def build_bm25_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    cache: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """→ (postings, docstats, termstats). Persist these as Parquet for
    reuse; termstats is small (vocabulary-sized) and broadcastable.

    Tokenization runs ONCE: postings and docstats both derive from a
    shared tokenized projection. With `cache` (default) the fan-in
    DataFrames are persisted — postings feeds both termstats and every
    score_query, docstats feeds both the corpus-stats aggregate and the
    per-doc norm join; without a persist each consumer would re-run the
    tokenize + shuffle (Catalyst does not CSE across actions). At 100 TB
    the equivalent is writing the three tables as Parquet once."""
    tokd = docs.select(id_col, tokenize(text_col).alias("toks"))
    postings = (
        tokd.select(id_col, F.explode("toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    docstats = tokd.select(id_col, F.size("toks").alias("doc_len"))
    if cache:
        postings = postings.persist()
        docstats = docstats.persist()
    termstats = postings.groupBy("term").agg(F.count("*").alias("df"))
    return postings, docstats, termstats


def score_query(
    postings: DataFrame,
    docstats: DataFrame,
    termstats: DataFrame,
    query: str,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    *,
    corpus_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """BM25 scores for every document matching ≥1 query term
    (docs matching none implicitly score 0, as in score_query's
    zero-initialized vector, src/index/bm25.rs:77-106).

    Corpus N and avg_doc_len come from `corpus_stats` = (n_docs,
    Σ doc_len) when the caller holds them (a persisted index's stats
    are constant per index version, catalog._bm25_stats): they enter
    the plan as literals, bit-identical to the aggregate (Σ/N is the
    same IEEE division). Without them, a keyless aggregate over
    `docstats` is cross-joined into the term table — no eager driver
    action, but the aggregate runs (with its shuffle and broadcast) in
    every job that scores.

    Returns (id_col, score DOUBLE).
    """
    qtokens = tokenize_py(query)
    if not qtokens:
        return postings.select(id_col).limit(0).withColumn("score", F.lit(0.0))
    terms, qtf = _query_weights(qtokens)

    if corpus_stats is None:
        termstats = termstats.crossJoin(
            F.broadcast(
                docstats.agg(
                    F.count("*").cast("double").alias("n_docs"),
                    F.coalesce(
                        F.sum("doc_len").cast("double")
                        / F.count("*").cast("double"),
                        F.lit(1.0),
                    ).alias("avg_len"),
                )
            )
        )
        n_docs, avg_len = F.col("n_docs"), F.col("avg_len")
    else:
        n, total = corpus_stats
        n_docs = F.lit(float(n))
        avg_len = F.lit(float(total) / float(n) if n else 1.0)

    idf = F.log(
        (n_docs - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )

    relevant = postings.filter(F.col("term").isin(terms))  # pushed to the scan
    norm = F.lit(1.0 - b) + F.lit(b) * (
        F.col("doc_len").cast("double") / F.col("avg_len")
    )
    term_score = (
        F.col("idf")
        * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
        / (F.col("tf").cast("double") + F.lit(k1) * norm)
    )

    # termstats is vocabulary-sized and broadcastable; it carries idf and
    # avg_len to every scored row.
    terms_b = termstats.select("term", idf.alias("idf"), avg_len.alias("avg_len"))
    return (
        relevant.join(F.broadcast(terms_b), "term")
        .join(docstats, id_col)
        .select(id_col, (qtf * term_score).alias("term_score"))
        .groupBy(id_col)
        .agg(F.sum("term_score").alias("score"))
    )


def score_adhoc_query(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    cache: bool = True,
) -> DataFrame:
    """BM25 scores for ONE ad-hoc query straight off the corpus — no
    postings index materialized. Identical scores to
    build_bm25_index + score_query (same formula, same df counts: the
    term filter prunes POSTINGS ROWS, and df for a query term counts all
    docs containing it either way).

    Plan shape: one tokenize pass (persisted — consumed by the corpus
    stats, the per-doc norms, and the postings explode), then
    explode → filter(term IN qterms) → groupBy — the filter sits below
    the aggregation, so the shuffle carries only query-term rows
    (|docs matching| rows, not |corpus postings| rows). Use this when
    the query is known before an index exists; use the persisted
    postings tables (build_bm25_index) for repeated queries.
    """
    qtokens = tokenize_py(query)
    if not qtokens:
        return docs.select(id_col).limit(0).withColumn("score", F.lit(0.0))
    terms, qtf = _query_weights(qtokens)

    tokd = docs.select(id_col, tokenize(text_col).alias("toks"))
    if cache:
        tokd = tokd.persist()
    # Corpus stats as a broadcast 1-row aggregate — folded into the one
    # scoring job (no eager .head() that would pay a full tokenize pass
    # before the cached tokd is even materialized).
    stats = tokd.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.coalesce(
            F.sum(F.size("toks")).cast("double") / F.count("*").cast("double"),
            F.lit(1.0),
        ).alias("avg_len"),
    )

    tf = (
        tokd.select(id_col, F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    if cache:
        tf = tf.persist()  # consumed by the df aggregate AND the score join
    termdf = tf.groupBy("term").agg(F.count("*").alias("df"))

    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm = F.lit(1.0 - b) + F.lit(b) * (
        F.col("doc_len").cast("double") / F.col("avg_len")
    )
    term_score = (
        F.col("idf")
        * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
        / (F.col("tf").cast("double") + F.lit(k1) * norm)
    )
    docstats = tokd.select(id_col, F.size("toks").alias("doc_len"))
    terms_b = (
        termdf.crossJoin(F.broadcast(stats))
        .select("term", idf.alias("idf"), "avg_len")
    )
    return (
        tf.join(F.broadcast(terms_b), "term")
        .join(docstats, id_col)
        .select(id_col, (qtf * term_score).alias("term_score"))
        .groupBy(id_col)
        .agg(F.sum("term_score").alias("score"))
    )


def bm25_topk(scored: DataFrame, k: int, id_col: str = "doc_id") -> DataFrame:
    """Q11: drop zero scores, top-k desc (src/index/bm25.rs:109-122) with
    a deterministic id tie-break."""
    return (
        scored.filter(F.col("score") > 0.0)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twin — one SQL string computing the same pipeline.
# ---------------------------------------------------------------------------

def duckdb_bm25_scored(
    query: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    qterms_sql: str | None = None,
) -> str:
    """CTE SQL producing (id_col, score) — the oracle twin of
    build_bm25_index + score_query.

    `qterms_sql` (a SELECT producing (term, qtf DOUBLE)) replaces the
    driver-tokenized VALUES list — used when the query terms are
    themselves computed in SQL (the q15 expanded-search oracle, where
    mined expansion terms come from a CTE)."""
    if qterms_sql is None:
        qtokens = tokenize_py(query)
        counts: dict[str, int] = {}
        for t in qtokens:
            counts[t] = counts.get(t, 0) + 1
        qvalues = ", ".join(
            f"('{t}', {float(c)!r})" for t, c in sorted(counts.items())
        )
        qterms_cte = f"qterms(term, qtf) AS (VALUES {qvalues})"
    else:
        qterms_cte = f"qterms AS ({qterms_sql})"
    toks = duckdb_tokenize(text_col)
    return f"""
    WITH tokd AS (
        SELECT {id_col}, {toks} AS toks FROM {table}
    ),
    docstats AS (SELECT {id_col}, len(toks) AS doc_len FROM tokd),
    postings AS (
        SELECT {id_col}, unnest(toks) AS term FROM tokd
    ),
    tf AS (SELECT {id_col}, term, count(*)::bigint AS tf FROM postings GROUP BY 1, 2),
    termstats AS (SELECT term, count(*)::bigint AS df FROM tf GROUP BY 1),
    corpus AS (
        SELECT count(*)::double AS n, (sum(doc_len)::double / count(*)::double) AS avg_len
        FROM docstats
    ),
    {qterms_cte}
    SELECT tf.{id_col},
           sum(qterms.qtf
               * ln((corpus.n - termstats.df + 0.5) / (termstats.df + 0.5) + 1.0)
               * (tf.tf::double * {k1 + 1.0!r})
               / (tf.tf::double + {k1!r} * (1.0 - {b!r} + {b!r} * (docstats.doc_len::double / corpus.avg_len)))
           ) AS score
    FROM tf
    JOIN termstats USING (term)
    JOIN qterms USING (term)
    JOIN docstats USING ({id_col})
    CROSS JOIN corpus
    GROUP BY tf.{id_col}
    """
