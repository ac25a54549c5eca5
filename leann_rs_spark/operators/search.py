"""Exact MIPS / cosine top-k search — the canonical query path.

Reference semantics: "recompute mode" brute-force exact search
(/root/reference/src/index/recompute.rs:52-123): score every passage by
inner product, sort desc, take top-k. The indexed ANN paths
(src/backend/hnsw.rs:79-93, src/backend/diskann.rs:47-62) are physical
approximations of this; leann_rs_spark.operators.ann holds ours.

Scale design (100 TB / 1000 executors):
- Single query: `ORDER BY score DESC, id ASC LIMIT k` — Catalyst plans
  TakeOrderedAndProject: per-partition heap top-k, then a k-row merge on
  the driver. No shuffle of the scored table, no full sort. This is the
  same heap-vs-sort tradeoff the reference benchmarks
  (/root/reference/benches/benchmarks.rs:222-284) — Catalyst already
  implements the winning variant.
- Query batch: broadcast the Q queries (they're small), score Q×N
  map-side (no shuffle), then prune to k rows per (partition, query)
  *before* the single shuffle that ranks globally per query — Spark's
  partial WindowGroupLimit under the `row_number() <= k` filter, in the
  JVM (no Python worker), for k ≤ 1000. Shuffle volume drops from N×Q
  rows to P×k×Q (P = #partitions) — at 100 TB the difference between
  an impossible job and a cheap one.
- Tie-break `score DESC, id ASC` everywhere: the reference's float sort
  leaves tie order unspecified (src/index/recompute.rs:106-110); the
  oracle needs a total order.

Every rung of the search ladder (exact, MRL here; SQ8, PQ, BQ in their
modules; each optionally behind ann.ivf_probe) is a score Column handed
to the one ranking core: `topk` for a single query, `topk_batch` for a
query table. Their DuckDB twins share `_duckdb_topk` /
`_duckdb_topk_batch` the same way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from leann_rs_spark.functions.vector import (
    cosine, dot, duckdb_cosine, duckdb_dot, lit_vec,
)


def _score(metric: str, vec_col: Column, query_col: Column) -> Column:
    if metric == "ip":
        return dot(vec_col, query_col)
    if metric == "cosine":
        return cosine(vec_col, query_col)
    raise ValueError(f"unknown metric {metric!r} (expected 'ip' or 'cosine')")


def topk(
    rows: DataFrame,
    score: Column,
    query_vector: list[float],
    k: int,
    refine: int = 0,
    vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ascending: bool = False,
) -> DataFrame:
    """The single-query ranking core every rung shares: rank `rows` by
    `score` (an aliased Column; DESC, or ASC for distances) with ties
    broken id ASC and keep the top k — one TakeOrderedAndProject.
    refine > 0 broadcasts the top refine·k ids as a shortlist into a
    semi-join with `vectors` and exact-rescores them by dot(vec_col,
    query) — refine·k point reads of the full-vector table.
    → (id_col, <score alias>) when refine <= 0, else (id_col, score)."""
    ranked = rows.select(id_col, score)
    key = F.col(ranked.columns[1])
    ranked = ranked.orderBy(
        key.asc() if ascending else key.desc(), F.col(id_col).asc()
    )
    if refine <= 0:
        return ranked.limit(k)
    if vectors is None:
        raise ValueError("refine > 0 needs the full-vector table")
    shortlist = ranked.limit(refine * k).select(id_col)
    return topk(
        vectors.join(F.broadcast(shortlist), id_col, "left_semi"),
        dot(F.col(vec_col), lit_vec(query_vector)).alias("score"),
        query_vector, k, id_col=id_col,
    )


def exact_search(
    vectors: DataFrame,
    query_vector: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "ip",
    predicate: Column | None = None,
) -> DataFrame:
    """Single-query exact top-k.

    Filter is applied *before* scoring — the reference's own pushdown
    ("Apply filter early to avoid computing unnecessary embeddings",
    src/index/recompute.rs:66-79); with Catalyst the predicate reaches
    the Parquet scan.
    Returns (id_col, score) with score DOUBLE, ordered score DESC, id ASC.
    """
    score = _score(metric, F.col(vec_col), lit_vec(query_vector))
    df = vectors
    if predicate is not None:
        df = df.filter(predicate)
    return topk(df, score.alias("score"), query_vector, k, id_col=id_col)


def topk_batch(
    scored: DataFrame,
    k: int,
    refine: int = 0,
    vectors: DataFrame | None = None,
    queries: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    ascending: bool = False,
) -> DataFrame:
    """The batch ranking core: `scored` is (query_id, id, <score>,
    extra columns...); keep the top k per query by a row_number window
    over the third column (DESC, or ASC for distances, ties id ASC),
    extra columns riding along. For n = k (or refine·k) ≤ 1000
    (spark.sql.optimizer.windowGroupLimitThreshold) Catalyst plans a
    partial WindowGroupLimit below the ranking Exchange: each partition
    keeps its top n rows per query in the JVM, so the shuffle moves
    P·n·Q rows instead of all pairs. refine > 0 ranks the top refine·k
    by `score`, broadcasts those (query, id) candidates with their
    query vectors into a join with `vectors`, and exact-rescores them
    by dot. → (query_id, id, <score> or score, rank), unordered."""
    n = k if refine <= 0 else refine * k
    shortlist = _rank_per_query(scored, n, id_col, query_id_col, ascending)
    if refine <= 0:
        return shortlist
    if vectors is None:
        raise ValueError("refine > 0 needs the full-vector table")
    cand = shortlist.select(query_id_col, id_col).join(
        F.broadcast(queries.select(query_id_col, query_vec_col)),
        query_id_col,
    )
    rescored = vectors.join(F.broadcast(cand), id_col).select(
        query_id_col,
        id_col,
        dot(F.col(vec_col), F.col(query_vec_col)).alias("score"),
    )
    return _rank_per_query(rescored, k, id_col, query_id_col, False)


def _rank_per_query(
    scored: DataFrame, n: int, id_col: str, query_id_col: str, ascending: bool
) -> DataFrame:
    key = F.col(scored.columns[2])
    w = Window.partitionBy(query_id_col).orderBy(
        key.asc() if ascending else key.desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= n
    )


def batch_search(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    metric: str = "ip",
    predicate: Column | None = None,
) -> DataFrame:
    """Top-k per query for a whole table of queries.

    Plan: broadcast-nested-loop join (map-side, no shuffle of `vectors`)
    → score → partition-local WindowGroupLimit to k rows per query
    (k ≤ 1000; see topk_batch) → global rank per query.
    """
    df = vectors
    if predicate is not None:
        df = df.filter(predicate)

    scored = (
        df.join(F.broadcast(queries.select(query_id_col, query_vec_col)))
        .select(
            query_id_col,
            id_col,
            _score(metric, F.col(vec_col), F.col(query_vec_col)).alias("score"),
        )
    )
    return topk_batch(
        scored, k, id_col=id_col, query_id_col=query_id_col
    ).orderBy(query_id_col, "rank")


def assemble_results(
    hits: DataFrame,
    passages: DataFrame,
    id_col: str = "vec_id",
    passage_id_col: str = "doc_id",
) -> DataFrame:
    """Join scored hits back to their text/metadata — the reference's
    idx→id→JSONL-seek assembly (src/index/searcher.rs:171-207) becomes a
    broadcast join of the tiny hit set against the passage table."""
    return F.broadcast(hits).join(
        passages, hits[id_col] == passages[passage_id_col], "inner"
    )


def mrl_search(
    vectors: DataFrame,
    query_vector: list[float],
    d: int,
    k: int = 10,
    refine: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka truncated-dimension search (MRL, Kusupati et al.,
    arXiv:2205.13147 — "adaptive retrieval"): rank by COSINE over the
    first `d` dimensions only (MRL embeddings front-load information,
    so a d-dim prefix is a valid low-cost embedding), then optionally
    exact-rescore the top refine·k with the full vector — the
    coarse-to-fine funnel the paper serves with. Scan cost of the
    first pass is d/D of the full scan; the refine is the shared
    `topk` shortlist rescore.

    Cosine (not IP) on the prefix: truncation changes norms, so
    prefix scores are only comparable normalized. All float math
    stays in the verified dot/l2 folds — deterministic cross-engine.
    """
    pref = F.slice(F.col(vec_col), 1, d)
    return topk(
        vectors,
        cosine(pref, lit_vec(query_vector[:d])).alias("score"),
        query_vector, k, refine, vectors, id_col, vec_col,
    )


def _duckdb_q(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_id: int | None = None,
    n_queries: int | None = None,
) -> str:
    """The twins' query CTE: `q(qv)` = the embedding of `query_vec_id`
    (the q1 convention), or `q(query_id, qv)` = the `n_queries`
    smallest ids (the q2 batch convention)."""
    if n_queries is None:
        return f"""q AS (
            SELECT {vec_col} AS qv FROM {table}
            WHERE {id_col} = {query_vec_id}
        )"""
    return f"""q AS (
            SELECT {id_col} AS query_id, {vec_col} AS qv
            FROM {table} WHERE {id_col} < {n_queries}
        )"""


def _duckdb_topk(
    ctes: list[str],
    rows: str,
    score: str,
    k: int,
    refine: int = 0,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    name: str = "score",
    ascending: bool = False,
) -> str:
    """Oracle twin of `topk`: rank the FROM item `rows` (alias r,
    joined with the single-query CTE q) by the SQL `score`, ties id
    ASC, keep k; refine > 0 keeps refine·k as `shortlist` and
    exact-rescores it by dot against q.qv."""
    order = "ASC" if ascending else "DESC"
    ranked = f"""
        SELECT r.{id_col}, {score} AS {name}
        FROM {rows}, q
        ORDER BY {name} {order}, r.{id_col} ASC"""
    with_ = "WITH " + ",\n".join(ctes)
    if refine <= 0:
        return f"{with_}{ranked}\n        LIMIT {k}"
    return f"""{with_},
        shortlist AS ({ranked} LIMIT {refine * k})
        SELECT e.{id_col}, {duckdb_dot(f"e.{vec_col}", "q.qv")} AS score
        FROM {table} e JOIN shortlist USING ({id_col}), q
        ORDER BY score DESC, e.{id_col} ASC
        LIMIT {k}"""


def _duckdb_topk_batch(
    ctes: list[str],
    scored: str,
    k: int,
    refine: int = 0,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    name: str = "score",
    ascending: bool = False,
) -> str:
    """Oracle twin of `topk_batch`: `scored` is a SELECT of (query_id,
    id_col, <name>) over `ctes`, which define the batch query CTE
    q(query_id, qv). Per-query row_number rank, ties id ASC; refine > 0
    ranks refine·k and exact-rescores them against q.qv.
    → (query_id, id_col, <name> or score, rank)."""

    def rank(sql: str, col: str, order: str, n: int) -> str:
        return f"""
            SELECT query_id, {id_col}, {col}, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY {col} {order}, {id_col} ASC
                ) AS rank FROM ({sql})
            ) WHERE rank <= {n}"""

    n = k if refine <= 0 else refine * k
    short = rank(scored, name, "ASC" if ascending else "DESC", n)
    with_ = "WITH " + ",\n".join(ctes)
    if refine <= 0:
        return f"{with_}{short}"
    rescored = f"""
            SELECT s.query_id, e.{id_col},
                   {duckdb_dot(f"e.{vec_col}", "q.qv")} AS score
            FROM {table} e
            JOIN short s ON s.{id_col} = e.{id_col}
            JOIN q ON q.query_id = s.query_id"""
    return f"""{with_},
        short AS ({short})
        {rank(rescored, "score", "DESC", k)}"""


def duckdb_mrl_search(
    query_vec_id: int,
    d: int,
    k: int = 10,
    refine: int = 0,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of mrl_search, query = embedding of `query_vec_id`."""
    trunc_score = duckdb_cosine(
        f"list_slice(r.{vec_col}, 1, {d})", f"list_slice(q.qv, 1, {d})"
    )
    return _duckdb_topk(
        [_duckdb_q(table, id_col, vec_col, query_vec_id)],
        f"{table} r", trunc_score, k, refine, table, id_col, vec_col,
    )


def mmr_search(
    vectors: DataFrame,
    query_vector: list[float],
    k: int = 5,
    fetch_k: int = 25,
    lam: float = 0.7,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell &
    Goldstein, SIGIR 1998): greedily pick k results maximizing
    λ·rel(d) − (1−λ)·max_{s∈chosen} sim(d, s) over a top-fetch_k
    candidate pool — the standard diversity rerank for RAG context
    assembly (near-duplicate passages crowd out coverage at λ=1).

    Scale shape: the DISTRIBUTED work is the top-fetch_k candidate cut
    (TakeOrderedAndProject over the full corpus); the greedy is
    inherently sequential in k, so each of the k steps is one tiny job
    over the persisted ≤fetch_k candidate frame, with the chosen
    vectors folded in as literals. All score arithmetic stays in the
    verified dot() fold + F.round (HALF_UP, the DuckDB-matching
    selection-key recipe) — the unrolled SQL twin reproduces every
    pick exactly.

    → (rank, id_col, rel DOUBLE) — rank 1..k in pick order; rel is the
    candidate's original relevance score.
    """
    q = lit_vec(query_vector)
    cand = (
        vectors.select(
            id_col, vec_col, _score(metric, F.col(vec_col), q).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(fetch_k)
        .persist()
    )
    cand.count()
    sel: list[tuple] = []  # (id, vec, rel)
    for _ in range(k):
        rem = cand
        if sel:
            rem = cand.filter(
                ~F.col(id_col).isin([s[0] for s in sel])
            )
            dots = [
                dot(F.col(vec_col), lit_vec(vec))
                for _, vec, _ in sel
            ]
            sim = dots[0] if len(dots) == 1 else F.greatest(*dots)
            key = F.round(
                F.lit(float(lam)) * F.col("score")
                - F.lit(1.0 - float(lam)) * sim,
                6,
            )
        else:
            key = F.round(F.col("score"), 6)
        row = (
            rem.orderBy(key.desc(), F.col(id_col).asc())
            .select(id_col, vec_col, "score")
            .head()
        )
        if row is None:
            break
        sel.append((row[id_col], list(row[vec_col]), row["score"]))
    cand.unpersist()
    spark = vectors.sparkSession
    return spark.createDataFrame(
        [(i + 1, s[0], float(s[2])) for i, s in enumerate(sel)],
        f"rank int, {id_col} bigint, rel double",
    )


def duckdb_mmr_search(
    query_vec_id: int,
    k: int = 5,
    fetch_k: int = 25,
    lam: float = 0.7,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of mmr_search (metric='ip'): the greedy unrolled as
    k chained CTEs — step n picks argmax of the identical rounded MMR
    key over candidates not yet chosen, ties by id."""
    rel = duckdb_dot(f"e.{vec_col}", f"q.{vec_col}")
    ctes = [
        f"""cand AS (
            SELECT e.{id_col} AS id, {rel} AS rel, e.{vec_col} AS v
            FROM {table} e, {table} q
            WHERE q.{id_col} = {query_vec_id}
            ORDER BY rel DESC, e.{id_col} ASC
            LIMIT {fetch_k}
        )""",
        """s1 AS (
            SELECT c.id, c.rel, c.v FROM cand c
            ORDER BY round(c.rel, 6) DESC, c.id ASC LIMIT 1
        )""",
    ]
    for n in range(2, k + 1):
        prev = ", ".join(f"s{m}" for m in range(1, n))
        not_in = " AND ".join(
            f"c.id <> (SELECT id FROM s{m})" for m in range(1, n)
        )
        sims = [
            f"(SELECT {duckdb_dot('c.v', f's{m}.v')} FROM s{m})"
            for m in range(1, n)
        ]
        sim = sims[0] if len(sims) == 1 else "greatest(" + ", ".join(sims) + ")"
        ctes.append(
            f"""s{n} AS (
                SELECT c.id, c.rel, c.v FROM cand c
                WHERE {not_in}
                ORDER BY round({float(lam)!r} * c.rel
                              - {1.0 - float(lam)!r} * {sim}, 6) DESC,
                         c.id ASC
                LIMIT 1
            )"""
        )
    union = " UNION ALL ".join(
        f"SELECT {n} AS rank, id AS {id_col}, rel FROM s{n}"
        for n in range(1, k + 1)
    )
    return "WITH " + ",\n".join(ctes) + f"\n{union} ORDER BY rank"
