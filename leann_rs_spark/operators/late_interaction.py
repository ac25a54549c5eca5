"""ColBERT-style late-interaction retrieval (MaxSim) over token-level
hash embeddings.

No reference counterpart (the reference scores one vector per passage —
SURVEY §2 Q1-Q3); this is the multi-vector retrieval paradigm
(Khattab & Zaharia, ColBERT, SIGIR 2020): score(q, d) =
Σ_{t∈q} max_{u∈d} <e_t, e_u> — each query token finds its best-matching
document token, so partial/term-level matches rank above single-vector
pooling's averaged-away signal.

Spark-first shape, 100 TB notes:
- The document side is a TOKEN-LEVEL embedding table. `token_embeddings`
  builds it as distinct (doc, token) pairs joined to a VOCABULARY-sized
  embedding table — embedding cost ∝ |vocab| (each distinct token is
  hashed once), not Σ|doc tokens|. At production scale this table is a
  persisted artifact (the "token index", same ruling as the IVF/PQ code
  tables) and the join is broadcast (vocab) or bucketed (corpus).
- Query vectors are computed ONCE in a broadcast 1-row frame
  (`crossJoin(broadcast(...))` — the repo's 1-row-stats pattern), never
  re-evaluated per row; Catalyst does not constant-fold through
  higher-order-function lambdas.
- MaxSim is ONE groupBy(doc) with per-query-token max aggregates
  (map-side combine), then a FIXED-ORDER projection sum m0+m1+…+mk —
  fixed order keeps the double addition bit-identical to the DuckDB
  twin (float-sum order is the classic cross-engine hash breaker).
- Dots are bit-exact cross-engine: the hash embeddings are integer
  weight sums /1000 then L2-normalized with sequential folds
  (operators/embedder.py), and `functions/vector.dot` folds in index
  order — identical IEEE sequences in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from leann_rs_spark.functions.text import duckdb_tokenize, tokenize
from leann_rs_spark.functions.vector import dot, duckdb_dot
from leann_rs_spark.operators.embedder import (
    DUCKDB_NORMALIZE,
    duckdb_hash_embedding,
    duckdb_raw_embedding,
    hash_embedding,
)

# Candidate-pair frames above this row count are NOT broadcast into the
# exact-MaxSim rescore: a (query_id, doc) pair frame is bounded by
# construction for the refined form (refine·k·|queries| rows) but only
# by routing effectiveness for the pruned form — at an operating point
# where the codebook doesn't prune (C ≲ tokens/doc, the measured
# x_li_probe_recall regime) the candidate set is |queries| × corpus and
# an unconditional broadcast is an executor/driver OOM at 100 TB, not a
# slow query. 2M pair rows ≈ 50 MB broadcast — comfortably under a
# sane driver/executor budget; above it the rescore falls back to a
# plain shuffle join on the doc id.
PAIR_BROADCAST_ROW_LIMIT = 2_000_000


def query_tokens(query: str) -> list[str]:
    """The engine tokenizer's view of the query (lowercase, split on
    non-alphanumerics, length > 1), deduplicated keeping first
    occurrence — a repeated query token would double-count its MaxSim
    term while matching the same document token."""
    import re

    toks = [t for t in re.split(r"[^a-zA-Z0-9]+", query.lower()) if len(t) > 1]
    return list(dict.fromkeys(toks))


def token_embeddings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = 64,
    cache: bool = True,
) -> DataFrame:
    """→ (id_col, token, vec): the token-level embedding table.
    Distinct (doc, token) pairs (MaxSim is invariant to in-doc token
    multiplicity) joined to a vocabulary-sized embedding table, so the
    hash-embedding work is |vocab|, not corpus-token count.

    `cache` persists AND materializes the (doc, token) pairs — they
    feed BOTH the vocabulary derivation and the join side, and without
    the boundary Spark re-runs the explode+distinct for each consumer
    (the repo's multi-consumer rule; measured 2.4→1.8 s at sf0.1). In
    production this whole table is a persisted artifact and the
    boundary is the parquet sink itself."""
    dt = docs.select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("token")
    ).distinct()
    if cache:
        dt = dt.persist()
        dt.count()
    vocab = (
        dt.select("token")
        .distinct()
        .withColumn("vec", hash_embedding(F.col("token"), dims))
    )
    return dt.join(vocab, "token").select(id_col, "token", "vec")


def late_interaction_topk(
    docs: DataFrame | None,
    query: str,
    k: int = 10,
    dims: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_index: DataFrame | None = None,
) -> DataFrame:
    """→ (id_col, score_r): MaxSim top-k. score_r is the fixed-order
    sum of per-query-token maxima, rounded via round(x·1e6)/1e6 (+0.0)
    with `score_r DESC, id ASC` ordering — the repo's exact-parity
    recipe. Raises on a query with no tokens.

    `token_index`: a prebuilt (id_col, token, vec) frame — the
    persisted artifact from catalog.build_token_index; when given,
    `docs`/`text_col` are ignored and the per-call explode+embed stage
    is skipped (the production serving shape)."""
    if docs is None and token_index is None:
        raise ValueError("one of docs or token_index is required")
    toks = query_tokens(query)
    if not toks:
        raise ValueError(f"query {query!r} has no tokens")
    dt = (
        token_index
        if token_index is not None
        else token_embeddings(docs, id_col, text_col, dims)
    )
    qdf = dt.sparkSession.range(1).select(
        *[
            hash_embedding(F.lit(t), dims).alias(f"q{i}")
            for i, t in enumerate(toks)
        ]
    )
    # Vocabulary-level score precompute (the batch form's round-10
    # optimization applied to the single-query shape): dots depend
    # only on the TOKEN (vec = hash_embedding(token)), so they are
    # computed once per distinct token on a vocab-sized frame — the
    # interpreted HOF folds drop from N·|q| to |vocab|·|q| and the
    # main side carries (id, token) instead of the 64-double vec.
    # Same aggregate, same values, bit-identical output.
    vocab = dt.select("token").distinct().select(
        "token", hash_embedding(F.col("token"), dims).alias("__vv")
    )
    scores = vocab.crossJoin(F.broadcast(qdf)).select(
        "token",
        *[
            dot(F.col("__vv"), F.col(f"q{i}")).alias(f"s{i}")
            for i in range(len(toks))
        ],
    )
    scored = (
        dt.select(id_col, "token")
        .join(F.broadcast(scores), "token")
        .groupBy(id_col)
        .agg(
            *[
                F.max(F.col(f"s{i}")).alias(f"m{i}")
                for i in range(len(toks))
            ]
        )
    )
    total = None
    for i in range(len(toks)):  # fixed addition order, matches the twin
        c = F.col(f"m{i}")
        total = c if total is None else (total + c)
    return (
        scored.select(
            id_col,
            (F.round(total * F.lit(1e6)) / F.lit(1e6) + F.lit(0.0)).alias(
                "score_r"
            ),
        )
        .orderBy(F.desc("score_r"), F.asc(id_col))
        .limit(k)
    )


def duckdb_late_interaction_topk(
    query: str,
    k: int = 10,
    dims: int = 64,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle twin: same distinct (doc, token) explode, same
    vocabulary-sized embedding stage, same single-row query-vector
    cross join, same fixed-order sum and rounding."""
    toks = query_tokens(query)
    if not toks:
        raise ValueError(f"query {query!r} has no tokens")
    q_cols = ", ".join(
        f"{duckdb_hash_embedding(repr(t), dims)} AS q{i}"
        for i, t in enumerate(toks)
    )
    maxes = ", ".join(
        f"max({duckdb_dot('vec', f'q{i}')}) AS m{i}" for i in range(len(toks))
    )
    total = " + ".join(f"m{i}" for i in range(len(toks)))
    return f"""
        WITH dt AS (
            SELECT DISTINCT {id_col}, t AS token
            FROM {table}, unnest({duckdb_tokenize(text_col)}) u(t)
        ),
        vocab AS (
            SELECT token, {DUCKDB_NORMALIZE} AS vec
            FROM (
                SELECT token, {duckdb_raw_embedding("token", dims)} AS raw
                FROM (SELECT DISTINCT token FROM dt) _v
            ) _raw
        ),
        j AS (
            SELECT dt.{id_col}, vocab.vec FROM dt JOIN vocab USING (token)
        ),
        q AS (SELECT {q_cols}),
        m AS (
            SELECT {id_col}, {maxes} FROM j, q GROUP BY {id_col}
        )
        SELECT {id_col}, round(({total}) * 1e6) / 1e6 + 0.0 AS score_r
        FROM m
        ORDER BY score_r DESC, {id_col} ASC
        LIMIT {k}
    """


def _pivot_scores(
    joined: DataFrame, score: "Column", width: int, id_col: str
) -> DataFrame:
    """→ (query_id, id_col, score_r): THE parity-critical MaxSim
    reduction, shared by every batch form (exact, ADC, pair-restricted)
    — ordinal-pivoted per-query-token maxima under ONE wide exchange
    on (query_id, id_col), fixed-order m0 + coalesce(m_i, 0.0) sum
    (adding literal 0.0 is IEEE-exact, so one column set serves
    queries of different widths), 6-dp round(x·1e6)/1e6 + 0.0."""
    mx = joined.groupBy("query_id", id_col).agg(
        *[
            F.max(F.when(F.col("ord") == i, score)).alias(f"m{i}")
            for i in range(width)
        ]
    )
    total = F.col("m0")  # every query has >= 1 token, so m0 never null
    for i in range(1, width):
        total = total + F.coalesce(F.col(f"m{i}"), F.lit(0.0))
    return mx.select(
        "query_id",
        id_col,
        (F.round(total * F.lit(1e6)) / F.lit(1e6) + F.lit(0.0)).alias(
            "score_r"
        ),
    )


def _topk_tail(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Per-query windowed top-k over (query_id, id_col, score_r) —
    ties score_r DESC, id ASC, the repo ordering recipe."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_r"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def late_interaction_topk_batch(
    token_index: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    dims: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (query_id, id_col, score_r, rank): per-query MaxSim top-k for
    a whole query batch over the PERSISTED token index — the q2-shape
    serving form of `late_interaction_topk`.

    Shape (the one-shuffle plan, pinned by test_plans):
    - queries tokenize on the driver (a query string is tiny) into
      (query_id, ord, token) rows; hash-embedding them is one projection
      over a broadcast-sized frame.
    - ONE crossJoin(broadcast(query tokens)) over the token index scan,
      then ONE groupBy(query_id, id_col) whose aggregates pivot the
      per-ordinal maxima into columns m0..m{W-1} (W = widest query) —
      map-side combine does the heavy reduction, and the only wide
      exchange hashes on (query_id, id_col).
    - score_r = fixed-order m0 + coalesce(m1,0) + … — a query narrower
      than W has NULL maxima beyond its width, and adding literal 0.0
      is exact in IEEE, so bit parity with the DuckDB twin holds with
      no per-query column sets.
    - per-query top-k is a row_number window over the Q×N aggregated
      rows (tiny next to the token join).

    At 100 TB the token index scan is the dominant cost and it is read
    ONCE for the whole batch — per-query cost amortizes exactly like
    the reference's batch ANN path (q2_ivf_batch_topk).

    Physical shape: ONE crossJoin(broadcast((query_id, ord, qvec)))
    over the token-index scan feeds the shared ordinal pivot
    (`_pivot_scores`): per-ordinal maxima reduce under ONE wide
    exchange on (query_id, id_col) with map-side combine, and the
    per-query top-k window rides the aggregated rows. A columnar
    variant (query vectors as Σ|q| dot COLUMNS, one exchange on doc)
    was measured SLOWER in the bench harness at the 3-query serving
    batch (4.7 → 6.8 s at sf0.1) — the wide HOF-fold aggregation costs
    more than the row expansion it avoids — and is kept out."""
    tok_lists = _tok_lists(queries)
    spark = token_index.sparkSession
    width = max(len(t) for _, t in tok_lists)
    qt = spark.createDataFrame(
        [
            (qid, i, t)
            for qid, toks in tok_lists
            for i, t in enumerate(toks)
        ],
        "query_id int, ord int, token string",
    )
    qv = qt.select(
        "query_id", "ord",
        hash_embedding(F.col("token"), dims).alias("qvec"),
    )
    # Vocabulary-level score precompute (round-10 optimization): the
    # dot of a token row against a query token depends only on the
    # TOKEN (vec = hash_embedding(token)), so the interpreted HOF fold
    # runs |vocab|·Σ|q| times instead of N·Σ|q|, the expansion join is
    # a BroadcastHashJoin on `token`, and the index scan drops `vec`
    # (measured 4.6 → 1.6 s at sf0.1; output bit-identical — see
    # _vocab_qtoken_scores). Everything downstream (ordinal pivot, ONE
    # wide exchange on (query_id, doc), fixed-order sum, top-k window)
    # is unchanged.
    scores = _vocab_qtoken_scores(token_index, qv, dims)
    scored = _pivot_scores(
        token_index.select(id_col, "token").join(
            F.broadcast(scores), "token"
        ),
        F.col("__s"),
        width,
        id_col,
    )
    return _topk_tail(scored, k, id_col)


def duckdb_late_interaction_topk_batch(
    queries: list[tuple[int, str]],
    k: int = 10,
    dims: int = 64,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle twin of `late_interaction_topk_batch`: recomputes the
    token-index values inline (the artifact path persists exactly this
    frame), same ordinal-pivoted maxima, same fixed-order
    coalesce(…, 0.0) sum, same rounding and tie-break."""
    tok_lists = _tok_lists(queries)
    width = max(len(t) for _, t in tok_lists)
    values = ", ".join(
        f"({qid}, {i}, {t!r})"
        for qid, toks in tok_lists
        for i, t in enumerate(toks)
    )
    maxes = ", ".join(
        f"max(CASE WHEN ord = {i} THEN {duckdb_dot('vec', 'qvec')} END) AS m{i}"
        for i in range(width)
    )
    total = " + ".join(
        ["m0"]
        + [f"coalesce(m{i}, CAST(0.0 AS DOUBLE))" for i in range(1, width)]
    )
    return f"""
        WITH dt AS (
            SELECT DISTINCT {id_col}, t AS token
            FROM {table}, unnest({duckdb_tokenize(text_col)}) u(t)
        ),
        vocab AS (
            SELECT token, {DUCKDB_NORMALIZE} AS vec
            FROM (
                SELECT token, {duckdb_raw_embedding("token", dims)} AS raw
                FROM (SELECT DISTINCT token FROM dt) _v
            ) _raw
        ),
        j AS (
            SELECT dt.{id_col}, vocab.vec FROM dt JOIN vocab USING (token)
        ),
        qt(query_id, ord, token) AS (VALUES {values}),
        qv AS (
            SELECT query_id, ord, {DUCKDB_NORMALIZE} AS qvec
            FROM (
                SELECT query_id, ord,
                       {duckdb_raw_embedding("token", dims)} AS raw
                FROM qt
            ) _qr
        ),
        m AS (
            SELECT query_id, {id_col}, {maxes}
            FROM j, qv GROUP BY query_id, {id_col}
        ),
        s AS (
            SELECT query_id, {id_col},
                   round(({total}) * 1e6) / 1e6 + 0.0 AS score_r
            FROM m
        )
        SELECT * FROM (
            SELECT query_id, {id_col}, score_r,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score_r DESC, {id_col} ASC
                   ) AS INT) AS rank
            FROM s
        ) WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def token_subcodebooks(token_index: DataFrame, m: int = 8, k_cb: int = 16):
    """Deterministic take-policy PQ codebook over the token index's
    VOCABULARY: sub-centroid j of subspace i is the i-th slice of the
    j-th token vector in lexicographic token order (tokens are
    [a-z0-9]+, so Spark's binary string order ≡ DuckDB's) — the
    oracle rebuilds it from the table alone, like
    pq.take_subcodebooks. KB-sized Python nested list → plan
    literals."""
    rows = (
        token_index.select("token", "vec")
        .distinct()
        .orderBy("token")
        .limit(k_cb)
        .collect()
    )
    dims = len(rows[0]["vec"])
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    d = dims // m
    return [
        [[float(x) for x in r["vec"][i * d : (i + 1) * d]] for r in rows]
        for i in range(m)
    ]


def pq_token_codes(
    token_index: DataFrame, codebook, id_col: str = "doc_id"
) -> DataFrame:
    """→ (id_col, code array<int>): PQ-encode the token index in one
    map pass (zero shuffle). At 100 TB the token index is the LARGEST
    serving artifact (rows = Σ distinct doc tokens); the code table
    reads M small ints per token instead of `dims` doubles — the same
    scan-bytes knob as IVF-PQ, applied to the late-interaction rung
    of the serving ladder.

    Uses the Arrow numpy KERNEL form of the encoder (bit-identical to
    the expression form, pq.pq_encode docstring): this is exactly the
    regime that docstring reserved it for — token tables are 10-100×
    the embedding table's rows, and here the kernel measured 7×
    FASTER (0.6 s vs 4.3 s on 112k token rows at sf0.1; the verdict
    flips from the 5-20k-row embedding tables where Arrow transfer
    dominates)."""
    from leann_rs_spark.operators.pq import pq_encode

    return pq_encode(
        token_index, codebook, id_col=id_col, vec_col="vec", kernel=True
    ).select(id_col, "code")


def late_interaction_topk_batch_pq(
    codes: DataFrame,
    codebook,
    queries: list[tuple[int, str]],
    k: int = 10,
    dims: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (query_id, id_col, score_r, rank): ADC MaxSim over the
    PQ-coded token index — the quantized serving form of
    `late_interaction_topk_batch` (ColBERTv2's compressed-index idea
    re-expressed relationally).

    ADC shape: each query token's dot against every sub-centroid is a
    DRIVER-side lookup table (|q_tokens|·M·K doubles, computed with
    py_hash_embedding + index-order folds — bit-exact with the SQL
    twin's sub-dots), carried as a nested-array column on the
    broadcast query frame; scoring a token row is M array lookups
    summed in subspace order (F.aggregate over a sequence — the same
    m-ascending fold the twin's `list(sd ORDER BY m)` reduce runs).
    Everything downstream (ordinal-pivoted maxima, ONE wide exchange
    on (query_id, doc), fixed-order coalesce sum, 6-dp round,
    windowed top-k) is the exact batch plan."""
    from leann_rs_spark.operators.embedder import py_hash_embedding

    tok_lists = _tok_lists(queries)
    width = max(len(t) for _, t in tok_lists)
    m = len(codebook)
    d = len(codebook[0][0])
    rows = []
    for qid, toks in tok_lists:
        for i, t in enumerate(toks):
            q = py_hash_embedding(t, dims)
            lut = []
            for mi in range(m):
                qs = q[mi * d : (mi + 1) * d]
                row = []
                for cv in codebook[mi]:
                    acc = 0.0  # index-order fold, = dot()/duckdb_dot
                    for x, y in zip(qs, cv):
                        acc += x * y
                    row.append(acc)
                lut.append(row)
            rows.append((qid, i, lut))
    spark = codes.sparkSession
    qv = spark.createDataFrame(
        rows, "query_id int, ord int, lut array<array<double>>"
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, mi: acc
        + F.element_at(
            F.element_at(F.col("lut"), mi + F.lit(1)),
            F.element_at(F.col("code"), mi + F.lit(1)) + F.lit(1),
        ),
    )
    # Distinct-code ADC precompute (round-10 optimization, the
    # _vocab_qtoken_scores idea on the quantized rung): a token row's
    # ADC sum depends only on its CODE (code = f(vec) = f(token)), so
    # the interpreted m-subspace lookup fold runs once per (distinct
    # code, query token) — ≤ |vocab|·Σ|q| evaluations — and the
    # expansion join is a BroadcastHashJoin on the M-int code array
    # instead of a crossJoin evaluating the fold N·Σ|q| times. Same
    # joined-row multiset, same doubles, bit-identical output.
    code_scores = (
        codes.select("code")
        .distinct()
        .crossJoin(F.broadcast(qv))
        .select("code", "query_id", "ord", adc.alias("__s"))
    )
    scored = _pivot_scores(
        codes.join(F.broadcast(code_scores), "code"),
        F.col("__s"),
        width,
        id_col,
    )
    return _topk_tail(scored, k, id_col)


def duckdb_late_interaction_topk_batch_pq(
    queries: list[tuple[int, str]],
    k: int = 10,
    dims: int = 64,
    m: int = 8,
    k_cb: int = 16,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle twin of the quantized batch: same lexicographic take
    codebook, same argmin encode (dist fold ≡ pq's proven pair, ties
    cid ASC), ADC as per-subspace dots summed in m order (list(sd
    ORDER BY m) reduce ≡ the Spark LUT fold), then the exact batch
    twin's pivot/sum/rank tail."""
    from leann_rs_spark.operators.pq import _duckdb_l2_dist2

    tok_lists = _tok_lists(queries)
    width = max(len(t) for _, t in tok_lists)
    d = dims // m
    values = ", ".join(
        f"({qid}, {i}, {t!r})"
        for qid, toks in tok_lists
        for i, t in enumerate(toks)
    )
    dist = _duckdb_l2_dist2("s.sub", "cb.cv", d)
    qsub = f"q.qvec[t.m * {d} + 1 : (t.m + 1) * {d}]"
    maxes = ", ".join(
        f"max(CASE WHEN ord = {i} THEN adc END) AS m{i}"
        for i in range(width)
    )
    total = " + ".join(
        ["m0"]
        + [f"coalesce(m{i}, CAST(0.0 AS DOUBLE))" for i in range(1, width)]
    )
    return f"""
        WITH dt AS (
            SELECT DISTINCT {id_col}, t AS token
            FROM {table}, unnest({duckdb_tokenize(text_col)}) u(t)
        ),
        vocab AS MATERIALIZED (
            SELECT token, {DUCKDB_NORMALIZE} AS vec
            FROM (
                SELECT token, {duckdb_raw_embedding("token", dims)} AS raw
                FROM (SELECT DISTINCT token FROM dt) _v
            ) _raw
        ),
        j AS (
            SELECT dt.{id_col}, dt.token, vocab.vec
            FROM dt JOIN vocab USING (token)
        ),
        cbsel AS (
            SELECT row_number() OVER (ORDER BY token ASC) - 1 AS cid, vec
            FROM vocab ORDER BY token ASC LIMIT {k_cb}
        ),
        cbrows AS MATERIALIZED (
            SELECT mm.i - 1 AS m, cid,
                   vec[(mm.i - 1) * {d} + 1 : mm.i * {d}] AS cv
            FROM cbsel, unnest(generate_series(1, {m})) mm(i)
        ),
        subs AS (
            SELECT {id_col}, token, mm.i - 1 AS m,
                   vec[(mm.i - 1) * {d} + 1 : mm.i * {d}] AS sub
            FROM j, unnest(generate_series(1, {m})) mm(i)
        ),
        tcodes AS MATERIALIZED (
            SELECT {id_col}, token, m, cid FROM (
                SELECT s.{id_col}, s.token, s.m, cb.cid,
                       row_number() OVER (
                           PARTITION BY s.{id_col}, s.token, s.m
                           ORDER BY {dist} ASC, cb.cid ASC
                       ) AS rn
                FROM subs s JOIN cbrows cb ON cb.m = s.m
            ) WHERE rn = 1
        ),
        qt(query_id, ord, token) AS (VALUES {values}),
        qv AS (
            SELECT query_id, ord, {DUCKDB_NORMALIZE} AS qvec
            FROM (
                SELECT query_id, ord,
                       {duckdb_raw_embedding("token", dims)} AS raw
                FROM qt
            ) _qr
        ),
        pairsub AS (
            SELECT q.query_id, q.ord, t.{id_col}, t.token, t.m,
                   {duckdb_dot(qsub, "cb.cv")} AS sd
            FROM tcodes t JOIN cbrows cb ON cb.m = t.m AND cb.cid = t.cid,
                 qv q
        ),
        pairadc AS (
            SELECT query_id, ord, {id_col}, token,
                   list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                                    list(sd ORDER BY m)),
                       (a, x) -> a + x) AS adc
            FROM pairsub GROUP BY query_id, ord, {id_col}, token
        ),
        mx AS (
            SELECT query_id, {id_col}, {maxes}
            FROM pairadc GROUP BY query_id, {id_col}
        ),
        s AS (
            SELECT query_id, {id_col},
                   round(({total}) * 1e6) / 1e6 + 0.0 AS score_r
            FROM mx
        )
        SELECT * FROM (
            SELECT query_id, {id_col}, score_r,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score_r DESC, {id_col} ASC
                   ) AS INT) AS rank
            FROM s
        ) WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def _vocab_qtoken_scores(
    token_index: DataFrame, qv: DataFrame, dims: int
) -> DataFrame:
    """→ (token, query_id, ord, __s): the MaxSim dot of every DISTINCT
    corpus token against every query token — computed once per
    (vocabulary token, query token) instead of once per (corpus token
    ROW, query token).

    Why this is safe: the token index's `vec` is the hash embedding of
    `token` by construction (catalog.build_token_index →
    token_embeddings joins a vocabulary-sized embedding table), so
    recomputing `hash_embedding(token, dims)` over the distinct token
    set yields bit-identical dots — callers MUST pass the index's own
    `dims` (gates pass meta's `info["dims"]`).

    Why it is fast (guide §4.1/§2.3): `dot` is a higher-order-function
    fold — CodegenFallback, interpreted per row — so evaluating it on
    the N·Σ|q| joined rows dominated the batch MaxSim stage; this
    frame needs |vocab|·Σ|q| evaluations, and the main scan no longer
    needs the 64-double `vec` column at all (ReadSchema shrinks to
    (id, token); measured 4.6 → 1.6 s on the sf0.1 batch gate, output
    bit-identical). The scored frame is |vocab|·Σ|q| rows — bounded by
    the embedding model's vocabulary (the ColBERT regime: a fixed
    wordpiece vocab), so it broadcasts; the expansion join becomes a
    BroadcastHashJoin on `token` instead of a crossJoin carrying
    vectors."""
    vocab = token_index.select("token").distinct().select(
        "token", hash_embedding(F.col("token"), dims).alias("__vv")
    )
    return vocab.crossJoin(F.broadcast(qv)).select(
        "token", "query_id", "ord",
        dot(F.col("__vv"), F.col("qvec")).alias("__s"),
    )


def _tok_lists(queries: list[tuple[int, str]]) -> list[tuple[int, list[str]]]:
    """Tokenize a query batch driver-side, raising on empty queries —
    the shared validation of every batch form."""
    out: list[tuple[int, list[str]]] = []
    for qid, q in queries:
        toks = query_tokens(q)
        if not toks:
            raise ValueError(f"query {q!r} has no tokens")
        out.append((qid, toks))
    return out


def _exact_maxsim_scores(
    token_index: DataFrame,
    pairs: DataFrame,
    queries: list[tuple[int, str]],
    dims: int,
    id_col: str,
    pair_rows: int | None = None,
) -> DataFrame:
    """→ (query_id, id_col, score_r): exact MaxSim restricted to a
    (query_id, id_col) candidate-pair frame. The pair frame joins into
    the token index first, so only candidate docs' token rows flow
    into the per-query-token aggregation; the ordinal-pivoted maxima,
    ONE wide exchange on (query_id, doc), and fixed-order coalesce sum
    + 6-dp round are `late_interaction_topk_batch`'s exact plan.

    `pair_rows` size-guards the pair join's physical form: None means
    the CALLER proves the frame bounded by construction (the refined
    shortlist is refine·k·|queries| rows) and it broadcasts; a
    measured count ≤ PAIR_BROADCAST_ROW_LIMIT broadcasts; above the
    limit the join runs as a plain shuffle on `id_col` — same result,
    no broadcast OOM hazard when routing fails to prune."""
    tok_lists = _tok_lists(queries)
    width = max(len(t) for _, t in tok_lists)
    spark = token_index.sparkSession
    qt = spark.createDataFrame(
        [(qid, i, t) for qid, toks in tok_lists for i, t in enumerate(toks)],
        "query_id int, ord int, token string",
    )
    qv = qt.select(
        "query_id", "ord", hash_embedding(F.col("token"), dims).alias("qvec")
    )
    # pair join first (pruning — only candidate docs survive), THEN
    # the query-token join rides the already-pruned rows
    if pair_rows is None or pair_rows <= PAIR_BROADCAST_ROW_LIMIT:
        pair_side = F.broadcast(pairs)
    else:
        pair_side = pairs
    # NOTE (round-10 optimization): this rescore deliberately KEEPS the
    # per-row dot instead of the _vocab_qtoken_scores precompute the
    # full-scan forms use — the pair frame bounds the candidate rows by
    # construction, so the interpreted folds here are already few, and
    # the precompute's extra serial broadcast-build jobs (vocab
    # distinct + scored crossJoin) measured as a net REGRESSION on the
    # pruned/probe gates (x_late_interaction_pruned 2.2 → 2.8 s,
    # x_li_probe_recall 4.4 → 5.6 s) while saving nothing material.
    pruned = token_index.join(pair_side, id_col)
    return _pivot_scores(
        pruned.join(F.broadcast(qv), "query_id"),
        dot(F.col("vec"), F.col("qvec")),
        width,
        id_col,
    )


def _exact_maxsim_pairs(
    token_index: DataFrame,
    pairs: DataFrame,
    queries: list[tuple[int, str]],
    k: int,
    dims: int,
    id_col: str,
    pair_rows: int | None = None,
) -> DataFrame:
    """`_exact_maxsim_scores` + the per-query windowed top-k tail —
    the rescore shared by the refined (ADC shortlist) and pruned
    (centroid-routed) serving forms. `pair_rows` is the broadcast
    size-guard (see `_exact_maxsim_scores`)."""
    return _topk_tail(
        _exact_maxsim_scores(
            token_index, pairs, queries, dims, id_col, pair_rows=pair_rows
        ),
        k,
        id_col,
    )


def late_interaction_topk_batch_refined(
    token_index: DataFrame,
    codes: DataFrame,
    codebook,
    queries: list[tuple[int, str]],
    k: int = 10,
    refine: int = 4,
    dims: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (query_id, id_col, score_r, rank): the two-pass production
    serving shape for quantized late interaction — ADC MaxSim over the
    PQ code table shortlists refine·k docs per query (M ints/token
    scanned), then EXACT MaxSim rescores only the shortlisted (query,
    doc) pairs against the full token index (refine·k·|doc tokens|
    point reads via a broadcast shortlist join, never a second full
    pass). The pq_search(refine=) ruling applied to multi-vector
    retrieval.

    Output scores are exact-MaxSim values: with a covering codebook
    this is bit-identical to `late_interaction_topk_batch`; with a
    lossy one it differs only where the ADC shortlist misses a true
    top-k doc (the recall-vs-bytes tradeoff refine buys back)."""
    shortlist = late_interaction_topk_batch_pq(
        codes, codebook, queries, k=refine * k, dims=dims, id_col=id_col
    ).select("query_id", id_col)
    return _exact_maxsim_pairs(
        token_index, shortlist, queries, k, dims, id_col
    )


def token_take_centroids(token_index: DataFrame, c: int = 16) -> list[list[float]]:
    """Deterministic take-policy ROUTING centroids over the token
    index's vocabulary: centroid i is the i-th token vector in
    lexicographic token order (tokens are [a-z0-9]+, so Spark's binary
    string order ≡ DuckDB's) — the oracle rebuilds the same list from
    the table alone, like `token_subcodebooks`/ann.take_centroids. A
    learned codebook (seeded spherical k-means, ann.kmeans_centroids)
    can replace this without touching assignment or serving."""
    rows = (
        token_index.select("token", "vec")
        .distinct()
        .orderBy("token")
        .limit(c)
        .collect()
    )
    return [[float(x) for x in r["vec"]] for r in rows]


def assign_token_cids(
    token_index: DataFrame,
    centroids: list[list[float]],
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (id_col, token, vec, cid): route every token row to its best
    (max inner product) centroid — ONE map pass (ann.ivf_assign's
    inline-literal projection; ties break cid ASC, the proven parity
    pair). cid is a function of the token alone (the vec is), so the
    routed table partitions cleanly by cid and a frozen codebook keeps
    appends consistent (the IVF append ruling)."""
    from leann_rs_spark.operators.ann import ivf_assign

    spark = token_index.sparkSession
    cent_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(centroids)],
        "centroid_id int, centroid_vec array<double>",
    )
    # validate: the r8 broadcast-path bug was exactly this call site
    # keying by id_col alone — one extra count aggregate per (one-time)
    # routing build buys an error instead of silent collapse
    assigned = ivf_assign(
        token_index, cent_df, id_col=id_col, vec_col="vec",
        extra_cols=["token"], validate=True,
    )
    return assigned.select(
        id_col, "token", "vec", F.col("cluster_id").alias("cid")
    )


def probe_query_cid_ranks(
    queries: list[tuple[int, str]],
    centroids: list[list[float]],
    dims: int = 64,
) -> list[tuple[int, int, int]]:
    """Driver-side query routing ranks: for every (query, centroid),
    the best (minimum) 1-based rank that centroid achieves across the
    query's tokens, ranking each token's centroids by inner product
    (ties cid ASC). Pure Python with index-order folds over
    `py_hash_embedding` vectors — bit-identical to the SQL twin's
    row_number(ORDER BY dot DESC, cid ASC), the same parity argument
    as the ADC lookup tables. nprobe-probing = `rank <= nprobe`."""
    from leann_rs_spark.operators.embedder import py_hash_embedding

    best: dict[tuple[int, int], int] = {}
    for qid, toks in _tok_lists(queries):
        for t in toks:
            q = py_hash_embedding(t, dims)
            scored = []
            for cid, cv in enumerate(centroids):
                acc = 0.0  # index-order fold, = dot()/duckdb_dot
                for x, y in zip(q, cv):
                    acc += x * y
                scored.append((-acc, cid))
            for rank, (_, cid) in enumerate(sorted(scored), 1):
                key = (qid, cid)
                best[key] = min(best.get(key, 1 << 30), rank)
    return sorted((qid, cid, rn) for (qid, cid), rn in best.items())


def probe_query_cids(
    queries: list[tuple[int, str]],
    centroids: list[list[float]],
    nprobe: int,
    dims: int = 64,
) -> list[tuple[int, int]]:
    """Sorted distinct (query_id, cid) rows probed at `nprobe` — each
    query token's top-nprobe centroids, unioned per query (see
    `probe_query_cid_ranks`)."""
    return sorted(
        (qid, cid)
        for qid, cid, rn in probe_query_cid_ranks(queries, centroids, dims)
        if rn <= nprobe
    )


def late_interaction_topk_batch_pruned(
    token_index: DataFrame,
    centroids: list[list[float]],
    queries: list[tuple[int, str]],
    k: int = 10,
    nprobe: int = 4,
    dims: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (query_id, id_col, score_r, rank): centroid-routed MaxSim —
    the PLAID idea (Santhanam et al., "PLAID: An Efficient Engine for
    Late Interaction Retrieval", CIKM 2022) re-expressed relationally.
    Candidate generation never scans the full token index: each query
    token probes its nprobe nearest routing centroids (driver-side —
    the codebook is KB-sized), and ONLY token-index partitions whose
    `cid` is probed are read (the artifact is partitionBy("cid"), so
    the isin filter is PARTITION pruning — pinned by test). Candidate
    docs = docs owning ≥1 token in a probed centroid of that query;
    exact MaxSim then rescores only those (query, doc) pairs via the
    shared broadcast-pair tail.

    At 100 TB this is the late-interaction IVF: scan bytes for
    candidate generation drop to nprobe/C of the index (directory-
    -level pruning, no file even opened), and the rescore is bounded
    by candidate docs' token rows. The candidate-pair frame is
    materialized ONCE (eager localCheckpoint — the count is needed
    anyway for the broadcast size-guard, and the rescore then reads
    the checkpointed rows instead of re-running candidate
    generation); its measured row count picks the rescore join's
    physical form (broadcast ≤ PAIR_BROADCAST_ROW_LIMIT, else plain
    shuffle on the doc id — routing that fails to prune must degrade
    to a slow query, not an OOM). Expects `token_index` to carry the
    `cid` column (catalog.build_token_index(n_centroids=...))."""
    probed = probe_query_cids(queries, centroids, nprobe, dims)
    spark = token_index.sparkSession
    probe = spark.createDataFrame(probed, "query_id int, cid int")
    global_cids = sorted({cid for _, cid in probed})
    cand = (
        token_index.filter(F.col("cid").isin(global_cids))
        .join(F.broadcast(probe), "cid")
        .select("query_id", id_col)
        .distinct()
        .localCheckpoint(eager=True)
    )
    return _exact_maxsim_pairs(
        token_index.select(id_col, "token", "vec"), cand, queries,
        k, dims, id_col, pair_rows=cand.count(),
    )


def duckdb_late_interaction_topk_batch_pruned(
    queries: list[tuple[int, str]],
    k: int = 10,
    nprobe: int = 4,
    c: int = 16,
    dims: int = 64,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle twin of the centroid-routed batch: same lexicographic
    take centroids, same max-inner-product routing (vocab-level argmax
    rn=1, query-token top-nprobe rn<=nprobe, both ties cid ASC), same
    distinct (query, doc) candidate set, then the exact twin's MaxSim
    restricted to candidates."""
    tok_lists = _tok_lists(queries)
    width = max(len(t) for _, t in tok_lists)
    values = ", ".join(
        f"({qid}, {i}, {t!r})"
        for qid, toks in tok_lists
        for i, t in enumerate(toks)
    )
    maxes = ", ".join(
        f"max(CASE WHEN ord = {i} THEN {duckdb_dot('j.vec', 'q.qvec')} END)"
        f" AS m{i}"
        for i in range(width)
    )
    total = " + ".join(
        ["m0"]
        + [f"coalesce(m{i}, CAST(0.0 AS DOUBLE))" for i in range(1, width)]
    )
    return f"""
        WITH dt AS (
            SELECT DISTINCT {id_col}, t AS token
            FROM {table}, unnest({duckdb_tokenize(text_col)}) u(t)
        ),
        vocab AS MATERIALIZED (
            SELECT token, {DUCKDB_NORMALIZE} AS vec
            FROM (
                SELECT token, {duckdb_raw_embedding("token", dims)} AS raw
                FROM (SELECT DISTINCT token FROM dt) _v
            ) _raw
        ),
        j AS MATERIALIZED (
            SELECT dt.{id_col}, dt.token, vocab.vec
            FROM dt JOIN vocab USING (token)
        ),
        cbsel AS MATERIALIZED (
            SELECT row_number() OVER (ORDER BY token ASC) - 1 AS cid, vec
            FROM vocab ORDER BY token ASC LIMIT {c}
        ),
        assign AS MATERIALIZED (
            SELECT token, cid FROM (
                SELECT v.token, cb.cid,
                       row_number() OVER (
                           PARTITION BY v.token
                           ORDER BY {duckdb_dot('v.vec', 'cb.vec')} DESC,
                                    cb.cid ASC
                       ) AS rn
                FROM vocab v, cbsel cb
            ) WHERE rn = 1
        ),
        qt(query_id, ord, token) AS (VALUES {values}),
        qv AS MATERIALIZED (
            SELECT query_id, ord, {DUCKDB_NORMALIZE} AS qvec
            FROM (
                SELECT query_id, ord,
                       {duckdb_raw_embedding("token", dims)} AS raw
                FROM qt
            ) _qr
        ),
        probe AS (
            SELECT DISTINCT query_id, cid FROM (
                SELECT q.query_id, q.ord, cb.cid,
                       row_number() OVER (
                           PARTITION BY q.query_id, q.ord
                           ORDER BY {duckdb_dot('q.qvec', 'cb.vec')} DESC,
                                    cb.cid ASC
                       ) AS rn
                FROM qv q, cbsel cb
            ) WHERE rn <= {nprobe}
        ),
        cand AS MATERIALIZED (
            SELECT DISTINCT p.query_id, j.{id_col}
            FROM j JOIN assign USING (token)
            JOIN probe p ON p.cid = assign.cid
        ),
        rmx AS (
            SELECT cand.query_id, j.{id_col}, {maxes}
            FROM j
            JOIN cand ON cand.{id_col} = j.{id_col}
            JOIN qv q ON q.query_id = cand.query_id
            GROUP BY cand.query_id, j.{id_col}
        ),
        rs AS (
            SELECT query_id, {id_col},
                   round(({total}) * 1e6) / 1e6 + 0.0 AS score_r
            FROM rmx
        )
        SELECT * FROM (
            SELECT query_id, {id_col}, score_r,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score_r DESC, {id_col} ASC
                   ) AS INT) AS rank
            FROM rs
        ) WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def li_probe_recall_curve(
    token_index: DataFrame,
    centroids: list[list[float]],
    queries: list[tuple[int, str]],
    k: int = 10,
    nprobes: list[int] | None = None,
    dims: int = 64,
    id_col: str = "doc_id",
    intermediates: list | None = None,
) -> DataFrame:
    """→ (nprobe, n_candidates, recall_r): the knob-picking diagnostic
    for centroid-routed late interaction — recall@k vs exact MaxSim,
    and the candidate count it costs, per probe width. The
    x_ivf_recall analog for the multi-vector rung.

    ONE job per axis, never a per-sweep-point rerun (the repo's
    sweep-explode lesson): exact scores are nprobe-INDEPENDENT (probing
    only changes which pairs are candidates), so candidates at
    max(nprobes) are rescored ONCE with each pair's best probe rank
    riding along, then every sweep point is a filter + one window over
    the same frame. Ground truth is one exact batch run.

    `intermediates`: the three persisted frames (candidates, sweep,
    exact truth) are appended so a long-lived session can unpersist
    them after materializing the curve (the ivf_recall_curve ruling).
    When it is None the curve is materialized INTERNALLY (collect of a
    sweep-sized frame) and the persisted frames are unpersisted
    before returning a local DataFrame — library callers must not
    leak session-lifetime cache entries (ADVICE r7)."""
    nprobes = sorted(nprobes or [1, 2, 4])
    maxp = nprobes[-1]
    nq = len(queries)
    spark = token_index.sparkSession
    ranks = [
        r
        for r in probe_query_cid_ranks(queries, centroids, dims)
        if r[2] <= maxp
    ]
    rank_df = spark.createDataFrame(
        ranks, "query_id int, cid int, min_rn int"
    )
    global_cids = sorted({cid for _, cid, _ in ranks})
    plain = token_index.select(id_col, "token", "vec")
    cand = (
        token_index.filter(F.col("cid").isin(global_cids))
        .join(F.broadcast(rank_df), "cid")
        .groupBy("query_id", id_col)
        .agg(F.min("min_rn").alias("cand_rn"))
        .persist()
    )
    # multi-consumer boundary (pairs input + rank join); the measured
    # count also drives the broadcast size-guard on BOTH candidate
    # joins below — an unpruning codebook makes cand Q×corpus-sized
    # exact ground truth shares no lineage with the candidate/sweep
    # frames, so its materialization runs on a background thread
    # (guide §2.6 overlap): the vocab-score and batch-MaxSim jobs
    # back-fill executors idled by the two persist barriers below
    # (FIFO scheduling). The count is the mandatory materialize-before-
    # consumers step; `matched` blocks on the future before reading.
    from concurrent.futures import ThreadPoolExecutor

    truth = (
        late_interaction_topk_batch(
            plain, queries, k=k, dims=dims, id_col=id_col
        )
        .select("query_id", id_col)
        .persist()
    )
    with ThreadPoolExecutor(max_workers=1) as pool:
        truth_fut = pool.submit(truth.count)
        n_pairs = cand.count()
        if intermediates is not None:
            intermediates.append(cand)
        scored = _exact_maxsim_scores(
            plain, cand.select("query_id", id_col), queries, dims, id_col,
            pair_rows=n_pairs,
        )
        cand_side = (
            F.broadcast(cand) if n_pairs <= PAIR_BROADCAST_ROW_LIMIT else cand
        )
        sw = (
            scored.join(cand_side, ["query_id", id_col])
            .withColumn(
                "nprobe", F.explode(F.array(*[F.lit(p) for p in nprobes]))
            )
            .filter(F.col("cand_rn") <= F.col("nprobe"))
            .persist()
        )
        sw.count()  # consumed by the ranked top-k AND the candidate count
        if intermediates is not None:
            intermediates.extend([sw, truth])
        truth_fut.result()
    from pyspark.sql import Window

    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("score_r"), F.asc(id_col)
    )
    matched = (
        sw.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .join(F.broadcast(truth), ["query_id", id_col])
        .groupBy("nprobe")
        .agg(F.count("*").alias("matched"))
    )
    ncand = sw.groupBy("nprobe").agg(F.count("*").alias("n_candidates"))
    recall = (
        F.round(
            (F.coalesce(F.col("matched"), F.lit(0)).cast("double")
             / F.lit(float(k * nq)))
            * F.lit(1e6)
        )
        / F.lit(1e6)
        + F.lit(0.0)
    )
    curve = (
        ncand.join(matched, "nprobe", "left")
        .select("nprobe", "n_candidates", recall.alias("recall_r"))
        .orderBy("nprobe")
    )
    if intermediates is None:
        rows = curve.collect()
        cand.unpersist()
        sw.unpersist()
        truth.unpersist()
        return spark.createDataFrame(rows, curve.schema)
    return curve


def duckdb_li_probe_recall_curve(
    queries: list[tuple[int, str]],
    k: int = 10,
    nprobes: list[int] | None = None,
    c: int = 16,
    dims: int = 64,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle twin of `li_probe_recall_curve`: same lexicographic take
    centroids, per-(query, centroid) best rank, candidates at
    max(nprobe) rescored once, sweep points as filters over ONE
    scored frame, truth = the exact batch twin at k."""
    nprobes = sorted(nprobes or [1, 2, 4])
    maxp = nprobes[-1]
    nq = len(queries)
    tok_lists = _tok_lists(queries)
    width = max(len(t) for _, t in tok_lists)
    values = ", ".join(
        f"({qid}, {i}, {t!r})"
        for qid, toks in tok_lists
        for i, t in enumerate(toks)
    )
    probe_vals = ", ".join(f"({p})" for p in nprobes)
    maxes = ", ".join(
        f"max(CASE WHEN ord = {i} THEN {duckdb_dot('j.vec', 'q.qvec')} END)"
        f" AS m{i}"
        for i in range(width)
    )
    total = " + ".join(
        ["m0"]
        + [f"coalesce(m{i}, CAST(0.0 AS DOUBLE))" for i in range(1, width)]
    )
    return f"""
        WITH dt AS (
            SELECT DISTINCT {id_col}, t AS token
            FROM {table}, unnest({duckdb_tokenize(text_col)}) u(t)
        ),
        vocab AS MATERIALIZED (
            SELECT token, {DUCKDB_NORMALIZE} AS vec
            FROM (
                SELECT token, {duckdb_raw_embedding("token", dims)} AS raw
                FROM (SELECT DISTINCT token FROM dt) _v
            ) _raw
        ),
        j AS MATERIALIZED (
            SELECT dt.{id_col}, dt.token, vocab.vec
            FROM dt JOIN vocab USING (token)
        ),
        cbsel AS MATERIALIZED (
            SELECT row_number() OVER (ORDER BY token ASC) - 1 AS cid, vec
            FROM vocab ORDER BY token ASC LIMIT {c}
        ),
        assign AS MATERIALIZED (
            SELECT token, cid FROM (
                SELECT v.token, cb.cid,
                       row_number() OVER (
                           PARTITION BY v.token
                           ORDER BY {duckdb_dot('v.vec', 'cb.vec')} DESC,
                                    cb.cid ASC
                       ) AS rn
                FROM vocab v, cbsel cb
            ) WHERE rn = 1
        ),
        qt(query_id, ord, token) AS (VALUES {values}),
        qv AS MATERIALIZED (
            SELECT query_id, ord, {DUCKDB_NORMALIZE} AS qvec
            FROM (
                SELECT query_id, ord,
                       {duckdb_raw_embedding("token", dims)} AS raw
                FROM qt
            ) _qr
        ),
        proberank AS (
            SELECT query_id, cid, min(rn) AS min_rn FROM (
                SELECT q.query_id, q.ord, cb.cid,
                       row_number() OVER (
                           PARTITION BY q.query_id, q.ord
                           ORDER BY {duckdb_dot('q.qvec', 'cb.vec')} DESC,
                                    cb.cid ASC
                       ) AS rn
                FROM qv q, cbsel cb
            ) GROUP BY query_id, cid
        ),
        cand AS MATERIALIZED (
            SELECT p.query_id, j.{id_col}, min(p.min_rn) AS cand_rn
            FROM j JOIN assign USING (token)
            JOIN proberank p ON p.cid = assign.cid AND p.min_rn <= {maxp}
            GROUP BY p.query_id, j.{id_col}
        ),
        scored AS MATERIALIZED (
            SELECT rmx.query_id, rmx.{id_col},
                   round(({total}) * 1e6) / 1e6 + 0.0 AS score_r
            FROM (
                SELECT cand.query_id, j.{id_col}, {maxes}
                FROM j
                JOIN cand ON cand.{id_col} = j.{id_col}
                JOIN qv q ON q.query_id = cand.query_id
                GROUP BY cand.query_id, j.{id_col}
            ) rmx
        ),
        sw AS MATERIALIZED (
            SELECT pr.np AS nprobe, s.query_id, s.{id_col}, s.score_r
            FROM scored s
            JOIN cand USING (query_id, {id_col})
            JOIN (VALUES {probe_vals}) pr(np) ON cand.cand_rn <= pr.np
        ),
        truth AS MATERIALIZED (
            SELECT query_id, {id_col} FROM (
                SELECT m.query_id, m.{id_col},
                       row_number() OVER (
                           PARTITION BY m.query_id
                           ORDER BY round(({total}) * 1e6) / 1e6 + 0.0 DESC,
                                    m.{id_col} ASC
                       ) AS rank
                FROM (
                    SELECT q.query_id, j.{id_col}, {maxes}
                    FROM j, qv q
                    GROUP BY q.query_id, j.{id_col}
                ) m
            ) WHERE rank <= {k}
        ),
        topk AS (
            SELECT nprobe, query_id, {id_col} FROM (
                SELECT nprobe, query_id, {id_col},
                       row_number() OVER (
                           PARTITION BY nprobe, query_id
                           ORDER BY score_r DESC, {id_col} ASC
                       ) AS rk
                FROM sw
            ) WHERE rk <= {k}
        ),
        m AS (
            SELECT nprobe, count(*) AS matched
            FROM topk JOIN truth USING (query_id, {id_col})
            GROUP BY nprobe
        ),
        nc AS (
            SELECT nprobe, count(*) AS n_candidates FROM sw GROUP BY nprobe
        )
        SELECT nc.nprobe, nc.n_candidates,
               round((CAST(coalesce(m.matched, 0) AS DOUBLE)
                      / {float(k * nq)!r}) * 1e6) / 1e6 + 0.0 AS recall_r
        FROM nc LEFT JOIN m USING (nprobe)
        ORDER BY nc.nprobe
    """


def duckdb_token_cid_balance(
    c: int = 16,
    dims: int = 64,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle twin of the routed artifact's per-cid histogram: rebuild
    the lexicographic take centroids and the vocab-level argmax
    assignment (ties cid ASC — the proven pair), join to the distinct
    (doc, token) table, GROUP BY cid."""
    return f"""
        WITH dt AS (
            SELECT DISTINCT {id_col}, t AS token
            FROM {table}, unnest({duckdb_tokenize(text_col)}) u(t)
        ),
        vocab AS MATERIALIZED (
            SELECT token, {DUCKDB_NORMALIZE} AS vec
            FROM (
                SELECT token, {duckdb_raw_embedding("token", dims)} AS raw
                FROM (SELECT DISTINCT token FROM dt) _v
            ) _raw
        ),
        cbsel AS MATERIALIZED (
            SELECT row_number() OVER (ORDER BY token ASC) - 1 AS cid, vec
            FROM vocab ORDER BY token ASC LIMIT {c}
        ),
        assign AS (
            SELECT token, cid FROM (
                SELECT v.token, cb.cid,
                       row_number() OVER (
                           PARTITION BY v.token
                           ORDER BY {duckdb_dot('v.vec', 'cb.vec')} DESC,
                                    cb.cid ASC
                       ) AS rn
                FROM vocab v, cbsel cb
            ) WHERE rn = 1
        )
        SELECT CAST(cid AS INTEGER) AS cid, count(*) AS n_rows,
               count(DISTINCT token) AS n_tokens
        FROM dt JOIN assign USING (token)
        GROUP BY cid ORDER BY cid
    """


def duckdb_late_interaction_topk_batch_refined(
    queries: list[tuple[int, str]],
    k: int = 10,
    refine: int = 4,
    dims: int = 64,
    m: int = 8,
    k_cb: int = 16,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle twin of the refined two-pass: the quantized twin's
    ranking at refine·k becomes the shortlist CTE; the exact twin's
    MaxSim runs restricted to shortlisted (query, doc) pairs."""
    adc = duckdb_late_interaction_topk_batch_pq(
        queries, k=refine * k, dims=dims, m=m, k_cb=k_cb,
        table=table, id_col=id_col, text_col=text_col,
    )
    tok_lists = _tok_lists(queries)
    width = max(len(t) for _, t in tok_lists)
    values = ", ".join(
        f"({qid}, {i}, {t!r})"
        for qid, toks in tok_lists
        for i, t in enumerate(toks)
    )
    maxes = ", ".join(
        f"max(CASE WHEN ord = {i} THEN {duckdb_dot('vec', 'qvec')} END)"
        f" AS m{i}"
        for i in range(width)
    )
    total = " + ".join(
        ["m0"]
        + [f"coalesce(m{i}, CAST(0.0 AS DOUBLE))" for i in range(1, width)]
    )
    return f"""
        WITH short AS (
            SELECT query_id, {id_col} FROM ({adc})
        ),
        rdt AS (
            SELECT DISTINCT {id_col}, t AS token
            FROM {table}, unnest({duckdb_tokenize(text_col)}) u(t)
        ),
        rvocab AS (
            SELECT token, {DUCKDB_NORMALIZE} AS vec
            FROM (
                SELECT token, {duckdb_raw_embedding("token", dims)} AS raw
                FROM (SELECT DISTINCT token FROM rdt) _v
            ) _raw
        ),
        rj AS (
            SELECT rdt.{id_col}, rvocab.vec FROM rdt
            JOIN rvocab USING (token)
        ),
        rqt(query_id, ord, token) AS (VALUES {values}),
        rqv AS (
            SELECT query_id, ord, {DUCKDB_NORMALIZE} AS qvec
            FROM (
                SELECT query_id, ord,
                       {duckdb_raw_embedding("token", dims)} AS raw
                FROM rqt
            ) _qr
        ),
        rmx AS (
            SELECT q.query_id, rj.{id_col}, {maxes}
            FROM rj
            JOIN short ON short.{id_col} = rj.{id_col}
            JOIN rqv q ON q.query_id = short.query_id
            GROUP BY q.query_id, rj.{id_col}
        ),
        rs AS (
            SELECT query_id, {id_col},
                   round(({total}) * 1e6) / 1e6 + 0.0 AS score_r
            FROM rmx
        )
        SELECT * FROM (
            SELECT query_id, {id_col}, score_r,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score_r DESC, {id_col} ASC
                   ) AS INT) AS rank
            FROM rs
        ) WHERE rank <= {k}
        ORDER BY query_id, rank
    """
