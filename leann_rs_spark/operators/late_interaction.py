"""ColBERT-style late-interaction retrieval (MaxSim) over token-level
hash embeddings.

No reference counterpart (the reference scores one vector per passage —
SURVEY §2 Q1-Q3); this is the multi-vector retrieval paradigm
(Khattab & Zaharia, ColBERT, SIGIR 2020): score(q, d) =
Σ_{t∈q} max_{u∈d} <e_t, e_u> — each query token finds its best-matching
document token, so partial/term-level matches rank above single-vector
pooling's averaged-away signal.

The document side is a TOKEN-LEVEL embedding table (`token_embeddings`;
persisted as the "token index" by catalog.build_token_index): distinct
(doc, token) pairs joined to a VOCABULARY-sized embedding stage, so
embedding cost ∝ |vocab|, not Σ|doc tokens|.

One MaxSim core serves every batch rung. A rung supplies only a SCORE
SOURCE; the query frame, the reduction and the rank tail are shared:
- `_token_rows` validates the batch and `_query_token_vecs` builds the
  broadcast (query_id, ord, qvec) frame;
- `_pivot_scores` is the parity-critical reduction: per-query-token
  maxima pivoted by ordinal under ONE wide exchange on (query_id, doc),
  fixed-order m0 + coalesce(m_i, 0.0) sum (float-sum order is the
  classic cross-engine hash breaker), 6-dp round;
- `search.topk_batch` ranks per query, ties id ASC.
Score sources: a token-score frame — exact (`_vocab_qtoken_scores`) or
PQ-ADC (distinct-code lookup sums) — or a (query_id, doc) pair frame
rescored by `_exact_maxsim_scores`: the refined rung's ADC shortlist,
the pruned rung's probed-cid candidates (PLAID-style partition pruning,
`_probed_rows`) and the probe-recall sweep's max-probe candidates. The
single-query `late_interaction_topk` keeps its own columnar
TakeOrderedAndProject plan.

The DuckDB twins are built from the same fragments: `_duckdb_token_ctes`
(dt, vocab, j), `_duckdb_query_ctes` (qt, qv), `_duckdb_take` /
`_duckdb_routing_ctes` (cbsel, assign), `_duckdb_probe_ctes`,
`_duckdb_adc_ctes`, `_duckdb_maxsim` (the twin of `_pivot_scores`) and
`_duckdb_li_rank` / `_duckdb_li_topk`.

Dots are bit-exact cross-engine: the hash embeddings are integer weight
sums /1000 then L2-normalized with sequential folds
(operators/embedder.py), and `functions/vector.dot`, `duckdb_dot` and
`_py_dot` fold in index order — identical IEEE sequences everywhere.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, functions as F, types as T

from leann_rs_spark.functions.text import duckdb_tokenize, tokenize
from leann_rs_spark.functions.vector import dot, duckdb_dot
from leann_rs_spark.operators.ann import (
    _duckdb_sweep, _round6, _sweep_curve, ivf_assign,
)
from leann_rs_spark.operators.embedder import (
    DUCKDB_NORMALIZE,
    duckdb_raw_embedding,
    hash_embedding,
    py_hash_embedding,
)
from leann_rs_spark.operators.pq import (
    _duckdb_l2_dist2, _split_subspaces, pq_encode,
)
from leann_rs_spark.operators.search import topk_batch
from leann_rs_spark.utils import local_frame

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
    vocab = _vocab_vecs(dt, dims, "vec")
    return dt.join(vocab, "token").select(id_col, "token", "vec")


def _vocab_vecs(tokens: DataFrame, dims: int, name: str) -> DataFrame:
    """→ (token, <name>): the hash embedding of every distinct token —
    the vocabulary-sized embedding stage."""
    return tokens.select("token").distinct().select(
        "token", hash_embedding(F.col("token"), dims).alias(name)
    )


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
    vocab = _vocab_vecs(dt, dims, "__vv")
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
    # fixed addition order m0 + m1 + …, matches the twin
    total = sum((F.col(f"m{i}") for i in range(1, len(toks))), F.col("m0"))
    return (
        scored.select(id_col, _round6(total).alias("score_r"))
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
    """Oracle twin: the batch twin over the one-query batch, re-ranked
    score_r DESC, id ASC. With one query every per-token maximum is
    non-NULL, so the batch's coalesce sum is this form's plain
    fixed-order sum m0 + m1 + …"""
    batch = duckdb_late_interaction_topk_batch(
        [(0, query)], k, dims, table, id_col, text_col
    )
    return f"""
        SELECT {id_col}, score_r FROM ({batch})
        ORDER BY score_r DESC, {id_col} ASC
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
    return mx.select("query_id", id_col, _round6(total).alias("score_r"))


def late_interaction_topk_batch(
    token_index: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    dims: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (query_id, id_col, score_r, rank): per-query MaxSim top-k for
    a whole query batch over the PERSISTED token index — the q2-shape
    serving form of `late_interaction_topk`. The index is scanned ONCE
    for the batch, so per-query cost amortizes like the reference's
    batch ANN path (q2_ivf_batch_topk).

    Score source: `_vocab_qtoken_scores`, broadcast-joined on `token`
    into the (id_col, token) index scan (no `vec` read). The rest is
    the core: `_pivot_scores` (ONE wide exchange on (query_id, id_col)
    under map-side combine) and `search.topk_batch` (a partial
    WindowGroupLimit below the query_id exchange) — pinned by
    test_batch_plan_one_wide_shuffle_over_token_index.

    A columnar variant (query vectors as Σ|q| dot COLUMNS, one
    exchange on doc) was measured SLOWER in the bench harness at the
    3-query serving batch (4.7 → 6.8 s at sf0.1) — the wide HOF-fold
    aggregation costs more than the row expansion it avoids — and is
    kept out."""
    rows = _token_rows(queries)
    width = 1 + max(i for _, i, _ in rows)
    qv = _query_token_vecs(token_index.sparkSession, rows, dims)
    scores = _vocab_qtoken_scores(token_index, qv, dims)
    scored = _pivot_scores(
        token_index.select(id_col, "token").join(
            F.broadcast(scores), "token"
        ),
        F.col("__s"),
        width,
        id_col,
    )
    return topk_batch(scored, k, id_col=id_col).orderBy("query_id", "rank")


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
    rows = _token_rows(queries)
    return _duckdb_li_topk(
        _duckdb_token_ctes(dims, table, id_col, text_col)
        + _duckdb_query_ctes(rows, dims),
        _duckdb_maxsim(rows, duckdb_dot("vec", "qvec"), "j, qv", id_col),
        k,
        id_col,
    )


def token_subcodebooks(token_index: DataFrame, m: int = 8, k_cb: int = 16):
    """Deterministic take-policy PQ codebook over the token index's
    VOCABULARY: sub-centroid j of subspace i is the i-th slice of
    `token_take_centroids`' j-th vector, so the oracle rebuilds it from
    the table alone, like pq.take_subcodebooks. KB-sized Python nested
    list → plan literals."""
    return _split_subspaces(token_take_centroids(token_index, k_cb), m)


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

    Score source: each query token's dot against every sub-centroid is
    a DRIVER-side lookup table (|q_tokens|·M·K `_py_dot`s, bit-exact
    with the twin's sub-dots) on the broadcast query frame; a code's
    score is M lookups summed in subspace order (the m-ascending fold
    of the twin's `list(sd ORDER BY m)` reduce). Then the shared
    core."""
    rows = _token_rows(queries)
    width = 1 + max(i for _, i, _ in rows)
    m = len(codebook)
    d = len(codebook[0][0])
    luts = []
    for qid, i, t in rows:
        q = py_hash_embedding(t, dims)
        lut = [
            [_py_dot(q[mi * d : (mi + 1) * d], cv) for cv in codebook[mi]]
            for mi in range(m)
        ]
        luts.append((qid, i, lut))
    qv = local_frame(
        codes.sparkSession,
        luts,
        T.StructType.fromDDL(
            "query_id int, ord int, lut array<array<double>>"
        ),
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
    return topk_batch(scored, k, id_col=id_col).orderBy("query_id", "rank")


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
    """Oracle twin of the quantized batch: the ADC token scores
    (`_duckdb_adc_ctes`) through the exact batch twin's pivot/sum/rank
    tail."""
    rows = _token_rows(queries)
    return _duckdb_li_topk(
        _duckdb_token_ctes(dims, table, id_col, text_col)
        + _duckdb_query_ctes(rows, dims)
        + _duckdb_adc_ctes(m, k_cb, dims, id_col),
        _duckdb_maxsim(rows, "adc", "pairadc", id_col),
        k,
        id_col,
    )


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
    vocab = _vocab_vecs(token_index, dims, "__vv")
    return vocab.crossJoin(F.broadcast(qv)).select(
        "token", "query_id", "ord",
        dot(F.col("__vv"), F.col("qvec")).alias("__s"),
    )


def _token_rows(queries: list[tuple[int, str]]) -> list[tuple[int, int, str]]:
    """Tokenize a query batch driver-side into (query_id, ord, token)
    rows — the shared validation of every batch form, run before any
    job. Raises ValueError on an empty batch, on a repeated query_id
    (its queries' tokens would merge into one MaxSim sum) and on a
    query with no tokens."""
    if not queries:
        raise ValueError("empty query batch")
    ids = [qid for qid, _ in queries]
    if len(set(ids)) != len(ids):
        dup = sorted({qid for qid in ids if ids.count(qid) > 1})
        raise ValueError(f"duplicate query_id(s) {dup} in the batch")
    rows: list[tuple[int, int, str]] = []
    for qid, q in queries:
        toks = query_tokens(q)
        if not toks:
            raise ValueError(f"query {q!r} has no tokens")
        rows += [(qid, i, t) for i, t in enumerate(toks)]
    return rows


def _query_token_vecs(
    spark, rows: list[tuple[int, int, str]], dims: int
) -> DataFrame:
    """→ (query_id, ord, qvec): the batch's query-token vectors — the
    `_token_rows` as a LocalTableScan, hash-embedded in one
    projection."""
    qt = local_frame(
        spark, rows, T.StructType.fromDDL("query_id int, ord int, token string")
    )
    return qt.select(
        "query_id", "ord", hash_embedding(F.col("token"), dims).alias("qvec")
    )


def _py_dot(a: list[float], b: list[float]) -> float:
    """Index-order fold over Python floats — the same IEEE sequence as
    functions/vector.dot and duckdb_dot, so driver-side scores (ADC
    lookup tables, probe ranks) are bit-exact with the SQL twins'."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _exact_maxsim_scores(
    token_index: DataFrame,
    pairs: DataFrame,
    queries: list[tuple[int, str]],
    dims: int,
    id_col: str,
    pair_rows: int | None = None,
) -> DataFrame:
    """→ (query_id, id_col, score_r): exact MaxSim restricted to a
    (query_id, id_col) candidate-pair frame — the pair-frame score
    source. The pair frame joins into the token index first, so only
    candidate docs' token rows reach `_pivot_scores`.

    `pair_rows` size-guards the pair join's physical form: None means
    the CALLER proves the frame bounded by construction (the refined
    shortlist is refine·k·|queries| rows) and it broadcasts; a
    measured count ≤ PAIR_BROADCAST_ROW_LIMIT broadcasts; above the
    limit the join runs as a plain shuffle on `id_col` — same result,
    no broadcast OOM hazard when routing fails to prune."""
    rows = _token_rows(queries)
    width = 1 + max(i for _, i, _ in rows)
    qv = _query_token_vecs(token_index.sparkSession, rows, dims)
    # pair join first (pruning — only candidate docs survive), THEN
    # the query-token join rides the already-pruned rows
    bounded = pair_rows is None or pair_rows <= PAIR_BROADCAST_ROW_LIMIT
    pair_side = F.broadcast(pairs) if bounded else pairs
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
    scored = _exact_maxsim_scores(
        token_index, shortlist, queries, dims, id_col
    )
    return topk_batch(scored, k, id_col=id_col).orderBy("query_id", "rank")


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
    cent_df = local_frame(
        token_index.sparkSession,
        list(enumerate(centroids)),
        T.StructType.fromDDL("centroid_id int, centroid_vec array<double>"),
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
    best: dict[tuple[int, int], int] = {}
    for qid, _, t in _token_rows(queries):
        q = py_hash_embedding(t, dims)
        scored = sorted(
            (-_py_dot(q, cv), cid) for cid, cv in enumerate(centroids)
        )
        for rank, (_, cid) in enumerate(scored, 1):
            key = (qid, cid)
            best[key] = min(best.get(key, 1 << 30), rank)
    return sorted((qid, cid, rn) for (qid, cid), rn in best.items())


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
    Late Interaction Retrieval", CIKM 2022) re-expressed relationally,
    the late-interaction IVF. Each query token probes its nprobe
    nearest routing centroids driver-side (`probe_query_cid_ranks`; the
    codebook is KB-sized), and only probed `cid` partitions of the
    partitionBy("cid") artifact are read (`_probed_rows`, pinned by
    test): candidate-generation scan bytes drop to nprobe/C. Candidate
    docs own ≥1 token in a probed centroid of that query, and
    `_exact_maxsim_scores` rescores only those (query, doc) pairs.

    The pair frame is materialized ONCE (eager localCheckpoint); its
    count picks the rescore join's physical form (broadcast ≤
    PAIR_BROADCAST_ROW_LIMIT, else a shuffle on the doc id — routing
    that fails to prune degrades to a slow query, not an OOM). Expects
    the `cid` column (catalog.build_token_index(n_centroids=...))."""
    probed = [
        (qid, cid)
        for qid, cid, rn in probe_query_cid_ranks(queries, centroids, dims)
        if rn <= nprobe
    ]
    cand = (
        _probed_rows(token_index, probed, "query_id int, cid int")
        .select("query_id", id_col)
        .distinct()
        .localCheckpoint(eager=True)
    )
    scored = _exact_maxsim_scores(
        token_index.select(id_col, "token", "vec"), cand, queries, dims,
        id_col, pair_rows=cand.count(),
    )
    return topk_batch(scored, k, id_col=id_col).orderBy("query_id", "rank")


def _probed_rows(token_index: DataFrame, probe: list, ddl: str) -> DataFrame:
    """Token rows joined to the driver-side (query_id, cid, ...) probe
    rows. The `cid` isin filter reads only probed partitions of a
    partitionBy("cid") artifact (PLAID-style partition pruning); the
    probe rows broadcast as a LocalTableScan."""
    probe_df = local_frame(
        token_index.sparkSession, probe, T.StructType.fromDDL(ddl)
    )
    return token_index.filter(
        F.col("cid").isin(sorted({r[1] for r in probe}))
    ).join(F.broadcast(probe_df), "cid")


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
    take centroids and max-inner-product routing (`_duckdb_routing_ctes`),
    same (query, doc) candidates at `nprobe` (`_duckdb_probe_ctes`),
    then the exact twin's MaxSim restricted to candidates."""
    rows = _token_rows(queries)
    return _duckdb_li_topk(
        _duckdb_token_ctes(dims, table, id_col, text_col)
        + _duckdb_routing_ctes(c)
        + _duckdb_query_ctes(rows, dims)
        + _duckdb_probe_ctes(nprobe, id_col),
        _duckdb_exact_maxsim(rows, "cand", id_col),
        k,
        id_col,
    )


def li_probe_recall_curve(
    token_index: DataFrame,
    centroids: list[list[float]],
    queries: list[tuple[int, str]],
    k: int = 10,
    nprobes: list[int] | None = None,
    dims: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (nprobe, n_candidates, recall_r), a materialized curve: the
    knob-picking diagnostic for centroid-routed late interaction —
    recall@k vs exact MaxSim, and the candidate count it costs, per
    probe width. The x_ivf_recall analog for the multi-vector rung.

    The late-interaction score source of ann._sweep_curve: exact
    scores are nprobe-INDEPENDENT, so the candidates at max(nprobes)
    are rescored ONCE with each pair's best probe rank as its covering
    point, and every sweep point ranks in the core's one window.
    Ground truth is one exact batch run, and recall is matched /
    |truth| (micro-averaged, as ann.ivf_recall_curve): an index with
    fewer than k docs still reaches 1.0 at a covering probe.
    n_candidates counts the candidate pairs each probe width admits."""
    nprobes = sorted(nprobes or [1, 2, 4])
    ranks = [
        r
        for r in probe_query_cid_ranks(queries, centroids, dims)
        if r[2] <= nprobes[-1]
    ]
    plain = token_index.select(id_col, "token", "vec")
    cand = (
        _probed_rows(token_index, ranks, "query_id int, cid int, min_rn int")
        .groupBy("query_id", id_col)
        .agg(F.min("min_rn").alias("need"))
        .persist()
    )
    # cand is a multi-consumer boundary (pairs input, rank join, the
    # candidate count); its measured count drives the broadcast
    # size-guard on BOTH candidate joins below — an unpruning codebook
    # makes cand Q×corpus-sized. The exact truth shares no lineage with
    # the candidates, so its materializing count runs on a background
    # thread (guide §2.6 overlap): its jobs back-fill executors idled
    # by the candidate barrier (FIFO scheduling). Its row count is the
    # recall denominator.
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
        n_truth = truth_fut.result()
    scored = _exact_maxsim_scores(
        plain, cand.select("query_id", id_col), queries, dims, id_col,
        pair_rows=n_pairs,
    )
    cand_side = (
        F.broadcast(cand) if n_pairs <= PAIR_BROADCAST_ROW_LIMIT else cand
    )
    rows = scored.join(cand_side, ["query_id", id_col]).select(
        "query_id", id_col, "need", F.col("score_r").alias("score")
    )
    return _sweep_curve(
        {"recall_r": rows}, truth, n_truth, k, nprobes, "nprobe",
        [cand, truth], id_col, cost=cand,
    )


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
    max(nprobe) rescored once with their best rank as the covering
    point, truth = the exact batch twin at k, into ann._duckdb_sweep
    (n_candidates = the candidate pairs per point)."""
    nprobes = sorted(nprobes or [1, 2, 4])
    rows = _token_rows(queries)
    exact = _duckdb_maxsim(rows, duckdb_dot("vec", "qvec"), "j, qv", id_col)
    rescored = _duckdb_exact_maxsim(rows, "cand", id_col)
    return _duckdb_sweep(
        _duckdb_token_ctes(dims, table, id_col, text_col)
        + _duckdb_routing_ctes(c)
        + _duckdb_query_ctes(rows, dims)
        + _duckdb_probe_ctes(nprobes[-1], id_col)
        + [
            f"""scored AS (
            SELECT s.query_id, s.{id_col}, cand.need, s.score_r AS score
            FROM ({rescored}) s JOIN cand USING (query_id, {id_col})
        )""",
            f"""truth AS MATERIALIZED (
            SELECT query_id, {id_col}
            FROM ({_duckdb_li_rank(exact, k, id_col)})
        )""",
        ],
        {"recall_r": "scored"}, "truth", k, nprobes, "nprobe", id_col,
        cost="cand",
    )


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
    ctes = _duckdb_token_ctes(dims, table, id_col, text_col)
    ctes += _duckdb_routing_ctes(c)
    return f"""
        WITH {", ".join(ctes)}
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
    ranking at refine·k becomes the `short` CTE over the same token,
    query and ADC CTEs; the exact twin's MaxSim runs restricted to
    shortlisted (query, doc) pairs."""
    rows = _token_rows(queries)
    adc = _duckdb_maxsim(rows, "adc", "pairadc", id_col)
    short = f"""short AS (
            SELECT query_id, {id_col}
            FROM ({_duckdb_li_rank(adc, refine * k, id_col)})
        )"""
    return _duckdb_li_topk(
        _duckdb_token_ctes(dims, table, id_col, text_col)
        + _duckdb_query_ctes(rows, dims)
        + _duckdb_adc_ctes(m, k_cb, dims, id_col)
        + [short],
        _duckdb_exact_maxsim(rows, "short", id_col),
        k,
        id_col,
    )



# ---------------------------------------------------------------------------
# The twins' shared CTE fragments
# ---------------------------------------------------------------------------


def _duckdb_token_ctes(
    dims: int, table: str, id_col: str, text_col: str
) -> list[str]:
    """dt / vocab / j(id_col, token, vec): the token index recomputed
    inline — distinct (doc, token) pairs joined to a vocabulary-sized
    embedding stage (`token_embeddings`)."""
    return [
        f"""dt AS (
            SELECT DISTINCT {id_col}, t AS token
            FROM {table}, unnest({duckdb_tokenize(text_col)}) u(t)
        )""",
        f"""vocab AS MATERIALIZED (
            SELECT token, {DUCKDB_NORMALIZE} AS vec
            FROM (
                SELECT token, {duckdb_raw_embedding("token", dims)} AS raw
                FROM (SELECT DISTINCT token FROM dt) _v
            ) _raw
        )""",
        f"""j AS (
            SELECT dt.{id_col}, dt.token, vocab.vec
            FROM dt JOIN vocab USING (token)
        )""",
    ]


def _duckdb_query_ctes(
    rows: list[tuple[int, int, str]], dims: int
) -> list[str]:
    """qt / qv(query_id, ord, qvec): the twin of `_query_token_vecs`."""
    values = ", ".join(f"({qid}, {i}, {t!r})" for qid, i, t in rows)
    return [
        f"qt(query_id, ord, token) AS (VALUES {values})",
        f"""qv AS MATERIALIZED (
            SELECT query_id, ord, {DUCKDB_NORMALIZE} AS qvec
            FROM (
                SELECT query_id, ord,
                       {duckdb_raw_embedding("token", dims)} AS raw
                FROM qt
            ) _qr
        )""",
    ]


def _duckdb_take(n: int) -> str:
    """cbsel(cid, vec): the first n vocabulary vectors in token order —
    `token_take_centroids`' rows."""
    return f"""cbsel AS MATERIALIZED (
            SELECT row_number() OVER (ORDER BY token ASC) - 1 AS cid, vec
            FROM vocab ORDER BY token ASC LIMIT {n}
        )"""


def _duckdb_routing_ctes(c: int) -> list[str]:
    """cbsel / assign(token, cid): the c take centroids and the
    vocab-level max-inner-product routing, ties cid ASC
    (`assign_token_cids`)."""
    return [
        _duckdb_take(c),
        f"""assign AS (
            SELECT token, cid FROM (
                SELECT v.token, cb.cid,
                       row_number() OVER (
                           PARTITION BY v.token
                           ORDER BY {duckdb_dot('v.vec', 'cb.vec')} DESC,
                                    cb.cid ASC
                       ) AS rn
                FROM vocab v, cbsel cb
            ) WHERE rn = 1
        )""",
    ]


def _duckdb_probe_ctes(maxp: int, id_col: str) -> list[str]:
    """proberank(query_id, cid, min_rn) — the twin of
    `probe_query_cid_ranks` — and cand(query_id, id_col, need): the
    docs owning a token routed to a centroid probed at `maxp`, with
    the best probe rank that reaches them."""
    return [
        f"""proberank AS (
            SELECT query_id, cid, min(rn) AS min_rn FROM (
                SELECT q.query_id, cb.cid,
                       row_number() OVER (
                           PARTITION BY q.query_id, q.ord
                           ORDER BY {duckdb_dot('q.qvec', 'cb.vec')} DESC,
                                    cb.cid ASC
                       ) AS rn
                FROM qv q, cbsel cb
            ) GROUP BY query_id, cid
        )""",
        f"""cand AS MATERIALIZED (
            SELECT p.query_id, j.{id_col}, min(p.min_rn) AS need
            FROM j JOIN assign USING (token)
            JOIN proberank p ON p.cid = assign.cid AND p.min_rn <= {maxp}
            GROUP BY p.query_id, j.{id_col}
        )""",
    ]


def _duckdb_adc_ctes(m: int, k_cb: int, dims: int, id_col: str) -> list[str]:
    """cbsel … pairadc(query_id, ord, id_col, token, adc): the quantized
    twin's token scores — the k_cb take codebook, argmin encode (dist
    fold ≡ pq's proven pair, ties cid ASC), ADC as per-subspace dots
    summed in m order (list(sd ORDER BY m) reduce ≡ the Spark LUT
    fold)."""
    d = dims // m
    dist = _duckdb_l2_dist2("s.sub", "cb.cv", d)
    qsub = f"q.qvec[t.m * {d} + 1 : (t.m + 1) * {d}]"
    return [
        _duckdb_take(k_cb),
        f"""cbrows AS MATERIALIZED (
            SELECT mm.i - 1 AS m, cid,
                   vec[(mm.i - 1) * {d} + 1 : mm.i * {d}] AS cv
            FROM cbsel, unnest(generate_series(1, {m})) mm(i)
        )""",
        f"""subs AS (
            SELECT {id_col}, token, mm.i - 1 AS m,
                   vec[(mm.i - 1) * {d} + 1 : mm.i * {d}] AS sub
            FROM j, unnest(generate_series(1, {m})) mm(i)
        )""",
        f"""tcodes AS MATERIALIZED (
            SELECT {id_col}, token, m, cid FROM (
                SELECT s.{id_col}, s.token, s.m, cb.cid,
                       row_number() OVER (
                           PARTITION BY s.{id_col}, s.token, s.m
                           ORDER BY {dist} ASC, cb.cid ASC
                       ) AS rn
                FROM subs s JOIN cbrows cb ON cb.m = s.m
            ) WHERE rn = 1
        )""",
        f"""pairsub AS (
            SELECT q.query_id, q.ord, t.{id_col}, t.token, t.m,
                   {duckdb_dot(qsub, "cb.cv")} AS sd
            FROM tcodes t JOIN cbrows cb ON cb.m = t.m AND cb.cid = t.cid,
                 qv q
        )""",
        f"""pairadc AS (
            SELECT query_id, ord, {id_col}, token,
                   list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                                    list(sd ORDER BY m)),
                       (a, x) -> a + x) AS adc
            FROM pairsub GROUP BY query_id, ord, {id_col}, token
        )""",
    ]


def _duckdb_exact_maxsim(
    rows: list[tuple[int, int, str]], pairs: str, id_col: str
) -> str:
    """The twin of `_exact_maxsim_scores`: exact MaxSim over the token
    rows of the docs in the `pairs` CTE (query_id, id_col, ...)."""
    return _duckdb_maxsim(
        rows,
        duckdb_dot("vec", "qvec"),
        f"j JOIN {pairs} USING ({id_col}) JOIN qv USING (query_id)",
        id_col,
    )


def _duckdb_maxsim(
    rows: list[tuple[int, int, str]], score: str, source: str, id_col: str
) -> str:
    """SELECT (query_id, id_col, score_r): the twin of `_pivot_scores` —
    maxima of the SQL `score` per query-token ordinal over the FROM
    item `source`, fixed-order m0 + coalesce(m_i, 0.0) sum, 6-dp
    round(x·1e6)/1e6 + 0.0."""
    width = 1 + max(i for _, i, _ in rows)
    maxes = ", ".join(
        f"max(CASE WHEN ord = {i} THEN {score} END) AS m{i}"
        for i in range(width)
    )
    total = " + ".join(
        ["m0"]
        + [f"coalesce(m{i}, CAST(0.0 AS DOUBLE))" for i in range(1, width)]
    )
    return f"""
            SELECT query_id, {id_col},
                   round(({total}) * 1e6) / 1e6 + 0.0 AS score_r
            FROM (
                SELECT query_id, {id_col}, {maxes}
                FROM {source} GROUP BY query_id, {id_col}
            ) mx"""


def _duckdb_li_rank(scored: str, k: int, id_col: str) -> str:
    """The per-query top-k of a (query_id, id_col, score_r) SELECT —
    ties id ASC, rank INT like Spark's row_number."""
    return f"""
            SELECT * FROM (
                SELECT query_id, {id_col}, score_r,
                       CAST(row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY score_r DESC, {id_col} ASC
                       ) AS INT) AS rank
                FROM ({scored})
            ) WHERE rank <= {k}"""


def _duckdb_li_topk(ctes: list[str], scored: str, k: int, id_col: str) -> str:
    """A batch twin's statement: the `ctes`, then `scored` ranked per
    query → (query_id, id_col, score_r, rank), ordered."""
    return f"""
        WITH {", ".join(ctes)}
        {_duckdb_li_rank(scored, k, id_col)}
        ORDER BY query_id, rank
    """
