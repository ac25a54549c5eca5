"""Binary quantization (BQ) — the extreme end of the storage ladder.

Completes the compression tiers below SQ8/PQ (operators/sq.py,
operators/pq.py): f32 (4·D bytes) → SQ8 (D bytes) → PQ (M bytes) →
**BQ (D bits = D/8 bytes, 32× less scan I/O than f32)**. This is the
Lucene/Elasticsearch BBQ / FAISS IndexBinaryFlat shape made public by
rank-then-refine systems: each dimension stores ONE bit (is the value
above its per-dimension threshold?), candidate generation is Hamming
distance over packed words — a single codegen'd `bit_count(a XOR b)`
per word, the SimHash trick (operators/dedup.py) repurposed for
serving — and a broadcast exact rescore restores true scores for the
shortlist.

Spark-first shape:
- train: per-dimension MEDIAN threshold from ONE aggregate pass
  (exact `percentile` — bit-identical to DuckDB's `quantile_cont`,
  verified 0/64 mismatches on float embeddings; at 100 TB swap in
  `percentile_approx`, the documented knob). Median keeps the bit
  budget balanced per dimension regardless of the embedding
  distribution — a mean threshold skews bits on heavy-tailed dims.
- encode: shuffle-free projection packing ceil(D/63) BIGINT words
  (63 bits per word — DuckDB's left-shift overflows at bit 63, the
  same carry bound the SimHash packing documents). 64-dim corpus →
  16 bytes/row at scan time.
- search: the rung owns only its score Column, the Hamming distance
  Σ bit_count(code XOR query word). Ranking it ASC (ties id ASC) and
  the exact rescore of the refine·k shortlist are the shared
  search.topk / search.topk_batch; IVF-BQ is bq_search over
  `codes.filter(ann.ivf_probe(...))`. The twins add the thresholds,
  packed codes and Hamming expression to search._duckdb_topk.

Hamming ties are broken by id, so the shortlist — and therefore the
whole composed result — is deterministic and SQL-oracle-exact
(gate: __spark_entry__.x_bq_topk).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from leann_rs_spark.operators.ann import _duckdb_ivf_ctes, _duckdb_ivf_probed
from leann_rs_spark.operators.search import (
    _duckdb_q, _duckdb_topk, _duckdb_topk_batch, topk, topk_batch,
)

_WORD_BITS = 63  # DuckDB `1::BIGINT << 63` overflows; 63 bits/word both engines


def _n_words(dims: int) -> int:
    return (dims + _WORD_BITS - 1) // _WORD_BITS


def bq_train(
    vectors: DataFrame,
    dims: int,
    vec_col: str = "embedding",
) -> list[float]:
    """Per-dimension median thresholds — one aggregate pass, plan
    literals thereafter (the sq8_train convention)."""
    aggs = [
        F.expr(f"percentile(element_at({vec_col}, {j + 1}), 0.5)").alias(f"t{j}")
        for j in range(dims)
    ]
    row = vectors.agg(*aggs).first()
    return [float(row[f"t{j}"]) for j in range(dims)]


def bq_encode_col(vec: Column, thresholds: list[float]) -> Column:
    """array<bigint> of ceil(D/63) packed words; bit (j mod 63) of word
    (j div 63) is set when vec[j+1] > thresholds[j]. Unrolled OR chain:
    thresholds are literals, so the whole pack stays inside one
    codegen'd projection — no Python, no shuffle."""
    dims = len(thresholds)
    words = []
    for w in range(_n_words(dims)):
        acc = F.lit(0).cast("long")
        for b in range(min(_WORD_BITS, dims - w * _WORD_BITS)):
            j = w * _WORD_BITS + b  # 0-based dim
            acc = acc.bitwiseOR(
                F.when(
                    F.element_at(vec, j + 1).cast("double")
                    > F.lit(thresholds[j]),
                    F.lit(1 << b).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            )
        words.append(acc)
    return F.array(*words)


def bq_encode(
    vectors: DataFrame,
    thresholds: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bcode) — shuffle-free projection; D/8 bytes per row at rest."""
    return vectors.select(
        id_col, bq_encode_col(F.col(vec_col), thresholds).alias("bcode")
    )


def bq_query_words(query_vector: list[float], thresholds: list[float]) -> list[int]:
    """Driver-side query packing — pure integer math, trivially
    engine-exact (mirrors the reference's driver-side query embed)."""
    dims = len(thresholds)
    words = [0] * _n_words(dims)
    for j, (v, t) in enumerate(zip(query_vector, thresholds)):
        if float(v) > t:
            words[j // _WORD_BITS] |= 1 << (j % _WORD_BITS)
    return words


def bq_hamming_col(bcode: Column, query_words: list[int]) -> Column:
    """Σ_w bit_count(bcode[w] XOR qw_w) — one codegen'd expression."""
    h = F.lit(0)
    for w, qw in enumerate(query_words):
        h = h + F.bit_count(
            F.element_at(bcode, w + 1).bitwiseXOR(F.lit(qw).cast("long"))
        )
    return h


def bq_search(
    codes: DataFrame,
    thresholds: list[float],
    query_vector: list[float],
    k: int = 10,
    refine: int = 4,
    vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hamming-shortlist → exact-rescore top-k.

    refine·k candidates by Hamming distance (ASC, id ASC — integer
    distance, so the shortlist is deterministic), then the true
    dot-product top-k over the shortlist. refine == 0 returns the raw
    Hamming ranking (diagnostics only — scores are distances)."""
    hamming = bq_hamming_col(
        F.col("bcode"), bq_query_words(query_vector, thresholds)
    )
    return topk(
        codes, hamming.alias("hamming"), query_vector, k, refine, vectors,
        id_col, vec_col, ascending=True,
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twin — derives thresholds, codes, query words, Hamming
# shortlist, and the exact rescore from the parquet table alone.
# ---------------------------------------------------------------------------

def _duckdb_pack(vec: str, dims: int) -> str:
    """bq_encode_col's twin: one packed word per array slot, the same
    63-bit layout, against the thresholds `s.thr`."""
    words = []
    for w in range(_n_words(dims)):
        lo = w * _WORD_BITS + 1
        hi = min((w + 1) * _WORD_BITS, dims)
        words.append(
            f"list_reduce(list_transform(generate_series({lo}, {hi}),"
            f" j -> CASE WHEN {vec}[j]::double > s.thr[j]"
            f" THEN (1::BIGINT << (j - {lo})) ELSE 0::BIGINT END),"
            f" (a, x) -> a | x)"
        )
    return "[" + ", ".join(words) + "]"


def _duckdb_hamming(a: str, b: str, dims: int) -> str:
    return " + ".join(
        f"bit_count(xor({a}[{w + 1}], {b}[{w + 1}]))"
        for w in range(_n_words(dims))
    )


def _duckdb_bq_ctes(dims: int, table: str, id_col: str, vec_col: str) -> str:
    """bq_train's thresholds `s.thr` (per-dim medians) and the packed
    codes (id, bcode) of every row."""
    return f"""
        dims_t AS (SELECT jj.i AS j FROM unnest(generate_series(1, {dims})) jj(i)),
        med AS (
            SELECT d.j, quantile_cont(e.{vec_col}[d.j]::double, 0.5) AS m
            FROM {table} e, dims_t d GROUP BY d.j
        ),
        s AS (SELECT list(m ORDER BY j) AS thr FROM med),
        codes AS (
            SELECT e.{id_col}, {_duckdb_pack(f"e.{vec_col}", dims)} AS bcode
            FROM {table} e, s
        )"""


def duckdb_bq_search(
    query_vec_id: int,
    k: int,
    refine: int = 4,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of bq_train → bq_encode → bq_search(refine),
    query = the embedding of `query_vec_id` (the q1 convention)."""
    return _duckdb_topk(
        [
            _duckdb_q(table, id_col, vec_col, query_vec_id),
            _duckdb_bq_ctes(dims, table, id_col, vec_col),
            f"qw AS (SELECT {_duckdb_pack('q.qv', dims)} AS w FROM q, s)",
        ],
        "codes r, qw", _duckdb_hamming("r.bcode", "qw.w", dims), k, refine,
        table, id_col, vec_col, name="hamming", ascending=True,
    )


def duckdb_ivfbq_search(
    query_vec_id: int,
    k: int,
    nprobe: int,
    n_centroids: int,
    refine: int = 4,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of bq_search over the ivf_probe-filtered codes: the
    Hamming ranking restricted to the probed rows of the IVF twin."""
    return _duckdb_topk(
        _duckdb_ivf_ctes(
            n_centroids, table, id_col, vec_col, nprobe,
            query_vec_id=query_vec_id,
        )
        + [
            _duckdb_bq_ctes(dims, table, id_col, vec_col),
            f"qw AS (SELECT {_duckdb_pack('q.qv', dims)} AS w FROM q, s)",
        ],
        "codes r" + _duckdb_ivf_probed("r", id_col) + ", qw",
        _duckdb_hamming("r.bcode", "qw.w", dims), k, refine,
        table, id_col, vec_col, name="hamming", ascending=True,
    )


def bq_search_batch(
    codes: DataFrame,
    thresholds: list[float],
    queries: DataFrame,
    k: int = 10,
    refine: int = 4,
    vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    prune_partitions: bool = True,
) -> DataFrame:
    """Batch-serving BQ (the batch_search twin over bits): query
    vectors are packed IN-PLAN with the same bq_encode_col (thresholds
    are literals — no driver round), the Q-row code table broadcasts
    into the corpus scan (Q×N Hamming pairs map-side, corpus never
    shuffled), an Arrow local prune caps the per-query ranking shuffle
    at P·(refine·k)·Q rows, and a broadcast candidate set drives the
    exact rescore. → (query_id, id, score, rank)."""
    n_words = _n_words(len(thresholds))
    qcodes = queries.select(
        query_id_col,
        bq_encode_col(F.col(query_vec_col), thresholds).alias("__qc"),
    )
    ham = F.lit(0)
    for w in range(n_words):
        ham = ham + F.bit_count(
            F.element_at(F.col("bcode"), w + 1).bitwiseXOR(
                F.element_at(F.col("__qc"), w + 1)
            )
        )
    scored = codes.join(F.broadcast(qcodes)).select(
        query_id_col, id_col, ham.alias("hamming")
    )
    return topk_batch(
        scored, k, refine, vectors, queries, id_col, vec_col,
        query_id_col, query_vec_col, ascending=True,
        prune_partitions=prune_partitions,
    ).orderBy(query_id_col, "rank")


def duckdb_bq_search_batch(
    n_queries: int,
    k: int,
    refine: int = 4,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of bq_search_batch, queries = the first `n_queries`
    embeddings (the q2 convention)."""
    scored = f"""
            SELECT qc.query_id, c.{id_col},
                   {_duckdb_hamming("c.bcode", "qc.qcode", dims)} AS hamming
            FROM codes c, qcodes qc"""
    return _duckdb_topk_batch(
        [
            _duckdb_bq_ctes(dims, table, id_col, vec_col),
            _duckdb_q(table, id_col, vec_col, n_queries=n_queries),
            f"""qcodes AS (
            SELECT q.query_id, {_duckdb_pack("q.qv", dims)} AS qcode
            FROM q, s
        )""",
        ],
        scored, k, refine, table, id_col, vec_col, name="hamming",
        ascending=True,
    )
