"""Scalar quantization (SQ8) — the middle compression tier.

Completes the storage ladder the reference leaves at one rung (full
f32 vectors, src/index/embeddings.rs; its `is_compact` mode stores
NOTHING and re-embeds): f32 (4·D bytes, exact) → **SQ8 (D bytes,
~0.2 % cosine error)** → PQ (M bytes, operators/pq.py). SQ8 is the
FAISS ScalarQuantizer/QT_8bit shape: per-dimension min/max learned
from the corpus, each component stored as one byte

    q_j = floor(clamp((v_j − min_j) / (max_j − min_j), 0, 1) · 255)

and scored against the dequantized vector

    v̂_j = min_j + (q_j · (max_j − min_j)) / 255.

Spark-first shape, same as the PQ module: the stats are ONE aggregate
pass (2·D doubles — plan literals thereafter) and encode is a
shuffle-free projection. floor (not round) keeps the quantizer
reproducible across engines — round's half-way rule differs between
them; endpoints map exactly (v = min → 0, v = max → 255).

As a rung of the search ladder SQ8 owns only its score Column:
dot(query, dequant(code)), through the bit-parity-verified
dot()/duckdb_dot() fold. Ranking, the refine rescore and the IVF probe
are shared — search.topk and ann.ivf_probe (IVF-SQ8 is sq8_search over
`codes.filter(ivf_probe(...))`); the twins likewise add only the
`stats`/`recon` CTEs to search._duckdb_topk and ann._duckdb_ivf_ctes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from leann_rs_spark.functions.vector import dot, duckdb_dot, lit_vec
from leann_rs_spark.operators.ann import _duckdb_ivf_ctes, _duckdb_ivf_probed
from leann_rs_spark.operators.search import (
    _duckdb_q, _duckdb_topk, topk,
)


def sq8_train(
    vectors: DataFrame,
    dims: int,
    vec_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, ranges) from one aggregate pass. min/max
    are comparison-based (no float arithmetic), so the SQL twin derives
    bit-identical stats from the same table."""
    aggs = []
    for j in range(dims):
        e = F.element_at(F.col(vec_col), j + 1).cast("double")
        aggs.append(F.min(e).alias(f"mn{j}"))
        aggs.append(F.max(e).alias(f"mx{j}"))
    row = vectors.agg(*aggs).first()
    mins = [float(row[f"mn{j}"]) for j in range(dims)]
    rngs = [float(row[f"mx{j}"]) - float(row[f"mn{j}"]) for j in range(dims)]
    return mins, rngs


def _lit_arr(xs: list[float]) -> Column:
    return lit_vec(xs)


def sq8_encode_col(vec: Column, mins: list[float], rngs: list[float]) -> Column:
    """array<int> of D bytes. Constant dims (range 0) encode as 0."""
    mins_l, rngs_l = _lit_arr(mins), _lit_arr(rngs)
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(mins))),
        lambda j: F.when(F.element_at(rngs_l, j) == 0.0, F.lit(0)).otherwise(
            F.floor(
                F.least(
                    F.greatest(
                        (F.element_at(vec, j).cast("double")
                         - F.element_at(mins_l, j))
                        / F.element_at(rngs_l, j),
                        F.lit(0.0),
                    ),
                    F.lit(1.0),
                )
                * F.lit(255.0)
            ).cast("int")
        ),
    )


def sq8_encode(
    vectors: DataFrame,
    mins: list[float],
    rngs: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, qcode[, extras]) — one shuffle-free projection; at rest the
    code column is D bytes/row after parquet byte-packing."""
    return vectors.select(
        id_col,
        sq8_encode_col(F.col(vec_col), mins, rngs).alias("qcode"),
        *(extra_cols or []),
    )


def sq8_reconstruct_col(
    qcode: Column, mins: list[float], rngs: list[float]
) -> Column:
    """v̂ = min + (q · range)/255 per dimension, array<double> — scored
    through the shared dot() fold for oracle bit-parity."""
    mins_l, rngs_l = _lit_arr(mins), _lit_arr(rngs)
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(mins))),
        lambda j: F.element_at(mins_l, j)
        + (F.element_at(qcode, j).cast("double") * F.element_at(rngs_l, j))
        / F.lit(255.0),
    )


def sq8_search(
    codes: DataFrame,
    mins: list[float],
    rngs: list[float],
    query_vector: list[float],
    k: int = 10,
    refine: int = 0,
    vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by dot(query, dequant(code)) over the byte codes — a 4×
    scan-bytes cut at ~0.2 % score error; refine > 0 exact-rescores
    the top refine·k (search.topk). IVF-SQ8 is this search over
    `assigned_codes.filter(ann.ivf_probe(centroids, query, nprobe))`."""
    score = dot(
        lit_vec(query_vector), sq8_reconstruct_col(F.col("qcode"), mins, rngs)
    )
    return topk(
        codes, score.alias("score"), query_vector, k, refine, vectors,
        id_col, vec_col,
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twin — derives the per-dim stats, the quantizer, and
# the decode-then-dot score from the parquet table alone.
# ---------------------------------------------------------------------------

def _duckdb_sq8_ctes(dims: int, table: str, id_col: str, vec_col: str) -> str:
    """sq8_train's stats (per-dim mins and ranges, from min/max) and
    recon (id, rv = the dequantized sq8 code of each row)."""
    return f"""
        dims_t AS (SELECT jj.i AS j FROM unnest(generate_series(1, {dims})) jj(i)),
        mm AS (
            SELECT d.j,
                   min(e.{vec_col}[d.j]::double) AS mn,
                   max(e.{vec_col}[d.j]::double) AS mx
            FROM {table} e, dims_t d GROUP BY d.j
        ),
        stats AS (
            SELECT list(mn ORDER BY j) AS mins,
                   list(mx - mn ORDER BY j) AS rngs
            FROM mm
        ),
        recon AS (
            SELECT e.{id_col},
                   list_transform(generate_series(1, {dims}), j ->
                       s.mins[j] + (CASE WHEN s.rngs[j] = 0 THEN 0
                            ELSE floor(least(greatest(
                                (e.{vec_col}[j]::double - s.mins[j])
                                    / s.rngs[j], 0.0), 1.0) * 255.0)::int
                       END::double * s.rngs[j]) / 255.0
                   ) AS rv
            FROM {table} e, stats s
        )"""


def duckdb_sq8_search(
    query_vec_id: int,
    k: int,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine: int = 0,
) -> str:
    """Oracle twin of sq8_train → sq8_encode → sq8_search, query = the
    embedding of `query_vec_id` (the q1 convention); refine > 0 is the
    production serving form (search._duckdb_topk's exact rescore)."""
    return _duckdb_topk(
        [
            _duckdb_q(table, id_col, vec_col, query_vec_id),
            _duckdb_sq8_ctes(dims, table, id_col, vec_col),
        ],
        "recon r", duckdb_dot("q.qv", "r.rv"), k, refine, table, id_col,
        vec_col,
    )


def duckdb_ivfsq_search(
    query_vec_id: int,
    k: int,
    nprobe: int,
    n_centroids: int,
    refine: int = 3,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of sq8_search over the ivf_probe-filtered codes: the
    SQ8 ranking restricted to the probed rows of the IVF twin."""
    return _duckdb_topk(
        _duckdb_ivf_ctes(
            n_centroids, table, id_col, vec_col, nprobe,
            query_vec_id=query_vec_id,
        )
        + [_duckdb_sq8_ctes(dims, table, id_col, vec_col)],
        "recon r" + _duckdb_ivf_probed("r", id_col),
        duckdb_dot("q.qv", "r.rv"), k, refine, table, id_col, vec_col,
    )
