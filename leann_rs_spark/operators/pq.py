"""Product quantization (PQ) — compressed-vector ANN for the 100 TB tier.

The reference stores full f32 vectors and recomputes exact scores per
candidate (src/index/recompute.rs:52-123); its `is_compact` storage mode
drops embeddings from the index and re-embeds on demand
(src/index/meta.rs, builder.rs). At 100 TB the binding constraint is
SCAN BYTES: a 64-dim f32 embedding is 256 bytes/row, so even an
IVF-pruned probe reads nprobe/C × 256 B × N. PQ (Jégou, Douze, Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011) stores
an M-byte code instead — here M=8 subspaces over 64 dims → 32× less
scan I/O — and scores queries against codes alone (asymmetric distance,
ADC); an optional refine step rescores the top ADC candidates against
the full vectors for exact-quality results at code-scan cost.

Spark-first shape — every step is a narrow projection or a broadcast:

  train:   codebook = M sub-codebooks of K centroids each (K·M·(D/M)
           floats — a few KB; lives as a plan literal / Python object).
  encode:  per-subspace argmin ‖sub − c‖² over the K sub-centroids —
           ONE projection, no shuffle (the same inline-literal trick as
           ivf_assign). Codes are `array<int>` of length M; at K ≤ 256
           that is M bytes on disk after parquet byte-packing.
  search:  the rung owns only its score Column: reconstruct each code
           to its decoded vector (a per-row literal lookup) and score
           dot(query, decode(code)) — the textbook ADC lookup-table sum
           evaluated as the equivalent decode-then-dot, which reuses
           the bit-parity-verified dot()/duckdb_dot() fold
           (functions/vector.py). Ranking and refine (top refine·k by
           ADC → broadcast semi-join with the full vectors → exact
           top-k) are the shared search.topk / search.topk_batch.

IVF-PQ, the standard billion-scale layout (FAISS IndexIVFPQ is the
public reference implementation of the same math), is pq_search over
`assigned_codes.filter(ann.ivf_probe(...))`: encode the assigned table
once, then a probed search scans nprobe/C of the corpus at M
bytes/vector.

Codebook policy mirrors the IVF module: `take_subcodebooks` (sub-slices
of the K smallest ids — deterministic, oracle-reproducible; the gates
pin THIS module's math, not codebook quality) and `kmeans_subcodebooks`
(per-subspace seeded k-means — the production default; encoding uses
plain L2 per subspace, so no spherical correction is needed here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from leann_rs_spark.functions.vector import (
    dot, duckdb_dot, lit_vec, lit_vec_sql,
)
from leann_rs_spark.operators.ann import (
    _duckdb_ivf_ctes, _duckdb_ivf_probed, _duckdb_sweep, _ivf_probe_join,
    _sweep_curve, ivf_probe,
)
from leann_rs_spark.operators.search import (
    _duckdb_q, _duckdb_topk, _duckdb_topk_batch, topk, topk_batch,
)

PQ_DEFAULT_M = 8
PQ_DEFAULT_K = 16

Codebook = list[list[list[float]]]  # [m][cid][component]


def _sub_dim(codebook: Codebook) -> int:
    return len(codebook[0][0])


def take_subcodebooks(
    vectors: DataFrame,
    m: int = PQ_DEFAULT_M,
    k: int = PQ_DEFAULT_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Codebook:
    """Deterministic codebook: sub-centroid j of subspace i is the i-th
    slice of the vector with id j (the `take_centroids` policy, so the
    oracle can rebuild it from the table alone). Returns the Python
    nested-list codebook — it is KB-sized and becomes plan literals.
    """
    rows = sorted(
        vectors.filter(F.col(id_col) < k).select(id_col, vec_col).collect(),
        key=lambda r: r[id_col],
    )
    return _split_subspaces([r[vec_col] for r in rows], m)


def _split_subspaces(vecs: list, m: int) -> Codebook:
    """The take policy's codebook from its chosen vectors, in order:
    sub-centroid j of subspace i is the i-th of m equal slices of
    vector j. Raises ValueError when the dimension is not divisible
    by m."""
    dims = len(vecs[0])
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    d = dims // m
    return [
        [[float(x) for x in v[i * d : (i + 1) * d]] for v in vecs]
        for i in range(m)
    ]


def kmeans_subcodebooks(
    vectors: DataFrame,
    m: int = PQ_DEFAULT_M,
    k: int = PQ_DEFAULT_K,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> Codebook:
    """Learned codebook: one seeded KMeans per subspace (plain L2 — the
    encoding metric — so centers are NOT normalized, unlike the IVF
    coarse codebook whose inner-product ranking needs spherical
    centers). Same return shape as `take_subcodebooks`; everything
    downstream is policy-agnostic."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    first = vectors.select(F.size(vec_col).alias("n")).first()["n"]
    if first % m:
        raise ValueError(f"dims={first} not divisible by m={m}")
    d = first // m
    out: Codebook = []
    for i in range(m):
        feats = vectors.select(
            array_to_vector(
                F.slice(F.col(vec_col), i * d + 1, d).cast("array<double>")
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
        out.append([[float(x) for x in c] for c in model.clusterCenters()])
    return out


def _sub_cb_lit(sub_cb: list[list[float]]) -> Column:
    # one SQL-parse call instead of ~K*(d+3) py4j calls (functions/
    # vector.lit_vec rationale): same Literal tree, bit-identical values
    return F.expr(
        "array("
        + ",".join(
            f"named_struct('cid',{j},'cv',{lit_vec_sql(cv)})"
            for j, cv in enumerate(sub_cb)
        )
        + ")"
    )


def _l2_dist2(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² as the same sequential DOUBLE fold as dot() — the
    bit-reproducible shape duckdb's list_reduce mirrors. The
    difference is let-bound (single-element transform) so it is
    evaluated once per element, not once per factor (the CLAUDE.md
    HOF-CSE trap)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.transform(
                F.array(x.cast("double") - y.cast("double")),
                lambda d: d * d,
            )[0],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode_col(vec: Column, codebook: Codebook) -> Column:
    """The code of `vec`: array<int> of length M, element m = argmin
    over the K sub-centroids of ‖vec[m·d:(m+1)·d] − c‖², ties broken
    cid ASC (array_min's lexicographic struct order). A pure
    expression — encoding a corpus is one map pass, zero shuffle."""
    d = _sub_dim(codebook)
    codes = []
    for i, sub_cb in enumerate(codebook):
        # let-bind the slice: referencing it directly inside the
        # per-centroid lambda would re-slice the vector once per
        # codebook entry (K× per subspace — the CLAUDE.md HOF-CSE trap)
        cb_lit = _sub_cb_lit(sub_cb)
        best = F.transform(
            F.array(F.slice(vec, i * d + 1, d)),
            lambda sub: F.array_min(
                F.transform(
                    cb_lit,
                    lambda c: F.struct(
                        _l2_dist2(sub, c["cv"]).alias("dist"),
                        c["cid"].alias("cid"),
                    ),
                )
            ),
        )[0]
        codes.append(best["cid"])
    return F.array(*codes)


def pq_encode(
    vectors: DataFrame,
    codebook: Codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: list[str] | None = None,
    kernel: bool = False,
) -> DataFrame:
    """(id, code[, extras]) for every vector — the compressed index
    table. At scale this is what gets persisted; pass
    extra_cols=["cluster_id"] on an ivf_assign output to build the
    IVF-PQ layout (partition-prunable codes).

    kernel=True runs the encoding as an Arrow-batched numpy kernel
    (mapInPandas) instead of the Catalyst expression, accumulating
    distances with the SAME sequential d-fold as _l2_dist2 and
    breaking ties argmin-first (= smallest cid) — BIT-IDENTICAL to
    the expression form (test-pinned, the lsh_near_dups kernel
    precedent). Measured result: at 5k-20k rows x 64 dims the kernel
    is ~2.5x SLOWER — Arrow transfer of the vector column dominates
    while the interpreted HOF runs at ~10 µs/row — so the expression
    form is the default everywhere; the kernel exists for regimes
    where per-row expression cost grows (large K·M codebooks) and as
    the template for a future columnar-input variant."""
    if not kernel:
        return vectors.select(
            id_col,
            pq_encode_col(F.col(vec_col), codebook).alias("code"),
            *(extra_cols or []),
        )

    import numpy as np
    import pandas as pd
    from typing import Iterator

    m = len(codebook)
    d = _sub_dim(codebook)
    extras = list(extra_cols or [])
    # (M, K, d) float64 — exactly the literal values of the expression
    cb = np.array(codebook, dtype=np.float64)

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {"__id": [], "code": [], **{c: [] for c in extras}}
                )
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            ).reshape(n, m, d)
            codes = np.empty((n, m), dtype=np.int32)
            for i in range(m):
                # sequential fold over d matches _l2_dist2's
                # ((0+t1)+t2)+... bracketing bit-for-bit
                acc = np.zeros((n, cb.shape[1]), dtype=np.float64)
                for j in range(d):
                    diff = x[:, i, j, None] - cb[i, None, :, j]
                    acc += diff * diff
                # argmin returns the FIRST minimum = smallest cid,
                # matching array_min's (dist, cid) lexicographic order
                codes[:, i] = np.argmin(acc, axis=1)
            out = {"__id": pdf[id_col].values, "code": list(codes)}
            for c in extras:
                out[c] = pdf[c].values
            yield pd.DataFrame(out)

    in_schema = dict(vectors.dtypes)
    schema = ", ".join(
        [f"__id {in_schema[id_col]}", "code array<int>"]
        + [f"{c} {in_schema[c]}" for c in extras]
    )
    sel = [id_col, vec_col] + [c for c in extras if c not in (id_col, vec_col)]
    return (
        vectors.select(*sel)
        .mapInPandas(run, schema=schema)
        .withColumnRenamed("__id", id_col)
    )


def pq_bits(k: int) -> int:
    """Bits per sub-code: ceil(log2(k))."""
    return max((k - 1).bit_length(), 1)


def pq_pack_col(code: Column, m: int, bits: int) -> Column:
    """Pack an M-element code array into ONE non-negative BIGINT
    (requires m·bits ≤ 60): sub-code i occupies bits [i·bits,
    (i+1)·bits). This is the persisted-artifact form — 8 bytes per row
    in shuffles and scans regardless of M (the simhash packed-long
    trick applied to PQ codes)."""
    if m * bits > 60:
        raise ValueError(f"m*bits={m * bits} exceeds the 60-bit budget")
    total = F.lit(0).cast("long")
    for i in range(m):
        total = total + (
            F.element_at(code, i + 1).cast("long") * F.lit(1 << (i * bits))
        )
    return total


def pq_unpack_col(packed: Column, m: int, bits: int) -> Column:
    """Inverse of pq_pack_col — back to the array<int> the scoring
    expressions consume. Literal shifts per subspace keep this a pure
    codegen'd projection."""
    mask = (1 << bits) - 1
    return F.array(
        *[
            F.shiftright(packed, i * bits).bitwiseAND(F.lit(mask)).cast("int")
            for i in range(m)
        ]
    )


def codebook_to_rows(codebook: Codebook) -> list[tuple[int, int, list[float]]]:
    """(m, cid, cv) rows for persisting a codebook as parquet."""
    return [
        (m, cid, list(cv))
        for m, sub in enumerate(codebook)
        for cid, cv in enumerate(sub)
    ]


def codebook_from_rows(rows) -> Codebook:
    """Rebuild the nested-list codebook from (m, cid, cv) rows."""
    by_m: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by_m.setdefault(int(r["m"]), {})[int(r["cid"])] = [
            float(x) for x in r["cv"]
        ]
    return [
        [by_m[m][c] for c in sorted(by_m[m])] for m in sorted(by_m)
    ]


def pq_reconstruct_col(code: Column, codebook: Codebook) -> Column:
    """decode(code): concatenation of the chosen sub-centroids — an
    array<double> literal lookup per row. ADC scoring is
    dot(query, decode(code)); evaluating it through the shared dot()
    fold keeps Spark and the DuckDB oracle bit-identical."""
    # one SQL-parse call for the M x K x d nested literal (~1k
    # elements): the per-element py4j form cost ~0.8s of driver time
    cb_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(lit_vec_sql(cv) for cv in sub_cb) + ")"
            for sub_cb in codebook
        )
        + ")"
    )
    return F.flatten(
        F.zip_with(
            code,
            cb_lit,
            lambda c, sub: F.element_at(sub, c + F.lit(1)),
        )
    )


def pq_search(
    codes: DataFrame,
    codebook: Codebook,
    query_vector: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    refine: int = 0,
    vectors: DataFrame | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over the code table alone: (id, score). The scan reads
    M bytes per row instead of the full vector; the plan is
    Scan → Project → TakeOrderedAndProject, no shuffle of the corpus.
    refine > 0 exact-rescores the ADC top refine·k (search.topk): the
    shortlist ids BROADCAST into the full-vector join, so the expensive
    table contributes refine·k point reads, never a full pass."""
    score = dot(
        lit_vec(query_vector), pq_reconstruct_col(F.col("code"), codebook)
    )
    return topk(
        codes, score.alias("score"), query_vector, k, refine, vectors,
        id_col, vec_col,
    )


def ivf_pq_search(
    assigned_codes: DataFrame,
    centroids: DataFrame,
    codebook: Codebook,
    query_vector: list[float],
    k: int = 10,
    nprobe: int = 4,
    refine: int = 0,
    vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The composed billion-scale serving shape (FAISS IndexIVFPQ):
    pq_search over the ivf_probe-filtered codes. Coarse probing prunes
    the scan to nprobe/C of the corpus (static partition pruning on a
    cluster_id-partitioned table), ADC scores the survivors at M
    bytes/row, and refine > 0 exact-rescores the top refine·k against
    the full vectors.

    `assigned_codes` is pq_encode(ivf_assign(...),
    extra_cols=["cluster_id"]). nprobe = C with refine covering k·refine
    ≥ probed rows degrades to exact search over the probed set
    (test-pinned). Per-query scan bytes: (nprobe/C) · N · M — the two
    knobs multiply.
    """
    probed = assigned_codes.filter(ivf_probe(centroids, query_vector, nprobe))
    return pq_search(
        probed, codebook, query_vector, k, id_col, refine, vectors, vec_col
    )


def ivf_pq_search_batch(
    assigned_codes: DataFrame,
    centroids: DataFrame,
    codebook: Codebook,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    refine: int = 0,
    vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch-serving IVF-PQ (the ivf_search_batch twin over codes):
    the per-query probe table broadcasts into the code join
    (ann._ivf_probe_join) → ADC per (query, code) pair → per-query ADC
    top-(refine·k) → optional broadcast exact rescore (search.topk_batch).
    Returns (query_id, id, score, rank). Per-batch scan bytes: union of
    probed clusters × M bytes."""
    scored = _ivf_probe_join(
        assigned_codes, centroids, queries, nprobe, query_id_col,
        query_vec_col,
    ).select(
        query_id_col,
        id_col,
        dot(
            F.col(query_vec_col), pq_reconstruct_col(F.col("code"), codebook)
        ).alias("score"),
    )
    return topk_batch(
        scored, k, refine, vectors, queries, id_col, vec_col,
        query_id_col, query_vec_col,
    )


def pq_refine_recall_curve(
    vectors: DataFrame,
    codebook: Codebook,
    queries: DataFrame,
    k: int = 10,
    refines: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Recall@k of PQ-ADC + exact-refine vs exact search, per refine
    factor — the compression-accuracy curve that picks the production
    (M, K, refine) point, the PQ analog of ivf_recall_curve. refine=r
    means: shortlist r·k by ADC, exact-rescore, take k. A refine that
    covers the whole corpus degrades to exact (recall 1.0), the same
    built-in self-check as the IVF sweep's nprobe=C point.
    → (refine, recall_r), a materialized curve.

    The PQ score source of ann._sweep_curve: each (query, vector) pair
    is scored ONCE with both its ADC and its exact score (queries
    broadcast; the corpus is never shuffled) and ranked by each; truth
    is the exact top-k, and a pair in the ADC top max(refines)·k
    shortlist is covered from refine ⌈adc_rank / k⌉ on (r·k ≥ adc_rank
    ⇔ r ≥ ⌈adc_rank / k⌉), ranked by its exact score. Diagnostic shape
    — run on a query SAMPLE (the exact baseline is Q×N by
    construction).
    """
    refines = refines or [1, 2, 4, 8]
    qv = F.col(query_vec_col)
    enc = vectors.select(
        id_col,
        vec_col,
        pq_encode_col(F.col(vec_col), codebook).alias("code"),
    )
    cand = enc.crossJoin(
        F.broadcast(queries.select(query_id_col, query_vec_col))
    ).select(
        query_id_col,
        id_col,
        dot(qv, pq_reconstruct_col(F.col("code"), codebook)).alias("adc"),
        dot(F.col(vec_col), qv).alias("score"),
    )
    w_adc = Window.partitionBy(query_id_col).orderBy(
        F.col("adc").desc(), F.col(id_col).asc()
    )
    w_exact = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    ranked = cand.select(
        query_id_col,
        id_col,
        "score",
        F.row_number().over(w_adc).alias("adc_rank"),
        F.row_number().over(w_exact).alias("exact_rank"),
    ).persist()
    truth = ranked.filter(F.col("exact_rank") <= k).select(
        query_id_col, id_col
    ).persist()
    n_truth = truth.count()  # materializes both persists
    shortlist = ranked.filter(F.col("adc_rank") <= max(refines) * k).select(
        query_id_col,
        id_col,
        F.expr(f"(adc_rank + {k - 1}) div {k}").alias("need"),
        "score",
    )
    return _sweep_curve(
        {"recall_r": shortlist}, truth, n_truth, k, refines, "refine",
        [ranked, truth], id_col, query_id_col,
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins — rebuild the take-policy codebook, the encoding,
# and the decode-then-dot ADC score from the parquet table alone, with
# the same fold shapes as the Spark expressions.
# ---------------------------------------------------------------------------

def _duckdb_l2_dist2(sub: str, cv: str, d: int) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {d}), i -> "
        f"({sub}[i]::double - {cv}[i]::double) * "
        f"({sub}[i]::double - {cv}[i]::double)), (acc, x) -> acc + x)"
    )


def _duckdb_pq_common(
    m: int,
    n_codebook: int,
    d: int,
    table: str,
    id_col: str,
    vec_col: str,
) -> str:
    """Shared CTE block: cbrows (m, cid, cv) with the take policy,
    per-vector codes via argmin, and the decoded vector `recon`."""
    dist = _duckdb_l2_dist2("s.sub", "cb.cv", d)
    return f"""
        cbrows AS (
            SELECT mm.i - 1 AS m, e.{id_col} AS cid,
                   e.{vec_col}[(mm.i - 1) * {d} + 1 : mm.i * {d}] AS cv
            FROM {table} e, unnest(generate_series(1, {m})) mm(i)
            WHERE e.{id_col} < {n_codebook}
        ),
        subs AS (
            SELECT e.{id_col}, mm.i - 1 AS m,
                   e.{vec_col}[(mm.i - 1) * {d} + 1 : mm.i * {d}] AS sub
            FROM {table} e, unnest(generate_series(1, {m})) mm(i)
        ),
        codes AS (
            SELECT {id_col}, m, cid FROM (
                SELECT s.{id_col}, s.m, cb.cid,
                       row_number() OVER (
                           PARTITION BY s.{id_col}, s.m
                           ORDER BY {dist} ASC, cb.cid ASC
                       ) AS rn
                FROM subs s JOIN cbrows cb ON cb.m = s.m
            ) WHERE rn = 1
        ),
        recon AS (
            SELECT c.{id_col}, flatten(list(cb.cv ORDER BY c.m)) AS rv
            FROM codes c JOIN cbrows cb ON cb.m = c.m AND cb.cid = c.cid
            GROUP BY c.{id_col}
        )"""


def duckdb_pq_search(
    query_vec_id: int,
    k: int,
    m: int = PQ_DEFAULT_M,
    n_codebook: int = PQ_DEFAULT_K,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of take-policy train → encode → ADC top-k, with the
    query = the embedding of `query_vec_id` (the q1 convention)."""
    return _duckdb_topk(
        [
            _duckdb_pq_common(
                m, n_codebook, dims // m, table, id_col, vec_col
            ),
            _duckdb_q(table, id_col, vec_col, query_vec_id),
        ],
        "recon r", duckdb_dot("q.qv", "r.rv"), k,
        table=table, id_col=id_col, vec_col=vec_col,
    )


def duckdb_ivf_pq_search(
    query_vec_id: int,
    k: int,
    nprobe: int,
    n_centroids: int,
    refine: int = 0,
    m: int = PQ_DEFAULT_M,
    n_codebook: int = PQ_DEFAULT_K,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of `ivf_pq_search`: take-policy coarse centroids AND
    sub-codebooks, query = the embedding of `query_vec_id`."""
    return _duckdb_topk(
        [_duckdb_pq_common(m, n_codebook, dims // m, table, id_col, vec_col)]
        + _duckdb_ivf_ctes(
            n_centroids, table, id_col, vec_col, nprobe,
            query_vec_id=query_vec_id,
        ),
        "recon r" + _duckdb_ivf_probed("r", id_col),
        duckdb_dot("q.qv", "r.rv"), k, refine, table, id_col, vec_col,
    )


def duckdb_ivf_pq_search_batch(
    n_queries: int,
    k: int,
    nprobe: int,
    n_centroids: int,
    refine: int = 0,
    m: int = PQ_DEFAULT_M,
    n_codebook: int = PQ_DEFAULT_K,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of `ivf_pq_search_batch` (take policies, queries =
    the `n_queries` smallest ids — the q2 conventions)."""
    scored = f"""
            SELECT q.query_id, r.{id_col},
                   {duckdb_dot("q.qv", "r.rv")} AS score
            FROM recon r{_duckdb_ivf_probed("r", id_col, batch=True)}"""
    return _duckdb_topk_batch(
        [_duckdb_pq_common(m, n_codebook, dims // m, table, id_col, vec_col)]
        + _duckdb_ivf_ctes(
            n_centroids, table, id_col, vec_col, nprobe, n_queries=n_queries
        ),
        scored, k, refine, table, id_col, vec_col,
    )


def duckdb_pq_refine_recall_curve(
    n_queries: int,
    k: int,
    refines: list[int],
    m: int = PQ_DEFAULT_M,
    n_codebook: int = PQ_DEFAULT_K,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of `pq_refine_recall_curve` (take policy, queries =
    the `n_queries` smallest ids — the recall-gate conventions): the
    ADC shortlist, covered from refine ⌈adc_rank / k⌉ on and ranked by
    its exact score, into `_duckdb_sweep`."""
    d = dims // m
    adc = duckdb_dot("q.qv", "r.rv")
    exact = duckdb_dot(f"e.{vec_col}", "q.qv")
    return _duckdb_sweep(
        [
            _duckdb_pq_common(m, n_codebook, d, table, id_col, vec_col),
            _duckdb_q(table, id_col, vec_col, n_queries=n_queries),
            f"""ranked AS MATERIALIZED (
            SELECT query_id, {id_col}, score,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY adc DESC, {id_col} ASC
                   ) AS adc_rank,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, {id_col} ASC
                   ) AS exact_rank
            FROM (
                SELECT q.query_id, e.{id_col}, {adc} AS adc, {exact} AS score
                FROM {table} e
                JOIN recon r ON r.{id_col} = e.{id_col}
                CROSS JOIN q
            )
        )""",
            f"""truth AS (
            SELECT query_id, {id_col} FROM ranked WHERE exact_rank <= {k}
        )""",
            f"""shortlist AS (
            SELECT query_id, {id_col}, (adc_rank + {k - 1}) // {k} AS need,
                   score
            FROM ranked WHERE adc_rank <= {max(refines) * k}
        )""",
        ],
        {"recall_r": "shortlist"}, "truth", k, refines, "refine", id_col,
    )
