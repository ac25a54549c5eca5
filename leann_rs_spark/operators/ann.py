"""Approximate nearest-neighbor search — the IVF scale path.

The reference's ANN backends are pointer-chasing graph indexes (HNSW:
/root/reference/src/backend/hnsw.rs:96-139, DiskANN/Vamana:
/root/reference/src/backend/diskann.rs:69-105) — inherently single-node,
stateful, anti-Spark. Exact brute-force top-k stays the canonical
semantics (operators/search.py, mirroring the reference's own recompute
ground truth, src/index/recompute.rs:52-123); this module is the
*physical approximation* for when N is too large to scan per query.

Design: classic IVF (inverted-file) partitioning, expressed entirely in
DataFrame ops so Catalyst handles pushdown and AQE handles skew:

  build:  pick C centroids deterministically → assign every vector to
          its nearest centroid (broadcast join + per-vector top-1) →
          persist `assigned` partitioned/clustered BY cluster_id.
  search: rank centroids for the query (driver-trivial: C rows) → keep
          the top `nprobe` clusters → exact top-k over only those
          clusters.

At 100 TB: the assigned table is written with
`.write.partitionBy("cluster_id")`, so a query's scan prunes to
nprobe/C of the files — partition pruning does the work a graph index
does on a single node, with no custom storage format. Probing more
clusters trades cost for recall exactly like the reference's
`complexity` beam-width knob (src/backend/diskann.rs:47-62).

Centroid choice is `vec_id < n_centroids` (deterministic, oracle-
reproducible). Quality-wise this is a random sample for synthetic data;
swap in KMeans(seed=…) offline for production — search semantics are
unchanged, which is why the oracle pins THIS module's math, not the
centroid policy.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from leann_rs_spark.functions.vector import (
    cosine, duckdb_cosine, duckdb_dot, dot, lit_vec_sql,
)
from leann_rs_spark.operators.dedup import (
    _attach, _band_width, _banded_candidate_pairs, _cross_pairs,
    _duckdb_bands, _duckdb_capped_cand, _hot_split,
)
from leann_rs_spark.operators.search import (
    _duckdb_q, _duckdb_topk, _duckdb_topk_batch, exact_search, topk_batch,
)
from leann_rs_spark.utils import local_frame, materialize


def take_centroids(
    vectors: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid sample: the n smallest ids.

    Returns (centroid_id, centroid_vec). A learned codebook (MLlib
    KMeans with a fixed seed) can replace this without touching
    `ivf_assign`/`ivf_search`.
    """
    return vectors.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid_vec")
    )


# Above this codebook size the inline-literal assignment plan is
# replaced by a broadcast join: C x dims float literals in the
# expression tree blow up plan serialization and codegen (a C=4096,
# dims=768 codebook is ~25 MB of literals re-shipped with EVERY task
# binary), while a broadcast relation is shipped once per executor.
IVF_INLINE_MAX_CENTROIDS = 128


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    inline_max: int = IVF_INLINE_MAX_CENTROIDS,
    extra_cols: list[str] | None = None,
    validate: bool = False,
) -> DataFrame:
    """Assign each vector to its best (max inner product) centroid.

    Small codebooks (C <= inline_max) are collected to the driver and
    inlined as a literal array of structs: assignment becomes a pure
    PROJECTION — score all C centroids per row and take the
    lexicographic max of struct(score, -centroid_id) with a single
    array fold. No join, no shuffle, no aggregation: the narrowest
    possible plan, and at 100 TB the assignment stage is exactly one
    map pass over the vectors.

    Large codebooks switch to a broadcast nested-loop join + per-vector
    top-1: the codebook ships once per executor as a broadcast
    relation (not as plan literals), each vector scores all C centroids
    map-side, and the partial MAX(struct(score, -centroid_id))
    aggregation collapses the C copies back to one row per vector
    BEFORE the groupBy exchange — the shuffle carries N rows, not N*C.
    Same dot() fold, same struct ordering, bit-identical assignments.

    Both paths tie-break on centroid_id ASC (larger -id == smaller id)
    for a total order matching the oracle's row_number ordering.

    Contract: (id_col, *extra_cols) must uniquely key the input rows —
    the broadcast path re-collapses the C scored copies by exactly
    that key, so a duplicate key would merge distinct vectors into one
    assignment. Every caller satisfies it (vec_id/idx are unique; the
    token-level path keys by the distinct (doc, token) pair). The
    inline path is a pure projection and preserves rows regardless.
    A violation is SILENT corruption on the broadcast path (the r8
    token-frame bug, commit a8c8c18) — `validate=True` turns it into
    an error: one count-vs-distinct aggregate over the input (an extra
    job, so default-off; fixtures and tests opt in).
    """
    if validate:
        key = [id_col, *(extra_cols or [])]
        total, distinct = vectors.select(
            F.count(F.lit(1)),
            F.count_distinct(*[F.col(c) for c in key]),
        ).first()
        if total != distinct:
            raise ValueError(
                f"ivf_assign: ({', '.join(key)}) does not uniquely key the"
                f" input ({total} rows, {distinct} distinct keys) — the"
                " broadcast path would silently collapse duplicate-key"
                " rows to one arbitrary assignment; pass the missing key"
                " columns via extra_cols"
            )
    cent_df = centroids.select("centroid_id", "centroid_vec")
    cents = sorted(
        cent_df.limit(inline_max + 1).collect(),
        key=lambda r: r["centroid_id"],
    )
    vec = F.col(vec_col)
    if len(cents) <= inline_max:
        # one SQL-parse call instead of ~C*(dims+3) py4j calls
        # (functions/vector.lit_vec): same Literal tree, bit-identical
        cent_lit = F.expr(
            "array("
            + ",".join(
                f"named_struct('cid',{int(r['centroid_id'])}"
                f",'cv',{lit_vec_sql(r['centroid_vec'])})"
                for r in cents
            )
            + ")"
        )
        best = F.array_max(
            F.transform(
                cent_lit,
                lambda c: F.struct(
                    dot(vec, c["cv"]).alias("s"), (-c["cid"]).alias("neg_id")
                ),
            )
        )
        return vectors.select(
            id_col, vec_col, *(extra_cols or []),
            (-best["neg_id"]).alias("cluster_id"),
        )
    extras = list(extra_cols or [])
    scored = vectors.crossJoin(F.broadcast(cent_df)).select(
        F.col(id_col),
        vec,
        *extras,
        F.struct(
            dot(vec, F.col("centroid_vec")).alias("s"),
            (-F.col("centroid_id")).alias("neg_id"),
        ).alias("__cand"),
    )
    return (
        scored.groupBy(id_col, *extras)
        .agg(
            F.any_value(F.col(vec_col)).alias(vec_col),
            F.max("__cand").alias("__best"),
        )
        .select(
            id_col, vec_col, *extras,
            (-F.col("__best.neg_id")).alias("cluster_id"),
        )
    )


def kmeans_centroids(
    vectors: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Learned codebook: MLlib KMeans with a fixed seed, SPHERICAL —
    cluster centers are L2-normalized before returning.

    Drop-in replacement for `take_centroids` — returns the same
    (centroid_id, centroid_vec) shape with centroid_id = cluster index
    0..C-1, so `ivf_assign`/`ivf_search` and the persisted-index layout
    are unchanged. A learned codebook balances cluster sizes on real
    (non-uniform) embedding distributions, which is what makes
    nprobe/C partition pruning effective at 100 TB; the search
    semantics (exact top-k inside probed clusters) do not depend on
    centroid quality, which is why the oracle pins the search math and
    not the codebook policy.

    The normalization matters because `ivf_assign` ranks centroids by
    INNER PRODUCT (the index metric, hnsw.rs:43-51): raw Euclidean
    means have unequal norms, and the dot ranking then funnels vectors
    toward large-norm centroids regardless of direction — measured
    max/mean cluster-size ratio 3.9 vs 1.2 on the driver's embedding
    table. Unit-norm centroids make the dot ranking a cosine Voronoi
    over directions (spherical k-means), restoring balance.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    return _centroid_frame(
        vectors.sparkSession, enumerate(model.clusterCenters())
    )


def _centroid_frame(spark, rows) -> DataFrame:
    """(centroid_id, raw vector) rows → a C-row (centroid_id,
    centroid_vec) LocalTableScan frame, each vector spherically
    normalized (1e-12 norm clamp)."""

    def unit(c) -> list[float]:
        n = max(math.sqrt(sum(float(x) * float(x) for x in c)), 1e-12)
        return [float(x) / n for x in c]

    return local_frame(
        spark,
        [(int(i), unit(c)) for i, c in rows],
        "centroid_id bigint, centroid_vec array<double>",
    )


def lloyd_refine_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
) -> DataFrame:
    """Warm-start spherical Lloyd refinement: a few assign→mean rounds
    initialized from an EXISTING codebook — the codebook-refresh
    primitive. Each round is one `ivf_assign` pass (projection or
    broadcast top-1 — no quadratic stage) plus one shuffle keyed on
    (cluster_id, dim) for the mean, then L2 normalization (spherical,
    matching kmeans_centroids). LABELS PERSIST: centroid k out is the
    refined version of centroid k in, so a layout refreshed against
    the result moves only rows whose nearest center genuinely changed.
    Cold re-learning instead lands in a different local optimum with
    permuted labels — measured 63% of rows moving after a 3% corpus
    append, vs the true drift movement this preserves. A centroid that
    loses every member keeps its old vector (the standard empty-
    cluster rule), so the codebook size is invariant.

    Scale shape: iters × (assign pass + one (C·dims)-key aggregate);
    centroids stay a C-row DataFrame end to end — nothing corpus-sized
    ever reaches the driver."""
    for _ in range(iters):
        assigned = ivf_assign(
            vectors.select(id_col, vec_col), centroids,
            id_col=id_col, vec_col=vec_col,
        )
        per_dim = assigned.select(
            "cluster_id",
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "__d", "__x"
            ),
        )
        means = (
            per_dim.groupBy("cluster_id", "__d")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("cluster_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__d", "__m"))
                ).alias("__pairs")
            )
            .select(
                "cluster_id",
                F.transform(F.col("__pairs"), lambda p: p["__m"]).alias(
                    "__mean"
                ),
            )
        )
        refined = means.select(
            F.col("cluster_id").alias("centroid_id"),
            F.col("__mean").alias("centroid_vec"),
        )
        # empty clusters keep their previous (already-unit) vector
        old = centroids.select(
            F.col("centroid_id"),
            F.col("centroid_vec").alias("__old_vec"),
        )
        merged = old.join(refined, "centroid_id", "left").select(
            "centroid_id",
            F.coalesce(
                F.col("centroid_vec"), F.col("__old_vec")
            ).alias("centroid_vec"),
        )
        # materialize each round on the driver (C rows — tiny): an
        # unbroken 'iters'-deep lazy lineage would re-run every prior
        # assign pass per round (the measured iterative-loop rule).
        # Spherical normalization (1e-12 clamp, kmeans_centroids
        # parity) happens here, once per round.
        centroids = _centroid_frame(
            vectors.sparkSession,
            [(r["centroid_id"], r["centroid_vec"]) for r in merged.collect()],
        )
    return centroids


def centroid_arrays(centroids: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """A (centroid_id, centroid_vec) frame collected as (ids int64[C],
    vectors float64[C, d]) — the driver-side form `probe_order` ranks."""
    rows = centroids.select("centroid_id", "centroid_vec").collect()
    ids = np.array([int(r[0]) for r in rows], dtype=np.int64)
    if not rows:
        return ids, np.zeros((0, 0))
    return ids, np.array([r[1] for r in rows], dtype=np.float64)


def probe_order(
    ids: np.ndarray, vecs: np.ndarray, query_vector: list[float], nprobe: int
) -> list[int]:
    """The ids of the nprobe centroids nearest the query — the one probe
    ranking every single-query IVF composition uses. Centroids rank by
    inner product DESC, ties centroid_id ASC. The score accumulates
    `acc + c[j]·q[j]` over the dimensions in index order from 0.0, the
    fold `vector.dot` runs in Spark, so scores (and ranks) are
    bit-identical to it; NaN ranks above every number, as Spark sorts
    it."""
    if nprobe <= 0 or len(ids) == 0:
        return []
    q = np.asarray(query_vector, dtype=np.float64)
    acc = np.zeros(len(ids))
    if len(q) == vecs.shape[1]:  # else every Spark score is NULL: id order
        for j in range(len(q)):
            acc = acc + vecs[:, j] * q[j]
    order = np.lexsort((ids, -acc, ~np.isnan(acc)))
    return [int(ids[i]) for i in order[:nprobe]]


def ivf_probe_ids(
    centroids: DataFrame, query_vector: list[float], nprobe: int
) -> list[int]:
    """`probe_order` over the collected C-row centroid frame, so a
    caller can read just the probed `cluster_id=` directories."""
    return probe_order(*centroid_arrays(centroids), query_vector, nprobe)


def ivf_probe(
    centroids: DataFrame, query_vector: list[float], nprobe: int
) -> Column:
    """`cluster_id IN (<ivf_probe_ids>)` — a literal IN list, so on a
    table written partitionBy("cluster_id") the filter is static
    partition pruning at the file level."""
    return F.col("cluster_id").isin(ivf_probe_ids(centroids, query_vector, nprobe))


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vector: list[float],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate: Column | None = None,
) -> DataFrame:
    """Probe the `nprobe` centroids nearest the query; exact top-k inside
    (exact_search over the ivf_probe-filtered rows).

    `nprobe == n_centroids` degrades to exact search (tests pin this).
    """
    probed = assigned.filter(ivf_probe(centroids, query_vector, nprobe))
    return exact_search(
        probed, query_vector, k, id_col, vec_col, predicate=predicate
    )


# ---------------------------------------------------------------------------
# Hyperplane-LSH near-duplicate pairs — the scale path for
# dedup.embedding_near_dups (whose exact all-pairs form is quadratic).
# A sign-bit sketch + band builder (`_signbit_bands`) and a cosine / dot
# verify around the banded-LSH core in operators/dedup.py; the twins
# share `_duckdb_lsh_ctes`.
# ---------------------------------------------------------------------------

def _signbit_sketch(vec: Column, hp: list[list[float]]) -> Column:
    """Sign-bit sketch: bit p = [<v, h_p> > 0] via `transform` over an
    array-of-struct hyperplane literal with the sequential dot fold —
    the one shared implementation behind lsh_near_dups /
    lsh_sketch_table / lsh_near_dups_incremental.

    Round 10 measured two "codegen-friendlier" rewrites of this
    expression under the bench protocol (min-of-reps after suite
    warmup, equal load) and BOTH lost to this HOF form:
      * dots fully unrolled into literal multiply-add chains (1024
        expression nodes at 32 planes x 32 dims): 5x faster in a warm
        ad-hoc noop loop but 2.7x SLOWER benched (x_ann_lsh_capped
        4.6 s -> 12.7 s) — the giant generated method blows past JIT
        limits, exactly SURVEY §9's "ad-hoc sessions mis-rank
        codegen-heavy variants" trap;
      * only the plane loop unrolled (32 explicit aggregate(zip_with)
        folds): ~20% slower benched (4.6 s -> 5.8 s).
    Bit-equivalence of the unrolled variant is pinned by test_ann's
    sketch-equality test so a future re-attempt stays safe."""
    # one SQL-parse call for the planes x dims literal (lit_vec note)
    hp_lit = F.expr(
        "array("
        + ",".join(
            f"named_struct('pid',{p},'hv',{lit_vec_sql(hp[p])})"
            for p in range(len(hp))
        )
        + ")"
    )
    return F.transform(
        hp_lit,
        lambda h: F.when(dot(vec, h["hv"]) > 0, F.lit(1)).otherwise(F.lit(0)),
    )


def _hyperplanes(planes: int, dims: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, d) is an
    md5-derived weight in [-1, 1] (same universal-hash family as the
    embedder, functions/text.py) — reproducible across runs and engines
    with no RNG state."""
    import hashlib

    out = []
    for p in range(planes):
        row = []
        for d in range(dims):
            dig = hashlib.md5(f"hyperplane:{p}:{d}".encode()).hexdigest()
            h = int(dig[:15], 16)
            row.append(((h % 2001) - 1000) / 1000.0)
        out.append(row)
    return out


def lsh_near_dups(
    emb: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 16,
    bands: int = 4,
    assume_normalized: bool = False,
    cache: bool = True,
    bucket_block: int = 1024,
    max_bucket_size: int | None = None,
    intermediates: list | None = None,
) -> DataFrame:
    """→ (id_a, id_b, cos): cosine-near-dup pairs via random-hyperplane
    LSH bucketing + exact verification.

    `max_bucket_size`: hot-bucket guard — a B-vector duplicate cluster
    (identical embeddings → identical sign bits) lands whole in one
    bucket per band and costs B²/2 pair work before verify (expression
    path: B²/2 candidate rows; kernel path: B²/2 in-kernel scores).
    Buckets over the cap are CHAINED in (full-sketch, id) order
    instead of all-paired (dedup._chain_star_pairs — ≤ 2(B-1)
    spanning pairs, verified exactly; identical-sketch members sort
    adjacent so verified components are unchanged for contiguous-run
    clusters); buckets at or under the cap keep exact all-pairs
    semantics on both verify paths. `intermediates` receives the
    frames this call persisted (the sketch table, and the banded frame
    when the cap is set); with the default None they stay cached until
    storage eviction.

    Sign-bit sketch: bit p = [<v, h_p> > 0] for `planes` fixed
    hyperplanes — a projection, no shuffle. Banded like MinHash-LSH:
    candidates must agree on one whole band of sign bits; the equi-join
    on (band, band_bits) makes shuffle volume proportional to collisions,
    never O(n²). Every candidate is verified with the exact score, so
    precision is 1.0; recall is probabilistic (two vectors at angle θ
    disagree on a bit w.p. θ/π — near-dup pairs at cos ≥ 0.95 keep a
    whole band with high probability; tests pin the measured recall
    against the exact operator). Use dedup.embedding_near_dups when the
    corpus is small enough to cross-join exactly.

    Verification (`assume_normalized=True`): per-bucket numpy kernel —
    each (band, bits) bucket's vectors are gathered (shuffle =
    `bands` copies of the vector table, NOT per-pair rows) and every
    in-bucket pair is scored by a float64 matrix product folded
    sequentially over dims, the same left-fold order as
    aggregate(zip_with) and the DuckDB oracle, so scores are
    bit-identical to the expression form.

    Mega-bucket bound: the band width bounds the NUMBER of buckets per
    band, not their SIZE — a duplicate-heavy or tightly clustered corpus
    can land a large fraction of rows in one bucket (exactly the regime
    LSH targets). Buckets therefore flow to the kernel as grouped-map
    GROUPS (streamed Arrow batches of rows — no single Arrow record
    ever holds a bucket, unlike a collect_list gather), and the kernel
    scores each bucket in id-sorted sub-block pairs of ≤ `bucket_block`
    rows, so peak task memory is O(bucket_rows·dims + bucket_block²) —
    the M×M matrix a mega-bucket would otherwise allocate never exists.
    The pair WORK within a bucket is the exact-verification cost and
    remains quadratic in the bucket; if profiles show a single bucket
    dominating, add planes (narrower buckets) rather than raising
    bucket_block.
    """
    hp = _hyperplanes(planes, dims)
    width = _band_width(planes, bands, "planes")
    vec = F.col(vec_col)
    bits = _signbit_sketch(vec, hp)
    sk = emb.select(F.col(id_col), vec.alias("__v"), bits.alias("__bits"))
    if cache:
        sk = sk.persist()
        sk.count()  # materialize before the banded self-join races
        if intermediates is not None:
            intermediates.append(sk)
    # banded carries ONLY (id, band, bucket-bits): vectors re-attach to
    # the DEDUPED candidate pairs, so the (band, bb) shuffle moves id
    # width — not `bands` copies of every vector — and each surviving
    # pair is scored exactly once.
    banded = _signbit_bands(sk, id_col, "__bits", bands, width)
    keys = ["band", "bb"]
    # hot-bucket order key = the FULL sign-bit sketch (not just the
    # bucket's band): identical vectors share the whole sketch, so a
    # true dup-group inside a hot bucket sorts contiguous and stays
    # connected through its chain links.
    order = ("__sk", sk.select(
        F.col(id_col),
        F.concat_ws(
            "", F.transform(F.col("__bits"), lambda x: x.cast("string"))
        ).alias("__sk"),
    ))
    if assume_normalized:
        # with no bucket over the cap the guard is the identity: the
        # cached banded frame goes to the kernel whole.
        banded, spanning = _hot_split(
            banded, keys, id_col, max_bucket_size, order, intermediates
        )
        # bucket-kernel verify: each (band, bits) bucket's rows flow as
        # a grouped-map (applyInPandas) group — streamed to the worker
        # as ordinary Arrow BATCHES of (id, vector) rows, so no single
        # Arrow record ever holds a whole bucket (the collect_list
        # failure mode). In-kernel the bucket is scored in id-sorted
        # sub-block pairs of ≤ bucket_block rows: peak numpy memory is
        # O(bucket_rows·dims + bucket_block²) however large a
        # duplicate-heavy bucket gets. The fold order per pair is the
        # sequential dims fold, bit-identical to aggregate(zip_with)
        # and the oracle. Dedup across bands afterwards. Works for any
        # orderable id type — ids stay Python values; only scores are
        # vectorized.
        import numpy as np
        import pandas as pd

        id_dt = dict(emb.dtypes)[id_col]
        # Prune singleton buckets BEFORE vectors attach: almost every
        # (band, bits) bucket holds exactly one row and can never emit
        # a pair. The count+semi-join moves only id-width banded rows;
        # without it the vector table is shuffled `bands` times and the
        # WHOLE corpus crosses the Arrow boundary into the Python
        # kernel. At bench scale (5k docs) the two extra light stages
        # cost ~0.4s; at corpus scale the avoided cost is bands×N
        # vector-width shuffle + Arrow rows, which dominates — this is
        # a scale-shape choice, not a micro-benchmark one.
        multi = (
            banded.groupBy("band", "bb")
            .agg(F.count("*").alias("__c"))
            .filter(F.col("__c") >= 2)
            .drop("__c")
        )
        cand = banded.join(multi, ["band", "bb"], "left_semi")
        rows = cand.join(sk.select(F.col(id_col), F.col("__v")), id_col)

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            n = len(pdf)
            empty = pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
            if n < 2:
                return empty
            # id-sorted positions: within a sub-block pair, position
            # order IS id order, so the upper-triangle mask gives
            # id_a < id_b with no per-pair comparisons.
            pdf = pdf.sort_values(id_col, kind="mergesort")
            ids = pdf[id_col].tolist()
            A = np.array(pdf["__v"].tolist(), dtype=np.float64)
            out_a: list = []
            out_b: list = []
            out_c: list = []
            for i0 in range(0, n, bucket_block):
                Ai = A[i0 : i0 + bucket_block]
                for j0 in range(i0, n, bucket_block):
                    Aj = A[j0 : j0 + bucket_block]
                    acc = np.zeros((len(Ai), len(Aj)), dtype=np.float64)
                    for d in range(A.shape[1]):  # sequential fold over dims
                        acc += Ai[:, d, None] * Aj[None, :, d]
                    mask = acc >= threshold
                    if i0 == j0:
                        mask &= np.triu(np.ones(mask.shape, dtype=bool), 1)
                    ii, jj = np.nonzero(mask)
                    out_a.extend(ids[i0 + i] for i in ii)
                    out_b.extend(ids[j0 + j] for j in jj)
                    out_c.extend(acc[ii, jj])
            if not out_a:
                return empty
            return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cos": out_c})

        kernel_out = rows.groupBy("band", "bb").applyInPandas(
            kernel, f"id_a {id_dt}, id_b {id_dt}, cos double"
        )
        if spanning is not None:
            # O(B) spanning pairs verify through the expression dot
            # (identical fold order to the kernel), then union with the
            # small-bucket kernel output; a pair surviving both paths
            # scores identically, so the dedup keeps either copy.
            kernel_out = kernel_out.unionByName(
                _attach(spanning, sk, id_col, "__v", "v")
                .withColumn("cos", dot(F.col("va"), F.col("vb")))
                .filter(F.col("cos") >= threshold)
                .select("id_a", "id_b", "cos")
            )
        return kernel_out.dropDuplicates(["id_a", "id_b"])
    pairs = _banded_candidate_pairs(
        banded, keys, id_col, max_bucket_size, order, intermediates
    )
    return (
        _attach(pairs, sk, id_col, "__v", "v")
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _signbit_bands(
    sk: DataFrame,
    id_col: str,
    bits_col: str,
    bands: int,
    width: int,
) -> DataFrame:
    """(id, sign-bit array) → (id, band, bb): band b's `width` bits as
    a '0'/'1' string — the sign-bit band builder of both LSH forms."""
    return sk.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(
                        "",
                        F.transform(
                            F.slice(F.col(bits_col), b * width + 1, width),
                            lambda x: x.cast("string"),
                        ),
                    ).alias("bb"),
                ),
            )
        ).alias("e"),
    ).select(id_col, F.col("e.band"), F.col("e.bb"))


# ---------------------------------------------------------------------------
# DuckDB oracle — same math end-to-end (assign, probe, score).
# ---------------------------------------------------------------------------

def _duckdb_cent(
    n_centroids: int, table: str, id_col: str, vec_col: str
) -> str:
    """take_centroids: the n smallest ids."""
    return f"""
            SELECT {id_col} AS centroid_id, {vec_col} AS centroid_vec
            FROM {table} WHERE {id_col} < {n_centroids}"""


def _duckdb_assign(table: str, cent: str, id_col: str, vec_col: str) -> str:
    """ivf_assign: each row's max-dot centroid, ties centroid_id ASC."""
    d_ec = duckdb_dot(f"e.{vec_col}", "c.centroid_vec")
    return f"""
            SELECT {id_col}, {vec_col}, centroid_id AS cluster_id FROM (
                SELECT e.{id_col}, e.{vec_col}, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.{id_col}
                           ORDER BY {d_ec} DESC, c.centroid_id ASC
                       ) AS rn
                FROM {table} e, {cent} c
            ) WHERE rn = 1"""


def _duckdb_probe_ranks(cent: str, batch: bool) -> str:
    """Centroids ranked per query (q) by dot, ties centroid_id ASC —
    the probe_ranks twin."""
    d_cq = duckdb_dot("c.centroid_vec", "q.qv")
    qid = "q.query_id, " if batch else ""
    part = "PARTITION BY q.query_id " if batch else ""
    return f"""
            SELECT {qid}c.centroid_id,
                   row_number() OVER (
                       {part}ORDER BY {d_cq} DESC, c.centroid_id ASC
                   ) AS probe_rank
            FROM {cent} c, q"""


def _duckdb_ivf_ctes(
    n_centroids: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int | None = None,
    query_vec_id: int | None = None,
    n_queries: int | None = None,
) -> list[str]:
    """The IVF twins' shared CTEs: cent (take_centroids), assigned (id,
    vec, cluster_id), q (search._duckdb_q: one query or a batch)
    and probes (query_id for a batch, centroid_id, probe_rank), cut to
    probe_rank <= nprobe when nprobe is given."""
    probes = _duckdb_probe_ranks("cent", n_queries is not None)
    if nprobe is not None:
        probes = f"SELECT * FROM ({probes}) WHERE probe_rank <= {nprobe}"
    return [
        f"cent AS ({_duckdb_cent(n_centroids, table, id_col, vec_col)})",
        f"assigned AS ({_duckdb_assign(table, 'cent', id_col, vec_col)})",
        _duckdb_q(table, id_col, vec_col, query_vec_id, n_queries),
        f"probes AS ({probes})",
    ]


def _duckdb_ivf_probed(
    alias: str, id_col: str = "vec_id", batch: bool = False
) -> str:
    """Joins restricting the FROM item `alias` to its probed rows — the
    twin of filtering by ivf_probe (or joining _ivf_probe_join, which
    also joins q so each row carries its probing query)."""
    sql = (
        f" JOIN assigned a ON a.{id_col} = {alias}.{id_col}"
        " JOIN probes p ON p.centroid_id = a.cluster_id"
    )
    return sql + (" JOIN q ON q.query_id = p.query_id" if batch else "")


def duckdb_ivf_search(
    query_vec_id: int,
    k: int,
    nprobe: int,
    n_centroids: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    return _duckdb_topk(
        _duckdb_ivf_ctes(
            n_centroids, table, id_col, vec_col, nprobe,
            query_vec_id=query_vec_id,
        ),
        f"{table} r" + _duckdb_ivf_probed("r", id_col),
        duckdb_dot(f"r.{vec_col}", "q.qv"),
        k, table=table, id_col=id_col, vec_col=vec_col,
    )


def _duckdb_lsh_ctes(
    src: str, prefix: str, dims: int, id_col: str, vec_col: str,
    planes: int, bands: int,
) -> str:
    """`{prefix}sk` (id, v, bb0…bb{bands-1}) and `{prefix}banded`
    (+ band, bb) CTEs over the (id_col, vec_col) rows of `src` — the
    twin of `_signbit_sketch` + `_signbit_bands`: identical hyperplanes
    (the md5 family is engine-independent), identical sign bits and
    banding. bb0‖bb1‖… is the full sketch string, the planes in order."""
    hp = _hyperplanes(planes, dims)
    width = _band_width(planes, bands, "planes")

    def bit(p: int) -> str:
        lit = "[" + ", ".join(f"{x!r}::double" for x in hp[p]) + "]"
        return f"(case when {duckdb_dot('v', lit)} > 0 then '1' else '0' end)"

    band_cols = ", ".join(
        "(" + " || ".join(bit(b * width + w) for w in range(width)) + f") AS bb{b}"
        for b in range(bands)
    )
    band_case = (
        "case t.band "
        + " ".join(f"when {b} then bb{b}" for b in range(bands))
        + " end"
    )
    return f"""{prefix}sk AS (
            SELECT id, v, {band_cols}
            FROM (SELECT {id_col} AS id, {vec_col} AS v FROM {src}) _e
        ),
        {prefix}banded AS (
            {_duckdb_bands(f"{prefix}sk", bands, band_case, band="band")}
        )"""


def duckdb_lsh_near_dups(
    emb_sql: str,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 16,
    bands: int = 4,
    assume_normalized: bool = False,
) -> str:
    """Oracle twin of `lsh_near_dups` — identical hyperplanes (the md5
    family is engine-independent), identical sign bits, identical
    banding and exact verification, so the candidate SET and the scores
    match bit-for-bit. `emb_sql` is a complete SELECT producing
    (id_col, vec_col)."""
    cos = (
        duckdb_dot("a.v", "b.v")
        if assume_normalized
        else duckdb_cosine("a.v", "b.v")
    )
    return f"""
        WITH emb AS ({emb_sql}),
        {_duckdb_lsh_ctes("emb", "", dims, id_col, vec_col, planes, bands)}
        SELECT DISTINCT a.id AS id_a, b.id AS id_b, {cos} AS cos
        FROM banded a JOIN banded b ON a.band = b.band AND a.bb = b.bb
        WHERE a.id < b.id AND {cos} >= {threshold}
    """


def lsh_sketch_table(
    emb: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
) -> DataFrame:
    """(id, bits ARRAY<INT>): the hyperplane sign-bit sketch as a
    persistable table. The hyperplane family is the deterministic md5
    derivation (`_hyperplanes`), so a persisted sketch table is
    bit-identical to an inline recomputation — the artifact property
    every incremental form relies on."""
    hp = _hyperplanes(planes, dims)
    vec = F.col(vec_col)
    bits = _signbit_sketch(vec, hp)
    return emb.select(F.col(id_col), bits.alias("bits"))


def lsh_near_dups_incremental(
    corpus: DataFrame,
    new_emb: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 16,
    bands: int = 4,
    assume_normalized: bool = False,
    broadcast_new: bool = True,
    corpus_sketches: DataFrame | None = None,
    cache: bool = True,
    intermediates: list | None = None,
) -> DataFrame:
    """Ingest-time embedding near-dup: each NEW vector vs the EXISTING
    corpus → (new_id, corpus_id, cos ≥ threshold). New-vs-new pairs
    are not reported (run `lsh_near_dups` on the batch); ids may
    overlap across inputs — output columns are labeled by side. The
    embedding-space member of the incremental family
    (minhash_near_dups_incremental / simhash_near_dups_incremental).

    Scale shape: the batch's banded sign-bit sketch BROADCASTS
    (`broadcast_new`) — the corpus is never shuffled; candidates from
    the (band, band-bits) broadcast join, exact dot/cosine verify on
    candidate pairs only (vectors re-attach to the DEDUPED pairs, so
    the join moves id-width rows). At 100 TB pass `corpus_sketches` =
    a persisted (id, bits) table (`lsh_sketch_table`'s shape — same
    planes) and the per-batch cost drops to a sketch-table scan; the
    deterministic hyperplane family makes artifact ≡ inline exact.

    `cache` persists each side's (id, vector, bits) projection before
    use: the banding and the verify re-attach both read it, and when
    the input is itself a computed embedding pipeline an unpersisted
    frame would re-embed the corpus up to 4× (banding + verify on each
    side — measured 10.1 s → ~3 s on the sf0.1 gate). `intermediates`
    receives the persisted frames for caller-side unpersist.
    """
    width = _band_width(planes, bands, "planes")
    hp = _hyperplanes(planes, dims)
    vec = F.col(vec_col)
    bits = _signbit_sketch(vec, hp)

    def sketch(df: DataFrame) -> DataFrame:
        out = df.select(F.col(id_col), vec.alias("__v"), bits.alias("bits"))
        if cache:
            out = out.persist()
            out.count()  # materialize before the racing consumers
            if intermediates is not None:
                intermediates.append(out)
        return out

    if corpus_sketches is not None:
        # artifact path: bits come from the persisted table; vectors
        # from the corpus frame (a parquet scan in production)
        sk_c = corpus_sketches.select(F.col(id_col), F.col("bits")).join(
            corpus.select(F.col(id_col), vec.alias("__v")), id_col
        )
    else:
        sk_c = sketch(corpus)
    sk_n = sketch(new_emb)
    def side(sk: DataFrame, label: str) -> DataFrame:
        return _signbit_bands(sk, id_col, "bits", bands, width).select(
            F.col(id_col).alias(label), "band", "bb"
        )

    pairs = _cross_pairs(
        side(sk_c, "corpus_id"), side(sk_n, "new_id"), ["band", "bb"],
        broadcast_new,
    )
    vc = sk_c.select(F.col(id_col).alias("corpus_id"), F.col("__v").alias("vc"))
    vn = sk_n.select(F.col(id_col).alias("new_id"), F.col("__v").alias("vn"))
    score = (
        dot(F.col("vn"), F.col("vc"))
        if assume_normalized
        else cosine(F.col("vn"), F.col("vc"))
    )
    return (
        pairs.join(vn, "new_id")
        .join(vc, "corpus_id")
        .withColumn("cos", score)
        .filter(F.col("cos") >= threshold)
        .select("new_id", "corpus_id", "cos")
    )


def duckdb_lsh_near_dups_incremental(
    corpus_sql: str,
    new_sql: str,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 16,
    bands: int = 4,
    assume_normalized: bool = False,
) -> str:
    """Twin of lsh_near_dups_incremental: identical hyperplane family,
    band both sides, join, exact verify."""
    cos = (
        duckdb_dot("vn.v", "vc.v")
        if assume_normalized
        else duckdb_cosine("vn.v", "vc.v")
    )

    def side(src: str, name: str) -> str:
        return _duckdb_lsh_ctes(
            f"({src})", f"{name}_", dims, id_col, vec_col, planes, bands
        )

    return f"""
        WITH {side(corpus_sql, 'c')}, {side(new_sql, 'n')},
        cand AS (
            SELECT DISTINCT bn.id AS new_id, bc.id AS corpus_id
            FROM c_banded bc JOIN n_banded bn
              ON bc.band = bn.band AND bc.bb = bn.bb
        )
        SELECT cand.new_id, cand.corpus_id, {cos} AS cos
        FROM cand
        JOIN n_sk vn ON vn.id = cand.new_id
        JOIN c_sk vc ON vc.id = cand.corpus_id
        WHERE {cos} >= {threshold}
    """


def duckdb_lsh_near_dups_capped(
    emb_sql: str,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 16,
    bands: int = 4,
    assume_normalized: bool = False,
    max_bucket_size: int = 16,
    plant_n: int = 0,
    plant_offset: int = 300_000,
    plant_src_id: int = 0,
) -> str:
    """Twin of lsh_near_dups(max_bucket_size=…): buckets over the cap
    emit chain+star pairs ordered by the FULL sign-bit sketch string
    (bb0‖bb1‖…, which is the planes in order — exactly the Spark
    side's concat_ws over __bits) then id; small buckets keep exact
    all-pairs. `plant_n` appends copies of row `plant_src_id`'s vector
    at ids `plant_offset`+i — the identical-embedding hot cluster the
    gate plants on the Spark side."""
    cos = (
        duckdb_dot("va.v", "vb.v")
        if assume_normalized
        else duckdb_cosine("va.v", "vb.v")
    )
    plant = ""
    if plant_n:
        plant = (
            f" UNION ALL SELECT {plant_offset} + s.i AS {id_col},"
            f" e.{vec_col} FROM ({emb_sql}) e,"
            f" unnest(generate_series(0, {plant_n - 1})) s(i)"
            f" WHERE e.{id_col} = {plant_src_id}"
        )
    sk_full = " || ".join(f"bb{b}" for b in range(bands))
    return f"""
        WITH emb AS (SELECT * FROM ({emb_sql}){plant}),
        {_duckdb_lsh_ctes("emb", "", dims, id_col, vec_col, planes, bands)},
        {_duckdb_capped_cand("banded", ["band", "bb"], sk_full, max_bucket_size)}
        SELECT c.id_a, c.id_b, {cos} AS cos
        FROM cand c
        JOIN sk va ON va.id = c.id_a
        JOIN sk vb ON vb.id = c.id_b
        WHERE {cos} >= {threshold}
    """


def probe_ranks(
    queries: DataFrame,
    centroids: DataFrame,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Per-query centroid ranking — the shared probe-table builder for
    every batch form (exact IVF, IVF-PQ, recall sweeps): queries ×
    broadcast(centroids), ranked per query by inner product with
    centroid_id ASC tie-break. → (query_id, query_vec, cluster_id,
    probe_rank). Callers filter probe_rank <= nprobe."""
    qv = F.col(query_vec_col)
    qc = queries.select(query_id_col, query_vec_col).crossJoin(
        F.broadcast(centroids)
    ).select(
        query_id_col,
        query_vec_col,
        "centroid_id",
        dot(qv, F.col("centroid_vec")).alias("__qs"),
    )
    w_probe = Window.partitionBy(query_id_col).orderBy(
        F.col("__qs").desc(), F.col("centroid_id").asc()
    )
    return qc.withColumn("probe_rank", F.row_number().over(w_probe)).select(
        query_id_col, query_vec_col,
        F.col("centroid_id").alias("cluster_id"), "probe_rank",
    )


def _ivf_probe_join(
    rows: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """The batch probe: each query's top-nprobe centroids (probe_ranks)
    broadcast into a join with `rows` on cluster_id — rows × their
    probing queries, carrying query_id and query_vec. On a
    cluster-partitioned table the broadcast keys drive dynamic
    partition pruning; the corpus is never shuffled."""
    probes = (
        probe_ranks(queries, centroids, query_id_col, query_vec_col)
        .filter(F.col("probe_rank") <= nprobe)
        .drop("probe_rank")
    )
    return rows.join(F.broadcast(probes), "cluster_id")


def ivf_search_batch(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Top-k per query over the IVF index for a whole QUERY TABLE —
    the batch-serving shape (mirrors search.batch_search, which is the
    exact full-scan twin).

    Plan: queries × broadcast(centroids) → per-query probe ranking (a
    window over Q×C rows — driver-free, but all data is query-sized) →
    the tiny (Q×nprobe) probe table broadcasts into the join with
    `assigned`, so the corpus is NEVER shuffled; when `assigned` is a
    parquet table partitioned by cluster_id, the broadcast join's
    cluster_id keys drive DYNAMIC partition pruning — each batch scans
    only the union of probed clusters. Final per-query top-k is one
    window over candidates (Σ probed-cluster sizes per query, the IVF
    cost model: nprobe/C of the corpus per query).
    """
    scored = _ivf_probe_join(
        assigned, centroids, queries, nprobe, query_id_col, query_vec_col
    ).select(
        query_id_col,
        id_col,
        dot(F.col(vec_col), F.col(query_vec_col)).alias("score"),
    )
    return topk_batch(scored, k, id_col=id_col, query_id_col=query_id_col)


def duckdb_ivf_search_batch(
    n_queries: int,
    k: int,
    nprobe: int,
    n_centroids: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of `ivf_search_batch` with the take_centroids policy
    and queries = the `n_queries` smallest ids (mirroring q3_batch)."""
    scored = f"""
            SELECT q.query_id, r.{id_col},
                   {duckdb_dot(f"r.{vec_col}", "q.qv")} AS score
            FROM {table} r{_duckdb_ivf_probed("r", id_col, batch=True)}"""
    return _duckdb_topk_batch(
        _duckdb_ivf_ctes(
            n_centroids, table, id_col, vec_col, nprobe, n_queries=n_queries
        ),
        scored, k, table=table, id_col=id_col, vec_col=vec_col,
    )


def _round6(x: Column) -> Column:
    """round(x·1e6)/1e6 + 0.0 — the cross-engine 6-dp recipe (a plain
    round(x, 6) diverges between Spark and DuckDB at half boundaries)."""
    return F.round(x * F.lit(1e6)) / F.lit(1e6) + F.lit(0.0)


def _sweep_curve(
    cands: dict[str, DataFrame],
    truth: DataFrame,
    n_truth: int,
    k: int,
    points: list[int],
    point_col: str,
    held: list[DataFrame],
    id_col: str,
    query_id_col: str = "query_id",
    cost: DataFrame | None = None,
) -> DataFrame:
    """The one accuracy/cost sweep of the recall curves (IVF nprobe and
    codebooks, PQ refine, late-interaction probe width): score the
    candidates once, answer every sweep point's top-k from them.

    `cands` maps each output column to (query_id, id, need, score) rows,
    `need` the smallest point that covers the row. Each row explodes to
    its covering points, ONE window over (source, point, query) ranks
    them all (job count, not scoring, is what a per-point loop pays),
    and the top-k rows semi-join the broadcast `truth` (query_id, id).
    Recall = matches / `n_truth`, 6-dp; `cost` (query_id, id, need)
    adds n_candidates, its rows covered per point. Every point keeps
    its row. → the collected curve as a LocalTableScan frame (point
    [, n_candidates], one recall column per source), `held` released."""
    pts = F.array(*[F.lit(p) for p in points])

    def covering() -> Column:
        return F.explode(F.filter(pts, lambda p: p >= F.col("need"))).alias(
            point_col
        )

    expl = None
    for name, c in cands.items():
        part = c.select(
            F.lit(name).alias("__src"), query_id_col, id_col, "score",
            covering(),
        )
        expl = part if expl is None else expl.unionByName(part)
    w = Window.partitionBy("__src", point_col, query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    counts = (
        expl.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= k)
        .join(F.broadcast(truth), [query_id_col, id_col], "left_semi")
        .groupBy(point_col)
        .agg(*[
            F.count(F.when(F.col("__src") == name, 1)).alias(name)
            for name in cands
        ])
    )
    cols = list(cands)
    if cost is not None:
        cols.insert(0, "n_candidates")
        counts = counts.unionByName(
            cost.select(covering()).groupBy(point_col).agg(
                F.count("*").alias("n_candidates")
            ),
            allowMissingColumns=True,
        )
    got = {p: dict.fromkeys(cols, 0) for p in points}
    for r in counts.collect():
        got[r[point_col]].update(
            (c, v) for c, v in r.asDict().items() if v is not None
        )
    curve = local_frame(
        truth.sparkSession,
        [(p, *[got[p][c] for c in cols]) for p in sorted(points)],
        ", ".join([f"{point_col} int"] + [f"`{c}` bigint" for c in cols]),
    ).select(point_col, *[
        _round6(F.col(c).cast("double") / F.lit(float(n_truth))).alias(c)
        if c in cands else c
        for c in cols
    ])
    return materialize(curve, held)


def _duckdb_exact_truth(cand: str, k: int, id_col: str) -> str:
    """`truth` CTE: the exact top-k (query_id, id) rows of a fully
    scored candidate CTE."""
    return f"""truth AS MATERIALIZED (
            SELECT query_id, {id_col} FROM (
                SELECT query_id, {id_col}, row_number() OVER (
                    PARTITION BY query_id ORDER BY score DESC, {id_col} ASC
                ) AS rnk FROM {cand}
            ) WHERE rnk <= {k}
        )"""


def _duckdb_sweep(
    ctes: list[str],
    cands: dict[str, str],
    truth: str,
    k: int,
    points: list[int],
    point_col: str,
    id_col: str,
    cost: str | None = None,
    extra: str | None = None,
) -> str:
    """Oracle twin of `_sweep_curve`, after the caller's `ctes`: `cands`
    maps each output column to a (query_id, id, need, score) CTE,
    `truth` names a (query_id, id) CTE, `cost` a (query_id, id, need)
    CTE counted per covering point as n_candidates, and `extra` a
    one-row CTE whose columns end every row. A point spine LEFT JOINs
    the per-point counts."""
    p = point_col
    ranked = "\n            UNION ALL".join(
        f"""
            SELECT '{name}' AS src, s.{p}, c.query_id, c.{id_col},
                   row_number() OVER (
                       PARTITION BY s.{p}, c.query_id
                       ORDER BY c.score DESC, c.{id_col} ASC
                   ) AS rk
            FROM sw_pts s JOIN {cte} c ON c.need <= s.{p}"""
        for name, cte in cands.items()
    )
    hits = ", ".join(f"count(*) FILTER (r.src = '{n}') AS {n}" for n in cands)
    ctes = ctes + [
        f"sw_pts AS (SELECT unnest({list(points)}) AS {p})",
        f"sw_ranked AS ({ranked}\n        )",
        f"""sw_hits AS (
            SELECT r.{p}, {hits} FROM sw_ranked r JOIN {truth} t
              ON r.rk <= {k} AND t.query_id = r.query_id
             AND t.{id_col} = r.{id_col}
            GROUP BY r.{p}
        )""",
    ]
    cols, rows = [f"s.{p}"], f"sw_pts s LEFT JOIN sw_hits h USING ({p})"
    if cost is not None:
        ctes.append(f"""sw_cost AS (
            SELECT s.{p}, count(*) AS n
            FROM sw_pts s JOIN {cost} c ON c.need <= s.{p} GROUP BY s.{p}
        )""")
        cols.append("coalesce(n.n, 0) AS n_candidates")
        rows += f" LEFT JOIN sw_cost n USING ({p})"
    cols += [
        f"round(coalesce(h.{n}, 0)::double / (SELECT count(*) FROM {truth})"
        f" * 1e6) / 1e6 + 0.0 AS {n}"
        for n in cands
    ]
    if extra is not None:
        cols.append("x.*")
        rows += f" CROSS JOIN {extra} x"
    sep = ",\n        "
    return f"""
        WITH {sep.join(ctes)}
        SELECT {", ".join(cols)}
        FROM {rows}
        ORDER BY s.{p}
    """


def ivf_recall_curve(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobes: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Recall@k of IVF probe-pruned search vs exact search, per nprobe —
    the accuracy/cost curve that picks the production nprobe (the
    reference's `complexity` knob plays the same role for its graph
    indexes, src/index/searcher.rs:24-38). → (nprobe, recall_r), a
    materialized curve: the one-codebook case of
    `ivf_recall_curves_multi`. nprobe = C degrades to exact, so recall
    hits 1.0 at the sweep's tail — a built-in self-check.

    Scale: this is a DIAGNOSTIC run on a query SAMPLE (Q rows) — the
    exact baseline is a Q×N scan by construction. Run it on a sampled
    query set against the production corpus, not per-query online.
    """
    return ivf_recall_curves_multi(
        assigned.withColumnRenamed("cluster_id", "cluster_id__"),
        {"": centroids}, queries, k, nprobes, id_col, vec_col,
        query_id_col, query_vec_col,
    ).withColumnRenamed("recall__r", "recall_r")


def ivf_recall_curves_multi(
    assigned_multi: DataFrame,
    codebooks: dict[str, DataFrame],
    queries: DataFrame,
    k: int = 10,
    nprobes: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Recall@k per nprobe for SEVERAL codebooks over ONE corpus — the
    codebook-comparison diagnostic (stale-vs-rebuilt drift costing,
    take-vs-kmeans policy choice). `assigned_multi` carries one
    `cluster_id__<tag>` column per codebook (attach them all in one
    assignment pass). → (nprobe, recall_<tag>_r ...), a materialized
    curve, micro-averaged; nprobe = C closes every curve at 1.0.

    The IVF score source of `_sweep_curve`: per codebook the Q×C probe
    table (probe_ranks) broadcasts into a join on its cluster column,
    attaching each (query, vector) pair's probe rank — its covering
    nprobe; the first join also brings the query vector. Every pair is
    scored ONCE into a persisted table whose exact top-k is the truth,
    and all codebooks rank in the core's one window."""
    nprobes = nprobes or [1, 2, 4, 8, 16]
    scored = assigned_multi
    for i, (tag, cents) in enumerate(codebooks.items()):
        probes = probe_ranks(queries, cents, query_id_col, query_vec_col)
        scored = scored.join(
            F.broadcast(probes.select(
                query_id_col,
                *([] if i else [query_vec_col]),
                F.col("cluster_id").alias(f"cluster_id__{tag}"),
                F.col("probe_rank").alias(f"__need{i}"),
            )),
            [f"cluster_id__{tag}"] + ([query_id_col] if i else []),
        )
    scored = scored.select(
        query_id_col,
        id_col,
        *[f"__need{i}" for i in range(len(codebooks))],
        dot(F.col(vec_col), F.col(query_vec_col)).alias("score"),
    ).persist()
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    truth = (
        scored.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= k)
        .select(query_id_col, id_col)
        .persist()
    )
    n_truth = truth.count()  # materializes both persists
    cands = {
        f"recall_{tag}_r": scored.select(
            query_id_col, id_col, F.col(f"__need{i}").alias("need"), "score"
        )
        for i, tag in enumerate(codebooks)
    }
    return _sweep_curve(
        cands, truth, n_truth, k, nprobes, "nprobe", [scored, truth],
        id_col, query_id_col,
    )


def ivf_drift_shares(assigned: DataFrame, built: Column) -> DataFrame:
    """Per-cluster occupancy of an IVF assignment split into the rows
    present when the codebook was derived (`built` true) and the rows
    appended since: → (cluster_id, n_built, n_appended, built_share,
    appended_share, drift_ratio). Shares are of their own era's total;
    drift_ratio = appended_share / built_share, NULL for a cluster with
    no built mass. One groupBy; C rows."""
    per = assigned.groupBy("cluster_id").agg(
        F.count(F.when(built, 1)).alias("n_built"),
        F.count(F.when(~built, 1)).alias("n_appended"),
    )
    tot = per.agg(
        F.sum("n_built").alias("__tb"), F.sum("n_appended").alias("__ta")
    )
    built_share = F.col("n_built") / F.greatest("__tb", F.lit(1))
    appended_share = F.col("n_appended") / F.greatest("__ta", F.lit(1))
    return per.crossJoin(F.broadcast(tot)).select(
        "cluster_id",
        "n_built",
        "n_appended",
        built_share.alias("built_share"),
        appended_share.alias("appended_share"),
        F.when(
            F.col("n_built") > 0, appended_share / built_share
        ).alias("drift_ratio"),
    )


def duckdb_ivf_recall_curve(
    n_queries: int,
    k: int,
    nprobes: list[int],
    n_centroids: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of `ivf_recall_curve` with the take_centroids policy
    and queries = the `n_queries` smallest ids (the q2 conventions): the
    probed candidates carry their probe rank as the covering nprobe
    into `_duckdb_sweep`."""
    cand = f"""cand AS MATERIALIZED (
            SELECT q.query_id, r.{id_col}, p.probe_rank AS need,
                   {duckdb_dot(f"r.{vec_col}", "q.qv")} AS score
            FROM {table} r{_duckdb_ivf_probed("r", id_col, batch=True)}
        )"""
    return _duckdb_sweep(
        _duckdb_ivf_ctes(
            n_centroids, table, id_col, vec_col, n_queries=n_queries
        )
        + [cand, _duckdb_exact_truth("cand", k, id_col)],
        {"recall_r": "cand"}, "truth", k, nprobes, "nprobe", id_col,
    )


def duckdb_ivf_drift_recall(
    n_queries: int,
    k: int,
    nprobes: list[int],
    n_centroids: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin of the drift-recall gate: corpus = `table`
    interleaved with a negated copy (odd ids), STALE centroids = first
    C built-era (even) ids, FRESH = first C corpus ids, recall@k per
    nprobe under each codebook vs exact ground truth over the first
    2·n_queries mixed queries (`_duckdb_sweep`), plus the drift
    report's max per-cluster ratio over the stale assignment. Corpus,
    assignments and candidate frames are AS MATERIALIZED — each is
    consumed more than once and DuckDB inlines CTEs (the measured
    unrolled-oracle rule)."""
    ctes = [
        f"""corpus AS MATERIALIZED (
            SELECT {id_col} * 2 AS {id_col}, {vec_col} FROM {table}
            UNION ALL
            SELECT {id_col} * 2 + 1 AS {id_col},
                   list_transform({vec_col}, x -> -x) AS {vec_col}
            FROM {table}
        )""",
        f"""stale_cent AS (
            SELECT {id_col} AS centroid_id, {vec_col} AS centroid_vec
            FROM corpus
            WHERE {id_col} % 2 = 0 AND {id_col} < {2 * n_centroids}
        )""",
        f"fresh_cent AS ({_duckdb_cent(n_centroids, 'corpus', id_col, vec_col)})",
        f"""q AS (
            SELECT {id_col} AS query_id, {vec_col} AS qv
            FROM corpus WHERE {id_col} < {2 * n_queries}
        )""",
    ]
    for tag in ("stale", "fresh"):
        ctes += [
            f"""a_{tag} AS MATERIALIZED (
            {_duckdb_assign("corpus", f"{tag}_cent", id_col, vec_col)}
        )""",
            f"pr_{tag} AS ({_duckdb_probe_ranks(f'{tag}_cent', batch=True)})",
            f"""cand_{tag} AS MATERIALIZED (
            SELECT q.query_id, a.{id_col}, pr.probe_rank AS need,
                   {duckdb_dot(f"a.{vec_col}", "q.qv")} AS score
            FROM a_{tag} a
            JOIN pr_{tag} pr ON a.cluster_id = pr.centroid_id
            JOIN q ON q.query_id = pr.query_id
        )""",
        ]
    ctes += [
        _duckdb_exact_truth("cand_stale", k, id_col),
        f"""per AS MATERIALIZED (
            SELECT cluster_id,
                   count(*) FILTER ({id_col} % 2 = 0)::double AS n_built,
                   count(*) FILTER ({id_col} % 2 = 1)::double AS n_appended
            FROM a_stale GROUP BY cluster_id
        )""",
        """drift AS (
            SELECT round(max(
                       CASE WHEN n_built > 0 THEN
                           (n_appended / greatest(
                               (SELECT sum(b.n_appended) FROM per b), 1))
                           / (n_built / greatest(
                               (SELECT sum(b.n_built) FROM per b), 1))
                       END), 6) + 0.0 AS drift_max_r
            FROM per
        )""",
    ]
    return _duckdb_sweep(
        ctes,
        {"recall_stale_r": "cand_stale", "recall_fresh_r": "cand_fresh"},
        "truth", k, nprobes, "nprobe", id_col, extra="drift",
    )
