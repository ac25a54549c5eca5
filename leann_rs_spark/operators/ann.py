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

from pyspark.sql import Column, DataFrame, functions as F

from leann_rs_spark.functions.vector import (
    duckdb_dot, dot, lit_vec, lit_vec_sql,
)
from leann_rs_spark.operators.search import (
    _duckdb_q, _duckdb_topk, _duckdb_topk_batch, exact_search, topk_batch,
)


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
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)

    def norm(c) -> list[float]:
        n = max(math.sqrt(sum(float(x) * float(x) for x in c)), 1e-12)
        return [float(x) / n for x in c]

    spark = vectors.sparkSession
    return spark.createDataFrame(
        [(i, norm(c)) for i, c in enumerate(model.clusterCenters())],
        schema="centroid_id bigint, centroid_vec array<double>",
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
    import math

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
        rows = merged.collect()
        spark = vectors.sparkSession

        def _n(c) -> list[float]:
            n = max(math.sqrt(sum(float(x) * float(x) for x in c)), 1e-12)
            return [float(x) / n for x in c]

        centroids = spark.createDataFrame(
            [(int(r["centroid_id"]), _n(r["centroid_vec"])) for r in rows],
            schema="centroid_id bigint, centroid_vec array<double>",
        )
    return centroids


def ivf_probe_ids(
    centroids: DataFrame, query_vector: list[float], nprobe: int
) -> list[int]:
    """The ids of the nprobe centroids nearest the query — the one probe
    every IVF composition uses. Centroids rank by inner product, ties
    centroid_id ASC; the C-row ranking is collected on the driver, so a
    caller can read just the probed `cluster_id=` directories."""
    probe_rows = (
        centroids.select(
            "centroid_id",
            dot(F.col("centroid_vec"), lit_vec(query_vector)).alias("__qs"),
        )
        .orderBy(F.col("__qs").desc(), F.col("centroid_id").asc())
        .limit(nprobe)
        .collect()
    )
    return [r["centroid_id"] for r in probe_rows]


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
    from leann_rs_spark.functions.vector import cosine

    hp = _hyperplanes(planes, dims)
    width = planes // bands
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
    banded = sk.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(
                        "",
                        F.transform(
                            F.slice(F.col("__bits"), b * width + 1, width),
                            lambda x: x.cast("string"),
                        ),
                    ).alias("bb"),
                ),
            )
        ).alias("e"),
    ).select(id_col, F.col("e.band"), F.col("e.bb"))
    spanning = None
    if max_bucket_size is not None:
        from leann_rs_spark.operators.dedup import _chain_star_pairs

        # three consumers (size aggregate, big join, small anti-join):
        # persist per the measured multi-consumer rule; the oversized-
        # key aggregate IS the materializing action, and its (tiny,
        # broadcast-bound anyway) result comes back as driver rows so
        # the final action broadcasts a literal instead of re-running
        # the aggregate over the cache (one job, not two — r10 fold,
        # same as the MinHash/SimHash guards).
        banded = banded.persist()
        key_schema = banded.select("band", "bb").schema
        hot = (
            banded.groupBy("band", "bb")
            .agg(F.count("*").alias("__bsz"))
            .filter(F.col("__bsz") > max_bucket_size)
            .select("band", "bb")
            .collect()
        )
        if intermediates is not None:
            intermediates.append(banded)
        if hot:
            from leann_rs_spark.operators.dedup import _local_keys_frame

            big_keys = F.broadcast(
                _local_keys_frame(emb.sparkSession, hot, key_schema)
            )
            # order key = the FULL sign-bit sketch (not just the
            # bucket's band): identical vectors share the whole
            # sketch, so a true dup-group inside a hot bucket sorts
            # contiguous and stays connected through its chain links.
            sk_str = sk.select(
                F.col(id_col),
                F.concat_ws(
                    "",
                    F.transform(F.col("__bits"), lambda x: x.cast("string")),
                ).alias("__sk"),
            )
            big = banded.join(big_keys, ["band", "bb"]).join(sk_str, id_col)
            spanning = _chain_star_pairs(
                big, ["band", "bb"], ["__sk", id_col], id_col
            )
            banded = banded.join(big_keys, ["band", "bb"], "left_anti")
        # with no bucket over the cap the guard is the identity: keep
        # the cached banded frame and the exact all-pairs verify below.
    if assume_normalized:
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
            va = sk.select(F.col(id_col).alias("id_a"), F.col("__v").alias("va"))
            vb = sk.select(F.col(id_col).alias("id_b"), F.col("__v").alias("vb"))
            big_scored = (
                spanning.join(va, "id_a")
                .join(vb, "id_b")
                .withColumn("cos", dot(F.col("va"), F.col("vb")))
                .filter(F.col("cos") >= threshold)
                .select("id_a", "id_b", "cos")
            )
            kernel_out = kernel_out.unionByName(big_scored)
        return kernel_out.dropDuplicates(["id_a", "id_b"])

    a = banded.select("band", "bb", F.col(id_col).alias("id_a"))
    b = banded.select("band", "bb", F.col(id_col).alias("id_b"))
    pairs = (
        a.join(b, ["band", "bb"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if spanning is not None:
        pairs = pairs.unionByName(spanning)
    pairs = pairs.dropDuplicates(["id_a", "id_b"])
    va = sk.select(F.col(id_col).alias("id_a"), F.col("__v").alias("va"))
    vb = sk.select(F.col(id_col).alias("id_b"), F.col("__v").alias("vb"))
    score = (
        dot(F.col("va"), F.col("vb"))
        if assume_normalized
        else cosine(F.col("va"), F.col("vb"))
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", score)
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


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
    hp = _hyperplanes(planes, dims)
    width = planes // bands

    def bit(p: int) -> str:
        lit = "[" + ", ".join(f"{x!r}::double" for x in hp[p]) + "]"
        return f"(case when {duckdb_dot(vec_col, lit)} > 0 then '1' else '0' end)"

    band_cols = ", ".join(
        "(" + " || ".join(bit(b * width + w) for w in range(width)) + f") AS bb{b}"
        for b in range(bands)
    )
    band_case = (
        "case t.band "
        + " ".join(f"when {b} then bb{b}" for b in range(bands))
        + " end"
    )
    from leann_rs_spark.functions.vector import duckdb_cosine

    cos = (
        duckdb_dot("a.v", "b.v")
        if assume_normalized
        else duckdb_cosine("a.v", "b.v")
    )
    return f"""
        WITH emb AS ({emb_sql}),
        sk AS (SELECT {id_col} AS id, {vec_col} AS v, {band_cols} FROM emb),
        banded AS (
            SELECT id, v, t.band, {band_case} AS bb
            FROM sk, unnest(generate_series(0, {bands - 1})) t(band)
        )
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
    from leann_rs_spark.functions.vector import cosine

    width = planes // bands
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

    def banded(sk: DataFrame, out_id: str) -> DataFrame:
        return sk.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.concat_ws(
                            "",
                            F.transform(
                                F.slice(F.col("bits"), b * width + 1, width),
                                lambda x: x.cast("string"),
                            ),
                        ).alias("bb"),
                    ),
                )
            ).alias("e"),
        ).select(out_id, F.col("e.band"), F.col("e.bb"))

    banded_c = banded(sk_c, "corpus_id")
    banded_n = banded(sk_n, "new_id")
    if broadcast_new:
        banded_n = F.broadcast(banded_n)
    pairs = (
        banded_c.join(banded_n, ["band", "bb"])
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
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
    hp = _hyperplanes(planes, dims)
    width = planes // bands

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
    from leann_rs_spark.functions.vector import duckdb_cosine

    cos = (
        duckdb_dot("vn.v", "vc.v")
        if assume_normalized
        else duckdb_cosine("vn.v", "vc.v")
    )

    def side(src: str, name: str) -> str:
        return f"""
        {name}_sk AS (
            SELECT id, v, {band_cols}
            FROM (SELECT {id_col} AS id, {vec_col} AS v FROM ({src})) _e
        ),
        {name}_banded AS (
            SELECT id, t.band, {band_case} AS bb
            FROM {name}_sk, unnest(generate_series(0, {bands - 1})) t(band)
        )"""

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
    hp = _hyperplanes(planes, dims)
    width = planes // bands

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
    sk_full = " || ".join(f"bb{b}" for b in range(bands))
    from leann_rs_spark.functions.vector import duckdb_cosine

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
    bb_list = ", ".join(f"bb{b}" for b in range(bands))
    return f"""
        WITH emb AS (SELECT * FROM ({emb_sql}){plant}),
        skb AS (
            SELECT id, v, {band_cols}
            FROM (SELECT {id_col} AS id, {vec_col} AS v FROM emb) _e
        ),
        sk AS (SELECT id, v, {sk_full} AS skf, {bb_list} FROM skb),
        banded AS (
            SELECT id, skf, t.band, {band_case} AS bb
            FROM sk, unnest(generate_series(0, {bands - 1})) t(band)
        ),
        big AS (
            SELECT band, bb FROM banded
            GROUP BY band, bb HAVING count(*) > {max_bucket_size}
        ),
        small_cand AS (
            SELECT a.id AS id_a, b2.id AS id_b
            FROM banded a JOIN banded b2
              ON a.band = b2.band AND a.bb = b2.bb AND a.id < b2.id
            WHERE NOT EXISTS (
              SELECT 1 FROM big g WHERE g.band = a.band AND g.bb = a.bb
            )
        ),
        ranked AS (
            SELECT id, lead(id) OVER w AS nxt, first_value(id) OVER w AS head
            FROM banded JOIN big USING (band, bb)
            WINDOW w AS (PARTITION BY band, bb ORDER BY skf, id)
        ),
        cand AS (
            SELECT DISTINCT id_a, id_b FROM (
              SELECT id_a, id_b FROM small_cand
              UNION ALL
              SELECT least(id, nxt), greatest(id, nxt) FROM ranked
              WHERE nxt IS NOT NULL
              UNION ALL
              SELECT least(id, head), greatest(id, head) FROM ranked
              WHERE id <> head
            )
        )
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
    from pyspark.sql import Window

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
    intermediates: list | None = None,
) -> DataFrame:
    """Recall@k of IVF probe-pruned search vs exact search, per nprobe —
    the accuracy/cost curve that picks the production nprobe (the
    reference's `complexity` knob plays the same role for its graph
    indexes, src/index/searcher.rs:24-38).

    One pass: every (query, vector) candidate is scored ONCE with its
    cluster's per-query probe rank attached; each sweep point is then a
    top-k window over the `probe_rank <= p` subset, and exact = the
    unfiltered top-k (nprobe = C degrades to exact, so recall hits 1.0
    at the sweep's tail — a built-in self-check). Micro-averaged:
    recall = |ivf top-k ∩ exact top-k| / |exact top-k| over all
    queries. The scored-candidates frame is persisted across the
    sweep's consumers; `intermediates` (a caller-owned list) receives
    the persisted frames so a long-lived driver sweeping many
    configurations can unpersist them after materializing the curve.

    Scale: this is a DIAGNOSTIC run on a query SAMPLE (Q rows) — the
    exact baseline is a Q×N scan by construction. Run it on a sampled
    query set against the production corpus, not per-query online.
    """
    from pyspark.sql import Window

    nprobes = nprobes or [1, 2, 4, 8, 16]
    qv = F.col(query_vec_col)
    probes = probe_ranks(queries, centroids, query_id_col, query_vec_col)
    cand = assigned.join(F.broadcast(probes), "cluster_id").select(
        query_id_col,
        id_col,
        "probe_rank",
        dot(F.col(vec_col), qv).alias("score"),
    ).persist()
    w_rank = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    exact = (
        cand.withColumn("__rnk", F.row_number().over(w_rank))
        .filter(F.col("__rnk") <= k)
        .select(query_id_col, id_col)
        .persist()
    )
    n_exact = exact.count()  # materializes both persists
    if intermediates is not None:
        intermediates.extend([cand, exact])
    # ONE window job for the whole sweep (the per-point loop paid a
    # full window + semi-join + agg job per nprobe — job count, not
    # scoring, dominated; same restructure as ivf_recall_curves_multi):
    # each candidate explodes to the sweep points that include it
    # (p >= probe_rank, |sweep| ≈ 5 bounds the blowup), the window
    # partitions by (nprobe, query), the tiny exact set broadcasts.
    expl = cand.select(
        query_id_col,
        id_col,
        "score",
        F.explode(
            F.filter(
                F.array(*[F.lit(p) for p in nprobes]),
                lambda p: p >= F.col("probe_rank"),
            )
        ).alias("nprobe"),
    )
    w_point = Window.partitionBy("nprobe", query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    hits = (
        expl.withColumn("__rnk", F.row_number().over(w_point))
        .filter(F.col("__rnk") <= k)
        .join(F.broadcast(exact), [query_id_col, id_col], "left_semi")
        .groupBy("nprobe")
        .agg(F.count("*").alias("n"))
    )
    spine = assigned.sparkSession.createDataFrame(
        [(p,) for p in nprobes], "nprobe int"
    )
    out = spine.join(hits, "nprobe", "left").select(
        "nprobe",
        (
            F.round(
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.lit(float(n_exact)),
                6,
            )
            + F.lit(0.0)
        ).alias("recall_r"),
    )
    return out.orderBy("nprobe")


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
    and queries = the `n_queries` smallest ids (the q2 conventions)."""
    ctes = ",\n".join(
        _duckdb_ivf_ctes(
            n_centroids, table, id_col, vec_col, n_queries=n_queries
        )
    )
    sweep = ", ".join(str(p) for p in nprobes)
    return f"""
        WITH {ctes},
        cand AS (
            SELECT q.query_id, r.{id_col}, p.probe_rank,
                   {duckdb_dot(f"r.{vec_col}", "q.qv")} AS score
            FROM {table} r{_duckdb_ivf_probed("r", id_col, batch=True)}
        ),
        exact AS (
            SELECT query_id, {id_col} FROM (
                SELECT query_id, {id_col}, row_number() OVER (
                    PARTITION BY query_id ORDER BY score DESC, {id_col} ASC
                ) AS rnk FROM cand
            ) WHERE rnk <= {k}
        ),
        sweep AS (SELECT unnest([{sweep}]) AS nprobe),
        topk AS (
            SELECT nprobe, query_id, {id_col} FROM (
                SELECT s.nprobe, c.query_id, c.{id_col},
                       row_number() OVER (
                           PARTITION BY s.nprobe, c.query_id
                           ORDER BY c.score DESC, c.{id_col} ASC
                       ) AS rnk
                FROM sweep s JOIN cand c ON c.probe_rank <= s.nprobe
            ) WHERE rnk <= {k}
        ),
        hits AS (
            SELECT t.nprobe, count(*) AS n
            FROM topk t JOIN exact e
              ON t.query_id = e.query_id AND t.{id_col} = e.{id_col}
            GROUP BY t.nprobe
        )
        SELECT s.nprobe,
               round(coalesce(h.n, 0)::double
                     / (SELECT count(*) FROM exact), 6) + 0.0 AS recall_r
        FROM sweep s LEFT JOIN hits h USING (nprobe)
        ORDER BY s.nprobe
    """


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
    2·n_queries mixed queries, plus the drift report's max per-cluster
    ratio over the stale assignment. Corpus and both candidate frames
    are AS MATERIALIZED — each is consumed more than once and DuckDB
    inlines CTEs (CLAUDE.md measured rule)."""

    def pipeline(tag: str, cent: str) -> str:
        d_aq = duckdb_dot(f"a.{vec_col}", "q.qv")
        return f"""
        a_{tag} AS MATERIALIZED (
            {_duckdb_assign("corpus", cent, id_col, vec_col)}
        ),
        pr_{tag} AS ({_duckdb_probe_ranks(cent, batch=True)}),
        cand_{tag} AS MATERIALIZED (
            SELECT q.query_id, a.{id_col}, pr.probe_rank, {d_aq} AS score
            FROM a_{tag} a
            JOIN pr_{tag} pr ON a.cluster_id = pr.centroid_id
            JOIN q ON q.query_id = pr.query_id
        ),
        exact_{tag} AS MATERIALIZED (
            SELECT query_id, {id_col} FROM (
                SELECT query_id, {id_col}, row_number() OVER (
                    PARTITION BY query_id ORDER BY score DESC, {id_col} ASC
                ) AS rnk FROM cand_{tag}
            ) WHERE rnk <= {k}
        ),
        topk_{tag} AS (
            SELECT nprobe, query_id, {id_col} FROM (
                SELECT s.nprobe, c.query_id, c.{id_col},
                       row_number() OVER (
                           PARTITION BY s.nprobe, c.query_id
                           ORDER BY c.score DESC, c.{id_col} ASC
                       ) AS rnk
                FROM sweep s JOIN cand_{tag} c ON c.probe_rank <= s.nprobe
            ) WHERE rnk <= {k}
        ),
        recall_{tag} AS (
            SELECT s.nprobe,
                   round(coalesce(h.n, 0)::double
                         / (SELECT count(*) FROM exact_{tag}), 6) + 0.0
                       AS recall_{tag}_r
            FROM sweep s LEFT JOIN (
                SELECT t.nprobe, count(*) AS n
                FROM topk_{tag} t JOIN exact_{tag} e
                  ON t.query_id = e.query_id AND t.{id_col} = e.{id_col}
                GROUP BY t.nprobe
            ) h USING (nprobe)
        )"""

    sweep = ", ".join(str(p) for p in nprobes)
    return f"""
        WITH corpus AS MATERIALIZED (
            SELECT {id_col} * 2 AS {id_col}, {vec_col} FROM {table}
            UNION ALL
            SELECT {id_col} * 2 + 1 AS {id_col},
                   list_transform({vec_col}, x -> -x) AS {vec_col}
            FROM {table}
        ),
        stale_cent AS (
            SELECT {id_col} AS centroid_id, {vec_col} AS centroid_vec
            FROM corpus
            WHERE {id_col} % 2 = 0 AND {id_col} < {2 * n_centroids}
        ),
        fresh_cent AS ({_duckdb_cent(n_centroids, "corpus", id_col, vec_col)}),
        q AS (
            SELECT {id_col} AS query_id, {vec_col} AS qv
            FROM corpus WHERE {id_col} < {2 * n_queries}
        ),
        sweep AS (SELECT unnest([{sweep}]) AS nprobe),
        {pipeline("stale", "stale_cent")},
        {pipeline("fresh", "fresh_cent")},
        drift AS (
            SELECT round(max(
                       CASE WHEN n_built > 0 THEN
                           (n_appended / greatest(
                               (SELECT sum(b.n_appended) FROM per b), 1))
                           / (n_built / greatest(
                               (SELECT sum(b.n_built) FROM per b), 1))
                       END), 6) + 0.0 AS drift_max_r
            FROM per
        ),
        per AS MATERIALIZED (
            SELECT cluster_id,
                   count(*) FILTER ({id_col} % 2 = 0)::double AS n_built,
                   count(*) FILTER ({id_col} % 2 = 1)::double AS n_appended
            FROM a_stale GROUP BY cluster_id
        )
        SELECT s.nprobe, rs.recall_stale_r, rf.recall_fresh_r, d.drift_max_r
        FROM sweep s
        JOIN recall_stale rs USING (nprobe)
        JOIN recall_fresh rf USING (nprobe)
        CROSS JOIN drift d
        ORDER BY s.nprobe
    """


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
    intermediates: list | None = None,
) -> DataFrame:
    """Recall@k per nprobe for SEVERAL codebooks over ONE corpus — the
    codebook-comparison diagnostic (stale-vs-rebuilt drift costing,
    take-vs-kmeans policy choice). `assigned_multi` carries one
    `cluster_id__<tag>` column per codebook (attach them all in one
    assignment pass).

    Physical shape (measured: the job-count, not the dot products, is
    what the per-codebook ivf_recall_curve loop pays for — 14 window
    jobs for 2 codebooks × 5 points): score every (query, vector) pair
    ONCE into a persisted table; derive the exact ground truth ONCE
    (Q·k rows — broadcastable); then ALL (codebook, nprobe, query)
    top-k ranks come out of ONE window job — each candidate explodes
    only to the sweep points that include it (probe_rank <= p), the
    window partitions by (tag, nprobe, query), and the exact set
    broadcast-semi-joins the survivors. |sweep| ≈ 5 bounds the blowup.

    → (nprobe, recall_<tag>_r ...), micro-averaged like
    ivf_recall_curve; nprobe = C still closes every curve at 1.0."""
    from pyspark.sql import Window

    nprobes = nprobes or [1, 2, 4, 8, 16]
    tags = list(codebooks)
    qv = F.col(query_vec_col)
    scored = assigned_multi.join(
        F.broadcast(queries), how="cross"
    ).select(
        query_id_col,
        id_col,
        *[f"cluster_id__{t}" for t in tags],
        dot(F.col(vec_col), qv).alias("score"),
    ).persist()
    w_exact = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    exact = (
        scored.withColumn("__rnk", F.row_number().over(w_exact))
        .filter(F.col("__rnk") <= k)
        .select(query_id_col, id_col)
        .persist()
    )
    n_exact = exact.count()
    if intermediates is not None:
        intermediates.extend([scored, exact])
    sweep_arr = F.array(*[F.lit(p) for p in nprobes])
    per_tag = []
    for tag in tags:
        probes = probe_ranks(
            queries, codebooks[tag], query_id_col, query_vec_col
        ).select(query_id_col, "cluster_id", "probe_rank")
        per_tag.append(
            scored.join(
                F.broadcast(probes),
                (F.col(f"cluster_id__{tag}") == probes["cluster_id"])
                & (scored[query_id_col] == probes[query_id_col]),
            ).select(
                F.lit(tag).alias("__tag"),
                scored[query_id_col],
                scored[id_col],
                "probe_rank",
                "score",
            )
        )
    cand = per_tag[0]
    for c in per_tag[1:]:
        cand = cand.unionByName(c)
    expl = cand.select(
        "__tag",
        query_id_col,
        id_col,
        "score",
        F.explode(
            F.filter(sweep_arr, lambda p: p >= F.col("probe_rank"))
        ).alias("nprobe"),
    )
    w_point = Window.partitionBy("__tag", "nprobe", query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    hits = (
        expl.withColumn("__rnk", F.row_number().over(w_point))
        .filter(F.col("__rnk") <= k)
        .join(F.broadcast(exact), [query_id_col, id_col], "left_semi")
        .groupBy("__tag", "nprobe")
        .agg(F.count("*").alias("n"))
        .groupBy("nprobe")
        .pivot("__tag", tags)
        .agg(F.first("n"))
    )
    # explicit sweep spine: a point where EVERY codebook scores zero
    # hits would otherwise drop out of the grouped frame entirely
    spine = assigned_multi.sparkSession.createDataFrame(
        [(p,) for p in nprobes], "nprobe int"
    )
    hits = spine.join(hits, "nprobe", "left")
    out = hits.select(
        "nprobe",
        *[
            (
                F.round(
                    F.coalesce(F.col(t), F.lit(0)).cast("double")
                    / F.lit(float(n_exact)),
                    6,
                )
                + F.lit(0.0)
            ).alias(f"recall_{t}_r")
            for t in tags
        ],
    )
    return out.orderBy("nprobe")
