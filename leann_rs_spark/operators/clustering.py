"""Embedding-space clustering — domain assignment and SemDeDup.

Training-data pipelines cluster corpus embeddings for two jobs the
reference's single-node ANN backends never face at 100 TB:

  1. **Domain / topic assignment** — label every document with its
     nearest centroid so downstream mixing (operators/sampling.py,
     weighted_mix) can rebalance sources by SEMANTIC domain, not just
     by provenance.
  2. **Semantic deduplication** (SemDeDup, Abbas et al. 2023,
     arXiv:2303.09540) — restrict the quadratic near-duplicate pair
     search to WITHIN each cluster. Exact all-pairs cosine dedup
     (operators/dedup.py:embedding_near_dups) is O(N²/2) and refused
     above a row cap; hyperplane LSH (operators/ann.py:lsh_near_dups)
     bounds pair work by sketch collisions. Cluster-partitioned dedup
     is the third point in that design space: pair work is
     Σ_c |cluster_c|² — with a balanced codebook of C clusters that is
     N²/C, and the pair join is a plain equi-join on cluster_id that
     Catalyst shuffles ONCE, with AQE handling cluster-size skew.

Centroid policy is pluggable exactly as in operators/ann.py: the
deterministic `take_centroids` sample keeps the oracle pure-SQL (the
centroid set is derivable from the table itself), and
`kmeans_centroids(seed)` is the production drop-in — a learned codebook
balances cluster sizes, which is what makes the N²/C bound real on
skewed corpora. The oracle pins THIS module's assignment and pair
math, not the codebook policy.

Assignment ranks by full cosine by default (SemDeDup is defined on
angular similarity and corpus embeddings are not guaranteed
normalized); `metric="ip"` switches both assignment and pair
verification to plain dot products for declared-normalized input —
same ranking, none of the per-(row, centroid) norm folds. Both engines
compute either metric with the same double-fold (functions/vector.py),
so assignments and pair scores match bit-for-bit.

Reference parity note: the reference has no clustering surface — this
module is part of the brief's large-scale-training-pipeline extension
(SURVEY.md §2.5), alongside dedup.py and sampling.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from leann_rs_spark.functions.vector import (
    cosine,
    dot,
    duckdb_cosine,
    duckdb_dot,
    lit_vec,
    lit_vec_sql,
)
from leann_rs_spark.operators.ann import IVF_INLINE_MAX_CENTROIDS
from leann_rs_spark.utils import local_frame


def _score_fn(metric: str):
    if metric == "cosine":
        return cosine
    if metric == "ip":
        return dot
    raise ValueError(f"metric must be 'cosine' or 'ip', got {metric!r}")


def cluster_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    inline_max: int = IVF_INLINE_MAX_CENTROIDS,
    metric: str = "cosine",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """→ (id_col, vec_col, *extra_cols, cluster_id, cos): nearest
    centroid by cosine.

    `extra_cols` are carried through unchanged (the ivf_assign
    contract): on the broadcast path they join id_col as the re-collapse
    grouping key, so (id_col, *extra_cols) MUST uniquely identify input
    rows — same rule ivf_assign(validate=True) enforces.

    Physical shape mirrors operators/ann.py:ivf_assign (same
    inline-vs-broadcast switch, same MAX(struct(score, -centroid_id))
    argmax with centroid_id-ASC tie-break):

      * C ≤ inline_max: centroids become a literal array of structs and
        assignment is a pure PROJECTION — one map pass over the
        vectors, no join, no shuffle. The one extra cost vs ivf_assign
        is cosine's norm folds per centroid; for L2-normalized
        embeddings use `ivf_assign` (plain dot) instead — same argmax.
      * C > inline_max: broadcast join + map-side partial MAX — the
        shuffle carries N rows, not N×C.

    Scores are full cosine so the output doubles are directly
    comparable to dedup/ANN thresholds and to the DuckDB oracle.
    `metric="ip"` scores with the plain dot product — for L2-normalized
    embeddings (embed_documents output) the ranking is identical and
    the per-centroid norm folds disappear (norms are a per-ROW
    quantity; never pay them per (row, centroid)).
    """
    score = _score_fn(metric)
    cent_df = centroids.select("centroid_id", "centroid_vec")
    cents = sorted(
        cent_df.limit(inline_max + 1).collect(),
        key=lambda r: r["centroid_id"],
    )
    if not cents:
        # an empty codebook would silently assign NULL clusters
        raise ValueError("cluster_assign: centroids is empty")
    vec = F.col(vec_col)
    if len(cents) <= inline_max:
        # one SQL-parse call instead of ~C*(dims+3) py4j calls
        # (functions/vector.lit_vec): a C=16 x d=64 codebook cost ~1.3s
        # of pure driver time in the per-element form, zero job time
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
                    score(vec, c["cv"]).alias("s"), (-c["cid"]).alias("neg_id")
                ),
            )
        )
        return vectors.withColumn("__b", best).select(
            id_col,
            vec_col,
            *(extra_cols or []),
            (-F.col("__b.neg_id")).alias("cluster_id"),
            F.col("__b.s").alias("cos"),
        )
    scored = vectors.crossJoin(F.broadcast(cent_df)).select(
        F.col(id_col),
        vec,
        *(F.col(c) for c in (extra_cols or [])),
        F.struct(
            score(vec, F.col("centroid_vec")).alias("s"),
            (-F.col("centroid_id")).alias("neg_id"),
        ).alias("__cand"),
    )
    return (
        scored.groupBy(id_col, *(extra_cols or []))
        .agg(
            F.any_value(F.col(vec_col)).alias(vec_col),
            F.max("__cand").alias("__best"),
        )
        .select(
            id_col,
            vec_col,
            *(extra_cols or []),
            (-F.col("__best.neg_id")).alias("cluster_id"),
            F.col("__best.s").alias("cos"),
        )
    )


def suggest_centroids(n_rows: int, target_cluster_rows: int = 256) -> int:
    """The C that keeps SemDeDup's Σ|c|² ≈ N²/C pair work bounded:
    C ≈ N / target_cluster_rows (min 1). C must SCALE with the corpus —
    measured at 50k docs on local[32]: a frozen C=16 degraded the pair
    join to 166 s (quadratic regime), C=256 (N/C ≈ 200) ran in 27 s
    with the expected small recall trade. At 100 TB pick
    target_cluster_rows so one cluster's pair block fits a task, and
    use kmeans_centroids for balance."""
    return max(1, n_rows // max(1, target_cluster_rows))


def semantic_near_dups(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    cache: bool = True,
    metric: str = "cosine",
    verify: str = "expr",
    bucket_block: int = 1024,
) -> DataFrame:
    """→ (id_a, id_b, cos): near-duplicate pairs that share a cluster.

    The SemDeDup candidate rule: two rows are compared ONLY if they are
    assigned to the same centroid. Subset semantics vs the exact
    all-pairs operator (dedup.py:embedding_near_dups) — a cross-cluster
    near-dup pair is missed by design; precision is 1.0 because every
    emitted pair is exactly verified with the same cosine fold.

    Plan: assign (projection or broadcast join — never a shuffle of the
    vectors) → self-equi-join on cluster_id → exact cosine filter. One
    shuffle total, keyed on cluster_id; pair work is Σ_c |c|² ≈ N²/C
    for a balanced codebook. Mega-cluster skew is the operator's known
    failure mode — at production scale feed `kmeans_centroids` with C
    sized so N/C fits a task (the same bound as lsh_near_dups's
    `bucket_block` sub-blocking).

    `cache` persists the assigned table: both join sides read it, and
    without a persist each side would re-run assignment.

    `metric="ip"` (for L2-normalized embeddings) assigns AND verifies
    with plain dot products — same pairs, no per-pair norm folds.

    `verify="kernel"` (requires metric="ip") scores each cluster in a
    grouped-map numpy kernel instead of the expression pair join —
    clusters stream to the worker as Arrow row batches and are scored
    in id-sorted sub-block pairs of ≤ `bucket_block` rows (the same
    memory-bounded kernel as ann.lsh_near_dups, same sequential dims
    fold, bit-identical scores). Use it when clusters are large: the
    per-pair cost drops from an interpreted expression tree to a numpy
    elementwise op.
    """
    score = _score_fn(metric)
    assigned = cluster_assign(
        vectors, centroids, id_col=id_col, vec_col=vec_col, metric=metric
    ).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "cluster_id")
    if verify == "kernel":
        if metric != "ip":
            raise ValueError(
                "verify='kernel' scores with plain dot products — "
                "requires metric='ip' (L2-normalized vectors)"
            )
        import numpy as np
        import pandas as pd

        id_dt = dict(vectors.dtypes)[id_col]

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            n = len(pdf)
            empty = pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
            if n < 2:
                return empty
            pdf = pdf.sort_values("id", kind="mergesort")
            ids = pdf["id"].tolist()
            A = np.array(pdf["v"].tolist(), dtype=np.float64)
            out_a: list = []
            out_b: list = []
            out_c: list = []
            for i0 in range(0, n, bucket_block):
                Ai = A[i0 : i0 + bucket_block]
                for j0 in range(i0, n, bucket_block):
                    Aj = A[j0 : j0 + bucket_block]
                    acc = np.zeros((len(Ai), len(Aj)), dtype=np.float64)
                    for d in range(A.shape[1]):  # sequential fold: bit-
                        acc += Ai[:, d, None] * Aj[None, :, d]  # exact
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

        return assigned.groupBy("cluster_id").applyInPandas(
            kernel, f"id_a {id_dt}, id_b {id_dt}, cos double"
        )
    if verify != "expr":
        raise ValueError(f"verify must be 'expr' or 'kernel', got {verify!r}")
    if cache:
        # persist AND materialize: the self-join launches both sides
        # concurrently, and an unmaterialized persist races
        assigned = assigned.persist()
        assigned.count()
    a = assigned.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), "cluster_id"
    )
    b = assigned.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), "cluster_id"
    )
    return (
        a.join(b, on="cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", score(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_keep(
    pairs: DataFrame,
    vectors: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """→ the rows of `vectors` that SURVIVE semantic dedup.

    Keep policy: drop every row that has a near-duplicate with a
    smaller id (keep-first, matching dedup.py's exact/minhash keep
    convention). One left-anti join against the distinct id_b side —
    no window, no global sort.
    """
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return vectors.join(drops, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# DuckDB oracle twins
# ---------------------------------------------------------------------------

def _duckdb_score(metric: str, a: str, b: str) -> str:
    return duckdb_cosine(a, b) if metric == "cosine" else duckdb_dot(a, b)


def _assigned_cte(
    n_centroids: int, table: str, id_col: str, vec_col: str,
    metric: str = "cosine",
) -> str:
    """cent + assigned CTEs shared by both oracles — same
    take_centroids policy (n smallest ids) and the same score argmax
    with centroid_id-ASC tie-break as cluster_assign."""
    cos_ec = _duckdb_score(metric, f"e.{vec_col}", "c.centroid_vec")
    return f"""
        cent AS (
            SELECT {id_col} AS centroid_id, {vec_col} AS centroid_vec
            FROM {table} WHERE {id_col} < {n_centroids}
        ),
        assigned AS (
            SELECT {id_col}, {vec_col}, centroid_id AS cluster_id, s AS cos
            FROM (
                SELECT e.{id_col}, e.{vec_col}, c.centroid_id,
                       {cos_ec} AS s,
                       row_number() OVER (
                           PARTITION BY e.{id_col}
                           ORDER BY {cos_ec} DESC, c.centroid_id ASC
                       ) AS rn
                FROM {table} e, cent c
            ) WHERE rn = 1
        )"""


def _with_src(emb_sql: str | None, table: str) -> tuple[str, str]:
    """When the embeddings are a computed SELECT (e.g. duckdb_embed_table
    output) rather than a registered view, prepend a src CTE."""
    if emb_sql is None:
        return "", table
    return f"src AS ({emb_sql}),", "src"


def duckdb_cluster_assign(
    n_centroids: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    emb_sql: str | None = None,
    metric: str = "cosine",
) -> str:
    src, table = _with_src(emb_sql, table)
    return f"""
        WITH {src}{_assigned_cte(n_centroids, table, id_col, vec_col, metric)}
        SELECT {id_col}, cluster_id, cos FROM assigned
    """


def duckdb_semantic_near_dups(
    n_centroids: int,
    threshold: float = 0.95,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    emb_sql: str | None = None,
    metric: str = "cosine",
) -> str:
    cos_ab = _duckdb_score(metric, f"a.{vec_col}", f"b.{vec_col}")
    src, table = _with_src(emb_sql, table)
    return f"""
        WITH {src}{_assigned_cte(n_centroids, table, id_col, vec_col, metric)}
        SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, {cos_ab} AS cos
        FROM assigned a JOIN assigned b ON a.cluster_id = b.cluster_id
        WHERE a.{id_col} < b.{id_col} AND {cos_ab} >= {threshold}
    """


def kcenter_sample(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection — the
    classic 2-approximation (Gonzalez 1985) used for diversity-driven
    data pruning / coreset construction (e.g. herding-free coverage
    sampling in data-selection literature): start from the smallest
    id (deterministic seed), then repeatedly pick the point FARTHEST
    from every center chosen so far. → (rank, id_col, radius_r) where
    radius_r is the picked point's distance² to the nearest earlier
    center (6-dp) — the non-increasing coverage radius curve.

    Scale shape: a running min-distance² COLUMN is maintained on the
    corpus frame — each of the k steps is ONE map (update the min
    against the single new center, folded in as literals) + one
    TakeOrderedAndProject(1), never a recompute against all chosen
    centers; lineage is truncated per step with localCheckpoint (the
    iterative-driver-loop rule). k corpus passes total — the honest
    cost of exact greedy k-center; for k beyond ~10³ switch to
    cluster-sketch variants.

    Distances: squared L2 via the verified dot() fold
    (‖x−c‖² = x·x − 2·x·c + c·c), argmax on round(d², 6) with id
    tie-break — the selection-key recipe, exactly reproduced by the
    unrolled SQL twin."""
    first = (
        vectors.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .head()
    )
    if first is None:
        return local_frame(
            vectors.sparkSession, [],
            f"rank int, {id_col} bigint, radius_r double",
        )

    def _lit_vec(v):
        return lit_vec(v)

    def _d2(vec, center):
        c = _lit_vec(center)
        return (
            dot(vec, vec)
            - F.lit(2.0) * dot(vec, c)
            + dot(c, c)
        )

    picks = [(first[id_col], list(first[vec_col]), 0.0)]
    frame = vectors.select(
        id_col,
        F.col(vec_col).alias("__v"),
        _d2(F.col(vec_col), picks[0][1]).alias("__d"),
    ).localCheckpoint(eager=True)
    for _ in range(1, k):
        nxt = (
            frame.filter(~F.col(id_col).isin([p[0] for p in picks]))
            .orderBy(F.round(F.col("__d"), 6).desc(), F.col(id_col).asc())
            .head()
        )
        if nxt is None:
            break
        picks.append((nxt[id_col], list(nxt["__v"]), float(nxt["__d"])))
        frame = frame.select(
            id_col,
            "__v",
            F.least(F.col("__d"), _d2(F.col("__v"), picks[-1][1])).alias("__d"),
        ).localCheckpoint(eager=True)
    # round through Spark's HALF_UP (== DuckDB round), not Python's
    # banker's round — the picked raw doubles are engine-identical,
    # the rounding must be too
    return local_frame(
        vectors.sparkSession,
        [(i + 1, p[0], abs(p[2])) for i, p in enumerate(picks)],
        f"rank int, {id_col} bigint, __raw double",
    ).select(
        "rank",
        id_col,
        (F.round(F.col("__raw"), 6) + F.lit(0.0)).alias("radius_r"),
    )


def duckdb_kcenter_sample(
    k: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle twin: the greedy unrolled — cN picks argmax of
    least(d² to c1..c_{N-1}) on the identical rounded key."""
    def d2(vec, cvec):
        return (
            f"({duckdb_dot(vec, vec)} - 2.0 * {duckdb_dot(vec, cvec)}"
            f" + {duckdb_dot(cvec, cvec)})"
        )

    ctes = [
        f"""c1 AS MATERIALIZED (
            SELECT {id_col} AS id, {vec_col} AS v, 0.0 AS d
            FROM {table} ORDER BY {id_col} ASC LIMIT 1
        )"""
    ]
    for n in range(2, k + 1):
        prev = ", ".join(f"s{m}" for m in range(1, n))
        not_in = " AND ".join(
            f"e.{id_col} <> (SELECT id FROM c{m})" for m in range(1, n)
        )
        dists = [
            f"(SELECT {d2(f'e.{vec_col}', f'c{m}.v')} FROM c{m})"
            for m in range(1, n)
        ]
        mind = dists[0] if len(dists) == 1 else "least(" + ", ".join(dists) + ")"
        ctes.append(
            f"""c{n} AS MATERIALIZED (
                SELECT e.{id_col} AS id, e.{vec_col} AS v, {mind} AS d
                FROM {table} e
                WHERE {not_in}
                ORDER BY round({mind}, 6) DESC, e.{id_col} ASC
                LIMIT 1
            )"""
        )
    union = " UNION ALL ".join(
        f"SELECT {n} AS rank, id AS {id_col}, round(abs(d), 6) + 0.0 AS radius_r"
        f" FROM c{n}"
        for n in range(1, k + 1)
    )
    return "WITH " + ",\n".join(ctes) + f"\n{union} ORDER BY rank"


def embedding_drift(
    ref: DataFrame,
    new: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """→ (cluster_id, n_ref, n_new, kl_term_r): embedding-space drift
    of a NEW batch against a REFERENCE corpus, measured on a SHARED
    codebook — assign both sides to the same centroids, compare the
    cluster histograms via per-cluster KL terms of the add-one-smoothed
    distributions, D(P_new ‖ P_ref) = Σ_c p̂_new(c)·ln(p̂_new/p̂_ref).
    The embedding twin of the token-KL drift monitor, and the
    batch-level complement of the IVF codebook drift report
    (catalog.ivf_drift_report watches per-cluster growth of ONE index;
    this compares any two corpus slices). Smoothing keeps empty
    clusters finite; every configured cluster emits a row (a cluster
    the new batch abandons or floods is exactly the signal).

    Shape: ONE nearest-centroid map pass over the side-tagged union of
    both slices (inline codebook — no join, no shuffle below
    IVF_INLINE_MAX_CENTROIDS), one C-row two-column histogram
    aggregation joined on the centroid grid, totals and the cluster
    count C via an unpartitioned window over that C-row frame. Round
    10 fused the original two assign passes / two aggregations /
    persist barrier / broadcast-totals crossJoin into this form —
    values are bit-identical (the long-typed histogram operands and the
    division order are unchanged), but the job count drops from ~6
    driver-blocking jobs to the codebook collect plus the one result
    job, and the vectors are scanned once instead of twice (guide
    §1.2 job count, §2.4 shared exchange). Per-cluster KL terms are
    emitted as rows (no cross-row float sum, so no ordering hazard);
    the scalar divergence is the exact integer-free sum of the
    already-rounded terms, the caller's one line."""
    from pyspark.sql import Window

    grid = centroids.select(F.col("centroid_id").alias("cluster_id"))
    tagged = ref.select(
        F.col(id_col), F.col(vec_col), F.lit(0).alias("__side")
    ).unionByName(
        new.select(F.col(id_col), F.col(vec_col), F.lit(1).alias("__side"))
    )
    assigned = cluster_assign(
        tagged, centroids, id_col, vec_col, metric=metric,
        extra_cols=["__side"],
    )
    hist = assigned.groupBy("cluster_id").agg(
        F.count(F.when(F.col("__side") == 0, 1)).alias("n_ref"),
        F.count(F.when(F.col("__side") == 1, 1)).alias("n_new"),
    )
    j = grid.join(hist, "cluster_id", "left").select(
        "cluster_id",
        F.coalesce(F.col("n_ref"), F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
    )
    # totals + C over the C-row frame: a single-partition window over
    # (at most) the codebook size replaces the persist/count barrier,
    # the totals aggregate job and the broadcast crossJoin
    w = Window.partitionBy()
    t_ref = F.sum("n_ref").over(w)
    t_new = F.sum("n_new").over(w)
    n_c = F.count("*").over(w)
    p_ref = (F.col("n_ref") + F.lit(1)) / (t_ref + n_c)
    p_new = (F.col("n_new") + F.lit(1)) / (t_new + n_c)
    return j.select(
        "cluster_id",
        "n_ref",
        "n_new",
        (
            F.round(p_new * F.log(p_new / p_ref) * F.lit(1e6)) / F.lit(1e6)
            + F.lit(0.0)
        ).alias("kl_term_r"),
    )


def duckdb_embedding_drift(
    n_centroids: int,
    ref_pred: str,
    new_pred: str,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> str:
    """Oracle twin of embedding_drift over two predicate-defined slices
    of `table`, codebook = the n smallest ids of the FULL table (the
    take_centroids policy)."""
    cos = _duckdb_score(metric, f"e.{vec_col}", "c.centroid_vec")

    def assigned(pred: str, cte: str) -> str:
        return f"""
        {cte} AS (
            SELECT {id_col}, centroid_id AS cluster_id
            FROM (
                SELECT e.{id_col}, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.{id_col}
                           ORDER BY {cos} DESC, c.centroid_id ASC
                       ) AS rn
                FROM (SELECT * FROM {table} WHERE {pred}) e, cent c
            ) WHERE rn = 1
        )"""

    return f"""
        WITH cent AS (
            SELECT {id_col} AS centroid_id, {vec_col} AS centroid_vec
            FROM {table} WHERE {id_col} < {n_centroids}
        ),{assigned(ref_pred, "aref")},{assigned(new_pred, "anew")},
        ca AS (SELECT cluster_id, count(*) AS n FROM aref GROUP BY cluster_id),
        cb AS (SELECT cluster_id, count(*) AS n FROM anew GROUP BY cluster_id),
        grid AS (SELECT centroid_id AS cluster_id FROM cent),
        j AS (
            SELECT grid.cluster_id,
                   coalesce(ca.n, 0)::bigint AS n_ref,
                   coalesce(cb.n, 0)::bigint AS n_new
            FROM grid
            LEFT JOIN ca USING (cluster_id) LEFT JOIN cb USING (cluster_id)
        ),
        tot AS (SELECT sum(n_ref) AS t_ref, sum(n_new) AS t_new FROM j)
        SELECT cluster_id, n_ref, n_new,
               round(((n_new + 1) / (t_new + {n_centroids})) *
                     ln(((n_new + 1) / (t_new + {n_centroids})) /
                        ((n_ref + 1) / (t_ref + {n_centroids}))) * 1e6)
                   / 1e6 + 0.0 AS kl_term_r
        FROM j, tot
    """
