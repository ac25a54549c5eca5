"""The accuracy/cost curves (IVF nprobe — one codebook and the multi-
codebook form with one codebook — PQ refine and late-interaction probe
width) all rank through one sweep core, ann._sweep_curve, and their
twins through ann._duckdb_sweep. Each must match its DuckDB twin on a
tiny table at the degenerate sizes: k > N, a sweep point past full
coverage (nprobe > C, refine·k > N), a point no candidate reaches
(it keeps its spine row at recall 0), and a single query. Every sweep,
minhash_band_sweep included, returns a LocalTableScan frame and
leaves no cached RDD behind."""

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from leann_rs_spark.operators.ann import (
    duckdb_ivf_recall_curve,
    ivf_assign,
    ivf_recall_curve,
    ivf_recall_curves_multi,
    take_centroids,
)
from leann_rs_spark.operators.dedup import minhash_band_sweep
from leann_rs_spark.operators.late_interaction import (
    assign_token_cids,
    duckdb_li_probe_recall_curve,
    li_probe_recall_curve,
    token_embeddings,
    token_take_centroids,
)
from leann_rs_spark.operators.pq import (
    duckdb_pq_refine_recall_curve,
    pq_refine_recall_curve,
    take_subcodebooks,
)

N, D, C, M, K_CB = 12, 8, 4, 4, 5
DOCS = [
    (1, "merge sort algorithms for external data"),
    (2, "hash join partition keys"),
    (3, "external merge sort on sorted runs"),
    (4, "window aggregate state"),
]
LI_D, LI_C = 16, 4
LI_QUERIES = [(0, "merge sort"), (1, "hash join keys")]
CURVES = ["ivf", "ivf_multi", "pq", "li"]
# case → (k, queries, sweep points); "past" reaches past full coverage
# (nprobe > C; refine·k > N), "zero" holds a point no row reaches
CASES = {
    "k_gt_n": (N + 3, 2, "std"),
    "past_coverage": (3, 2, "past"),
    "zero_match": (3, 2, "zero"),
    "single_query": (3, 1, "std"),
}
POINTS = {
    "std": {"probe": [1, 2, C], "refine": [1, 2, 8]},
    "past": {"probe": [1, C + 3], "refine": [1, N]},
    "zero": {"probe": [0, 1, C], "refine": [0, 1, 2]},
}


@pytest.fixture(scope="module")
def sweep(spark):
    rng = random.Random(5)
    rows = [
        (i, [rng.choice([x / 4 for x in range(-8, 9)]) for _ in range(D)])
        for i in range(N)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = take_centroids(emb, C)
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    tok = token_embeddings(docs, dims=LI_D, cache=False).persist()
    tok.count()
    li_cents = token_take_centroids(tok, c=LI_C)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT CAST(vec_id AS BIGINT) AS vec_id,"
        " CAST(embedding AS DOUBLE[]) AS embedding FROM (VALUES "
        + ", ".join(f"({i}, {v!r})" for i, v in rows)
        + ") v(vec_id, embedding)"
    )
    con.execute(
        "CREATE TABLE li_docs AS SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " text FROM (VALUES "
        + ", ".join(f"({i}, {t!r})" for i, t in DOCS)
        + ") v(doc_id, text)"
    )
    yield {
        "emb": emb,
        "cents": cents,
        "assigned": ivf_assign(emb, cents),
        "cb": take_subcodebooks(emb, m=M, k=K_CB),
        "routed": assign_token_cids(tok, li_cents),
        "li_cents": li_cents,
        "con": con,
    }
    con.close()
    tok.unpersist()


def _queries(x, nq):
    return x["emb"].filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def _spark(curve, x, k, nq, pts):
    if curve == "ivf":
        return ivf_recall_curve(
            x["assigned"], x["cents"], _queries(x, nq), k=k, nprobes=pts
        )
    if curve == "ivf_multi":
        return ivf_recall_curves_multi(
            x["assigned"].withColumnRenamed("cluster_id", "cluster_id__one"),
            {"one": x["cents"]}, _queries(x, nq), k=k, nprobes=pts,
        )
    if curve == "pq":
        return pq_refine_recall_curve(
            x["emb"], x["cb"], _queries(x, nq), k=k, refines=pts
        )
    assert curve == "li"
    return li_probe_recall_curve(
        x["routed"], x["li_cents"], LI_QUERIES[:nq], k=k, nprobes=pts,
        dims=LI_D,
    )


def _twin(curve, k, nq, pts):
    if curve in ("ivf", "ivf_multi"):
        return duckdb_ivf_recall_curve(
            n_queries=nq, k=k, nprobes=pts, n_centroids=C
        )
    if curve == "pq":
        return duckdb_pq_refine_recall_curve(
            n_queries=nq, k=k, refines=pts, m=M, n_codebook=K_CB, dims=D
        )
    return duckdb_li_probe_recall_curve(
        LI_QUERIES[:nq], k=k, nprobes=pts, c=LI_C, dims=LI_D,
        table="li_docs",
    )


def _points(curve, which):
    return POINTS[which]["refine" if curve == "pq" else "probe"]


@pytest.mark.parametrize("case", list(CASES))
@pytest.mark.parametrize("curve", CURVES)
def test_curve_matches_twin_on_degenerate_sizes(sweep, curve, case):
    k, nq, which = CASES[case]
    pts = _points(curve, which)
    got = [tuple(r) for r in _spark(curve, sweep, k, nq, pts).collect()]
    want = sweep["con"].sql(_twin(curve, k, nq, pts)).fetchall()
    assert got == want
    # one spine row per sweep point, in point order
    assert [r[0] for r in got] == sorted(pts)
    if which == "zero":
        # no candidate is covered at point 0: recall 0, no candidates
        assert got[0][1:] == ((0, 0.0) if curve == "li" else (0.0,))
    if which == "past":
        # the point past full coverage reproduces exact search
        assert got[-1][-1] == 1.0


def test_every_sweep_materializes_and_releases(spark, sweep):
    """Each sweep returns its curve as a LocalTableScan frame and leaves
    the session's persisted RDDs as it found them."""
    base = [
        (i, f"document number {i} about distributed query engines "
            f"and their shuffle behavior under skewed key {i}")
        for i in range(6)
    ]
    variants = [(100 + i, t.replace("shuffle", "shufle")) for i, t in base]
    docs = spark.createDataFrame(base + variants, "doc_id long, text string")
    truth = spark.createDataFrame(
        [(i, 100 + i) for i in range(6)], "id_a long, id_b long"
    )
    runs = {c: (_spark, c, sweep, 3, 2, _points(c, "std")) for c in CURVES}
    runs["band"] = (minhash_band_sweep, docs, truth, ((16, 4), (16, 8)))
    jsc = spark.sparkContext._jsc
    for name, (fn, *args) in runs.items():
        held = set(jsc.getPersistentRDDs().keys())
        df = fn(*args)
        assert set(jsc.getPersistentRDDs().keys()) == held, name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.lstrip().startswith("LocalTableScan"), (name, plan)
