"""The late-interaction rungs (exact batch, PQ-ADC, refined, pruned and
the probe-recall curve) all reduce through one MaxSim core. Each must
match its DuckDB twin on a tiny documents table at the degenerate
sizes: k > N, nprobe > C and refine·k > candidates — and a query with
no tokens must raise ValueError in both engines."""

import duckdb
import pytest

from leann_rs_spark.operators.late_interaction import (
    assign_token_cids,
    duckdb_late_interaction_topk_batch,
    duckdb_late_interaction_topk_batch_pq,
    duckdb_late_interaction_topk_batch_pruned,
    duckdb_late_interaction_topk_batch_refined,
    duckdb_li_probe_recall_curve,
    late_interaction_topk_batch,
    late_interaction_topk_batch_pq,
    late_interaction_topk_batch_pruned,
    late_interaction_topk_batch_refined,
    li_probe_recall_curve,
    pq_token_codes,
    token_embeddings,
    token_subcodebooks,
    token_take_centroids,
)

DOCS = [
    (1, "merge sort algorithms for external data"),
    (2, "hash join partition keys"),
    (3, "external merge sort on sorted runs"),
    (4, "window aggregate state"),
]
N, D, C, M, K_CB = len(DOCS), 16, 4, 4, 4
QUERIES = [(0, "merge sort"), (1, "hash join keys")]  # widths 2 and 3
RUNGS = ["batch", "pq", "refined", "pruned", "recall"]


@pytest.fixture(scope="module")
def li(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    tok = token_embeddings(docs, dims=D, cache=False).persist()
    tok.count()
    cb = token_subcodebooks(tok, m=M, k_cb=K_CB)
    cents = token_take_centroids(tok, c=C)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE li_docs AS SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " text FROM (VALUES "
        + ", ".join(f"({i}, {t!r})" for i, t in DOCS)
        + ") v(doc_id, text)"
    )
    yield {
        "tok": tok,
        "cb": cb,
        "codes": pq_token_codes(tok, cb),
        "cents": cents,
        "routed": assign_token_cids(tok, cents),
        "con": con,
    }
    con.close()
    tok.unpersist()


def _spark(rung, x, queries, k, refine, nprobe):
    if rung == "batch":
        return late_interaction_topk_batch(x["tok"], queries, k=k, dims=D)
    if rung == "pq":
        return late_interaction_topk_batch_pq(
            x["codes"], x["cb"], queries, k=k, dims=D
        )
    if rung == "refined":
        return late_interaction_topk_batch_refined(
            x["tok"], x["codes"], x["cb"], queries, k=k, refine=refine, dims=D
        )
    if rung == "pruned":
        return late_interaction_topk_batch_pruned(
            x["routed"], x["cents"], queries, k=k, nprobe=nprobe, dims=D
        )
    assert rung == "recall"
    return li_probe_recall_curve(
        x["routed"], x["cents"], queries, k=k, nprobes=[1, nprobe], dims=D
    )


def _twin(rung, queries, k, refine, nprobe):
    tbl = {"dims": D, "table": "li_docs"}
    if rung == "batch":
        return duckdb_late_interaction_topk_batch(queries, k=k, **tbl)
    if rung == "pq":
        return duckdb_late_interaction_topk_batch_pq(
            queries, k=k, m=M, k_cb=K_CB, **tbl
        )
    if rung == "refined":
        return duckdb_late_interaction_topk_batch_refined(
            queries, k=k, refine=refine, m=M, k_cb=K_CB, **tbl
        )
    if rung == "pruned":
        return duckdb_late_interaction_topk_batch_pruned(
            queries, k=k, nprobe=nprobe, c=C, **tbl
        )
    assert rung == "recall"
    return duckdb_li_probe_recall_curve(
        queries, k=k, nprobes=[1, nprobe], c=C, **tbl
    )


@pytest.mark.parametrize(
    "k,refine,nprobe",
    [
        (N + 3, 1, C),  # k > N: every doc comes back, recall still 1.0
        (2, 1, C + 3),  # nprobe > C: every centroid is probed
        (2, N, 2),  # refine·k > candidates: the shortlist is everything
    ],
    ids=["k_gt_n", "nprobe_gt_c", "refine_gt_cand"],
)
@pytest.mark.parametrize("rung", RUNGS)
def test_rung_matches_twin_on_degenerate_sizes(li, rung, k, refine, nprobe):
    got = _spark(rung, li, QUERIES, k, refine, nprobe).collect()
    got = [tuple(r) for r in got]
    want = li["con"].sql(_twin(rung, QUERIES, k, refine, nprobe)).fetchall()
    assert got == want
    if rung == "recall":
        if nprobe >= C:
            assert got[-1][2] == 1.0  # the covering probe reproduces exact
        return
    if k > N:
        for qid, _ in QUERIES:
            assert len([r for r in got if r[0] == qid]) == N
    if (rung == "pruned" and nprobe >= C) or (
        rung == "refined" and refine * k >= N
    ):
        exact = late_interaction_topk_batch(li["tok"], QUERIES, k=k, dims=D)
        assert got == [tuple(r) for r in exact.collect()]


@pytest.mark.parametrize("rung", RUNGS)
def test_tokenless_query_raises_in_both_engines(li, rung):
    queries = [(0, "merge sort"), (1, "a ! ?")]
    with pytest.raises(ValueError, match="no tokens"):
        _spark(rung, li, queries, 2, 1, C)
    with pytest.raises(ValueError, match="no tokens"):
        _twin(rung, queries, 2, 1, C)
