"""The refine-capable single-query rungs of the search ladder (full IVF,
SQ8, IVF-SQ8, PQ, IVF-PQ, BQ, IVF-BQ, MRL) all rank through
operators/search.topk. Each must rescore from the vector column it is
given — here `vec`, never the default `embedding` — and degrade to
exact search on degenerate sizes: k > N, refine·k > probed rows and
nprobe > C."""

import random

import pytest
from pyspark.sql import functions as F

from leann_rs_spark.operators.ann import (
    ivf_assign, ivf_probe, ivf_search, take_centroids,
)
from leann_rs_spark.operators.bq import (
    bq_encode, bq_encode_col, bq_search, bq_train,
)
from leann_rs_spark.operators.pq import (
    ivf_pq_search, pq_encode, pq_search, take_subcodebooks,
)
from leann_rs_spark.operators.search import exact_search, mrl_search
from leann_rs_spark.operators.sq import (
    sq8_encode, sq8_encode_col, sq8_search, sq8_train,
)

N, D, C = 24, 8, 4


@pytest.fixture(scope="module")
def ladder(spark):
    rng = random.Random(11)
    rows = [
        (i, [rng.choice([x / 4 for x in range(-8, 9)]) for _ in range(D)])
        for i in range(N)
    ]
    vecs = spark.createDataFrame(rows, "vec_id bigint, vec array<double>")
    cents = take_centroids(vecs, C, vec_col="vec")
    assigned = ivf_assign(vecs, cents, vec_col="vec")
    mins, rngs = sq8_train(vecs, D, vec_col="vec")
    thr = bq_train(vecs, D, vec_col="vec")
    cb = take_subcodebooks(vecs, m=4, k=5, vec_col="vec")
    return {
        "vecs": vecs,
        "qv": rows[3][1],
        "cents": cents,
        "assigned": assigned,
        "sq": (mins, rngs),
        "sq_codes": sq8_encode(vecs, mins, rngs, vec_col="vec"),
        "ivfsq_codes": assigned.select(
            "vec_id", "cluster_id",
            sq8_encode_col(F.col("vec"), mins, rngs).alias("qcode"),
        ),
        "thr": thr,
        "bq_codes": bq_encode(vecs, thr, vec_col="vec"),
        "ivfbq_codes": assigned.select(
            "vec_id", "cluster_id",
            bq_encode_col(F.col("vec"), thr).alias("bcode"),
        ),
        "cb": cb,
        "pq_codes": pq_encode(vecs, cb, vec_col="vec"),
        "ivfpq_codes": pq_encode(
            assigned, cb, vec_col="vec", extra_cols=["cluster_id"]
        ),
    }


def _run(rung, x, k, refine, nprobe):
    v, qv = x["vecs"], x["qv"]

    def probed(codes):
        return codes.filter(ivf_probe(x["cents"], qv, nprobe))

    if rung == "ivf":
        return ivf_search(
            x["assigned"], x["cents"], qv, k=k, nprobe=nprobe, vec_col="vec"
        )
    if rung == "sq8":
        return sq8_search(
            x["sq_codes"], *x["sq"], qv, k=k, refine=refine, vectors=v,
            vec_col="vec",
        )
    if rung == "ivfsq8":
        return sq8_search(
            probed(x["ivfsq_codes"]), *x["sq"], qv, k=k, refine=refine,
            vectors=v, vec_col="vec",
        )
    if rung == "pq":
        return pq_search(
            x["pq_codes"], x["cb"], qv, k=k, refine=refine, vectors=v,
            vec_col="vec",
        )
    if rung == "ivfpq":
        return ivf_pq_search(
            x["ivfpq_codes"], x["cents"], x["cb"], qv, k=k, nprobe=nprobe,
            refine=refine, vectors=v, vec_col="vec",
        )
    if rung == "bq":
        return bq_search(
            x["bq_codes"], x["thr"], qv, k=k, refine=refine, vectors=v,
            vec_col="vec",
        )
    if rung == "ivfbq":
        return bq_search(
            probed(x["ivfbq_codes"]), x["thr"], qv, k=k, refine=refine,
            vectors=v, vec_col="vec",
        )
    assert rung == "mrl"
    return mrl_search(v, qv, d=4, k=k, refine=refine, vec_col="vec")


@pytest.mark.parametrize(
    "k,refine,nprobe",
    [
        (N + 5, 1, C),  # k > N: every row comes back
        (5, N, C),  # refine·k > probed rows: the shortlist is everything
        (5, N, C + 3),  # nprobe > C: every cluster is probed
    ],
    ids=["k_gt_n", "refine_gt_probed", "nprobe_gt_c"],
)
@pytest.mark.parametrize(
    "rung", ["ivf", "sq8", "ivfsq8", "pq", "ivfpq", "bq", "ivfbq", "mrl"]
)
def test_rung_rescores_named_vec_col_and_degrades_to_exact(
    ladder, rung, k, refine, nprobe
):
    got = _run(rung, ladder, k, refine, nprobe).collect()
    exp = exact_search(ladder["vecs"], ladder["qv"], k=k, vec_col="vec")
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exp.collect()
    ]
    assert len(got) == min(k, N)
