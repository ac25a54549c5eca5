"""Tests for the benchmark's own helpers: order statistics, span self
time, the output checkers (each must flag a corrupted result), the
seeded generators and the BENCHMARK.json contract. No Spark session.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, REQUEST_TYPES  # noqa: E402
from perfbench.stats import geomean, median, quartile_spread  # noqa: E402
from perfbench.trace import Span, Tracer, self_times, union_length  # noqa: E402


# -- order statistics ---------------------------------------------------------

def test_median_odd_even():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_geomean():
    assert geomean([2, 8]) == pytest.approx(4.0)
    assert geomean([5]) == pytest.approx(5.0)
    # a 10% cut on any one of n values moves the result by the same factor
    base = geomean([100, 1000, 10])
    assert geomean([90, 1000, 10]) / base == pytest.approx(geomean([100, 900, 10]) / base)
    with pytest.raises(ValueError):
        geomean([1, 0])


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11, 9, 10.5, 12, 9.5, 10.2, 10.1, 9.9, 10.4]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


# -- spans ----------------------------------------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(1, 1)]) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "request", "r", None, 0.0, 10.0),
        Span(1, "a", "r", 0, 1.0, 4.0),
        Span(2, "b", "r", 0, 3.0, 6.0),  # overlaps a: covered part is 1..6
        Span(3, "a.inner", "r", 1, 1.5, 2.0),  # a grandchild: charged to a only
        Span(4, "late", "r", 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(0.5)


def test_tracer_nests_and_inherits_request_id():
    tr = Tracer(True)
    with tr.span("req", "r1"):
        with tr.span("child"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.sid and inner.rid == "r1"
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer(False)
    with off.span("x", "r"):
        pass
    assert off.spans == []


def test_tracer_paused_records_nothing():
    tr = Tracer(True)
    with tr.paused():
        with tr.span("untraced", "r"):
            pass
    with tr.span("traced", "r"):
        pass
    assert [s.name for s in tr.spans] == ["traced"]


def test_tree_cpu_counts_child_processes():
    from perfbench.harness import tree_cpu_ms

    c0 = tree_cpu_ms()
    subprocess.run([sys.executable, "-c", "x = 0\nfor i in range(3_000_000): x += i"], check=True)
    assert tree_cpu_ms() - c0 >= 50.0


# -- output checks --------------------------------------------------------------

EXPECTED = [(7, 0.9), (3, 0.8), (5, 0.8), (1, 0.5)]


def test_same_topk_accepts_exact_and_tie_reordering():
    assert checks.same_topk(EXPECTED, EXPECTED, 4, 1e-9)
    assert checks.same_topk([(7, 0.9), (5, 0.8), (3, 0.8), (1, 0.5)], EXPECTED, 4, 1e-9)
    # a tie cut by k: any of the tied ids may be the one kept
    assert checks.same_topk([(7, 0.9), (5, 0.8)], EXPECTED, 2, 1e-9)
    # fewer rows than k only when the exact answer has fewer
    assert checks.same_topk(EXPECTED, EXPECTED, 10, 1e-9)


@pytest.mark.parametrize(
    "corrupt",
    [
        [(7, 0.9), (3, 0.8), (5, 0.8), (2, 0.5)],  # wrong id
        [(7, 0.9), (3, 0.8), (5, 0.8), (1, 0.4)],  # wrong score
        [(7, 0.9), (3, 0.8), (5, 0.8)],  # row missing
        [(3, 0.9), (7, 0.8), (5, 0.8), (1, 0.5)],  # ids swapped across scores
        [(7, 0.9), (3, 0.8), (3, 0.8), (1, 0.5)],  # duplicate id
    ],
)
def test_same_topk_flags_corruption(corrupt):
    assert not checks.same_topk(corrupt, EXPECTED, 4, 1e-9)


def test_rows_digest_is_order_free_and_flags_changes():
    rows = [(1, "en", "train"), (2, "de", "test")]
    assert checks.rows_digest(rows) == checks.rows_digest(rows[::-1])
    assert checks.rows_digest(rows) != checks.rows_digest([(1, "en", "train"), (2, "de", "val")])


def test_same_selection_flags_corruption():
    exp = [(1, 10, -0.5), (2, 12, 0.25)]
    assert checks.same_selection([(2, 12, 0.25), (1, 10, -0.5)], exp)
    assert not checks.same_selection([(1, 10, -0.5), (3, 12, 0.25)], exp)
    assert not checks.same_selection([(1, 10, -0.5), (2, 12, 0.26)], exp)


def test_materialized_keeps_the_result():
    import duckdb

    sql = """
        WITH a AS (SELECT range AS x FROM range(5)),
        b AS (SELECT x * 2 AS y FROM a)
        SELECT sum(x) + (SELECT sum(y) FROM b) FROM a"""
    m = checks.materialized(sql)
    assert m.count("AS MATERIALIZED (") == 2
    con = duckdb.connect()
    assert con.execute(m).fetchall() == con.execute(sql).fetchall() == [(30,)]


def test_recall():
    assert checks.recall([1, 2, 3], [1, 2, 4, 5]) == 0.5
    assert checks.recall([], []) == 1.0


@pytest.fixture(scope="module")
def tiny_index(tmp_path_factory):
    """A persisted index in the catalog layout, written without Spark."""
    import pandas as pd

    base = tmp_path_factory.mktemp("index")
    vecs = {0: [1.0, 0.0], 1: [0.0, 1.0], 2: [0.6, 0.8], 3: [0.8, 0.6], 4: [-1.0, 0.0]}
    texts = {i: f"spark filter doc{i}" if i % 2 else f"join window doc{i}" for i in vecs}
    cluster = {0: 0, 1: 1, 2: 1, 3: 0, 4: 0}

    def write(name, df):
        os.makedirs(base / name, exist_ok=True)
        df.to_parquet(base / name / "part-0.parquet", index=False)

    write("passages", pd.DataFrame({
        "idx": list(vecs), "doc_id": list(vecs), "chunk_index": 0,
        "source": ["src3" if i < 3 else "src1" for i in vecs],
        "text": [texts[i] for i in vecs],
    }))
    write("embeddings", pd.DataFrame({"idx": list(vecs), "embedding": list(vecs.values())}))
    for c in (0, 1):
        ids = [i for i in vecs if cluster[i] == c]
        write(f"ivf/cluster_id={c}", pd.DataFrame({"idx": ids, "embedding": [vecs[i] for i in ids]}))
    write("ivf_centroids", pd.DataFrame({"centroid_id": [0, 1], "centroid_vec": [[1.0, 0.0], [0.0, 1.0]]}))
    oracle = checks.IndexOracle(str(base))
    yield oracle
    oracle.close()


def test_oracle_exact_filtered_and_ivf(tiny_index):
    q = [1.0, 0.0]
    exact = tiny_index.exact(q, 3)
    assert [i for i, _ in exact] == [0, 3, 2]
    assert [i for i, _ in tiny_index.exact(q, 3, "source = 'src1'")] == [3, 4]
    # the probed cluster of q holds ids 0, 3, 4
    assert [i for i, _ in tiny_index.ivf(q, 3, nprobe=1)] == [0, 3, 4]
    assert tiny_index.probed_rows(q, 1) == {0, 3, 4}
    assert tiny_index.probed_fraction(q, 1) == pytest.approx(0.6)
    # a result with one id replaced is flagged
    assert checks.same_topk(exact, tiny_index.exact(q, 5), 3, checks.SEARCH_TOL)
    corrupt = [(0, 1.0), (2, 0.8), (3, 0.6)]
    assert not checks.same_topk(corrupt, tiny_index.exact(q, 5), 3, checks.SEARCH_TOL)


def test_oracle_hybrid_ranks_bm25_matches(tiny_index):
    hits = tiny_index.hybrid("spark filter", [0.0, 1.0], 1, 5)
    assert len(hits) == 5
    assert hits == sorted(hits, key=lambda h: (-h[1], h[0]))
    # the candidates are those of a k-row search, whatever rows are asked
    assert tiny_index.hybrid("spark filter", [0.0, 1.0], 1, 3) == hits[:3]


# -- generators ---------------------------------------------------------------

def test_generators_are_seeded():
    a = gen.serve_inputs(3, 50, 1, 10, 2, 0.1)
    assert a == gen.serve_inputs(3, 50, 1, 10, 2, 0.1)
    assert a != gen.serve_inputs(4, 50, 1, 10, 2, 0.1)
    assert gen.curate_corpus_rows(3, 20, 3) == gen.curate_corpus_rows(3, 20, 3)


def test_request_mix_is_stratified():
    inp = gen.serve_inputs(1, 50, 1, 10, 4, 0.1)
    for rd in [inp.warmup] + inp.rounds:
        assert sorted(q.kind for q in rd) == sorted(REQUEST_TYPES)
    assert all(len(q.query.split()) == 2 for rd in inp.rounds for q in rd if q.kind == "expand")


def test_documents_follow_the_sf01_shape():
    import random

    rows = gen.documents(random.Random(5), 2000)
    plain = [r for r in rows if not r[1].endswith(" dup")]
    n_words = [len(r[1].split()) for r in plain]
    assert min(n_words) >= gen.MIN_WORDS and max(n_words) <= gen.MAX_WORDS
    assert 0.03 < 1 - len(plain) / len(rows) < 0.07
    assert all(r[3] == f"src{r[0] % gen.N_SOURCES}" and r[4] == len(r[1]) for r in rows)
    texts = {r[1] for r in rows}
    assert all(r[1][:-4] in texts for r in rows if r[1].endswith(" dup"))


def test_implied_pairs_counts_family_members():
    base = [(0, "a b c", "en", "src0", 5), (1, "d e f", "en", "src1", 5),
            (2, "a b c dup", "en", "src2", 9)]
    rows = [(i + k * 3, t + (f" v{k}" if k else ""), *rest)
            for k in range(2) for i, t, *rest in base]
    # families {0, 2} merged (4 documents, 6 pairs) and {1} (2 documents, 1 pair)
    assert gen.implied_pairs(rows, 3) == 7


def test_near_duplicate_families():
    rows = gen.curate_corpus_rows(1, 10, 3)
    assert len(rows) == 30 and len({r[0] for r in rows}) == 30
    assert rows[10][1] == rows[0][1] + " v1"


# -- the BENCHMARK.json contract ------------------------------------------------

def test_benchmark_json_matches_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER.items())
    assert 1 <= len(bench["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in bench["workloads"])


def test_run_fails_fast_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""
