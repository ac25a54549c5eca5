"""The serve path's index reads: partition-path reads of the BM25
postings and the IVF layout, memoized table schemas, and a request
loop that leaves no cached frame behind.

Every degenerate read (no bucket directory for any query term, no
query term at all, nprobe > C, files swapped by compaction) is checked
against an exact DuckDB answer over the index's own parquet tables.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from leann_rs_spark import catalog
from leann_rs_spark.functions.vector import duckdb_dot
from leann_rs_spark.operators.bm25 import duckdb_bm25_scored, tokenize_py
from leann_rs_spark.operators.embedder import py_hash_embedding
from leann_rs_spark.operators.hybrid import duckdb_hybrid_rerank
from leann_rs_spark.operators.query_expansion import duckdb_expansion_terms
from leann_rs_spark.serving import IndexService
from conftest import SF_SMOKE

DIMS = 32
K = 5
C = 4


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        F.col("doc_id") < 30
    )


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    return str(tmp_path_factory.mktemp("serve_reads"))


@pytest.fixture(scope="module")
def index(spark, docs, warehouse):
    catalog.build_index(
        spark, warehouse, "ix", docs, chunk_size=16, chunk_overlap=4, dims=DIMS
    )
    catalog.build_ivf_index(
        spark, warehouse, "ix", n_centroids=C, centroids="take", pq_m=8, pq_k=8
    )
    return f"{warehouse}/ix"


def _duck(base: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE passages AS SELECT * FROM read_parquet('{base}/passages/*.parquet')"
    )
    con.execute(
        f"CREATE TABLE embeddings AS SELECT * FROM read_parquet('{base}/embeddings/*.parquet')"
    )
    con.execute(
        f"CREATE TABLE ivf AS SELECT idx, cluster_id, embedding FROM "
        f"read_parquet('{base}/ivf/*/*.parquet', hive_partitioning = true)"
    )
    con.execute(
        f"CREATE TABLE cents AS SELECT * FROM read_parquet('{base}/ivf_centroids/*.parquet')"
    )
    return con


def _vec(qv: list[float]) -> str:
    return "([" + ", ".join(repr(float(x)) for x in qv) + "]::DOUBLE[])"


def _bm25_sql(query: str) -> str:
    empty = None if tokenize_py(query) else (
        "SELECT 'x' AS term, 1.0::DOUBLE AS qtf WHERE FALSE"
    )
    return duckdb_bm25_scored(
        query, table="passages", id_col="idx", qterms_sql=empty
    )


def _expanded(con, query: str) -> str:
    top5 = f"""
        SELECT p.text FROM (
            SELECT idx FROM ({_bm25_sql(query)}) WHERE score > 0.0
            ORDER BY round(score, 6) DESC, idx ASC LIMIT 5
        ) t JOIN passages p USING (idx)"""
    terms = [
        r[0]
        for r in con.execute(
            f"SELECT term FROM ({duckdb_expansion_terms(top5, query, 5)}) "
            "ORDER BY cnt DESC, term ASC"
        ).fetchall()
    ]
    return f"{query} {' '.join(terms)}" if terms else query


def _hybrid(con, query: str) -> list[tuple]:
    qv = _vec(py_hash_embedding(query, DIMS))
    fetch_k = 5 * K
    sql = duckdb_hybrid_rerank(
        bm25_scored_cte=_bm25_sql(query),
        vec_hits_sql=f"""
            SELECT idx, {duckdb_dot('embedding', qv)} AS score
            FROM embeddings ORDER BY score DESC, idx ASC LIMIT {fetch_k}""",
        fetch_k=fetch_k,
        id_col="idx",
        num_docs_sql="(SELECT count(*) FROM passages)",
    )
    return con.execute(
        f"SELECT idx, combined FROM ({sql}) ORDER BY combined DESC, idx ASC LIMIT {K}"
    ).fetchall()


def _ivf(con, query: str, nprobe: int) -> list[tuple]:
    qv = _vec(py_hash_embedding(query, DIMS))
    return con.execute(
        f"""SELECT idx, {duckdb_dot('embedding', qv)} AS score FROM ivf
            WHERE cluster_id IN (
                SELECT centroid_id FROM cents
                ORDER BY {duckdb_dot('centroid_vec', qv)} DESC, centroid_id ASC
                LIMIT {nprobe})
            ORDER BY score DESC, idx ASC LIMIT {K}"""
    ).fetchall()


def _missing_bucket_query(base: str) -> str:
    """Two terms whose term_bucket has no postings directory."""
    present = set(os.listdir(f"{base}/bm25_postings"))
    terms = [
        t for t in (f"zq{i}" for i in range(1000))
        if f"term_bucket={catalog.py_term_bucket(t)}" not in present
    ]
    return " ".join(terms[:2])


CASES = [
    "hybrid_no_bucket_dir",
    "expand_no_bucket_dir",
    "hybrid_one_char_tokens",
    "expand_one_char_tokens",
    "ivf_nprobe_over_c",
    "ivfpq_nprobe_over_c",
    "ivf_after_compact",
]


@pytest.mark.parametrize("case", CASES)
def test_degenerate_reads_match_duckdb(spark, docs, warehouse, index, case):
    wh, base = warehouse, index
    if case.endswith("no_bucket_dir"):
        query = _missing_bucket_query(base)
    elif case.endswith("one_char_tokens"):
        query = "a b c"
        assert tokenize_py(query) == []
    else:
        query = "alpha beta"

    if case.startswith(("hybrid", "expand")):
        expand = case.startswith("expand")
        got = catalog.search_index(
            spark, wh, "ix", query, k=K, hybrid=True, expand=expand
        ).collect()
        con = _duck(base)
        want = _hybrid(con, _expanded(con, query) if expand else query)
    elif case.endswith("nprobe_over_c"):
        n = spark.read.parquet(f"{base}/ivf").count()
        got = catalog.search_ivf_index(
            spark, wh, "ix", query, k=K, nprobe=C + 3,
            use_pq=case.startswith("ivfpq"), refine=n // K + 1,
        ).collect()
        con = _duck(base)
        want = _ivf(con, query, C)
    else:
        catalog.build_index(
            spark, wh, "cmp", docs.filter(F.col("doc_id") < 10),
            chunk_size=16, chunk_overlap=4, dims=DIMS, with_bm25=False,
        )
        catalog.build_ivf_index(spark, wh, "cmp", n_centroids=2, centroids="take")
        for lo, hi in ((10, 20), (20, 30)):
            catalog.append_to_index(
                spark, wh, "cmp",
                docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            )
        # a warm read before the swap: only the schema may be remembered
        catalog.search_ivf_index(spark, wh, "cmp", query, k=K, nprobe=1).collect()
        assert catalog.compact_ivf_index(spark, wh, "cmp") > 2
        got = catalog.search_ivf_index(
            spark, wh, "cmp", query, k=K, nprobe=1
        ).collect()
        con = _duck(f"{wh}/cmp")
        want = _ivf(con, query, 1)
    con.close()
    assert [r["idx"] for r in got] == [r[0] for r in want]
    for r, (_, score) in zip(got, want):
        assert r["score"] == pytest.approx(score, rel=1e-9, abs=1e-12)


def test_hybrid_requests_leave_no_cached_frames(spark, index, warehouse):
    """A long-lived server must not gain cached RDDs per request."""
    sc = spark.sparkContext
    svc = IndexService(spark, warehouse, "ix")
    svc.search("alpha beta", top_k=K, hybrid=True)
    before = len(sc._jsc.getPersistentRDDs())
    for q in ("alpha beta", "spark filter", "gamma", "delta data", "zq1 zq2"):
        assert svc.search(q, top_k=K, hybrid=True)
    assert len(sc._jsc.getPersistentRDDs()) == before


def test_append_saves_meta_after_ivf_layout(spark, docs, warehouse, monkeypatch):
    """append_to_index saves meta last: an IVF assignment that fails
    mid-append leaves passage_count as it was, and the rows it already
    wrote are orphans the next append refuses."""
    from leann_rs_spark.operators import ann

    catalog.build_index(
        spark, warehouse, "crash", docs.filter(F.col("doc_id") < 10),
        chunk_size=16, chunk_overlap=4, dims=DIMS, with_bm25=False,
    )
    catalog.build_ivf_index(
        spark, warehouse, "crash", n_centroids=2, centroids="take"
    )
    before = catalog.load_meta(warehouse, "crash").passage_count
    more = docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20))

    def boom(*args, **kwargs):
        raise RuntimeError("ivf_assign failed")

    with monkeypatch.context() as m:
        m.setattr(ann, "ivf_assign", boom)
        with pytest.raises(RuntimeError, match="ivf_assign failed"):
            catalog.append_to_index(spark, warehouse, "crash", more)
    assert catalog.load_meta(warehouse, "crash").passage_count == before
    with pytest.raises(ValueError, match="orphaned passages"):
        catalog.append_to_index(spark, warehouse, "crash", more)
