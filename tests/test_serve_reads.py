"""The serve path's index reads: partition-path reads of the BM25
postings and the IVF layout, the values held per index version (table
schemas, BM25 corpus stats, PQ codebook), and a request loop that
leaves no cached frame behind.

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
from leann_rs_spark.operators.filter_dsl import compile_duckdb, parse
from leann_rs_spark.operators.hybrid import duckdb_hybrid_rerank
from leann_rs_spark.operators.pq import _duckdb_pq_common
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


def _duck(base: str, where: str = "TRUE") -> duckdb.DuckDBPyConnection:
    """The index's tables in DuckDB; `where` keeps the passages (and
    their embeddings) a metadata filter keeps."""
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE passages AS SELECT * FROM "
        f"read_parquet('{base}/passages/*.parquet') WHERE {where}"
    )
    con.execute(
        f"CREATE TABLE embeddings AS SELECT * FROM "
        f"read_parquet('{base}/embeddings/*.parquet') "
        "WHERE idx IN (SELECT idx FROM passages)"
    )
    if not os.path.isdir(f"{base}/ivf"):
        return con
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


def _pq_adc(con, query: str, m: int, n_codebook: int) -> list[tuple]:
    """ADC-only top-k over every row, take-policy sub-codebooks."""
    qv = _vec(py_hash_embedding(query, DIMS))
    common = _duckdb_pq_common(m, n_codebook, DIMS // m, "embeddings", "idx", "embedding")
    return con.execute(
        f"""WITH {common}
            SELECT idx, {duckdb_dot(qv, 'rv')} AS score FROM recon
            ORDER BY score DESC, idx ASC LIMIT {K}"""
    ).fetchall()


def _assert_same(got, want) -> None:
    assert [r["idx"] for r in got] == [r[0] for r in want]
    for r, (_, score) in zip(got, want):
        assert r["score"] == pytest.approx(score, rel=1e-9, abs=1e-12)


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
    _assert_same(got, want)


def test_hybrid_requests_leave_no_cached_frames(spark, index, warehouse):
    """A long-lived server must not gain cached RDDs per request."""
    sc = spark.sparkContext
    svc = IndexService(spark, warehouse, "ix")
    svc.search("alpha beta", top_k=K, hybrid=True)
    before = len(sc._jsc.getPersistentRDDs())
    for q in ("alpha beta", "spark filter", "gamma", "delta data", "zq1 zq2"):
        assert svc.search(q, top_k=K, hybrid=True)
    assert len(sc._jsc.getPersistentRDDs()) == before


def test_build_and_append_leave_no_cached_frames(spark, docs, warehouse):
    """The dense-id persists of the passages write are released once
    the write has consumed them."""
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    catalog.build_index(
        spark, warehouse, "nocache", docs.filter(F.col("doc_id") < 10),
        chunk_size=16, chunk_overlap=4, dims=DIMS,
    )
    catalog.append_to_index(
        spark, warehouse, "nocache",
        docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
    )
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


MEMO_QUERY = "spark join"


def test_index_version_values_refresh_on_append_and_rebuild(spark, docs, warehouse):
    """The BM25 corpus stats and the PQ codebook held for an index
    version are dropped with it: hybrid, expand and ADC-only IVF-PQ
    answers match DuckDB after an append to an index already searched
    (N and avg_doc_len change) and after a rebuild under the same name
    over other documents (a new codebook too)."""
    wh, base = warehouse, f"{warehouse}/memo"

    def build(lo: int, hi: int) -> None:
        catalog.build_index(
            spark, wh, "memo",
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            chunk_size=16, chunk_overlap=4, dims=DIMS,
        )
        catalog.build_ivf_index(
            spark, wh, "memo", n_centroids=C, centroids="take", pq_m=8, pq_k=8
        )

    def check() -> None:
        con = _duck(base)
        for expand in (False, True):
            got = catalog.search_index(
                spark, wh, "memo", MEMO_QUERY, k=K, hybrid=True, expand=expand
            ).collect()
            q = _expanded(con, MEMO_QUERY) if expand else MEMO_QUERY
            _assert_same(got, _hybrid(con, q))
        got = catalog.search_ivf_index(
            spark, wh, "memo", MEMO_QUERY, k=K, nprobe=C, use_pq=True, refine=0
        ).collect()
        _assert_same(got, _pq_adc(con, MEMO_QUERY, 8, 8))
        con.close()

    build(0, 10)
    check()
    catalog.append_to_index(
        spark, wh, "memo",
        docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
    )
    check()
    build(20, 30)
    check()


def test_filtered_hybrid_scores_against_filtered_docs(spark, index, warehouse):
    """With a metadata filter the BM25 corpus is the filtered passages:
    N and avg_doc_len are theirs, not the index version's held stats."""
    flt = "doc_id<15"
    catalog.search_index(spark, warehouse, "ix", MEMO_QUERY, k=K, hybrid=True).collect()
    got = catalog.search_index(
        spark, warehouse, "ix", MEMO_QUERY, k=K, hybrid=True, filter_str=flt
    ).collect()
    con = _duck(index, compile_duckdb(parse(flt)))
    want = _hybrid(con, MEMO_QUERY)
    con.close()
    assert got
    _assert_same(got, want)


def test_tokenless_corpus_hybrid_and_expand(spark, warehouse):
    """Passages that all tokenize to nothing: n_docs > 0 and
    Σ doc_len = 0, so avg_doc_len is 0 and no posting exists."""
    docs = spark.createDataFrame(
        [(i, f"src{i}", "a b ! c ? d e") for i in range(6)],
        "doc_id long, source string, text string",
    )
    catalog.build_index(
        spark, warehouse, "blank", docs, chunk_size=16, chunk_overlap=4, dims=DIMS
    )
    base = f"{warehouse}/blank"
    con = _duck(base)
    n, total = con.execute(
        f"SELECT count(*), sum(doc_len) FROM read_parquet('{base}/bm25_docstats/*.parquet')"
    ).fetchone()
    assert n > 0 and total == 0
    for expand in (False, True):
        got = catalog.search_index(
            spark, warehouse, "blank", MEMO_QUERY, k=K, hybrid=True, expand=expand
        ).collect()
        _assert_same(got, _hybrid(con, MEMO_QUERY))
    con.close()
