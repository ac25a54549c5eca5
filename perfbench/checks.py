"""Expected answers, computed in DuckDB outside the timed region, and the
comparisons that decide whether an output counts as a failure.

Search answers are computed over the index's own persisted parquet
tables (`passages`, `embeddings`, the `ivf` layout), so they check the
read path against the data it reads. Hybrid and expansion answers reuse
the package's DuckDB twins (`hybrid.duckdb_hybrid_rerank`,
`query_expansion.duckdb_expansion_terms`, `bm25.duckdb_bm25_scored`) the
way the q13/q15 oracle gates compose them. Curation and selection
answers are the `x_curation_pipeline` / `x_dsir_select` oracle SQL from
`__spark_entry__.oracle_sql()`, run over a `documents` view of the
generated corpus.
"""

from __future__ import annotations

import hashlib
import re

import duckdb

SEARCH_TOL = 1e-9  # exact-search scores: the same double fold in both engines
HYBRID_TOL = 1e-6  # min-max blended scores over order-sensitive BM25 sums


def _vec_sql(v: list[float]) -> str:
    return "([" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[])"


def _dot(a: str, b: str) -> str:
    # DuckDB's native kernel sums in element order, the same double
    # fold as the package's `duckdb_dot` twin, bit for bit, and runs
    # some 500x faster than its lambda form
    return f"list_inner_product({a}, {b})"


def _tie_groups(hits: list[tuple[int, float]], tol: float) -> list[list[tuple[int, float]]]:
    groups: list[list[tuple[int, float]]] = []
    for h in hits:
        if groups and abs(groups[-1][-1][1] - h[1]) <= tol * max(1.0, abs(h[1])):
            groups[-1].append(h)
        else:
            groups.append([h])
    return groups


def same_topk(
    actual: list[tuple[int, float]], expected: list[tuple[int, float]], k: int, tol: float
) -> bool:
    """True when a ranked top-k (id, score) list agrees with the exact
    ranking `expected`, which runs a few rows past k so that a tie cut by
    k shows in full: k rows (fewer only if `expected` has fewer), scores
    equal within `tol` position by position, and each position's id
    drawn from the expected ids tied at that score."""
    n = min(k, len(expected))
    if len(actual) != n or len({i for i, _ in actual}) != n:
        return False
    for (_, a), (_, e) in zip(actual, expected):
        if abs(a - e) > tol * max(1.0, abs(e)):
            return False
    pos = 0
    for group in _tie_groups(expected, tol):
        ids = {i for i, _ in group}
        if not all(i in ids for i, _ in actual[pos:pos + len(group)]):
            return False
        pos += len(group)
        if pos >= n:
            return True
    return True


def recall(actual_ids: list[int], expected_ids: list[int]) -> float:
    if not expected_ids:
        return 1.0
    return len(set(actual_ids) & set(expected_ids)) / len(expected_ids)


def rows_digest(rows: list[tuple]) -> str:
    """Order-free digest of a result: sha256 over the sorted row reprs."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


class IndexOracle:
    """Exact answers over one persisted index directory."""

    def __init__(self, index_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        self.con.execute(
            f"CREATE TABLE passages AS SELECT * FROM "
            f"read_parquet('{index_dir}/passages/*.parquet')"
        )
        self.con.execute(
            f"CREATE TABLE embeddings AS SELECT idx, embedding FROM "
            f"read_parquet('{index_dir}/embeddings/*.parquet')"
        )
        self.con.execute(
            f"CREATE TABLE ivf AS SELECT idx, cluster_id, embedding FROM "
            f"read_parquet('{index_dir}/ivf/*/*.parquet', hive_partitioning = true)"
        )
        self.con.execute(
            f"CREATE TABLE cents AS SELECT * FROM "
            f"read_parquet('{index_dir}/ivf_centroids/*.parquet')"
        )

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def exact(self, qv: list[float], k: int, where: str = "TRUE") -> list[tuple[int, float]]:
        return self._rows(
            f"""SELECT e.idx, {_dot('e.embedding', _vec_sql(qv))} AS score
                FROM embeddings e JOIN passages p USING (idx) WHERE {where}
                ORDER BY score DESC, e.idx ASC LIMIT {k}"""
        )

    def hybrid(self, query: str, qv: list[float], k: int, rows: int) -> list[tuple[int, float]]:
        """search_index(hybrid=True, k=k) over the index: vector top-5k
        union BM25 top-5k, min-max blended with alpha 0.7. The candidates
        are exactly those of a k-row search; the ranking runs to `rows`
        so that a tie cut by k shows in full."""
        from leann_rs_spark.operators.bm25 import duckdb_bm25_scored
        from leann_rs_spark.operators.hybrid import duckdb_hybrid_rerank

        fetch_k = k * 5
        sql = duckdb_hybrid_rerank(
            bm25_scored_cte=duckdb_bm25_scored(query, table="passages", id_col="idx"),
            vec_hits_sql=f"""
                SELECT idx, {_dot('embedding', _vec_sql(qv))} AS score
                FROM embeddings ORDER BY score DESC, idx ASC LIMIT {fetch_k}""",
            fetch_k=fetch_k,
            alpha=0.7,
            id_col="idx",
            num_docs_sql="(SELECT count(*) FROM passages)",
        )
        return self._rows(
            f"SELECT idx, combined FROM ({sql}) ORDER BY combined DESC, idx ASC LIMIT {rows}"
        )

    @staticmethod
    def _bm25_top5_sql(query: str) -> str:
        from leann_rs_spark.operators.bm25 import duckdb_bm25_scored

        return f"""
            SELECT idx FROM ({duckdb_bm25_scored(query, table='passages', id_col='idx')})
            WHERE score > 0.0 ORDER BY round(score, 6) DESC, idx ASC LIMIT 5"""

    def bm25_top5(self, query: str) -> list[int]:
        """The passages query expansion mines terms from."""
        return [r[0] for r in self._rows(self._bm25_top5_sql(query))]

    def expanded_query(self, query: str) -> str:
        """The query search_index(expand=True) searches with: the original
        plus up to five terms mined from its BM25 top-5 passages."""
        from leann_rs_spark.operators.query_expansion import duckdb_expansion_terms

        top5 = f"""
            SELECT p.text FROM ({self._bm25_top5_sql(query)}) t
            JOIN passages p USING (idx)"""
        terms = [
            r[0]
            for r in self._rows(
                f"SELECT term FROM ({duckdb_expansion_terms(top5, query, max_terms=5)}) "
                "ORDER BY cnt DESC, term ASC"
            )
        ]
        return f"{query} {' '.join(terms)}" if terms else query

    def probed(self, qv: list[float], nprobe: int) -> list[int]:
        return [
            r[0]
            for r in self._rows(
                f"""SELECT centroid_id FROM cents
                    ORDER BY {_dot('centroid_vec', _vec_sql(qv))} DESC,
                             centroid_id ASC LIMIT {nprobe}"""
            )
        ]

    def ivf(self, qv: list[float], k: int, nprobe: int) -> list[tuple[int, float]]:
        """Exact top-k over the rows of the nprobe best clusters."""
        cl = ", ".join(str(c) for c in self.probed(qv, nprobe))
        return self._rows(
            f"""SELECT idx, {_dot('embedding', _vec_sql(qv))} AS score
                FROM ivf WHERE cluster_id IN ({cl})
                ORDER BY score DESC, idx ASC LIMIT {k}"""
        )

    def scores_of(self, qv: list[float], ids: list[int]) -> dict[int, float]:
        if not ids:
            return {}
        return dict(
            self._rows(
                f"""SELECT idx, {_dot('embedding', _vec_sql(qv))}
                    FROM embeddings WHERE idx IN ({', '.join(map(str, ids))})"""
            )
        )

    def probed_rows(self, qv: list[float], nprobe: int) -> set[int]:
        cl = ", ".join(str(c) for c in self.probed(qv, nprobe))
        return {r[0] for r in self._rows(f"SELECT idx FROM ivf WHERE cluster_id IN ({cl})")}

    def probed_fraction(self, qv: list[float], nprobe: int) -> float:
        n = self._rows("SELECT count(*) FROM ivf")[0][0]
        return len(self.probed_rows(qv, nprobe)) / n

    def answer(self, question: str, qv: list[float], k: int) -> str:
        """rag_batch's simulated answer for one question over the exact
        top-k context."""
        from leann_rs_spark.operators.rag import duckdb_prompt, duckdb_simulated_generate

        hits = self.exact(qv, k)
        texts = dict(
            self._rows(
                "SELECT idx, text FROM passages WHERE idx IN ("
                + ", ".join(str(i) for i, _ in hits)
                + ")"
            )
        )
        context = "\n\n".join(f"[{r}] {texts[i]}" for r, (i, _) in enumerate(hits, 1))
        return self.con.execute(
            f"""WITH p AS (SELECT {duckdb_prompt('c', 'q')} AS prompt
                           FROM (SELECT ?::VARCHAR AS c, ?::VARCHAR AS q))
                SELECT {duckdb_simulated_generate('prompt')} FROM p""",
            [context, question],
        ).fetchone()[0]


def materialized(sql: str) -> str:
    """`sql` with each CTE defined at the start of a line marked
    MATERIALIZED: the same result, but a CTE that later ones read several
    times is computed once (the curation oracle's quality gate would
    otherwise run once per reference, six times slower)."""
    return re.sub(r"(?m)^(\s*(?:WITH\s+)?\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def curation_expected(corpus_path: str) -> tuple[list[tuple], list[tuple]]:
    """(curate rows, select rows) from the project's oracle SQL over a
    `documents` view of the corpus: (doc_id, lang, split) and
    (doc_id, n_grams, logw_r)."""
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus_path}')")
        cur = con.execute(materialized(oracles["x_curation_pipeline"])).fetchall()
        sel = con.execute(oracles["x_dsir_select"]).fetchall()
    finally:
        con.close()
    return cur, sel


def same_selection(actual: list[tuple], expected: list[tuple], tol: float = HYBRID_TOL) -> bool:
    """dsir_select rows (doc_id, n_grams, log_weight): the same ids and
    n-gram counts, log weights equal within `tol` (an unordered float
    sum, rounded to 6 dp by both engines)."""
    if rows_digest([r[:2] for r in actual]) != rows_digest([r[:2] for r in expected]):
        return False
    exp = {r[0]: r[2] for r in expected}
    return all(abs(r[2] - exp[r[0]]) <= tol for r in actual)
