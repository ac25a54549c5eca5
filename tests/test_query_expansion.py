"""Query expansion tests — reference vectors from
/root/reference/src/index/query.rs:173-233."""

from leann_rs_spark.operators.query_expansion import (
    expand_from_passages,
    extract_code_symbols,
    extract_key_terms,
    is_code_like,
    should_expand,
)


def test_extract_key_terms():
    text = ("The architecture stores knowledge graph data. "
            "Architecture architecture knowledge knowledge.")
    terms = extract_key_terms(text, 10)
    assert "architecture" in terms
    assert "knowledge" in terms
    assert "the" not in terms


def test_extract_key_terms_filters_code():
    text = "let graph = assert_eq edges test_case"
    terms = extract_key_terms(text, 10)
    assert "let" not in terms
    assert "assert_eq" not in terms
    assert "test_case" not in terms
    assert "graph" in terms or "edges" in terms


def test_extract_code_symbols():
    text = """
        pub fn search_index(query: &str) -> Vec<Result> {}
        pub struct IndexSearcher { data: Vec<u8> }
        impl IndexSearcher {
            pub async fn load(&self) {}
        }
    """
    symbols = extract_code_symbols(text, 10)
    assert "search_index" in symbols
    assert "IndexSearcher" in symbols
    assert "load" in symbols


def test_expand_from_passages():
    expanded = expand_from_passages(
        "database",
        ["Knowledge graph storage systems architecture",
         "Graph database for decisions planning"],
        3,
    )
    assert "database" in expanded
    assert any(t in expanded for t in ("knowledge", "graph", "architecture", "decisions"))


def test_expand_empty_passages_returns_query():
    assert expand_from_passages("q", [], 5) == "q"


def test_expand_no_new_terms_returns_query():
    assert expand_from_passages("graph", ["graph graph graph"], 5) == "graph"


def test_should_expand():
    assert should_expand("database")
    assert should_expand("graph db")
    assert should_expand("api endpoint")
    assert not should_expand("How to implement authentication in the API")


def test_is_code_like():
    assert is_code_like("snake_case")
    assert is_code_like("abc123")
    assert is_code_like("impl")
    assert not is_code_like("architecture")


def test_deterministic_tie_break():
    # equal counts → alphabetical (our documented determinism deviation)
    terms = extract_key_terms("zebra apple zebra apple", 2)
    assert terms == ["apple", "zebra"]


def test_distributed_mining_matches_local_port(spark):
    """expansion_terms (DataFrame) ≡ extract_key_terms (driver port) when
    no query-word exclusion interferes."""
    from leann_rs_spark.operators.query_expansion import expansion_terms

    texts = [
        "distributed systems require careful partition design",
        "partition skew breaks distributed aggregation design design",
        "let impl fn123 the a is",  # keywords/codelike/stopwords drop out
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [(r["term"], r["cnt"]) for r in expansion_terms(df, "zzz", 5).collect()]
    combined = " ".join(texts)
    want_terms = extract_key_terms(combined, 5)
    assert [t for t, _ in got] == want_terms
    assert got[0] == ("design", 3)


def test_mining_matches_twin_and_keeps_query_words_literal(spark):
    """Query words are excluded through a literal, never parsed as SQL:
    a quote or an SQL fragment in the query is just another word."""
    import duckdb

    from leann_rs_spark.operators.query_expansion import (
        duckdb_expansion_terms,
        expansion_terms,
    )

    texts = [
        "distributed systems require careful partition design",
        "partition skew breaks distributed aggregation design design",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [tuple(r) for r in expansion_terms(df, "partition skew", 5).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE p (text VARCHAR)")
    con.executemany("INSERT INTO p VALUES (?)", [(t,) for t in texts])
    want = con.sql(
        duckdb_expansion_terms("SELECT text FROM p", "partition skew", 5)
    ).fetchall()
    con.close()
    assert got == want
    assert "partition" not in [t for t, _ in got]
    plain = [tuple(r) for r in expansion_terms(df, "design", 5).collect()]
    odd = expansion_terms(df, "design 'x') OR 1=1; --", 5).collect()
    assert [tuple(r) for r in odd] == plain
    assert "design" not in [t for t, _ in plain]
