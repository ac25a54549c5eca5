"""Text-analysis tests: known-value checks, real multilingual lang-ID,
and Spark ⟷ DuckDB twin parity."""

import duckdb
import pytest
from pyspark.sql import functions as F

from leann_rs_spark.functions.textstats import (
    alpha_ratio,
    bpe_ish_token_count,
    duckdb_fingerprint,
    duckdb_lang_id,
    duckdb_quality_score,
    duckdb_token_count,
    fingerprint,
    lang_id,
    mean_word_len,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    type_token_ratio,
)

MULTILINGUAL = [
    ("en", "the cat sat on the mat and it was happy with this state of things"),
    ("de", "der hund ist nicht mit der katze und wir sind auch nicht bei ihnen"),
    ("fr", "le chat est dans la maison et nous avons plus de temps pour ce travail"),
    ("es", "el perro es más grande que el gato pero los dos son de la casa"),
    ("zh", "这是一个中文句子用于测试语言识别功能"),
]


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], ["t"]).select(col.alias("v")).head()["v"]


def test_token_counts(spark):
    assert _one(spark, "one two  three\nfour", token_count("t")) == 4
    assert _one(spark, "", token_count("t")) == 0
    # bpe-ish: "don" "'" "t" "stop" "99" -> don,'t -> ["don", "'", "t", "stop", "9", "9"]
    assert _one(spark, "don't stop 99", bpe_ish_token_count("t")) == 6


def test_ratios_known_values(spark):
    assert _one(spark, "abcd", alpha_ratio("t")) == 1.0
    assert _one(spark, "ab12", alpha_ratio("t")) == 0.5
    assert _one(spark, "a.b,", punct_ratio("t")) == 0.5
    assert _one(spark, "", alpha_ratio("t")) == 0.0
    # "the cat the" -> tokens [the, cat, the]; stopwords: 2/3
    assert _one(spark, "the cat the", stopword_ratio("t")) == pytest.approx(2 / 3)
    assert _one(spark, "aa bb aa", type_token_ratio("t")) == pytest.approx(2 / 3)
    assert _one(spark, "ab abcd", mean_word_len("t")) == 3.0


def test_quality_score_ranks_prose_over_noise(spark):
    prose = "the quick brown fox jumps over the lazy dog near the river bank"
    noise = "@@@ ### !!! ,,, ;;; ::: 111 222 ??? !!!"
    q_prose = _one(spark, prose, quality_score("t"))
    q_noise = _one(spark, noise, quality_score("t"))
    assert 0.0 <= q_noise < q_prose <= 1.0


def test_lang_id_real_sentences(spark):
    df = spark.createDataFrame(MULTILINGUAL, ["expected", "t"])
    rows = df.select("expected", lang_id(F.col("t")).alias("pred")).collect()
    for r in rows:
        assert r["pred"] == r["expected"], f"{r['expected']}: got {r['pred']}"


def test_lang_id_tie_breaks_deterministically(spark):
    # no profile words at all -> all scores 0 -> alphabetically first: de
    assert _one(spark, "xyzzy plugh qwerty", lang_id(F.col("t"))) == "de"


def test_fingerprint_order_sensitive(spark):
    a = _one(spark, "alpha beta gamma", fingerprint("t"))
    b = _one(spark, "gamma beta alpha", fingerprint("t"))
    c = _one(spark, "alpha beta gamma", fingerprint("t"))
    assert a == c and a != b
    assert 0 <= a < (1 << 31) - 1


def test_duckdb_twins_parity(spark):
    texts = [t for _, t in MULTILINGUAL] + [
        "", "a.b,c!d?e", "the the the", "don't stop believing 1234 !!!",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: (
            r["tc"], round(r["q"], 9), r["lang"], r["fp"]
        )
        for r in df.select(
            "i",
            token_count("t").alias("tc"),
            quality_score("t").alias("q"),
            lang_id(F.col("t")).alias("lang"),
            fingerprint("t").alias("fp"),
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        esc = t.replace("'", "''")
        tc, q, lang, fp = con.sql(
            f"select {duckdb_token_count(f'''cast('{esc}' as varchar)''')},"
            f" {duckdb_quality_score(f'''cast('{esc}' as varchar)''')},"
            f" {duckdb_lang_id(f'''cast('{esc}' as varchar)''')},"
            f" {duckdb_fingerprint(f'''cast('{esc}' as varchar)''')}"
        ).fetchall()[0]
        assert got[i] == (tc, round(q, 9), lang, fp), f"text {i}: {t!r}"


def test_redact_pii_patterns(spark):
    from leann_rs_spark.functions.textstats import redact_pii

    df = spark.createDataFrame(
        [(0, "bob@x.io sees https://a.b/c, calls +1 (555) 123-4567, "
             "card 4111111111111111; zip 02139 survives"),
         (1, "phones: 555-123-4567 (555) 987-6543 5550001111 end")],
        "id long, text string",
    )
    rows = {r["id"]: r["r"] for r in
            df.select("id", redact_pii("text").alias("r")).collect()}
    red = rows[0]
    assert "<EMAIL>" in red and "<URL>" in red
    assert "<PHONE>" in red and "<NUM>" in red
    assert "02139" in red
    assert "bob@" not in red and "4111" not in red
    # URL match keeps the sentence comma
    assert "<URL>," in red
    # common US formats all redact
    assert rows[1].count("<PHONE>") == 3


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style filters)
# ---------------------------------------------------------------------------

def test_repetition_signals_hand_vectors(spark):
    from leann_rs_spark.functions.textstats import (
        dup_line_char_frac,
        dup_line_frac,
        top_ngram_char_frac,
    )
    from pyspark.sql import functions as F

    rows = [
        (0, "a b a b a c"),          # top bigram "a b"/"b a" x2, len 3 -> 6/11
        (1, ""),                      # empty -> all 0
        (2, "line one\nline two\nline one\n\n  \nline three"),
        (3, "dup\ndup\ndup"),         # all lines dup
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: (r["dlf"], r["dlcf"], r["t2"])
        for r in df.select(
            "id",
            F.round(dup_line_frac("text"), 9).alias("dlf"),
            F.round(dup_line_char_frac("text"), 9).alias("dlcf"),
            F.round(top_ngram_char_frac("text", 2), 9).alias("t2"),
        ).collect()
    }
    assert got[1] == (0.0, 0.0, 0.0)
    # doc 2: 4 nonempty lines, "line one" twice -> dup frac 1/4;
    # dup chars 16 of 34 line chars
    assert got[2][0] == pytest.approx(0.25)
    assert got[2][1] == pytest.approx(16 / 34, abs=1e-9)
    # doc 0: tie on count=2 between "a b" and "b a" -> same len, frac 6/11
    assert got[0][2] == pytest.approx(6 / 11, abs=1e-9)
    # doc 3: 3 identical lines -> dup_line 2/3, dup chars 1.0
    assert got[3][0] == pytest.approx(2 / 3, abs=1e-9)
    assert got[3][1] == pytest.approx(1.0)


def test_repetition_signals_match_duckdb(spark, duck):
    from conftest import SF_SMOKE

    """Cross-engine parity on corpus rows incl. unicode and tabs."""
    from leann_rs_spark.functions.textstats import (
        dup_line_char_frac,
        dup_line_frac,
        duckdb_dup_line_char_frac,
        duckdb_dup_line_frac,
        duckdb_top_ngram_char_frac,
        top_ngram_char_frac,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(100)
    got = {
        r["doc_id"]: (r["a"], r["b"], r["c"])
        for r in docs.select(
            "doc_id",
            F.round(dup_line_frac("text"), 9).alias("a"),
            F.round(dup_line_char_frac("text"), 9).alias("b"),
            F.round(top_ngram_char_frac("text", 3), 9).alias("c"),
        ).collect()
    }
    want = {
        int(r[0]): (r[1], r[2], r[3])
        for r in duck.sql(f"""
            SELECT doc_id,
                   round({duckdb_dup_line_frac('text')}, 9),
                   round({duckdb_dup_line_char_frac('text')}, 9),
                   round({duckdb_top_ngram_char_frac('text', 3)}, 9)
            FROM '{SF_SMOKE}/documents.parquet'
            ORDER BY doc_id LIMIT 100
        """).fetchall()
    }
    assert got == want


def test_gopher_filter_hand_vectors(spark):
    from leann_rs_spark.functions.textstats import gopher_keep, gopher_signals
    from pyspark.sql import functions as F

    good = ("the quick brown fox jumps over a lazy dog and all of that "
            "should be counted together with some more plain prose words "
            "so the document clears the fifty word minimum that gopher "
            "requires for a document to have enough signal to judge its "
            "quality properly in the published filtering rules")
    rows = [
        (0, good),                                    # passes everything
        (1, "too short to keep"),                     # < 50 words
        (2, good + " ####" * 20),                     # symbol ratio
        (3, "\n".join(["• bullet line"] * 10) + "\n" + good),  # bullets
        (4, ("zzz " * 60).strip()),                   # no stopwords + top-ngram
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["keep"] for r in df.select("id", gopher_keep("text").alias("keep")).collect()}
    assert got == {0: True, 1: False, 2: False, 3: False, 4: False}
    s = df.filter(F.col("id") == 0).select(gopher_signals("text").alias("s")).head()["s"]
    assert s["word_count"] >= 50 and s["required_stopword_hits"] >= 2
    assert s["alpha_word_frac"] == 1.0


def test_gopher_filter_matches_duckdb(spark, duck):
    from conftest import SF_SMOKE
    from leann_rs_spark.functions.textstats import (
        duckdb_gopher_keep,
        duckdb_gopher_signals,
        gopher_keep,
        gopher_signals,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(80)
    s = gopher_signals("text")
    got = {
        r["doc_id"]: (r["wc"], round(r["mwl"], 9), r["keep"])
        for r in docs.select(
            "doc_id", s["word_count"].alias("wc"),
            s["mean_word_len"].alias("mwl"), gopher_keep("text").alias("keep"),
        ).collect()
    }
    gsig = duckdb_gopher_signals("text")
    want = {
        int(r[0]): (int(r[1]), round(float(r[2]), 9), bool(r[3]))
        for r in duck.sql(f"""
            SELECT doc_id, {gsig['word_count']}, {gsig['mean_word_len']},
                   {duckdb_gopher_keep('text')}
            FROM '{SF_SMOKE}/documents.parquet' ORDER BY doc_id LIMIT 80
        """).fetchall()
    }
    assert got == want


def test_gopher_keep_splits_each_document_once(spark):
    """The gate binds the document's words and lines once: its analyzed
    plan holds one split for words and one for lines, however many
    signals read them. (Named: an unnamed column's generated name
    spells the whole expression out a second time.)"""
    from leann_rs_spark.functions.textstats import gopher_keep

    df = spark.createDataFrame([("a b",)], "text string")
    gated = df.select(gopher_keep("text").alias("keep"))
    analyzed = gated._jdf.queryExecution().analyzed()
    assert analyzed.toString().count("split(") <= 2


GOPHER_EDGE_ROWS = [
    (0, ""),
    (1, "   \t  "),
    (2, "\n\n\n"),
    (3, "same line here\n" * 6),
    (4, "two words"),
    (5, "word"),
    (6, "• first point\n- second point...\n* third…\n‣ fourth\n"
        "▪ fifth and the last of them"),
    (7, "wait for it...\nand then…\nthe end"),
    (8, "这是一个中文句子用于测试\n这是一个中文句子用于测试\n中文 文本 测试"),
    (9, "🚀 launch 🚀 launch 🚀 the rocket with the crew 🎉…\n👩‍💻 code"),
    (10, "# heading ### ...\n\n   trailing spaces   \n#"),
    (11, "  a b a b a b a b  "),
    (12, " ".join(
        "the quick brown fox jumps over a lazy dog and all of that "
        "should be counted together with some more plain prose words "
        "so the document clears the fifty word minimum that gopher "
        "requires for a document to have enough signal to judge its "
        "quality properly in the published filtering rules".split())),
]
# loose thresholds, so some edge rows keep and every signal's cut is
# exercised in both directions
GOPHER_LOOSE = {
    "min_words": 1, "min_mean_word_len": 1.0, "max_mean_word_len": 20.0,
    "min_alpha_word_frac": 0.0, "min_stopword_hits": 0,
    "max_dup_line_frac": 0.5, "max_dup_line_char_frac": 0.5,
    "max_top2_char_frac": 0.5, "max_top3_char_frac": 0.5,
    "max_top4_char_frac": 0.5,
}


def test_gopher_edge_rows_match_duckdb(spark):
    """gopher_keep / gopher_signals (and the repetition signals) on
    degenerate documents — empty, whitespace only, newlines only, one
    repeated line, fewer words than the n-gram size, bullet and
    ellipsis lines, CJK and emoji — equal their DuckDB twins exactly."""
    from leann_rs_spark.functions.textstats import (
        duckdb_dup_line_char_frac,
        duckdb_dup_line_frac,
        duckdb_gopher_keep,
        duckdb_gopher_signals,
        duckdb_top_ngram_char_frac,
        dup_line_char_frac,
        dup_line_frac,
        gopher_keep,
        gopher_signals,
        top_ngram_char_frac,
    )

    names = list(duckdb_gopher_signals("text"))
    df = spark.createDataFrame(GOPHER_EDGE_ROWS, "id long, text string")
    s = gopher_signals("text")
    got = [
        tuple(r)
        for r in df.select(
            "id",
            *[s[n] for n in names],
            dup_line_frac("text"),
            dup_line_char_frac("text"),
            *[top_ngram_char_frac("text", n) for n in (2, 3, 4)],
            gopher_keep("text"),
            gopher_keep("text", **GOPHER_LOOSE),
        ).orderBy("id").collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", GOPHER_EDGE_ROWS)
    ds = duckdb_gopher_signals("text")
    want = con.sql(f"""
        SELECT id, {", ".join(ds[n] for n in names)},
               {duckdb_dup_line_frac('text')},
               ({duckdb_dup_line_char_frac('text')}),
               {", ".join(f"({duckdb_top_ngram_char_frac('text', n)})"
                          for n in (2, 3, 4))},
               {duckdb_gopher_keep('text')},
               {duckdb_gopher_keep('text', **GOPHER_LOOSE)}
        FROM d ORDER BY id
    """).fetchall()
    con.close()
    assert got == want
    keeps = {r[0]: (r[-2], r[-1]) for r in got}
    assert keeps[12] == (True, True)
    assert keeps[0] == (False, False)
    assert any(k[1] for i, k in keeps.items() if i != 12)


def test_lm_score_hand_computed(spark):
    """Bigram add-k cross-entropy on a corpus small enough to verify by
    hand; short/empty docs keep n_bigrams=0 and NULL xent."""
    import math

    from leann_rs_spark.functions.textstats import lm_score

    docs = spark.createDataFrame(
        [
            (1, "aa bb aa bb"),
            (2, "aa bb cc"),
            (3, "aa"),          # 1 token -> no bigrams
            (4, ""),            # empty
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in lm_score(docs).collect()}
    # corpus bigrams: (aa,bb) x3, (bb,aa) x1, (bb,cc) x1 ; V = 3
    k = 0.1
    p_ab = (3 + k) / (4 + k * 3)   # c1(aa)=3... wait c1 = sum of c2 rows
    # c1(aa) = 3 (aa->bb); c1(bb) = 2 (bb->aa, bb->cc)
    p_ab = (3 + k) / (3 + k * 3)
    p_ba = (1 + k) / (2 + k * 3)
    p_bc = (1 + k) / (2 + k * 3)
    x1 = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
    x2 = -(math.log(p_ab) + math.log(p_bc)) / 2
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["xent"] - x1) < 1e-9
    assert out[2]["n_bigrams"] == 2
    assert abs(out[2]["xent"] - x2) < 1e-9
    assert out[3]["n_bigrams"] == 0 and out[3]["xent"] is None
    assert out[4]["n_bigrams"] == 0 and out[4]["xent"] is None


def test_lm_score_ranks_garble_above_prose(spark):
    """The quality-signal sanity check: a doc of corpus-typical prose
    scores lower cross-entropy than a doc of rare one-off bigrams."""
    from leann_rs_spark.functions.textstats import lm_score

    prose = "the quick brown fox jumps over the lazy dog"
    rows = [(i, prose) for i in range(20)]
    rows.append((100, "zxqv wkjh qqpl mnbv zzzz"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["xent"] for r in lm_score(docs).collect()}
    assert out[100] > out[0]


def test_top_ngrams_hand_computed(spark):
    from leann_rs_spark.functions.textstats import top_ngrams

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown dog sits"),
            (3, "the quick brown fox runs the quick brown fox"),
        ],
        "doc_id bigint, text string",
    )
    rows = top_ngrams(docs, n=3, k=2).collect()
    assert (rows[0]["ngram"], rows[0]["n_occurrences"], rows[0]["n_docs"]) == (
        "the quick brown", 4, 3
    )
    assert (rows[1]["ngram"], rows[1]["n_occurrences"], rows[1]["n_docs"]) == (
        "quick brown fox", 3, 2
    )


def test_top_ngrams_tie_break_is_lexicographic(spark):
    from leann_rs_spark.functions.textstats import top_ngrams

    docs = spark.createDataFrame(
        [(1, "bb cc dd"), (2, "aa bb cc")], "doc_id bigint, text string"
    )
    rows = top_ngrams(docs, n=2, k=4).collect()
    # all bigrams occur once except "bb cc" (twice); rest tie → asc
    assert [r["ngram"] for r in rows] == ["bb cc", "aa bb", "cc dd"]


# ---------------------------------------------------------------------------
# C4 line/page cleaning
# ---------------------------------------------------------------------------

def _c4_rows(spark, texts):
    from leann_rs_spark.functions.textstats import c4_signals

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    return [
        r["s"].asDict()
        for r in docs.orderBy("doc_id")
        .select(c4_signals("text").alias("s"))
        .collect()
    ]


def test_c4_line_rules(spark):
    """Terminal punctuation, min words, and the javascript rule each
    drop exactly their line; survivors keep document order."""
    page = "\n".join(
        [
            "This line ends with a period.",     # kept
            "no terminal punctuation here",      # dropped: no punct
            "Too short.",                        # dropped: < 3 words
            "Please enable javascript to view.", # dropped: javascript
            "Does this line survive too?",       # kept
        ]
    )
    (s,) = _c4_rows(spark, [page])
    assert s["n_kept_lines"] == 2
    assert s["clean_text"] == (
        "This line ends with a period.\nDoes this line survive too?"
    )
    assert s["n_sentences"] == 2


def test_c4_page_rules(spark):
    """lorem ipsum / '{' / min_sentences fire at page level; a clean
    5-sentence page survives."""
    good = "\n".join(f"This is good sentence number {i}." for i in range(5))
    lorem = good + "\nLorem ipsum dolor sit amet."
    brace = good + "\nvar x = { a: 1 }"
    short = "\n".join(f"This is good sentence number {i}." for i in range(4))
    rows = _c4_rows(spark, [good, lorem, brace, short, ""])
    assert [r["keep"] for r in rows] == [True, False, False, False, False]
    assert [r["page_bad"] for r in rows] == [False, True, True, False, False]
    # the brace page's kept lines still exclude the brace line itself
    assert rows[2]["n_kept_lines"] == 5
    # empty doc: no lines, no sentences, clean_text is '' not NULL
    assert rows[4]["clean_text"] == "" and rows[4]["n_kept_lines"] == 0


def test_c4_blocklist_and_quote_terminal(spark):
    from leann_rs_spark.functions.textstats import c4_signals

    page = "\n".join(
        ['He said "stop right there."', 'She replied "why would I do that?"']
        + [f"Filler sentence number {i} here." for i in range(3)]
    )
    docs = spark.createDataFrame(
        [(0, page), (1, page + "\nBuy cheap WIDGETS now.")],
        "doc_id bigint, text string",
    )
    out = [
        r["s"].asDict()
        for r in docs.orderBy("doc_id")
        .select(c4_signals("text", blocklist=("cheap widgets",)).alias("s"))
        .collect()
    ]
    assert out[0]["keep"] is True and out[0]["n_kept_lines"] == 5
    assert out[1]["keep"] is False and out[1]["page_bad"] is True


def test_c4_duckdb_parity_random(spark):
    """Spark struct == DuckDB twins on a mixed corpus including unicode
    quotes, blank lines, and whitespace runs."""
    import duckdb

    from leann_rs_spark.functions.textstats import (
        c4_signals,
        duckdb_c4_signals,
    )

    texts = [
        "One two three.\n\n  spaced   out   line here!  \nshort.",
        "Ends with close quote.”\nNO PUNCT LINE AT ALL",
        "Lorem Ipsum is not case sensitive.\nAnother fine line here.",
        "a { b\nSolid line with words and marks?",
        "",
        "Tab\tseparated words count too.\n" * 6,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    s = c4_signals("text")
    got = [
        (r["doc_id"], r["k"], r["b"], r["nl"], r["ns"], r["ct"])
        for r in docs.orderBy("doc_id").select(
            "doc_id",
            s["keep"].alias("k"),
            s["page_bad"].alias("b"),
            s["n_kept_lines"].alias("nl"),
            s["n_sentences"].alias("ns"),
            s["clean_text"].alias("ct"),
        ).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR)"
    )
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        [(i, t) for i, t in enumerate(texts)],
    )
    sig = duckdb_c4_signals("text")
    want = con.execute(
        f"""SELECT doc_id, {sig['keep']}, {sig['page_bad']},
                   CAST({sig['n_kept_lines']} AS INT),
                   CAST({sig['n_sentences']} AS INT), {sig['clean_text']}
            FROM documents ORDER BY doc_id"""
    ).fetchall()
    assert got == [tuple(r) for r in want]


def test_lm_buckets_terciles_and_short(spark):
    from leann_rs_spark.functions.textstats import lm_buckets

    rows = (
        [(i, "the quick brown fox jumps over the lazy dog again") for i in range(6)]
        + [(10 + i, "zz qq vv xx ww yy kk jj") for i in range(3)]
        + [(20, "one"), (21, "")]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in lm_buckets(df).collect()}
    # <2-token docs are 'short'
    assert out[20]["bucket"] == "short" and out[21]["bucket"] == "short"
    assert out[20]["xent_r"] is None
    # the repeated fluent sentence is corpus-typical → head;
    # the garble docs land in the tail
    assert out[0]["bucket"] == "head"
    assert out[10]["bucket"] == "tail"
    # head xent strictly below tail xent
    assert out[0]["xent_r"] < out[10]["xent_r"]


def test_lm_buckets_fraction_validation(spark):
    from leann_rs_spark.functions.textstats import lm_buckets

    df = spark.createDataFrame([(0, "aa bb")], "doc_id bigint, text string")
    import pytest as _pt
    with _pt.raises(ValueError):
        lm_buckets(df, fractions=(0.7, 0.3))
