"""Text-analysis primitives: stats, quality, language-ID, fingerprint.

LLM-training-pipeline operators beyond the reference surface
(BASELINE.json "beyond the reference"; the reference's only text
analytics are the BM25 tokenizer and the query-expansion stopword list,
/root/reference/src/index/bm25.rs:13-15, src/index/query.rs:86-102).

Everything is a native Catalyst expression with a DuckDB twin — no
Python in the hot path, embarrassingly parallel per row (zero shuffle
at any scale), whole-stage codegen applies.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from leann_rs_spark.functions.text import hash64, tokenize

# GPT/BPE-style pre-tokenization approximation: letter runs, single
# digits, or single non-alphanumeric-non-space marks.
BPE_ISH_RE = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"

# Per-language profiles: high-frequency function words. Small on
# purpose — broadcast as literals into the expression (no join).
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit",
           "von", "auf", "sich", "dem", "den", "des", "im", "zu", "für",
           "wir", "sie", "aber", "auch", "sind", "wird", "bei"],
    "en": ["the", "of", "and", "to", "in", "is", "that", "it", "was", "for",
           "on", "are", "with", "as", "his", "they", "at", "be", "this",
           "have", "from", "or", "had", "by", "not"],
    "es": ["el", "la", "de", "que", "los", "se", "del", "las", "por", "un",
           "para", "con", "una", "su", "es", "al", "lo", "como", "más",
           "pero", "sus", "le", "ya", "este", "sí"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "un", "une", "du",
           "que", "qui", "dans", "pour", "ce", "pas", "sur", "ne", "se",
           "plus", "par", "avec", "son", "au", "nous"],
}
CJK_RE = r"[一-鿿]"
LANGS = ["de", "en", "es", "fr", "zh"]  # alphabetical = tie-break order


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.filter(F.split(text, r"\s+"), lambda t: F.length(t) > 0))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Count of BPE-pre-tokenization-style pieces."""
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), 0))


def duckdb_token_count(text: str) -> str:
    return (
        f"len(list_filter(regexp_split_to_array({text}, '\\s+'),"
        f" t -> length(t) > 0))"
    )


def duckdb_bpe_ish_token_count(text: str) -> str:
    return f"len(regexp_extract_all({text}, '{BPE_ISH_RE}'))"


def _ratio(num: Column, den: Column) -> Column:
    return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))


def alpha_ratio(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    return _ratio(alpha, F.length(text))


def punct_ratio(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return _ratio(punct, F.length(text))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    text = F.col(text) if isinstance(text, str) else text
    toks = tokenize(text)
    sw = F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return _ratio(hits, F.size(toks))


def type_token_ratio(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    toks = tokenize(text)
    return _ratio(F.size(F.array_distinct(toks)), F.size(toks))


def mean_word_len(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    toks = tokenize(text)
    total = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    return _ratio(total, F.size(toks))


def duckdb_alpha_ratio(text: str) -> str:
    return (
        f"(case when length({text}) > 0 then "
        f"length(regexp_replace({text}, '[^a-zA-Z]', '', 'g'))::double"
        f" / length({text}) else 0.0 end)"
    )


def duckdb_punct_ratio(text: str) -> str:
    pat = r"[^.,;:!?''\"()\[\]{}-]"  # '' = escaped quote inside SQL literal
    return (
        f"(case when length({text}) > 0 then "
        f"length(regexp_replace({text}, '{pat}', '', 'g'))::double"
        f" / length({text}) else 0.0 end)"
    )


def duckdb_stopword_ratio(text: str, lang: str = "en") -> str:
    from leann_rs_spark.functions.text import duckdb_tokenize

    words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
    toks = duckdb_tokenize(text)
    return (
        f"(case when len({toks}) > 0 then "
        f"len(list_filter({toks}, t -> list_contains([{words}], t)))::double"
        f" / len({toks}) else 0.0 end)"
    )


def duckdb_type_token_ratio(text: str) -> str:
    from leann_rs_spark.functions.text import duckdb_tokenize

    toks = duckdb_tokenize(text)
    return (
        f"(case when len({toks}) > 0 then "
        f"len(list_distinct({toks}))::double / len({toks}) else 0.0 end)"
    )


def duckdb_mean_word_len(text: str) -> str:
    from leann_rs_spark.functions.text import duckdb_tokenize

    toks = duckdb_tokenize(text)
    return (
        f"(case when len({toks}) > 0 then "
        f"list_reduce(list_prepend(0, list_transform({toks},"
        f" t -> length(t))), (a, x) -> a + x)::double / len({toks})"
        f" else 0.0 end)"
    )


# ---------------------------------------------------------------------------
# Quality score: C4/Gopher-style heuristic composite
# ---------------------------------------------------------------------------

def quality_score(text: Column | str) -> Column:
    """Composite ∈ [0, 1]: rewards alphabetic text with sane word
    lengths and lexical diversity, penalizes punctuation soup. Weighted
    sum — weights are heuristic (C4/Gopher-style), value is its
    determinism and cheapness at 100 TB, not linguistic perfection."""
    text = F.col(text) if isinstance(text, str) else text
    mwl = mean_word_len(text)
    len_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    score = (
        alpha_ratio(text) * 0.4
        + (1.0 - punct_ratio(text)) * 0.2
        + type_token_ratio(text) * 0.2
        + len_ok * 0.2
    )
    return F.least(F.greatest(score, F.lit(0.0)), F.lit(1.0))


def duckdb_quality_score(text: str) -> str:
    mwl = duckdb_mean_word_len(text)
    return (
        f"least(greatest("
        f"{duckdb_alpha_ratio(text)} * 0.4"
        f" + (1.0 - {duckdb_punct_ratio(text)}) * 0.2"
        f" + {duckdb_type_token_ratio(text)} * 0.2"
        f" + (case when {mwl} >= 3.0 and {mwl} <= 10.0 then 1.0 else 0.0 end)"
        f" * 0.2, 0.0), 1.0)"
    )


# ---------------------------------------------------------------------------
# Language ID
# ---------------------------------------------------------------------------

def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language evidence: stopword hit-ratio for de/en/es/fr, CJK
    character fraction for zh."""
    text = F.col(text) if isinstance(text, str) else text
    scores = {l: stopword_ratio(text, l) for l in LANG_PROFILES}
    cjk = F.length(text) - F.length(F.regexp_replace(text, CJK_RE, ""))
    scores["zh"] = _ratio(cjk, F.length(text))
    return scores


def lang_id(text: Column | str) -> Column:
    """argmax over lang_scores; ties break to the alphabetically first
    language (deterministic CASE chain, identical in the oracle).

    Let-bound twice (the CLAUDE.md HOF rule): the naive CASE chain
    references each score expression up to 8 times and Catalyst does
    not CSE into the comparisons, so the text was re-tokenized ~40×
    per row (measured 2.8 s of x_analyze_report's 8.5 s at sf0.1).
    Here tokenize() runs ONCE (inner transform binds the token array
    and emits the four stopword ratios), the CJK regex runs ONCE, and
    the argmax compares elements of the bound 5-score array. Same
    comparisons on the same values — bit-identical to the unbound
    form, so every oracle stays untouched."""
    text = F.col(text) if isinstance(text, str) else text
    sw_langs = [l for l in LANGS if l != "zh"]

    def ratios(toks: Column) -> Column:
        n = F.size(toks)
        out = []
        for lang in sw_langs:
            sw = F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
            hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
            out.append(_ratio(hits, n))
        return F.array(*out)

    sw_scores = F.transform(F.array(tokenize(text)), ratios)[0]
    cjk = F.length(text) - F.length(F.regexp_replace(text, CJK_RE, ""))
    scores5 = F.concat(sw_scores, F.array(_ratio(cjk, F.length(text))))
    order = sw_langs + ["zh"]  # scores5 element order
    idx = {l: order.index(l) for l in LANGS}

    def argmax(s: Column) -> Column:
        pred = None
        for lang in LANGS:
            cond = None
            for other in LANGS:
                if other == lang:
                    continue
                c = s[idx[lang]] >= s[idx[other]]
                cond = c if cond is None else (cond & c)
            pred = (
                F.when(cond, F.lit(lang))
                if pred is None
                else pred.when(cond, F.lit(lang))
            )
        return pred.otherwise(F.lit("und"))

    return F.transform(F.array(scores5), argmax)[0]


def duckdb_lang_scores(text: str) -> dict[str, str]:
    scores = {l: duckdb_stopword_ratio(text, l) for l in LANG_PROFILES}
    cjk_pat = CJK_RE  # literal char range — RE2 lacks \uXXXX escapes
    scores["zh"] = (
        f"(case when length({text}) > 0 then "
        f"(length({text}) - length(regexp_replace({text}, '{cjk_pat}', '', 'g')))::double"
        f" / length({text}) else 0.0 end)"
    )
    return scores


def duckdb_lang_id(text: str) -> str:
    s = duckdb_lang_scores(text)
    whens = []
    for lang in LANGS:
        conds = " and ".join(
            f"{s[lang]} >= {s[other]}" for other in LANGS if other != lang
        )
        whens.append(f"when {conds} then '{lang}'")
    return f"(case {' '.join(whens)} else 'und' end)"


# ---------------------------------------------------------------------------
# Document fingerprint
# ---------------------------------------------------------------------------

_FP_MOD = (1 << 31) - 1  # Mersenne prime; keeps the fold within 2^38 < 2^63
_FP_BASE = 131


def fingerprint(text: Column | str) -> Column:
    """Order-sensitive polynomial rolling hash over the token sequence:
    acc = (acc * 131 + md5_60(token) % M) % M, M = 2^31 - 1. Products
    stay < 2^39, so BIGINT arithmetic is overflow-free and identical in
    Spark and DuckDB. Same token sequence ⇒ same fingerprint; any
    reorder/edit ⇒ different (w.h.p.)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.aggregate(
        tokenize(text),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * _FP_BASE + hash64(t) % _FP_MOD) % _FP_MOD,
    )


def duckdb_fingerprint(text: str) -> str:
    from leann_rs_spark.functions.text import duckdb_hash64, duckdb_tokenize

    h = duckdb_hash64("t")
    return (
        f"list_reduce(list_prepend(0::bigint,"
        f" list_transform({duckdb_tokenize(text)}, t -> ({h} % {_FP_MOD}))),"
        f" (acc, x) -> (acc * {_FP_BASE} + x) % {_FP_MOD})"
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data scrubbing)
# ---------------------------------------------------------------------------
# Conservative patterns in the regex subset Java (Spark) and RE2
# (DuckDB) interpret identically: no backrefs, no lookaround, explicit
# classes only.

_PII_PATTERNS = [
    # emails
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # urls — the final class keeps sentence punctuation out of the match
    (r"https?://[^\s]*[^\s.,)\]>]", "<URL>"),
    # long digit runs (account/card-ish) BEFORE phones, so a 16-digit
    # card is <NUM> rather than <PHONE> + leftover digits
    (r"[0-9]{12,19}", "<NUM>"),
    # US-ish phone numbers: optional country code, optional separators —
    # catches 555-123-4567, (555) 123-4567, 5551234567, +1 (555) 123-4567
    (r"(?:\+?[0-9]{1,2}[-. ]?)?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}",
     "<PHONE>"),
]


def redact_pii(text: Column | str) -> Column:
    """Replace emails / URLs / phone-shaped / long-digit spans with
    typed placeholders — the scrubbing pass of a training-data pipeline.
    Pure regexp_replace chain: codegen, no shuffle, trivially parallel."""
    text = F.col(text) if isinstance(text, str) else text
    out = text
    for pat, repl in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def duckdb_redact_pii(text: str) -> str:
    out = text
    for pat, repl in _PII_PATTERNS:
        escaped = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{escaped}', '{repl}', 'g')"
    return out


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------
# The "Scaling Language Models" (Gopher) repetition filters, standard
# in pretraining pipelines (also C4/RefinedWeb/Dolma): fraction of
# duplicate lines, fraction of characters in duplicate lines, and the
# fraction of characters covered by the single most frequent word
# n-gram (n = 2, 3, 4; Gopher thresholds 0.20/0.18/0.16). All are
# per-row expressions built on sorted-array folds — O(L log L) per
# document, ZERO shuffle at any corpus size. Ties for the top n-gram
# break on (count, char length, ngram) descending in both engines.


def _ws_words(text: Column) -> Column:
    return F.filter(F.split(F.trim(text), r"\s+"), lambda x: x != F.lit(""))


def _doc_lines(text: Column) -> Column:
    return F.filter(
        F.transform(F.split(text, "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )


def _dup_line_frac_of(lines: Column) -> Column:
    return F.when(
        F.size(lines) > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(lines)).cast("double")
        / F.size(lines).cast("double"),
    ).otherwise(F.lit(0.0))


def _dup_line_char_frac_of(lines: Column) -> Column:
    """`dup_line_char_frac` over a line array, which it sorts and
    let-binds."""

    def body(lines: Column) -> Column:
        def dup_len(x, i):
            prev_ok = (i > 0) & (
                x == F.element_at(lines, F.greatest(i, F.lit(1)))
            )
            nxt = F.least(i + 2, F.greatest(F.size(lines), F.lit(1)))
            next_ok = (i + 2 <= F.size(lines)) & (x == F.element_at(lines, nxt))
            return F.when(prev_ok | next_ok, F.length(x)).otherwise(F.lit(0))

        dup_chars = F.aggregate(
            F.transform(lines, dup_len), F.lit(0), lambda a, x: a + x
        )
        total = F.aggregate(
            F.transform(lines, lambda x: F.length(x)),
            F.lit(0),
            lambda a, x: a + x,
        )
        return F.when(
            total > 0, dup_chars.cast("double") / total.cast("double")
        ).otherwise(F.lit(0.0))

    return F.transform(F.array(F.array_sort(lines)), body)[0]


def _top_ngram_char_frac_of(toks: Column, text: Column, n: int) -> Column:
    """`top_ngram_char_frac` over a let-bound whitespace-word array."""
    ngrams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    s = F.array_sort(ngrams)
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.struct(
            F.lit(0).alias("cnt"), F.lit(0).alias("len"), F.lit("").alias("ng")
        ).alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        cand = F.struct(run.alias("cnt"), F.length(x).alias("len"), x.alias("ng"))
        best = F.when(cand > acc["best"], cand).otherwise(acc["best"])
        return F.struct(x.alias("prev"), run.alias("run"), best.alias("best"))

    best = F.aggregate(s, init, step, lambda acc: acc["best"])
    return (
        (best["cnt"] * best["len"]).cast("double")
        / F.greatest(F.length(text), F.lit(1)).cast("double")
    )


def dup_line_frac(text: Column | str) -> Column:
    """Fraction of (trimmed, nonempty) lines that are repeats of an
    earlier line: 1 - distinct/total. 0.0 for line-less docs."""
    text = F.col(text) if isinstance(text, str) else text
    return _dup_line_frac_of(_doc_lines(text))


def dup_line_char_frac(text: Column | str) -> Column:
    """Fraction of line characters sitting in lines that occur more
    than once. Sorted-neighbor test: in the sorted line array an
    element is duplicated iff it equals its predecessor or successor
    (element_at positions clamped — Spark's boolean operators do not
    short-circuit, so out-of-range probes must stay in range even when
    the guard is false).

    The sorted line array is let-bound via the single-element-array
    transform (the codebase's HOF idiom): referencing the split
    expression directly inside the per-element lambda would re-split
    the text once per line per probe (Catalyst does not CSE into HOF
    lambdas; measured ~5× on the Gopher gate)."""
    text = F.col(text) if isinstance(text, str) else text
    return _dup_line_char_frac_of(_doc_lines(text))


def top_ngram_char_frac(text: Column | str, n: int) -> Column:
    """Characters covered by the most frequent word n-gram (count ×
    n-gram length incl. internal spaces) over the raw text length.
    Computed with one sorted fold carrying (prev, run, best) — the max
    run in a sorted array is the max multiplicity.

    The token array is let-bound (single-element-array transform)
    before the per-position n-gram build: referencing the whitespace
    split directly inside the position lambda would re-split the text
    once per n-gram position — the documented HOF-CSE trap, measured
    ~5× on the Gopher gate."""
    text = F.col(text) if isinstance(text, str) else text
    return F.transform(
        F.array(_ws_words(text)),
        lambda toks: _top_ngram_char_frac_of(toks, text, n),
    )[0]


def duckdb_dup_line_frac(text: str) -> str:
    lines = (
        f"list_filter(list_transform(str_split({text}, chr(10)),"
        f" x -> trim(x)), x -> x <> '')"
    )
    return (
        f"CASE WHEN len({lines}) > 0 THEN"
        f" 1.0 - len(list_distinct({lines}))::double / len({lines})::double"
        f" ELSE 0.0 END"
    )


def duckdb_dup_line_char_frac(text: str) -> str:
    lines = (
        f"list_filter(list_transform(str_split({text}, chr(10)),"
        f" x -> trim(x)), x -> x <> '')"
    )
    return f"""
        coalesce((SELECT CASE WHEN sum(cnt * len) > 0 THEN
                    sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END)::double
                    / sum(cnt * len)::double
                  ELSE 0.0 END
          FROM (SELECT l, count(*) AS cnt, length(l) AS len
                FROM unnest({lines}) AS u(l) GROUP BY l)), 0.0)
    """


def duckdb_top_ngram_char_frac(text: str, n: int) -> str:
    toks = f"list_filter(str_split_regex(trim({text}), '\\s+'), x -> x <> '')"
    return f"""
        coalesce((SELECT cnt * length(ng)
          FROM (SELECT ng, count(*) AS cnt FROM (
              SELECT list_aggregate(list_slice({toks}, i, i + {n - 1}),
                                    'string_agg', ' ') AS ng
              FROM unnest(CASE WHEN len({toks}) >= {n}
                          THEN generate_series(1, len({toks}) - {n - 1})
                          ELSE [] END) AS g(i)) GROUP BY ng)
          ORDER BY cnt DESC, length(ng) DESC, ng DESC LIMIT 1), 0)::double
        / greatest(length({text}), 1)::double
    """


# ---------------------------------------------------------------------------
# Gopher document-quality filter (the keep/drop gate)
# ---------------------------------------------------------------------------
# The Gopher paper's §A1.1 document filters (public; standard in C4/
# RefinedWeb/Dolma-style pipelines), composed from per-row expressions.
# All thresholds are parameters; defaults are the published ones.

_GOPHER_REQUIRED_STOPWORDS = ["and", "be", "have", "of", "that", "the", "to", "with"]
_BULLET_PREFIXES = ("•", "‣", "▪", "-", "*")


def _gopher_signal_cols(text: Column, words: Column, lines: Column) -> dict:
    """The §A1.1 signals of `gopher_signals`, by field name, over the
    document's whitespace words and trimmed nonempty lines."""
    wc = F.size(words)
    wlen = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    symbols = F.regexp_count(text, F.lit("#")) + F.regexp_count(
        text, F.lit(r"\.\.\.|…")
    )
    nlines = F.size(lines)
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.array_contains(
                F.array(*[F.lit(b) for b in _BULLET_PREFIXES]), F.substring(l, 1, 1)
            ),
        )
    )
    ellip = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    low = F.array_distinct(
        F.transform(words, lambda w: F.lower(F.regexp_replace(w, r"[^A-Za-z]", "")))
    )
    sw_hits = F.size(
        F.filter(
            low,
            lambda t: F.array_contains(
                F.array(*[F.lit(w) for w in _GOPHER_REQUIRED_STOPWORDS]), t
            ),
        )
    )
    return {
        "word_count": wc,
        "mean_word_len": _ratio(wlen, wc),
        "symbol_word_ratio": _ratio(symbols, wc),
        "bullet_line_frac": _ratio(bullet, nlines),
        "ellipsis_line_frac": _ratio(ellip, nlines),
        "alpha_word_frac": _ratio(alpha_words, wc),
        "required_stopword_hits": sw_hits,
    }


def gopher_signals(text: Column | str) -> Column:
    """STRUCT of the Gopher §A1.1 document signals (word counts over
    whitespace words, line stats over trimmed nonempty lines):
    word_count, mean_word_len, symbol_word_ratio (# and ellipses per
    word), bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
    required_stopword_hits (distinct members of the 8-word set).

    A plain struct, not let-bound: a field read of a lambda-bound
    struct would evaluate the whole lambda once per read."""
    text = F.col(text) if isinstance(text, str) else text
    cols = _gopher_signal_cols(text, _ws_words(text), _doc_lines(text))
    return F.struct(*[c.alias(name) for name, c in cols.items()])


def gopher_keep(
    text: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top2_char_frac: float = 0.20,
    max_top3_char_frac: float = 0.18,
    max_top4_char_frac: float = 0.16,
) -> Column:
    """Boolean keep/drop per the Gopher §A1.1 + repetition thresholds —
    the whole gate is ONE projection, no shuffle at any corpus size.

    The document is split into words and lines ONCE: the gate is one
    let-bound transform over struct(words, lines, text), and every
    signal reads the bound arrays. Composing the public signal
    functions instead re-splits the text per signal (a 44k-character
    expression with 151 splits), and every later operator on the gated
    lineage re-analyzes it."""
    text = F.col(text) if isinstance(text, str) else text
    bound = F.struct(
        _ws_words(text).alias("words"),
        _doc_lines(text).alias("lines"),
        text.alias("text"),
    )

    def body(b: Column) -> Column:
        words, lines, t = b["words"], b["lines"], b["text"]
        s = _gopher_signal_cols(t, words, lines)
        return (
            s["word_count"].between(min_words, max_words)
            & s["mean_word_len"].between(min_mean_word_len, max_mean_word_len)
            & (s["symbol_word_ratio"] <= max_symbol_word_ratio)
            & (s["bullet_line_frac"] <= max_bullet_line_frac)
            & (s["ellipsis_line_frac"] <= max_ellipsis_line_frac)
            & (s["alpha_word_frac"] >= min_alpha_word_frac)
            & (s["required_stopword_hits"] >= min_stopword_hits)
            & (_dup_line_frac_of(lines) <= max_dup_line_frac)
            & (_dup_line_char_frac_of(lines) <= max_dup_line_char_frac)
            & (_top_ngram_char_frac_of(words, t, 2) <= max_top2_char_frac)
            & (_top_ngram_char_frac_of(words, t, 3) <= max_top3_char_frac)
            & (_top_ngram_char_frac_of(words, t, 4) <= max_top4_char_frac)
        )

    return F.transform(F.array(bound), body)[0]


def _duckdb_ws_words(text: str) -> str:
    return f"list_filter(str_split_regex(trim({text}), '\\s+'), x -> x <> '')"


def _duckdb_lines(text: str) -> str:
    return (
        f"list_filter(list_transform(str_split({text}, chr(10)),"
        f" x -> trim(x)), x -> x <> '')"
    )


def duckdb_gopher_signals(text: str) -> dict[str, str]:
    words = _duckdb_ws_words(text)
    lines = _duckdb_lines(text)
    wc = f"len({words})"
    wlen = (
        f"list_reduce(list_prepend(0, list_transform({words},"
        f" w -> length(w))), (a, x) -> a + x)"
    )
    symbols = (
        f"(len(regexp_extract_all({text}, '#'))"
        f" + len(regexp_extract_all({text}, '\\.\\.\\.|…')))"
    )
    bullets = "', '".join(_BULLET_PREFIXES)
    bullet = (
        f"len(list_filter({lines}, l -> list_contains(['{bullets}'],"
        f" l[1:1])))"
    )
    ellip = (
        f"len(list_filter({lines}, l -> l LIKE '%...' OR l LIKE '%…'))"
    )
    alpha = f"len(list_filter({words}, w -> regexp_matches(w, '[A-Za-z]')))"
    sws = "', '".join(_GOPHER_REQUIRED_STOPWORDS)
    sw_hits = (
        f"len(list_filter(list_distinct(list_transform({words},"
        f" w -> lower(regexp_replace(w, '[^A-Za-z]', '', 'g')))),"
        f" t -> list_contains(['{sws}'], t)))"
    )

    def ratio(num: str, den: str) -> str:
        return f"(case when {den} > 0 then {num}::double / {den} else 0.0 end)"

    return {
        "word_count": wc,
        "mean_word_len": ratio(wlen, wc),
        "symbol_word_ratio": ratio(symbols, wc),
        "bullet_line_frac": ratio(bullet, f"len({lines})"),
        "ellipsis_line_frac": ratio(ellip, f"len({lines})"),
        "alpha_word_frac": ratio(alpha, wc),
        "required_stopword_hits": sw_hits,
    }


def duckdb_gopher_keep(
    text: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top2_char_frac: float = 0.20,
    max_top3_char_frac: float = 0.18,
    max_top4_char_frac: float = 0.16,
) -> str:
    """Oracle twin of `gopher_keep` — same thresholds, same defaults."""
    s = duckdb_gopher_signals(text)
    return (
        f"({s['word_count']} BETWEEN {min_words} AND {max_words}"
        f" AND {s['mean_word_len']} BETWEEN {min_mean_word_len} AND {max_mean_word_len}"
        f" AND {s['symbol_word_ratio']} <= {max_symbol_word_ratio}"
        f" AND {s['bullet_line_frac']} <= {max_bullet_line_frac}"
        f" AND {s['ellipsis_line_frac']} <= {max_ellipsis_line_frac}"
        f" AND {s['alpha_word_frac']} >= {min_alpha_word_frac}"
        f" AND {s['required_stopword_hits']} >= {min_stopword_hits}"
        f" AND {duckdb_dup_line_frac(text)} <= {max_dup_line_frac}"
        f" AND ({duckdb_dup_line_char_frac(text)}) <= {max_dup_line_char_frac}"
        f" AND ({duckdb_top_ngram_char_frac(text, 2)}) <= {max_top2_char_frac}"
        f" AND ({duckdb_top_ngram_char_frac(text, 3)}) <= {max_top3_char_frac}"
        f" AND ({duckdb_top_ngram_char_frac(text, 4)}) <= {max_top4_char_frac})"
    )


# ---------------------------------------------------------------------------
# Corpus-self bigram-LM scoring (CCNet-style quality signal)
# ---------------------------------------------------------------------------

def lm_score(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.1,
    intermediates: list | None = None,
    keep_cols: list[str] | None = None,
):
    """Per-document cross-entropy under a bigram LM trained on the
    corpus ITSELF (add-k smoothing) — the perplexity-style quality
    signal CCNet-family pipelines (arXiv:1911.00359) filter on: text
    far from the corpus distribution (boilerplate, garble, wrong
    language) scores high, typical prose scores low. Self-training
    avoids shipping an external LM while keeping the signal's shape;
    swap the count tables for a reference corpus's to reproduce CCNet
    exactly.

    → (id_col, n_bigrams, xent) with xent = avg over the doc's
    bigrams of -ln p(w2|w1), p = (c(w1,w2)+k) / (c(w1)+k·V); docs with
    <2 tokens keep n_bigrams=0 and NULL xent.

    Scale shape: bigram counts are ONE groupBy with map-side partials;
    context counts reduce from the bigram table (vocab-sized, no
    second pass over the corpus); scoring joins the exploded bigrams
    to the count tables on their natural keys — shuffle joins that AQE
    can convert to broadcast when the vocabulary fits, correct either
    way at 100 TB. The per-doc average is one more map-side-combined
    groupBy. Nothing is driver-resident.

    The exploded-bigram frame feeds BOTH the count aggregation and the
    scoring join (different exchange shapes — not reusable plan
    subtrees), so it is persisted AND materialized here; at 100 TB
    that persist is "write the bigram table once". `intermediates`
    receives it for caller unpersist in long-lived drivers.
    """
    per_doc = _lm_per_doc(docs, id_col, text_col, k, intermediates)
    # `keep_cols`: docs columns (or column expressions via a prior
    # withColumn) carried through the doc-keyed restore join — lets a
    # composed gate compute per-doc flags in THIS scan instead of
    # joining a second corpus-sized projection to the output (removes
    # a corpus⋈corpus exchange; the r10 x_quality_ensemble shape).
    keep_cols = keep_cols or []
    return (
        docs.select(id_col, *keep_cols)
        .join(per_doc, F.col(id_col) == F.col("__id"), "left")
        .select(
            id_col,
            *keep_cols,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "xent",
        )
    )


def _lm_per_doc(
    docs, id_col: str, text_col: str, k: float, intermediates: list | None
):
    """lm_score's aggregation core: → (__id, n_bigrams, xent) for every
    doc with ≥1 bigram (short docs are absent — the caller's restore
    join reinstates them with n_bigrams=0, NULL xent). Split out so
    lm_buckets can aggregate percentile thresholds over THIS frame
    directly: thresholds ignore NULL-xent rows anyway, so the duplicate
    plan branch feeding the (non-CSE'd) percentile aggregate skips the
    corpus-keys scan and restore join entirely (r11; ~0.3 s/gate at
    sf0.1, one corpus scan fewer at scale).

    Precondition: `id_col` is unique in `docs`. Rows sharing an id
    collapse into one per-doc row here, so thresholds computed over
    this frame differ from ones computed per input row."""
    toks = docs.select(F.col(id_col).alias("__id"), tokenize(text_col).alias("__t"))
    # in-row bigram construction: zip the array against itself shifted
    # by one (slice lengths clamp at 0 for short docs)
    n1 = F.greatest(F.size("__t") - 1, F.lit(0))
    bg = F.zip_with(
        F.slice("__t", F.lit(1), n1),
        F.slice("__t", F.lit(2), n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = toks.select("__id", F.explode(bg).alias("__bg")).select(
        "__id", F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2")
    ).persist()
    pairs.count()  # materialize: two consumers with different exchanges
    if intermediates is not None:
        intermediates.append(pairs)
    c2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("__c2"))
    c1 = c2.groupBy("w1").agg(F.sum("__c2").alias("__c1"))
    vocab = toks.select(F.explode("__t").alias("__w")).agg(
        F.count_distinct("__w").alias("__v")
    )
    scored = (
        pairs.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "__id",
            (
                -F.log(
                    (F.col("__c2") + F.lit(k))
                    / (F.col("__c1") + F.lit(k) * F.col("__v"))
                )
            ).alias("__nll"),
        )
    )
    return scored.groupBy("__id").agg(
        F.count("*").alias("n_bigrams"),
        (F.sum("__nll") / F.count("*")).alias("xent"),
    )


def duckdb_lm_score(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.1,
) -> str:
    """Oracle twin of `lm_score` — same tokenize, same smoothing, same
    bigram construction (DuckDB lacks WITH ORDINALITY here: positions
    via unnest(generate_series), CLAUDE.md note)."""
    from leann_rs_spark.functions.text import duckdb_tokenize

    toks = duckdb_tokenize(text_col)
    return f"""
        WITH toks AS (
            SELECT {id_col} AS id, {toks} AS t FROM {table}
        ),
        pairs AS (
            SELECT id, list_extract(t, i) AS w1, list_extract(t, i + 1) AS w2
            FROM toks,
                 unnest(generate_series(1, greatest(len(t) - 1, 0))) s(i)
        ),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
        c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
        v AS (SELECT count(DISTINCT w) AS v FROM (
            SELECT unnest(t) AS w FROM toks
        )),
        scored AS (
            SELECT p.id,
                   -ln((c2.c2 + {k}) / (c1.c1 + {k} * v.v)) AS nll
            FROM pairs p
            JOIN c2 USING (w1, w2)
            JOIN c1 USING (w1), v
        ),
        per_doc AS (
            SELECT id, count(*) AS n_bigrams, sum(nll) / count(*) AS xent
            FROM scored GROUP BY id
        )
        SELECT d.{id_col}, coalesce(p.n_bigrams, 0) AS n_bigrams, p.xent
        FROM {table} d LEFT JOIN per_doc p ON d.{id_col} = p.id
    """


# ---------------------------------------------------------------------------
# Corpus heavy hitters — top-k n-grams with document frequency.
# ---------------------------------------------------------------------------

def top_ngrams(
    docs: DataFrame,
    n: int = 3,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The k most frequent word n-grams across the corpus, with total
    occurrence count and document frequency — the corpus-audit query
    behind boilerplate discovery (a 50k-df trigram IS a template) and
    stop-gram lists (dedup.ngram_jaccard's `max_ngram_df` cut and the
    Gopher top-ngram repetition signal both consume exactly this).

    → (ngram, n_occurrences, n_docs), ties broken ngram ASC.

    Scale: explode → ONE map-side-combined groupBy (count +
    count_distinct partials) → TakeOrdered(k). The word-count shape;
    no joins, nothing driver-resident. At 100 TB add a pre-aggregation
    salt only if one gram dominates a partition's hash range — the
    partial aggregation already absorbs ordinary skew.
    """
    from leann_rs_spark.functions.text import tokenize, word_ngrams

    toks = tokenize(text_col)
    grams = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(word_ngrams(toks, n)).alias("ngram"),
    )
    return (
        grams.groupBy("ngram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("__id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


def duckdb_top_ngrams(
    n: int = 3,
    k: int = 20,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from leann_rs_spark.functions.text import duckdb_tokenize, duckdb_word_ngrams

    toks = duckdb_tokenize(text_col)
    return f"""
        WITH g AS (
            SELECT {id_col} AS id, unnest({duckdb_word_ngrams('t', n)}) AS ngram
            FROM (SELECT {id_col}, {toks} AS t FROM {table})
        )
        SELECT ngram, count(*) AS n_occurrences,
               count(DISTINCT id) AS n_docs
        FROM g GROUP BY ngram
        ORDER BY n_occurrences DESC, ngram ASC
        LIMIT {k}
    """


# ---------------------------------------------------------------------------
# C4 line/page cleaning (Raffel et al., arXiv:1910.10683 §2.2)
# ---------------------------------------------------------------------------
# The public C4 heuristics, as a per-row expression: keep only lines
# that end in a terminal punctuation mark, contain >= min_line_words
# whitespace words, and do not mention "javascript"; drop whole pages
# containing "lorem ipsum", a curly brace, any blocklist phrase, or
# fewer than min_sentences sentences after line cleaning. ZERO shuffle
# at any corpus size — the natural first stage of a crawl pipeline,
# upstream of dedup (where the reference pipeline starts at chunking,
# build.rs:640-659, a crawl corpus needs this gate first).

_C4_TERMINAL_RE = '[.!?"”]$'
_C4_SENT_RE = "[^.!?]"


def c4_signals(
    text: Column | str,
    min_line_words: int = 3,
    min_sentences: int = 5,
    blocklist: tuple[str, ...] = (),
) -> Column:
    """STRUCT(clean_text, n_kept_lines, n_sentences, page_bad, keep).

    clean_text is the newline-join of surviving lines ('' when none
    survive). page_bad applies to the RAW text (C4 drops the page on
    raw content); keep = not page_bad AND n_sentences >= min_sentences
    AND at least one surviving line. The kept-lines array is let-bound
    via the single-element-array transform (the codebase's HOF idiom) —
    it is consumed three times (join, size, sentence count)."""
    text = F.col(text) if isinstance(text, str) else text

    def line_ok(x: Column) -> Column:
        words = F.filter(F.split(F.trim(x), r"\s+"), lambda w: w != F.lit(""))
        return (
            x.rlike(_C4_TERMINAL_RE)
            & (F.size(words) >= F.lit(min_line_words))
            & ~F.lower(x).contains("javascript")
        )

    def body(kept: Column) -> Column:
        clean = F.array_join(kept, "\n")
        n_sent = F.length(F.regexp_replace(clean, _C4_SENT_RE, ""))
        bad = F.lower(text).contains("lorem ipsum") | text.contains("{")
        for phrase in blocklist:
            bad = bad | F.lower(text).contains(phrase.lower())
        keep = (~bad) & (n_sent >= F.lit(min_sentences)) & (F.size(kept) > 0)
        return F.struct(
            clean.alias("clean_text"),
            F.size(kept).alias("n_kept_lines"),
            n_sent.alias("n_sentences"),
            bad.alias("page_bad"),
            keep.alias("keep"),
        )

    return F.transform(F.array(F.filter(_doc_lines(text), line_ok)), body)[0]


def duckdb_c4_signals(
    text: str,
    min_line_words: int = 3,
    min_sentences: int = 5,
    blocklist: tuple[str, ...] = (),
) -> dict[str, str]:
    """DuckDB twins of the c4_signals struct fields, keyed like it."""
    lines = _duckdb_lines(text)
    line_words = "len(list_filter(str_split_regex(trim(x), '\\s+'), w -> w <> ''))"
    kept = (
        f"list_filter({lines}, x -> regexp_matches(x, '{_C4_TERMINAL_RE}')"
        f" AND {line_words} >= {min_line_words}"
        f" AND NOT contains(lower(x), 'javascript'))"
    )
    clean = f"coalesce(list_aggregate({kept}, 'string_agg', chr(10)), '')"
    n_sent = f"length(regexp_replace({clean}, '{_C4_SENT_RE}', '', 'g'))"
    bad = f"(contains(lower({text}), 'lorem ipsum') OR contains({text}, '{{'))"
    for phrase in blocklist:
        bad = bad[:-1] + f" OR contains(lower({text}), '{phrase.lower()}'))"
    keep = (
        f"(NOT {bad} AND {n_sent} >= {min_sentences} AND len({kept}) > 0)"
    )
    return {
        "clean_text": clean,
        "n_kept_lines": f"len({kept})",
        "n_sentences": n_sent,
        "page_bad": bad,
        "keep": keep,
    }


def lm_buckets(
    docs,
    fractions: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.1,
    intermediates: list | None = None,
    keep_cols: list[str] | None = None,
):
    """CCNet head/middle/tail bucketing (arXiv:1911.00359 §4.3): rank
    documents by their LM cross-entropy (lm_score) and cut the corpus
    at the given quantile fractions — `head` = most-fluent third,
    `middle`, `tail` = least-fluent; CCNet trains on head+middle and
    drops tail. Documents with < 2 tokens have no bigram evidence and
    land in a separate `short` bucket rather than polluting head.

    → (id_col, n_bigrams, xent_r, bucket) with xent_r = round(xent, 6).

    Cross-engine determinism: thresholds are exact percentiles of the
    ROUNDED xent (the selection-key rounding recipe — raw xent is an
    order-sensitive float sum), so bucket comparisons see identical
    doubles on both engines. At 100 TB swap `percentile` →
    `percentile_approx` (the documented knob); buckets become
    approximate at the boundary only.

    Scale shape: lm_score's two count shuffles + ONE tiny percentile
    aggregate (2 doubles) broadcast into a projection — no extra
    corpus shuffle.

    Precondition: `id_col` is unique in `docs`. The thresholds are
    percentiles over one row per distinct id (_lm_per_doc), while the
    DuckDB twin takes them over one row per input row; the two agree
    only when ids are unique."""
    f1, f2 = fractions
    if not (0.0 < f1 < f2 < 1.0):
        raise ValueError(f"need 0 < f1 < f2 < 1, got {fractions!r}")
    per_doc = _lm_per_doc(docs, id_col, text_col, k, intermediates)
    # Thresholds aggregate over per_doc DIRECTLY: scored's extra rows
    # (restore-join left side, n_bigrams=0) all carry NULL xent and
    # were filtered out of the percentile anyway, so the values are
    # identical — but the duplicate plan branch feeding the percentile
    # (Catalyst does not CSE across the broadcast) no longer re-scans
    # the corpus keys or re-runs the restore join. The scored frame is
    # deliberately NOT persisted: a persist+count barrier here
    # serialized the whole frame ahead of the overlapping branches and
    # measured x_quality_ensemble 3.97 → 5.94 s (r11 bench context,
    # min-of-3, steal ≤0.25%); the pruned duplicate overlaps the output
    # branch on otherwise-idle cores. At corpus scale, persist the
    # CALLER's scored frame if the duplicate pass dominates.
    thr = (
        per_doc.select(F.round(F.col("xent"), 6).alias("__xr"))
        .filter(F.col("__xr").isNotNull())
        .agg(F.expr(f"percentile(__xr, array({f1!r}, {f2!r}))").alias("__t"))
    )
    keep_cols = keep_cols or []
    scored = (
        docs.select(id_col, *keep_cols)
        .join(per_doc, F.col(id_col) == F.col("__id"), "left")
        .select(
            id_col,
            *keep_cols,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "xent",
        )
        .withColumn("__xr", F.round(F.col("xent"), 6))
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        id_col,
        *keep_cols,
        "n_bigrams",
        (F.col("__xr") + F.lit(0.0)).alias("xent_r"),
        F.when(F.col("__xr").isNull(), F.lit("short"))
        .when(F.col("__xr") <= F.element_at("__t", 1), F.lit("head"))
        .when(F.col("__xr") <= F.element_at("__t", 2), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def duckdb_lm_buckets(
    fractions: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.1,
) -> str:
    """Oracle twin of lm_buckets: identical rounded-xent keys,
    quantile_cont thresholds (== Spark's exact percentile), identical
    comparison chain."""
    f1, f2 = fractions
    inner = duckdb_lm_score(table=table, id_col=id_col, text_col=text_col, k=k)
    return f"""
        WITH scored AS (
            SELECT {id_col}, n_bigrams, round(xent, 6) AS xr
            FROM ({inner})
        ),
        thr AS (
            SELECT quantile_cont(xr, {f1!r}) AS t1,
                   quantile_cont(xr, {f2!r}) AS t2
            FROM scored WHERE xr IS NOT NULL
        )
        SELECT s.{id_col}, s.n_bigrams, s.xr + 0.0 AS xent_r,
               CASE WHEN s.xr IS NULL THEN 'short'
                    WHEN s.xr <= thr.t1 THEN 'head'
                    WHEN s.xr <= thr.t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scored s, thr
    """


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (FineWeb-Edu / fastText inference shape)
# ---------------------------------------------------------------------------
#
# Production corpora are filtered by a learned quality classifier
# (fastText in CCNet/RedPajama, a linear head in FineWeb-Edu,
# arXiv:2406.17557) whose inference is: hash tokens into D buckets,
# average the bucket weights, threshold the logit. The weights come
# from training elsewhere; what the ENGINE must provide is the
# inference pass over 100 TB — which is a pure map-side projection:
# the model is a D-vector folded into the expression (or a broadcast
# array for large D), tokens are hashed and looked up inline, and NO
# shuffle or Python ever runs. This implements that pass with a
# deterministic pseudo-trained weight table (w[slot] derived from
# md5(seed:slot), uniform in [-1, 1]) so the gate is reproducible in
# both engines; swapping in real trained weights is a literal-array
# substitution.

QC_DIMS = 256
QC_SEED = "qc-v1"


def _qc_weight(tok: Column, dims: int, seed: str) -> Column:
    """w(token) = weight of the token's hash bucket, in [-1, 1] with
    1e-3 resolution — exactly representable arithmetic in both engines
    (integer hash → integer in [-1000, 1000] → /1000.0)."""
    slot = hash64(tok) % dims
    bucket_key = F.concat(F.lit(seed + ":"), slot.cast("string"))
    return (hash64(bucket_key) % 2001 - 1000) / F.lit(1000.0)


def quality_classifier_logit(
    text: Column | str,
    dims: int = QC_DIMS,
    seed: str = QC_SEED,
) -> Column:
    """Mean hashed-bucket weight over the document's tokens (the linear
    model's logit). NULL for token-less documents. Sequential fold —
    same accumulation order as the DuckDB twin."""
    text = F.col(text) if isinstance(text, str) else text
    # Let-binding (CLAUDE.md CSE rule): evaluate tokenize() once, bind
    # as the lambda variable, then the three references are free.
    return F.transform(
        F.array(tokenize(text)),
        lambda ts: F.when(
            F.size(ts) > 0,
            F.aggregate(
                ts, F.lit(0.0), lambda acc, t: acc + _qc_weight(t, dims, seed)
            )
            / F.size(ts),
        ),
    )[0]


def duckdb_quality_classifier_logit(
    text: str,
    dims: int = QC_DIMS,
    seed: str = QC_SEED,
) -> str:
    """DuckDB twin: identical hash chain, identical sequential fold."""
    from leann_rs_spark.functions.text import duckdb_hash64, duckdb_tokenize

    toks = duckdb_tokenize(text)
    slot = f"({duckdb_hash64('t')} % {dims})"
    bucket_key = f"'{seed}:' || {slot}::varchar"
    w = f"(({duckdb_hash64(bucket_key)} % 2001 - 1000) / 1000.0)"
    return (
        f"(case when len({toks}) > 0 then "
        f"list_reduce(list_prepend(0.0, list_transform({toks},"
        f" t -> {w})), (a, x) -> a + x) / len({toks})"
        f" else NULL end)"
    )


# ---------------------------------------------------------------------------
# Reference-trained LM scoring (the REAL CCNet shape, arXiv:1911.00359)
# ---------------------------------------------------------------------------
#
# `lm_score` trains on the corpus itself; CCNet's actual design trains
# the LM on a TRUSTED reference corpus (Wikipedia) and scores the
# crawl with it — distance from *reference* prose, not from the
# crawl's own (possibly garbage) distribution. Same add-k bigram
# machinery, but counts and vocabulary come from `train_docs`, unseen
# bigrams/contexts coalesce to 0 (p = k / (c1 + k·V), a proper add-k
# distribution over the train vocabulary), and every score-side bigram
# is scored (LEFT joins — OOV text scores HIGH, which is the point).
#
# Scale shape: train-side counts are one groupBy over the (much
# smaller) reference corpus; the crawl is exploded once and joined to
# the count tables — vocabulary-sized, so AQE broadcasts them and the
# 100 TB crawl never shuffles for the join.


def lm_score_ref(
    train_docs: DataFrame,
    score_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.1,
    intermediates: list | None = None,
) -> DataFrame:
    """→ (id_col, n_bigrams, xent) of `score_docs` under the bigram LM
    trained on `train_docs`. Docs with <2 tokens: n_bigrams=0, NULL
    xent."""

    def _pairs(docs: DataFrame) -> DataFrame:
        toks = docs.select(
            F.col(id_col).alias("__id"), tokenize(text_col).alias("__t")
        )
        n1 = F.greatest(F.size("__t") - 1, F.lit(0))
        bg = F.zip_with(
            F.slice("__t", F.lit(1), n1),
            F.slice("__t", F.lit(2), n1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        return toks.select("__id", F.explode(bg).alias("__bg")).select(
            "__id", F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2")
        )

    c2 = (
        _pairs(train_docs)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("__c2"))
        .persist()
    )
    c2.count()  # two consumers (c1 derivation + scoring join)
    if intermediates is not None:
        intermediates.append(c2)
    c1 = c2.groupBy("w1").agg(F.sum("__c2").alias("__c1"))
    vocab = (
        train_docs.select(F.explode(tokenize(text_col)).alias("__w"))
        .agg(F.count_distinct("__w").alias("__v"))
    )
    pairs = _pairs(score_docs)
    scored = (
        pairs.join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "__id",
            (
                -F.log(
                    (F.coalesce("__c2", F.lit(0)) + F.lit(k))
                    / (F.coalesce("__c1", F.lit(0)) + F.lit(k) * F.col("__v"))
                )
            ).alias("__nll"),
        )
    )
    per_doc = scored.groupBy("__id").agg(
        F.count("*").alias("n_bigrams"),
        (F.sum("__nll") / F.count("*")).alias("xent"),
    )
    return (
        score_docs.select(id_col)
        .join(per_doc, F.col(id_col) == F.col("__id"), "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "xent",
        )
    )


def duckdb_lm_score_ref(
    train_sql: str,
    score_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.1,
) -> str:
    """Oracle twin of `lm_score_ref`: identical tokenize/bigrams/add-k,
    LEFT joins with coalesce-0 for unseen, train-side vocabulary."""
    from leann_rs_spark.functions.text import duckdb_tokenize

    toks = duckdb_tokenize(text_col)
    return f"""
        WITH train AS ({train_sql}),
        score AS ({score_sql}),
        ttoks AS (SELECT {id_col} AS id, {toks} AS t FROM train),
        stoks AS (SELECT {id_col} AS id, {toks} AS t FROM score),
        tpairs AS (
            SELECT list_extract(t, i) AS w1, list_extract(t, i + 1) AS w2
            FROM ttoks,
                 unnest(generate_series(1, greatest(len(t) - 1, 0))) s(i)
        ),
        spairs AS (
            SELECT id, list_extract(t, i) AS w1, list_extract(t, i + 1) AS w2
            FROM stoks,
                 unnest(generate_series(1, greatest(len(t) - 1, 0))) s(i)
        ),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM tpairs GROUP BY 1, 2),
        c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
        v AS (SELECT count(DISTINCT w) AS v FROM (
            SELECT unnest(t) AS w FROM ttoks
        )),
        scored AS (
            SELECT p.id,
                   -ln((coalesce(c2.c2, 0) + {k})
                       / (coalesce(c1.c1, 0) + {k} * v.v)) AS nll
            FROM spairs p
            LEFT JOIN c2 USING (w1, w2)
            LEFT JOIN c1 USING (w1), v
        ),
        per_doc AS (
            SELECT id, count(*) AS n_bigrams, sum(nll) / count(*) AS xent
            FROM scored GROUP BY id
        )
        SELECT d.{id_col}, coalesce(p.n_bigrams, 0) AS n_bigrams, p.xent
        FROM score d LEFT JOIN per_doc p ON d.{id_col} = p.id
    """


# ---------------------------------------------------------------------------
# PMI phrase mining (collocation discovery)
# ---------------------------------------------------------------------------

def pmi_phrases(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual information
    — the word2phrase / gensim-Phrases preprocessing step that decides
    which token pairs ("new york") should fuse before tokenizer or
    embedding training. PMI = ln(c₂·T / (c₁(w1)·c₁(w2))) over corpus
    bigram/unigram counts (T = total bigram occurrences); `min_count`
    cuts the low-support noise PMI is notorious for.

    → (w1, w2, n_pair, pmi_r) ranked pmi_r DESC (ties w1, w2 ASC).

    Scale: bigram explode → ONE map-side-combined count shuffle;
    unigram counts reduce FROM the bigram table (vocab-sized, no second
    corpus pass — the lm_score trick); the two count joins are
    vocab-keyed (AQE broadcasts); TakeOrdered(k) finishes. The ratio is
    computed as exact-integer products divided once in double
    (everything < 2^53), and pmi_r uses the multiply-first rounding
    rule (CLAUDE.md)."""
    toks = docs.select(tokenize(text_col).alias("__t"))
    n1 = F.greatest(F.size("__t") - 1, F.lit(0))
    bg = F.zip_with(
        F.slice("__t", F.lit(1), n1),
        F.slice("__t", F.lit(2), n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = toks.select(F.explode(bg).alias("__bg")).select(
        F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2")
    )
    # ONE corpus pass: the vocab-sized full count table is persisted
    # and everything else (the min_count cut, both marginals, the
    # total) derives from it — four consumers, zero re-explodes
    full = (
        pairs.groupBy("w1", "w2").agg(F.count("*").alias("__c")).persist()
    )
    full.count()
    # marginals over the FULL bigram stream (not the min_count cut):
    # PMI's probability space is all bigram occurrences
    c2 = full.filter(F.col("__c") >= min_count).select(
        "w1", "w2", F.col("__c").alias("n_pair")
    )
    left = full.groupBy("w1").agg(F.sum("__c").alias("__cl"))
    right = full.groupBy("w2").agg(F.sum("__c").alias("__cr"))
    total = full.agg(F.sum("__c").alias("__t"))
    scored = (
        c2.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n_pair",
            (
                F.round(
                    F.log(
                        (F.col("n_pair") * F.col("__t")).cast("double")
                        / (F.col("__cl") * F.col("__cr")).cast("double")
                    )
                    * F.lit(1e6)
                )
                / F.lit(1e6)
                + F.lit(0.0)
            ).alias("pmi_r"),
        )
    )
    return scored.orderBy(
        F.col("pmi_r").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def duckdb_pmi_phrases(
    min_count: int = 5,
    k: int = 50,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """Oracle twin — identical counts, integer products, one double
    division, multiply-first rounding."""
    from leann_rs_spark.functions.text import duckdb_tokenize

    toks = duckdb_tokenize(text_col)
    return f"""
        WITH t AS (SELECT {toks} AS t FROM {table}),
        pairs AS (
            SELECT list_extract(t, i) AS w1, list_extract(t, i + 1) AS w2
            FROM t, unnest(generate_series(1, greatest(len(t) - 1, 0))) s(i)
        ),
        full_c AS (SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2),
        c2 AS (SELECT * FROM full_c WHERE c >= {min_count}),
        l AS (SELECT w1, sum(c)::bigint AS cl FROM full_c GROUP BY 1),
        r AS (SELECT w2, sum(c)::bigint AS cr FROM full_c GROUP BY 1),
        tot AS (SELECT sum(c)::bigint AS tt FROM full_c)
        SELECT c2.w1, c2.w2, c2.c AS n_pair,
               round(ln((c2.c * tot.tt)::double
                        / (l.cl * r.cr)::double) * 1e6) / 1e6 + 0.0 AS pmi_r
        FROM c2 JOIN l USING (w1) JOIN r USING (w2), tot
        ORDER BY pmi_r DESC, w1 ASC, w2 ASC
        LIMIT {k}
    """


# ---------------------------------------------------------------------------
# Token-distribution drift between corpus slices (domain-shift monitor)
# ---------------------------------------------------------------------------

def token_kl_by_group(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """→ (group, n_token_types, kl_r): KL divergence of each slice's
    token distribution from the corpus-wide distribution,
    D(P_g ‖ P) = Σ_t p_g(t)·ln(p_g(t)/p(t)) — the domain-shift /
    contamination monitor a mixture build watches per source and per
    ingest batch (a slice whose distribution drifts from the corpus is
    over- or under-represented vocabulary; CCNet/DSIR both reduce to
    ratios of exactly these distributions).

    Plan: ONE explode + groupBy(group, token) count shuffle (map-side
    combined), corpus token totals derived from it by a second tiny
    aggregation re-joined on token (vocabulary-sized), group totals as
    a broadcastable group-sized join. No smoothing is needed: every
    slice token exists in the corpus by construction (p(t) > 0
    whenever p_g(t) > 0), and 0·ln(0) terms simply don't appear as
    rows.

    Float parity (the cross-engine hash trick): the per-token
    contribution is rounded to 6 dp, scaled to an INTEGER
    (round(x·1e6)::bigint), and summed as integers — integer sums are
    exact and ORDER-FREE, so the aggregation result cannot depend on
    which engine's shuffle order added the doubles (a Σ of raw doubles
    over a vocabulary is the classic nondeterministic-hash trap). The
    ln() inputs are ratios of exact integer counts, identical in both
    engines; a ≤1-ulp libm difference collapses at the 6-dp rounding.
    """
    tok = docs.select(
        F.col(group_col).alias("g"),
        F.explode(tokenize(text_col)).alias("t"),
    )
    gt = tok.groupBy("g", "t").agg(F.count("*").alias("c_gt"))
    # persist WITHOUT a count barrier (measured r11): of gt's four
    # consumers, two are broadcast builds (totals, all_n) whose jobs
    # run before the main scoring job and fill this cache along the
    # way — an explicit count() duplicates that first pass serially
    # (bench-context min 1.05 s → 1.71 s with the count). The only
    # residual duplication is the two broadcast builds racing each
    # other on the cold cache, which overlap on idle cores.
    gt = gt.persist()
    corpus = gt.groupBy("t").agg(F.sum("c_gt").alias("c_t"))
    totals = gt.groupBy("g").agg(F.sum("c_gt").alias("c_g"))
    all_n = gt.agg(F.sum("c_gt").alias("n_all"))
    contrib = (
        gt.join(corpus, "t")
        .join(F.broadcast(totals), "g")
        .crossJoin(F.broadcast(all_n))
        .select(
            "g",
            # ln of a RATIO OF DOUBLE RATIOS, never the integer cross
            # product c_gt·n_all: at ≳3e9 corpus tokens that long·long
            # wraps silently in non-ANSI Spark while DuckDB promotes
            # to HUGEINT — breaking the very parity this function
            # guarantees (ADVICE r6). int/int division is exact-operand
            # double math in both engines; ulp noise collapses at the
            # 6-dp rounding below.
            (
                (F.col("c_gt") / F.col("c_g"))
                * F.log(
                    (F.col("c_gt") / F.col("c_g"))
                    / (F.col("c_t") / F.col("n_all"))
                )
            ).alias("x"),
        )
        .select(
            "g",
            F.round(F.col("x") * F.lit(1e6)).cast("bigint").alias("xi"),
        )
    )
    return (
        contrib.groupBy("g")
        .agg(
            F.count("*").alias("n_token_types"),
            (F.sum("xi").cast("double") / F.lit(1e6)).alias("kl_r"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_token_types",
            (F.col("kl_r") + F.lit(0.0)).alias("kl_r"),
        )
    )


def duckdb_token_kl_by_group(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """Oracle twin — identical integer counts, identical contribution
    expression, identical integer-scaled order-free sum."""
    from leann_rs_spark.functions.text import duckdb_tokenize

    toks = duckdb_tokenize(text_col)
    return f"""
        WITH tok AS (
            SELECT {group_col} AS g, t
            FROM {table}, unnest({toks}) u(t)
        ),
        gt AS (SELECT g, t, count(*) AS c_gt FROM tok GROUP BY g, t),
        corpus AS (SELECT t, sum(c_gt) AS c_t FROM gt GROUP BY t),
        totals AS (SELECT g, sum(c_gt) AS c_g FROM gt GROUP BY g),
        alln AS (SELECT sum(c_gt) AS n_all FROM gt),
        contrib AS (
            SELECT gt.g,
                   round(((gt.c_gt / totals.c_g) *
                          ln((gt.c_gt / totals.c_g) /
                             (corpus.c_t / alln.n_all))) * 1e6)::bigint
                       AS xi
            FROM gt JOIN corpus USING (t) JOIN totals USING (g), alln
        )
        SELECT g AS {group_col},
               count(*) AS n_token_types,
               sum(xi)::double / 1e6 + 0.0 AS kl_r
        FROM contrib GROUP BY g
    """
