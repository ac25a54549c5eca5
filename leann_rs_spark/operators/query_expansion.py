"""Query expansion (Q14/Q15) — BM25-fed term mining.

Port of /root/reference/src/index/query.rs. This is inherently a
driver-side step: it operates on the ≤5 BM25-top passage texts
(src/cli/search.rs:173-187) and a single query string, so there is
nothing to distribute. The corpus-scale part — finding those top
passages — is the BM25 DataFrame pipeline (operators/bm25.py).

Deviation (documented): the reference sorts term counts via a stable
sort over HashMap iteration order, so ties are NONDETERMINISTIC across
runs (query.rs:53-54,119-120). We tie-break (count DESC, term ASC) to
keep the engine oracle-reproducible.
"""

from __future__ import annotations

import re

# query.rs:12-31
_CODE_SYMBOL_PATTERNS = [
    re.compile(r"(?:pub\s+)?(?:async\s+)?fn\s+(\w+)"),
    re.compile(r"(?:pub\s+)?struct\s+(\w+)"),
    re.compile(r"(?:pub\s+)?enum\s+(\w+)"),
    re.compile(r"(?:pub\s+)?trait\s+(\w+)"),
    re.compile(r"(?:async\s+)?def\s+(\w+)"),
    re.compile(r"class\s+(\w+)"),
    re.compile(r"(?:async\s+)?function\s+(\w+)"),
    re.compile(r"(?:const|let|var)\s+(\w+)\s*=\s*(?:async\s+)?\("),
    re.compile(r"func\s+(?:\([^)]+\)\s+)?(\w+)"),
    re.compile(r"type\s+(\w+)\s+(?:struct|interface)"),
    re.compile(r"(?:public|private|protected)?\s*(?:static\s+)?(?:class|interface)\s+(\w+)"),
]

# query.rs:71-80
_CODE_KEYWORDS = frozenset(
    "let const var fn func def pub mut impl struct enum type trait class "
    "interface async await return match case break continue loop while for "
    "if else elif try catch throw import export from require module use mod "
    "self super true false null none nil void int str bool float vec map set "
    "list dict assert assert_eq println print printf console log".split()
)

# query.rs:86-102
_STOPWORDS = frozenset(
    "a an the is are was were be been being have has had do does did will "
    "would could should may might must shall can need dare ought used to of "
    "in for on with at by from as into through during before after above "
    "below between under again further then once here there when where why "
    "how all each few more most other some such no nor not only own same so "
    "than too very just and but if or because until while this that these "
    "those it its i me my myself we our ours ourselves you your yours "
    "yourself yourselves he him his himself she her hers herself they them "
    "their theirs themselves what which who whom any both also about like "
    "using based within without".split()
)


def extract_code_symbols(text: str, max_symbols: int) -> list[str]:
    """Fn/class/struct names by frequency (query.rs:34-56)."""
    counts: dict[str, int] = {}
    for pat in _CODE_SYMBOL_PATTERNS:
        for m in pat.finditer(text):
            name = m.group(1)
            if len(name) >= 3 and not name.startswith("test_") and not name.startswith("_"):
                counts[name] = counts.get(name, 0) + 1
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [s for s, _ in ordered[:max_symbols]]


def is_code_like(term: str) -> bool:
    """snake_case / mixed alnum / code keyword (query.rs:59-82)."""
    if "_" in term:
        return True
    has_digit = any(c.isdigit() for c in term)
    has_letter = any(c.isalpha() for c in term)
    if has_digit and has_letter:
        return True
    return term in _CODE_KEYWORDS


def extract_key_terms(text: str, max_terms: int) -> list[str]:
    """Frequent non-stopword ≥4-char prose terms (query.rs:85-122)."""
    counts: dict[str, int] = {}
    for word in re.split(r"[^0-9A-Za-z]", text):
        lower = word.lower()
        if (
            len(lower) >= 4
            and lower not in _STOPWORDS
            and not lower.isdigit()
            and not is_code_like(lower)
        ):
            counts[lower] = counts.get(lower, 0) + 1
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [t for t, _ in ordered[:max_terms]]


def expand_from_passages(query: str, passage_texts: list[str], max_expansion_terms: int = 5) -> str:
    """query.rs:128-164."""
    if not passage_texts:
        return query

    combined = " ".join(passage_texts)
    key_terms = extract_key_terms(combined, max_expansion_terms)
    for symbol in extract_code_symbols(combined, max_expansion_terms):
        if symbol.lower() not in key_terms:
            key_terms.append(symbol)

    query_words = set(query.lower().split())
    new_terms = [t for t in key_terms if t.lower() not in query_words]
    new_terms = new_terms[:max_expansion_terms]

    if not new_terms:
        return query
    return f"{query} {' '.join(new_terms)}"


def should_expand(query: str) -> bool:
    """≤3 words (query.rs:168-171); also gates auto-hybrid
    (src/cli/search.rs:147-148)."""
    return len(query.split()) <= 3


# ---------------------------------------------------------------------------
# Distributed term mining — the corpus-scale half of Q14.
#
# extract_key_terms splits on [^0-9A-Za-z], so a surviving term contains
# only [0-9A-Za-z]; it is then dropped if all-digit (isdigit) or
# code-like (digit+letter mix — '_' can't survive the split). The
# remaining predicate is exactly: term ~ ^[a-z]+$, len ≥ 4, not in
# stopwords ∪ code keywords. That form runs as native columns in both
# engines. At scale this mines over any number of passages (the
# reference caps at 5 driver-side strings); the aggregation is one
# map-side-combined shuffle on term.
# ---------------------------------------------------------------------------

def expansion_terms(
    passages,  # DataFrame(text_col, ...) — e.g. the BM25 top-k join
    query: str,
    max_terms: int = 5,
    text_col: str = "text",
):
    """(term, cnt) — the reference's key-term mining (query.rs:85-122)
    as DataFrame ops, with terms already in the query excluded
    (query.rs:151-153). Tie-break (cnt DESC, term ASC) per module note.

    Deviation (documented): the reference truncates to max_terms BEFORE
    dropping query words, so it can return fewer than max_terms; here
    query words are excluded before the limit, always yielding the top
    max_terms *new* terms — strictly more useful, same ranking."""
    from pyspark.sql import functions as F

    # ONE string literal, split into an array that ConstantFolding turns
    # into one array literal: `isin(blocked)` built ~190 literal Columns,
    # one py4j round trip each. Query words hold no whitespace, so " "
    # separates them; they stay in a literal, never in parsed SQL text.
    blocked = sorted(_STOPWORDS | _CODE_KEYWORDS | set(query.lower().split()))
    blocked_arr = F.split(F.lit(" ".join(blocked)), " ")
    return (
        passages.select(
            F.explode(F.split(F.col(text_col), "[^0-9A-Za-z]")).alias("w")
        )
        .select(F.lower(F.col("w")).alias("term"))
        .filter(
            (F.length("term") >= 4)
            & F.col("term").rlike("^[a-z]+$")
            & ~F.array_contains(blocked_arr, F.col("term"))
        )
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(max_terms)
    )


def duckdb_expansion_terms(
    passages_sql: str,
    query: str,
    max_terms: int = 5,
    text_col: str = "text",
) -> str:
    """Oracle twin of expansion_terms; `passages_sql` yields the passage
    rows (must expose `text_col`)."""
    blocked = ", ".join(
        f"'{t}'" for t in sorted(_STOPWORDS | _CODE_KEYWORDS | set(query.lower().split()))
    )
    return f"""
        SELECT term, count(*)::bigint AS cnt FROM (
            SELECT lower(unnest(str_split_regex({text_col}, '[^0-9A-Za-z]'))) AS term
            FROM ({passages_sql})
        )
        WHERE length(term) >= 4
          AND regexp_full_match(term, '[a-z]+')
          AND term NOT IN ({blocked})
        GROUP BY term
        ORDER BY cnt DESC, term ASC
        LIMIT {max_terms}
    """
