"""Seeded input generators. The same seed gives the same corpora and the
same request sequence; the package sees only what these return.

Documents are fitted to the project's sf0.1 `documents` table (5000 rows
of doc_id, text, lang, source, n_chars), measured with DuckDB:

- text: 10-99 words (uniform; quartiles 32 / 54 / 76, mean 54.2), each
  word drawn uniformly from 30 words (the most and the least frequent
  word differ by 4%), so every word occurs in 76-78% of the documents;
- 5% of the documents are another document's text plus " dup"; 8 more
  pairs are exact duplicates;
- source = src<doc_id % 20>, 250 documents per source;
- lang: en 41%, zh / es / fr / de 14-15% each.

The benchmark reads nothing outside its checkout, so the figures are
fitted here, not read from the table.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from perfbench.metrics import REQUEST_TYPES

VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector customer the join"
).split()
QUERY_VOCAB = [w for w in VOCAB if w not in ("a", "the")]
MIN_WORDS, MAX_WORDS = 10, 99
DUP_SHARE = 0.05
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DOC_COLUMNS = ["doc_id", "text", "lang", "source", "n_chars"]
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

FILTER = "source=src3"


def documents(
    rng: random.Random, n: int, first_id: int = 0, long_share: float = 0.0
) -> list[tuple]:
    """Documents of the sf0.1 shape. `long_share` of them instead run to
    300-700 words, two to four chunks at the default chunk size, so
    chunking splits them (sf0.1 has none past one chunk)."""
    rows: list[tuple] = []
    for i in range(first_id, first_id + n):
        if rows and rng.random() < DUP_SHARE:
            text = rng.choice(rows)[1] + " dup"
        else:
            long = rng.random() < long_share
            n_words = rng.randint(300, 700) if long else rng.randint(MIN_WORDS, MAX_WORDS)
            text = " ".join(rng.choice(VOCAB) for _ in range(n_words))
        lang = rng.choices(LANGS, LANG_WEIGHTS)[0]
        rows.append((i, text, lang, f"src{i % N_SOURCES}", len(text)))
    return rows


def write_docs(rows: list[tuple], path: str, parts: int) -> None:
    """Write documents as `parts` parquet files, so a scan of them gives
    that many tasks."""
    import os

    import pandas as pd

    os.makedirs(path, exist_ok=True)
    pdf = pd.DataFrame(rows, columns=DOC_COLUMNS)
    step = -(-len(pdf) // parts)
    for i in range(parts):
        pdf.iloc[i * step:(i + 1) * step].to_parquet(f"{path}/part-{i}.parquet", index=False)


@dataclass(frozen=True)
class Request:
    rid: str
    kind: str
    query: str


@dataclass(frozen=True)
class ServeInputs:
    corpus: list[tuple]
    appends: list[list[tuple]]  # one document batch per append_to_index call
    warmup: list[Request]  # one request of each type
    rounds: list[list[Request]]  # the timed loop cycles through these


def serve_inputs(
    seed: int, n_docs: int, n_appends: int, append_docs: int, n_rounds: int,
    long_share: float,
) -> ServeInputs:
    rng = random.Random(seed)
    corpus = documents(rng, n_docs, long_share=long_share)
    appends = [
        documents(rng, append_docs, n_docs + b * append_docs, long_share)
        for b in range(n_appends)
    ]

    def one_round(tag: str) -> list[Request]:
        kinds = list(REQUEST_TYPES)
        rng.shuffle(kinds)
        out = []
        for kind in kinds:
            # expand needs a short query (<= 3 words) so expansion and
            # auto-hybrid both switch on
            n_words = 2 if kind == "expand" else 4
            words = rng.sample(QUERY_VOCAB, n_words)
            out.append(Request(f"{tag}-{kind}", kind, " ".join(words)))
        return out

    warmup = one_round("w")
    rounds = [one_round(f"r{i}") for i in range(n_rounds)]
    return ServeInputs(corpus, appends, warmup, rounds)


def curate_corpus_rows(seed: int, n_families: int, variants: int) -> list[tuple]:
    """Near-duplicate families: each base document plus `variants - 1`
    copies with a ' v<k>' suffix and doc_id shifted by k * n_families
    (the shape `tools/make_sf1.py` gives its 10x tree). A base that is
    itself a " dup" of another base joins that base's family."""
    base = documents(random.Random(seed), n_families)
    rows = []
    for k in range(variants):
        for doc_id, text, lang, source, _ in base:
            t = text if k == 0 else f"{text} v{k}"
            rows.append((doc_id + k * n_families, t, lang, source, len(t)))
    return rows


def implied_pairs(rows: list[tuple], n_families: int) -> int:
    """Near-duplicate pairs the family structure of `curate_corpus_rows`
    implies: every two members of a family, where a base that is another
    base's text plus " dup" merges the two families. A MinHash stage that
    merged unrelated documents would find more."""
    base = {r[0]: r[1] for r in rows if r[0] < n_families}
    by_text = {t: i for i, t in base.items()}
    root = {i: i for i in base}

    def find(i: int) -> int:
        while root[i] != i:
            i = root[i]
        return i

    for i, t in base.items():
        if t.endswith(" dup") and t[:-4] in by_text:
            root[find(i)] = find(by_text[t[:-4]])
    sizes: dict[int, int] = {}
    for r in rows:
        f = find(r[0] % n_families)
        sizes[f] = sizes.get(f, 0) + 1
    return sum(m * (m - 1) // 2 for m in sizes.values())
