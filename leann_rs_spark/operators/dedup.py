"""Deduplication operators for LLM training-data pipelines.

Not present in the reference (SURVEY.md §2.5 — no joins/dedup surface);
these are the BASELINE.json "beyond the reference" operators, designed
Spark-first for 100 TB:

- exact_dedup        — md5 text hash → hash-partitioned groupBy. One
                       shuffle on the hash; AQE skew-join handles a
                       pathologically repeated document.
- minhash_*          — char-shingle MinHash signatures (native exprs,
                       per-(seed, shingle) md5), banded LSH: candidate
                       pairs come from an equi-join on (band, bucket) —
                       shuffle is proportional to candidates, never the
                       O(n²) pair space. Candidates are then verified
                       with exact Jaccard on the shingle sets.
- ngram_jaccard_*    — exact all-pairs Jaccard via shared-ngram
                       inverted-index join (pairs only materialize for
                       docs sharing ≥1 ngram; a max-doc-frequency cut
                       drops stop-ngrams that would quadratically blow
                       up the join, mirroring suffix-array dedup
                       practice).
- simhash_*          — per-token ±1 votes per bit (md5 parity), banded
                       by pigeonhole (hamming ≤ d ⇒ some band of
                       (d+1) equal) for candidate generation, exact
                       hamming verify.
- embedding_near_dups — exact cosine pair join (the oracle-checkable
                       canonical semantics); the ANN-bucketed scale
                       path lives in operators/ann.py.

Banded-LSH core: every banded near-dup operator — MinHash and SimHash
here, hyperplane LSH (ann.lsh_near_dups*), image aHash / audio / video
(multimodal) — is a band builder plus a verify Column around ONE set of
private pieces in this module: `_self_pairs` / `_cross_pairs` (the
candidate joins), `_hot_split` (the `max_bucket_size` guard) and
`_banded_candidate_pairs`. Their DuckDB twins share `_duckdb_bands`,
`_duckdb_capped_cand` and the `_duckdb_minhash_*` fragments the same
way. Bad banding configs raise ValueError (`_band_width`,
`_pigeonhole`).

Every operator is a pure Catalyst expression pipeline (no Python UDFs)
and has a DuckDB twin for the oracle gate. Hashing is md5-based
(cross-engine stable, tools/parity_exp.py).

All pair outputs use (id_a < id_b) canonical ordering and are exact
(post-verification), so LSH parameter choices affect COST, not results,
as long as band×row = num_hashes pigeonholes the threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from leann_rs_spark.functions.text import (
    char_shingles,
    derived_hash,
    duckdb_char_shingles,
    duckdb_derived_hash,
    duckdb_hash64,
    duckdb_hash_pair,
    duckdb_tokenize,
    duckdb_word_ngrams,
    hash64,
    hash_pair,
    tokenize,
    word_ngrams,
)
from leann_rs_spark.functions.vector import cosine, dot
from leann_rs_spark.utils import local_frame, materialize


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ (doc_id, text_md5, group_size, is_canonical). Canonical = min id
    per identical-text group. One shuffle, hash-partitioned."""
    hashed = docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("text_md5")
    )
    groups = hashed.groupBy("text_md5").agg(
        F.count("*").alias("group_size"),
        F.min(id_col).alias("canonical_id"),
    )
    return (
        hashed.join(groups, "text_md5")
        .select(
            id_col,
            "text_md5",
            "group_size",
            (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
        )
    )


def exact_dedup_incremental(
    corpus: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time exact dedup: the rows of `new_docs` whose text does
    NOT already occur in `corpus` (and, within the batch, only the
    smallest id per identical text — a batch can carry its own dups).

    One left-anti join on the md5 — at 100 TB Spark's runtime Bloom
    filter (built from the small batch side) prunes the corpus scan
    before the join, and only hash-width rows ever shuffle. The
    MinHash twin is `minhash_near_dups_incremental`."""
    new_h = new_docs.withColumn("text_md5", F.md5(F.col(text_col)))
    batch_canon = new_h.groupBy("text_md5").agg(
        F.min(id_col).alias("__keep_id")
    )
    new_h = new_h.join(batch_canon, "text_md5").filter(
        F.col(id_col) == F.col("__keep_id")
    ).drop("__keep_id")
    corpus_h = corpus.select(F.md5(F.col(text_col)).alias("text_md5"))
    return new_h.join(corpus_h, "text_md5", "left_anti")


def duckdb_exact_dedup_incremental(
    corpus_sql: str,
    new_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    return f"""
        WITH newh AS (
            SELECT *, md5({text_col}) AS text_md5 FROM ({new_sql})
        ),
        canon AS (
            SELECT text_md5, min({id_col}) AS keep_id FROM newh GROUP BY 1
        ),
        batch AS (
            SELECT n.* FROM newh n JOIN canon c
            ON n.text_md5 = c.text_md5 AND n.{id_col} = c.keep_id
        )
        SELECT b.* FROM batch b
        WHERE NOT EXISTS (
            SELECT 1 FROM ({corpus_sql}) c WHERE md5(c.{text_col}) = b.text_md5
        )
    """


def duckdb_exact_dedup(id_col: str = "doc_id", text_col: str = "text",
                       table: str = "documents") -> str:
    return f"""
        SELECT {id_col}, text_md5, group_size,
               ({id_col} = canonical_id) AS is_canonical
        FROM (
          SELECT {id_col}, md5({text_col}) AS text_md5,
                 count(*) OVER (PARTITION BY md5({text_col})) AS group_size,
                 min({id_col}) OVER (PARTITION BY md5({text_col})) AS canonical_id
          FROM {table})
    """


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_sig(shingles: Column, num_hashes: int) -> Column:
    """Signature i = min over distinct shingles of derived hash i.

    One md5 per SHINGLE (not per shingle×seed): each shingle is hashed
    once into (a, b) and the `num_hashes` permutations are derived as
    (a + (i+1)·b) mod P — the universal-hashing construction. The
    single-element-array transform is a let-binding so the shingle-hash
    array is computed once, not once per signature position."""
    pairs = F.transform(shingles, hash_pair)
    return F.transform(
        F.array(pairs),
        lambda ps: F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.array_min(
                F.transform(ps, lambda p: derived_hash(p, i))
            ),
        ),
    )[0]


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 16,
) -> DataFrame:
    """→ (doc_id, shingles, sig). Docs too short to shingle are dropped
    (they cannot be near-duplicates; exact_dedup still covers them)."""
    sh = F.array_distinct(char_shingles(F.col(text_col), shingle_k))
    return (
        docs.select(F.col(id_col), sh.alias("shingles"))
        .filter(F.size("shingles") > 0)
        .withColumn("sig", _minhash_sig(F.col("shingles"), num_hashes))
    )


def _minhash_signatures_bulk(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 16,
) -> DataFrame:
    """→ (id_col, sig) — same values as `minhash_signatures` (min over a
    multiset equals min over its distinct set, so no dedup pass is
    needed), computed through exploded shingle ROWS with the
    `num_hashes` derived hashes unrolled into codegen'd `min`
    aggregates: whole-stage codegen end to end, one shuffle on `id_col`
    with map-side partial aggregation, no interpreted HOF lambdas.
    Docs shorter than `shingle_k` are dropped (cannot be near-dups).

    Round 10 tried the zero-shuffle alternative — one scalar
    `_minhash_sig` HOF projection per row (values bit-identical;
    pinned by test_minhash_bulk_matches_scalar). An ad-hoc warm
    session measured it 1.6x FASTER (0.91 s vs 1.47 s), but the bench
    harness (suite warmup at sf0.001, min-of-reps, exclusive box)
    measured the whole minhash gate family 2.4-3.5x SLOWER
    (x_crawl_pipeline 6.3→21.6 s, x_dedup_minhash 1.7→5.1 s): the
    interpreted HOF fold over ~300 array elements x 16 hashes loses
    badly to the codegen'd min-aggregate pipeline, and ad-hoc sessions
    mis-rank codegen-heavy variants exactly as SURVEY §9 warns. Keep
    the exploded form; its one groupBy(id) exchange is map-side
    combined so the shuffle is O(corpus ids), not O(shingles)."""
    text = F.col(text_col)
    sh_rows = (
        docs.filter(F.length(text) >= shingle_k)
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(1), F.length(text) - F.lit(shingle_k - 1))
            ).alias("_i"),
            text.alias("_t"),
        )
        .select(id_col, F.substring(F.col("_t"), F.col("_i"), F.lit(shingle_k)).alias("_sh"))
    )
    pair = hash_pair(F.col("_sh"))
    sh_rows = sh_rows.withColumn("_a", pair["a"]).withColumn("_b", pair["b"])
    from leann_rs_spark.functions.text import HASH_P

    hs = [
        ((F.col("_a") + F.lit(i + 1) * F.col("_b")) % F.lit(HASH_P)).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    sh_rows = sh_rows.select(id_col, *hs)
    agg = sh_rows.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"_m{i}") for i in range(num_hashes)]
    )
    return agg.select(
        id_col, F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig")
    )


def _band_sigs(sigs: DataFrame, id_col: str, bands: int, rows: int) -> DataFrame:
    """(id, sig) → (id, band, bucket): hash each signature band into a
    64-bit bucket key — the MinHash band builder. The explode
    duplicates only id-width rows."""
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    hash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows + 1, rows),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band"), F.col("bb.bucket"))


# ---------------------------------------------------------------------------
# Banded-LSH core (see the module docstring). Band builders, each
# emitting one (id, *keys) row per band: `_band_sigs` (MinHash),
# `_packed_bands` (SimHash, aHash, audio, video), `ann._signbit_bands`.
# ---------------------------------------------------------------------------

def _band_width(total: int, bands: int, what: str = "num_hashes") -> int:
    """Rows per band; raises unless `bands` divides `total` (the
    signature's num_hashes, or the LSH planes) — band slicing would
    otherwise silently drop the trailing hashes."""
    if total % bands != 0:
        raise ValueError(
            f"{what}={total} is not divisible by bands={bands} —"
            " a banded query would silently use only"
            f" {(total // bands) * bands} of the {total}"
            f" {what.removeprefix('num_')}"
        )
    return total // bands


def _pigeonhole(bits: int, bands: int, max_hamming: int) -> None:
    """Input check of the packed-long sketches (SimHash, aHash, audio,
    video): candidates are complete only when some band must agree,
    and the sketch must fit one signed long."""
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} must exceed max_hamming={max_hamming} — the"
            " pigeonhole candidate join only finds every pair within the"
            " hamming budget when bands >= max_hamming + 1"
        )
    if bits > 63:
        raise ValueError(
            f"bits={bits} does not fit the packed-long sketch (bits <= 63)"
        )


def _packed_bands(
    sk: DataFrame, cols: list[str], hash_col: str, bits: int, bands: int
) -> DataFrame:
    """`cols` (incl. the packed-long `hash_col`) → `cols` + (band, bb),
    one row per band: band b is bit block [bits−(b+1)·width,
    bits−b·width) of the packed long, width = bits // bands — the same
    contiguous array blocks the DuckDB twins slice (labels reversed
    between engines; only bucket SETS matter to banding semantics).

    `bb` is coalesced to −1 (outside the [0, 2^width) range of real
    buckets) so the column is provably NON-NULL: when bb is nullable,
    the bucket equi-join infers isnotnull(bb) and pushes the whole
    sketch expression below the fan-out repartition onto the
    single-task parquet scan — the SimHash incremental form's job
    profile showed the entire side's SimHash computed twice, once of
    them single-threaded (1.85 s of a 3.1 s gate). A NULL hash lands
    in bucket −1 of EVERY band, so N NULL-hash rows would all-pair
    there (bands·N²/2 candidate rows before the verify drops them) —
    callers whose sketch can be NULL (real-engine aHash and audio,
    video frames: undecodable media) filter NULL hashes out before
    banding rather than rely on Catalyst inferring isnotnull from a
    null-intolerant verify. SimHash and fake-engine aHash never produce one: both
    engines sketch NULL and '' text to 0, so such rows are reported
    as hamming-0 pairs of each other."""
    width = bits // bands
    mask = (1 << width) - 1
    return sk.select(
        *cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.coalesce(
                            F.shiftright(F.col(hash_col), bits - (b + 1) * width)
                            .bitwiseAND(F.lit(mask)),
                            F.lit(-1),
                        ).alias("bb"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("e"),
    ).select(*cols, F.col("e.band"), F.col("e.bb"))


def _self_pairs(
    banded: DataFrame,
    keys: list[str],
    id_col: str,
    carry: dict[str, str] | None = None,
) -> DataFrame:
    """All pairs sharing every `keys` value → keys + (id_a, id_b, …)
    with id_a < id_b, NOT deduplicated (a pair colliding in several
    bands repeats). `carry` maps a column of `banded` to a stem; the
    column rides along as stem+"a" / stem+"b", so a verify Column can
    filter before the dedup shuffle."""
    def side(s: str) -> DataFrame:
        return banded.select(
            *keys,
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(stem + s) for c, stem in (carry or {}).items()],
        )

    return side("a").join(side("b"), keys).filter(F.col("id_a") < F.col("id_b"))


def _attach(
    pairs: DataFrame, sk: DataFrame, id_col: str, col: str, stem: str
) -> DataFrame:
    """(id_a, id_b, …) pairs + `sk`'s `col` of each end, as stem+"a" /
    stem+"b" — sketches or vectors re-attach to unique pairs only."""
    for s in "ab":
        pairs = pairs.join(
            sk.select(F.col(id_col).alias(f"id_{s}"), F.col(col).alias(stem + s)),
            f"id_{s}",
        )
    return pairs


def _hamming(pairs: DataFrame, max_hamming: int) -> DataFrame:
    """Exact packed-sketch verify of (id_a, id_b, sha, shb) pairs:
    one codegen'd bit_count(sha XOR shb) → (id_a, id_b, hamming)."""
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _cross_pairs(
    banded_c: DataFrame,
    banded_n: DataFrame,
    keys: list[str],
    broadcast_new: bool,
) -> DataFrame:
    """New-vs-corpus candidates: (*keys, corpus_id) ⋈ (*keys, new_id)
    → deduped (new_id, corpus_id). An ingest batch is small relative
    to the corpus, so with `broadcast_new` the batch side broadcasts
    and the corpus is never shuffled."""
    if broadcast_new:
        banded_n = F.broadcast(banded_n)
    return (
        banded_c.join(banded_n, keys)
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )


def _hot_split(
    banded: DataFrame,
    keys: list[str],
    id_col: str,
    max_bucket_size: int | None,
    order: tuple[str, DataFrame | None],
    intermediates: list | None,
) -> tuple[DataFrame, DataFrame | None]:
    """The hot-bucket guard: → (banded rows of buckets at or under
    `max_bucket_size`, chain+star spanning pairs of the buckets over
    it). With no cap, or no bucket over it, the spanning side is None.

    The hazard at 100 TB: ONE hot bucket of B near-identical docs
    (license boilerplate, templated pages — million-doc clusters are
    real crawl inputs) emits B(B-1)/2 candidate rows before verify, a
    quadratic stage hiding inside an otherwise candidate-proportional
    plan. Buckets over the cap are CHAINED instead of all-paired
    (`_chain_star_pairs` in (order_col, id) order, ≤ 2(B-1) pairs — a
    spanning set); small buckets are untouched, so results only change
    when a bucket exceeds the cap. `order` = (order_col, frame): the
    operator's full sketch, read from `banded` when frame is None,
    else joined to the hot rows from the (id_col, order_col) frame.

    Plan shape: one tiny (*keys) count aggregate finds the oversized
    buckets; the small side keeps the original equi-join behind a
    broadcast left-anti join; the big side is one window over the
    bucket. No stage is ever quadratic in the hot-bucket size."""
    if max_bucket_size is None:
        return banded, None
    if order is None:
        raise ValueError(
            "max_bucket_size requires `order` = (sketch column, optional"
            " (id, sketch) frame) for the hot-bucket chain"
        )
    # three consumers of banded below (small anti-join, big inner join,
    # and the oversized-key aggregate) — persist per the measured
    # multi-consumer rule, or each branch re-explodes the band hash.
    # The aggregate doubles as the materializing action (it computes
    # every cached partition), and its result — the oversized keys,
    # already bounded by the broadcast the old plan shipped them in —
    # comes back as driver rows, so the final action broadcasts a
    # literal LocalTableScan instead of re-running the aggregate over
    # the cache: one driver-blocking job where the
    # count-then-broadcast-subtree form paid the count job PLUS an
    # in-action aggregate (r10 fold).
    banded = banded.persist()
    key_schema = banded.select(*keys).schema
    hot = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("__bsz"))
        .filter(F.col("__bsz") > max_bucket_size)
        .select(*keys)
        .collect()
    )
    if intermediates is not None:
        intermediates.append(banded)
    if not hot:
        # no bucket exceeds the cap — the guarded plan degenerates to
        # the exact all-pairs form (anti-join with an empty key set is
        # the identity; the spanning branch is empty), so skip both.
        return banded, None
    big_keys = F.broadcast(local_frame(banded.sparkSession, hot, key_schema))
    order_col, order_frame = order
    big = banded.join(big_keys, keys)
    if order_frame is not None:
        big = big.join(order_frame, id_col)
    spanning = _chain_star_pairs(big, keys, [order_col, id_col], id_col)
    return banded.join(big_keys, keys, "left_anti"), spanning


def _banded_candidate_pairs(
    banded: DataFrame,
    keys: list[str],
    id_col: str,
    max_bucket_size: int | None = None,
    order: tuple[str, DataFrame | None] | None = None,
    intermediates: list | None = None,
) -> DataFrame:
    """(id, *keys) → deduped candidate (id_a, id_b) pairs.

    Default (`max_bucket_size=None`): all-pairs within each bucket —
    exact LSH candidate semantics. With `max_bucket_size=B_max`,
    buckets larger than B_max are chained instead (`_hot_split`, with
    `order` naming the full sketch the chain sorts by).

    Semantics under the cap: the PAIR output for an oversized bucket
    is a spanning subset, not all pairs — downstream connected-
    component clustering (`dedup_clusters` / `dedup_keep_canonical`)
    yields identical components whenever verifying members form
    contiguous runs in sketch order (trivially true for the
    boilerplate case, where every member shares the sketch). Use the
    cap when the deliverable is clusters/keep decisions; leave it off
    when every individual pair must be reported."""
    banded, spanning = _hot_split(
        banded, keys, id_col, max_bucket_size, order, intermediates
    )
    pairs = _self_pairs(banded, keys, id_col).select("id_a", "id_b")
    if spanning is not None:
        pairs = pairs.unionByName(spanning)
    return pairs.dropDuplicates(["id_a", "id_b"])


def _chain_star_pairs(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Hot-bucket spanning set: per `part_cols` group, each member
    pairs with (a) its successor in `order_cols` order (chain) and
    (b) the group's first member (star) → (id_a, id_b) with
    id_a < id_b, ≤ 2(B-1) pairs for a B-member group. The order key
    is the operator's full sketch, so near-identical members sort
    adjacent and true dup-groups stay connected through chain links
    (the star to the bucket head adds hub redundancy for the dominant
    group); downstream connected components are unchanged whenever
    verifying members form contiguous runs in that order (trivially
    the boilerplate case). One window over the group — never quadratic
    in the group size."""
    from pyspark.sql import Window

    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    ranked = df.select(
        F.col(id_col).alias("__id"),
        F.lead(id_col).over(w).alias("__next"),
        F.first(id_col).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("__head"),
    )
    chain = ranked.filter(F.col("__next").isNotNull()).select(
        F.least("__id", "__next").alias("id_a"),
        F.greatest("__id", "__next").alias("id_b"),
    )
    star = ranked.filter(F.col("__id") != F.col("__head")).select(
        F.least("__id", "__head").alias("id_a"),
        F.greatest("__id", "__head").alias("id_b"),
    )
    return chain.unionByName(star)


def _duckdb_bands(src: str, bands: int, key_expr: str, key: str = "bb",
                  band: str = "b") -> str:
    """Twin band builder: `src`'s rows × bands → its columns + (`band`,
    `key`), where `key_expr` computes band `band`'s bucket key."""
    return (
        f"SELECT *, {key_expr} AS {key}"
        f" FROM {src}, unnest(generate_series(0, {bands - 1})) t({band})"
    )


def _duckdb_packed_bb(bits: int, bands: int, col: str) -> str:
    """Band b's bit block of a packed-long hash — `_packed_bands`'
    MSB-first blocks."""
    width = bits // bands
    return f"({col} >> ({bits} - (b + 1) * {width})) & {(1 << width) - 1}"


def _duckdb_capped_cand(banded: str, keys: list[str], order: str, cap: int) -> str:
    """CTEs big / small_cand / ranked / cand over the `banded` CTE (an
    `id` column plus `keys`): the twin of `_banded_candidate_pairs`
    with `max_bucket_size=cap` — all pairs in buckets at or under the
    cap, chain+star in (`order`, id) order over the buckets above it;
    `cand` holds the deduped (id_a, id_b)."""
    k = ", ".join(keys)
    same = " AND ".join(f"a.{c} = b2.{c}" for c in keys)
    hot = " AND ".join(f"g.{c} = a.{c}" for c in keys)
    return f"""big AS (
          SELECT {k} FROM {banded}
          GROUP BY {k} HAVING count(*) > {cap}
        ),
        small_cand AS (
          SELECT a.id AS id_a, b2.id AS id_b
          FROM {banded} a JOIN {banded} b2
            ON {same} AND a.id < b2.id
          WHERE NOT EXISTS (SELECT 1 FROM big g WHERE {hot})
        ),
        ranked AS (
          SELECT id, lead(id) OVER w AS nxt, first_value(id) OVER w AS head
          FROM {banded} JOIN big USING ({k})
          WINDOW w AS (PARTITION BY {k} ORDER BY {order}, id)
        ),
        cand AS (
          SELECT DISTINCT id_a, id_b FROM (
            SELECT id_a, id_b FROM small_cand
            UNION ALL
            SELECT least(id, nxt), greatest(id, nxt) FROM ranked
            WHERE nxt IS NOT NULL
            UNION ALL
            SELECT least(id, head), greatest(id, head) FROM ranked
            WHERE id <> head
          )
        )"""


def _duckdb_planted_corpus(
    table: str, id_col: str, text_col: str,
    plant_n: int, plant_offset: int, plant_text: str,
) -> str:
    """(id, t) rows of `table` plus `plant_n` copies of `plant_text` at
    ids `plant_offset` + i — the hot bucket a capped gate plants on
    the Spark side."""
    sql = f"SELECT {id_col} AS id, {text_col} AS t FROM {table}"
    if plant_n:
        lit = plant_text.replace("'", "''")
        sql += (
            f" UNION ALL SELECT {plant_offset} + s.i AS id, '{lit}' AS t"
            f" FROM unnest(generate_series(0, {plant_n - 1})) s(i)"
        )
    return sql


def _jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays (DOUBLE). The
    single-element-array transform is a let-binding so the intersection
    is computed once per pair, not once per use (no CSE in Catalyst)."""
    return F.transform(
        F.array(F.size(F.array_intersect(a, b))),
        lambda i: i.cast("double") / (F.size(a) + F.size(b) - i),
    )[0]


def minhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    cache: bool = True,
    intermediates: list | None = None,
    max_bucket_size: int | None = None,
    corpus_sigs: DataFrame | None = None,
    validate_sigs: bool = True,
) -> DataFrame:
    """→ (id_a, id_b, jaccard) for candidate pairs sharing an LSH band
    bucket AND exact shingle-Jaccard ≥ threshold. `intermediates`
    receives any frame this call persisted (the signature table, and
    the banded frame when `max_bucket_size` is set), so long-lived
    drivers can unpersist once results are materialized; with the
    default `intermediates=None` those cached frames stay resident
    until storage eviction (same contract as curate_corpus).

    `corpus_sigs`: a persisted (id, sig) signature table
    (catalog.build_minhash_index's layout) replacing the inline
    signature aggregate — the whole-corpus shingle+hash pass drops out
    of a repeat run's cost. The frame is semi-joined to `docs` (the
    artifact may cover a superset) and its sig arrays prefix-sliced to
    `num_hashes` (the max-width-build property). Signatures are a
    fixed derived-hash family over content shingles, so artifact ≡
    inline bit-for-bit; the caller must pass the artifact's
    `shingle_k`.

    `validate_sigs` (artifact path only) guards the two silent failure
    modes of a stale/mismatched artifact: (a) COVERAGE — a doc absent
    from the artifact would vanish from the semi-join, never become a
    candidate, and always be kept (silent under-deduplication; the
    expected failure after corpus growth without an index refresh), so
    docs eligible to shingle (length ≥ shingle_k) are anti-joined
    against the artifact and any uncovered ids raise; (b) WIDTH — a
    sig array narrower than `num_hashes` would silently prefix-slice
    short, and the trailing bands would hash empty slices, colliding
    EVERY doc into one bucket per band (a quadratic candidate blowup;
    verify keeps output correct but the plan degenerates), so the
    artifact's observed width is checked on one row. Costs one
    id-column anti-join + one limit-1 scan; disable only when the
    caller has already proven coverage (e.g. the artifact was built
    from this exact frame in the same job).

    Scale shape: explode to (band, bucket, doc) — shuffle keyed on the
    band bucket co-locates only colliding docs; the verify join carries
    shingle arrays for candidates only. No O(n²) stage exists — except
    a single pathological hot bucket (B boilerplate near-identical
    docs in one (band, bucket)), which all-pairs into B²/2 candidates:
    `max_bucket_size` caps that by chaining oversized buckets in
    lexicographic full-signature order, so near-identical docs land
    adjacent (see `_banded_candidate_pairs`; pairs for those buckets
    become a spanning subset — component-equivalent for cluster/keep
    pipelines, measured in tools/scale_check.py hot_bucket_check).

    `cache` persists the signature table before the self-join: both join
    sides read it, and without a persist each side re-shingles and
    re-hashes the whole corpus (2× the dominant cost). At 100 TB the
    signature table is written to Parquet once instead.
    """
    rows = _band_width(num_hashes, bands)
    if corpus_sigs is not None:
        if validate_sigs:
            # ONE job checks both failure modes: eligible docs
            # left-join the artifact's (id, width) projection; a NULL
            # width is an uncovered doc, and min(width) over covered
            # rows is the narrowest sig the slice would read (stronger
            # than the old limit-1 probe, which sampled one arbitrary
            # row — and one job instead of two on the repeat-run hot
            # path this artifact serves).
            chk = (
                docs.filter(F.length(F.col(text_col)) >= shingle_k)
                .select(id_col)
                .join(
                    corpus_sigs.select(
                        F.col(id_col), F.size("sig").alias("__w")
                    ),
                    id_col,
                    "left",
                )
                .agg(
                    F.count(F.when(F.col("__w").isNull(), 1)).alias("unc"),
                    F.min("__w").alias("w"),
                )
                .first()
            )
            if chk["unc"]:
                raise ValueError(
                    f"signature artifact does not cover {chk['unc']}"
                    " shingle-eligible doc(s) — uncovered docs would"
                    " silently never become candidates (under-"
                    "deduplication); rebuild or append the artifact"
                    " (catalog.append_to_minhash_index) to cover the corpus,"
                    " or pass validate_sigs=False if coverage is proven"
                )
            if chk["w"] is not None and chk["w"] < num_hashes:
                raise ValueError(
                    f"signature artifact is {chk['w']} hashes wide but"
                    f" num_hashes={num_hashes} was requested — prefix"
                    " slicing would hash EMPTY trailing bands (every doc"
                    " collides into one bucket per such band); rebuild the"
                    " artifact at least num_hashes wide"
                )
        sigs = corpus_sigs.join(
            docs.select(id_col), id_col, "left_semi"
        ).select(
            F.col(id_col), F.slice("sig", 1, num_hashes).alias("sig")
        )
    else:
        sigs = _minhash_signatures_bulk(
            docs, id_col, text_col, shingle_k, num_hashes
        )
    # Exact-Jaccard verify input: the shingle projection sits on the
    # BUILD side of each attach join, so it IS evaluated (and
    # broadcast) for the whole corpus — O(corpus) HOF work where
    # O(candidate docs) would suffice. Round 10 measured the
    # candidate-prune alternative (persist+materialize `pairs`,
    # semi-join docs on its ids before shingling): net SLOWER at bench
    # scale (+0.5-2.0 s/gate — the extra materialization job and
    # exchanges cost more than 5k docs' shingles save), so the
    # single-plan form stays; at a corpus where the verify projection
    # dominates, that prune is the §8-shaped fix and
    # verify_pairs_exact's docstring records the recipe.
    sh = docs.select(
        F.col(id_col),
        F.array_distinct(char_shingles(F.col(text_col), shingle_k)).alias(
            "shingles"
        ),
    )
    # `sh` feeds BOTH attach joins and Catalyst does not CSE across
    # join branches, so without a persist the corpus is shingled and
    # broadcast twice per action. Round 10 measured the
    # persist+materialize fix (the multi-consumer rule) at equal
    # steal%, twice:
    #   * INLINE: net REGRESSION both as a serial barrier
    #     (x_curation_pipeline 5.9→8.7 s) AND as a background-thread
    #     materialization overlapping the signature barrier
    #     (5.5→6.8 s, x_leakage_safe_split 1.8→3.1 s, min-of-3 at
    #     ~0.1% steal) — caching the wide shingle arrays costs more
    #     than the duplicate broadcast builds it saves, independent of
    #     where the barrier sits;
    #   * ARTIFACT-SERVED: net WIN (x_curation_pipeline_sigs
    #     9.5→7.9 s serial; →6.6 s with the count submitted from a
    #     one-thread pool overlapping the signature semi-join barrier,
    #     guide §2.6 back-fill) — with the signature aggregate gone,
    #     the double shingle pass IS the dominant per-action cost.
    # So the persist stays exactly where it measured ahead, and its
    # materialization overlaps the artifact path's other jobs; the
    # future is awaited before the attach joins are returned
    # (materialize-before-consumers).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        sh_fut = None
        if corpus_sigs is not None:
            sh = sh.persist()
            sh_fut = pool.submit(sh.count)
            if intermediates is not None:
                intermediates.append(sh)
        if cache:
            # persist AND materialize: the banded self-join launches
            # both map stages concurrently, and an unmaterialized cache
            # would be computed twice (the stages race before blocks
            # exist).
            sigs = sigs.persist()
            sigs.count()
            if intermediates is not None:
                intermediates.append(sigs)
        # banded carries ONLY (id, band, bucket): the band explode
        # duplicates every row `bands`×, and the (band, bucket) shuffle
        # moves each copy — keeping the shingle arrays out of it cuts
        # the shuffled bytes to the id width. Shingles re-attach later,
        # to unique candidate pairs only.
        pairs = _banded_candidate_pairs(
            _band_sigs(sigs, id_col, bands, rows), ["band", "bucket"],
            id_col, max_bucket_size,
            ("__sig", sigs.select(F.col(id_col), F.col("sig").alias("__sig"))),
            intermediates,
        )
        if sh_fut is not None:
            sh_fut.result()
    return (
        _attach(pairs, sh, id_col, "shingles", "sh_")
        .withColumn("jaccard", _jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dups_incremental(
    corpus: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    broadcast_new: bool = True,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Ingest-time near-dup: each NEW doc vs the EXISTING corpus →
    (new_id, corpus_id, jaccard). New-vs-new pairs are not reported
    (run `minhash_near_dups` on the batch for those); ids may overlap
    across the two inputs — output columns are labeled by side.

    Scale shape: an ingest batch is small relative to the corpus, so
    the new side's banded sketch is BROADCAST (`broadcast_new`) — the
    corpus is never shuffled; the plan is corpus-scan → signature
    aggregate → band project → broadcast-hash-join → verify on
    candidate pairs only. At 100 TB the corpus signature table is a
    persisted artifact: pass it as `corpus_sigs` (the
    `_minhash_signatures_bulk` shape, (id, sig)) and even the
    signature aggregate disappears from the per-batch cost. The
    artifact must cover the corpus and its sig arrays must be at least
    `num_hashes` wide — an uncovered doc silently never becomes a
    candidate, and a narrower sig would band over empty slices (this
    per-batch hot path does not re-validate; run the batch form's
    `validate_sigs` check, or catalog meta's num_hashes, at artifact
    load time instead of per microbatch).
    """
    rows = _band_width(num_hashes, bands)
    sigs_c = (
        corpus_sigs
        if corpus_sigs is not None
        else _minhash_signatures_bulk(corpus, id_col, text_col, shingle_k, num_hashes)
    )
    sigs_n = _minhash_signatures_bulk(
        new_docs, id_col, text_col, shingle_k, num_hashes
    )
    pairs = _minhash_cross_pairs(sigs_c, sigs_n, id_col, bands, rows, broadcast_new)
    return verify_pairs_exact(
        corpus, new_docs, pairs,
        id_col=id_col, text_col=text_col,
        shingle_k=shingle_k, threshold=threshold,
    )


def _minhash_cross_pairs(
    sigs_c: DataFrame,
    sigs_n: DataFrame,
    id_col: str,
    bands: int,
    rows: int,
    broadcast_new: bool,
) -> DataFrame:
    """Corpus and batch (id, sig) tables → deduped (new_id, corpus_id)
    banded candidates (`_cross_pairs`)."""
    def side(sigs: DataFrame, label: str) -> DataFrame:
        return _band_sigs(sigs, id_col, bands, rows).select(
            "band", "bucket", F.col(id_col).alias(label)
        )

    return _cross_pairs(
        side(sigs_c, "corpus_id"), side(sigs_n, "new_id"),
        ["band", "bucket"], broadcast_new,
    )


def verify_pairs_exact(
    corpus: DataFrame,
    new_docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """→ (new_id, corpus_id, jaccard): exact shingle-Jaccard verify of
    a (new_id, corpus_id) candidate-pair frame — the shared tail of
    the incremental near-dup form and the staged triage pipeline
    (cheap candidate generation first, text reads bounded by the
    surviving pairs).

    Candidate docs' text is read through the pair joins only — never a
    full cross of the inputs. Note the shingle projections DO evaluate
    for every input row (they sit on the build side of the attach
    joins): round 10 measured the candidate-prune alternative
    (persist+materialize `pairs`, semi-join both doc sides on its ids
    before shingling) as net slower at bench scale — the extra
    materialization job outweighs the saved shingle work. At a corpus
    scale where the verify projection dominates, apply that prune:
    pairs.persist(); ids = pairs.select(explode(array(new_id,
    corpus_id))).distinct(); side.join(broadcast(ids), left_semi)
    before the projection."""
    sh_c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.array_distinct(char_shingles(F.col(text_col), shingle_k)).alias("sh_c"),
    )
    sh_n = new_docs.select(
        F.col(id_col).alias("new_id"),
        F.array_distinct(char_shingles(F.col(text_col), shingle_k)).alias("sh_n"),
    )
    return (
        pairs.join(sh_n, "new_id")
        .join(sh_c, "corpus_id")
        .withColumn("jaccard", _jaccard(F.col("sh_n"), F.col("sh_c")))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def minhash_estimate_pairs(
    corpus_sigs: DataFrame,
    new_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    min_est: float = 0.5,
    broadcast_new: bool = True,
    new_sigs: DataFrame | None = None,
    top_per_new: int | None = None,
) -> DataFrame:
    """→ (new_id, corpus_id, est_jaccard): ingest-time near-dup TRIAGE
    with ZERO corpus text access — banded candidate pairs scored by
    the MinHash position-match estimator (matching signature positions
    / num_hashes, the unbiased Jaccard estimator the sketch exists
    for) instead of the exact shingle verify.

    This is the rung BELOW `minhash_near_dups_incremental` on the
    cost ladder: that one re-reads candidate docs' text for exact
    Jaccard; this one touches ONLY the persisted (id, sig) artifact —
    at 100 TB the corpus text never enters the plan at all, so a
    standing triage query costs sig-scan + banded join + a
    position-compare projection. Route its survivors into the exact
    verify (or straight to quarantine) by policy.

    The estimator is exact integer arithmetic (position equality
    counts over the fixed derived-hash family) — cross-engine
    hash-stable, k/num_hashes values with no float accumulation.

    `top_per_new`: ingest-side hot-bucket bound — a new doc landing in
    a corpus boilerplate bucket of B members otherwise surfaces all B
    matches, and the downstream exact verify reads B texts per such
    doc. Keeps only the top-k corpus matches per new doc by
    (est_jaccard DESC, corpus_id ASC) — for quarantine/keep-one-ingest
    policies one verified match suffices, so the verify stage's text
    reads drop from O(B) to O(k) per new doc. The banded join itself
    stays O(B·batch) sig-width rows (linear in B, never quadratic);
    only the expensive text stage is capped."""
    rows = _band_width(num_hashes, bands)
    if new_sigs is None:
        if new_docs is None:
            raise ValueError("pass new_docs or new_sigs")
        new_sigs = _minhash_signatures_bulk(
            new_docs, id_col, text_col, shingle_k, num_hashes
        )
    pairs = _minhash_cross_pairs(
        corpus_sigs, new_sigs, id_col, bands, rows, broadcast_new
    )
    sig_c = corpus_sigs.select(
        F.col(id_col).alias("corpus_id"), F.col("sig").alias("sig_c")
    )
    sig_n = new_sigs.select(
        F.col(id_col).alias("new_id"), F.col("sig").alias("sig_n")
    )
    if broadcast_new:
        sig_n = F.broadcast(sig_n)
    matches = F.size(
        F.filter(
            F.zip_with("sig_n", "sig_c", lambda a, b: a == b),
            lambda x: x,
        )
    )
    est = matches.cast("double") / F.lit(float(num_hashes))
    out = (
        pairs.join(sig_n, "new_id")
        .join(sig_c, "corpus_id")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= min_est)
        .select("new_id", "corpus_id", "est_jaccard")
    )
    if top_per_new is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("new_id").orderBy(
            F.col("est_jaccard").desc(), F.col("corpus_id").asc()
        )
        out = (
            out.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= top_per_new)
            .drop("__rk")
        )
    return out


def _duckdb_minhash_sigs(
    src: str, id_col: str, text_col: str, shingle_k: int, num_hashes: int
) -> str:
    """(id, shingles, sig) over the `src` rows that shingle — the twin
    of `_minhash_signatures_bulk` (same derived-hash family)."""
    sh = f"list_distinct({duckdb_char_shingles(text_col, shingle_k)})"
    sig = (
        f"list_transform(generate_series(0, {num_hashes - 1}),"
        f" i -> list_min(list_transform(pairs,"
        f" p -> {duckdb_derived_hash('p', 'i')})))"
    )
    return f"""
          SELECT id, shingles, {sig} AS sig
          FROM (
            SELECT id, shingles,
                   list_transform(shingles, s -> {duckdb_hash_pair('s')}) AS pairs
            FROM (SELECT {id_col} AS id, {sh} AS shingles FROM {src})
            WHERE len(shingles) > 0
          )"""


def _duckdb_minhash_bucket(rows: int) -> str:
    """Band b's 64-bit bucket key over `sig` — the twin of `_band_sigs`."""
    return duckdb_hash64(
        f"array_to_string(list_transform("
        f"list_slice(sig, b * {rows} + 1, (b + 1) * {rows}), x -> x::varchar), ',')"
    )


def _duckdb_minhash_ctes(
    src: str, prefix: str, id_col: str, text_col: str,
    shingle_k: int, num_hashes: int, bands: int,
) -> str:
    """`{prefix}sigs` (`_duckdb_minhash_sigs`) and `{prefix}banded`
    (+ b, bucket) CTEs over `src`."""
    bucket = _duckdb_minhash_bucket(_band_width(num_hashes, bands))
    return f"""{prefix}sigs AS ({_duckdb_minhash_sigs(src, id_col, text_col, shingle_k, num_hashes)}
        ),
        {prefix}banded AS ({_duckdb_bands(f"{prefix}sigs", bands, bucket, "bucket")})"""


def _duckdb_minhash_cross(
    corpus_sql: str, new_sql: str, col: str, stem: str, id_col: str,
    text_col: str, shingle_k: int, num_hashes: int, bands: int,
) -> str:
    """c_/n_ MinHash CTEs of both inputs plus `cand`: the deduped
    (new_id, corpus_id) banded candidates carrying each side's `col`
    as stem+"n" / stem+"c" — the twin of `_minhash_cross_pairs`."""
    def side(src: str, name: str) -> str:
        return _duckdb_minhash_ctes(
            f"({src})", f"{name}_", id_col, text_col, shingle_k, num_hashes, bands
        )

    return f"""{side(corpus_sql, 'c')},
        {side(new_sql, 'n')},
        cand AS (
          SELECT DISTINCT n.id AS new_id, c.id AS corpus_id,
                 n.{col} AS {stem}n, c.{col} AS {stem}c
          FROM c_banded c JOIN n_banded n
            ON c.b = n.b AND c.bucket = n.bucket
        )"""


def _duckdb_jaccard(a: str, b: str) -> str:
    """Exact Jaccard of two distinct-element lists (the `_jaccard` twin)."""
    inter = f"len(list_filter({a}, x -> list_contains({b}, x)))"
    return f"{inter}::double / (len({a}) + len({b}) - {inter})"


def duckdb_minhash_estimate_pairs(
    corpus_sql: str,
    new_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    min_est: float = 0.5,
    top_per_new: int | None = None,
) -> str:
    """Oracle twin of `minhash_estimate_pairs`: same signatures, same
    banding, the estimator as an index-wise position-match count —
    integer arithmetic end to end. `top_per_new` mirrors the ingest-
    side hot-bucket bound (row_number over the same total order)."""
    matches = (
        f"len(list_filter(generate_series(1, {num_hashes}),"
        f" i -> sig_n[i] = sig_c[i]))"
    )
    topk = ""
    if top_per_new is not None:
        topk = f"""
        , ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY new_id ORDER BY est_jaccard DESC, corpus_id ASC
          ) AS rk FROM est
        )"""
    final = (
        f"SELECT new_id, corpus_id, est_jaccard FROM ranked WHERE rk <= {top_per_new}"
        if top_per_new is not None
        else "SELECT new_id, corpus_id, est_jaccard FROM est"
    )
    return f"""
        WITH {_duckdb_minhash_cross(
            corpus_sql, new_sql, "sig", "sig_", id_col, text_col,
            shingle_k, num_hashes, bands,
        )},
        est AS (
          SELECT new_id, corpus_id,
                 {matches}::double / {num_hashes} AS est_jaccard
          FROM cand
          WHERE {matches}::double / {num_hashes} >= {min_est}
        ){topk}
        {final}
    """


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup PAIRS → connected components: (id, cluster_id) where
    cluster_id is the smallest id in the component — the step that
    turns pairwise matches into dedup groups ("keep one per cluster").

    Distributed min-label propagation: every node starts labeled with
    itself; each round, a node adopts the minimum label among itself
    and its neighbors (one join + one groupBy per round); converges in
    O(component diameter) rounds — near-dup components are small and
    chain-shaped at worst, so a handful of rounds closes them. The
    driver loop stops at the first round with zero label changes
    (a 1-row aggregate per round, not a collect of labels), or at
    `max_iter` as the runaway backstop.

    Only ids that appear in `pairs` are returned — singleton documents
    are their own cluster by definition and never enter the pair
    stream.
    """
    # symmetrize by exploding each pair into both directions — ONE
    # evaluation of the (possibly expensive) upstream pair pipeline;
    # a two-branch union would run it twice before materialization.
    #
    # localCheckpoint (not persist): an iterative loop's logical plan
    # NESTS per round, and every round's action re-analyzes the whole
    # tree — with an expression-heavy upstream (quality filters, LSH
    # sketches) the driver-side Catalyst work grows to dominate
    # (measured: 6.7 s then 13 s per round over 324 edges with the
    # curation pipeline upstream; sub-second with lineage truncated).
    # The standard iterative-graph practice (GraphX does the same).
    # Local checkpoints trade fault-tolerance for speed — acceptable
    # for a handful of rounds; a lost executor re-runs the operator.
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Round 0 folded into label init (r10): a node's first propagated
    # label is min(own id, neighbor ids), which needs no prior label
    # table — one groupBy over sym instead of a distinct-init
    # checkpoint PLUS a full join round PLUS an always-true change
    # check (any edge a<b changes b's label, so round 0's check never
    # exits). Saves two driver-blocking jobs per call; labels after
    # this init are exactly the old round-0 output.
    # NOT checkpointed (r10): round 1 references this agg twice (own +
    # incoming), but both references are the identical groupBy subtree
    # over the checkpointed `sym` scan, so ReuseExchange computes it
    # once inside round 1's single job — cheaper than a separate
    # driver-blocking init-checkpoint job before the loop.
    labels = (
        sym.select(F.col("src").alias("id"), F.col("src").alias("lab"))
        .unionByName(
            sym.select(F.col("dst").alias("id"), F.col("src").alias("lab"))
        )
        .groupBy("id")
        .agg(F.min("lab").alias("lab"))
    )
    for _ in range(max_iter - 1):
        # neighbor minimum: push each node's label to its neighbors,
        # take the min of (own label, incoming labels). The old label
        # rides along as a flagged union row (max of the single own
        # row), so change detection needs no second join.
        own = labels.withColumn("own", F.col("lab"))
        incoming = (
            sym.join(labels.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"), "lab",
                F.lit(None).cast("long").alias("own"),
            )
        )
        # LAZY checkpoint + full-count change check: the count is a
        # complete action (every partition computed), so it doubles as
        # the checkpoint materialization — one driver-blocking job per
        # round where the eager-checkpoint-then-limit(1)-count form
        # paid two (r10 fold; limit(1) could not materialize a lazy
        # checkpoint, a partial action computes only some partitions).
        merged = (
            own.unionByName(incoming)
            .groupBy("id")
            .agg(F.min("lab").alias("lab"), F.max("own").alias("old"))
            .localCheckpoint(eager=False)
        )
        changed = merged.filter(F.col("lab") != F.col("old")).count()
        labels = merged.select("id", "lab")
        if changed == 0:
            break
    return labels.select("id", F.col("lab").alias("cluster_id"))


def dedup_keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """docs + near-dup pairs → docs with `cluster_id` and a `keep`
    flag: the smallest id of each component is kept, every other
    member dropped; documents in no pair keep themselves. The
    "apply the dedup" operator a training pipeline actually runs."""
    clusters = dedup_clusters(pairs, id_a, id_b)
    joined = docs.join(
        clusters.withColumnRenamed("id", id_col), id_col, "left"
    )
    cluster = F.coalesce(F.col("cluster_id"), F.col(id_col))
    return joined.select(
        *[F.col(c) for c in docs.columns],
        cluster.alias("cluster_id"),
        (cluster == F.col(id_col)).alias("keep"),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    salt: str = "split",
) -> DataFrame:
    """docs + near-dup pairs → docs + cluster_id + keep + split: the
    train/val/test assignment that hashes the CLUSTER representative,
    not the document id — near-duplicates always land in the SAME
    split. A naive per-doc hash split leaks: a test document's near-
    -duplicate sitting in train is memorization the eval can't see
    (the decontamination failure mode x_decontaminate guards against,
    applied to the corpus's own internal duplicates). Plan shape: the
    connected-components labels (dedup_clusters) left-join the docs,
    then the split is ONE hash projection over cluster_id — no extra
    shuffle beyond the cluster join."""
    from leann_rs_spark.operators.sampling import split_assign

    with_clusters = dedup_keep_canonical(docs, pairs, id_col, id_a, id_b)
    return split_assign(
        with_clusters, F.col("cluster_id"), weights, salt=salt
    )


def duckdb_dedup_clusters(pairs_sql: str, id_a: str = "id_a", id_b: str = "id_b") -> str:
    """Oracle twin: transitive closure by recursive CTE, then the
    minimum reachable id labels each node."""
    return f"""
        WITH RECURSIVE edges AS (
            SELECT {id_a} AS src, {id_b} AS dst FROM ({pairs_sql})
            UNION
            SELECT {id_b} AS src, {id_a} AS dst FROM ({pairs_sql})
        ),
        reach(id, lab) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
        )
        SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id
    """


def duckdb_minhash_near_dups_incremental(
    corpus_sql: str,
    new_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> str:
    """Oracle twin: `corpus_sql` / `new_sql` are SELECTs exposing
    (id_col, text_col)."""
    jac = _duckdb_jaccard("sh_n", "sh_c")
    return f"""
        WITH {_duckdb_minhash_cross(
            corpus_sql, new_sql, "shingles", "sh_", id_col, text_col,
            shingle_k, num_hashes, bands,
        )}
        SELECT new_id, corpus_id, {jac} AS jaccard
        FROM cand WHERE {jac} >= {threshold}
    """


def duckdb_minhash_near_dups(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> str:
    jac = _duckdb_jaccard("sh_a", "sh_b")
    return f"""
        WITH {_duckdb_minhash_ctes(
            table, "", id_col, text_col, shingle_k, num_hashes, bands
        )},
        cand AS (
          SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
                 a.shingles AS sh_a, b2.shingles AS sh_b
          FROM banded a JOIN banded b2
            ON a.b = b2.b AND a.bucket = b2.bucket AND a.id < b2.id
        )
        SELECT id_a, id_b, {jac} AS jaccard
        FROM cand WHERE {jac} >= {threshold}
    """


def duckdb_minhash_near_dups_capped(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int = 16,
    plant_n: int = 0,
    plant_offset: int = 300_000,
    plant_text: str = "",
) -> str:
    """Twin of minhash_near_dups(max_bucket_size=…): buckets over the
    cap emit chain+star pairs over (sig, id) lexicographic order —
    the exact spanning-set semantics of _banded_candidate_pairs, so
    the capped operator is full-value oracle-gateable, not test-only.
    `plant_n` appends that many copies of `plant_text` at
    `plant_offset` (the hot bucket the gate plants on the Spark side).
    List comparison is element-wise lexicographic in both engines;
    identical-sig members tie-break on id in both."""
    jac = _duckdb_jaccard("sh_a", "sh_b")
    corpus = _duckdb_planted_corpus(
        table, id_col, text_col, plant_n, plant_offset, plant_text
    )
    return f"""
        WITH corpus AS ({corpus}),
        {_duckdb_minhash_ctes(
            "corpus", "", "id", "t", shingle_k, num_hashes, bands
        )},
        {_duckdb_capped_cand("banded", ["b", "bucket"], "sig", max_bucket_size)},
        verified AS (
          SELECT c.id_a, c.id_b, sa.shingles AS sh_a, sb.shingles AS sh_b
          FROM cand c
          JOIN sigs sa ON sa.id = c.id_a
          JOIN sigs sb ON sb.id = c.id_b
        )
        SELECT id_a, id_b, {jac} AS jaccard
        FROM verified WHERE {jac} >= {threshold}
    """


BAND_SWEEP_CONFIGS = ((16, 4), (16, 8), (32, 16))


def minhash_band_sweep(
    docs: DataFrame,
    truth: DataFrame,
    configs: tuple = BAND_SWEEP_CONFIGS,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
) -> DataFrame:
    """→ (num_hashes, bands, n_candidates, tp, fp, fn, precision_r,
    recall_r), a materialized curve: the LSH BANDING operating curve against planted truth —
    the knob x_dedup_pr's threshold sweep cannot move. Each (n, b)
    config's S-curve midpoint is (1/b)^(b/n); more bands of fewer rows
    catch lower-jaccard truth pairs at the cost of more candidates to
    verify (n_candidates IS the verify-cost driver, reported so the
    tradeoff is visible).

    Scale shape: ONE signature table at max(num_hashes) serves every
    config — minhash sig entry i is min over shingles of
    derived_hash(pair, i), so a 16-hash signature is exactly the first
    16 entries of the 32-hash one. Per config the banding is a slice
    re-keying of that table (id-width rows only); all configs' banded
    rows union into ONE self-join keyed on (config, band, bucket).
    `truth` is (id_a, id_b) with id_a < id_b. Its pair precision/recall
    metric is its own; like ann._sweep_curve it spines the configs on
    the driver and ends in utils.materialize, which releases the
    signature table."""
    max_h = max(h for h, _ in configs)
    sigs = _minhash_signatures_bulk(docs, id_col, text_col, shingle_k, max_h)
    sigs = sigs.persist()
    sigs.count()  # materialize before the concurrent self-join map stages
    banded_all = None
    for h, b in configs:
        bd = _band_sigs(sigs, id_col, b, _band_width(h, b)).select(
            F.lit(h).alias("num_hashes"),
            F.lit(b).alias("bands"),
            F.col(id_col),
            "band",
            "bucket",
        )
        banded_all = bd if banded_all is None else banded_all.unionByName(bd)
    keys = ["num_hashes", "bands", "band", "bucket"]
    pairs = _self_pairs(banded_all, keys, id_col).dropDuplicates(
        ["num_hashes", "bands", "id_a", "id_b"]
    )
    n_truth = truth.count()
    got = {
        (r["num_hashes"], r["bands"]): (r["n_candidates"], r["tp"])
        for r in pairs.join(
            truth.withColumn("is_truth", F.lit(1)), ["id_a", "id_b"], "left"
        )
        .groupBy("num_hashes", "bands")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(F.coalesce("is_truth", F.lit(0))).alias("tp"),
        )
        .collect()
    }
    # config spine: a config with ZERO candidates still emits its row
    # (n_candidates=0, metrics 0.0), as the oracle's ungrouped aggregate
    curve = local_frame(
        sigs.sparkSession,
        [(h, b, *got.get((h, b), (0, 0)), n_truth) for h, b in sorted(configs)],
        "num_hashes int, bands int, n_candidates bigint, tp bigint,"
        " n_truth bigint",
    ).select(
        "num_hashes",
        "bands",
        "n_candidates",
        "tp",
        (F.col("n_candidates") - F.col("tp")).alias("fp"),
        (F.col("n_truth") - F.col("tp")).alias("fn"),
        F.when(
            F.col("n_candidates") > 0,
            F.round(F.col("tp") / F.col("n_candidates") * 1e6) / 1e6
            + F.lit(0.0),
        ).otherwise(F.lit(0.0)).alias("precision_r"),
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("tp") / F.col("n_truth") * 1e6) / 1e6 + F.lit(0.0),
        ).otherwise(F.lit(0.0)).alias("recall_r"),
    )
    return materialize(curve, [sigs])


def duckdb_minhash_band_sweep(
    corpus: str = "corpus",
    truth: str = "truth",
    configs: tuple = BAND_SWEEP_CONFIGS,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
) -> str:
    """Oracle twin of `minhash_band_sweep`. `corpus`/`truth` are CTE
    names already in scope (corpus: id_col, text_col; truth: id_a,
    id_b). The shared max-hash signature CTE and each config's banded
    CTE are AS MATERIALIZED — both are referenced more than once and
    DuckDB inlines CTEs (the unrolled-oracle rule)."""
    max_h = max(h for h, _ in configs)
    ctes = [
        f"""sw_sigs AS MATERIALIZED (
          SELECT id, sig FROM ({_duckdb_minhash_sigs(
              corpus, id_col, text_col, shingle_k, max_h
          )})
        )""",
        f"sw_nt AS (SELECT count(*) AS n_truth FROM {truth})",
    ]
    aggs = []
    for i, (h, b) in enumerate(configs):
        bucket = _duckdb_minhash_bucket(_band_width(h, b))
        ctes.append(
            f"""sw_banded_{i} AS MATERIALIZED (
              {_duckdb_bands("sw_sigs", b, bucket, "bucket")}
            )"""
        )
        ctes.append(
            f"""sw_agg_{i} AS (
              SELECT {h} AS num_hashes, {b} AS bands,
                     count(*) AS n_candidates,
                     sum(CASE WHEN t.id_a IS NULL THEN 0 ELSE 1 END) AS tp
              FROM (
                SELECT DISTINCT a.id AS id_a, b2.id AS id_b
                FROM sw_banded_{i} a JOIN sw_banded_{i} b2
                  ON a.b = b2.b AND a.bucket = b2.bucket AND a.id < b2.id
              ) c LEFT JOIN {truth} t USING (id_a, id_b)
            )"""
        )
        aggs.append(f"SELECT * FROM sw_agg_{i}")
    union = " UNION ALL ".join(aggs)
    return f"""
        WITH {', '.join(ctes)}
        SELECT num_hashes, bands,
               n_candidates::bigint AS n_candidates,
               coalesce(tp, 0)::bigint AS tp,
               (n_candidates - coalesce(tp, 0))::bigint AS fp,
               (n_truth - coalesce(tp, 0))::bigint AS fn,
               CASE WHEN n_candidates > 0
                    THEN round(coalesce(tp, 0) / n_candidates * 1e6) / 1e6
                         + 0.0
                    ELSE 0.0 END AS precision_r,
               CASE WHEN n_truth > 0
                    THEN round(coalesce(tp, 0) / n_truth * 1e6) / 1e6 + 0.0
                    ELSE 0.0 END AS recall_r
        FROM ({union}), sw_nt
        ORDER BY num_hashes, bands
    """


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted-index join
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    max_ngram_df: int | None = None,
    cache: bool = True,
) -> DataFrame:
    """→ (id_a, id_b, jaccard) exact, over distinct word n-grams.

    Inverted-index join: pairs exist only for docs sharing an n-gram.
    `max_ngram_df` drops n-grams appearing in more than that many docs
    before the pair join (stop-ngram cut) — at 100 TB this bounds the
    worst-case join fan-out; it changes results only for pairs whose
    ONLY shared n-grams are stop-ngrams (below any useful threshold).
    """
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_ngrams(tokenize(F.col(text_col)), n)).alias("gs"),
    ).filter(F.size("gs") > 0)
    if cache:
        # three consumers: sizes (joined twice) and the inverted index
        # (self-joined) — persist AND materialize, or the racing
        # consumers rebuild the n-gram arrays up to 4×.
        grams = grams.persist()
        grams.count()
    sizes = grams.select("id", F.size("gs").alias("n_grams"))
    inv = grams.select("id", F.explode("gs").alias("g"))
    if max_ngram_df is not None:
        keep = inv.groupBy("g").count().filter(F.col("count") <= max_ngram_df)
        inv = inv.join(keep.select("g"), "g")
    if cache:
        inv = inv.persist()
        inv.count()  # materialize before the inverted-index self-join races
    pairs = (
        inv.alias("x")
        .join(inv.alias("y"), "g")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("n_grams", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("n_grams", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def duckdb_ngram_jaccard_pairs(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    n: int = 3,
    threshold: float = 0.3,
) -> str:
    toks = duckdb_tokenize(text_col)
    grams = f"list_distinct({duckdb_word_ngrams(toks, n)})"
    return f"""
        WITH g AS (
          SELECT {id_col} AS id, gs FROM
            (SELECT {id_col}, {grams} AS gs FROM {table})
          WHERE len(gs) > 0
        ),
        inv AS (SELECT id, unnest(gs) AS gram FROM g),
        pairs AS (
          SELECT x.id AS id_a, y.id AS id_b, count(*) AS inter
          FROM inv x JOIN inv y ON x.gram = y.gram AND x.id < y.id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               inter::double / (len(ga.gs) + len(gb.gs) - inter) AS jaccard
        FROM pairs
        JOIN g ga ON ga.id = id_a
        JOIN g gb ON gb.id = id_b
        WHERE inter::double / (len(ga.gs) + len(gb.gs) - inter) >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_bits(text: Column | str, bits: int = 32) -> Column:
    """SimHash as an array<int> of `bits` 0/1 values. Bit k is the sign
    of the sum over all token occurrences of ±1 votes, where the vote is
    the parity of derived hash k of the token — ONE md5 per token, all
    `bits` votes derived via (a + (k+1)·b) mod P (cross-engine stable,
    no shift ops). Ties (sum == 0, incl. empty docs) resolve to 0."""
    text = F.col(text) if isinstance(text, str) else text
    pairs = F.transform(tokenize(text), hash_pair)
    return F.transform(
        F.array(pairs),
        lambda ps: F.transform(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda k: F.when(
                F.aggregate(
                    ps,
                    F.lit(0).cast("long"),
                    lambda acc, p: acc + (derived_hash(p, k) % 2) * 2 - 1,
                )
                > 0,
                F.lit(1),
            ).otherwise(F.lit(0)),
        ),
    )[0]


def duckdb_simhash_bits(text: str, bits: int = 32) -> str:
    toks = duckdb_tokenize(text)
    pairs = f"list_transform({toks}, t -> {duckdb_hash_pair('t')})"
    vote = f"(({duckdb_derived_hash('p', 'k')}) % 2) * 2 - 1"
    return (
        f"list_transform(generate_series(0, {bits - 1}),"
        f" k -> case when list_reduce(list_prepend(0::bigint,"
        f" list_transform({pairs}, p -> ({vote})::bigint)),"
        f" (acc, x) -> acc + x) > 0 then 1 else 0 end)"
    )


def _simhash_packed(
    docs: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """(id, sh): the SimHash bit array packed into ONE long — array
    element j contributes 2^j (aggregate over reverse(bits) with
    acc·2+x). The sketch the joins shuffle is then 8 bytes instead of
    a bits-element int array, band extraction is shift+mask, and
    hamming is a single codegen'd bit_count(a XOR b) instead of an
    O(bits) interpreted HOF fold per collision. (This fixed the r1→r2
    x_dedup_simhash regression: the fold + wide-array shuffle carry
    dominated once verify moved before dropDuplicates.)"""
    return docs.select(
        F.col(id_col),
        F.aggregate(
            F.reverse(simhash_bits(F.col(text_col), bits)),
            F.lit(0).cast("long"),
            lambda acc, x: acc * 2 + x,
        ).alias("sh"),
    )


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    cache: bool = True,
    max_bucket_size: int | None = None,
    intermediates: list | None = None,
) -> DataFrame:
    """→ (id_a, id_b, hamming) with hamming ≤ max_hamming.

    Pigeonhole candidate generation: with `bands` ≥ max_hamming + 1
    (ValueError otherwise, and for bits > 63), any pair within the
    hamming budget agrees on at least one whole band → equi-join on
    (band, band_bits) finds all of them; exact hamming verifies. Same
    no-O(n²) shape as MinHash-LSH (`_packed_near_dups`).

    `max_bucket_size`: hot-bucket guard — the same hazard the MinHash
    family caps: a B-doc boilerplate cluster shares its full sketch,
    so every band's bucket holds all B docs and the self-join emits
    B(B-1)/2 candidates per band before verify. Buckets over the cap
    are CHAINED in (packed-sketch, id) order instead of all-paired
    (`_chain_star_pairs`, ≤ 2(B-1) spanning pairs; near-identical
    sketches sort adjacent, so verified components are unchanged for
    contiguous-run clusters — the boilerplate case); buckets at or
    under the cap keep exact all-pairs semantics. `intermediates`
    receives the frames this call persisted (the sketch table, and
    the banded frame when the cap is set) for caller-side unpersist;
    with the default None they stay cached until storage eviction.
    """
    return _packed_near_dups(
        _simhash_packed(docs, id_col, text_col, bits), id_col, "sh", bits,
        bands, max_hamming, cache, max_bucket_size, intermediates,
    )


def _packed_near_dups(
    sk: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    bands: int,
    max_hamming: int,
    cache: bool = True,
    max_bucket_size: int | None = None,
    intermediates: list | None = None,
) -> DataFrame:
    """(id, packed-long `hash_col`) → (id_a, id_b, hamming ≤
    max_hamming): the one near-dup path of every packed sketch
    (SimHash, image aHash, audio energy hash). `_packed_bands` →
    `_self_pairs` carrying the sketch → exact bit_count(XOR) verify →
    dedup; `max_bucket_size` chains oversized buckets in (sketch, id)
    order (`_hot_split` — the sketch already rides the banded frame,
    so no re-join). `cache` persists the sketch table, `intermediates`
    receives every frame this call persisted."""
    _pigeonhole(bits, bands, max_hamming)
    if cache:
        # both self-join sides read the sketch table; persist AND
        # materialize, or the racing join map stages hash twice.
        sk = sk.persist()
        sk.count()
        if intermediates is not None:
            intermediates.append(sk)
    keys = ["band", "bb"]
    banded, spanning = _hot_split(
        _packed_bands(sk, [id_col, hash_col], hash_col, bits, bands),
        keys, id_col, max_bucket_size, (hash_col, None), intermediates,
    )
    # Verify hamming BEFORE dropDuplicates: bit_count is map-side
    # arithmetic, while dropDuplicates is a shuffle — filtering first
    # shrinks the shuffle from every band collision (skewed-bucket
    # blowup: biased sign bits make some bands huge) down to true
    # near-dup pairs only. hamming is a pure function of the pair, so
    # dedup placement cannot change results.
    pairs = _hamming(
        _self_pairs(banded, keys, id_col, {hash_col: "sh"}), max_hamming
    )
    if spanning is not None:
        # spanning pairs re-attach sketches for the same verify; the
        # pair count is O(B), so the two joins are trivial.
        pairs = pairs.unionByName(
            _hamming(_attach(spanning, sk, id_col, hash_col, "sh"), max_hamming)
        )
    return pairs.dropDuplicates(["id_a", "id_b"])


def duckdb_simhash_near_dups(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> str:
    ham = _duckdb_array_hamming("sha", "shb", bits)
    return f"""
        WITH sh AS (
          SELECT {id_col} AS id, {duckdb_simhash_bits(text_col, bits)} AS sh
          FROM {table}
        ),
        banded AS ({_duckdb_bands("sh", bands, _duckdb_simhash_bb(bits, bands))}),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
                 a.sh AS sha, b2.sh AS shb
          FROM banded a JOIN banded b2
            ON a.b = b2.b AND a.bb = b2.bb AND a.id < b2.id
        )
        SELECT id_a, id_b, {ham} AS hamming
        FROM cand WHERE {ham} <= {max_hamming}
    """


def _duckdb_simhash_bb(bits: int, bands: int) -> str:
    """Band b of the SimHash bit array `sh` as a '0'/'1' string — the
    same contiguous bit blocks `_packed_bands` cuts from the packed
    long (array-front labels vs the Spark side's packed-MSB labels;
    bucket sets identical)."""
    width = bits // bands
    return (
        f"array_to_string(list_transform("
        f"list_slice(sh, b * {width} + 1, (b + 1) * {width}),"
        f" x -> x::varchar), '')"
    )


def _duckdb_array_hamming(a: str, b: str, bits: int) -> str:
    """Hamming distance of two `bits`-element 0/1 lists."""
    return (
        f"list_reduce(list_prepend(0,"
        f" list_transform(generate_series(1, {bits}),"
        f" i -> abs({a}[i] - {b}[i]))), (acc, x) -> acc + x)"
    )


def duckdb_simhash_near_dups_capped(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int = 16,
    plant_n: int = 0,
    plant_offset: int = 300_000,
    plant_text: str = "",
) -> str:
    """Twin of simhash_near_dups(max_bucket_size=…): buckets over the
    cap emit chain+star pairs ordered by the PACKED sketch value then
    id — the Spark side packs bit array element j as 2^j (aggregate
    over reverse(bits) with acc*2+x), reproduced here with the same
    fold over list_reverse, so the window order matches exactly.
    Band LABELS differ between engines (Spark slices the packed long
    MSB-first, this twin slices the array front-first) but the bucket
    SETS are the same contiguous bit blocks, so (band, bucket)
    grouping — all that banding semantics use — is identical.
    `plant_n` appends copies of `plant_text` at `plant_offset` (the
    hot bucket the gate plants on the Spark side)."""
    corpus = _duckdb_planted_corpus(
        table, id_col, text_col, plant_n, plant_offset, plant_text
    )
    packed = (
        "list_reduce(list_prepend(0::bigint,"
        " list_transform(list_reverse(sh), x -> x::bigint)),"
        " (acc, x) -> acc * 2 + x)"
    )
    ham = _duckdb_array_hamming("sha", "shb", bits)
    return f"""
        WITH corpus AS ({corpus}),
        sh AS (
          SELECT id, {duckdb_simhash_bits('t', bits)} AS sh FROM corpus
        ),
        pk AS (SELECT id, sh, {packed} AS pk FROM sh),
        banded AS ({_duckdb_bands("pk", bands, _duckdb_simhash_bb(bits, bands))}),
        {_duckdb_capped_cand("banded", ["b", "bb"], "pk", max_bucket_size)},
        verified AS (
          SELECT c.id_a, c.id_b, sa.sh AS sha, sb.sh AS shb
          FROM cand c
          JOIN sh sa ON sa.id = c.id_a
          JOIN sh sb ON sb.id = c.id_b
        )
        SELECT id_a, id_b, {ham} AS hamming
        FROM verified WHERE {ham} <= {max_hamming}
    """


def simhash_near_dups_incremental(
    corpus: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    broadcast_new: bool = True,
    corpus_sketches: DataFrame | None = None,
) -> DataFrame:
    """Ingest-time SimHash near-dup: each NEW doc vs the EXISTING
    corpus → (new_id, corpus_id, hamming ≤ max_hamming). New-vs-new
    pairs are not reported (run `simhash_near_dups` on the batch);
    ids may overlap across inputs — output columns are labeled by
    side. The SimHash mirror of `minhash_near_dups_incremental`.

    Scale shape: the batch's banded sketch BROADCASTS
    (`broadcast_new`) — the corpus is never shuffled; the plan is
    corpus-scan → sketch projection → band explode →
    broadcast-hash-join → map-side bit_count verify. Verify runs
    BEFORE the dedup shuffle (hamming is pure per-pair arithmetic),
    so only true near-dup pairs reach the exchange. At 100 TB pass
    `corpus_sketches` = a persisted (id, sh) packed-long table
    (`_simhash_packed`'s shape, at least `bits` wide — this hot path
    does not re-validate per batch, the same contract as the MinHash
    incremental's `corpus_sigs`) and the per-batch cost drops to a
    sketch-table scan.
    """
    _pigeonhole(bits, bands, max_hamming)
    sh_c = (
        corpus_sketches
        if corpus_sketches is not None
        else _simhash_packed(corpus, id_col, text_col, bits)
    )
    sh_n = _simhash_packed(new_docs, id_col, text_col, bits)

    def side(sh: DataFrame, label: str, sk_col: str) -> DataFrame:
        return _packed_bands(sh, [id_col, "sh"], "sh", bits, bands).select(
            "band", "bb", F.col(id_col).alias(label), F.col("sh").alias(sk_col)
        )

    new = side(sh_n, "new_id", "shn")
    if broadcast_new:
        new = F.broadcast(new)
    # NULL-SAFE verify filter: `hamming <= h` is null-intolerant, so
    # Catalyst infers isnotnull(shc)/isnotnull(shn) from it and pushes
    # the FULL sketch expression below each side's fan-out repartition
    # onto the single-task parquet scan (job profile: the new side's
    # whole SimHash computed twice, once single-threaded — 1.85 s of a
    # 3.1 s gate). coalesce(…, false) keeps the semantics (null
    # sketches never pair) with no inferable isnotnull. The verify
    # runs BEFORE the dedup shuffle, unlike `_cross_pairs`' id-only
    # candidates.
    return (
        side(sh_c, "corpus_id", "shc").join(new, ["band", "bb"])
        .withColumn("hamming", F.bit_count(F.col("shc").bitwiseXOR(F.col("shn"))))
        .filter(F.coalesce(F.col("hamming") <= max_hamming, F.lit(False)))
        .select("new_id", "corpus_id", "hamming")
        .dropDuplicates(["new_id", "corpus_id"])
    )


def duckdb_simhash_near_dups_incremental(
    corpus_sql: str,
    new_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> str:
    """Twin of simhash_near_dups_incremental: band both sides over the
    same contiguous bit blocks (array-front labels vs the Spark side's
    packed-MSB labels — bucket sets identical), join, exact hamming."""
    bb = _duckdb_simhash_bb(bits, bands)
    ham = _duckdb_array_hamming("bc.sh", "bn.sh", bits)
    return f"""
        WITH c AS (
          SELECT {id_col} AS id, {duckdb_simhash_bits(text_col, bits)} AS sh
          FROM ({corpus_sql})
        ),
        n AS (
          SELECT {id_col} AS id, {duckdb_simhash_bits(text_col, bits)} AS sh
          FROM ({new_sql})
        ),
        bc AS ({_duckdb_bands("c", bands, bb)}),
        bn AS ({_duckdb_bands("n", bands, bb)})
        SELECT DISTINCT bn.id AS new_id, bc.id AS corpus_id, {ham} AS hamming
        FROM bc JOIN bn ON bc.b = bn.b AND bc.bb = bn.bb
        WHERE {ham} <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (exact canonical semantics)
# ---------------------------------------------------------------------------

# Above this many input rows the exact all-pairs operators refuse to
# run: O(N²/2) pair work that is fine for verification-scale inputs is
# a cluster-killer at corpus scale (100× the rows = 10,000× the pairs).
EXACT_NEAR_DUP_MAX_ROWS = 100_000


def _guard_quadratic(n: int, max_rows: int | None, fname: str) -> None:
    if max_rows is None or n <= max_rows:
        return
    raise ValueError(
        f"{fname}: exact all-pairs scoring over {n} rows exceeds "
        f"max_rows={max_rows} — O(N²) pair work does not survive corpus "
        f"scale. Use operators.ann.lsh_near_dups (bucketed, the "
        f"corpus-scale default) and keep this operator for small-N "
        f"verification; pass max_rows=None to override deliberately."
    )


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    assume_normalized: bool = False,
    cache: bool = True,
    max_rows: int | None = EXACT_NEAR_DUP_MAX_ROWS,
) -> DataFrame:
    """→ (id_a, id_b, cos) for all pairs with cosine ≥ threshold.

    SMALL-N / VERIFICATION TOOL. Exact all-pairs is the canonical
    (oracle) semantics, and inherently O(N²/2) pair work — at corpus
    scale the default is `operators.ann.lsh_near_dups` (hyperplane-LSH
    bucketing + the same exact verification): subset semantics with
    precision 1.0 and near-1 recall at high thresholds; tests measure
    its recall against this operator's output. Inputs larger than
    `max_rows` are refused (pass max_rows=None to override).

    `assume_normalized=True` (correct for `embed_documents` output,
    which is L2-normalized) scores with a plain dot product — O(dims)
    per pair instead of cosine's extra two norm folds. Norms are a
    per-ROW quantity; never pay them per PAIR.

    `cache` persists the input before the self-join — essential when
    `emb` is itself a computed embedding (it would be computed twice)."""
    if cache:
        emb = emb.persist()
    if cache or max_rows is not None:
        _guard_quadratic(emb.count(), max_rows, "embedding_near_dups")
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    score = (
        dot(F.col("va"), F.col("vb"))
        if assume_normalized
        else cosine(F.col("va"), F.col("vb"))
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", score)
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_near_dups_blocked(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block: int = 1024,
    cache: bool = True,
    max_rows: int | None = EXACT_NEAR_DUP_MAX_ROWS,
) -> DataFrame:
    """Vectorized physical variant of `embedding_near_dups` for
    L2-normalized vectors — IDENTICAL results (bit-exact, not just
    approximately equal), different physical plan. Like its expression
    twin this is a SMALL-N / VERIFICATION TOOL: inputs larger than
    `max_rows` are refused — the corpus-scale default is
    `operators.ann.lsh_near_dups`.

    rows → id-range blocks (collect_list of ≤`block` vectors) →
    block-pair join (bid_a ≤ bid_b) → mapInPandas numpy kernel scoring
    each block pair as a matrix product.

    Bit-exactness: the kernel accumulates `acc += A[:,k] * B[:,k]`
    sequentially over dimensions in float64 — the same left-fold order
    as the `aggregate(zip_with(...))` expression and the DuckDB oracle's
    `list_reduce`, so every pair's score is the identical double. (A
    BLAS matmul would use a different summation order; that is why the
    kernel folds by hand.)

    Scale: still inherently O(N²/2) pair work (exact semantics), but the
    constant is a numpy elementwise op instead of an interpreted
    per-pair expression tree, and shuffle volume is (N/block)² block
    pairs × 2 block payloads instead of N² pair rows. The LSH-bucketed
    subset path (operators/ann.lsh_near_dups) remains the way to escape
    the quadratic term."""
    import math

    import numpy as np
    import pandas as pd

    bid = F.floor(F.col(id_col) / F.lit(block)).cast("long")
    blocks = emb.groupBy(bid.alias("bid")).agg(
        F.collect_list(F.struct(F.col(id_col).alias("id"),
                                F.col(vec_col).alias("v"))).alias("rows")
    )
    if cache:
        # persist gated like the sibling operators — callers in
        # long-lived sessions pass cache=False (or unpersist via
        # spark.catalog.clearCache()) to avoid accumulating cached
        # block partitions across repeated invocations.
        blocks = blocks.persist()
    if max_rows is not None:
        # guard folded into the blocks materialization: one job counts
        # the input AND warms the persisted block table (a separate
        # emb.count() would pay the upstream embedding twice)
        n = blocks.agg(F.sum(F.size("rows"))).head()[0]
        _guard_quadratic(int(n or 0), max_rows, "embedding_near_dups_blocked")
    elif cache:
        blocks.count()  # materialize before the self-join races
    pairs = (
        blocks.select(F.col("bid").alias("bid_a"), F.col("rows").alias("rows_a"))
        .join(
            blocks.select(F.col("bid").alias("bid_b"), F.col("rows").alias("rows_b")),
            F.col("bid_a") <= F.col("bid_b"),
        )
    )

    def kernel(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                ra, rb = row["rows_a"], row["rows_b"]
                ids_a = np.array([r["id"] for r in ra], dtype=np.int64)
                ids_b = np.array([r["id"] for r in rb], dtype=np.int64)
                A = np.array([r["v"] for r in ra], dtype=np.float64)
                Bm = np.array([r["v"] for r in rb], dtype=np.float64)
                # sequential fold over dims == aggregate(zip_with) order
                acc = np.zeros((len(ids_a), len(ids_b)), dtype=np.float64)
                for k in range(A.shape[1]):
                    acc += A[:, k, None] * Bm[None, :, k]
                mask = (acc >= threshold) & (ids_a[:, None] < ids_b[None, :])
                ii, jj = np.nonzero(mask)
                out_a.append(ids_a[ii])
                out_b.append(ids_b[jj])
                out_c.append(acc[ii, jj])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cos": np.concatenate(out_c),
                    }
                )

    return pairs.mapInPandas(kernel, "id_a long, id_b long, cos double")


# ---------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap of the corpus against a
# probe set (eval questions / test-set passages)
# ---------------------------------------------------------------------------

def contamination_overlap(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str = "probe_id",
    probe_text_col: str = "probe_text",
) -> DataFrame:
    """→ (doc_id, probe_id, n_shared) — documents sharing ≥1 word
    n-gram with a probe, with the count of DISTINCT shared n-grams.
    The standard eval-decontamination check (n=8..13 word n-grams):
    flag (and drop or audit) training docs that leak benchmark text.

    Shape: inverted-index equi-join on the n-gram — the probe side is
    tiny (an eval set), so Spark broadcasts it and the corpus side
    streams map-side; no O(corpus × probes) pair space ever exists."""
    d = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(tokenize(F.col(text_col)), n))
        ).alias("_g"),
    )
    p = probes.select(
        F.col(probe_id_col),
        F.explode(
            F.array_distinct(word_ngrams(tokenize(F.col(probe_text_col)), n))
        ).alias("_g"),
    )
    return (
        d.join(F.broadcast(p), "_g")
        .groupBy(id_col, probe_id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def duckdb_contamination_overlap(
    probe_values: list[tuple[int, str]] | None = None,
    n: int = 8,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    probes_sql: str | None = None,
) -> str:
    """Oracle twin. Probes come either as literal (probe_id, text)
    values or as a complete SELECT producing (probe_id, probe_text)."""
    if probes_sql is not None:
        probes_cte = f"probes AS ({probes_sql})"
    else:
        vals = ", ".join(
            "(" + str(int(i)) + ", '" + t.replace("'", "''") + "')"
            for i, t in probe_values
        )
        probes_cte = f"probes(probe_id, probe_text) AS (VALUES {vals})"
    dg = duckdb_word_ngrams(duckdb_tokenize(text_col), n)
    pg = duckdb_word_ngrams(duckdb_tokenize("probe_text"), n)
    return f"""
        WITH {probes_cte},
        d AS (
            SELECT {id_col}, unnest(list_distinct({dg})) AS g FROM {table}
        ),
        p AS (
            SELECT probe_id, unnest(list_distinct({pg})) AS g FROM probes
        )
        SELECT d.{id_col}, p.probe_id, count(*)::bigint AS n_shared
        FROM d JOIN p USING (g)
        GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# Exact-substring (duplicated k-gram span) dedup — "Deduplicating
# Training Data Makes Language Models Better" (Lee et al. 2022,
# arXiv:2107.06499). The reference has no analog; this is the brief's
# training-pipeline surface. The paper's suffix-array pass is a
# single-machine algorithm; the Spark-native equivalent marks every
# token covered by a k-token gram that occurs more than once in the
# WHOLE corpus (incl. same-document repeats), then cuts those spans
# out of the text — span-level dedup, not document-level.
# ---------------------------------------------------------------------------

def _ws_tokens(text: Column) -> Column:
    """Faithful whitespace tokens — no lowercasing, no short-token
    drop (unlike functions.text.tokenize): the cleaned text must be
    reconstructable from exactly these tokens."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (id_col, n_tokens, dup_tokens, dup_frac, clean_text).

    A token position is "duplicated" when any n-token gram covering it
    occurs ≥2 times corpus-wide; `clean_text` is the document with all
    duplicated positions removed (the Lee-et-al. cut, applied at token
    granularity).

    Scale shape — three shuffles, all on bounded keys:
      1. gram → count: one hash aggregation over ~L grams/doc. The
         map-side partial collapses each task's repeats first, and the
         HAVING count>1 cut means only genuinely duplicated grams flow
         into the join.
      2. the left-semi join back to gram rows — co-hashed with (1), so
         AQE reuses the exchange.
      3. coverage positions → per-doc sorted set: key = id_col, value
         volume bounded by document length, never corpus size.
    No driver-side state: unlike the paper's suffix array (RAM ∝
    corpus), nothing here ever materializes beyond a partition.
    """
    toks = docs.select(
        F.col(id_col), _ws_tokens(F.col(text_col)).alias("__t")
    )
    grams = toks.select(
        id_col,
        "__t",
        F.posexplode(
            F.when(
                F.size("__t") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__p0", "gram"),
    ).select(id_col, (F.col("__p0") + 1).alias("pos"), "gram")
    dup_grams = (
        grams.groupBy("gram").count().filter(F.col("count") > 1).select("gram")
    )
    cov = (
        grams.join(dup_grams, "gram", "left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("ti"),
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("ti")).alias("__cov"))
    )
    covered = F.coalesce(F.col("__cov"), F.array().cast("array<int>"))
    keep_tok = lambda x, i: ~F.array_contains(covered, (i + 1).cast("int"))  # noqa: E731
    return (
        toks.join(cov, id_col, "left")
        .select(
            id_col,
            F.size("__t").alias("n_tokens"),
            F.size(covered).alias("dup_tokens"),
            F.when(
                F.size("__t") > 0,
                F.size(covered).cast("double") / F.size("__t").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
            F.concat_ws(" ", F.filter(F.col("__t"), keep_tok)).alias(
                "clean_text"
            ),
        )
    )


def duckdb_duplicate_spans(
    n: int = 8,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle twin — identical whitespace tokens, identical gram
    positions, coverage via unnest + anti-join reconstruction (the
    string_agg ORDER BY rebuilds clean_text in token order)."""
    return f"""
        WITH toks AS (
            SELECT {id_col},
                   list_filter(string_split({text_col}, ' '), t -> t <> '') AS t
            FROM {table}
        ),
        grams AS (
            SELECT {id_col}, i AS pos,
                   array_to_string(list_slice(t, i, i + {n} - 1), ' ') AS gram
            FROM toks,
                 unnest(generate_series(1, greatest(len(t) - {n} + 1, 0))) s(i)
        ),
        dupg AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) > 1),
        cov AS (
            SELECT DISTINCT g.{id_col}, g.pos + o.x - 1 AS ti
            FROM grams g JOIN dupg USING (gram),
                 unnest(generate_series(1, {n})) o(x)
        ),
        tokrows AS (
            SELECT {id_col}, list_extract(t, i) AS tok, i AS ti
            FROM toks, unnest(generate_series(1, len(t))) s(i)
        ),
        clean AS (
            SELECT tr.{id_col},
                   coalesce(
                       string_agg(tr.tok, ' ' ORDER BY tr.ti)
                           FILTER (c.ti IS NULL),
                       '') AS clean_text
            FROM tokrows tr
            LEFT JOIN cov c ON tr.{id_col} = c.{id_col} AND tr.ti = c.ti
            GROUP BY 1
        ),
        st AS (
            SELECT t.{id_col}, len(t.t)::int AS n_tokens,
                   count(c.ti)::int AS dup_tokens
            FROM toks t LEFT JOIN cov c ON t.{id_col} = c.{id_col}
            GROUP BY 1, 2
        )
        SELECT st.{id_col}, st.n_tokens, st.dup_tokens,
               (CASE WHEN st.n_tokens > 0
                     THEN st.dup_tokens::double / st.n_tokens
                     ELSE 0.0 END) AS dup_frac,
               coalesce(clean.clean_text, '') AS clean_text
        FROM st LEFT JOIN clean USING ({id_col})
    """


def paragraph_dedup(
    pages: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """→ (id_col, n_paras, dup_paras, dup_frac, clean_text).

    Corpus-level PARAGRAPH dedup (the Dolma / RefinedWeb granularity,
    between doc-level exact_dedup and token-level duplicate_spans): a
    paragraph occurring ≥2 times corpus-wide survives only at its FIRST
    occurrence — ordered by (id, position) — and every later copy is
    cut from its page. This is the boilerplate killer (nav bars,
    cookie banners, subscribe footers repeat across pages verbatim
    while their pages are not near-dups of each other, so doc-level
    MinHash never fires). Blank/whitespace-only paragraphs are dropped
    outright; `clean_text` is the page rebuilt from surviving
    paragraphs in original order.

    Scale shape — two shuffles, both bounded:
      1. first-occurrence per paragraph: one hash aggregation keyed by
         md5(paragraph) (narrow 32-char shuffle key instead of the
         paragraph body; map-side partial min collapses each task's
         repeats first), then the join back to paragraph rows is
         co-hashed with the agg so AQE reuses the exchange — the
         duplicate_spans layout.
      2. page reassembly keyed by id: value volume bounded by page
         length, never corpus size.
    No driver-side state, no Bloom filter to size: exactness comes
    from the shuffle, which is what a 1000-executor cluster is for.
    """
    paras = (
        pages.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep)).alias("__i", "__p"),
        )
        .filter(F.trim(F.col("__p")) != "")
        .withColumn("__h", F.md5(F.col("__p")))
    )
    first = paras.groupBy("__h").agg(
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("__i").alias("x"))
        ).alias("__k")
    )
    marked = paras.join(first, "__h").withColumn(
        "__keep",
        (F.col(id_col) == F.col("__k.i")) & (F.col("__i") == F.col("__k.x")),
    )
    agg = marked.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_paras"),
        F.sum(F.when(~F.col("__keep"), 1).otherwise(0))
        .cast("int")
        .alias("dup_paras"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct(F.col("__i"), F.col("__p")),
                        )
                    )
                ),
                lambda s: s["__p"],
            ),
            sep,
        ).alias("clean_text"),
    )
    # pages whose every paragraph is blank have no para rows — carry
    # them through with zero counts (the duckdb_duplicate_spans
    # zero-token lesson, r3 ADVICE)
    return pages.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
        F.coalesce("dup_paras", F.lit(0)).alias("dup_paras"),
        F.when(
            F.coalesce("n_paras", F.lit(0)) > 0,
            F.col("dup_paras").cast("double") / F.col("n_paras").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def duckdb_paragraph_dedup(
    pages_sql: str,
    id_col: str = "doc_id",
) -> str:
    """Oracle twin of paragraph_dedup over a pages relation (id, text):
    identical split/blank-filter, first occurrence via row_number
    ordered (id, position) — the min(struct) twin — and ordered
    string_agg reassembly. LEFT JOIN keeps all-blank pages."""
    return f"""
        WITH pages AS ({pages_sql}),
        pg AS (SELECT {id_col}, string_split(text, chr(10)) AS p FROM pages),
        paras AS (
            SELECT {id_col}, i AS idx, list_extract(p, i) AS para
            FROM pg, unnest(generate_series(1, len(p))) s(i)
            WHERE trim(list_extract(p, i)) <> ''
        ),
        rk AS (
            SELECT *, row_number() OVER (
                PARTITION BY para ORDER BY {id_col}, idx) AS rn
            FROM paras
        ),
        agg AS (
            SELECT {id_col},
                   count(*)::int AS n_paras,
                   sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::int AS dup_paras,
                   coalesce(string_agg(para, chr(10) ORDER BY idx)
                            FILTER (rn = 1), '') AS clean_text
            FROM rk GROUP BY 1
        )
        SELECT t.{id_col},
               coalesce(agg.n_paras, 0) AS n_paras,
               coalesce(agg.dup_paras, 0) AS dup_paras,
               CASE WHEN coalesce(agg.n_paras, 0) > 0
                    THEN agg.dup_paras::double / agg.n_paras
                    ELSE 0.0 END AS dup_frac,
               coalesce(agg.clean_text, '') AS clean_text
        FROM pages t LEFT JOIN agg USING ({id_col})
    """


# ---------------------------------------------------------------------------
# Bloom-filter incremental membership (ingest-time pre-filter)
# ---------------------------------------------------------------------------
#
# `exact_dedup_incremental` anti-joins every batch against the corpus —
# correct, but at 100 TB that is a corpus-wide hash scan PER BATCH (the
# runtime Bloom prunes the shuffle, not the scan). The production
# ingest shape keeps a PRE-BUILT Bloom sketch of the corpus text
# hashes: megabytes broadcast to every executor, each new document
# probes it map-side, and only the maybe-duplicate survivors touch the
# corpus at all (a left-semi join on a now-tiny probe side). False
# positives are resolved by that exact verify; false negatives are
# impossible — so the composition is exact while the corpus scan cost
# drops from every-batch to once (plus incremental bit updates, which
# are a union of (word, mask) rows OR-folded on the next rebuild).
#
# Determinism: bit positions come from the md5-derived universal hash
# family in functions/text.py (hash_pair/derived_hash), so the sketch
# — and every false positive — is bit-identical in Spark and DuckDB.
# Words pack 63 bits (positions 0..62): 1::BIGINT << 62 is the largest
# shift both engines agree on without signed overflow (same bound as
# operators/bq.py code packing).

BLOOM_BITS_PER_WORD = 63


def _bloom_positions(text_col: str, m_bits: int, k: int) -> Column:
    """Array of the k derived bit positions for a row's text. The
    hash_pair (one md5) is let-bound via the single-element-array
    transform (CLAUDE.md CSE rule) so it evaluates ONCE per row, not
    once per position."""
    pair = hash_pair(F.md5(F.col(text_col)))
    return F.transform(
        F.array(pair),
        lambda p: F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: derived_hash(p, i) % m_bits,
        ),
    )[0]


def bloom_corpus_filter(
    corpus: DataFrame,
    text_col: str = "text",
    m_words: int = 1024,
    k: int = 5,
) -> DataFrame:
    """Build the corpus Bloom sketch: ≤ `m_words` rows of
    (word BIGINT, mask BIGINT) — only words with ≥1 bit set appear.

    One pass over the corpus (k derived positions per row, exploded)
    + one tiny groupBy on word (≤ m_words groups, partial-aggregated
    map-side to at most m_words rows per task before the shuffle)."""
    m_bits = m_words * BLOOM_BITS_PER_WORD
    pos = _bloom_positions(text_col, m_bits, k)
    return (
        corpus.select(F.explode(pos).alias("p"))
        .select(
            (F.col("p") / BLOOM_BITS_PER_WORD).cast("bigint").alias("word"),
            (F.col("p") % BLOOM_BITS_PER_WORD).alias("bit"),
        )
        .groupBy("word")
        .agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
            .alias("mask")
        )
    )


def bloom_dedup_incremental(
    corpus: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_words: int = 1024,
    k: int = 5,
) -> DataFrame:
    """Probe `new_docs` against the corpus Bloom sketch, then exact-
    verify only the maybe-duplicates.

    → (id, maybe_dup, true_dup): maybe_dup = all k bits present
    (Bloom positive, includes false positives), true_dup = the exact
    text-hash verify of the positives. maybe_dup ∧ ¬true_dup rows are
    the sketch's false positives — surfaced, not hidden, because the
    FP rate is the knob (m, k) must be sized by at scale.

    Plan: sketch is broadcast (≤ m_words rows); the probe is a
    broadcast left join per (doc, position) + one count-k groupBy on
    the batch; the corpus is touched only by the left-semi verify of
    Bloom positives."""
    from pyspark.sql.functions import broadcast

    m_bits = m_words * BLOOM_BITS_PER_WORD
    bloom = bloom_corpus_filter(corpus, text_col, m_words, k)
    pos = _bloom_positions(text_col, m_bits, k)
    probe = (
        new_docs.select(
            F.col(id_col), F.md5(F.col(text_col)).alias("__h"),
            F.explode(pos).alias("p"),
        )
        .select(
            id_col,
            "__h",
            (F.col("p") / BLOOM_BITS_PER_WORD).cast("bigint").alias("word"),
            (F.col("p") % BLOOM_BITS_PER_WORD).alias("bit"),
        )
        .join(broadcast(bloom), "word", "left")
        .select(
            id_col,
            "__h",
            F.when(
                F.col("mask").isNotNull()
                & (
                    F.expr(
                        "mask & shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"
                    )
                    != 0
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("hit"),
        )
        .groupBy(id_col, "__h")
        .agg((F.sum("hit") == k).alias("maybe_dup"))
    )
    corpus_h = corpus.select(F.md5(F.col(text_col)).alias("__h")).distinct()
    verified = (
        probe.filter("maybe_dup")
        .join(corpus_h, "__h", "left_semi")
        .select(F.col(id_col).alias("__vid"), F.col("__h").alias("__vh"))
    )
    # re-attach by (id, text-hash) — the probe's own grain. Joining by
    # id alone cross-contaminated true_dup when a batch carried two
    # rows under one id with different texts (found by the r9 sf1.0
    # parity sweep: the replicated corpus collided with the gate's
    # re-ingest offset, and the verified flag of one text leaked onto
    # the other).
    return (
        probe.join(
            broadcast(verified),
            (probe[id_col] == F.col("__vid")) & (probe["__h"] == F.col("__vh")),
            "left",
        )
        .select(
            id_col,
            "maybe_dup",
            F.col("__vid").isNotNull().alias("true_dup"),
        )
    )


def duckdb_bloom_dedup_incremental(
    corpus_sql: str,
    batch_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_words: int = 1024,
    k: int = 5,
) -> str:
    """Oracle twin: identical md5-derived positions, identical 63-bit
    word packing, identical bit_or sketch and all-k-hits probe."""
    m_bits = m_words * BLOOM_BITS_PER_WORD
    pair = duckdb_hash_pair(f"md5({text_col})")
    pos = (
        f"list_transform(generate_series(0, {k - 1}),"
        f" i -> {duckdb_derived_hash('pr', 'i')} % {m_bits})"
    )
    return f"""
        WITH corpus AS ({corpus_sql}),
        batch AS ({batch_sql}),
        cpos AS (
            SELECT unnest({pos}) AS p
            FROM (SELECT {pair} AS pr FROM corpus)
        ),
        bloom AS (
            SELECT p // {BLOOM_BITS_PER_WORD} AS word,
                   bit_or(1::BIGINT << (p % {BLOOM_BITS_PER_WORD})::int) AS mask
            FROM cpos GROUP BY 1
        ),
        bpos AS (
            SELECT {id_col}, h,
                   p // {BLOOM_BITS_PER_WORD} AS word,
                   (p % {BLOOM_BITS_PER_WORD})::int AS bit
            FROM (
                SELECT {id_col}, md5({text_col}) AS h,
                       unnest({pos}) AS p
                FROM (SELECT {id_col}, {text_col}, {pair} AS pr FROM batch)
            )
        ),
        probed AS (
            SELECT b.{id_col}, b.h,
                   count(*) FILTER (
                       WHERE bl.mask IS NOT NULL
                         AND (bl.mask & (1::BIGINT << b.bit)) != 0
                   ) = {k} AS maybe_dup
            FROM bpos b LEFT JOIN bloom bl USING (word)
            GROUP BY b.{id_col}, b.h
        )
        SELECT p.{id_col}, p.maybe_dup,
               p.maybe_dup AND p.h IN (SELECT md5({text_col}) FROM corpus)
                   AS true_dup
        FROM probed p
    """


# ---------------------------------------------------------------------------
# Span-level eval decontamination (surgical cut, not doc drop)
# ---------------------------------------------------------------------------
#
# `contamination_overlap` FLAGS docs sharing eval n-grams; dropping a
# whole 50k-token document over one leaked benchmark sentence wastes
# data. The span form (the GPT-3/PaLM appendix-style cut) removes only
# the token positions covered by an eval n-gram and keeps the rest.
# Same three-bounded-shuffle shape as `duplicate_spans`, except the
# "is this gram bad" set comes from the (small) eval suite — distinct
# eval grams broadcast into a left-semi join against the corpus gram
# stream, so the 100 TB side is never shuffled for membership.


def decontaminate_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "probe_text",
) -> DataFrame:
    """→ (id_col, n_tokens, contam_tokens, contam_frac, clean_text):
    every corpus token position covered by ANY whitespace n-gram that
    occurs in `eval_docs` is removed from clean_text."""
    toks = docs.select(
        F.col(id_col), _ws_tokens(F.col(text_col)).alias("__t")
    )
    grams = toks.select(
        id_col,
        F.posexplode(
            F.when(
                F.size("__t") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__p0", "gram"),
    ).select(id_col, (F.col("__p0") + 1).alias("pos"), "gram")
    etoks = eval_docs.select(_ws_tokens(F.col(eval_text_col)).alias("__e"))
    eval_grams = (
        etoks.select(
            F.explode(
                F.when(
                    F.size("__e") >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size("__e") - n + 1),
                        lambda i: F.concat_ws(
                            " ", F.slice(F.col("__e"), i, n)
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram")
        )
        .distinct()
    )
    cov = (
        grams.join(F.broadcast(eval_grams), "gram", "left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("ti"),
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("ti")).alias("__cov"))
    )
    covered = F.coalesce(F.col("__cov"), F.array().cast("array<int>"))
    keep_tok = lambda x, i: ~F.array_contains(covered, (i + 1).cast("int"))  # noqa: E731
    return toks.join(cov, id_col, "left").select(
        id_col,
        F.size("__t").alias("n_tokens"),
        F.size(covered).alias("contam_tokens"),
        F.when(
            F.size("__t") > 0,
            F.size(covered).cast("double") / F.size("__t").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("contam_frac"),
        F.concat_ws(" ", F.filter(F.col("__t"), keep_tok)).alias("clean_text"),
    )


def duckdb_decontaminate_spans(
    eval_sql: str,
    n: int = 8,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "probe_text",
) -> str:
    """Oracle twin — identical whitespace grams; `clean` built with a
    LEFT JOIN from toks so empty/short docs survive (r3-ADVICE empty-doc
    rule)."""
    return f"""
        WITH toks AS (
            SELECT {id_col},
                   list_filter(string_split({text_col}, ' '), t -> t <> '') AS t
            FROM {table}
        ),
        grams AS (
            SELECT {id_col}, i AS pos,
                   array_to_string(list_slice(t, i, i + {n} - 1), ' ') AS gram
            FROM toks,
                 unnest(generate_series(1, greatest(len(t) - {n} + 1, 0))) s(i)
        ),
        etoks AS (
            SELECT list_filter(string_split({eval_text_col}, ' '),
                               t -> t <> '') AS e
            FROM ({eval_sql})
        ),
        egrams AS (
            SELECT DISTINCT
                   array_to_string(list_slice(e, i, i + {n} - 1), ' ') AS gram
            FROM etoks,
                 unnest(generate_series(1, greatest(len(e) - {n} + 1, 0))) s(i)
        ),
        cov AS (
            SELECT {id_col}, list_sort(list(DISTINCT ti)) AS cv
            FROM (
                SELECT g.{id_col}, u.ti
                FROM grams g, unnest(generate_series(g.pos, g.pos + {n} - 1)) u(ti)
                WHERE g.gram IN (SELECT gram FROM egrams)
            )
            GROUP BY {id_col}
        ),
        clean AS (
            SELECT t.{id_col},
                   len(t.t) AS n_tokens,
                   coalesce(len(c.cv), 0) AS contam_tokens,
                   CASE WHEN len(t.t) > 0
                        THEN coalesce(len(c.cv), 0)::double / len(t.t)
                        ELSE 0.0 END AS contam_frac,
                   array_to_string(
                       [t.t[i] FOR i IN generate_series(1, len(t.t))
                        IF c.cv IS NULL OR NOT list_contains(c.cv, i)],
                       ' ') AS clean_text
            FROM toks t LEFT JOIN cov c USING ({id_col})
        )
        SELECT * FROM clean
    """


# ---------------------------------------------------------------------------
# Edit-distance near-dup pairs (PassJoin-flavored pigeonhole blocking)
# ---------------------------------------------------------------------------

def editdist_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 48,
    max_dist: int = 2,
    max_seg_df: int | None = None,
) -> DataFrame:
    """→ (id_a, id_b, dist): pairs whose lowercased `prefix_len`-char
    prefixes are within `max_dist` edits — the near-dup family member
    for SHORT keys (titles, URLs, product names) where token shingles
    are too coarse and embeddings overkill.

    Blocking is the PassJoin pigeonhole (Li et al., ICDE'11 flavor):
    the prefix splits into (max_dist+1) contiguous length-balanced
    segments, and ≤max_dist edits can touch at most max_dist of them,
    so for equal-length substitution edits at least one
    (segment_index, segment) key ALWAYS collides. Insertions/deletions
    shift later boundaries and can escape the blocking — the same
    candidates-then-verify contract as the MinHash/SimHash/LSH
    operators (twin generates IDENTICAL candidates; the completeness
    property for substitution edits is pinned in tests). Verify is the
    engines' native levenshtein — integer DP, exact cross-engine
    parity, no float recipe.

    Scale shape: one explode to (max_dist+1)·N segment rows, one
    equi-join on (segment_index, segment), candidate-pair distinct,
    then two co-hashed joins back to the prefix table for the bounded
    verify — shuffle ∝ candidates, like every blocking dedup here.
    `max_seg_df` drops segments shared by more than that many docs
    (the boilerplate-prefix cut that bounds worst-case fan-out at
    100 TB, same knob as ngram_jaccard's max_ngram_df)."""
    k = max_dist + 1
    pref = F.lower(F.substring(F.col(text_col), 1, prefix_len))
    base = docs.select(F.col(id_col).alias("id"), pref.alias("p")).filter(
        F.length("p") >= k
    )
    ln = F.length("p")
    i = F.col("i")
    start = F.floor(i * ln / F.lit(k)).cast("int")
    end = F.floor((i + F.lit(1)) * ln / F.lit(k)).cast("int")
    segs = base.select(
        "id",
        "p",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i"),
    ).select(
        "id",
        "i",
        F.col("p").substr(start + F.lit(1), end - start).alias("seg"),
    )
    if max_seg_df is not None:
        keep = (
            segs.groupBy("i", "seg")
            .count()
            .filter(F.col("count") <= max_seg_df)
            .select("i", "seg")
        )
        segs = segs.join(keep, ["i", "seg"])
    cand = (
        segs.alias("x")
        .join(segs.alias("y"), ["i", "seg"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    pa = base.select(F.col("id").alias("id_a"), F.col("p").alias("__pa"))
    pb = base.select(F.col("id").alias("id_b"), F.col("p").alias("__pb"))
    return (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn(
            "dist", F.levenshtein("__pa", "__pb").cast("int")
        )
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def duckdb_editdist_near_dups(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    prefix_len: int = 48,
    max_dist: int = 2,
    max_seg_df: int | None = None,
) -> str:
    """Oracle twin — identical segmentation arithmetic (floor of the
    same double division), identical candidate join, native
    levenshtein verify."""
    k = max_dist + 1
    seg_df_cte = (
        f""",
        kept AS (
            SELECT i, seg FROM segs
            GROUP BY i, seg HAVING count(*) <= {max_seg_df}
        ),
        fsegs AS (SELECT s.* FROM segs s JOIN kept USING (i, seg))"""
        if max_seg_df is not None
        else ",\n        fsegs AS (SELECT * FROM segs)"
    )
    return f"""
        WITH base AS (
            SELECT {id_col} AS id,
                   lower(substr({text_col}, 1, {prefix_len})) AS p
            FROM {table}
            WHERE length(lower(substr({text_col}, 1, {prefix_len}))) >= {k}
        ),
        segs AS (
            SELECT id, i,
                   substr(p,
                          CAST(floor(i * length(p) / {k}) AS INT) + 1,
                          CAST(floor((i + 1) * length(p) / {k}) AS INT)
                          - CAST(floor(i * length(p) / {k}) AS INT)) AS seg
            FROM base, unnest(generate_series(0, {k - 1})) t(i)
        ){seg_df_cte},
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM fsegs a JOIN fsegs b ON a.i = b.i AND a.seg = b.seg
            WHERE a.id < b.id
        )
        SELECT c.id_a, c.id_b,
               CAST(levenshtein(x.p, y.p) AS INT) AS dist
        FROM cand c
        JOIN base x ON x.id = c.id_a
        JOIN base y ON y.id = c.id_b
        WHERE levenshtein(x.p, y.p) <= {max_dist}
    """
