"""Deterministic sampling / splitting / shuffling for training-data
pipelines.

Beyond-reference operators (SURVEY §2.5 — the reference has no sampling
surface): every large-scale dataset build needs (a) rate-based
subsampling, (b) stable train/val/test assignment, (c) a global
reproducible shuffle. All three are expressed as pure column math over
an md5-derived key, so they are:

- deterministic: same input row → same decision, on any cluster, any
  partitioning, any run (no RNG state, unlike df.sample's seed which is
  partitioning-dependent);
- cheap: a projection + filter — no shuffle for sample/split; the
  shuffle operator is ONE global sort by the derived key (Spark's
  range-partitioned sort — the standard shape for training-data
  ordering at scale);
- oracle-able: the identical md5 arithmetic runs in DuckDB
  (functions/text.py hash64 parity, tools/parity_exp.py).

The key construction namespaces with a salt so different pipeline
stages (sample vs split vs shuffle) decorrelate: h = md5(salt || key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from leann_rs_spark.functions.text import duckdb_hash64, hash64
from leann_rs_spark.utils import local_frame

# hash64 yields a uniform 60-bit value; bucket into 1e6 slots for
# rate/weight resolution of 1e-6
_SLOTS = 1_000_000


def _slot(key: Column, salt: str) -> Column:
    return hash64(F.concat(F.lit(salt + ":"), key.cast("string"))) % F.lit(_SLOTS)


def deterministic_sample(
    df: DataFrame, rate: float, key: Column | str, salt: str = "sample"
) -> DataFrame:
    """Keep rows whose hash slot falls below `rate` — a stable Bernoulli
    sample keyed on `key` (same keys always co-selected, so reruns and
    incremental loads agree)."""
    if not (0.0 <= rate <= 1.0):
        raise ValueError(f"rate must be in [0, 1], got {rate!r}")
    key = F.col(key) if isinstance(key, str) else key
    return df.filter(_slot(key, salt) < F.lit(int(rate * _SLOTS)))


def split_assign(
    df: DataFrame,
    key: Column | str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by cumulative weight ranges over
    the hash slot — the standard stable train/val/test assignment
    (membership survives appends, dedup, repartitioning)."""
    key = F.col(key) if isinstance(key, str) else key
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    slot = _slot(key, salt)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cond = slot < F.lit(int(acc * _SLOTS))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(out_col, expr)


def deterministic_shuffle(
    df: DataFrame, key: Column | str, salt: str = "shuffle",
    out_col: str = "shuffle_key",
) -> DataFrame:
    """Attach a reproducible pseudo-random sort key and return the rows
    globally ordered by it — the scalable form of 'shuffle the corpus':
    Spark executes ORDER BY with a range-partitioned sort (sampled
    boundaries, no single-task bottleneck), and downstream writers
    preserve the order per output file."""
    key = F.col(key) if isinstance(key, str) else key
    sk = hash64(F.concat(F.lit(salt + ":"), key.cast("string")))
    return df.withColumn(out_col, sk).orderBy(out_col, key.cast("string"))


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------

def duckdb_slot(key_sql: str, salt: str) -> str:
    salted = "'" + salt + ":' || (" + key_sql + ")::varchar"
    return f"({duckdb_hash64(salted)} % {_SLOTS})"


def duckdb_deterministic_sample(
    table: str, key_sql: str, rate: float, salt: str = "sample"
) -> str:
    return (
        f"SELECT * FROM {table} "
        f"WHERE {duckdb_slot(key_sql, salt)} < {int(rate * _SLOTS)}"
    )


def duckdb_split_assign(
    key_sql: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> str:
    """CASE expression mirroring split_assign."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    slot = duckdb_slot(key_sql, salt)
    parts = []
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        parts.append(f"WHEN {slot} < {int(acc * _SLOTS)} THEN '{name}'")
    last = items[-1][0]
    return "CASE " + " ".join(parts) + f" ELSE '{last}' END"


def duckdb_shuffle_key(key_sql: str, salt: str = "shuffle") -> str:
    return duckdb_hash64(f"'{salt}:' || ({key_sql})::varchar")


# ---------------------------------------------------------------------------
# Sequence packing (training-batch assembly)
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    token_col: Column | str,
    budget: int,
    key: Column | str,
    n_shards: int = 64,
    salt: str = "pack",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Assign rows to fixed-token-budget packs for LLM training-batch
    assembly: rows are sharded by a hash of `key` (so the window below
    never concentrates on one task), deterministically ordered inside
    the shard, and packed by offset — pack boundary = every `budget`
    cumulative tokens. A pack may overflow by at most one row (the
    standard next-fit-by-offset approximation; exact first-fit is a
    sequential process that cannot be expressed as a window).

    → input columns (or `id_cols`) + (shard INT, pack_id BIGINT,
    pack_offset BIGINT). One shuffle (the shard window); at 100 TB
    raise `n_shards` so each shard's pack stream fits a task.
    """
    from pyspark.sql.window import Window

    token_col = F.col(token_col) if isinstance(token_col, str) else token_col
    key = F.col(key) if isinstance(key, str) else key
    shard = (_slot(key, salt) % F.lit(n_shards)).cast("int")
    out_cols = id_cols or df.columns
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("_pk"), F.col("_pkt"))  # total order: hash, raw key
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = df.select(
        *out_cols,
        shard.alias("shard"),
        hash64(F.concat(F.lit(salt + "#:"), key.cast("string"))).alias("_pk"),
        key.cast("string").alias("_pkt"),
        token_col.cast("bigint").alias("_nt"),
    )
    cum = F.sum("_nt").over(w)
    return (
        staged.withColumn("_cum", cum)
        .select(
            *out_cols,
            "shard",
            F.floor((F.col("_cum") - F.col("_nt")) / F.lit(budget)).alias(
                "pack_id"
            ),
            (F.col("_cum") - F.col("_nt")).alias("pack_offset"),
        )
    )


def duckdb_pack_sequences(
    table: str,
    token_sql: str,
    budget: int,
    key_sql: str,
    n_shards: int = 64,
    salt: str = "pack",
    id_cols: str = "* EXCLUDE (shard, _pk, nt, cum)",
) -> str:
    """Oracle twin of pack_sequences. The default `id_cols` keeps every
    input column and none of the helpers, matching the Spark twin's
    default output schema."""
    slot = duckdb_slot(key_sql, salt)
    pk = duckdb_hash64("'" + salt + "#:' || (" + key_sql + ")::varchar")
    return f"""
        SELECT {id_cols}, shard,
               ((cum - nt) // {budget})::bigint AS pack_id,
               (cum - nt)::bigint AS pack_offset
        FROM (
            SELECT *, ({slot} % {n_shards})::int AS shard, {pk} AS _pk,
                   ({token_sql})::bigint AS nt,
                   sum(({token_sql})::bigint) OVER (
                       PARTITION BY ({slot} % {n_shards})
                       ORDER BY {pk}, ({key_sql})::varchar
                       ROWS UNBOUNDED PRECEDING
                   ) AS cum
            FROM {table}
        )
    """


# ---------------------------------------------------------------------------
# Stratified (per-group quota) sampling
# ---------------------------------------------------------------------------

def stratified_sample(
    df: DataFrame,
    group_col: Column | str,
    n_per_group: int,
    key: Column | str,
    salt: str = "strat",
) -> DataFrame:
    """Keep the `n_per_group` rows with the smallest hash slots in each
    group — a deterministic uniform sample of exactly min(n, |group|)
    rows per group (balanced eval sets, per-domain audits, per-language
    quotas).

    One shuffle: the window partitions on the group. Slot ties break on
    the stringified key, so membership is a total order — stable across
    runs, partitioning, and appends of non-selected rows. At 100 TB the
    only skew risk is a mega-group; rank-k selection inside a window
    still streams (no per-group materialization), and AQE handles the
    reduce-side imbalance."""
    from pyspark.sql import Window

    group_col = F.col(group_col) if isinstance(group_col, str) else group_col
    key = F.col(key) if isinstance(key, str) else key
    w = Window.partitionBy(group_col).orderBy(
        _slot(key, salt), key.cast("string")
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_group)
        .drop("__rn")
    )


def duckdb_stratified_sample(
    table: str,
    group_sql: str,
    n_per_group: int,
    key_sql: str,
    salt: str = "strat",
) -> str:
    slot = duckdb_slot(key_sql, salt)
    return f"""
        SELECT * EXCLUDE (__rn) FROM (
            SELECT *, row_number() OVER (
                PARTITION BY {group_sql}
                ORDER BY {slot}, ({key_sql})::varchar
            ) AS __rn
            FROM {table}
        ) WHERE __rn <= {n_per_group}
    """


# ---------------------------------------------------------------------------
# Deterministic upsampling (epoch-style repeats, rate may exceed 1)
# ---------------------------------------------------------------------------

def weighted_sample_n(
    df: DataFrame,
    n: int,
    weight: Column | str,
    key: Column | str,
    salt: str = "wsample",
    key_col: str = "race_key",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis–Spirakis exponential race — every row draws
    k = −ln(u)/w with u from the seeded md5 slot of its key, and the
    n SMALLEST k win. Selection probability tracks weight mass; no row
    repeats (the with-replacement shape is `upsample`); reruns,
    repartitions, and incremental loads agree because u depends only
    on (salt, key).

    Cross-engine exactness: the race key is QUANTIZED to an integer —
    CAST(round(k·1e6) AS BIGINT), multiply-first per CLAUDE.md — and
    the cut orders by (key_r, key), so an engine-ln ulp can never flip
    the selection; quantization ties break by key in both engines (a
    measured-rule trade: bit-exact determinism over exactness to the
    un-quantized race). Scale shape: one projection + one global
    TakeOrdered(n) — no shuffle beyond the top-n reduction; weights
    must be strictly positive (validated in-plan: nonpositive-weight
    rows would win the race with key −inf silently, so they raise —
    the DuckDB twin carries the same in-plan guard).

    Overflow bound: the quantized key is clamped to 9e18 (just under
    Long.MaxValue) with least() in BOTH engines — k = −ln(u)/w grows
    as 1/w, and for weights below ~2e-12 the unclamped CAST would
    saturate in Spark's non-ANSI cast but RAISE in DuckDB. Clamped
    rows (weights that microscopic lose the race against any sane
    weight anyway) tie at the cap and fall to the deterministic key
    tie-break, identically cross-engine."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n!r}")
    key = F.col(key) if isinstance(key, str) else key
    weight = F.col(weight) if isinstance(weight, str) else weight
    u = (
        _slot(key, salt).cast("double") + F.lit(0.5)
    ) / F.lit(float(_SLOTS))
    guarded_w = F.when(weight > 0, weight).otherwise(
        F.raise_error(F.lit("weighted_sample_n: weight must be > 0"))
    )
    k = -F.log(u) / guarded_w
    key_r = F.round(F.least(k * F.lit(1e6), F.lit(9e18))).cast("bigint")
    return (
        df.withColumn(key_col, key_r)
        .orderBy(F.col(key_col).asc(), key.cast("string").asc())
        .limit(n)
    )


def duckdb_weighted_sample_n(
    select_sql: str,
    n: int,
    weight_sql: str,
    key_sql: str,
    salt: str = "wsample",
    key_col: str = "race_key",
) -> str:
    """Oracle twin — identical slot → u → −ln(u)/w → quantized key →
    clamp → (key_r, key) cut, with the SAME in-plan nonpositive-weight
    guard as the operator (error() fires on invalid input instead of
    silently racing with a −inf/negative key). `select_sql` is a
    complete SELECT producing the rows to sample."""
    u = f"(({duckdb_slot(key_sql, salt)})::double + 0.5) / {float(_SLOTS)}"
    w = (
        f"(CASE WHEN ({weight_sql}) > 0 THEN ({weight_sql}) "
        f"ELSE CAST(error('weighted_sample_n: weight must be > 0') AS DOUBLE) END)"
    )
    k = f"(-ln({u}) / {w})"
    return f"""
        SELECT *, CAST(round(least({k} * 1e6, 9e18)) AS BIGINT) AS {key_col}
        FROM ({select_sql})
        ORDER BY {key_col} ASC, ({key_sql})::varchar ASC
        LIMIT {n}
    """


def upsample(
    df: DataFrame,
    rate: float,
    key: Column | str,
    salt: str = "upsample",
    copy_col: str = "copy",
) -> DataFrame:
    """Each row appears floor(rate) times, plus once more when its hash
    slot < frac(rate) — deterministic sampling WITH replacement, the
    "see this domain 2.5 epochs" mixing step (weighted_mix handles
    rates ≤ 1; this is the documented >1 path). `copy_col` numbers the
    copies 0..k-1 so a downstream deterministic_shuffle can spread them
    (key on (id, copy)).

    Pure projection + generator: no shuffle, no join; output size is
    exactly Σ copies and each task fans out only its own rows."""
    if rate < 0.0:
        raise ValueError(f"rate must be >= 0, got {rate!r}")
    key = F.col(key) if isinstance(key, str) else key
    whole = int(rate)
    frac_slots = int((rate - whole) * _SLOTS)
    copies = F.lit(whole) + (
        (_slot(key, salt) < F.lit(frac_slots)).cast("int")
    )
    seq = F.when(
        copies > 0, F.sequence(F.lit(1), copies)
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn("__c", F.explode(seq)).withColumn(
        copy_col, (F.col("__c") - 1).cast("int")
    ).drop("__c")


def duckdb_upsample(
    table: str,
    rate: float,
    key_sql: str,
    salt: str = "upsample",
    copy_col: str = "copy",
) -> str:
    if rate < 0.0:
        raise ValueError(f"rate must be >= 0, got {rate!r}")
    whole = int(rate)
    frac_slots = int((rate - whole) * _SLOTS)
    slot = duckdb_slot(key_sql, salt)
    ncop = f"({whole} + (CASE WHEN {slot} < {frac_slots} THEN 1 ELSE 0 END))"
    return f"""
        SELECT t.*, (c.i - 1)::int AS "{copy_col}"
        FROM {table} t, unnest(generate_series(1, {ncop})) c(i)
    """


# ---------------------------------------------------------------------------
# Weighted corpus mixing (domain reweighting)
# ---------------------------------------------------------------------------

def weighted_mix(
    sources: list[tuple[DataFrame, float]],
    key: Column | str,
    salt: str = "mix",
) -> DataFrame:
    """Mix corpora with per-source sampling rates — the domain-
    reweighting step of a training-data pipeline (e.g. upweight code,
    downsample crawl). Rates ≤ 1 subsample deterministically (stable
    across runs/appends, like deterministic_sample); the result is the
    unionByName of the sampled sources. Rates > 1 are rejected here —
    duplication-based upweighting is the explicit `upsample` operator
    (epoch repeats, with a copy index); keeping this one a pure filter
    means its output is always a SUBSET of the inputs.

    Each source must share the schema. No shuffle: per-source
    projection+filter, then a union."""
    out = None
    for i, (df, rate) in enumerate(sources):
        part = (
            df if rate == 1.0
            else deterministic_sample(df, rate, key, salt=f"{salt}:{i}")
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("weighted_mix needs at least one source")
    return out


def duckdb_weighted_mix(
    source_sqls: list[tuple[str, float]],
    key_sql: str,
    salt: str = "mix",
) -> str:
    """Oracle twin: UNION ALL of the per-source sampled SELECTs.

    Validates rates exactly like the Spark side (weighted_mix →
    deterministic_sample raises for rate > 1), so the twin rejects
    every input the engine rejects."""
    parts = []
    for i, (sql, rate) in enumerate(source_sqls):
        if rate > 1.0:
            raise ValueError(f"rate must be in [0, 1], got {rate!r}")
        if rate == 1.0:
            parts.append(f"SELECT * FROM ({sql})")
        else:
            parts.append(
                "SELECT * FROM ("
                + duckdb_deterministic_sample(
                    f"({sql})", key_sql, rate, salt=f"{salt}:{i}"
                )
                + ")"
            )
    return " UNION ALL ".join(parts)


def concat_chunk(
    docs: DataFrame,
    block_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    eod: str = "<|endofdoc|>",
    shard_width: int = 1 << 20,
    intermediates: list | None = None,
) -> DataFrame:
    """GPT-style concat-and-chunk: tokenize every document, append an
    EOD marker, concatenate the whole corpus's token stream in id
    order, and cut it into fixed `block_size` blocks — documents SPLIT
    across block boundaries (the pretraining tokenization shape;
    pack_sequences is the whole-document alternative that never
    splits). → (block_id, n_tokens, n_docs, tokens) where `tokens` is
    the block's token array, n_tokens == block_size except the final
    block, n_docs = documents contributing ≥1 token to the block.

    Scale shape — the global token offset is a DISTRIBUTED prefix sum,
    not a single-partition window:
      1. intra-shard cumsum: window partitioned by `id div shard_width`
         (deterministic id-range shards; tune shard_width so one
         shard's docs fit a task),
      2. shard bases: one tiny groupBy (N/shard_width rows) cumulated
         driver-side and broadcast back — the classic two-pass prefix
         sum,
      3. each doc explodes into the ≤ (n/block_size + 2) blocks it
         spans (a slice per block), and one groupBy(block_id)
         reassembles blocks — value volume bounded by block_size.
    The tokenized frame is persisted (it feeds the shard-total pass
    and the main pass); `intermediates` receives it for caller
    unpersist, the curate_corpus convention.
    """
    from pyspark.sql.window import Window

    from leann_rs_spark.functions.text import tokenize

    L = int(block_size)
    toks = (
        docs.select(
            F.col(id_col).cast("bigint").alias("_id"),
            F.concat(tokenize(text_col), F.array(F.lit(eod))).alias("_t"),
        )
        .withColumn("_n", F.size("_t").cast("bigint"))
        .withColumn("_shard", F.expr(f"_id div {int(shard_width)}"))
        .persist()
    )
    if intermediates is not None:
        intermediates.append(toks)

    subs = (
        toks.groupBy("_shard").agg(F.sum("_n").alias("_tot"))
        .orderBy("_shard")
        .collect()
    )
    bases, acc = [], 0
    for r in subs:
        bases.append((r["_shard"], acc))
        acc += r["_tot"]
    base_df = local_frame(
        docs.sparkSession, bases or [(0, 0)], "_shard bigint, _base bigint"
    )

    w = (
        Window.partitionBy("_shard")
        .orderBy("_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = (
        toks.withColumn("_cum", F.sum("_n").over(w))
        .join(F.broadcast(base_df), "_shard")
        .select(
            "_t",
            "_n",
            (F.col("_base") + F.col("_cum") - F.col("_n")).alias("_off"),
        )
    )
    pieces = staged.select(
        "_t",
        "_off",
        "_n",
        F.explode(
            F.sequence(
                F.expr(f"_off div {L}"), F.expr(f"(_off + _n - 1) div {L}")
            )
        ).alias("block_id"),
    ).select(
        "block_id",
        "_off",
        F.slice(
            "_t",
            (F.greatest(F.col("block_id") * L - F.col("_off"), F.lit(0)) + 1)
            .cast("int"),
            (
                F.least((F.col("block_id") + 1) * L, F.col("_off") + F.col("_n"))
                - F.greatest(F.col("block_id") * L, F.col("_off"))
            ).cast("int"),
        ).alias("_piece"),
    )
    return pieces.groupBy("block_id").agg(
        F.sum(F.size("_piece")).cast("bigint").alias("n_tokens"),
        F.count("*").cast("int").alias("n_docs"),
        F.flatten(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_off", "_piece"))),
                lambda s: s["_piece"],
            )
        ).alias("tokens"),
    )


def duckdb_concat_chunk(
    block_size: int,
    eod: str = "<|endofdoc|>",
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle twin of concat_chunk → (block_id, n_tokens, n_docs,
    tokens_hash): one global window (the oracle doesn't need the
    two-pass prefix sum), identical slice arithmetic, block reassembly
    as an ordered string_agg whose md5 equals md5(array_join(tokens))
    on the Spark side (pieces are never empty by construction)."""
    from leann_rs_spark.functions.text import duckdb_tokenize

    L = int(block_size)
    return f"""
        WITH toks AS (
            SELECT {id_col}::bigint AS id,
                   list_append({duckdb_tokenize(text_col)}, '{eod}') AS t
            FROM {table}
        ),
        tn AS (SELECT id, t, len(t)::bigint AS n FROM toks),
        off AS (
            SELECT *,
                   (sum(n) OVER (ORDER BY id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n)::bigint AS o
            FROM tn
        ),
        pieces AS (
            SELECT b.x AS block_id, o,
                   list_slice(t,
                       (greatest(b.x * {L} - o, 0) + 1)::int,
                       (least((b.x + 1) * {L}, o + n) - o)::int) AS piece
            FROM off, unnest(generate_series(o // {L}, (o + n - 1) // {L})) b(x)
        )
        SELECT block_id,
               sum(len(piece))::bigint AS n_tokens,
               count(*)::int AS n_docs,
               md5(string_agg(array_to_string(piece, ' '), ' ' ORDER BY o))
                   AS tokens_hash
        FROM pieces GROUP BY 1
    """


def temperature_mix(
    df: DataFrame,
    group_col: str,
    alpha: float,
    target_n: int,
    key: Column | str,
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-based mixture sampling (the XLM-R / mBERT
    multilingual α-sampling rule, arXiv:1911.02116 §3.1): sample
    groups with probability q_g ∝ c_g^α — α < 1 upweights rare
    groups (languages, domains) relative to their natural frequency;
    α = 1 is proportional (a plain uniform subsample); α = 0 is
    uniform across groups. Per-group keep rate

        r_g = min(1, target_n · q_g / c_g)

    applied as the deterministic hash-slot filter, so the draw is
    stable across runs, partitionings, and appends (the
    deterministic_sample contract) and the result is always a subset.

    Scale shape: one map-side-combined count per group (G rows), the
    G-row rate table broadcast back into a filter — the corpus is
    never shuffled. Rates are computed in-plan and rounded to the
    slot resolution (round(r·1e6), the selection-key rounding recipe)
    so the SQL twin's pow/sum last-ulp differences cannot move the
    threshold."""
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha!r}")
    if target_n < 0:
        raise ValueError(f"target_n must be >= 0, got {target_n!r}")
    key = F.col(key) if isinstance(key, str) else key
    counts = df.groupBy(group_col).agg(F.count("*").alias("_c"))
    counts = counts.withColumn(
        "_pw", F.pow(F.col("_c").cast("double"), F.lit(float(alpha)))
    )
    tot = counts.agg(F.sum("_pw").alias("_tot"))
    rates = counts.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(target_n))
                * F.col("_pw")
                / F.col("_tot")
                / F.col("_c").cast("double"),
            )
            * F.lit(_SLOTS),
            0,
        )
        .cast("bigint")
        .alias("_thr"),
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(_slot(key, salt) < F.col("_thr"))
        .drop("_thr")
    )


def duckdb_temperature_mix(
    table: str,
    group_sql: str,
    alpha: float,
    target_n: int,
    key_sql: str,
    salt: str = "tmix",
) -> str:
    """Oracle twin: identical rate formula, identical slot rounding.
    `group_sql` is an expression over `{table}`'s columns (e.g. a
    column name); `key_sql` likewise, evaluated on the outer row."""
    a = float(alpha)
    return f"""
        SELECT t.* FROM {table} t
        JOIN (
            WITH counts AS (
                SELECT {group_sql} AS _g, count(*)::double AS _c
                FROM {table} GROUP BY 1
            ),
            tot AS (SELECT sum(pow(_c, {a!r})) AS _tot FROM counts)
            SELECT _g,
                   CAST(round(least(1.0,
                       {float(target_n)!r} * pow(_c, {a!r}) / tot._tot / _c
                   ) * {_SLOTS}, 0) AS BIGINT) AS _thr
            FROM counts, tot
        ) r ON t.{group_sql} = r._g
        WHERE {duckdb_slot("t." + key_sql, salt)} < r._thr
    """


def length_bucket_batches(
    df: DataFrame,
    batch_size: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    bucket_width: int = 64,
    n_shards: int = 16,
    salt: str = "lbatch",
) -> DataFrame:
    """Length-grouped batch assignment — the dynamic-batching trick
    that minimizes padding waste: rows are grouped into
    `bucket_width`-sized length buckets, and batches are formed WITHIN
    a (bucket, shard), so every batch's lengths differ by less than
    bucket_width (padding waste per row < bucket_width tokens,
    regardless of corpus length distribution).

    → input id/token cols + (length_bucket, shard, batch_id,
    batch_max_tokens, pad_waste) where pad_waste = batch max − row
    tokens (what padding to the batch max costs this row).

    Scale shape: a true global sort-by-length would serialize on one
    partition (and its rank is partitioning-dependent) — instead the
    bucket is pure column math and the batch assignment is a window
    over (bucket, shard) with a deterministic hash order, the
    pack_sequences layout: ONE shuffle, shards bound task size, and
    the result is partitioning-independent."""
    from pyspark.sql.window import Window

    tok = F.col(token_col)
    bucket = F.floor(tok / F.lit(int(bucket_width))).cast("int")
    shard = (_slot(F.col(id_col), salt) % F.lit(n_shards)).cast("int")
    w = Window.partitionBy("length_bucket", "shard").orderBy(
        F.col("_ok"), F.col(id_col)
    )
    staged = df.select(
        id_col,
        token_col,
        bucket.alias("length_bucket"),
        shard.alias("shard"),
        hash64(F.concat(F.lit(salt + "#:"), F.col(id_col).cast("string"))).alias(
            "_ok"
        ),
    )
    assigned = staged.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / F.lit(int(batch_size))).cast(
            "bigint"
        ),
    ).drop("_ok")
    wb = Window.partitionBy("length_bucket", "shard", "batch_id")
    return assigned.withColumn(
        "batch_max_tokens", F.max(token_col).over(wb)
    ).withColumn(
        "pad_waste", (F.col("batch_max_tokens") - F.col(token_col)).cast("bigint")
    )


def duckdb_length_bucket_batches(
    table: str,
    batch_size: int,
    token_sql: str = "n_tokens",
    token_alias: str = "n_tokens",
    id_col: str = "doc_id",
    bucket_width: int = 64,
    n_shards: int = 16,
    salt: str = "lbatch",
) -> str:
    """Oracle twin: identical bucket math, hash order, batch cut and
    per-batch max. `token_alias` must equal the Spark side's token
    column name."""
    slot = duckdb_slot(id_col, salt)
    okey = duckdb_hash64(f"'{salt}#:' || ({id_col})::varchar")
    return f"""
        WITH staged AS (
            SELECT {id_col}, {token_sql} AS __tok,
                   floor(({token_sql}) / {int(bucket_width)})::int
                       AS length_bucket,
                   ({slot} % {int(n_shards)})::int AS shard,
                   {okey} AS ok
            FROM {table}
        ),
        assigned AS (
            SELECT {id_col}, __tok, length_bucket, shard,
                   ((row_number() OVER (
                        PARTITION BY length_bucket, shard
                        ORDER BY ok, {id_col}) - 1)
                    // {int(batch_size)})::bigint AS batch_id
            FROM staged
        )
        SELECT {id_col}, __tok AS {token_alias},
               length_bucket, shard, batch_id,
               max(__tok) OVER (
                   PARTITION BY length_bucket, shard, batch_id)
                   AS batch_max_tokens,
               (max(__tok) OVER (
                   PARTITION BY length_bucket, shard, batch_id) - __tok)::bigint
                   AS pad_waste
        FROM assigned
    """


# ---------------------------------------------------------------------------
# Token-budget selection (greedy prefix under a budget)
# ---------------------------------------------------------------------------

def budget_select(
    docs: DataFrame,
    budget: int,
    order_col: str = "priority",
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
    shard_granularity: float = 4096.0,
    intermediates: list | None = None,
) -> DataFrame:
    """Dataset assembly's "take the best docs until the token budget":
    the maximal PREFIX of the (order_col DESC, id_col ASC) ordering
    whose cumulative weight stays ≤ `budget`. Weights must be ≥ 0, so
    the cumulative sum is monotone and the prefix rule is exact.

    → input columns + `cum_weight` (cumulative weight through this
    row, selection order).

    Scale shape — the global cumulative sum is the same DISTRIBUTED
    two-pass prefix sum as `concat_chunk`, but sharded on the SORT KEY
    (deterministic fixed-width buckets of order_col, processed high →
    low) instead of the id range:
      1. intra-shard cumsum: window partitioned by the bucket,
      2. shard bases: one tiny groupBy accumulated driver-side in
         descending-bucket order and broadcast back,
      3. one filter `base + cum <= budget`.
    Never a single-partition window; shard_granularity spreads a
    narrow score range over more buckets — and score ranges ARE
    narrow in practice (a mean-of-±weights logit concentrates near 0
    by CLT; granularity 64 collapsed 50k rows into ~6 shards and the
    10× scale check ran 4.7× slower until the default was raised —
    the bases list stays tiny either way, one row per OCCUPIED
    bucket)."""
    from pyspark.sql.window import Window

    shard = F.floor(F.col(order_col) * F.lit(shard_granularity)).cast("bigint")
    # persisted: feeds the shard-total pass AND the main pass (the
    # collect below materializes it); `intermediates` receives it for
    # caller unpersist in long-lived drivers (curate_corpus convention)
    staged = docs.withColumn("__shard", shard).persist()
    if intermediates is not None:
        intermediates.append(staged)
    subs = (
        staged.groupBy("__shard")
        .agg(F.sum(F.col(weight_col).cast("bigint")).alias("__tot"))
        .orderBy(F.col("__shard").desc())
        .collect()
    )
    bases, acc = [], 0
    for r in subs:
        bases.append((r["__shard"], acc))
        acc += r["__tot"]
    base_df = local_frame(
        docs.sparkSession, bases or [(0, 0)], "__shard bigint, __base bigint"
    )
    w = (
        Window.partitionBy("__shard")
        .orderBy(F.col(order_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        staged.withColumn(
            "__cum", F.sum(F.col(weight_col).cast("bigint")).over(w)
        )
        .join(F.broadcast(base_df), "__shard")
        .withColumn("cum_weight", F.col("__base") + F.col("__cum"))
        .filter(F.col("cum_weight") <= budget)
        .drop("__shard", "__cum", "__base")
    )
    return out


def duckdb_budget_select(
    inner_sql: str,
    budget: int,
    order_col: str = "priority",
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> str:
    """Oracle twin: ONE global window (the oracle doesn't need the
    two-pass form), identical prefix rule."""
    return f"""
        SELECT *
        FROM (
            SELECT i.*,
                   sum({weight_col}) OVER (
                       ORDER BY {order_col} DESC, {id_col} ASC
                       ROWS UNBOUNDED PRECEDING
                   )::bigint AS cum_weight
            FROM ({inner_sql}) i
        )
        WHERE cum_weight <= {budget}
    """


def group_budget_select(
    docs: DataFrame,
    budget: int | dict,
    group_col: str = "source",
    order_col: str = "priority",
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain budget_select: within each group, the maximal
    (order_col DESC, id_col ASC) prefix whose cumulative weight stays
    ≤ the group's budget — how a mixture spec ("≤ N tokens per
    domain") is enforced during assembly. `budget` is a scalar or a
    {group: budget} dict (missing groups get 0 — explicit is safer
    than unlimited).

    ONE shuffle (window on the group key) — the per-group prefix sum
    needs no two-pass trick because groups, unlike a global order,
    already partition."""
    from pyspark.sql.window import Window

    if isinstance(budget, dict):
        mapping = F.create_map(
            *[F.lit(x) for kv in budget.items() for x in kv]
        )
        limit = F.coalesce(
            mapping[F.col(group_col)], F.lit(0).cast("bigint")
        )
    else:
        limit = F.lit(int(budget))
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(order_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn(
            "cum_weight", F.sum(F.col(weight_col).cast("bigint")).over(w)
        )
        .filter(F.col("cum_weight") <= limit)
    )


def duckdb_group_budget_select(
    inner_sql: str,
    budget: int | dict,
    group_col: str = "source",
    order_col: str = "priority",
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> str:
    """Oracle twin of group_budget_select."""
    if isinstance(budget, dict):
        cases = " ".join(
            f"WHEN '{g}' THEN {b}" for g, b in budget.items()
        )
        limit = f"(CASE {group_col} {cases} ELSE 0 END)"
    else:
        limit = str(int(budget))
    return f"""
        SELECT *
        FROM (
            SELECT i.*,
                   sum({weight_col}) OVER (
                       PARTITION BY {group_col}
                       ORDER BY {order_col} DESC, {id_col} ASC
                       ROWS UNBOUNDED PRECEDING
                   )::bigint AS cum_weight
            FROM ({inner_sql}) i
        )
        WHERE cum_weight <= {limit}
    """
