"""Index lifecycle: build / list / remove / prune / append / search.

The reference's "index" is a directory of five sidecar files — JSONL
passages + offset map, flat-f32 embeddings, ids.txt, ANN graph, JSON
meta (/root/reference/src/index/builder.rs:100-114, locate.rs:11-36,
meta.rs:8-43). Here an index is a warehouse prefix of Parquet tables
plus the same JSON meta:

    <warehouse>/<name>/passages/      (idx, doc_id, source, chunk_*, text)
    <warehouse>/<name>/embeddings/    (idx, embedding ARRAY<DOUBLE>)
    <warehouse>/<name>/bm25_{postings,docstats}/   (optional)
    <warehouse>/<name>/meta.json
  and the optional artifacts, each behind one guard (`_artifact`):
    ivf/cluster_id=*/ (idx, embedding[, code]), ivf_centroids/
      [, pq_codebook/]                           build_ivf_index
    token_index/[cid=*/] (id, token, vec)        build_token_index
    minhash_sigs/ (id, sig ARRAY<BIGINT>)        build_minhash_index

Compaction (`_compact`) and IVF refresh replace a table by writing a
sibling directory and swapping it in with two renames, `live →
live__old` then `tmp → live`; `_recover_swap` heals a crash between
them (restores a lone `__old`, drops one beside a live table). Writers
heal the tables they touch on entry — an append into a missing `live`
would start a table holding only its batch. Readers never heal: one
that restored `__old` mid-compaction would fail its second rename.

The offset map, ids.txt, and graph artifact all disappear: Parquet
predicate pushdown replaces the point-seek, the dense `idx` column
replaces ids.txt, and exact top-k (operators/search.py) or IVF
(operators/ann.py) replaces the graph. BM25 postings are persisted at
build time — fixing the reference's rebuild-per-query inefficiency
(src/index/searcher.rs:149-151).

Scale notes: every write is a plain partitioned Parquet write (no
driver-side state); append (src/cli/update.rs:58-242 analog) offsets new
ids from meta.passage_count exactly like update.rs:174-181 but with a
distributed dense-id assignment; prune (src/cli/prune.rs:17-79) drops
the embeddings table and search transparently falls back to recompute
(re-embedding passages at query time, src/index/recompute.rs:52-123) —
cheap here because the deterministic hash embedder is a native column
expression.

meta.json I/O uses local file APIs — swap for the object-store client
of your deployment; it's a few hundred bytes per index.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import asdict, dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from leann_rs_spark.operators.bm25 import build_bm25_index, score_query
from leann_rs_spark.operators.chunker import chunk_documents
from leann_rs_spark.operators.embedder import embed_documents
from leann_rs_spark.operators.filter_dsl import compile_spark, parse as parse_filter
from leann_rs_spark.operators.hybrid import hybrid_rerank, use_hybrid
from leann_rs_spark.operators.search import exact_search
from leann_rs_spark.sources.warehouse import _recover_swap, _swap_in
from leann_rs_spark.utils import local_frame, with_dense_index_counted

META_VERSION = "1.0"  # mirrors IndexMeta.version (meta.rs:10-12)


@dataclass
class IndexMeta:
    """Catalog entry — field parity with /root/reference/src/index/meta.rs:8-43."""

    version: str = META_VERSION
    backend: str = "exact"  # reference: hnsw|diskann; ours: exact|ivf
    embedding_mode: str = "hash"  # reference: openai|ollama|... (meta.rs:17)
    embedding_model: str = "hash-v2"  # v2 = exact-integer weight sums (embedder.py)
    dimensions: int = 64
    passage_count: int = 0
    is_pruned: bool = False
    chunk_size: int = 256
    chunk_overlap: int = 128
    doc_prompt_template: str | None = None
    query_prompt_template: str | None = None
    extra: dict = field(default_factory=dict)


def _index_dir(warehouse: str, name: str) -> str:
    return os.path.join(warehouse, name)


def _meta_path(warehouse: str, name: str) -> str:
    return os.path.join(warehouse, name, "meta.json")


# Embedding model version the running code produces per mode. Stored
# indexes carry the version they were built with; mixing versions makes
# stored vectors inconsistent with query/append vectors (hash-v1 summed
# float weights, hash-v2 sums exact integers — last-ulp differences).
CURRENT_EMBEDDING_MODELS = {"hash": "hash-v2"}


def check_embedding_model(meta: IndexMeta, *, strict: bool) -> None:
    """Refuse (strict, the append path — appended rows would be
    permanently inconsistent with stored ones) or warn (search — scores
    off only in the last ulp) when a loaded index was built by a
    different embedding-model version than this code produces."""
    current = CURRENT_EMBEDDING_MODELS.get(meta.embedding_mode)
    if current is None or meta.embedding_model == current:
        return
    msg = (
        f"index built with embedding_model={meta.embedding_model!r} but "
        f"this code produces {current!r}; rebuild or recompute the index"
    )
    if strict:
        raise ValueError(msg)
    import warnings

    warnings.warn(msg, stacklevel=3)


def load_meta(warehouse: str, name: str) -> IndexMeta:
    with open(_meta_path(warehouse, name)) as f:
        return IndexMeta(**json.load(f))


def save_meta(warehouse: str, name: str, meta: IndexMeta) -> None:
    os.makedirs(_index_dir(warehouse, name), exist_ok=True)
    with open(_meta_path(warehouse, name), "w") as f:
        json.dump(asdict(meta), f, indent=2)


@dataclass
class _IndexVersion:
    """Values derived once per index version: table schemas, the BM25
    corpus stats (n_docs, Σ doc_len), the PQ codebook and the IVF
    centroids (ids, float64 matrix). Values only — never a DataFrame or
    a file listing: a compaction swaps files without a meta save (the
    values stay valid, a listing would not), so listings are taken per
    read."""

    stamp: tuple[int, int]  # meta.json (mtime_ns, size)
    schemas: dict[str, StructType] = field(default_factory=dict)
    bm25_stats: tuple[int, int] | None = None
    pq_codebook: list | None = None
    centroids: tuple | None = None


# index base path -> its current version; a new meta.json stamp (build,
# append, IVF build/refresh, prune) starts a fresh one
_VERSIONS: dict[str, _IndexVersion] = {}


def _version(base: str) -> _IndexVersion:
    st = os.stat(os.path.join(base, "meta.json"))
    stamp = (st.st_mtime_ns, st.st_size)
    v = _VERSIONS.get(base)
    if v is None or v.stamp != stamp:
        v = _VERSIONS[base] = _IndexVersion(stamp)
    return v


def _read(
    spark: SparkSession,
    base: str,
    table: str,
    partitions: tuple[str, list] | None = None,
) -> DataFrame:
    """Read one table of the index at `base` with no Spark job of its
    own. A schema-less `spark.read.parquet` runs a one-task schema
    inference job per call; here the schema is inferred once per index
    version and passed in. `partitions=(col, values)` reads only the
    existing `<col>=<value>` directories (with basePath, so `col` is
    kept): past 32 directories Spark lists a table with a parallel job,
    even when a filter then prunes it to a few. No existing directory →
    an empty frame with the table's schema."""
    path = f"{base}/{table}"
    schemas = _version(base).schemas
    if table not in schemas:
        schemas[table] = spark.read.parquet(path).schema
    schema = schemas[table]
    reader = spark.read.schema(schema)
    if partitions is None:
        return reader.parquet(path)
    col, values = partitions
    dirs = [f"{path}/{col}={v}" for v in values]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return _empty(spark, schema)
    return reader.option("basePath", path).parquet(*dirs)


def _empty(spark: SparkSession, schema: StructType) -> DataFrame:
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema]
    )


def _bm25_stats(spark: SparkSession, base: str) -> tuple[int, int]:
    """(n_docs, Σ doc_len) of the index's `bm25_docstats`: one aggregate
    job per index version, where scoring each request against the table
    ran it (with its shuffle and broadcast) per request."""
    v = _version(base)
    if v.bm25_stats is None:
        r = _read(spark, base, "bm25_docstats").agg(
            F.count("*"), F.sum("doc_len")
        ).head()
        v.bm25_stats = (int(r[0]), int(r[1] or 0))
    return v.bm25_stats


def _pq_codebook(spark: SparkSession, base: str) -> list:
    """The index's PQ codebook, collected once per index version."""
    from leann_rs_spark.operators.pq import codebook_from_rows

    v = _version(base)
    if v.pq_codebook is None:
        v.pq_codebook = codebook_from_rows(
            _read(spark, base, "pq_codebook").collect()
        )
    return v.pq_codebook


def _ivf_centroids(spark: SparkSession, base: str) -> tuple:
    """The index's IVF centroids as `ann.centroid_arrays`, collected
    once per index version: ranking them per request was one Spark job
    per ivf / ivfpq request."""
    from leann_rs_spark.operators.ann import centroid_arrays

    v = _version(base)
    if v.centroids is None:
        v.centroids = centroid_arrays(_read(spark, base, "ivf_centroids"))
    return v.centroids


def _write_passages(chunks: DataFrame, path: str, mode: str, start: int) -> int:
    """Number the chunks densely from `start` in (doc_id, chunk_index)
    order, write them and return how many there were (the dense-id
    step's own counts, so no count job); the dense-id persists are
    released once the write has consumed them."""
    held: list = []
    try:
        passages, n = with_dense_index_counted(
            chunks, ["doc_id", "chunk_index"], "idx", start=start,
            intermediates=held,
        )
        _write_table(passages, n, path, mode)
    finally:
        for df in held:
            df.unpersist()
    return n


def _embed_passages(
    passages: DataFrame, dims: int, template: str | None, provider=None
) -> DataFrame:
    """(idx, embedding) of the passages: through the provider's hardened
    `embed_pandas` slot when one is given, else the native
    hash-expression embedder."""
    if provider is not None:
        from leann_rs_spark.operators.embedder import embed_pandas

        emb = embed_pandas(
            passages.select("idx", "text"), provider, prompt_template=template
        )
    else:
        emb = embed_documents(
            passages.select("idx", "text"),
            dims=dims,
            prompt_template=template,
            id_col="idx",
        )
    return emb.select("idx", "embedding")


def _query_vector(
    meta: IndexMeta,
    query: str,
    provider=None,
    hint: str = "pass query_provider= (the same provider used at build time)",
) -> list[float]:
    """The query embedded as the index's passages were: the query
    template prefixed (the reference's embed_with_template is
    format!("{}{}", template, text), src/embedding/mod.rs:126-143), then
    the build-time provider or the hash embedder. A provider-built
    index searched without its provider raises, `hint` saying what to
    do: the reference reconstructs the provider FROM meta
    (search.rs:100-117), and a hash query vector scores garbage."""
    from leann_rs_spark.operators.embedder import py_hash_embedding

    check_embedding_model(meta, strict=False)
    if meta.embedding_mode != "hash" and provider is None:
        raise ValueError(
            f"index built with embedding_mode={meta.embedding_mode!r}; {hint}"
        )
    qtext = (meta.query_prompt_template or "") + query
    if provider is not None:
        return [float(x) for x in provider.embed([qtext])[0]]
    return py_hash_embedding(qtext, meta.dimensions)


# artifact kind -> its tables; its meta section is
# meta.extra[f"{kind}_index"], except the IVF layout's keys, which sit
# in meta.extra itself behind meta.backend == "ivf"
_ARTIFACT_TABLES = {
    "ivf": ("ivf", "ivf_centroids"),
    "token": ("token_index",),
    "minhash": ("minhash_sigs",),
}


def _artifact(
    warehouse: str, name: str, kind: str, *, write: bool = False
) -> tuple[str, IndexMeta, dict]:
    """(base, meta, info) of index `name`'s `kind` artifact, info being
    its meta section; ValueError if the index has none. `write=True`
    (writers only) first heals the artifact's tables from a crashed
    swap."""
    base = _index_dir(warehouse, name)
    meta = load_meta(warehouse, name)
    if kind == "ivf":
        if meta.backend != "ivf":
            raise ValueError(
                f"index {name!r} has no IVF layout (backend={meta.backend})"
            )
        info = meta.extra
    else:
        info = meta.extra.get(f"{kind}_index")
        if not info:
            raise ValueError(
                f"index {name!r} has no {kind} index — run build_{kind}_index"
            )
    if write:
        for table in _ARTIFACT_TABLES[kind]:
            _recover_swap(f"{base}/{table}")
    return base, meta, info


def _replace(path: str, op: str, write) -> None:
    """Replace the table at `path`: `write(tmp)` fills the sibling
    `<path>__<op>` (dropping a crashed run's leftover first), which is
    then swapped in."""
    tmp = f"{path}__{op}"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    write(tmp)
    _swap_in(path, tmp)


def _compact(
    spark: SparkSession, path: str, n_out: int, partition_col: str | None = None
) -> int:
    """Rewrite the healed table at `path` as `n_out` files — one per
    directory when hash-partitioned on and written partitionBy
    `partition_col` — so the files each append added are merged (the
    Delta OPTIMIZE / FAISS index-merge analog). Row set, schema and
    layout are unchanged. Returns the .parquet file count before."""
    n_files = sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )
    df = spark.read.parquet(path)
    if partition_col is None:
        write = df.repartition(n_out).write.parquet
    else:
        write = df.repartition(n_out, partition_col).write.partitionBy(
            partition_col
        ).parquet
    _replace(path, "compacting", write)
    return n_files


def _files_for(rows: int) -> int:
    """Files of an unpartitioned compaction: ~1M rows (~100 MB of token
    rows at dims 32-64, ~150 MB of 16-hash signatures) per file, near
    spark.sql.files.maxPartitionBytes, so the compacted scan still
    splits across executors (SCALE: one ~300 MB token file at 10× gave
    3 input splits and 40 s serving vs ~24 s fragmented)."""
    return max(1, -(-int(rows) // 1_000_000))


def _write_table(df: DataFrame, rows: int, path: str, mode: str) -> None:
    """Write the `rows`-row unpartitioned table `df` as at most
    `_files_for(rows)` files. Every file of a table is one more task in
    each scan of it, and a search request scans passages, embeddings
    and bm25_docstats: written as defaultParallelism files (4 files for
    ~400 rows) they made every warm request schedule 4 tasks per scan.
    `coalesce` adds no shuffle and never raises the file count; a table
    under ~1M rows is then written by one task."""
    df.coalesce(_files_for(rows)).write.mode(mode).parquet(path)


def build_index(
    spark: SparkSession,
    warehouse: str,
    name: str,
    docs: DataFrame,
    *,
    strategy: str = "auto",
    chunk_size: int = 256,
    chunk_overlap: int = 128,
    dims: int = 64,
    doc_prompt_template: str | None = None,
    query_prompt_template: str | None = None,
    with_bm25: bool = True,
    provider=None,
    embedding_mode: str = "hash",
    embedding_model: str | None = None,
) -> IndexMeta:
    """The `leann build` write path (src/cli/build.rs:126-392) as one
    linear DataFrame job: chunk → dense ids → embed → Parquet tables.
    The reference's keep-all-vectors-in-driver-RAM ceiling
    (src/index/builder.rs:230-232) does not exist here.

    `provider` routes embedding through the hardened `embed_pandas`
    slot (any `.embed(list[str]) -> list[list[float]]` object —
    providers.py network clients or a local model); `dims` is then
    auto-probed from the provider (T8) and meta records the
    mode/model so search/append refuse mismatched providers. Default
    is the native hash-expression embedder.

    `embedding_model` additionally resolves the MODEL REGISTRY
    (models.py ← /root/reference/src/embedding/models.rs:33-125):
    when the caller did not pass explicit templates, the model's
    document/query prefixes are applied automatically (asymmetric
    models like E5/BGE/nomic/mxbai silently lose recall without
    them) and the resolved config is recorded in
    meta.extra["model_config"]. Explicit template args always win.
    `dims` stays caller/probe-controlled: the registry's dimensions
    describe the real model, which the provider probe confirms; the
    hash stand-in synthesizes whatever width it is asked for."""
    if embedding_model is not None:
        from leann_rs_spark.models import get_model_config

        cfg = get_model_config(embedding_model)
        if doc_prompt_template is None and cfg.document_prefix:
            doc_prompt_template = cfg.document_prefix
        if query_prompt_template is None and cfg.query_prefix:
            query_prompt_template = cfg.query_prefix
    base = _index_dir(warehouse, name)
    chunks = chunk_documents(
        docs, strategy=strategy, chunk_size=chunk_size, chunk_overlap=chunk_overlap
    )
    n = _write_passages(chunks, f"{base}/passages", "overwrite", 0)

    passages = spark.read.parquet(f"{base}/passages")
    if provider is not None:
        from leann_rs_spark.operators.embedder import probe_dimensions

        dims = probe_dimensions(provider)
    _write_table(
        _embed_passages(passages, dims, doc_prompt_template, provider),
        n, f"{base}/embeddings", "overwrite",
    )

    if with_bm25:
        _write_bm25(passages, base, "overwrite", n)

    meta = IndexMeta(
        dimensions=dims,
        passage_count=n,
        chunk_size=chunk_size,
        chunk_overlap=chunk_overlap,
        doc_prompt_template=doc_prompt_template,
        query_prompt_template=query_prompt_template,
        extra={"bm25": with_bm25},
    )
    if embedding_model is not None:
        # resolved registry config travels with the index; the model
        # NAME lands in meta.embedding_model only on the provider path
        # (hash mode keeps its "hash-v2" version pin for
        # check_embedding_model)
        meta.extra["model_config"] = {"model": embedding_model, **asdict(cfg)}
    if provider is not None:
        meta.embedding_mode = embedding_mode if embedding_mode != "hash" else "custom"
        meta.embedding_model = embedding_model or type(provider).__name__
    save_meta(warehouse, name, meta)
    return meta


TERM_BUCKETS = 64


def term_bucket(term: Column | str) -> Column:
    """Stable term → partition bucket (md5-derived, engine-independent).
    At 100 TB the postings table is partitioned on this: a query's
    `term_bucket IN (...)` predicate becomes PARTITION pruning — the
    scan skips whole directories, not just row groups."""
    from leann_rs_spark.functions.text import hash64

    term = F.col(term) if isinstance(term, str) else term
    return (hash64(term) % TERM_BUCKETS).cast("int")


def py_term_bucket(term: str) -> int:
    """Driver-side twin of `term_bucket` (same md5-derived hash)."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % TERM_BUCKETS


def _write_bm25(
    passages: DataFrame, base: str, mode: str, rows: int | None = None
) -> None:
    """Write the BM25 postings (partitioned by term_bucket) and docstats
    (one row per passage) of `passages` under `base`; given the passage
    count `rows`, docstats is written as `_write_table` files."""
    # cache=False: each table is consumed exactly once by its write —
    # persisting here would only pin executor memory for no reuse
    postings, docstats, termstats = build_bm25_index(
        passages, id_col="idx", text_col="text", cache=False
    )
    # Shuffle on the partition column BEFORE the partitioned write:
    # without it every writer task opens a file in every bucket
    # directory (tasks × TERM_BUCKETS small files + a dynamic-partition
    # writer per task — measured 10.5s → 5s at sf0.1); with it each of
    # the TERM_BUCKETS tasks writes exactly its one directory. At
    # 100 TB this is also the difference between 64 × tasks small files
    # and 64 well-sized ones per write.
    bucketed = postings.withColumn("term_bucket", term_bucket("term"))
    bucketed.repartition(TERM_BUCKETS, "term_bucket").write.mode(
        mode
    ).partitionBy("term_bucket").parquet(f"{base}/bm25_postings")
    if rows is None:
        docstats.write.mode(mode).parquet(f"{base}/bm25_docstats")
    else:
        _write_table(docstats, rows, f"{base}/bm25_docstats", mode)
    # termstats (df counts) are NOT incrementally mergeable by append —
    # always rebuilt from postings on read (vocabulary-sized aggregate).


def append_to_index(
    spark: SparkSession,
    warehouse: str,
    name: str,
    new_docs: DataFrame,
    provider=None,
    ivf_append: str = "incremental",
) -> IndexMeta:
    """T10/S12: `leann update` — re-chunk, re-embed, ids offset from
    meta.passage_count (src/cli/update.rs:174-181). The reference's
    DiskANN refuses appends (src/backend/mod.rs:81-100); exact search
    has no index artifact to invalidate, so append is always legal.
    Provider-built indexes must append with the same provider.

    `ivf_append` (indexes with an IVF layout): "incremental" (default)
    assigns only the new batch to the frozen centroids/codebook and
    appends into the partitioned layout — O(batch); "rebuild"
    re-derives the whole layout (re-learning a kmeans codebook) —
    O(corpus)."""
    if ivf_append not in ("incremental", "rebuild"):
        # validate BEFORE any write — failing in the ivf block at the
        # end would leave passages/embeddings appended with a stale
        # ANN layout
        raise ValueError(
            f"unknown ivf_append mode {ivf_append!r} "
            "(expected 'incremental' or 'rebuild')"
        )
    meta = load_meta(warehouse, name)
    if meta.embedding_mode != "hash" and provider is None and not meta.is_pruned:
        raise ValueError(
            f"index built with embedding_mode={meta.embedding_mode!r}; "
            "pass provider= (the same provider used at build time)"
        )
    check_embedding_model(meta, strict=True)
    base = _index_dir(warehouse, name)
    if meta.backend == "ivf" and not meta.is_pruned:
        _artifact(warehouse, name, "ivf", write=True)  # heal, before any write
    # Orphan detection: a prior append that crashed after writing
    # passages but before save_meta leaves rows with idx >=
    # meta.passage_count. This batch's dense ids would COLLIDE with
    # them, and the read-back-by-range below would sweep them in and
    # double-embed. Probe as a pushed-down existence check, not an
    # aggregate: parquet row-group min/max stats skip every healthy
    # file (their idx max < passage_count) and limit(1) short-circuits
    # — near-free at any index size, vs the full idx-column max this
    # replaced (measured +2.5 s on the sf0.1 append gate).
    orphan = (
        spark.read.parquet(f"{base}/passages")
        .filter(F.col("idx") >= meta.passage_count)
        .select("idx")
        .limit(1)
        .collect()
    )
    if orphan:
        raise ValueError(
            f"index {name!r} has orphaned passages (found idx "
            f"{orphan[0]['idx']} >= meta.passage_count "
            f"{meta.passage_count}) — a prior append crashed mid-write; "
            "rebuild the index or delete rows with idx >= "
            f"{meta.passage_count} before appending"
        )
    chunks = chunk_documents(
        new_docs,
        strategy="auto",
        chunk_size=meta.chunk_size,
        chunk_overlap=meta.chunk_overlap,
    )
    added = _write_passages(
        chunks, f"{base}/passages", "append", meta.passage_count
    )
    # read back ONLY the appended rows (idx >= old passage_count — a
    # min/max row-group prune on the scan): the embed and BM25 stages
    # below would otherwise re-run the Python chunker + dense-id sort,
    # the same write-then-read-back pattern build_index uses
    passages = spark.read.parquet(f"{base}/passages").filter(
        F.col("idx") >= meta.passage_count
    )

    if not meta.is_pruned:
        _write_table(
            _embed_passages(
                passages, meta.dimensions, meta.doc_prompt_template, provider
            ),
            added, f"{base}/embeddings", "append",
        )

    if meta.extra.get("bm25"):
        _write_bm25(passages, base, "append", added)

    old_count = meta.passage_count
    # meta is saved LAST: until then readers see the old passage_count
    # (and its IVF layout), and a crash before the save leaves orphans
    # that the next append refuses
    if meta.backend == "ivf" and not meta.is_pruned:
        # keep the ANN artifact coherent with the appended rows — the
        # IVF layout is a derived table (the reference has the same
        # obligation, src/backend/hnsw.rs:142-191 add path; DiskANN
        # simply refuses updates, src/backend/mod.rs:81-100)
        pq_m = meta.extra.get("pq_m")
        if ivf_append == "incremental":
            # frozen-codebook fast path (FAISS add_with_ids semantics):
            # assign ONLY the appended rows to the EXISTING centroids
            # and append into the partitioned layout — cost ∝ batch
            # size, not corpus size, which is the only append that
            # works on a 100 TB index. Centroids and PQ codebook are
            # frozen at build time; for policy="take" this is exactly
            # the rebuild result (first-n rows are append-invariant),
            # for "kmeans" the codebook simply does not drift with the
            # batch — pass ivf_append="rebuild" to re-learn it.
            _write_ivf(
                spark.read.parquet(f"{base}/embeddings").filter(
                    F.col("idx") >= old_count
                ),
                spark.read.parquet(f"{base}/ivf_centroids"),
                None if pq_m is None else _pq_codebook(spark, base),
                meta, base, "append",
            )
        else:
            meta = build_ivf_index(
                spark, warehouse, name,
                n_centroids=int(meta.extra.get("ivf_centroids", 16)),
                # legacy metas (pre-policy) were built with
                # take_centroids; defaulting them to kmeans would
                # silently swap the codebook (and newly require MLlib)
                # on the first append
                centroids=meta.extra.get("ivf_policy", "take"),
                seed=int(meta.extra.get("ivf_seed", 42)),
                # a pq-enabled index re-derives its codes too (same m/k)
                pq_m=int(pq_m) if pq_m is not None else None,
                pq_k=int(meta.extra.get("pq_k", 16)),
            )
            # the rebuilt layout already covers the batch
            meta.extra["ivf_built_count"] = old_count + added
    meta.passage_count = old_count + added
    save_meta(warehouse, name, meta)
    return meta


def list_indexes(spark: SparkSession, warehouse: str) -> DataFrame:
    """S6: catalog scan (src/cli/list.rs:16-111) — one row per index."""
    rows = []
    if os.path.isdir(warehouse):
        for name in sorted(os.listdir(warehouse)):
            mp = _meta_path(warehouse, name)
            if os.path.isfile(mp):
                m = load_meta(warehouse, name)
                rows.append(
                    (
                        name,
                        m.backend,
                        m.embedding_mode,
                        m.dimensions,
                        m.passage_count,
                        m.is_pruned,
                    )
                )
    return local_frame(
        spark,
        rows,
        StructType.fromDDL(
            "name string, backend string, embedding_mode string, "
            "dimensions int, passage_count bigint, is_pruned boolean"
        ),
    )


def remove_index(warehouse: str, name: str) -> None:
    """S13: `leann remove` (src/cli/remove.rs:17-108)."""
    shutil.rmtree(_index_dir(warehouse, name))


def is_faiss_index(index_path: str) -> bool:
    """S15 interop diagnostic (src/backend/compat.rs:15-38): sniff the
    sibling `.index` file's magic bytes to recognize a Python-LEANN
    FAISS index ("Ix.." IndexFlat/IndexHNSW, "CSR\\0" compact HNSW,
    "HNSW") so callers can emit a rebuild hint instead of a parse
    error. Pure local-file check; no Spark involvement."""
    index_file = os.path.splitext(index_path)[0] + ".index"
    if not os.path.isfile(index_file):
        return False
    try:
        with open(index_file, "rb") as f:
            header = f.read(4)
    except OSError:
        return False
    if len(header) < 4:
        return False
    if header[:2] == b"Ix":
        return True
    return header in (b"CSR\x00", b"HNSW")


def prune_index(warehouse: str, name: str) -> IndexMeta:
    """S14: drop the embeddings table, flag meta (src/cli/prune.rs:17-79,
    src/index/embeddings.rs:162-168). Search falls back to recompute."""
    meta = load_meta(warehouse, name)
    base = _index_dir(warehouse, name)
    meta.is_pruned = True
    # the IVF layout embeds its own vector copies; dropping the source
    # embeddings means it can no longer be rebuilt (or appended to), so
    # drop it too and fall back to the exact/recompute read path. PQ
    # codes live inside the layout — a surviving pq_m in meta would pass
    # search_ivf_index's use_pq guard and die on the missing path
    # later — so the codebook goes too
    if os.path.isdir(f"{base}/ivf"):
        meta.backend = "exact"
    for table in ("embeddings", "ivf", "ivf_centroids", "pq_codebook"):
        if os.path.isdir(f"{base}/{table}"):
            shutil.rmtree(f"{base}/{table}")
    meta.extra.pop("pq_m", None)
    meta.extra.pop("pq_k", None)
    save_meta(warehouse, name, meta)
    return meta


_POSTINGS_SCHEMA = StructType([
    StructField("idx", LongType()),
    StructField("term", StringType()),
    StructField("tf", LongType()),
    StructField("term_bucket", IntegerType()),
])


def _read_postings(spark: SparkSession, base: str, query: str) -> DataFrame:
    """The BM25 postings of the query's terms. All rows of a term share
    one term_bucket, so reading only the query terms' bucket directories
    reads ≤ |query terms| of the 64 partitions, and every read term's
    rows are complete: df counts stay exact."""
    from leann_rs_spark.operators.bm25 import tokenize_py

    if not any(
        d.startswith("term_bucket=") for d in os.listdir(f"{base}/bm25_postings")
    ):
        # a corpus without a single token wrote no postings file to
        # infer the schema from
        return _empty(spark, _POSTINGS_SCHEMA)
    buckets = sorted({py_term_bucket(t) for t in tokenize_py(query)})
    return _read(spark, base, "bm25_postings", ("term_bucket", buckets))


def _bm25(
    spark: SparkSession, base: str, query: str, n: int,
    keep: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, int | DataFrame]:
    """BM25 of `query` over the persisted postings → (scored, its top n
    with score > 0, n_docs). `keep` (idx) restricts the corpus to those
    docs: df, N and avg_doc_len are then theirs, computed per request,
    and n_docs is their docstats frame. The top-n cut ranks the
    6dp-rounded score (BM25 term sums are order-sensitive in the last
    ulp across engines; the rounded rank is the one the DuckDB twins
    use). `scored` is not persisted: its consumers (candidate join,
    min/max stats, top-n cut) sit in one plan that reuses the scoring
    exchange, and a per-request persist would pin a cached frame per
    request in a long-lived server."""
    postings = _read_postings(spark, base, query)
    docstats = _read(spark, base, "bm25_docstats")
    if keep is not None:
        postings = postings.join(keep, "idx", "left_semi")
        docstats = docstats.join(keep, "idx", "left_semi")
        stats, n_docs = None, docstats
    else:
        stats = _bm25_stats(spark, base)
        n_docs = stats[0]
    termstats = postings.groupBy("term").agg(F.count("*").alias("df"))
    scored = score_query(
        postings, docstats, termstats, query, id_col="idx", corpus_stats=stats
    )
    top = (
        scored.filter(F.col("score") > 0.0)
        .orderBy(F.round(F.col("score"), 6).desc(), F.col("idx").asc())
        .limit(n)
    )
    return scored, top, n_docs


def _assemble(hits: DataFrame, passages: DataFrame, k: int) -> DataFrame:
    """The top k of the hits joined to their passages, (score DESC, idx
    ASC); every hit must have a passage. The sort is a top-k
    (TakeOrderedAndProject: a heap per scan task, merged by the one job
    that runs the scan); a global orderBy would plan a range-partition
    Exchange whose bound-sampling job re-runs the passages scan below
    it."""
    return (
        F.broadcast(hits)
        .join(passages, "idx")
        .select("idx", "score", "doc_id", "source", "text")
        .orderBy(F.col("score").desc(), F.col("idx").asc())
        .limit(k)
    )


def search_index(
    spark: SparkSession,
    warehouse: str,
    name: str,
    query: str,
    *,
    k: int = 5,
    filter_str: str | None = None,
    hybrid: bool | None = None,
    hybrid_alpha: float = 0.7,
    expand: bool = False,
    query_provider=None,
) -> DataFrame:
    """The `leann search` read path (src/cli/search.rs:73-257, SURVEY
    §3.1) end-to-end: meta → plan heuristics → optional query expansion
    → embed query → (pruned ? recompute : stored-embeddings) exact
    top-k → optional hybrid union + rerank → assemble text. Returns
    (idx, score, text, doc_id, source).

    `hybrid=None` applies the auto-hybrid gate: ≤3 words — decided on
    the ORIGINAL query (src/cli/search.rs:147-148), before expansion.

    `expand=True` mirrors src/cli/search.rs:173-187: for short queries
    (should_expand, ≤3 words) on a non-pruned index with persisted
    BM25, take the BM25 top-5 passages for the original query, mine
    key terms (the distributed Q14 form, operators/query_expansion.py
    — same ranking as the reference, deterministic tie-break), and
    append them; the EXPANDED query then drives both the vector
    embedding and the hybrid BM25 side, as in the reference.
    """
    meta = load_meta(warehouse, name)
    base = _index_dir(warehouse, name)
    passages = passages_all = _read(spark, base, "passages")
    if filter_str:
        passages = passages.filter(compile_spark(parse_filter(filter_str)))

    if hybrid is None:
        hybrid = use_hybrid(query, auto_hybrid=True)  # Q15 gate

    search_query = query
    if expand and not meta.is_pruned and os.path.isdir(f"{base}/bm25_postings"):
        from leann_rs_spark.operators.query_expansion import (
            expansion_terms,
            should_expand,
        )

        if should_expand(query):
            # BM25 over the persisted postings with the ORIGINAL query
            # (no metadata filter — the reference's bm25_search scans
            # all passages, search.rs:174)
            _, top5, _ = _bm25(spark, base, query, 5)
            texts = F.broadcast(top5.select("idx")).join(passages_all, "idx")
            # ≤5 mined terms collected driver-side — the reference's
            # expand_from_passages is likewise a driver-side step over
            # the 5 passage strings (query.rs:128-164). The collect
            # stays: the expanded query's vector and its term_bucket
            # directories are driver-side inputs of the search plan.
            mined = expansion_terms(texts, query, max_terms=5).collect()
            new_terms = [r["term"] for r in mined]
            if new_terms:
                search_query = f"{query} {' '.join(new_terms)}"

    qv = _query_vector(meta, search_query, query_provider)
    if meta.is_pruned:
        # Recompute plan (src/index/recompute.rs:52-123): re-embed at
        # query time — JVM-side for the native expression embedder, and
        # through the same provider for a provider-built index
        # (recompute.rs:85-93's batched provider calls)
        emb = _embed_passages(
            passages, meta.dimensions, meta.doc_prompt_template, query_provider
        )
    else:
        emb = _read(spark, base, "embeddings")
    if filter_str:
        # pushdown before scoring (src/index/recompute.rs:66-79): keep
        # only embeddings whose passage survived the filter
        emb = emb.join(passages.select("idx"), "idx", "left_semi")

    fetch_k = k * 5 if (hybrid or filter_str) else k  # searcher.rs:129-133
    vec_hits = exact_search(emb, qv, k=fetch_k, id_col="idx", metric="ip")

    if hybrid:
        # the EXPANDED query drives the BM25 side (search.rs:204, the
        # opts.with_hybrid(search_query) call); filtered, the corpus is
        # the filtered docs
        scored, bm25_top, n_docs = _bm25(
            spark, base, search_query, fetch_k,
            passages.select("idx") if filter_str else None,
        )
        combined = hybrid_rerank(
            vec_hits.withColumnRenamed("idx", "doc_id"),
            scored.withColumnRenamed("idx", "doc_id"),
            bm25_top.withColumnRenamed("idx", "doc_id"),
            n_docs,
            alpha=hybrid_alpha,
        )
        hits = combined.select(
            F.col("doc_id").alias("idx"), F.col("combined").alias("score")
        )
    else:
        hits = vec_hits
    # every hit is a row of `passages` — its own embeddings and postings
    # score it, semi-joined to it when filtered — so _assemble's top-k
    # is the one cut
    return _assemble(hits, passages, k)


# ---------------------------------------------------------------------------
# Persisted IVF index (S10/S11 physical-approximation artifact, made
# Spark-native): the ANN "graph build" becomes a partitionBy write.
# ---------------------------------------------------------------------------

def suggest_ivf_centroids(n_rows: int) -> int:
    """Codebook size for an IVF index over `n_rows` vectors:
    C ≈ 4·√N (the published FAISS guideline for IVF training), floored
    at 16. A FROZEN C is the measured failure mode at scale — per-probe
    scan cost is ~N/C of the corpus, so C must grow with N or every
    query's probed share balloons (the same C∝N lesson SURVEY §10
    measured for SemDeDup: frozen C=16 went quadratic at 10×)."""
    import math

    return max(16, int(4 * math.sqrt(max(n_rows, 1))))


def build_ivf_index(
    spark: SparkSession,
    warehouse: str,
    name: str,
    n_centroids: int | None = 16,
    centroids: str = "kmeans",
    seed: int = 42,
    pq_m: int | None = None,
    pq_k: int = 16,
) -> IndexMeta:
    """Cluster the index's embeddings and persist them PARTITIONED BY
    cluster_id — the Spark counterpart of the reference's graph-index
    build (src/backend/hnsw.rs:96-139): instead of a pointer-chasing
    artifact, the locality structure is file layout. A probe query's
    `cluster_id IN (...)` predicate becomes static partition pruning,
    so the scan reads nprobe/n_centroids of the files — at 100 TB the
    difference between scanning everything and scanning a shard list.

    `centroids`: "kmeans" (default) learns the codebook with seeded
    MLlib KMeans — on real (non-uniform) embedding distributions a
    learned codebook balances cluster sizes, which is what makes
    nprobe/C partition pruning effective (one giant cluster would make
    every probe scan half the corpus). "take" uses the deterministic
    first-n-ids sample — the oracle-gate policy (its SQL twin is
    trivially expressible) and a fallback when MLlib is unavailable.
    The policy and seed are recorded in meta and reused when append
    re-derives the layout.

    `pq_m`: when set, the IVF rows additionally carry a product-
    quantized code (operators/pq.py) PACKED into one bigint — the
    IVF-PQ layout: a probe scan reads 8 bytes/vector instead of the
    full embedding (the 100 TB scan-bytes knob), and
    `search_ivf_index(use_pq=True, refine=…)` rescores only the ADC
    shortlist against the full vectors. Sub-codebook policy follows
    `centroids` (kmeans → per-subspace seeded k-means; take →
    deterministic slices); m/k are recorded in meta and the codebook
    persists next to the coarse one.

    Layout: <base>/ivf/cluster_id=<c>/*.parquet + <base>/ivf_centroids/
    [+ <base>/pq_codebook/ when pq_m is set].
    """
    base = _index_dir(warehouse, name)
    meta = load_meta(warehouse, name)
    emb = spark.read.parquet(f"{base}/embeddings")
    if n_centroids is None:
        # size the codebook to the corpus (see suggest_ivf_centroids)
        n_centroids = suggest_ivf_centroids(meta.passage_count)
    cents = _centroids(emb, centroids, n_centroids, seed)
    cb = None
    if pq_m is not None:
        from leann_rs_spark.operators.pq import (
            codebook_to_rows,
            kmeans_subcodebooks,
            take_subcodebooks,
        )

        if centroids == "kmeans":
            cb = kmeans_subcodebooks(emb, m=pq_m, k=pq_k, seed=seed)
        else:
            cb = take_subcodebooks(emb, m=pq_m, k=pq_k, id_col="idx")
        cb_rows = codebook_to_rows(cb)
        _write_table(
            local_frame(
                spark, cb_rows,
                StructType.fromDDL("m int, cid int, cv array<double>"),
            ),
            len(cb_rows), f"{base}/pq_codebook", "overwrite",
        )
        meta.extra["pq_m"] = pq_m
        meta.extra["pq_k"] = pq_k
    else:
        meta.extra.pop("pq_m", None)
        meta.extra.pop("pq_k", None)
        # a previous pq-enabled build may have left its codebook behind
        cb_dir = f"{base}/pq_codebook"
        if os.path.isdir(cb_dir):
            shutil.rmtree(cb_dir)
    meta.extra["ivf_centroids"] = n_centroids
    _write_ivf(emb, cents, cb, meta, base, "overwrite")
    cents.write.mode("overwrite").parquet(f"{base}/ivf_centroids")
    meta.backend = "ivf"
    meta.extra["ivf_policy"] = centroids
    meta.extra["ivf_seed"] = seed
    # the layout's birth size: ivf_drift_report splits occupancy into
    # built-mass (idx < this) vs appended-mass (idx >= this)
    meta.extra["ivf_built_count"] = meta.passage_count
    save_meta(warehouse, name, meta)
    return meta


def _centroids(
    emb: DataFrame, policy: str, n_centroids: int, seed: int
) -> DataFrame:
    """The coarse IVF codebook of `emb` under `policy` ("kmeans" or
    "take", see build_ivf_index)."""
    from leann_rs_spark.operators.ann import kmeans_centroids, take_centroids

    if policy == "kmeans":
        return kmeans_centroids(emb, n_centroids, id_col="idx", seed=seed)
    if policy == "take":
        return take_centroids(emb, n_centroids, id_col="idx")
    raise ValueError(f"unknown centroid policy {policy!r}")


def _write_ivf(
    emb: DataFrame, cents: DataFrame, cb: list | None, meta: IndexMeta,
    base: str, mode: str,
) -> None:
    """Write `emb`'s rows into the IVF layout: each row's nearest
    centroid as cluster_id and, given the PQ codebook `cb`, its packed
    code (meta's pq_m / pq_k). The one encoder of build and
    incremental append, so both lay rows out identically."""
    from leann_rs_spark.operators.ann import ivf_assign

    rows = ivf_assign(emb, cents, id_col="idx")
    if cb is not None:
        from leann_rs_spark.operators.pq import pq_bits, pq_encode_col, pq_pack_col

        # expression encode, deliberately: the numpy-kernel form
        # (pq_encode(kernel=True), bit-identical) measured 2.5x SLOWER
        # here — Arrow transfer of the vector column dominates while
        # the interpreted HOF runs at ~10 µs/row across cores. Measured
        # at 5k and 20k rows, both directions (SURVEY round-4 log).
        bits = pq_bits(int(meta.extra.get("pq_k", 16)))
        rows = rows.withColumn(
            "code",
            pq_pack_col(
                pq_encode_col(F.col("embedding"), cb),
                int(meta.extra["pq_m"]),
                bits,
            ),
        )
    # shuffle on the partition column before the partitioned write
    # (same shape as the postings write): one task per cluster
    # directory instead of every task writing a file into every one
    rows.repartition(
        int(meta.extra.get("ivf_centroids", 16)), "cluster_id"
    ).write.mode(mode).partitionBy("cluster_id").parquet(f"{base}/ivf")


def ivf_drift_report(
    spark: SparkSession, warehouse: str, name: str
) -> DataFrame:
    """Monitoring for the frozen-codebook append path: per-cluster
    occupancy split into rows present when the layout was derived
    (idx < ivf_built_count) vs rows appended since. `drift_ratio` =
    appended_share / built_share per cluster — a cluster absorbing
    far more than its built share means the incoming distribution has
    moved off the frozen centroids, probe recall degrades there, and
    the index is due an `ivf_append="rebuild"` (which re-learns a
    kmeans codebook). One groupBy over the layout; the report is
    C rows — read it with `.collect()`, it is tiny by construction.

    → (cluster_id, n_built, n_appended, built_share, appended_share,
    drift_ratio) — shares are of their own era's total; drift_ratio is
    NULL for clusters with no built mass (new-territory clusters, the
    strongest rebuild signal of all)."""
    from leann_rs_spark.operators.ann import ivf_drift_shares

    base, meta, _ = _artifact(warehouse, name, "ivf")
    built = int(meta.extra.get("ivf_built_count", meta.passage_count))
    ivf = spark.read.parquet(f"{base}/ivf")
    return ivf_drift_shares(ivf, F.col("idx") < built).orderBy("cluster_id")


def compact_ivf_index(
    spark: SparkSession, warehouse: str, name: str
) -> int:
    """`_compact` the IVF layout to one file per cluster directory:
    every incremental `append_to_index` adds up to one file per touched
    cluster, and after N appends a probe reads N small files per
    cluster. Returns the number of files before compaction."""
    base, meta, _ = _artifact(warehouse, name, "ivf", write=True)
    n_centroids = int(meta.extra.get("ivf_centroids", 16))
    return _compact(spark, f"{base}/ivf", n_centroids, "cluster_id")


def refresh_ivf_index(
    spark: SparkSession,
    warehouse: str,
    name: str,
    n_centroids: int | None = None,
    seed: int | None = None,
) -> dict:
    """The middle rung between O(batch) frozen-codebook append and
    O(corpus-rewrite) rebuild (VERDICT r9 task 5): refresh the coarse
    codebook against the CURRENT corpus, re-assign every row (a
    projection scan — compute ∝ corpus, but cheap next to a write),
    and REWRITE ONLY the cluster partitions whose membership changed;
    unchanged partitions are carried into the new layout by hardlink
    (metadata only — the local analog of a manifest pointer swap in a
    Delta/Iceberg warehouse). After `ivf_drift_report` shows appended
    mass pulling off the frozen centroids, this recovers rebuild-grade
    recall for write-bytes ∝ moved mass.

    Codebook derivation: kmeans policy at the SAME size warm-starts
    from the existing centroids (`lloyd_refine_centroids` — labels
    persist, rows move only where the geometry drifted); a resize, or
    the take policy, re-derives cold and greedy-aligns the new
    centroid labels to the old ones by nearest distance.

    `n_centroids` additionally resizes the codebook (the corpus-grew
    maintenance case, see suggest_ivf_centroids); policy and seed
    default to the build-time values in meta. PQ codes are per-vector
    (independent of the coarse assignment), so a pq-enabled layout
    carries its codes through unchanged — only the coarse codebook
    refreshes.

    Result ≡ a from-scratch `build_ivf_index` with the same
    policy/C/seed, row for row (the refresh gate shares the rebuild's
    oracle). Crash-safe via the sibling-swap `compact_ivf_index` uses:
    the new layout materializes fully beside the live one and swaps in
    two renames; a crash between the layout swap and the centroids
    swap leaves a window where probes rank stale centroids against the
    new partitioning (degraded pruning, no data loss) — re-running the
    refresh heals it.

    Returns {total_rows, moved_rows, moved_fraction,
    affected_clusters, n_centroids}.
    """
    from leann_rs_spark.operators.ann import ivf_assign, lloyd_refine_centroids

    base, meta, _ = _artifact(warehouse, name, "ivf", write=True)
    ivf_dir = f"{base}/ivf"
    cents_dir = f"{base}/ivf_centroids"
    policy = meta.extra.get("ivf_policy", "take")
    if n_centroids is None:
        n_centroids = int(meta.extra.get("ivf_centroids", 16))
    if seed is None:
        seed = int(meta.extra.get("ivf_seed", 42))
    emb = spark.read.parquet(f"{base}/embeddings")
    old_cents_df = spark.read.parquet(cents_dir)
    same_c = old_cents_df.count() == n_centroids
    if policy == "kmeans" and same_c:
        # WARM START (the common refresh: drift recovery at the same
        # codebook size): refine the EXISTING centroids with a few
        # spherical Lloyd rounds instead of cold re-learning. Labels
        # persist through refinement, so rows move only where the
        # geometry actually drifted — a cold re-learn lands in a
        # different local optimum with permuted labels and moved 63%
        # of rows after a 3% append (measured, SCALE ivf_refresh).
        cents = lloyd_refine_centroids(
            emb, old_cents_df, id_col="idx", iters=3
        )
    else:
        cents = _centroids(emb, policy, n_centroids, seed)
    # LABEL ALIGNMENT (cold paths only — warm start already preserves
    # labels): a re-learned kmeans codebook permutes cluster ids
    # arbitrarily, so without alignment ~every row "moves" and the
    # selective rewrite degenerates to a full rewrite (measured
    # moved_fraction 0.95 on a mild drift). Greedy-match each new
    # centroid to the nearest old centroid's LABEL (C×C driver-side
    # floats — trivial); unmatched news (codebook grew) take the
    # unused labels ascending. Labels are internal to the layout —
    # search ranks centroids by vector, so results are invariant —
    # and under the take policy the matching is the identity (take
    # centroid i IS embedding idx i), keeping refresh ≡ rebuild exact
    # for the oracle gate.
    old_cent_rows = (
        [] if (policy == "kmeans" and same_c) else old_cents_df.collect()
    )
    new_cent_rows = cents.collect()
    if old_cent_rows:
        import numpy as np

        old_ids = [int(r["centroid_id"]) for r in old_cent_rows]
        O = np.array([r["centroid_vec"] for r in old_cent_rows], dtype=np.float64)
        N = np.array([r["centroid_vec"] for r in new_cent_rows], dtype=np.float64)
        d2 = ((N[:, None, :] - O[None, :, :]) ** 2).sum(axis=2)
        order = sorted(
            ((d2[i, j], i, j) for i in range(len(N)) for j in range(len(O)))
        )
        label_of: dict[int, int] = {}
        used_old: set[int] = set()
        for _, i, j in order:
            if i in label_of or j in used_old:
                continue
            label_of[i] = old_ids[j]
            used_old.add(j)
        taken = set(label_of.values())
        free = (x for x in range(len(N) + len(O)) if x not in taken)
        for i in range(len(N)):
            if i not in label_of:
                label_of[i] = next(free)
        cents = local_frame(
            spark,
            [
                (label_of[i], list(r["centroid_vec"]))
                for i, r in enumerate(new_cent_rows)
            ],
            # keep the learned schema — a silent float→double cast here
            # would perturb assignment scores against the oracle
            cents.select("centroid_id", "centroid_vec").schema,
        )
    # re-assign FROM THE LAYOUT (it already carries embedding + any pq
    # code), tagging each row with its current partition; extras are
    # functionally dependent on idx, so the uniqueness contract holds
    old = spark.read.parquet(ivf_dir).withColumnRenamed(
        "cluster_id", "__old"
    )
    extras = ["__old"] + (
        ["code"] if meta.extra.get("pq_m") is not None else []
    )
    assigned = ivf_assign(old, cents, id_col="idx", extra_cols=extras)
    assigned = assigned.persist()
    total = assigned.count()  # materialize: 3 consumers below
    changed = assigned.filter(F.col("cluster_id") != F.col("__old"))
    moved = changed.count()
    # clusters gaining OR losing rows — a tiny driver set (≤ 2C keys)
    affected = sorted(
        int(r["c"])
        for r in changed.select(F.col("cluster_id").alias("c"))
        .union(changed.select(F.col("__old").alias("c")))
        .distinct()
        .collect()
    )

    def write_layout(tmp: str) -> None:
        (
            assigned.filter(F.col("cluster_id").isin(affected))
            .drop("__old")
            .repartition(len(affected), "cluster_id")
            .write.partitionBy("cluster_id")
            .parquet(tmp)
        )
        # carry unchanged partitions by hardlink — write bytes stay
        # ∝ moved mass, not corpus size
        aff_names = {f"cluster_id={c}" for c in affected}
        for d in os.listdir(ivf_dir):
            if d.startswith("cluster_id=") and d not in aff_names:
                os.makedirs(os.path.join(tmp, d), exist_ok=True)
                for fname in os.listdir(os.path.join(ivf_dir, d)):
                    os.link(
                        os.path.join(ivf_dir, d, fname),
                        os.path.join(tmp, d, fname),
                    )

    if affected:
        _replace(ivf_dir, "refreshing", write_layout)
    assigned.unpersist()
    _replace(cents_dir, "refreshing", cents.write.parquet)
    meta.extra["ivf_centroids"] = n_centroids
    meta.extra["ivf_seed"] = seed
    meta.extra["ivf_built_count"] = meta.passage_count
    save_meta(warehouse, name, meta)
    return {
        "total_rows": total,
        "moved_rows": moved,
        "moved_fraction": (moved / total) if total else 0.0,
        "affected_clusters": len(affected),
        "affected_cluster_ids": affected,
        "n_centroids": n_centroids,
    }


def search_ivf_index(
    spark: SparkSession,
    warehouse: str,
    name: str,
    query: str,
    k: int = 5,
    nprobe: int = 4,
    use_pq: bool = False,
    refine: int = 4,
) -> DataFrame:
    """Probe-pruned search over the persisted IVF layout: rank the
    centroids held for the index version against the query on the
    driver (`ann.probe_order`, no Spark job), then exact top-k
    over only the probed clusters' directories (the read lists nothing
    else — the seek a graph traversal would do). Returns (idx, score,
    doc_id, source, text) like search_index.

    `use_pq=True` (needs a pq-enabled build) scores the probed rows by
    ADC over the packed codes — 8 bytes/row instead of the full vector
    — and, when refine > 0, exact-rescores only the top refine·k
    against the embeddings table. The 100 TB read path: scan bytes =
    (nprobe/C)·N·8 plus refine·k point reads."""
    from leann_rs_spark.operators.ann import probe_order

    base, meta, _ = _artifact(warehouse, name, "ivf")
    if use_pq and "pq_m" not in meta.extra:
        raise ValueError(
            f"index {name!r} has no PQ codes — rebuild with "
            f"build_ivf_index(pq_m=...)"
        )
    qv = _query_vector(
        meta, query, hint="search_ivf_index embeds queries with the hash "
        "embedder only; search it with search_index(query_provider=…)",
    )
    probe = probe_order(*_ivf_centroids(spark, base), qv, nprobe)
    probed = _read(spark, base, "ivf", ("cluster_id", probe))
    if use_pq:
        from leann_rs_spark.operators.pq import pq_bits, pq_search, pq_unpack_col

        m = int(meta.extra["pq_m"])
        bits = pq_bits(int(meta.extra["pq_k"]))
        cb = _pq_codebook(spark, base)
        codes = probed.select(
            "idx", pq_unpack_col(F.col("code"), m, bits).alias("code")
        )
        vectors = _read(spark, base, "embeddings") if refine > 0 else None
        hits = pq_search(codes, cb, qv, k, "idx", refine, vectors)
    else:
        hits = exact_search(probed, qv, k, "idx")
    passages = _read(spark, base, "passages")
    return _assemble(hits, passages, k)


def build_token_index(
    spark: SparkSession,
    warehouse: str,
    name: str,
    docs: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = 64,
    n_centroids: int | None = None,
    centroid_policy: str = "take",
) -> IndexMeta:
    """Persist the ColBERT-style TOKEN-LEVEL embedding table as a
    catalog artifact — the "token index" the late-interaction docstring
    promises (operators/late_interaction.py): distinct (doc, token)
    pairs joined to a vocabulary-sized embedding table, written once,
    scanned per query batch. Same ruling as the IVF/PQ code tables: a
    durable serving artifact, never re-derived per query.

    `docs=None` builds over the index's own passages table
    (id_col="idx"), the msearch-over-an-index path; passing a docs
    frame builds a standalone token index (meta created if absent).

    `n_centroids` routes every token row to its nearest of C centroids
    and writes the artifact partitionBy("cid") — the PLAID/IVF layout:
    a pruned query batch reads only probed-cid DIRECTORIES
    (late_interaction_topk_batch_pruned), and the KB-sized codebook
    rides meta so serving never re-derives it. `centroid_policy`:
    "take" (lexicographic vocab sample — deterministic, the oracle
    policy) or "kmeans" (seeded spherical MLlib k-means over the
    VOCABULARY — balances routing partitions on real token
    distributions, which is what makes nprobe/C scan arithmetic hold;
    assignment, serving, and append are policy-blind, so the swap
    touches nothing downstream — the ann.kmeans_centroids ruling).

    Layout: <base>/token_index/[cid=*/]*.parquet (id_col, token, vec)
    + meta.extra["token_index"] = {dims, id_col, rows[, n_centroids,
    centroid_policy, centroids]}.
    """
    from leann_rs_spark.operators.late_interaction import (
        assign_token_cids,
        token_embeddings,
        token_take_centroids,
    )

    base = _index_dir(warehouse, name)
    if docs is None:
        docs = spark.read.parquet(f"{base}/passages")
        id_col, text_col = "idx", "text"
    # cache=False: on the unrouted path the parquet sink itself is the
    # multi-consumer boundary. The ROUTED path consumes tok twice more
    # (centroid derivation + assignment/write) — persist across those
    # so the explode+distinct shuffle runs once (the repo's
    # multi-consumer rule; token_embeddings measured the cost)
    tok = token_embeddings(
        docs, id_col=id_col, text_col=text_col, dims=dims, cache=False
    )
    info: dict = {"dims": dims, "id_col": id_col, "model": "hash"}
    if n_centroids is not None:
        tok = tok.persist()
        tok.count()
        if centroid_policy == "kmeans":
            from leann_rs_spark.operators.ann import kmeans_centroids

            vocab = tok.select("token", "vec").distinct()
            cdf = kmeans_centroids(
                vocab, n_centroids, id_col="token", vec_col="vec"
            )
            rows = sorted(cdf.collect(), key=lambda r: r["centroid_id"])
            cents = [[float(x) for x in r["centroid_vec"]] for r in rows]
        elif centroid_policy == "take":
            cents = token_take_centroids(tok, c=n_centroids)
        else:
            raise ValueError(
                f"unknown centroid_policy {centroid_policy!r}"
            )
        info["n_centroids"] = n_centroids
        info["centroid_policy"] = centroid_policy
        info["centroids"] = cents
        assign_token_cids(tok, cents, id_col=id_col).write.mode(
            "overwrite"
        ).partitionBy("cid").parquet(f"{base}/token_index")
        tok.unpersist()
    else:
        tok.write.mode("overwrite").parquet(f"{base}/token_index")
    return _record_artifact(spark, warehouse, name, "token", info, dims)


def _record_artifact(
    spark: SparkSession, warehouse: str, name: str, kind: str, info: dict,
    dims: int,
) -> IndexMeta:
    """Count a freshly written `kind` artifact's rows into `info` and
    save it as the index's meta section; a standalone artifact (no
    index under `name` yet) starts its own meta."""
    try:
        meta = load_meta(warehouse, name)
    except FileNotFoundError:
        meta = IndexMeta(backend=kind, dimensions=dims)
    table = _ARTIFACT_TABLES[kind][0]
    info["rows"] = spark.read.parquet(
        f"{_index_dir(warehouse, name)}/{table}"
    ).count()
    meta.extra[f"{kind}_index"] = info
    save_meta(warehouse, name, meta)
    return meta


def _append_rows(df: DataFrame, path: str, partition_col: str | None = None) -> int:
    """Append `df` to the table at `path` (partitionBy `partition_col`
    when given) and return its row count; `df` is persisted across the
    count and the append sink, its two consumers."""
    df = df.persist()
    n = df.count()
    w = df.write.mode("append")
    if partition_col is not None:
        w = w.partitionBy(partition_col)
    w.parquet(path)
    df.unpersist()
    return n


# Token-index embedding models whose vectors are CORPUS-INDEPENDENT —
# the precondition for O(batch) append ≡ rebuild. "hash" is the only
# token-level embedder today; a frozen provider model could be added
# once the token path supports one, but a corpus-trained model (the
# TF-IDF × SRP local model) must never be: its vectors shift with
# corpus statistics and appended rows would silently diverge from a
# rebuild.
TOKEN_MODELS_APPENDABLE = frozenset({"hash"})


def append_to_token_index(
    spark: SparkSession,
    warehouse: str,
    name: str,
    new_docs: DataFrame,
    *,
    text_col: str = "text",
) -> IndexMeta:
    """S12 for the late-interaction artifact: append a new batch's
    (doc, token, vec) rows to the persisted token index. Cost is
    O(batch) — the hash embedding of a token is corpus-independent
    (unlike IDF-weighted schemes), so appended rows are EXACTLY what a
    full rebuild would produce and append ≡ rebuild as a set (the
    x_token_index_append gate serves a query batch through an
    even+odd appended index against a full-corpus oracle). A
    centroid-routed index appends with the FROZEN codebook from meta
    (the IVF append ruling): cid is a pure function of (token,
    codebook), so routed appends land in the right partitions and
    append ≡ rebuild still holds.

    The whole O(batch) argument rests on the embedding model being
    CORPUS-INDEPENDENT: a token index built from a corpus-trained
    model (TF-IDF × SRP, or any scheme whose token vector depends on
    corpus statistics) would make appended rows differ from what a
    rebuild produces — silently. Append therefore refuses any
    meta.model outside TOKEN_MODELS_APPENDABLE; metas written before
    the field existed were all hash-built and are treated as such."""
    from leann_rs_spark.operators.late_interaction import (
        assign_token_cids,
        token_embeddings,
    )

    base, meta, info = _artifact(warehouse, name, "token", write=True)
    model = info.get("model", "hash")
    if model not in TOKEN_MODELS_APPENDABLE:
        raise ValueError(
            f"token index {name!r} was built with corpus-dependent "
            f"embedding model {model!r}: O(batch) append would silently "
            "diverge from a rebuild (append ≡ rebuild holds only for "
            "corpus-independent embeddings) — rebuild with "
            "build_token_index instead"
        )
    tok = token_embeddings(
        new_docs,
        id_col=info["id_col"],
        text_col=text_col,
        dims=info["dims"],
        cache=False,
    )
    routed = "centroids" in info
    if routed:
        tok = assign_token_cids(
            tok, info["centroids"], id_col=info["id_col"]
        )
    info["rows"] += _append_rows(
        tok, f"{base}/token_index", "cid" if routed else None
    )
    save_meta(warehouse, name, meta)
    return meta


def compact_token_index(
    spark: SparkSession, warehouse: str, name: str
) -> int:
    """`_compact` the token index to one file per cid directory (routed)
    or `_files_for(rows)` files: each `append_to_token_index` adds a
    file (per touched cid directory), and after N appends a query batch
    reads N small files. Returns the file count before compaction."""
    base, _, info = _artifact(warehouse, name, "token", write=True)
    path = f"{base}/token_index"
    if "centroids" in info:
        return _compact(spark, path, int(info["n_centroids"]), "cid")
    return _compact(spark, path, _files_for(info["rows"]))


def load_token_index(
    spark: SparkSession, warehouse: str, name: str
) -> tuple[DataFrame, dict]:
    """Read the persisted token index → ((id_col, token, vec) frame,
    its meta dict {dims, id_col, rows}). Raises if the index has none."""
    base, _, info = _artifact(warehouse, name, "token")
    return spark.read.parquet(f"{base}/token_index"), info


def build_minhash_index(
    spark: SparkSession,
    warehouse: str,
    name: str,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
) -> IndexMeta:
    """Persist the corpus MinHash signature table as a catalog
    artifact — the promise `minhash_near_dups_incremental`'s docstring
    makes ("at 100 TB the corpus signature table is a persisted
    artifact"): each ingest batch then pays only ITS OWN signature
    aggregate; the corpus side is a parquet scan of (id, sig), never a
    re-shingle of the whole corpus. Same ruling as the token/IVF/BM25
    artifacts.

    Build at the WIDEST num_hashes any serving config needs: the
    banding sweep's sig-prefix property (operators/dedup.py
    minhash_band_sweep) means one max-width table serves every
    (n_hashes ≤ num_hashes, bands) configuration by slicing.

    Layout: <base>/minhash_sigs/*.parquet (id_col, sig ARRAY<BIGINT>)
    + meta.extra["minhash_index"] = {shingle_k, num_hashes, id_col,
    rows}. Docs shorter than shingle_k carry no signature (they cannot
    be near-dups — the bulk builder's documented drop)."""
    from leann_rs_spark.operators.dedup import (
        _band_width, _minhash_signatures_bulk,
    )

    # `bands` is the artifact's DEFAULT query-time banding (a serving
    # config, recorded so the query path doesn't silently band over a
    # truncated signature prefix); num_hashes must tile into it.
    _band_width(num_hashes, bands)
    base = _index_dir(warehouse, name)
    sigs = _minhash_signatures_bulk(
        docs, id_col=id_col, text_col=text_col,
        shingle_k=shingle_k, num_hashes=num_hashes,
    )
    sigs.write.mode("overwrite").parquet(f"{base}/minhash_sigs")
    info = {
        "shingle_k": shingle_k,
        "num_hashes": num_hashes,
        "bands": bands,
        "id_col": id_col,
    }
    return _record_artifact(spark, warehouse, name, "minhash", info, num_hashes)


def append_to_minhash_index(
    spark: SparkSession,
    warehouse: str,
    name: str,
    new_docs: DataFrame,
    *,
    text_col: str = "text",
) -> IndexMeta:
    """S12 for the dedup artifact: append a new batch's signatures.
    O(batch) and append ≡ rebuild EXACTLY — the MinHash family is a
    fixed derived-hash sequence over content shingles
    (functions/text.hash_pair), corpus-independent by construction,
    so appended rows are bit-identical to what a full rebuild would
    produce (the same argument as the hash-embedding token index; the
    x_minhash_index_dedup gate proves it through serving)."""
    from leann_rs_spark.operators.dedup import _minhash_signatures_bulk

    base, meta, info = _artifact(warehouse, name, "minhash", write=True)
    sigs = _minhash_signatures_bulk(
        new_docs, id_col=info["id_col"], text_col=text_col,
        shingle_k=info["shingle_k"], num_hashes=info["num_hashes"],
    )
    info["rows"] += _append_rows(sigs, f"{base}/minhash_sigs")
    save_meta(warehouse, name, meta)
    return meta


def compact_minhash_index(
    spark: SparkSession, warehouse: str, name: str
) -> int:
    """`_compact` the signature table to `_files_for(rows)` files: every
    `append_to_minhash_index` batch adds files, and after N appends the
    banded join's corpus scan opens N small files. Returns the file
    count before compaction."""
    base, _, info = _artifact(warehouse, name, "minhash", write=True)
    return _compact(spark, f"{base}/minhash_sigs", _files_for(info["rows"]))


def load_minhash_index(
    spark: SparkSession, warehouse: str, name: str
) -> tuple[DataFrame, dict]:
    """Read the persisted signature table → ((id_col, sig) frame, its
    meta dict {shingle_k, num_hashes, id_col, rows}). The frame is the
    `corpus_sigs` input of `minhash_near_dups_incremental` and the
    signature side of any banding config at n_hashes ≤ num_hashes."""
    base, _, info = _artifact(warehouse, name, "minhash")
    return spark.read.parquet(f"{base}/minhash_sigs"), info
