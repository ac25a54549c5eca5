"""Import a reference (leann-rs) on-disk index into the Spark layout.

The migration path for existing users: a reference index directory
(`.leann/indexes/<name>/`) holds

    documents.leann.meta.json     JSON meta (src/index/meta.rs:8-43)
    documents.passages.jsonl      one {"id","text","metadata"} per line
                                  (src/index/passages.rs:11-17; file
                                  names via Path::with_extension on
                                  `documents.leann`, builder.rs:101,
                                  passages.rs:31-32)
    documents.passages.idx.json   id → byte-offset map (obsolete here —
                                  Parquet pushdown replaces point-seek)
    documents.ids.txt             newline-joined ids, insert order =
                                  dense vector index (builder.rs:100-103)
    documents.embeddings          flat little-endian f32, row-major
                                  count × dims (embeddings.rs:12-34)
    documents.leann               ANN graph artifact (opaque, backend-
                                  owned; not imported — exact/IVF search
                                  replaces it)

`import_reference_index` maps those into the catalog's Parquet tables +
meta.json, after which every read-path operator (search/hybrid/RAG/
serve) works unchanged. Indexes built with a network embedding provider
keep their mode/model in meta, so search correctly demands the same
`query_provider` the reference would reconstruct (search.rs:100-117).

Scale notes: ids.txt and the JSONL are single-node-sized by
construction (the reference keeps all ids/vectors in driver RAM while
building, builder.rs:230-232), so reading ids driver-side is bounded by
the source system itself. The flat-f32 embeddings file is read
DISTRIBUTED: each task seeks its own `idx * dims * 4` byte range via
mapInPandas, so import parallelism is ours even though the source
artifact is single-node (the file must be visible to executors — local
mode or a shared mount).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from leann_rs_spark.catalog import IndexMeta, _index_dir, save_meta


def _ref_paths(index_dir: str) -> dict[str, str]:
    base = os.path.join(index_dir, "documents")
    return {
        "meta": base + ".leann.meta.json",
        "passages": base + ".passages.jsonl",
        "ids": base + ".ids.txt",
        "embeddings": base + ".embeddings",
    }


def read_reference_passages(
    spark: SparkSession, index_dir: str
) -> DataFrame:
    """passages.jsonl + ids.txt → (idx, doc_id, source, chunk_index,
    text, metadata) with `idx` = the position in ids.txt (the dense id
    every ANN backend keyed vectors by, hnsw.rs:128-130).

    `metadata` is kept as its raw JSON string (the reference's metadata
    is schemaless, passages.rs:15-16) — address fields with
    `get_json_object` or the filter DSL's JSON resolver. doc_id /
    chunk_index / source are surfaced from the conventional metadata
    keys when present so the read path's result assembly works out of
    the box.
    """
    p = _ref_paths(index_dir)
    with open(p["ids"]) as f:
        ids = [s for s in (line.rstrip("\r\n") for line in f) if s]
    # createDataFrame, not utils.local_frame: the map is corpus-sized,
    # and a LocalRelation would carry every row inside the plan
    id_to_idx = spark.createDataFrame(
        [(i, pid) for i, pid in enumerate(ids)], "idx bigint, id string"
    )
    raw = spark.read.text(p["passages"]).filter(F.length("value") > 0)
    parsed = raw.select(
        F.get_json_object("value", "$.id").alias("id"),
        F.get_json_object("value", "$.text").alias("text"),
        F.coalesce(
            F.get_json_object("value", "$.metadata"), F.lit("{}")
        ).alias("metadata"),
    )
    joined = parsed.join(id_to_idx, "id")
    # conventional metadata keys (the reference's own build pipeline
    # stamps source paths into metadata; our export stamps doc_id and
    # chunk_index there) — metadata doc_id wins, then the numeric
    # passage id, then the dense idx
    return joined.select(
        "idx",
        F.coalesce(
            F.get_json_object("metadata", "$.doc_id").cast("bigint"),
            F.col("id").cast("bigint"),
            F.col("idx"),
        ).alias("doc_id"),
        F.coalesce(
            F.get_json_object("metadata", "$.source"),
            F.get_json_object("metadata", "$.path"),
            F.get_json_object("metadata", "$.file"),
        ).alias("source"),
        F.coalesce(
            F.get_json_object("metadata", "$.chunk_index").cast("int"),
            F.lit(0),
        ).alias("chunk_index"),
        "text",
        "metadata",
    )


def read_reference_embeddings(
    spark: SparkSession, index_dir: str, count: int, dims: int
) -> DataFrame:
    """documents.embeddings (flat little-endian f32, row-major) →
    (idx, embedding ARRAY<DOUBLE>). Distributed: each task reads only
    its partition's byte range."""
    p = _ref_paths(index_dir)
    path = p["embeddings"]
    expected = count * dims * 4
    actual = os.path.getsize(path)
    if actual != expected:
        raise ValueError(
            f"embeddings file is {actual} bytes; meta implies "
            f"{expected} ({count} × {dims} f32) — corrupt or mismatched"
        )
    schema = T.StructType(
        [
            T.StructField("idx", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def read_rows(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            lo, hi = int(pdf["id"].min()), int(pdf["id"].max())
            with open(path, "rb") as f:
                f.seek(lo * dims * 4)
                buf = f.read((hi - lo + 1) * dims * 4)
            mat = np.frombuffer(buf, dtype="<f4").reshape(-1, dims)
            idxs = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {
                    "idx": idxs,
                    "embedding": [
                        mat[i - lo].astype("float64").tolist() for i in idxs
                    ],
                }
            )

    # spark.range partitions are contiguous ranges → each task's reads
    # are one sequential slice of the file
    n_parts = max(1, min(spark.sparkContext.defaultParallelism, count))
    return (
        spark.range(0, count, 1, n_parts)
        .mapInPandas(read_rows, schema=schema)
    )


def import_reference_index(
    spark: SparkSession,
    index_dir: str,
    warehouse: str,
    name: str,
    with_bm25: bool = True,
) -> IndexMeta:
    """Reference index directory → catalog index (passages +
    embeddings Parquet + meta.json [+ BM25 postings]). Returns the new
    meta. Pruned source indexes import as pruned (search falls back to
    the recompute plan, which needs the original provider)."""
    paths = _ref_paths(index_dir)
    with open(paths["meta"]) as f:
        src = json.load(f)
    dims = int(src["dimensions"])
    count = int(src["passage_count"])

    base = _index_dir(warehouse, name)
    # importing over an existing index must not leave stale derived
    # artifacts behind: old bm25_postings/ivf keep idx→content mappings
    # of the REPLACED passages, and search_index enables hybrid by
    # directory existence — silently wrong rankings otherwise
    if os.path.isdir(base):
        import shutil

        shutil.rmtree(base)
    passages = read_reference_passages(spark, index_dir)
    passages.write.mode("overwrite").parquet(f"{base}/passages")
    passages = spark.read.parquet(f"{base}/passages")
    n = passages.count()
    if n != count:
        raise ValueError(
            f"imported {n} passages but meta.passage_count is {count} — "
            "ids.txt / passages.jsonl mismatch"
        )

    pruned = bool(src.get("is_pruned")) or not os.path.exists(
        paths["embeddings"]
    )
    if not pruned:
        emb = read_reference_embeddings(spark, index_dir, count, dims)
        emb.write.mode("overwrite").parquet(f"{base}/embeddings")

    if with_bm25:
        from leann_rs_spark.catalog import _write_bm25

        _write_bm25(passages, base, "overwrite", n)

    opts = src.get("embedding_options") or {}
    if not opts.get("doc_prompt_template") and not opts.get(
        "query_prompt_template"
    ):
        # the reference resolves prompt prefixes from the model NAME at
        # embed time (get_model_config, models.rs:33-125) — an imported
        # nomic/e5 index was built WITH the document prefix, so searches
        # here must apply the query prefix the same way
        from leann_rs_spark.models import get_model_config

        cfg = get_model_config(src.get("embedding_model", ""))
        opts = {
            "doc_prompt_template": cfg.document_prefix or None,
            "query_prompt_template": cfg.query_prefix or None,
        }
    meta = IndexMeta(
        backend="exact",  # the graph artifact is not imported
        embedding_mode=src.get("embedding_mode", "custom"),
        embedding_model=src.get("embedding_model", "unknown"),
        dimensions=dims,
        passage_count=count,
        is_pruned=pruned,
        doc_prompt_template=opts.get("doc_prompt_template"),
        query_prompt_template=opts.get("query_prompt_template"),
        extra={
            "bm25": with_bm25,
            "imported_from": os.path.abspath(index_dir),
            "source_meta": {
                k: src[k]
                for k in (
                    "version", "backend_name", "embedding_model",
                    "embedding_mode", "is_recompute", "is_pruned",
                )
                if k in src
            },
        },
    )
    save_meta(warehouse, name, meta)
    return meta


def export_reference_index(
    spark: SparkSession,
    warehouse: str,
    name: str,
    out_dir: str,
) -> dict:
    """The reverse migration: a catalog index → the reference's on-disk
    layout (passages.jsonl + idx.json offset map + ids.txt + flat-f32
    embeddings + meta.json), so a corpus BUILT at Spark scale can be
    handed to the single-node reference binary. The ANN graph artifact
    (documents.leann) is backend-owned and not produced — the reference
    rebuilds it from these files (its recompute/compat machinery treats
    the graph as derivable; cf. src/backend/compat.rs rebuild hints).

    Rows stream through the driver in idx order via toLocalIterator —
    bounded memory, and the target format is single-node-sized by
    definition (the reference memory-maps the whole embeddings file).
    Returns a summary dict.
    """
    import struct

    from leann_rs_spark.catalog import load_meta

    meta = load_meta(warehouse, name)
    base_in = _index_dir(warehouse, name)
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, "documents")

    passages = (
        spark.read.parquet(f"{base_in}/passages")
        .select("idx", "doc_id", "source", "chunk_index", "text")
        .orderBy("idx")
    )
    ids: list[str] = []
    offsets: dict[str, int] = {}
    with open(base + ".passages.jsonl", "wb") as f:
        for row in passages.toLocalIterator():
            # passage id = the dense idx, ALWAYS — unique by
            # construction, and exactly the reference's own convention
            # (chunk ids are a global sequential counter,
            # chunker/simple.rs:38-40). doc_id/chunk_index travel in
            # metadata so a round-trip import restores them losslessly;
            # reusing doc_id as the pid collides once a document has
            # more than one chunk.
            pid = str(row["idx"])
            offsets[pid] = f.tell()
            rec = {
                "id": pid,
                "text": row["text"],
                "metadata": {
                    "source": row["source"],
                    "doc_id": row["doc_id"],
                    "chunk_index": row["chunk_index"],
                },
            }
            f.write((json.dumps(rec) + "\n").encode())
            ids.append(pid)
    with open(base + ".passages.idx.json", "w") as f:
        json.dump(offsets, f)
    with open(base + ".ids.txt", "w") as f:
        f.write("\n".join(ids))

    n_emb = 0
    if not meta.is_pruned:
        emb = (
            spark.read.parquet(f"{base_in}/embeddings")
            .select("idx", "embedding")
            .orderBy("idx")
        )
        with open(base + ".embeddings", "wb") as f:
            for row in emb.toLocalIterator():
                vec = row["embedding"]
                f.write(struct.pack(f"<{len(vec)}f", *[float(x) for x in vec]))
                n_emb += 1

    ref_meta = {
        "version": "1.0",
        # no graph artifact is produced; hnsw is the reference's
        # rebuildable default backend
        "backend_name": "hnsw",
        "embedding_model": meta.embedding_model,
        "embedding_mode": (
            meta.embedding_mode if meta.embedding_mode != "hash" else "custom"
        ),
        "dimensions": meta.dimensions,
        "passage_count": meta.passage_count,
        "is_recompute": True,
        "is_pruned": meta.is_pruned,
    }
    # Prompt templates: the stored f32 vectors embed the DOC template's
    # prefix. A reference binary resolves prefixes from the model NAME
    # through its own registry (models.rs) — consistent whenever the
    # index's templates came from our registry for the same name. Ship
    # them in the meta's embedding_options pass-through field
    # (meta.rs:33-35, serde-tolerated) so the provenance is explicit,
    # and warn when the reference's registry would NOT reproduce them
    # (custom templates → its query/recompute embeddings would be
    # prefix-inconsistent with the exported vectors).
    if meta.doc_prompt_template or meta.query_prompt_template:
        ref_meta["embedding_options"] = {
            "doc_prompt_template": meta.doc_prompt_template,
            "query_prompt_template": meta.query_prompt_template,
        }
        from leann_rs_spark.models import get_model_config

        cfg = get_model_config(meta.embedding_model)
        if (cfg.document_prefix, cfg.query_prefix) != (
            meta.doc_prompt_template or "",
            meta.query_prompt_template or "",
        ):
            import warnings

            warnings.warn(
                "exported index uses custom prompt templates the "
                f"reference's registry will not resolve for model "
                f"{meta.embedding_model!r}; its query embeddings will "
                "be prefix-inconsistent with the exported vectors",
                stacklevel=2,
            )
    with open(base + ".leann.meta.json", "w") as f:
        json.dump(ref_meta, f, indent=2)
    return {
        "passages": len(ids),
        "embeddings": n_emb,
        "pruned": meta.is_pruned,
        "out_dir": out_dir,
    }
