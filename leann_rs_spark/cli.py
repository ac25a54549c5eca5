"""CLI: the reference's command surface over the Spark engine.

Reference: /root/reference/src/cli/mod.rs:48-84 — subcommands build,
update, search, ask, react, serve, list, remove, prune, config, mcp.
Run as ``python -m leann_rs_spark <command> ...``.

This is a thin veneer (SURVEY §2.4): each handler binds a SparkSession
and dispatches into catalog / rag / agent / serving. Documents come from
a parquet path with (doc_id, source, text) columns or from a directory
scanned with the S1 corpus-scan rules (sources/files.py).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession, functions as F

DEFAULT_WAREHOUSE = ".leann/indexes"  # locate.rs:11-36 project-local root


def _centroids_arg(raw: str):
    """--ivf-centroids value: an int, or 'auto' → None (the library
    then sizes the codebook as 4·√N, catalog.suggest_ivf_centroids)."""
    if raw.strip().lower() == "auto":
        return None
    return int(raw)


def _spark(args) -> SparkSession:
    from leann_rs_spark.session import get_spark

    return get_spark(app_name=f"leann-{args.command}")


def _load_docs(spark: SparkSession, docs: str, args=None):
    from leann_rs_spark.sources.files import files_to_documents, scan_files

    if docs.endswith(".parquet") or docs.rstrip("/").endswith("documents"):
        return spark.read.parquet(docs)
    kw = {}
    if args is not None:
        # reference build flags (src/cli/build.rs:414-554)
        def _exts(raw: str) -> list[str]:
            out = []
            for t in raw.split(","):
                t = t.strip()
                if t:
                    out.append(t if t.startswith(".") else "." + t)
            return out

        if getattr(args, "file_types", None):
            kw["file_types"] = _exts(args.file_types)
        if getattr(args, "exclude_types", None):
            kw["exclude_types"] = _exts(args.exclude_types)
        if getattr(args, "max_files", None) is not None:
            kw["max_files"] = args.max_files
        if getattr(args, "max_file_size_kb", None) is not None:
            kw["max_file_size_kb"] = args.max_file_size_kb
    return files_to_documents(scan_files(spark, docs, **kw))


def make_provider(mode: str, model: str | None = None, api_key: str | None = None,
                  base_url: str | None = None):
    """Embedding provider from CLI/config naming (build.rs:175-190's
    mode match). hash → None (the native-expression default); api keys
    fall back to the reference's env vars (OPENAI_API_KEY build.rs:52,
    GEMINI_API_KEY)."""
    import os

    if mode in ("hash", "", None):
        return None
    from leann_rs_spark import providers as P

    if mode == "openai":
        kw = {"api_key": api_key or os.environ.get("OPENAI_API_KEY", "")}
        if base_url:
            kw["base_url"] = base_url
        return P.OpenAIEmbeddingProvider(model or "text-embedding-3-small", **kw)
    if mode == "ollama":
        kw = {"host": base_url} if base_url else {}
        return P.OllamaEmbeddingProvider(model or "nomic-embed-text", **kw)
    if mode == "gemini":
        kw = {"api_key": api_key or os.environ.get("GEMINI_API_KEY", "")}
        if base_url:
            kw["base_url"] = base_url
        return P.GeminiEmbeddingProvider(model or "text-embedding-004", **kw)
    raise ValueError(f"Unknown embedding mode: {mode}")  # build.rs:190


def cmd_build(args) -> int:
    from leann_rs_spark.catalog import build_index
    from leann_rs_spark.config import Config, resolve_build_settings

    spark = _spark(args)
    cfg = resolve_build_settings(
        Config.load(args.config),
        chunk_size=args.chunk_size,
        chunk_overlap=args.chunk_overlap,
    )
    provider = make_provider(
        args.embedding_mode, args.embedding_model,
        getattr(args, "api_key", None), getattr(args, "embedding_base_url", None),
    )
    meta = build_index(
        spark,
        args.warehouse,
        args.name,
        _load_docs(spark, args.docs, args),
        strategy=args.chunking_strategy,
        chunk_size=cfg["chunk_size"],
        chunk_overlap=cfg["chunk_overlap"],
        dims=args.dims,
        provider=provider,
        embedding_mode=args.embedding_mode,
        embedding_model=args.embedding_model,
    )
    if args.backend in ("ivf", "ivfpq"):
        # reference `--backend hnsw|diskann` analog (src/cli/build.rs):
        # the ANN artifact here is the cluster-partitioned parquet layout
        # (ivfpq adds packed product-quantized codes: 8-byte probe scans)
        from leann_rs_spark.catalog import build_ivf_index

        meta = build_ivf_index(
            spark, args.warehouse, args.name, n_centroids=args.ivf_centroids,
            pq_m=args.pq_m if args.backend == "ivfpq" else None,
            pq_k=args.pq_k,
        )
    print(f"Built index '{args.name}': {meta.passage_count} passages")
    return 0


def cmd_update(args) -> int:
    from leann_rs_spark.catalog import append_to_index, load_meta

    spark = _spark(args)
    old = load_meta(args.warehouse, args.name)
    provider = make_provider(
        old.embedding_mode if old.embedding_mode != "custom" else "hash",
        old.embedding_model,
        getattr(args, "api_key", None),
        getattr(args, "embedding_base_url", None),
    )
    meta = append_to_index(
        spark, args.warehouse, args.name, _load_docs(spark, args.docs),
        provider=provider,
        ivf_append="rebuild" if getattr(args, "ivf_rebuild", False)
        else "incremental",
    )
    print(f"Updated index '{args.name}': {meta.passage_count} passages")
    return 0


def cmd_search(args) -> int:
    from leann_rs_spark.catalog import load_meta, search_index, search_ivf_index

    spark = _spark(args)
    from leann_rs_spark.operators.hybrid import use_hybrid

    meta = load_meta(args.warehouse, args.name)
    # reconstruct the provider FROM meta, as the reference does
    # (search.rs:100-117); hash-mode indexes get the native embedder
    query_provider = make_provider(
        meta.embedding_mode if meta.embedding_mode != "custom" else "hash",
        meta.embedding_model,
        getattr(args, "api_key", None),
        getattr(args, "embedding_base_url", None),
    )
    wants_hybrid = use_hybrid(args.query, hybrid=args.hybrid, auto_hybrid=True)
    if (meta.backend == "ivf" and not args.exact and not args.filter
            and not wants_hybrid and query_provider is None):
        rows = search_ivf_index(
            spark, args.warehouse, args.name, args.query,
            k=args.top_k, nprobe=args.nprobe,
            use_pq="pq_m" in meta.extra and not args.no_pq,
            refine=args.pq_refine,
        ).collect()
    else:
        rows = search_index(
            spark,
            args.warehouse,
            args.name,
            args.query,
            k=args.top_k,
            filter_str=args.filter,
            hybrid=True if args.hybrid else None,  # None → auto-hybrid gate
            hybrid_alpha=args.hybrid_alpha,
            query_provider=query_provider,
        ).collect()
    if args.json:
        print(json.dumps([r.asDict() for r in rows], default=str))
    else:
        for i, r in enumerate(rows):
            print(f"[{i + 1}] score={r['score']:.4f} {r['source']}")
            print(f"    {r['text'][:200]}")
    return 0


def make_llm(mode: str, model: str | None = None, api_key: str | None = None,
             base_url: str | None = None):
    """LLM provider from CLI naming (src/llm/mod.rs:32-63's LlmType
    match). simulated → None (the native-expression default)."""
    import os

    if mode in ("simulated", "", None):
        return None
    from leann_rs_spark import providers as P

    if mode == "openai":
        kw = {"api_key": api_key or os.environ.get("OPENAI_API_KEY", "")}
        if base_url:
            kw["base_url"] = base_url
        return P.OpenAILLM(model or "gpt-4o-mini", **kw)
    if mode == "ollama":
        kw = {"host": base_url} if base_url else {}
        return P.OllamaLLM(model or "llama3.2", **kw)
    if mode == "anthropic":
        kw = {"api_key": api_key or os.environ.get("ANTHROPIC_API_KEY", "")}
        if base_url:
            kw["base_url"] = base_url
        return P.AnthropicLLM(model or "claude-3-5-haiku-latest", **kw)
    raise ValueError(f"Unknown llm mode: {mode}")


def _make_answerer(spark, warehouse: str, name: str, top_k: int, llm=None):
    """One-question RAG closure over DataFrames loaded ONCE — the REPL
    reuses the loaded passages/embeddings across turns, like the
    reference's long-lived IndexSearcher."""
    from pyspark.sql.types import StructType

    from leann_rs_spark.catalog import load_meta
    from leann_rs_spark.operators.rag import rag_batch
    from leann_rs_spark.utils import local_frame

    meta = load_meta(warehouse, name)
    base = f"{warehouse}/{name}"
    passages = spark.read.parquet(f"{base}/passages")
    emb = spark.read.parquet(f"{base}/embeddings")

    def answer(question: str) -> str:
        questions = local_frame(
            spark, [(0, question)],
            StructType.fromDDL("question_id long, question string"),
        )
        row = rag_batch(
            questions, passages, emb, k=top_k, dims=meta.dimensions, llm=llm
        ).head()
        return row["answer"]

    return answer


_CHAT_HELP = """
Commands:
  /help     - Show this help message
  /clear    - Clear conversation history
  /history  - Show command history
  /quit     - Exit interactive mode
"""


def run_interactive(
    spark,
    warehouse: str,
    name: str,
    top_k: int = 5,
    input_fn=input,
    out=print,
    llm=None,
) -> list[tuple[str, str]]:
    """R2: the interactive chat REPL (src/cli/ask.rs:200-317).

    Reference parity: /help|/h|/?, /clear|/c, /history|/hist,
    /quit|/q|/exit, unknown-command message, blank-line skip; the
    (question, answer) history is kept in memory but — as in the
    reference (ask.rs:231,290) — NOT fed back into prompts. EOF exits.
    `input_fn`/`out` are injectable for tests. Returns the final
    conversation history."""
    answer = _make_answerer(spark, warehouse, name, top_k, llm=llm)
    out("\nLEANN Interactive Mode")
    out(_CHAT_HELP)
    history: list[tuple[str, str]] = []
    while True:
        try:
            line = input_fn("You: ")
        except EOFError:
            out("\nGoodbye!")
            break
        q = line.strip()
        if not q:
            continue
        if q.startswith("/"):
            if q in ("/help", "/h", "/?"):
                out(_CHAT_HELP)
            elif q in ("/clear", "/c"):
                history.clear()
                out("\nConversation history cleared.\n")
            elif q in ("/history", "/hist"):
                out("\nConversation history:")
                if not history:
                    out("  (empty)")
                for i, (hq, _) in enumerate(history):
                    out(f"  {i + 1}. {hq}")
                out("")
            elif q in ("/quit", "/q", "/exit"):
                out("\nGoodbye!")
                break
            else:
                out(f"\nUnknown command: {q}. Type /help for available commands.\n")
            continue
        try:
            a = answer(q)
        except Exception as exc:  # ask.rs:292 — report, keep the REPL alive
            out(f"\nError: {exc}\n")
            continue
        out(f"\nLEANN: {a}\n")
        history.append((q, a))
    return history


def cmd_ask(args) -> int:
    llm = make_llm(
        getattr(args, "llm", "simulated"), getattr(args, "llm_model", None),
        getattr(args, "api_key", None), getattr(args, "llm_base_url", None),
    )
    if getattr(args, "interactive", False):
        spark = _spark(args)
        run_interactive(spark, args.warehouse, args.name, top_k=args.top_k, llm=llm)
        return 0
    if args.question is None:
        print("ask: provide a question or use --interactive", file=sys.stderr)
        return 2
    spark = _spark(args)
    answer = _make_answerer(spark, args.warehouse, args.name, args.top_k, llm=llm)
    print(answer(args.question))
    return 0


def cmd_react(args) -> int:
    from leann_rs_spark.agent import index_search_tool, react_loop, simulated_llm

    spark = _spark(args)
    llm = make_llm(
        getattr(args, "llm", "simulated"), getattr(args, "llm_model", None),
        getattr(args, "api_key", None), getattr(args, "llm_base_url", None),
    ) or simulated_llm()
    tool = index_search_tool(spark, args.warehouse, args.name, top_k=args.top_k)
    answer = react_loop(args.question, llm, tool, max_steps=args.max_steps)
    print(answer)
    return 0


def cmd_serve(args) -> int:
    from leann_rs_spark.serving import IndexService, serve_http

    spark = _spark(args)
    server = serve_http(
        IndexService(spark, args.warehouse, args.name), args.host, args.port
    )
    print(f"LEANN server listening on http://{server.server_address[0]}:"
          f"{server.server_address[1]}")
    server.serve_forever()
    return 0


def cmd_mcp(args) -> int:
    from leann_rs_spark.serving import IndexService, serve_mcp_stdio

    spark = _spark(args)
    serve_mcp_stdio(IndexService(spark, args.warehouse, args.name))
    return 0


def cmd_list(args) -> int:
    from leann_rs_spark.catalog import list_indexes

    spark = _spark(args)
    for r in list_indexes(spark, args.warehouse).collect():
        print(
            f"{r['name']}: {r['passage_count']} passages, dims="
            f"{r['dimensions']}, backend={r['backend']}"
            + (" (pruned)" if r["is_pruned"] else "")
        )
    return 0


def cmd_remove(args) -> int:
    from leann_rs_spark.catalog import remove_index

    if not args.force:
        resp = input(f"Remove index '{args.name}'? [y/N] ")  # remove.rs confirm
        if resp.strip().lower() not in ("y", "yes"):
            print("Aborted.")
            return 1
    remove_index(args.warehouse, args.name)
    print(f"Removed index '{args.name}'")
    return 0


def cmd_prune(args) -> int:
    from leann_rs_spark.catalog import prune_index

    meta = prune_index(args.warehouse, args.name)
    print(f"Pruned index '{args.name}' (search now recomputes embeddings); "
          f"passages kept: {meta.passage_count}")
    return 0


def cmd_compact(args) -> int:
    from leann_rs_spark.catalog import (
        compact_ivf_index,
        compact_minhash_index,
        compact_token_index,
    )

    spark = _spark(args)
    what = getattr(args, "what", "ivf")
    fns = {
        "token": (compact_token_index, "token index"),
        "sigs": (compact_minhash_index, "minhash signature table"),
        "ivf": (compact_ivf_index, "IVF layout"),
    }
    fn, label = fns[what]
    try:
        n = fn(spark, args.warehouse, args.name)
    except ValueError as exc:
        print(f"compact: {exc}", file=sys.stderr)
        return 1
    print(
        f"Compacted {label} of '{args.name}' "
        f"({n} files before, bounded layout now)"
    )
    return 0


def cmd_refresh(args) -> int:
    from leann_rs_spark.catalog import refresh_ivf_index

    spark = _spark(args)
    try:
        stats = refresh_ivf_index(
            spark, args.warehouse, args.name,
            n_centroids=args.centroids,
        )
    except ValueError as exc:
        print(f"refresh: {exc}", file=sys.stderr)
        return 1
    print(
        f"Refreshed IVF codebook of '{args.name}': "
        f"{stats['moved_rows']}/{stats['total_rows']} rows moved "
        f"({stats['moved_fraction']:.1%}), "
        f"{stats['affected_clusters']} partitions rewritten, "
        f"C={stats['n_centroids']}"
    )
    return 0


def cmd_sigs(args) -> int:
    """Persisted MinHash signature artifact lifecycle: build it over a
    corpus parquet, append an ingest batch (O(batch), append ≡ rebuild
    — the fixed derived-hash family is corpus-independent), or run the
    ingest-time near-dup query serving the corpus side from the
    artifact (catalog.build/append/load_minhash_index +
    operators/dedup.minhash_near_dups_incremental)."""
    from leann_rs_spark.catalog import (
        append_to_minhash_index,
        build_minhash_index,
        load_minhash_index,
    )

    spark = _spark(args)
    try:
        if args.query:
            from leann_rs_spark.operators.dedup import (
                minhash_near_dups_incremental,
            )

            if not args.corpus:
                print(
                    "sigs: --query needs --corpus (the verify stage "
                    "reads candidate docs' text)",
                    file=sys.stderr,
                )
                return 2
            sigs, info = load_minhash_index(spark, args.warehouse, args.name)
            # banding config: --bands override, else the artifact's
            # recorded default (pre-`bands` artifacts fall back to 4);
            # reject configs that would band a truncated sig prefix
            bands = args.bands or info.get("bands", 4)
            if info["num_hashes"] % bands != 0:
                print(
                    f"sigs: bands={bands} does not divide the artifact's"
                    f" num_hashes={info['num_hashes']} — a banded query"
                    " would silently use only"
                    f" {(info['num_hashes'] // bands) * bands} hashes;"
                    " pick a divisor via --bands",
                    file=sys.stderr,
                )
                return 2
            pairs = minhash_near_dups_incremental(
                spark.read.parquet(args.corpus),
                spark.read.parquet(args.query),
                id_col=info["id_col"],
                shingle_k=info["shingle_k"],
                num_hashes=info["num_hashes"],
                bands=bands,
                threshold=args.threshold,
                corpus_sigs=sigs,
            ).orderBy("new_id", "corpus_id")
            for r in pairs.collect():
                print(
                    f"{r['new_id']}\t{r['corpus_id']}\t{r['jaccard']:.4f}"
                )
            return 0
        if not args.input:
            print("sigs: build/append needs --input", file=sys.stderr)
            return 2
        docs = spark.read.parquet(args.input)
        if args.append:
            meta = append_to_minhash_index(
                spark, args.warehouse, args.name, docs
            )
        else:
            meta = build_minhash_index(
                spark, args.warehouse, args.name, docs,
                id_col=args.id_col,
                num_hashes=args.num_hashes,
                shingle_k=args.shingle_k,
                bands=args.bands or 4,
            )
        info = meta.extra["minhash_index"]
        verb = "Appended to" if args.append else "Built"
        print(
            f"{verb} minhash index '{args.name}': {info['rows']} "
            f"signatures ({info['num_hashes']} hashes, "
            f"shingle_k={info['shingle_k']})"
        )
        return 0
    except ValueError as exc:
        print(f"sigs: {exc}", file=sys.stderr)
        return 1


def cmd_curate(args) -> int:
    """Training-corpus curation over a documents parquet: quality gate →
    exact dedup → MinHash near-dup cluster keep → split assignment
    (operators/curation.py). Beyond the reference's surface — the
    pipeline entry point for the training-data operators."""
    from leann_rs_spark.operators.curation import curate_corpus

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    n_in = docs.count()
    gopher = {}
    if args.min_words is not None:
        gopher["min_words"] = args.min_words
    if args.min_stopword_hits is not None:
        gopher["min_stopword_hits"] = args.min_stopword_hits
    cached: list = []
    out = curate_corpus(
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        gopher_params=gopher,
        minhash_threshold=args.minhash_threshold,
        span_n=args.cut_dup_spans,
        intermediates=cached,
        sigs_warehouse=args.sigs_warehouse,
        sigs_name=args.sigs_name,
        minhash_max_bucket=args.minhash_max_bucket,
    )
    out.write.mode("overwrite").parquet(args.output)
    for df in cached:  # the write materialized everything; free the cache
        df.unpersist()
    n_out = spark.read.parquet(args.output).count()
    print(f"Curated {args.input}: kept {n_out}/{n_in} docs -> {args.output}")
    return 0


def cmd_clean(args) -> int:
    """Raw-crawl text preparation over a documents parquet: HTML →
    text extraction (native regexp chain) and/or Unicode NFC
    normalization (Arrow-batched) — the step BEFORE `curate` when the
    input is scraped markup rather than extracted text
    (operators/textprep.py)."""
    from leann_rs_spark.operators.textprep import (
        html_to_text,
        nfc_normalize_text,
    )
    from pyspark.sql import functions as F

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    if args.strip_html:
        docs = docs.withColumn(
            args.text_col, html_to_text(F.col(args.text_col))
        )
    if args.nfc:
        docs = nfc_normalize_text(
            docs, text_col=args.text_col, out_col="__nfc"
        ).withColumn(args.text_col, F.col("__nfc")).drop("__nfc")
    docs.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    steps = [s for s, on in (("html", args.strip_html), ("nfc", args.nfc)) if on]
    print(f"Cleaned {args.input} ({'+'.join(steps) or 'no-op'}): "
          f"{n} docs -> {args.output}")
    return 0


def cmd_drift(args) -> int:
    """Token-distribution drift monitor: KL(P_slice ‖ P_corpus) per
    value of a grouping column (functions/textstats.token_kl_by_group)
    — the per-source / per-ingest-batch domain-shift check a mixture
    build watches."""
    from leann_rs_spark.functions.textstats import token_kl_by_group

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    rows = (
        token_kl_by_group(docs, group_col=args.group_col, text_col=args.text_col)
        .orderBy(args.group_col)
        .collect()
    )
    print(f"{'slice':<24} {'token_types':>12} {'kl_vs_corpus':>14}")
    for r in rows:
        print(
            f"{str(r[args.group_col]):<24} {r['n_token_types']:>12} "
            f"{r['kl_r']:>14.6f}"
        )
    return 0


def cmd_stats(args) -> int:
    """Exact per-column table statistics (sources/warehouse.
    table_stats) — the ANALYZE pass behind layout/partition/broadcast
    decisions; --approx swaps exact ndv for HLL++ (the 100 TB form)."""
    from leann_rs_spark.sources.warehouse import table_stats

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    missing = [c for c in args.cols if c not in df.columns]
    if missing:
        print(f"stats: no such column(s): {missing}", file=sys.stderr)
        return 2
    rows = table_stats(df, args.cols, exact=not args.approx).collect()
    for r in rows:
        print(
            f"{r['col_name']}: n={r['n']} nulls={r['n_null']} "
            f"ndv={r['ndv']} min={r['min_r']} max={r['max_r']}"
        )
    return 0


def cmd_layout(args) -> int:
    """Re-cluster a parquet table by a Z-order (Morton) key over the
    given columns (sources/layout.zorder_write) — the OPTIMIZE
    ZORDER-style layout that makes per-file min/max stats tight on
    EVERY interleaved column, so multi-dimensional box predicates
    prune files/row-groups instead of scanning everything."""
    from leann_rs_spark.sources.layout import zorder_write

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    missing = [c for c in args.by if c not in df.columns]
    if missing:
        print(f"layout: no such column(s): {missing}", file=sys.stderr)
        return 2
    zorder_write(df, args.output, args.by, bits=args.bits, files=args.files)
    n = spark.read.parquet(args.output).count()
    print(
        f"z-ordered {n} rows by ({', '.join(args.by)}) "
        f"into {args.files} files -> {args.output}"
    )
    return 0


def cmd_msearch(args) -> int:
    """Multi-vector (ColBERT-style MaxSim) search over a documents
    parquet (operators/late_interaction.py): each query token takes
    its best-matching document token — term-level matching the
    single-vector `search` path pools away.

    `--index WAREHOUSE/NAME` serves from the persisted token index
    (catalog.build_token_index) instead of re-deriving it per call;
    `--build-index` persists it first (`--centroids C` routes + cid-
    -partitions it). Multiple positional queries run as ONE batch over
    a single token-table scan (late_interaction_topk_batch);
    `--nprobe` switches to centroid-routed candidate pruning
    (late_interaction_topk_batch_pruned) over a routed index."""
    from leann_rs_spark.operators.late_interaction import (
        late_interaction_topk,
        late_interaction_topk_batch,
        late_interaction_topk_batch_pruned,
        token_embeddings,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    id_col, dims = args.id_col, args.dims
    info = {}
    if args.build_index:
        from leann_rs_spark.catalog import build_token_index

        wh, _, name = args.build_index.rpartition("/")
        build_token_index(
            spark, wh, name, docs,
            id_col=args.id_col, text_col=args.text_col, dims=args.dims,
            n_centroids=args.centroids,
            centroid_policy=getattr(args, "centroid_policy", "take"),
        )
        args.index = args.build_index
    if args.index:
        from leann_rs_spark.catalog import load_token_index

        wh, _, name = args.index.rpartition("/")
        tok, info = load_token_index(spark, wh, name)
        id_col, dims = info["id_col"], info["dims"]
    else:
        tok = None
    queries = list(enumerate(args.query))
    if args.nprobe is not None:
        if "centroids" not in info:
            print(
                "--nprobe needs an --index built with --centroids",
                file=sys.stderr,
            )
            return 2
        hits = late_interaction_topk_batch_pruned(
            tok, info["centroids"], queries,
            k=args.top_k, nprobe=args.nprobe, dims=dims, id_col=id_col,
        )
    elif len(queries) == 1:
        if tok is not None and "centroids" in info:
            tok = tok.select(id_col, "token", "vec")
        hits = late_interaction_topk(
            docs, queries[0][1], k=args.top_k, dims=dims,
            id_col=id_col, text_col=args.text_col, token_index=tok,
        ).withColumn("query_id", F.lit(0))
    else:
        if tok is None:
            tok = token_embeddings(
                docs, id_col=id_col, text_col=args.text_col, dims=dims
            )
        elif "centroids" in info:
            tok = tok.select(id_col, "token", "vec")
        hits = late_interaction_topk_batch(
            tok, queries, k=args.top_k, dims=dims, id_col=id_col
        )
    text = {
        r[id_col]: r[args.text_col]
        for r in docs.join(hits.select(id_col), id_col)
        .select(id_col, args.text_col)
        .collect()
    }
    rows = hits.collect()
    for qid, q in queries:
        mine = [r for r in rows if r["query_id"] == qid]
        if len(queries) > 1:
            print(f"query [{qid}] {q!r}:")
        for i, r in enumerate(mine, 1):
            snippet = (text.get(r[id_col]) or "")[:80].replace("\n", " ")
            print(f"{i:2}. [{r[id_col]}] score={r['score_r']:.6f} {snippet}")
    return 0


def cmd_analyze(args) -> int:
    """One-shot corpus audit over a documents parquet: size, length
    percentiles, language mix, quality pass rate, exact-duplicate
    rate, top n-grams — the report a training-data build reads before
    setting chunking/packing/filter knobs. Composes the gated
    operators; every number is reproducible through the library."""
    import json as _json

    from leann_rs_spark.functions.text import tokenize
    from leann_rs_spark.functions.textstats import (
        gopher_keep,
        lang_id,
        top_ngrams,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    id_col, text_col = args.id_col, args.text_col
    # NULL text (common in dirty crawls) folds to '' so sizes stay >= 0
    # and the md5 duplicate check counts null-text rows as duplicates of
    # the empty document rather than vanishing from count_distinct
    txt = F.coalesce(F.col(text_col), F.lit(""))
    base = docs.select(
        id_col,
        F.length(txt).alias("__len"),
        F.size(tokenize(txt)).alias("__toks"),
        lang_id(txt).alias("__lang"),
        gopher_keep(txt).alias("__keep"),
        F.md5(txt).alias("__h"),
    ).persist()
    stats = base.agg(
        F.count("*").alias("n"),
        F.expr("percentile(__len, array(0.5, 0.9, 0.99))").alias("lp"),
        F.expr("percentile(__toks, array(0.5, 0.9, 0.99))").alias("tp"),
        F.sum("__toks").alias("total_tokens"),
        F.avg(F.col("__keep").cast("double")).alias("keep_rate"),
        F.count_distinct("__h").alias("uniq"),
    ).first()
    if not stats["n"]:
        base.unpersist()
        print(_json.dumps({"n_docs": 0}))
        return 0
    langs = {
        r["__lang"]: r["c"]
        for r in base.groupBy("__lang").agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc()).limit(8).collect()
    }
    grams = [
        (r["ngram"], r["n_occurrences"], r["n_docs"])
        for r in top_ngrams(
            docs, n=args.ngram_n, k=args.ngram_k,
            id_col=id_col, text_col=text_col,
        ).collect()
    ]
    base.unpersist()
    report = {
        "n_docs": stats["n"],
        "total_tokens": stats["total_tokens"],
        "chars_p50_p90_p99": [round(x, 1) for x in stats["lp"]],
        "tokens_p50_p90_p99": [round(x, 1) for x in stats["tp"]],
        "gopher_keep_rate": round(stats["keep_rate"], 4),
        "exact_dup_rate": round(1.0 - stats["uniq"] / stats["n"], 4),
        "languages": langs,
        "top_ngrams": grams,
    }
    print(_json.dumps(report, indent=2))
    return 0


def cmd_select(args) -> int:
    """DSIR importance resampling from the command line: pick the raw
    documents most like a target slice (operators/dsir.py,
    arXiv:2302.03169). --target-where is a SQL predicate defining the
    target domain within the input."""
    from leann_rs_spark.operators.dsir import dsir_select

    spark = _spark(args)
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    n_raw = docs.count()
    target = docs.filter(F.expr(args.target_where))
    n_t = target.count()
    if n_t == 0:
        print(f"error: --target-where matched no documents", file=sys.stderr)
        return 1
    cached: list = []
    sel = dsir_select(
        docs, target, n=args.n,
        buckets=args.buckets, temperature=args.temperature, seed=args.seed,
        id_col=args.id_col, text_col=args.text_col,
        intermediates=cached,
    )
    out = docs.join(
        F.broadcast(sel.select(args.id_col, "log_weight")), args.id_col
    )
    out.write.mode("overwrite").parquet(args.output)
    for df in cached:
        df.unpersist()
    n_out = spark.read.parquet(args.output).count()
    print(
        f"Selected {n_out}/{n_raw} docs toward target "
        f"({n_t} target docs) -> {args.output}"
    )
    return 0


def cmd_mix(args) -> int:
    """Temperature-based mixture sampling from the command line
    (sampling.temperature_mix, the XLM-R α-sampling rule): rebalance a
    corpus across a group column (language, source/domain) with
    q_g ∝ count^α — α < 1 upweights rare groups."""
    from leann_rs_spark.operators.sampling import temperature_mix

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    n_in = docs.count()
    out = temperature_mix(
        docs, args.group_col, args.alpha, args.target_n, args.key_col
    )
    out.write.mode("overwrite").parquet(args.output)
    kept = spark.read.parquet(args.output)
    n_out = kept.count()
    mix = {
        r[args.group_col]: r["n"]
        for r in kept.groupBy(args.group_col)
        .agg(F.count("*").alias("n"))
        .collect()
    }
    print(
        f"Kept {n_out}/{n_in} docs at alpha={args.alpha} "
        f"(target {args.target_n}) -> {args.output}"
    )
    for g in sorted(mix):
        print(f"  {g}: {mix[g]}")
    return 0


def cmd_blocks(args) -> int:
    """GPT-style concat-and-chunk from the command line
    (sampling.concat_chunk): the corpus token stream with EOD markers
    cut into fixed-size training blocks, documents split at block
    boundaries."""
    from leann_rs_spark.operators.sampling import concat_chunk

    spark = _spark(args)
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    cached: list = []
    out = concat_chunk(
        docs, args.block_size, id_col=args.id_col, text_col=args.text_col,
        eod=args.eod, intermediates=cached,
    )
    out.write.mode("overwrite").parquet(args.output)
    for df in cached:
        df.unpersist()
    res = spark.read.parquet(args.output)
    n_blocks = res.count()
    full = res.filter(F.col("n_tokens") == args.block_size).count()
    print(
        f"Wrote {n_blocks} blocks of {args.block_size} tokens "
        f"({full} full) -> {args.output}"
    )
    return 0


def cmd_sql(args) -> int:
    """Ad-hoc Spark SQL over the corpus tables (every *.parquet in
    --tables becomes a temp view named after the file) and, with
    --index, over a warehouse index's passages/embeddings
    (<name>_passages / <name>_embeddings) — the full ANSI-SQL surface
    the reference lacks (SURVEY §2.5), for free from Catalyst.
    Prints TSV with a header, capped at --max-rows."""
    import glob
    import os as _os

    spark = _spark(args)
    if args.tables:
        for p in sorted(glob.glob(f"{args.tables}/*.parquet")):
            name = _os.path.splitext(_os.path.basename(p))[0]
            spark.read.parquet(p).createOrReplaceTempView(name)
    if args.index:
        from leann_rs_spark.catalog import _index_dir

        base = _index_dir(args.warehouse, args.index)
        spark.read.parquet(f"{base}/passages").createOrReplaceTempView(
            f"{args.index}_passages"
        )
        emb_path = f"{base}/embeddings"
        if _os.path.isdir(emb_path):
            spark.read.parquet(emb_path).createOrReplaceTempView(
                f"{args.index}_embeddings"
            )
    df = spark.sql(args.query)
    rows = df.limit(args.max_rows).collect()
    print("\t".join(df.columns))
    for r in rows:
        print("\t".join("" if v is None else str(v) for v in r))
    return 0


def cmd_bpe(args) -> int:
    """Train a BPE vocabulary on the corpus and (optionally) encode it
    (operators/bpe.py): one corpus pass for word counts, then
    vocabulary-sized merge iterations. Merges print as JSON lines;
    --encode-to writes (doc_id, tokens, n_tokens) parquet."""
    import json as _json

    from leann_rs_spark.operators.bpe import bpe_encode, bpe_train

    spark = _spark(args)
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    merges = bpe_train(
        docs, args.merges, text_col=args.text_col, batch_k=args.batch_k
    )
    for i, (l, r, f) in enumerate(merges):
        print(_json.dumps(
            {"step": i + 1, "left": l, "right": r, "pair_freq": f}
        ))
    if args.encode_to:
        out = bpe_encode(
            docs, merges, id_col=args.id_col, text_col=args.text_col
        )
        out.write.mode("overwrite").parquet(args.encode_to)
        n = spark.read.parquet(args.encode_to).count()
        print(f"Encoded {n} docs with {len(merges)} merges "
              f"-> {args.encode_to}")
    return 0


def cmd_tune(args) -> int:
    """Accuracy/cost curves for a built ivf/ivfpq index: recall@k of
    probe-pruned search per nprobe (ann.ivf_recall_curve) and, when the
    index carries PQ codes, recall@k of ADC+refine per refine factor
    (pq.pq_refine_recall_curve) — the measurements that pick the
    production nprobe/refine knobs. Queries are the index's own first
    --queries embeddings (deterministic); the exact baseline is Q×N by
    construction, so run it on the sample, not per-query online."""
    import json as _json

    from leann_rs_spark.catalog import _index_dir, load_meta
    from leann_rs_spark.operators.ann import ivf_recall_curve

    spark = _spark(args)
    meta = load_meta(args.warehouse, args.name)

    def geometric(n: int) -> list[int]:
        # 1, 2, 4, ... below C, then C: resolution across the whole
        # operating range whatever the (auto-sized) codebook is
        return [1 << i for i in range(n.bit_length()) if 1 << i < n] + [n]

    if getattr(args, "li_query", None):
        # late-interaction rung: probe-width recall/candidate curve of
        # the centroid-ROUTED token index (li_probe_recall_curve) —
        # the PLAID knob-picking flow over the persisted artifact
        from leann_rs_spark.catalog import load_token_index
        from leann_rs_spark.operators.late_interaction import (
            li_probe_recall_curve,
        )

        tok, info = load_token_index(spark, args.warehouse, args.name)
        if "centroids" not in info:
            print(
                f"error: token index {args.name!r} is not centroid-"
                "routed — rebuild with n_centroids",
                file=sys.stderr,
            )
            return 1
        n_cent = int(info["n_centroids"])
        queries = list(enumerate(args.li_query))
        curve = li_probe_recall_curve(
            tok, info["centroids"], queries, k=args.top_k,
            nprobes=geometric(n_cent), dims=info["dims"],
            id_col=info["id_col"],
        ).collect()
        print(_json.dumps({
            "index": args.name,
            "backend": "token",
            "n_centroids": n_cent,
            "k": args.top_k,
            "queries": len(queries),
            "probe_curve": {
                str(r["nprobe"]): {
                    "n_candidates": r["n_candidates"],
                    "recall": r["recall_r"],
                }
                for r in curve
            },
        }))
        return 0
    if meta.backend != "ivf":
        print(f"error: index {args.name!r} has no IVF layout", file=sys.stderr)
        return 1
    base = _index_dir(args.warehouse, args.name)
    assigned = spark.read.parquet(f"{base}/ivf")
    cents = spark.read.parquet(f"{base}/ivf_centroids")
    emb = spark.read.parquet(f"{base}/embeddings")
    queries = (
        emb.orderBy("idx").limit(args.queries)
        .select(F.col("idx").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    n_cent = int(meta.extra.get("ivf_centroids", 16))
    curve = ivf_recall_curve(
        assigned.select("idx", "embedding", "cluster_id"), cents, queries,
        k=args.top_k, nprobes=geometric(n_cent), id_col="idx",
    ).collect()
    report = {
        "index": args.name,
        "backend": "ivfpq" if "pq_m" in meta.extra else "ivf",
        "n_centroids": n_cent,
        "k": args.top_k,
        "queries": args.queries,
        "nprobe_recall": {str(r["nprobe"]): r["recall_r"] for r in curve},
    }
    if "pq_m" in meta.extra:
        from leann_rs_spark.operators.pq import (
            codebook_from_rows,
            pq_refine_recall_curve,
        )

        cb = codebook_from_rows(
            spark.read.parquet(f"{base}/pq_codebook").collect()
        )
        pq_curve = pq_refine_recall_curve(
            emb, cb, queries, k=args.top_k, refines=[1, 2, 4, 8],
            id_col="idx",
        ).collect()
        report["pq_refine_recall"] = {
            str(r["refine"]): r["recall_r"] for r in pq_curve
        }
    print(_json.dumps(report, indent=2))
    return 0


def cmd_import_index(args) -> int:
    """Migrate an existing reference index (JSONL passages + ids.txt +
    flat-f32 embeddings + meta.json) into the Parquet catalog — after
    this every read-path command (search/ask/serve) works against it."""
    from leann_rs_spark.sources.leann_import import import_reference_index

    spark = _spark(args)
    meta = import_reference_index(
        spark, args.src_dir, args.warehouse, args.name,
        with_bm25=not args.no_bm25,
    )
    print(
        f"Imported '{args.name}': {meta.passage_count} passages, "
        f"dims={meta.dimensions}, mode={meta.embedding_mode}"
        f"{' (pruned)' if meta.is_pruned else ''}"
    )
    return 0


def cmd_export_index(args) -> int:
    """Write an index out in the reference's single-node format —
    build at Spark scale, serve with the reference binary (it rebuilds
    its ANN graph from these files)."""
    from leann_rs_spark.sources.leann_import import export_reference_index

    spark = _spark(args)
    s = export_reference_index(spark, args.warehouse, args.name, args.out_dir)
    print(
        f"Exported '{args.name}': {s['passages']} passages, "
        f"{s['embeddings']} embeddings -> {s['out_dir']}"
        f"{' (pruned)' if s['pruned'] else ''}"
    )
    return 0


def cmd_config(args) -> int:
    from leann_rs_spark.config import Config, create_example_if_missing

    if args.action == "path":
        print(args.config or Config.config_path())
    elif args.action == "init":
        created = create_example_if_missing(args.config)
        print("Created example config." if created else "Config already exists.")
    else:  # show
        print(Config.load(args.config).to_toml())
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="leann-spark", description="PySpark-native vector engine for RAG"
    )
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, docs=False, query=False):
        sp.add_argument("name", help="index name")
        sp.add_argument("--warehouse", default=DEFAULT_WAREHOUSE)
        if docs:
            sp.add_argument("--docs", required=True,
                            help="documents parquet path or directory to scan")
        if query:
            sp.add_argument("--top-k", type=int, default=5, dest="top_k")

    b = sub.add_parser("build", help="Build a document index")
    common(b, docs=True)
    b.add_argument("--chunk-size", type=int, default=256, dest="chunk_size")
    b.add_argument("--chunk-overlap", type=int, default=128, dest="chunk_overlap")
    b.add_argument("--chunking-strategy", default="auto",
                   choices=["auto", "simple", "ast"], dest="chunking_strategy")
    b.add_argument("--dims", type=int, default=64)
    b.add_argument("--backend", default="exact",
                   choices=["exact", "ivf", "ivfpq"])
    b.add_argument("--pq-m", type=int, default=8, dest="pq_m",
                   help="ivfpq: subspaces per vector (dims % m == 0)")
    b.add_argument("--pq-k", type=int, default=16, dest="pq_k",
                   help="ivfpq: sub-centroids per subspace")
    b.add_argument("--file-types", default=None, dest="file_types",
                   help="comma-separated extension allowlist (dir builds)")
    b.add_argument("--exclude-types", default=None, dest="exclude_types")
    b.add_argument("--max-files", type=int, default=None, dest="max_files")
    b.add_argument("--max-file-size-kb", type=int, default=None,
                   dest="max_file_size_kb")
    b.add_argument(
        "--ivf-centroids", type=_centroids_arg, default=None,
        dest="ivf_centroids", metavar="N|auto",
        help="IVF codebook size; 'auto' (default) sizes it as "
             "4*sqrt(N) — a frozen C is the measured scale failure mode",
    )
    b.add_argument("--embedding-mode", default="hash", dest="embedding_mode",
                   choices=["hash", "openai", "ollama", "gemini"])
    b.add_argument("--embedding-model", default=None, dest="embedding_model")
    b.add_argument("--embedding-base-url", default=None, dest="embedding_base_url",
                   help="override provider endpoint (e.g. a local gateway)")
    b.add_argument("--api-key", default=None, dest="api_key",
                   help="falls back to OPENAI_API_KEY / GEMINI_API_KEY")
    b.add_argument("--config", default=None)
    b.set_defaults(fn=cmd_build)

    u = sub.add_parser("update", help="Update an existing index")
    common(u, docs=True)
    u.add_argument("--embedding-base-url", default=None, dest="embedding_base_url")
    u.add_argument("--api-key", default=None, dest="api_key")
    u.add_argument(
        "--ivf-rebuild", action="store_true", dest="ivf_rebuild",
        help="re-derive the whole IVF layout (re-learns a kmeans "
             "codebook) instead of the O(batch) frozen-codebook append",
    )
    u.set_defaults(fn=cmd_update)

    s = sub.add_parser("search", help="Search documents in an index")
    common(s, query=True)
    s.add_argument("query")
    s.add_argument("--filter", default=None)
    s.add_argument("--hybrid", action="store_true")
    s.add_argument("--hybrid-alpha", type=float, default=0.7, dest="hybrid_alpha")
    s.add_argument("--json", action="store_true")
    s.add_argument("--exact", action="store_true",
                   help="force the exact path even on an ivf-backed index")
    s.add_argument("--nprobe", type=int, default=4)
    s.add_argument("--no-pq", action="store_true", dest="no_pq",
                   help="scan full vectors even on a pq-enabled index")
    s.add_argument("--pq-refine", type=int, default=4, dest="pq_refine",
                   help="exact-rescore the top refine*k ADC candidates")
    s.add_argument("--embedding-base-url", default=None, dest="embedding_base_url")
    s.add_argument("--api-key", default=None, dest="api_key")
    s.set_defaults(fn=cmd_search)

    a = sub.add_parser("ask", help="Ask questions using RAG")
    common(a, query=True)
    a.add_argument("question", nargs="?", default=None)
    a.add_argument("--interactive", "-i", action="store_true",
                   help="chat REPL with in-memory history (ask.rs:200-317)")
    a.add_argument("--llm", default="simulated",
                   choices=["simulated", "openai", "ollama", "anthropic"])
    a.add_argument("--llm-model", default=None, dest="llm_model")
    a.add_argument("--llm-base-url", default=None, dest="llm_base_url")
    a.add_argument("--api-key", default=None, dest="api_key")
    a.set_defaults(fn=cmd_ask)

    r = sub.add_parser("react", help="ReAct agent for multi-turn reasoning")
    common(r)
    r.add_argument("question")
    r.add_argument("--top-k", type=int, default=3, dest="top_k")
    r.add_argument("--max-steps", type=int, default=5, dest="max_steps")
    r.add_argument("--llm", default="simulated",
                   choices=["simulated", "openai", "ollama", "anthropic"])
    r.add_argument("--llm-model", default=None, dest="llm_model")
    r.add_argument("--llm-base-url", default=None, dest="llm_base_url")
    r.add_argument("--api-key", default=None, dest="api_key")
    r.set_defaults(fn=cmd_react)

    sv = sub.add_parser("serve", help="Start HTTP API server")
    common(sv)
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=3000)
    sv.set_defaults(fn=cmd_serve)

    mc = sub.add_parser("mcp", help="Start MCP server (stdio)")
    common(mc)
    mc.set_defaults(fn=cmd_mcp)

    ls = sub.add_parser("list", help="List all indexes")
    ls.add_argument("--warehouse", default=DEFAULT_WAREHOUSE)
    ls.set_defaults(fn=cmd_list)

    rm = sub.add_parser("remove", help="Remove an index")
    common(rm)
    rm.add_argument("--force", "-f", action="store_true")
    rm.set_defaults(fn=cmd_remove)

    pr = sub.add_parser("prune", help="Prune embeddings (recompute mode)")
    common(pr)
    pr.set_defaults(fn=cmd_prune)

    cpx = sub.add_parser(
        "compact",
        help="Compact the IVF layout to one file per cluster "
             "(after incremental updates)",
    )
    common(cpx)
    cpx.add_argument(
        "--what", choices=["ivf", "token", "sigs"], default="ivf",
        help="which artifact to compact: the IVF layout (default),"
             " the late-interaction token index, or the minhash"
             " signature table",
    )
    cpx.set_defaults(fn=cmd_compact)

    rf = sub.add_parser(
        "refresh",
        help="Refresh the IVF codebook against the current corpus "
             "(re-learn/refine centroids; rewrite only partitions whose "
             "membership changed — the drift-recovery middle rung "
             "between incremental update and a full rebuild)",
    )
    common(rf)
    rf.add_argument(
        "--centroids", type=int, default=None, metavar="C",
        help="resize the codebook to C (default: keep the built size; "
             "same-size kmeans indexes warm-start from the existing "
             "centroids)",
    )
    rf.set_defaults(fn=cmd_refresh)

    sg = sub.add_parser(
        "sigs",
        help="persisted MinHash signature artifact: build over a"
             " corpus, append an ingest batch, or run ingest-time"
             " near-dup against it",
    )
    common(sg)
    sg.add_argument("--input", help="docs parquet to build/append from")
    sg.add_argument("--append", action="store_true",
                    help="append --input to an existing artifact")
    sg.add_argument("--query",
                    help="ingest batch parquet: report near-dups vs the corpus")
    sg.add_argument("--corpus",
                    help="corpus docs parquet (verify stage; required with --query)")
    sg.add_argument("--id-col", default="doc_id")
    sg.add_argument("--num-hashes", type=int, default=16)
    sg.add_argument("--shingle-k", type=int, default=5)
    sg.add_argument("--bands", type=int, default=None,
                    help="LSH bands (build: recorded in meta as the"
                         " artifact's default; query: overrides it;"
                         " must divide num-hashes)")
    sg.add_argument("--threshold", type=float, default=0.5)
    sg.set_defaults(fn=cmd_sigs)

    cf = sub.add_parser("config", help="Manage configuration")
    cf.add_argument("action", choices=["show", "init", "path"])
    cf.add_argument("--config", default=None)
    cf.set_defaults(fn=cmd_config)

    cu = sub.add_parser(
        "curate",
        help="Curate a documents parquet: quality gate + dedup + split",
    )
    cu.add_argument("--input", required=True, help="documents parquet path")
    cu.add_argument("--output", required=True, help="output parquet path")
    cu.add_argument("--id-col", default="doc_id", dest="id_col")
    cu.add_argument("--text-col", default="text", dest="text_col")
    cu.add_argument("--min-words", type=int, default=None, dest="min_words")
    cu.add_argument(
        "--min-stopword-hits", type=int, default=None, dest="min_stopword_hits"
    )
    cu.add_argument(
        "--minhash-threshold", type=float, default=0.5, dest="minhash_threshold"
    )
    cu.add_argument(
        "--cut-dup-spans", type=int, default=None, dest="cut_dup_spans",
        metavar="N",
        help="also cut every token covered by a corpus-duplicated "
             "N-token gram from the surviving docs",
    )
    cu.add_argument(
        "--sigs-warehouse", default=None, dest="sigs_warehouse",
        help="serve the MinHash stage from a persisted signature "
             "artifact (see `sigs`) instead of re-shingling",
    )
    cu.add_argument(
        "--sigs-name", default="sigs", dest="sigs_name",
        help="artifact name inside --sigs-warehouse",
    )
    cu.add_argument(
        "--minhash-max-bucket", type=int, default=None,
        dest="minhash_max_bucket", metavar="B",
        help="hot-bucket guard: LSH buckets larger than B are chained"
             " (O(B) spanning pairs) instead of all-paired (O(B^2));"
             " cluster/keep output is component-equivalent for"
             " near-identical clusters (verifying members contiguous in"
             " signature order), a spanning approximation otherwise",
    )
    cu.set_defaults(fn=cmd_curate)

    cl = sub.add_parser(
        "clean",
        help="Prepare raw-crawl text: strip HTML and/or NFC-normalize",
    )
    cl.add_argument("--input", required=True, help="documents parquet path")
    cl.add_argument("--output", required=True, help="output parquet path")
    cl.add_argument("--text-col", default="text", dest="text_col")
    cl.add_argument(
        "--strip-html", action="store_true", dest="strip_html",
        help="drop script/style/comment content, strip tags, unescape "
             "common entities, collapse whitespace",
    )
    cl.add_argument(
        "--nfc", action="store_true",
        help="Unicode NFC normalization (composed forms; makes "
             "hash-keyed dedup see decomposed twins as equal)",
    )
    cl.set_defaults(fn=cmd_clean)

    an = sub.add_parser(
        "analyze",
        help="Corpus audit report: size, lengths, languages, quality,"
             " duplicate rate, top n-grams",
    )
    an.add_argument("--input", required=True, help="documents parquet path")
    an.add_argument("--id-col", default="doc_id", dest="id_col")
    an.add_argument("--text-col", default="text", dest="text_col")
    an.add_argument("--ngram-n", type=int, default=3, dest="ngram_n")
    an.add_argument("--ngram-k", type=int, default=10, dest="ngram_k")
    an.set_defaults(fn=cmd_analyze)

    dr = sub.add_parser(
        "drift",
        help="Token-distribution KL drift of each corpus slice vs the"
             " whole corpus",
    )
    dr.add_argument("--input", required=True, help="documents parquet path")
    dr.add_argument("--group-col", default="source", dest="group_col")
    dr.add_argument("--text-col", default="text", dest="text_col")
    dr.set_defaults(fn=cmd_drift)

    st = sub.add_parser(
        "stats",
        help="exact per-column table statistics (the ANALYZE pass)",
    )
    st.add_argument("--input", required=True, help="parquet path")
    st.add_argument(
        "--cols", nargs="+", required=True, help="numeric columns to profile"
    )
    st.add_argument(
        "--approx", action="store_true",
        help="approx_count_distinct instead of exact ndv (corpus scale)",
    )
    st.set_defaults(fn=cmd_stats)

    lo = sub.add_parser(
        "layout",
        help="re-cluster a parquet table by a Z-order (Morton) key"
             " for multi-dimensional scan pruning",
    )
    lo.add_argument("--input", required=True, help="source parquet path")
    lo.add_argument("--output", required=True, help="destination parquet path")
    lo.add_argument(
        "--by", nargs="+", required=True,
        help="columns to interleave into the clustering key",
    )
    lo.add_argument("--bits", type=int, default=8)
    lo.add_argument("--files", type=int, default=32)
    lo.set_defaults(fn=cmd_layout)

    ms = sub.add_parser(
        "msearch",
        help="Multi-vector (ColBERT-style MaxSim) search over a"
             " documents parquet",
    )
    ms.add_argument("query", nargs="+", help="query text (repeat for a batch)")
    ms.add_argument("--input", required=True, help="documents parquet path")
    ms.add_argument("--top-k", type=int, default=5, dest="top_k")
    ms.add_argument("--dims", type=int, default=64)
    ms.add_argument("--id-col", default="doc_id", dest="id_col")
    ms.add_argument("--text-col", default="text", dest="text_col")
    ms.add_argument(
        "--index", default=None, dest="index",
        help="WAREHOUSE/NAME of a persisted token index"
             " (catalog.build_token_index); skips per-call token embedding",
    )
    ms.add_argument(
        "--build-index", default=None, dest="build_index",
        help="WAREHOUSE/NAME: build+persist the token index from --input"
             " first, then search it",
    )
    ms.add_argument(
        "--centroids", type=int, default=None,
        help="with --build-index: route the token index over C"
             " centroids and partition it by cid (enables --nprobe)",
    )
    ms.add_argument(
        "--centroid-policy", choices=["take", "kmeans"], default="take",
        dest="centroid_policy",
        help="routing codebook: lexicographic take sample (default) or"
             " seeded spherical k-means over the vocabulary",
    )
    ms.add_argument(
        "--nprobe", type=int, default=None,
        help="centroid-routed candidate pruning: probe each query"
             " token's nprobe nearest centroids and rescore only"
             " candidate docs (requires a --centroids-built index)",
    )
    ms.set_defaults(fn=cmd_msearch)

    se = sub.add_parser(
        "select",
        help="DSIR importance resampling toward a target slice",
    )
    se.add_argument("--input", required=True, help="documents parquet path")
    se.add_argument("--output", required=True, help="output parquet path")
    se.add_argument(
        "--target-where", required=True, dest="target_where",
        help="SQL predicate defining the target domain, e.g."
             " \"source = 'wiki' AND lang = 'en'\"",
    )
    se.add_argument("-n", "--n", type=int, required=True,
                    help="documents to select")
    se.add_argument("--buckets", type=int, default=4096)
    se.add_argument("--temperature", type=float, default=1.0)
    se.add_argument("--seed", type=int, default=42)
    se.add_argument("--id-col", default="doc_id", dest="id_col")
    se.add_argument("--text-col", default="text", dest="text_col")
    se.set_defaults(fn=cmd_select)

    mx = sub.add_parser(
        "mix",
        help="Temperature (alpha) mixture sampling across a group column",
    )
    mx.add_argument("--input", required=True, help="documents parquet path")
    mx.add_argument("--output", required=True, help="output parquet path")
    mx.add_argument("--group-col", default="lang", dest="group_col")
    mx.add_argument("--alpha", type=float, default=0.3)
    mx.add_argument("--target-n", type=int, required=True, dest="target_n",
                    help="target sample size across all groups")
    mx.add_argument("--key-col", default="doc_id", dest="key_col")
    mx.set_defaults(fn=cmd_mix)

    bl = sub.add_parser(
        "blocks",
        help="Concat-and-chunk the corpus into fixed token blocks",
    )
    bl.add_argument("--input", required=True, help="documents parquet path")
    bl.add_argument("--output", required=True, help="output parquet path")
    bl.add_argument("--block-size", type=int, default=2048, dest="block_size")
    bl.add_argument("--eod", default="<|endofdoc|>")
    bl.add_argument("--id-col", default="doc_id", dest="id_col")
    bl.add_argument("--text-col", default="text", dest="text_col")
    bl.set_defaults(fn=cmd_blocks)

    sq = sub.add_parser(
        "sql",
        help="Run ad-hoc Spark SQL over corpus tables / a warehouse index",
    )
    sq.add_argument("query", help="SQL to run")
    sq.add_argument("--tables", default=None,
                    help="dir whose *.parquet files become temp views")
    sq.add_argument("--index", default=None,
                    help="warehouse index to expose as <name>_passages/"
                         "<name>_embeddings views")
    sq.add_argument("--warehouse", default=DEFAULT_WAREHOUSE)
    sq.add_argument("--max-rows", type=int, default=100, dest="max_rows")
    sq.set_defaults(fn=cmd_sql)

    bp = sub.add_parser(
        "bpe",
        help="Train a BPE vocabulary (and optionally encode the corpus)",
    )
    bp.add_argument("--input", required=True, help="documents parquet path")
    bp.add_argument("--merges", type=int, default=200,
                    help="merge count; wall time is ~merges/batch-k "
                         "vocab-sized Spark rounds")
    bp.add_argument("--batch-k", type=int, default=1, dest="batch_k",
                    help="disjoint merges applied per round (1 = classic "
                         "BPE order; raise for large vocabs — counts stay "
                         "exact, only interleaving order differs)")
    bp.add_argument("--encode-to", default=None, dest="encode_to",
                    help="also encode the corpus to this parquet path")
    bp.add_argument("--id-col", default="doc_id", dest="id_col")
    bp.add_argument("--text-col", default="text", dest="text_col")
    bp.set_defaults(fn=cmd_bpe)

    tu = sub.add_parser(
        "tune",
        help="Recall curves for an ivf/ivfpq index: pick nprobe/refine",
    )
    tu.add_argument("name")
    tu.add_argument("--warehouse", default=DEFAULT_WAREHOUSE)
    tu.add_argument("--queries", type=int, default=20)
    tu.add_argument("--top-k", type=int, default=10, dest="top_k")
    tu.add_argument(
        "--li-query", action="append", dest="li_query",
        help="tune the centroid-routed TOKEN index instead: probe-"
             "width recall/candidate curve for these text queries"
             " (repeatable)",
    )
    tu.set_defaults(fn=cmd_tune)

    im = sub.add_parser(
        "import-index",
        help="Import a reference (leann-rs) index directory into the "
             "warehouse (passages + embeddings + meta [+ BM25])",
    )
    im.add_argument("name", help="index name in the warehouse")
    im.add_argument(
        "--from", required=True, dest="src_dir",
        help="reference index directory (.leann/indexes/<name>)",
    )
    im.add_argument("--warehouse", default=DEFAULT_WAREHOUSE)
    im.add_argument(
        "--no-bm25", action="store_true",
        help="skip building BM25 postings for the imported passages",
    )
    im.set_defaults(fn=cmd_import_index)

    ex = sub.add_parser(
        "export-index",
        help="Export a warehouse index to the reference's on-disk "
             "format (JSONL + ids.txt + flat-f32 embeddings + meta)",
    )
    ex.add_argument("name", help="index name in the warehouse")
    ex.add_argument(
        "--to", required=True, dest="out_dir",
        help="output directory for the reference-format files",
    )
    ex.add_argument("--warehouse", default=DEFAULT_WAREHOUSE)
    ex.set_defaults(fn=cmd_export_index)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
