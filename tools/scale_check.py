#!/usr/bin/env python3
"""Reproduce the SURVEY §10 10× scale validation.

Builds a 10× corpus in a scratch dir with tools/make_sf1.py's
generator (each sf0.1 doc gains 9 planted near-dups via a ' v<k>'
suffix — a dup-heavy-crawl stress; events shift ids and time), then
times the operator families at 1× and 10× and prints one JSON line per
run.

Usage:
    python3 tools/scale_check.py [--base /root/testdata/sf0.1]
                                 [--scratch /tmp/leann-scale10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--scratch", default="/tmp/leann-scale10")
    args = ap.parse_args()
    from tools.make_sf1 import build

    build(args.base, args.scratch)

    import __spark_entry__ as entry
    from leann_rs_spark.session import get_spark

    spark = get_spark(app_name="scale-check")
    qs = entry.queries()
    # operators whose scale behavior the SURVEY claims; curation and
    # semantic dedup exercise the measured plan fixes end-to-end
    names = [
        "x_dedup_exact", "x_exact_substr", "x_cluster_assign",
        "x_dedup_minhash", "x_ann_lsh_near_dups", "x_semantic_dedup",
        "x_curation_pipeline", "x_asof_join", "x_interval_join",
        "x_sessionize", "x_window_stats", "x_hopping_stats",
        # round-4 additions: compressed-ANN and importance-resampling
        # families (PQ encode+ADC is a linear projection pass; IVF-PQ
        # adds probe pruning; DSIR is two count shuffles + broadcast
        # scoring; the recall sweep is the Q×N diagnostic shape)
        "x_pq_topk", "x_ivfpq_topk", "x_pq_recall", "x_dsir_select",
        "x_stream_dedup",
        # late-round-4 families: BQ is a pack projection + Hamming
        # TakeOrdered (flat expected); concat_chunk is the two-pass
        # prefix sum + bounded reassembly (token-proportional);
        # paragraph dedup is two bounded shuffles (dup-proportional);
        # hard negatives broadcast Q anchors over the corpus scan
        # (corpus-proportional, never shuffled); temperature mix is a
        # count + broadcast filter (flat)
        "x_bq_topk", "x_concat_chunk", "x_paragraph_dedup",
        "x_hard_negatives", "x_temperature_mix", "x_rrf_hybrid",
        "x_mrl_topk",
        # BPE: corpus pass once, then vocab-sized iterations — 10×
        # grows the corpus pass only (the dup suffixes add few new
        # words); ccnet adds the lm_score count shuffles
        "x_bpe_merges", "x_ccnet_buckets",
        # round-4c families: rolling features is one shared-window
        # Exchange (event-proportional); the classifier is a pure
        # projection (flat per-row); Bloom probe is a broadcast join +
        # batch-sized groupBy (batch-proportional — the corpus cost is
        # the once-built sketch); URL dedup is a projection + one
        # groupBy on the canonical string
        "x_rolling_features", "x_quality_classifier", "x_bloom_dedup",
        "x_url_dedup",
        # round-4d/e families: lm_ref is two count shuffles over the
        # train slice + broadcastable count joins; budget_select is the
        # sort-key-sharded prefix sum; media phash is a banded
        # self-join (candidate-proportional — planted near-dups
        # multiply pairs at 10×); span decontam is a broadcast
        # semi-join; keywords is one tf shuffle + doc-sized windows
        "x_lm_ref_score", "x_budget_select", "x_media_phash_dups",
        "x_decontaminate_spans", "x_tfidf_keywords",
        # session-6 families: resample spine grows with entities (10×
        # users, same per-user horizon — flat per entity); funnel is k
        # co-partitioned aggregations (event-proportional); retrieval
        # eval joins run×qrels (corpus-proportional via the ranking
        # scan); the source matrix rides the minhash candidate set
        # (pair-proportional, like x_dedup_minhash)
        "x_resample_ffill", "x_funnel", "x_retrieval_eval",
        "x_dup_source_matrix",
        # interpolation shares the ffill shape (one extra window pair
        # over the same Exchange); upsert is one left-anti join + a
        # full rewrite — rewrite-proportional by design, the
        # partition-pruning knob is the 100 TB lever
        "x_resample_interp", "x_upsert",
        # edit-distance dedup: candidate-proportional (segment collisions
        # multiply with planted dups, like every blocking dedup)
        "x_dedup_editdist",
        # round-5 additions (VERDICT r5 task 6): html_to_text is a
        # zero-shuffle native regexp projection (flat per row); NFC is
        # the one Arrow-batched mapInPandas stage (row-proportional,
        # no shuffle); IVF-SQ8 reads the persisted code parquet with
        # probe-pruned partitions (flat-ish — scan ∝ (nprobe/C)·N)
        "x_html_strip", "x_text_nfc", "x_ivfsq_topk",
        # round-6 additions: the crawl capstone rides textprep (one
        # Python-free projection + one Arrow map pass) in front of the
        # already-measured curation composition; audio features are a
        # zero-shuffle HOF projection (flat per row)
        "x_crawl_pipeline", "x_media_audio_features",
        # late interaction: the token-index build (vocab-sized embed +
        # one distinct shuffle) dominates; MaxSim itself is one groupBy.
        # token KL: one token-count shuffle + vocab-sized re-aggregates
        "x_late_interaction", "x_token_kl",
        # embedding drift: two inline-codebook map passes + C-row
        # aggregations (flat per row); dedup P/R rides the minhash
        # banded join (candidate-proportional like x_dedup_minhash)
        "x_embedding_drift", "x_dedup_pr",
        # round-7 additions: batch MaxSim scans the persisted token
        # index once per batch (build+read timed at each scale — the
        # _fx memo is per sf_dir); the banding sweep is one unioned
        # banded self-join over a probe-sized corpus (candidate-
        # proportional); video near-dup is the frame-aligned banded
        # join (candidate-proportional, planted dups multiply pairs)
        "x_late_interaction_batch", "x_dedup_pr_bands",
        "x_video_near_dups",
        # quantized late-interaction rung: ADC over the PQ code table
        # (M ints/token scanned), refined adds the exact rescore of
        # refine*k docs; the appended-index gate reads the even+odd
        # appended artifact (build once per sf_dir via _fx)
        "x_late_interaction_pq", "x_late_interaction_refined",
        "x_token_index_append",
        # round-7b additions: centroid-routed candidate generation
        # reads probed-cid partitions only (directory pruning) before
        # the broadcast-pair rescore; the probe-recall sweep is ONE
        # rescore of the max-probe candidates + filters per sweep
        # point; leakage-safe split is the components loop + one hash
        # projection (component-proportional); zorder is one min/max
        # aggregate + a pure projection + the per-cell groupBy
        "x_late_interaction_pruned", "x_li_probe_recall",
        "x_leakage_safe_split", "x_zorder_layout",
        # token-index compaction: serving from the one-file-per-
        # partition layout (the compact itself is the once-per-process
        # _fx build, recorded as first_call)
        "x_token_index_compact",
        # ANALYZE stats: one aggregation pass, flat per row
        "x_table_stats",
        # salted join: one (key, bucket) shuffle — row-proportional,
        # the salt only flattens per-reducer skew
        "x_salted_join",
        # snapshot diff: one full-outer key shuffle (the upsert's own
        # exchange) — row-proportional
        "x_table_diff",
        # LI x BM25 fusion: two candidate producers (token-index scan
        # + BM25 postings) + a candidate-set-sized rank fusion
        "x_li_bm25_hybrid",
        # routing-balance audit: one groupBy over the routed artifact
        "x_token_cid_balance",
        # round-8: kmeans-routed serving (covering probe ≡ exact) —
        # same artifact-read shape as the take-routed pruned gate;
        # persisted-signature incremental dedup reads (id, sig) parquet
        # instead of re-shingling the corpus (candidate-proportional
        # verify, corpus-scan-free signature side)
        "x_li_kmeans_pruned", "x_minhash_index_dedup",
        # stream-ingested signature artifact serves the same query —
        # the foreachBatch append is O(batch) per micro-batch;
        # signature-only triage never touches corpus text at all
        "x_stream_sigs_ingest", "x_minhash_sig_estimate",
        # staged triage -> exact verify: text reads bounded by triage
        # survivors (the 100 TB dedup cost shape)
        "x_dedup_triage_pipeline",
    ]
    # Untimed steady-state warmup at the smoke sf (bench.py's
    # convention): first-use codegen/JIT otherwise lands on whichever
    # 1× row runs the query first — SCALE_r04's x_dedup_editdist
    # recorded a physically implausible 12.96 s at 1× vs 6.27 s at
    # 10× for exactly this reason.
    qs_warm = entry.queries()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name in names:
            try:
                qs_warm[name](spark, warm_dir).count()
            except Exception as exc:
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)
            spark.catalog.clearCache()

    # _fx-artifact-backed gates: the FIRST call at a given sf_dir pays
    # the one-time artifact build (token index, PQ codebook+codes, the
    # appended ladder). Record that build cost explicitly as
    # `{label}_first_call`, then time the steady-state read path —
    # matching bench's "read-path-timed" semantics (an index is a
    # durable artifact; its build is the write path, measured once).
    artifact_gates = {
        "x_late_interaction_batch", "x_late_interaction_pq",
        "x_late_interaction_refined", "x_token_index_append",
        "x_late_interaction_pruned", "x_li_probe_recall",
        "x_token_index_compact", "x_li_bm25_hybrid",
        "x_token_cid_balance", "x_li_kmeans_pruned",
        "x_minhash_index_dedup", "x_stream_sigs_ingest",
        "x_minhash_sig_estimate", "x_dedup_triage_pipeline",
    }
    results: dict[str, dict] = {}
    for name in names:
        results[name] = {}
        for sf_dir, label in ((args.base, "1x"), (args.scratch, "10x")):
            if name in artifact_gates:
                t0 = time.perf_counter()
                try:
                    qs[name](spark, sf_dir).count()
                except Exception as exc:
                    print(f"# {name} {label} FAILED: {exc}", file=sys.stderr)
                    continue
                results[name][f"{label}_first_call"] = round(
                    time.perf_counter() - t0, 2
                )
                spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                n = qs[name](spark, sf_dir).count()
            except Exception as exc:
                print(f"# {name} {label} FAILED: {exc}", file=sys.stderr)
                continue
            dt = round(time.perf_counter() - t0, 2)
            results[name][label] = dt
            results[name][f"{label}_rows"] = n
            print(f"# {label:3} {name}: {dt}s rows={n}", file=sys.stderr)
            spark.catalog.clearCache()

    results["curation_stages"] = curation_stage_timings(spark, args)
    spark.catalog.clearCache()
    results["asof_skew"] = asof_skew_check(spark, args)
    spark.catalog.clearCache()
    results["hot_bucket"] = hot_bucket_check(spark, args)
    spark.catalog.clearCache()
    results["simhash_hot_bucket"] = simhash_hot_bucket_check(spark, args)
    spark.catalog.clearCache()
    results["lsh_hot_bucket"] = lsh_hot_bucket_check(spark, args)
    spark.catalog.clearCache()
    results["salted_equi_skew"] = salted_equi_skew_check(spark, args)
    spark.catalog.clearCache()
    results["curation_sigs_rerun"] = curation_sigs_rerun_check(spark, args)
    spark.catalog.clearCache()
    results["ivf_codebook_balance"] = ivf_balance_check(spark, args)
    spark.catalog.clearCache()
    results["ivf_append_modes"] = ivf_append_modes_check(spark, args)
    spark.catalog.clearCache()
    results["ivf_drift_recall"] = ivf_drift_recall_check(spark, args)
    spark.catalog.clearCache()
    results["ivf_refresh"] = ivf_refresh_check(spark, args)
    spark.catalog.clearCache()
    results["streaming_economics"] = streaming_economics_check(spark, args)
    spark.catalog.clearCache()
    results["upsert_pruning"] = upsert_prune_check(spark, args)
    spark.catalog.clearCache()
    results["audio_real"] = audio_real_check(spark, args)
    spark.catalog.clearCache()
    results["zorder_pruning"] = zorder_prune_check(spark, args)
    spark.catalog.clearCache()
    results["li_routing_balance"] = li_routing_balance_check(spark, args)
    spark.catalog.clearCache()
    results["li_routing_prune"] = li_routing_prune_check(spark, args)
    # measurement conditions: shared-host load keeps masquerading as
    # plan regressions (bench.py records the same field)
    results["load_avg_1_5_15"] = [round(x, 2) for x in os.getloadavg()]
    results["ncpus"] = os.cpu_count()
    print(json.dumps(results))
    spark.stop()


def zorder_prune_check(spark, args) -> dict:
    """File-level locality the z-order layout buys, at 1×/10×: write
    events clustered by the Morton key over (user_id, value) and by a
    1-D user_id sort, then count the files HOLDING rows of a selective
    2-D box — 10% of the user range × the value P95 tail (~0.5% of
    rows; "top-value events for a user cohort", the probe a 1-D user
    sort cannot serve: the rare high values live in EVERY user stripe,
    so the linear layout's floor is its user-width file count while
    z-order confines the box to the value-high cells of the curve).
    The r7 fixture's 10%-of-RANGE value cap covered ~80% of rows on
    this right-skewed value column, so BOTH layouts were row-bound and
    near-indistinguishable (measured 3-vs-4 of 32) — the box must be
    row-selective in the dimension the linear sort ignores. Expect
    z_files_box ≤ lin_files_box/2; the write itself is one range
    shuffle (the re-layout cost, row-proportional)."""
    import tempfile

    from pyspark.sql import functions as F

    from leann_rs_spark.sources.layout import zorder_write

    out: dict = {}
    files = 64
    for sf_dir, label in ((args.base, "1x"), (args.scratch, "10x")):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id", "user_id", "value"
        )
        st = ev.agg(
            F.min("user_id"), F.max("user_id"),
            F.percentile_approx("value", 0.95),
        ).collect()[0]
        u_hi = st[0] + 0.1 * (st[1] - st[0])
        v_hi = st[2]  # P95: the box is the value TAIL above it
        box = (F.col("user_id") <= u_hi) & (F.col("value") >= v_hi)
        root = tempfile.mkdtemp(prefix="leann-scale-zorder-")
        zp, lp = f"{root}/z", f"{root}/lin"
        t0 = time.perf_counter()
        zorder_write(ev, zp, ["user_id", "value"], bits=8, files=files)
        t_write = round(time.perf_counter() - t0, 2)
        (
            ev.repartitionByRange(files, "user_id")
            .sortWithinPartitions("user_id")
            .write.mode("overwrite").parquet(lp)
        )

        def touched(path: str, pred) -> int:
            return (
                spark.read.parquet(path)
                .filter(pred)
                .select(F.input_file_name().alias("f"))
                .distinct()
                .count()
            )

        # the value-only filter is the discriminating case: the 1-D
        # user sort leaves high values in EVERY file, z-order confines
        # them to the value-high stripes of the curve
        out[label] = {
            "z_files_box": touched(zp, box),
            "lin_files_box": touched(lp, box),
            "z_files_value": touched(zp, F.col("value") >= v_hi),
            "lin_files_value": touched(lp, F.col("value") >= v_hi),
            "total_files": files,
            "t_zorder_write_s": t_write,
        }
        print(f"# {label:3} zorder_pruning: {out[label]}", file=sys.stderr)
    return out


def li_routing_balance_check(spark, args) -> dict:
    """Take- vs kmeans-policy routing balance over the REAL corpus at
    the gate fixture's C (VERDICT r7 task 3's measurement half): the
    per-cid row-count histogram's max/mean ratio is the number that
    decides whether nprobe/C scan arithmetic can be trusted — a hot
    cid is a hot partition, and the take policy's lexicographic vocab
    sample has no reason to tile the embedding space."""
    from pyspark.sql import functions as F

    from leann_rs_spark.operators.ann import kmeans_centroids
    from leann_rs_spark.operators.late_interaction import (
        assign_token_cids,
        token_embeddings,
        token_take_centroids,
    )

    c = 16
    docs = spark.read.parquet(f"{args.base}/documents.parquet").select(
        "doc_id", "text"
    )
    tok = token_embeddings(docs, dims=32, cache=False).persist()
    tok.count()
    vocab = tok.select("token", "vec").distinct()
    out: dict = {"c": c}
    for policy in ("take", "kmeans"):
        if policy == "take":
            cents = token_take_centroids(tok, c=c)
        else:
            rows = sorted(
                kmeans_centroids(
                    vocab, c, id_col="token", vec_col="vec"
                ).collect(),
                key=lambda r: r["centroid_id"],
            )
            cents = [[float(x) for x in r["centroid_vec"]] for r in rows]
        sizes = [
            r["n"]
            for r in assign_token_cids(tok, cents)
            .groupBy("cid").agg(F.count("*").alias("n")).collect()
        ]
        mean = sum(sizes) / max(len(sizes), 1)
        out[policy] = {
            "n_cids_used": len(sizes),
            "max_over_mean": round(max(sizes) / mean, 2) if sizes else None,
            "max_rows": max(sizes) if sizes else 0,
        }
        print(f"# li_routing_balance {policy}: {out[policy]}", file=sys.stderr)
    tok.unpersist()
    return out


def li_routing_prune_check(spark, args) -> dict:
    """The operating point where centroid routing actually PRUNES
    DOCUMENTS (VERDICT r7 task 4): the real docs corpus has a 30-token
    vocabulary and ~22 distinct tokens/doc, so token-level routing can
    never prune it (every doc touches nearly every cid — the honest
    x_li_probe_recall caveat). This fixture is the regime the PLAID
    rung's 100 TB claim lives in: a topic-pooled corpus (vocab 4000,
    10 tokens/doc, so C = 256 ≫ tokens/doc), kmeans codebook over the
    vocabulary, li_probe_recall_curve at 1× (5k docs) and 10× (50k) —
    candidate FRACTION should be corpus-size independent (routing
    probabilities depend on the vocab/codebook, not N) and ≤ 0.2 at
    recall ≥ 0.9 for nprobe = 1."""
    from pyspark.sql import functions as F

    from leann_rs_spark.operators.ann import kmeans_centroids
    from leann_rs_spark.operators.late_interaction import (
        assign_token_cids,
        li_probe_recall_curve,
        token_embeddings,
    )

    t_topics, pool, width, c, dims = 100, 40, 10, 256, 32
    out: dict = {"c": c, "vocab": t_topics * pool, "tokens_per_doc": width}
    queries = [(q, f"w{q}x0 w{q}x1 w{q}x2") for q in range(5)]
    for n_docs, label in ((5000, "1x"), (50000, "10x")):
        docs = spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit("w"),
                        (F.col("id") % t_topics).cast("string"),
                        F.lit("x"),
                        ((F.col("id") / t_topics).cast("long") + F.lit(i))
                        % pool,
                    )
                    for i in range(width)
                ],
            ).alias("text"),
        )
        tok = token_embeddings(docs, dims=dims, cache=True)
        vocab = tok.select("token", "vec").distinct()
        rows = sorted(
            kmeans_centroids(vocab, c, id_col="token", vec_col="vec")
            .collect(),
            key=lambda r: r["centroid_id"],
        )
        cents = [[float(x) for x in r["centroid_vec"]] for r in rows]
        routed = assign_token_cids(tok, cents).persist()
        routed.count()
        t0 = time.perf_counter()
        curve = li_probe_recall_curve(
            routed, cents, queries, k=10, nprobes=[1, 2, 4], dims=dims
        ).collect()
        out[label] = {
            "n_docs": n_docs,
            "t_curve_s": round(time.perf_counter() - t0, 2),
            "points": [
                {
                    "nprobe": r["nprobe"],
                    "candidate_fraction": round(
                        r["n_candidates"] / (len(queries) * n_docs), 3
                    ),
                    "recall": r["recall_r"],
                }
                for r in curve
            ],
        }
        print(f"# li_routing_prune {label}: {out[label]}", file=sys.stderr)
        routed.unpersist()
        tok.unpersist()
    return out


def audio_real_check(spark, args) -> dict:
    """Real-WAV tier scaling (VERDICT r6 task 8): synthesize PCM
    fixtures — deterministic per-clip sine tones, 0.5 s @ 8 kHz — at
    1× (200 clips) and 10× (2000), and time the two codec kernels:
    audio_features(engine='real') (decode + FFT features) and
    resample_audio (decode + anti-alias low-pass + interp + encode).
    Both are zero-shuffle Arrow map kernels, so wall should scale
    ~linearly in rows (flat per clip) with no knee. The fixture build
    is outside the timed region (persist + count)."""
    import numpy as np

    from leann_rs_spark.operators.multimodal import (
        audio_features,
        resample_audio,
        wav_encode,
    )

    out: dict[str, dict] = {}
    for label, n_clips in (("1x", 200), ("10x", 2000)):
        t = np.arange(4000)
        rows = [
            (
                i,
                bytearray(
                    wav_encode(
                        0.5
                        * np.sin(
                            2 * np.pi * (200 + (i % 37) * 50) * t / 8000.0
                        ),
                        8000,
                    )
                ),
            )
            for i in range(n_clips)
        ]
        media = spark.createDataFrame(
            rows, "media_id long, content binary"
        ).repartition(spark.sparkContext.defaultParallelism)
        media = media.persist()
        media.count()
        t0 = time.perf_counter()
        nf = audio_features(media, engine="real").count()
        t_feat = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        nr = resample_audio(media, target_rate=4000).count()
        t_res = round(time.perf_counter() - t0, 2)
        media.unpersist()
        out[label] = {
            "clips": n_clips,
            "features_s": t_feat,
            "features_rows": nf,
            "resample_s": t_res,
            "resample_rows": nr,
        }
        print(f"# audio_real {label}: {out[label]}", file=sys.stderr)
    return out


def hot_bucket_check(spark, args) -> dict:
    """Plant a hot LSH bucket (B=5000 identical boilerplate docs — a
    license-header cluster) on top of the sf0.1 documents table and
    measure the banded-join quadratic the max_bucket_size guard exists
    to bound: candidate-pair rows and wall time with the guard off
    (O(B²)) vs on (O(B)), plus keep-set equivalence of the capped and
    uncapped pipelines on a 500-doc plant (collect-sized)."""
    import time as _time

    from pyspark.sql import functions as F

    from leann_rs_spark.operators.dedup import (
        _band_sigs,
        _banded_candidate_pairs,
        _minhash_signatures_bulk,
        dedup_keep_canonical,
        minhash_near_dups,
    )

    base = spark.read.parquet(f"{args.base}/documents.parquet")
    boiler = (
        "permission is hereby granted free of charge to any person "
        "obtaining a copy of this software and associated documentation"
    )
    out: dict = {}
    for B, label in ((5000, "B5000"), (500, "B500")):
        plant = spark.range(B).select(
            (F.col("id") + 20_000_000).alias("doc_id"),
            F.lit(boiler).alias("text"),
        )
        docs = base.select("doc_id", "text").unionByName(plant)
        sigs = _minhash_signatures_bulk(docs, "doc_id", "text", 5, 16).persist()
        sigs.count()
        banded = _band_sigs(sigs, "doc_id", 4, 4)
        entry_: dict = {}
        t0 = _time.perf_counter()
        keys = ["band", "bucket"]
        entry_["cand_uncapped"] = _banded_candidate_pairs(
            banded, keys, "doc_id"
        ).count()
        entry_["cand_uncapped_s"] = round(_time.perf_counter() - t0, 2)
        t0 = _time.perf_counter()
        order = ("__sig", sigs.select("doc_id", F.col("sig").alias("__sig")))
        entry_["cand_capped"] = _banded_candidate_pairs(
            banded, keys, "doc_id", max_bucket_size=200, order=order
        ).count()
        entry_["cand_capped_s"] = round(_time.perf_counter() - t0, 2)
        sigs.unpersist()
        t0 = _time.perf_counter()
        entry_["full_capped_pairs"] = minhash_near_dups(
            docs, threshold=0.5, max_bucket_size=200
        ).count()
        entry_["full_capped_s"] = round(_time.perf_counter() - t0, 2)
        if B == 500:
            t0 = _time.perf_counter()
            entry_["full_uncapped_pairs"] = minhash_near_dups(
                docs, threshold=0.5
            ).count()
            entry_["full_uncapped_s"] = round(_time.perf_counter() - t0, 2)

            def keep_set(pairs):
                return {
                    (r["doc_id"], r["cluster_id"], r["keep"])
                    for r in dedup_keep_canonical(
                        docs, pairs, id_col="doc_id"
                    ).collect()
                }

            entry_["keep_set_equal"] = keep_set(
                minhash_near_dups(docs, threshold=0.5, max_bucket_size=200)
            ) == keep_set(minhash_near_dups(docs, threshold=0.5))
        out[label] = entry_
        spark.catalog.clearCache()
        print(f"# hot_bucket {label}: {entry_}", file=sys.stderr)
    return out


def simhash_hot_bucket_check(spark, args) -> dict:
    """The r10 guard port: plant B identical boilerplate docs (shared
    full SimHash sketch → one hot bucket per band) on sf0.1 and record
    output-pair rows + wall with the cap off (O(B²) per band) vs on
    (O(B) chain+star), plus keep-set equivalence at collect scale."""
    import time as _time

    from pyspark.sql import functions as F

    from leann_rs_spark.operators.dedup import (
        dedup_keep_canonical,
        simhash_near_dups,
    )

    base = spark.read.parquet(f"{args.base}/documents.parquet")
    boiler = (
        "permission is hereby granted free of charge to any person "
        "obtaining a copy of this software and associated documentation"
    )
    out: dict = {}
    for B, label in ((5000, "B5000"), (500, "B500")):
        plant = spark.range(B).select(
            (F.col("id") + 20_000_000).alias("doc_id"),
            F.lit(boiler).alias("text"),
        )
        docs = base.select("doc_id", "text").unionByName(plant)
        entry_: dict = {}
        t0 = _time.perf_counter()
        entry_["pairs_capped"] = simhash_near_dups(
            docs, max_bucket_size=200
        ).count()
        entry_["pairs_capped_s"] = round(_time.perf_counter() - t0, 2)
        spark.catalog.clearCache()
        # uncapped = the B²/2 quadratic the guard removes (12.5M output
        # pairs at B=5000) — measured at both scales as the honest
        # baseline, like hot_bucket's cand_uncapped
        t0 = _time.perf_counter()
        entry_["pairs_uncapped"] = simhash_near_dups(docs).count()
        entry_["pairs_uncapped_s"] = round(_time.perf_counter() - t0, 2)
        spark.catalog.clearCache()
        if B == 500:

            def keep_set(pairs):
                return {
                    (r["doc_id"], r["cluster_id"], r["keep"])
                    for r in dedup_keep_canonical(
                        docs, pairs, id_col="doc_id"
                    ).collect()
                }

            cs = keep_set(simhash_near_dups(docs, max_bucket_size=200))
            us = keep_set(simhash_near_dups(docs))
            # honest split: the near-identical PLANTED cluster must be
            # component-exact (the guard's contract); real docs whose
            # sketch merely shares a band with the boilerplate are the
            # documented mixed-bucket spanning approximation — record
            # how many keep/cluster rows differ rather than a bare bool
            plant_lo = 20_000_000
            entry_["keep_set_equal"] = cs == us
            entry_["planted_keep_equal"] = {
                t for t in cs if t[0] >= plant_lo
            } == {t for t in us if t[0] >= plant_lo}
            entry_["keep_diff_rows"] = len(cs ^ us)
        out[label] = entry_
        spark.catalog.clearCache()
        print(f"# simhash_hot_bucket {label}: {entry_}", file=sys.stderr)
    return out


def lsh_hot_bucket_check(spark, args) -> dict:
    """Hyperplane-LSH guard port: plant B copies of one embedding on
    sf0.1 embeddings (identical sign bits → one hot bucket per band);
    record output pairs + wall capped vs uncapped on both verify
    paths. The kernel path's uncapped cost is in-kernel pair WORK, so
    the uncapped timing is the honest quadratic measure there."""
    import time as _time

    from pyspark.sql import functions as F

    from leann_rs_spark.operators.ann import lsh_near_dups

    emb = spark.read.parquet(f"{args.base}/embeddings.parquet")
    dims = len(emb.head()["embedding"])
    src = emb.filter(F.col("vec_id") == 0).select("embedding")
    out: dict = {}
    for B, label in ((5000, "B5000"), (500, "B500")):
        plant = spark.range(B).crossJoin(F.broadcast(src)).select(
            (F.col("id") + 20_000_000).alias("vec_id"), "embedding"
        )
        vecs = emb.select("vec_id", "embedding").unionByName(plant)
        entry_: dict = {}
        for normalized, tag in ((True, "kernel"), (False, "expr")):
            t0 = _time.perf_counter()
            entry_[f"pairs_capped_{tag}"] = lsh_near_dups(
                vecs, dims=dims, threshold=0.99,
                assume_normalized=normalized, max_bucket_size=200,
            ).count()
            entry_[f"capped_{tag}_s"] = round(_time.perf_counter() - t0, 2)
            spark.catalog.clearCache()
            t0 = _time.perf_counter()
            entry_[f"pairs_uncapped_{tag}"] = lsh_near_dups(
                vecs, dims=dims, threshold=0.99,
                assume_normalized=normalized,
            ).count()
            entry_[f"uncapped_{tag}_s"] = round(
                _time.perf_counter() - t0, 2
            )
            spark.catalog.clearCache()
        out[label] = entry_
        print(f"# lsh_hot_bucket {label}: {entry_}", file=sys.stderr)
    return out


def curation_sigs_rerun_check(spark, args) -> dict:
    """The daily-re-run economics of artifact-served curation: at 1×
    and 10×, build the corpus signature artifact once (the amortized
    write), then time curate_corpus inline (re-shingles every run) vs
    sigs_warehouse-served (reads (id, sig) parquet). Row counts must
    match — bit-equality is pinned by the x_curation_pipeline_sigs
    oracle gate."""
    import tempfile
    import time as _time

    from leann_rs_spark.catalog import build_minhash_index
    from leann_rs_spark.operators.curation import curate_corpus

    out: dict[str, dict] = {}
    for sf_dir, label in ((args.base, "1x"), (args.scratch, "10x")):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        wh = tempfile.mkdtemp(prefix="leann-scale-cursig-")
        entry_: dict = {}
        t0 = _time.perf_counter()
        build_minhash_index(spark, wh, "sigs", docs)
        entry_["artifact_build"] = round(_time.perf_counter() - t0, 2)
        t0 = _time.perf_counter()
        n_inline = curate_corpus(docs, minhash_threshold=0.5).count()
        entry_["inline"] = round(_time.perf_counter() - t0, 2)
        spark.catalog.clearCache()
        t0 = _time.perf_counter()
        n_sigs = curate_corpus(
            docs, minhash_threshold=0.5, sigs_warehouse=wh
        ).count()
        entry_["sigs_served"] = round(_time.perf_counter() - t0, 2)
        entry_["rows_equal"] = n_inline == n_sigs
        spark.catalog.clearCache()
        out[label] = entry_
        print(f"# {label:3} curation sigs rerun: {entry_}", file=sys.stderr)
    return out


def salted_equi_skew_check(spark, args) -> dict:
    """90 %-single-key skew for the salted EQUI join (x_salted_join's
    operator), 1× and 10×: big side = skewed events, dim side = one row
    per user. Records salted-vs-plain wall time and asserts result
    equality at 1× — the number that justifies the salting path.

    Auto-broadcast is disabled for the duration: at local scale the
    dim side fits the broadcast threshold and a BroadcastHashJoin has
    no shuffle to skew — salting targets the big-big SortMergeJoin
    regime (the 100 TB case where neither side broadcasts), so that is
    the physical form pinned here."""
    from pyspark.sql import functions as F

    from leann_rs_spark.operators.joins import salted_join

    out: dict[str, dict] = {}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for sf_dir, label in ((args.base, "1x"), (args.scratch, "10x")):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        big = ev.withColumn(
            "user_id",
            F.when(F.col("event_id") % 10 < 9, F.lit(7)).otherwise(
                F.col("user_id")
            ),
        ).select("user_id", "event_id", "value")
        dim = (
            big.select("user_id").distinct()
            .withColumn("tier", F.pmod(F.col("user_id"), F.lit(5)))
        )
        big.persist().count()
        dim.persist().count()
        entry_: dict = {}
        t0 = time.perf_counter()
        n_plain = big.join(dim, "user_id").count()
        entry_["plain"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        n_salted = salted_join(big, dim, on=["user_id"], salt=32).count()
        entry_["salted32"] = round(time.perf_counter() - t0, 2)
        entry_["rows_equal"] = n_plain == n_salted
        # the regime manual salting actually exists for: AQE skew-join
        # unavailable (older clusters, stateful/streaming plans, or the
        # many engines without runtime re-plan). Record plain-vs-salted
        # there too — with AQE on, the honest result is that AQE
        # already flattens this and the salt is pure overhead.
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t0 = time.perf_counter()
        big.join(dim, "user_id").count()
        entry_["plain_noaqeskew"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        salted_join(big, dim, on=["user_id"], salt=32).count()
        entry_["salted32_noaqeskew"] = round(time.perf_counter() - t0, 2)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # the scale-invariant signal: the biggest reducer's row count.
        # At local fixture scale the hot partition is sub-second of
        # work, so wall time can't show the straggler — max-rows-per-
        # join-key (plain) vs per-(key, salt) (salted) is the ratio
        # that becomes hours-vs-minutes at 100 TB.
        from pyspark.sql import functions as FF

        entry_["max_task_rows_plain"] = (
            big.groupBy("user_id").count().agg(FF.max("count")).first()[0]
        )
        entry_["max_task_rows_salted"] = (
            big.withColumn(  # mirror salted_join's bucket expression
                "__salt",
                FF.pmod(FF.xxhash64(*[FF.col(c) for c in big.columns]), FF.lit(32)),
            )
            .groupBy("user_id", "__salt")
            .count()
            .agg(FF.max("count"))
            .first()[0]
        )
        if label == "1x":
            key = lambda df: sorted(
                (r["event_id"], r["tier"]) for r in df.collect()
            )
            entry_["exact_match"] = key(big.join(dim, "user_id")) == key(
                salted_join(big, dim, on=["user_id"], salt=32)
            )
        big.unpersist()
        dim.unpersist()
        out[label] = entry_
        print(f"# {label:3} salted equi skew: {entry_}", file=sys.stderr)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


def ivf_append_modes_check(spark, args) -> dict:
    """Incremental IVF append must cost O(batch), rebuild O(corpus):
    on the 10× corpus (50k docs), record (a) a 500-doc incremental
    append END-TO-END — chunk + embed + frozen-codebook assign +
    partitioned append — against (b) the pure layout re-derive alone
    (what ivf_append="rebuild" adds on top of the batch work, with no
    batch at all). (a) beating (b) even while paying the batch's
    Python chunker IS the scale claim; the gap widens linearly with
    corpus/batch ratio."""
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from leann_rs_spark import catalog

    docs10 = spark.read.parquet(f"{args.scratch}/documents.parquet")
    batch = (
        spark.read.parquet(f"{args.base}/documents.parquet")
        .filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 10_000_000)
    )
    wh = tempfile.mkdtemp(prefix="leann-scale-ivfapp-")
    out: dict[str, float] = {}
    t0 = _time.perf_counter()
    catalog.build_index(
        spark, wh, "s", docs10, chunk_size=64, chunk_overlap=8,
        dims=32, with_bm25=False,
    )
    out["corpus_build"] = round(_time.perf_counter() - t0, 2)
    t0 = _time.perf_counter()
    catalog.build_ivf_index(
        spark, wh, "s", n_centroids=64, centroids="take", pq_m=8, pq_k=16
    )
    out["layout_derive_full"] = round(_time.perf_counter() - t0, 2)
    t0 = _time.perf_counter()
    catalog.append_to_index(spark, wh, "s", batch, ivf_append="incremental")
    out["incremental_append_500docs"] = round(_time.perf_counter() - t0, 2)
    # the rebuild mode's layout cost = deriving the full layout again
    t0 = _time.perf_counter()
    catalog.build_ivf_index(
        spark, wh, "s", n_centroids=64, centroids="take", pq_m=8, pq_k=16
    )
    out["rebuild_layout_only"] = round(_time.perf_counter() - t0, 2)
    print(f"# ivf_append_modes: {out}", file=sys.stderr)
    return out


def ivf_drift_recall_check(spark, args) -> dict:
    """Pair the drift MONITOR with its recall CONSEQUENCE (VERDICT r4
    task 7): run the x_ivf_drift_recall gate at the base sf and record,
    per nprobe, stale-vs-rebuilt recall@10 and the delta the frozen
    codebook costs, beside the drift report's max per-cluster ratio —
    the numbers an operator reads to set the rebuild trigger."""
    import __spark_entry__ as entry

    rows = entry.queries()["x_ivf_drift_recall"](spark, args.base).collect()
    out = {
        "drift_max_ratio": rows[0]["drift_max_r"],
        "recall_at_nprobe": {
            str(r["nprobe"]): {
                "stale": r["recall_stale_r"],
                "rebuilt": r["recall_fresh_r"],
                "delta": round(r["recall_fresh_r"] - r["recall_stale_r"], 6),
            }
            for r in rows
        },
    }
    print(f"# ivf drift recall: {out}", file=sys.stderr)
    return out


def streaming_economics_check(spark, args) -> dict:
    """Streaming ECONOMICS, not just equivalence (VERDICT r9 task 4):
    drive the stateful streaming operators through ≥3 chronological
    micro-batches (maxFilesPerTrigger=1 over time-sliced input files)
    at 1× and 10× and record, per batch, input rows, wall, and
    stateOperators.numRowsTotal — pinning the `ingest.py` design claim
    that state is O(keys in watermark horizon), not O(stream): the
    final state-store row count must stay flat as total input grows
    10× (the 10× corpus extends the TIME RANGE at similar density, so
    the horizon holds a similar key count while cumulative input is
    10×)."""
    import glob as _glob
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from leann_rs_spark.streaming.ingest import (
        stream_dedup_events,
        stream_windowed_event_stats,
    )

    out: dict = {}
    span_1x = None
    for sf_dir, label in ((args.base, "1x"), (args.scratch, "10x")):
        ev = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
        )
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
        span = hi - lo
        root = tempfile.mkdtemp(prefix="leann-stream-econ-")
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        # chronological slice FILES, each its own micro-batch. The
        # per-batch EVENT-TIME span is held constant across scales
        # (the 10× corpus extends the time range ~10×, so it gets ~10×
        # the slices): windowed-agg state during a batch holds that
        # batch's un-closed windows, so a fair flat-state comparison
        # fixes the horizon per batch and grows the NUMBER of batches —
        # state must stay flat while cumulative input grows 10×.
        if span_1x is None:
            span_1x = span
            n_slices = 3
        else:
            n_slices = max(3, round(3 * (span / span_1x)))
        for i in range(n_slices):
            t0 = lo + span * i / n_slices
            t1 = hi if i == n_slices - 1 else lo + span * (i + 1) / n_slices
            sl = ev.filter(
                (F.col("ts") >= F.lit(t0))
                & (F.col("ts") <= F.lit(t1) if i == n_slices - 1
                   else F.col("ts") < F.lit(t1))
            )
            stage = os.path.join(root, f"stage{i}")
            sl.coalesce(1).write.parquet(stage)
            part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            os.rename(part, os.path.join(in_dir, f"slice{i}.parquet"))
            # mtime order drives file-source batch order
            _time.sleep(0.05)
        entry_: dict = {}
        for kind, starter in (
            ("windowed_agg", stream_windowed_event_stats),
            ("dedup", stream_dedup_events),
        ):
            outp = os.path.join(root, f"out_{kind}")
            ckpt = os.path.join(root, f"ckpt_{kind}")
            t0 = _time.perf_counter()
            q = starter(
                spark, in_dir, outp, ckpt, max_files_per_trigger=1
            )
            q.awaitTermination()
            wall = _time.perf_counter() - t0
            import json as _json

            progress = [
                _json.loads(p.json) if hasattr(p, "json") else p
                for p in q.recentProgress
            ]
            batches = [
                {
                    "input_rows": p["numInputRows"],
                    "batch_s": round(
                        p["durationMs"]["triggerExecution"] / 1000, 2
                    ),
                    "state_rows": (
                        p["stateOperators"][0]["numRowsTotal"]
                        if p.get("stateOperators")
                        else None
                    ),
                }
                for p in progress
                if p["numInputRows"] > 0
            ]
            total_rows = sum(b["input_rows"] for b in batches)
            states = [
                b["state_rows"] for b in batches
                if b["state_rows"] is not None
            ]
            entry_[kind] = {
                "n_batches": len(batches),
                "batches": batches[:5],
                "total_input_rows": total_rows,
                "wall_s": round(wall, 2),
                "rows_per_sec": round(total_rows / max(wall, 1e-9)),
                "max_state_rows": max(states) if states else None,
                "final_state_rows": states[-1] if states else None,
            }
        out[label] = entry_
        shutil.rmtree(root, ignore_errors=True)
        print(f"# streaming_econ {label}: {entry_}", file=sys.stderr)
    # the design claim in one number: max in-flight state at 10× the
    # cumulative input, same per-batch horizon — must stay ~flat (≈1),
    # NOT track the 10× input growth
    a = out.get("1x", {}).get("windowed_agg", {}).get("max_state_rows")
    b = out.get("10x", {}).get("windowed_agg", {}).get("max_state_rows")
    if a and b:
        out["state_flat_ratio_10x_vs_1x"] = round(b / a, 3)
    return out


def ivf_refresh_check(spark, args) -> dict:
    """The refresh rung's economics (VERDICT r9 task 5): build a
    DRIFTED index (even-half kmeans codebook, odd half appended
    frozen), then record recall@10 stale → after refresh_ivf_index
    (codebook re-learned on the current corpus, only changed
    partitions rewritten) → the moved-row fraction, the bytes
    physically rewritten (inode walk — hardlink-carried partitions
    cost nothing), and the refresh wall next to a full rebuild wall."""
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from leann_rs_spark import catalog
    from leann_rs_spark.operators.embedder import py_hash_embedding
    from leann_rs_spark.functions.vector import dot

    docs = spark.read.parquet(f"{args.base}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    wh = tempfile.mkdtemp(prefix="leann-scale-ivfrefresh-")
    out: dict = {}
    try:
        catalog.build_index(
            spark, wh, "g", docs.filter(F.col("doc_id") % 2 == 0),
            chunk_size=64, chunk_overlap=8, dims=32, with_bm25=False,
        )
        catalog.build_ivf_index(
            spark, wh, "g", n_centroids=64, centroids="kmeans"
        )
        catalog.append_to_index(
            spark, wh, "g", docs.filter(F.col("doc_id") % 2 == 1),
            ivf_append="incremental",
        )
        base = f"{wh}/g"
        emb = spark.read.parquet(f"{base}/embeddings").persist()
        emb.count()
        queries = [
            r["text"]
            for r in docs.filter(F.col("doc_id") % 211 == 7)
            .select("text").limit(20).collect()
        ]

        def recall_at_10() -> float:
            hits = 0
            for q in queries:
                qv = F.array(*[F.lit(float(x)) for x in py_hash_embedding(q, 32)])
                exact = {
                    r["idx"]
                    for r in emb.select(
                        "idx", dot(F.col("embedding"), qv).alias("s")
                    ).orderBy(F.col("s").desc(), F.col("idx")).limit(10).collect()
                }
                got = {
                    r["idx"]
                    for r in catalog.search_ivf_index(
                        spark, wh, "g", q, k=10, nprobe=4
                    ).collect()
                }
                hits += len(exact & got)
            return round(hits / (10 * len(queries)), 4)

        def walk(p):
            return {
                os.stat(fp).st_ino: os.path.getsize(fp)
                for r, _, fs in os.walk(p)
                for f in fs
                if f.endswith(".parquet")
                for fp in [os.path.join(r, f)]
            }

        out["recall_stale"] = recall_at_10()
        before = walk(f"{base}/ivf")
        t0 = _time.perf_counter()
        stats = catalog.refresh_ivf_index(spark, wh, "g")
        out["refresh_s"] = round(_time.perf_counter() - t0, 2)
        after = walk(f"{base}/ivf")
        out["moved_fraction"] = round(stats["moved_fraction"], 4)
        out["affected_clusters"] = stats["affected_clusters"]
        out["total_rows"] = stats["total_rows"]
        out["rewritten_bytes"] = sum(
            sz for ino, sz in after.items() if ino not in before
        )
        out["table_bytes"] = sum(after.values())
        out["rewritten_share"] = round(
            out["rewritten_bytes"] / max(out["table_bytes"], 1), 4
        )
        out["recall_refreshed"] = recall_at_10()
        t0 = _time.perf_counter()
        catalog.build_ivf_index(
            spark, wh, "g", n_centroids=64, centroids="kmeans"
        )
        out["rebuild_s"] = round(_time.perf_counter() - t0, 2)
        out["recall_rebuilt"] = recall_at_10()
        emb.unpersist()
        # MILD drift: the doubled-corpus phase above re-clusters almost
        # everything (honest: severe drift ⇒ refresh ≈ rebuild bytes);
        # the selective-rewrite win shows on the common case — a small
        # append then refresh. Record the same stats at ~3% growth.
        catalog.append_to_index(
            spark, wh, "g", docs.filter(F.col("doc_id") % 37 == 3),
            ivf_append="incremental",
        )
        before = walk(f"{base}/ivf")
        t0 = _time.perf_counter()
        stats2 = catalog.refresh_ivf_index(spark, wh, "g")
        after = walk(f"{base}/ivf")
        out["mild"] = {
            "refresh_s": round(_time.perf_counter() - t0, 2),
            "moved_fraction": round(stats2["moved_fraction"], 4),
            "affected_clusters": stats2["affected_clusters"],
            "rewritten_share": round(
                sum(sz for ino, sz in after.items() if ino not in before)
                / max(sum(after.values()), 1),
                4,
            ),
        }
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    print(f"# ivf_refresh: {out}", file=sys.stderr)
    return out


def upsert_prune_check(spark, args) -> dict:
    """Rewrite bytes of upsert_parquet must track the TOUCHED
    partitions, not the table (VERDICT r4 'What's missing #4'): on the
    10× docs table (50k rows), merge a 'de'-only update batch into (a)
    a lang-partitioned table with partition_cols and (b) a flat table
    without. Bytes rewritten = sizes of files whose inode did not exist
    before the merge."""
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from leann_rs_spark.sources.warehouse import upsert_parquet

    docs = spark.read.parquet(f"{args.scratch}/documents.parquet")
    updates = (
        docs.filter((F.col("lang") == "de") & (F.col("doc_id") % 7 == 0))
        .withColumn("text", F.concat(F.lit("[v2] "), F.col("text")))
    ).persist()
    updates.count()

    def walk(p):
        return {
            os.stat(fp).st_ino: os.path.getsize(fp)
            for r, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
            for fp in [os.path.join(r, f)]
        }

    root = tempfile.mkdtemp(prefix="leann-scale-upsert-")
    out: dict[str, dict] = {}
    for tag, parts in (("pruned_lang_partitioned", "lang"), ("flat", None)):
        p = os.path.join(root, tag)
        w = docs.write
        if parts:
            w = w.partitionBy(parts)
        w.parquet(p)
        before = walk(p)
        t0 = _time.perf_counter()
        upsert_parquet(spark, p, updates, "doc_id", partition_cols=parts)
        dt = round(_time.perf_counter() - t0, 2)
        after = walk(p)
        rewritten = sum(sz for ino, sz in after.items() if ino not in before)
        out[tag] = {
            "table_bytes": sum(after.values()),
            "rewritten_bytes": rewritten,
            "rewritten_share": round(rewritten / max(sum(after.values()), 1), 4),
            "sec": dt,
        }
        print(f"# upsert {tag}: {out[tag]}", file=sys.stderr)
    updates.unpersist()
    shutil.rmtree(root)
    return out


def curation_stage_timings(spark, args) -> dict:
    """Per-stage wall time of the composed curation pipeline at 1× and
    10× (VERDICT r3: the 9 s composition had no internal attribution).
    Uses the gate's parameters (curate_corpus defaults + span cuts)."""
    from pyspark.sql import functions as F

    from leann_rs_spark.operators.curation import curate_corpus

    out: dict[str, dict] = {}
    for sf_dir, label in ((args.base, "1x"), (args.scratch, "10x")):
        # single-file scratch parquet → fan out like the gate does, or
        # the projection stages serialize onto a few scan tasks
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
            spark.sparkContext.defaultParallelism
        )
        timings: dict[str, float] = {}
        cached: list = []
        t0 = time.perf_counter()
        curate_corpus(
            docs.select("doc_id", "lang", "source", "text"),
            gopher_params={"min_words": 20, "min_stopword_hits": 1},
            minhash_threshold=0.5,
            stage_timings=timings,
            intermediates=cached,
        ).count()
        timings["total"] = round(time.perf_counter() - t0, 2)
        for df in cached:
            df.unpersist()
        out[label] = timings
        print(f"# {label:3} curation stages: {timings}", file=sys.stderr)
    return out


def asof_skew_check(spark, args) -> dict:
    """90 %-single-key skew: as-of join with and without salting, 1× and
    10×. Salting must keep the skewed case flat-ish while the result
    stays exact (equality asserted at 1×)."""
    from pyspark.sql import functions as F

    from leann_rs_spark.operators.joins import asof_join

    out: dict[str, dict] = {}
    for sf_dir, label in ((args.base, "1x"), (args.scratch, "10x")):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        skew = ev.withColumn(
            "user_id",
            F.when(F.col("event_id") % 10 < 9, F.lit(7)).otherwise(
                F.col("user_id")
            ),
        )
        clicks = skew.filter(F.col("event_type") == "click").select(
            "user_id", "event_id", "ts"
        )
        views = skew.filter(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("value").alias("v")
        )
        clicks.persist().count()
        views.persist().count()
        entry_: dict[str, float] = {}
        for salt, tag in ((None, "unsalted"), (32, "salted32")):
            t0 = time.perf_counter()
            n = asof_join(
                clicks, views, on="user_id", right_cols=["v"],
                salt_buckets=salt,
            ).count()
            entry_[tag] = round(time.perf_counter() - t0, 2)
            entry_[f"{tag}_rows"] = n
        if label == "1x":
            a = asof_join(clicks, views, on="user_id", right_cols=["v"])
            b = asof_join(
                clicks, views, on="user_id", right_cols=["v"],
                salt_buckets=32,
            )
            key = lambda df: sorted(
                (r["event_id"], r["ts_right"], r["v_right"])
                for r in df.collect()
            )
            entry_["exact_match"] = key(a) == key(b)
        clicks.unpersist()
        views.unpersist()
        out[label] = entry_
        print(f"# {label:3} asof skew: {entry_}", file=sys.stderr)
    return out


def ivf_balance_check(spark, args) -> dict:
    """Cluster-size balance of the two codebook policies on the real
    (non-uniform) embedding table — the reason seeded k-means is the
    persisted-artifact default. Reports the max/mean cluster-size ratio
    (1.0 = perfectly balanced) and the largest cluster's corpus share."""
    from pyspark.sql import functions as F

    from leann_rs_spark.operators.ann import (
        ivf_assign,
        kmeans_centroids,
        take_centroids,
    )

    emb = spark.read.parquet(f"{args.base}/embeddings.parquet")
    n = emb.count()
    out: dict[str, dict] = {}
    for policy, cents_fn in (
        ("take", lambda: take_centroids(emb, 16)),
        ("kmeans", lambda: kmeans_centroids(emb, 16)),
    ):
        sizes = [
            r["c"]
            for r in ivf_assign(emb, cents_fn())
            .groupBy("cluster_id")
            .agg(F.count("*").alias("c"))
            .collect()
        ]
        # mean over the CONFIGURED cluster count — empty clusters emit
        # no groupBy row, and dividing by the non-empty count would
        # understate imbalance exactly for the policy that strands them
        out[policy] = {
            "nonempty_clusters": len(sizes),
            "configured_clusters": 16,
            "max_over_mean": round(max(sizes) / (n / 16), 2),
            "max_share": round(max(sizes) / n, 4),
        }
        print(f"# ivf balance {policy}: {out[policy]}", file=sys.stderr)
    return out


if __name__ == "__main__":
    main()
