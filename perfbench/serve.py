"""`serve`: the interactive read path from a warm session.

Setup builds one index the way `leann_rs_spark build --backend ivfpq`
does (chunk, embed, BM25; then an IVF layout sized C = 4*sqrt(N) with
8x16 PQ codes) and warms the session up with one round of requests
(the first call of each type runs cold).
The timed part is a closed loop, one client, no think time, over rounds
of seven request types in a seeded order. A traced run then appends a
document batch through the incremental IVF path and calls single layers
on their own.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from leann_rs_spark import catalog
from leann_rs_spark.operators.embedder import py_hash_embedding
from leann_rs_spark.operators.rag import rag_batch
from leann_rs_spark.serving import IndexService, handle_http
from perfbench import checks, gen
from perfbench.harness import Rounds, Run, collect_garbage, log, micro_us, timed
from perfbench.metrics import REQUEST_TYPES
from perfbench.stats import geomean, median

N_DOCS = 300
N_APPENDS = 1
APPEND_DOCS = 100
LONG_SHARE = 0.1  # documents long enough to be split into several passages
N_ROUNDS = 6  # distinct timed rounds; the loop cycles through them
# timed rounds at least (more while --seconds allows); each type reports
# its cheapest request. In CPU time two rounds of one run differ by 3-6%,
# far less than runs on a busy and a quiet host do, so more rounds would
# only lengthen the run.
TIMED_ROUNDS = 1
K = 10
TIE_ROWS = 5  # expected rankings run this far past k, so ties cut by k show
ASK_K = 5
NPROBE = 4
REFINE = 4
DIMS = 64
INDEX = "bench"


class _TracedService(IndexService):
    """IndexService whose search opens a span, so handle_http's own cost
    is the self time of its span."""

    def __init__(self, spark, warehouse, name, tracer):
        super().__init__(spark, warehouse, name)
        self.tracer = tracer

    def search(self, *args, **kwargs):
        with self.tracer.span("serving.IndexService.search"):
            return super().search(*args, **kwargs)


class Serve:
    def __init__(self, r: Run):
        self.r = r
        self.spark = r.spark
        self.wh = f"{r.work}/warehouse"
        self.base = f"{self.wh}/{INDEX}"

    # -- setup -----------------------------------------------------------

    def _read_docs(self, rows: list[tuple], name: str):
        path = f"{self.r.work}/input/{name}"
        gen.write_docs(rows, path, self.spark.sparkContext.defaultParallelism)
        return self.spark.read.schema(gen.DOC_SCHEMA).parquet(path)

    def build(self, inp: gen.ServeInputs) -> None:
        r, spark = self.r, self.spark
        docs = self._read_docs(inp.corpus, "corpus")
        with r.op("build", "setup"):
            meta = catalog.build_index(spark, self.wh, INDEX, docs)
        with r.op("ivf_build", "setup"):
            # the CLI's ivfpq defaults, except the centroid policy: "take"
            # (first C ids) instead of MLlib k-means, whose nine seeded
            # fits (coarse + one per PQ subspace) would triple set-up
            catalog.build_ivf_index(
                spark, self.wh, INDEX, n_centroids=None, centroids="take",
                pq_m=8, pq_k=16,
            )
        self.passages = meta.passage_count
        self.docs = docs
        self.P = spark.read.parquet(f"{self.base}/passages")
        self.E = spark.read.parquet(f"{self.base}/embeddings")
        self.svc = (
            _TracedService(spark, self.wh, INDEX, r.tracer)
            if r.traced
            else IndexService(spark, self.wh, INDEX)
        )

    def expect(self, reqs: list[gen.Request], oracle: checks.IndexOracle) -> dict:
        """rid -> expected answer of each request."""
        from leann_rs_spark.operators.filter_dsl import compile_duckdb, parse

        where = compile_duckdb(parse(gen.FILTER))
        kx = K + TIE_ROWS
        out = {}
        for q in reqs:
            qv = py_hash_embedding(q.query, DIMS)
            if q.kind == "flat":
                e = oracle.exact(qv, kx)
            elif q.kind == "filtered":
                e = oracle.exact(qv, kx, where)
            elif q.kind == "hybrid":
                e = oracle.hybrid(q.query, qv, K, kx)
            elif q.kind == "expand":
                eq = oracle.expanded_query(q.query)
                e = oracle.hybrid(eq, py_hash_embedding(eq, DIMS), K, kx)
            elif q.kind == "ivf":
                e = (oracle.ivf(qv, kx, NPROBE), oracle.exact(qv, K))
            elif q.kind == "ivfpq":
                e = (oracle.probed_rows(qv, NPROBE), oracle.exact(qv, K))
            else:
                e = oracle.answer(q.query, qv, ASK_K)
            out[q.rid] = e
        return out

    # -- one request -----------------------------------------------------

    def execute(self, q: gen.Request):
        """Issue one request; returns its raw output."""
        spark, tr = self.spark, self.r.tracer
        if q.kind in ("flat", "filtered", "hybrid"):
            body = {"query": q.query, "top_k": K}
            if q.kind == "filtered":
                body["filter"] = gen.FILTER
            if q.kind == "hybrid":
                body["hybrid"] = True
            with tr.span("serving.handle_http"):
                return handle_http(self.svc, "POST", "/search", json.dumps(body).encode())
        if q.kind == "ask":
            questions = spark.createDataFrame([(1, q.query)], "question_id long, question string")
            with tr.span("rag.rag_batch"):
                df = rag_batch(questions, self.P, self.E, k=ASK_K, dims=DIMS)
            with tr.span("catalog.collect"):
                return df.collect()
        if q.kind == "expand":
            with tr.span("catalog.search_index"):
                df = catalog.search_index(spark, self.wh, INDEX, q.query, k=K, expand=True)
        else:
            with tr.span("catalog.search_ivf_index"):
                df = catalog.search_ivf_index(
                    spark, self.wh, INDEX, q.query, k=K, nprobe=NPROBE,
                    use_pq=q.kind == "ivfpq", refine=REFINE,
                )
        with tr.span("catalog.collect"):
            return df.collect()

    def run_request(self, q: gen.Request, traced: bool):
        with self.r.op(q.kind, q.rid, traced=traced):
            try:
                return self.execute(q)
            except Exception as e:  # a failed request is counted, not fatal
                return e

    def check(self, q: gen.Request, out, expected) -> None:
        r = self.r
        if isinstance(out, Exception):
            r.check(False, f"{q.rid}: {type(out).__name__}: {out}")
            return
        if q.kind in ("flat", "filtered", "hybrid"):
            status, _, payload = out
            if status != 200:
                r.check(False, f"{q.rid}: HTTP {status}: {payload[:200]}")
                return
            hits = [(int(h["id"]), h["score"]) for h in json.loads(payload)["results"]]
            tol = checks.HYBRID_TOL if q.kind == "hybrid" else checks.SEARCH_TOL
            r.check(checks.same_topk(hits, expected, K, tol), f"{q.rid}: top-k differs")
            return
        if q.kind == "ask":
            ok = len(out) == 1 and out[0]["answer"] == expected
            r.check(ok, f"{q.rid}: answer differs")
            return
        hits = [(row["idx"], row["score"]) for row in out]
        if q.kind == "expand":
            r.check(checks.same_topk(hits, expected, K, checks.HYBRID_TOL), f"{q.rid}: top-k differs")
        elif q.kind == "ivf":
            probe_exact, exact = expected
            r.check(checks.same_topk(hits, probe_exact, K, checks.SEARCH_TOL), f"{q.rid}: top-k differs")
            self.recalls["ivf"].append(checks.recall([i for i, _ in hits], [i for i, _ in exact]))
        else:  # ivfpq: refined shortlist from the probed clusters, exact scores
            allowed, exact = expected
            ids = [i for i, _ in hits]
            true = self.oracle.scores_of(py_hash_embedding(q.query, DIMS), ids)
            ok = (
                len(hits) == min(K, len(allowed))
                and set(ids) <= allowed
                and all(abs(s - true[i]) <= checks.SEARCH_TOL * max(1.0, abs(s)) for i, s in hits)
                and all(a[1] >= b[1] for a, b in zip(hits, hits[1:]))
            )
            r.check(ok, f"{q.rid}: ivfpq hits invalid")
            self.recalls["ivfpq"].append(checks.recall(ids, [i for i, _ in exact]))

    # -- the workload ----------------------------------------------------

    def run(self) -> dict[str, float]:
        r = self.r
        t0 = time.perf_counter()
        inp = gen.serve_inputs(r.seed, N_DOCS, N_APPENDS, APPEND_DOCS, N_ROUNDS, LONG_SHARE)
        self.build(inp)
        log(
            f"serve: index of {self.passages} passages in {time.perf_counter() - t0:.1f}s ("
            + ", ".join(f"{k} {r.p50_ms(k) / 1000:.1f}s" for k in ("build", "ivf_build"))
            + ")"
        )
        outputs = [(q, self.run_request(q, traced=False)) for q in inp.warmup]
        for kind in REQUEST_TYPES:  # warm-up samples are not measurements
            r.samples.pop(kind, None)
        collect_garbage(self.spark)
        setup_s = time.perf_counter() - t0

        # closed loop over whole rounds for about r.seconds. A traced run
        # issues each request twice, traced and untraced, in an order that
        # alternates by type and round, so the tracing overhead compares
        # the same queries.
        first: dict[str, gen.Request] = {}
        loop = Rounds(r.seconds, need=TIMED_ROUNDS)
        for i in loop:
            for q in inp.rounds[i % len(inp.rounds)]:
                modes = (False,)
                if r.traced:
                    first.setdefault(q.kind, q)
                    modes = (True, False) if (i + REQUEST_TYPES.index(q.kind)) % 2 else (False, True)
                for traced in modes:
                    outputs.append((q, self.run_request(q, traced)))
        rounds = len(loop.durations)
        r.round_s = loop.durations
        log(f"serve: set-up {setup_s:.1f}s; {rounds} timed rounds in "
            f"{sum(loop.durations):.1f}s")

        # expected answers, for the requests that ran, outside the timing
        t_chk = time.perf_counter()
        self.oracle = checks.IndexOracle(self.base)
        expected = self.expect(list({q.rid: q for q, _ in outputs}.values()), self.oracle)
        self.recalls = {"ivf": [], "ivfpq": []}
        for q, out in outputs:
            self.check(q, out, expected[q.rid])
        log(f"serve: {len(outputs)} outputs checked in {time.perf_counter() - t_chk:.1f}s")

        cpu = [r.best_cpu_ms(k, traced=False) for k in REQUEST_TYPES]
        e2e = {
            "setup_s": r.layer["session.start_s"] + setup_s,
            "items_per_cpu_s": len(cpu) / (sum(cpu) / 1000.0),
        }
        if r.traced:
            self.layers(inp, first)
        self.oracle.close()
        return e2e

    # -- traced run: per-layer figures ---------------------------------

    def layers(self, inp, first) -> None:
        from leann_rs_spark.operators.ann import ivf_assign, ivf_search
        from leann_rs_spark.operators.bm25 import (
            build_bm25_index, score_query, tokenize_py,
        )
        from leann_rs_spark.operators.chunker import chunk_documents
        from leann_rs_spark.operators.embedder import embed_documents
        from leann_rs_spark.operators.filter_dsl import compile_spark, parse
        from leann_rs_spark.operators.hybrid import hybrid_rerank
        from leann_rs_spark.operators.pq import (
            codebook_from_rows, ivf_pq_search, pq_bits, pq_encode_col,
            pq_pack_col, pq_unpack_col,
        )
        from leann_rs_spark.operators.query_expansion import expansion_terms
        from leann_rs_spark.operators.search import exact_search

        r, spark, L, tr = self.r, self.spark, self.r.layer, self.r.tracer
        sc = spark.sparkContext
        L["catalog.persisted_rdds_end"] = len(sc._jsc.getPersistentRDDs())

        # the append path runs only here, after the timed loop and its
        # checks, so untraced runs skip its cost and every run serves the
        # same index
        built = self.passages
        for b, batch in enumerate(inp.appends):
            batch_df = self._read_docs(batch, f"append{b}")
            with r.op("append", f"append{b}"):
                self.passages = catalog.append_to_index(
                    spark, self.wh, INDEX, batch_df
                ).passage_count

        def ms(name, fn):
            with tr.span(name, "layers"):
                return timed(fn)[0] * 1000.0

        for k in REQUEST_TYPES:
            L[f"request.{k}.p50_ms"] = r.p50_ms(k, traced=True)
            r.spark_layer(k, with_exec=False)
        for p in ("build", "ivf_build", "append"):
            r.spark_layer(p, with_exec=True)

        def kind_spans(name, kind):
            return [s for s in tr.by_name(name) if s.rid.endswith(f"-{kind}")]

        from perfbench.trace import self_times

        st = self_times(tr.spans)
        http = tr.by_name("serving.handle_http")
        L["serving.http_overhead_ms"] = median(st[s.sid] for s in http) * 1000.0
        for kind, name in (("expand", "catalog.search_index"),
                           ("ivf", "catalog.search_ivf_index"),
                           ("ivfpq", "catalog.search_ivf_index")):
            L[f"catalog.plan_ms.{kind}"] = median(s.dur for s in kind_spans(name, kind)) * 1000.0
            L[f"catalog.collect_ms.{kind}"] = median(
                s.dur for s in kind_spans("catalog.collect", kind)
            ) * 1000.0

        # standalone calls into single layers, on each type's first traced query
        wh, base, E, P = self.wh, self.base, self.E, self.P
        plan_args = {"flat": {}, "filtered": {"filter_str": gen.FILTER},
                     "hybrid": {"hybrid": True}}
        for kind, kw in plan_args.items():
            q = first[kind].query
            with tr.span("catalog.search_index", "layers"):
                t_plan, df = timed(
                    catalog.search_index, spark, wh, INDEX, q, k=K, **{"hybrid": False, **kw}
                )
            L[f"catalog.plan_ms.{kind}"] = t_plan * 1000.0
            L[f"catalog.collect_ms.{kind}"] = ms("catalog.collect", df.collect)
        q = first["flat"].query
        qv = py_hash_embedding(q, DIMS)
        with tr.span("embedder.py_hash_embedding", "layers"):
            L["embedder.query_embed_us"] = micro_us(lambda: py_hash_embedding(q, DIMS))
        L["search.exact_ms"] = ms(
            "search.exact_search",
            lambda: exact_search(E, qv, k=K, id_col="idx").collect(),
        )
        with tr.span("filter_dsl.compile_spark", "layers"):
            L["filter_dsl.compile_us"] = micro_us(lambda: compile_spark(parse(gen.FILTER)))

        q = first["hybrid"].query
        qv = py_hash_embedding(q, DIMS)
        buckets = sorted({catalog.py_term_bucket(t) for t in tokenize_py(q)})
        postings = spark.read.parquet(f"{base}/bm25_postings").filter(
            F.col("term_bucket").isin(buckets)
        )
        docstats = spark.read.parquet(f"{base}/bm25_docstats")
        termstats = postings.groupBy("term").agg(F.count("*").alias("df"))
        scored = score_query(postings, docstats, termstats, q, id_col="idx")
        L["bm25.score_ms"] = ms("bm25.score_query", lambda: scored.count())
        bm25_top = (
            scored.filter(F.col("score") > 0.0)
            .orderBy(F.round(F.col("score"), 6).desc(), F.col("idx").asc())
            .limit(K * 5)
        )
        vec_hits = exact_search(E, qv, k=K * 5, id_col="idx")
        L["hybrid.rerank_ms"] = ms(
            "hybrid.hybrid_rerank",
            lambda: hybrid_rerank(
                vec_hits.withColumnRenamed("idx", "doc_id"),
                scored.withColumnRenamed("idx", "doc_id"),
                bm25_top.withColumnRenamed("idx", "doc_id"),
                docstats,
            ).collect(),
        )

        q = first["expand"].query
        texts = P.filter(F.col("idx").isin(self.oracle.bm25_top5(q))).select("text")
        L["query_expansion.terms_ms"] = ms(
            "query_expansion.expansion_terms",
            lambda: expansion_terms(texts, q, max_terms=5).collect(),
        )

        assigned = spark.read.parquet(f"{base}/ivf")
        cents = spark.read.parquet(f"{base}/ivf_centroids")
        qv = py_hash_embedding(first["ivf"].query, DIMS)
        L["ann.ivf_search_ms"] = ms(
            "ann.ivf_search",
            lambda: ivf_search(assigned, cents, qv, k=K, nprobe=NPROBE, id_col="idx").collect(),
        )
        L["ann.probed_fraction"] = median(
            self.oracle.probed_fraction(py_hash_embedding(q.query, DIMS), NPROBE)
            for rd in inp.rounds for q in rd if q.kind in ("ivf", "ivfpq")
        )
        recalls = self.recalls["ivf"] + self.recalls["ivfpq"]
        L["ann.recall_at_10"] = sum(recalls) / len(recalls)

        meta = catalog.load_meta(wh, INDEX)
        m, bits = int(meta.extra["pq_m"]), pq_bits(int(meta.extra["pq_k"]))
        cb = codebook_from_rows(spark.read.parquet(f"{base}/pq_codebook").collect())
        codes = assigned.select(
            "idx", pq_unpack_col(F.col("code"), m, bits).alias("code"), "cluster_id"
        )
        qv = py_hash_embedding(first["ivfpq"].query, DIMS)
        L["pq.search_ms"] = ms(
            "pq.ivf_pq_search",
            lambda: ivf_pq_search(
                codes, cents, cb, qv, k=K, nprobe=NPROBE, refine=REFINE,
                vectors=E, id_col="idx",
            ).collect(),
        )

        # write-path layers, on the set-up corpus and the built index
        L["chunker.chunk_s"] = ms(
            "chunker.chunk_documents", lambda: chunk_documents(self.docs).count()
        ) / 1000.0
        L["chunker.passages_per_doc"] = built / N_DOCS
        L["embedder.embed_s"] = ms(
            "embedder.embed_documents",
            lambda: embed_documents(P.select("idx", "text"), dims=DIMS, id_col="idx")
            .agg(F.max(F.col("embedding")[0])).collect(),
        ) / 1000.0
        postings_all, docstats_all, _ = build_bm25_index(P, id_col="idx", text_col="text", cache=False)
        L["bm25.index_build_s"] = ms(
            "bm25.build_bm25_index",
            lambda: (postings_all.count(), docstats_all.count()),
        ) / 1000.0
        L["ann.assign_s"] = ms(
            "ann.ivf_assign",
            lambda: ivf_assign(E, cents, id_col="idx").agg(F.max("cluster_id")).collect(),
        ) / 1000.0
        L["pq.encode_s"] = ms(
            "pq.pq_encode_col",
            lambda: E.agg(F.max(pq_pack_col(pq_encode_col(F.col("embedding"), cb), m, bits))).collect(),
        ) / 1000.0

        L["catalog.build_passages_per_s"] = built / (r.p50_ms("build") / 1000.0)
        L["catalog.ivf_build_passages_per_s"] = built / (r.p50_ms("ivf_build") / 1000.0)
        L["catalog.append_ms"] = r.p50_ms("append")
        files = [os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs if f.endswith(".parquet")]
        L["catalog.index_files"] = len(files)
        L["catalog.index_bytes_per_passage"] = sum(os.path.getsize(f) for f in files) / self.passages

        cpu = {t: [r.best_cpu_ms(k, traced=t) for k in REQUEST_TYPES] for t in (False, True)}
        L["request.cpu_geomean_ms"] = geomean(cpu[False])
        # tracing overhead: traced requests against untraced ones
        L["trace.overhead.items_per_cpu_s"] = sum(cpu[False]) / sum(cpu[True]) - 1.0
