"""`curate`: the training-data pipeline over near-duplicate families.

Each pass runs `curate_corpus` (Gopher quality gate, exact dedup, MinHash
near-dup clusters with canonical keep, split assignment) and then
`dsir_select` (importance resampling toward src1/en), both with the
parameters of the x_curation_pipeline / x_dsir_select gates, and
collects their outputs.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.harness import Rounds, Run, collect_garbage, log
from perfbench.metrics import CURATE_PHASES, CURATION_STAGES
from perfbench.stats import geomean, median

N_FAMILIES = 200
VARIANTS = 3
GOPHER = {"min_words": 20, "min_stopword_hits": 1}
MINHASH_THRESHOLD = 0.5
SELECT_N = 100
# timed passes at least (more while --seconds allows); each phase
# reports its cheapest call. After one warm-up pass the first timed
# pass still uses 5-50% more CPU than the second, and the second varies
# more between runs than the third.
PASSES = 3
TARGET = "source = 'src1' AND lang = 'en'"


class Curate:
    def __init__(self, r: Run):
        self.r = r

    def one_pass(self, tag: str, steps: list[tuple[str, bool]], stage_timings: dict | None):
        """Run each (phase, traced) step; returns [(phase, output)]."""
        from leann_rs_spark.operators.curation import curate_corpus
        from leann_rs_spark.operators.dsir import dsir_select

        r, tr = self.r, self.r.tracer
        outs = []
        for phase, traced in steps:
            inter: list = []
            with r.op(phase, f"{tag}-{phase}", traced=traced):
                try:
                    if phase == "curate":
                        with tr.span("curation.curate_corpus"):
                            df = curate_corpus(
                                self.docs, gopher_params=GOPHER,
                                minhash_threshold=MINHASH_THRESHOLD,
                                intermediates=inter,
                                stage_timings=stage_timings if traced else None,
                            ).select("doc_id", "lang", "split")
                    else:
                        with tr.span("dsir.dsir_select"):
                            df = dsir_select(
                                self.docs, self.docs.filter(F.expr(TARGET)),
                                n=SELECT_N, intermediates=inter,
                            ).select(
                                "doc_id", "n_grams",
                                (F.round("log_weight", 6) + F.lit(0.0)).alias("logw_r"),
                            )
                    with tr.span("curation.collect"):
                        out = [tuple(row) for row in df.collect()]
                except Exception as e:  # a failed pass is counted, not fatal
                    out = e
            outs.append((phase, out))
            for d in inter:
                d.unpersist()
        return outs

    def check(self, tag: str, outs: list) -> None:
        r = self.r
        for phase, out in outs:
            if isinstance(out, Exception):
                r.check(False, f"{tag}-{phase}: {type(out).__name__}: {out}")
            elif phase == "curate":
                ok = len(out) == len(self.exp_curate) and checks.rows_digest(out) == self.exp_digest
                r.check(ok, f"{tag}-curate: rows differ from the oracle")
            else:
                r.check(checks.same_selection(out, self.exp_select), f"{tag}-select: rows differ")

    def run(self) -> dict[str, float]:
        r, spark = self.r, self.r.spark
        t0 = time.perf_counter()
        rows = gen.curate_corpus_rows(r.seed, N_FAMILIES, VARIANTS)
        path = f"{r.work}/input/documents"
        gen.write_docs(rows, path, spark.sparkContext.defaultParallelism)
        self.docs = spark.read.schema(gen.DOC_SCHEMA).parquet(path)
        self.n_docs = len(rows)
        t_gen = time.perf_counter()

        self.exp_curate, self.exp_select = checks.curation_expected(f"{path}/*.parquet")
        self.exp_digest = checks.rows_digest(self.exp_curate)
        t_checked = time.perf_counter()
        log(f"curate: {self.n_docs} docs; oracle answers in {t_checked - t_gen:.1f}s")

        untraced = [(p, False) for p in CURATE_PHASES]
        self.check("warmup", self.one_pass("warmup", untraced, stage_timings=None))
        for phase in CURATE_PHASES:
            r.samples.pop(phase, None)
        collect_garbage(spark)
        setup_s = (t_gen - t0) + (time.perf_counter() - t_checked)

        # whole passes for about r.seconds. A traced run makes each call
        # twice, traced and untraced, in an order that alternates by call
        # and pass, so the tracing overhead compares the same work.
        stages: list[dict] = []
        loop = Rounds(r.seconds, need=PASSES)
        for i in loop:
            steps = []
            for j, p in enumerate(CURATE_PHASES):
                if r.traced:
                    order = (True, False) if (i + j) % 2 else (False, True)
                    steps += [(p, t) for t in order]
                else:
                    steps.append((p, False))
            st: dict = {}
            outs = self.one_pass(f"p{i}", steps, st)
            if st:
                stages.append(st)
            self.check(f"p{i}", outs)
        passes = len(loop.durations)
        r.round_s = loop.durations
        log(f"curate: set-up {setup_s:.1f}s; {passes} timed passes in "
            f"{sum(loop.durations):.1f}s")

        # a pass as users run it is one curate call plus one select call
        def pass_cpu_ms(traced: bool) -> float:
            return sum(r.best_cpu_ms(p, traced) for p in CURATE_PHASES)

        e2e = {
            "setup_s": r.layer["session.start_s"] + setup_s,
            "items_per_cpu_s": self.n_docs / (pass_cpu_ms(False) / 1000.0),
        }
        if r.traced:
            L = r.layer
            for p in CURATE_PHASES:
                r.spark_layer(p, with_exec=True)
            for s in CURATION_STAGES:
                L[f"curation.stage_s.{s}"] = median(st[s] for st in stages)
            L["dedup.kept_ratio"] = len(self.exp_curate) / self.n_docs
            L["dsir.select_s"] = r.p50_ms("select", True) / 1000.0
            from leann_rs_spark.operators.dedup import minhash_near_dups

            with r.tracer.span("dedup.minhash_near_dups", "layers"):
                L["dedup.pairs"] = minhash_near_dups(
                    self.docs.repartition(spark.sparkContext.defaultParallelism),
                    threshold=MINHASH_THRESHOLD,
                ).count()
            implied = gen.implied_pairs(rows, N_FAMILIES)
            log(f"curate: {L['dedup.pairs']} near-dup pairs over all documents (the families "
                f"imply {implied}); {len(self.exp_curate)} kept of {self.n_docs}")
            L["request.cpu_geomean_ms"] = geomean(r.best_cpu_ms(p, False) for p in CURATE_PHASES)
            L["trace.overhead.items_per_cpu_s"] = pass_cpu_ms(False) / pass_cpu_ms(True) - 1.0
        return e2e
