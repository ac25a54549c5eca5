"""Automated physical-plan audit over every gate in queries().

Builds each gate's DataFrame at a small sf (default sf0.001 — fixture
builds are cheap there) and greps the EXECUTED plan string for the
antipatterns the repo's scale rules forbid, plus the structural
signals the round reviews look for:

- python_stages:  BatchEvalPython / ArrowEvalPython / FlatMapsInPandas
  occurrences. Row-at-a-time BatchEvalPython anywhere is a FINDING
  (the repo bans F.udf); Arrow stages are legitimate ONLY for the
  declared kernel operators (multimodal codecs, NFC, provider
  embedding) — the audit records the count so a leak into a
  native-expression gate shows up as a diff against the committed
  baseline.
- cartesian:      CartesianProduct nodes (a non-broadcast cross join —
  always a scale bug in this repo; broadcast 1-row stats frames
  compile to BroadcastNestedLoopJoin instead).
- exchanges:      shuffle count — not a pass/fail, but a regression in
  a gate's count between rounds is the first sign a persist boundary
  or co-partitioning was lost.
- partition_filters / pushed_filters: scans carrying partition pruning
  or pushed predicates (expected for the cid-routed / hive-layout
  readers).
- take_ordered:   TakeOrderedAndProject present (the top-k gates'
  expected physical form).
- python_scan:    `Scan ExistingRDD` nodes over Python rows (a
  spark.createDataFrame(<list>) frame, re-read by a Python worker in
  every job over it; `utils.local_frame` plans a LocalTableScan
  instead). Counted on the formatted plan, whose Arguments line names
  the RDD: one made `at localCheckpoint` holds JVM rows and is not
  counted.
- object_hash_agg: ObjectHashAggregate nodes (exact percentile,
  collect_list, …) — they disable whole-stage codegen for their stage.
- analyzed_chars: length of the gate's ANALYZED plan string. Every
  later operator on a lineage re-analyzes it (persist() does not cut
  the analyzed plan), so an inflated expression — a Column copied
  once per use, a re-split text — shows up here as a diff; `_summary`
  lists the ten largest.

Emits one JSON object {gate: {...}, _summary: {...}} on stdout.
Usage: python3 tools/plan_audit.py [--sf /root/testdata/sf0.001]
       [gate ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def python_scans(formatted: str) -> int:
    return sum(
        1 for ln in formatted.splitlines()
        if ln.startswith("Arguments:") and "ExistingRDD" in ln
        and "at localCheckpoint" not in ln
    )


def audit_plan(plan: str, formatted: str, analyzed: str) -> dict:
    return {
        "analyzed_chars": len(analyzed),
        "python_batch": plan.count("BatchEvalPython"),
        "python_arrow": (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("FlatMapGroupsInPandasWithState")
        ),
        "cartesian": plan.count("CartesianProduct"),
        "exchanges": len(re.findall(r"Exchange (?:hash|range|single)", plan)),
        "partition_filters": plan.count("PartitionFilters: [")
        - plan.count("PartitionFilters: []"),
        "pushed_filters": plan.count("PushedFilters: [")
        - plan.count("PushedFilters: []"),
        "take_ordered": plan.count("TakeOrderedAndProject") > 0,
        "bnl_joins": plan.count("BroadcastNestedLoopJoin"),
        "python_scan": python_scans(formatted),
        "object_hash_agg": plan.count("ObjectHashAggregate"),
    }


def gates_with(out: dict, field: str) -> list[str]:
    return sorted(
        k for k, v in out.items() if k != "_summary" and v.get(field, 0) > 0
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("gates", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from leann_rs_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    qs = entry.queries()
    names = args.gates or list(qs)
    out: dict = {}
    for name in names:
        try:
            df = qs[name](spark, args.sf)
            qe = df._jdf.queryExecution()
            analyzed = qe.analyzed().toString()
            plan = qe.executedPlan().toString()
            formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
        except Exception as exc:  # fixture/environment failures recorded
            print(f"# {name}: ERROR {exc}", file=sys.stderr)
            out[name] = {"error": str(exc)[:200]}
            continue
        out[name] = audit_plan(plan, formatted, analyzed)
        print(f"# {name}: {out[name]}", file=sys.stderr)
    ok = [v for v in out.values() if "error" not in v]
    out["_summary"] = {
        "n_gates": len(ok),
        "n_errors": len(out) - len(ok),
        "gates_with_python_batch": gates_with(out, "python_batch"),
        "gates_with_cartesian": gates_with(out, "cartesian"),
        "gates_with_arrow": gates_with(out, "python_arrow"),
        "gates_with_python_scan": gates_with(out, "python_scan"),
        "gates_with_object_hash_agg": gates_with(out, "object_hash_agg"),
        "total_exchanges": sum(v.get("exchanges", 0) for v in ok),
        "largest_analyzed_chars": dict(
            sorted(
                ((k, v["analyzed_chars"]) for k, v in out.items()
                 if "analyzed_chars" in v),
                key=lambda kv: (-kv[1], kv[0]),
            )[:10]
        ),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
