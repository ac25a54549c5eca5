"""Automated physical-plan audit over every gate in queries().

Runs each gate at a small sf (default sf0.001 — fixture builds are
cheap there): builds its DataFrame and collects it. Every SQL execution
the gate ran — the collect of the returned frame, and the jobs inside
the gate, such as a materialized gate's collect through
`utils.materialize` or `local_frame`, or a fixture's writes — is read
back from the session's SQL status store, and its final physical plan
is audited. A materialized gate's returned frame is a single
LocalTableScan, so auditing that frame alone would hide every operator
it ran. The counts are summed over the executions (`executions` says
how many) and cover the antipatterns the repo's scale rules forbid,
plus the structural signals the round reviews look for:

- python_stages:  BatchEvalPython / ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas[WithState] nodes. Row-at-a-time
  BatchEvalPython anywhere is a FINDING (the repo bans F.udf); Arrow
  stages are legitimate ONLY for the declared kernel operators
  (multimodal codecs, NFC, provider embedding, the dense-id assign of
  a write) — the audit records the count so a leak into a
  native-expression gate shows up as a diff against the committed
  baseline.
- cartesian:      CartesianProduct nodes (a non-broadcast cross join —
  always a scale bug in this repo; broadcast 1-row stats frames
  compile to BroadcastNestedLoopJoin instead).
- exchanges:      shuffle Exchange nodes (broadcasts and reused
  exchanges not counted) — not a pass/fail, but a regression in a
  gate's count between rounds is the first sign a persist boundary or
  co-partitioning was lost.
- partition_filters / pushed_filters: scans carrying partition pruning
  or pushed predicates (expected for the cid-routed / hive-layout
  readers).
- take_ordered:   TakeOrderedAndProject nodes (the top-k gates'
  expected physical form).
- python_scan:    `Scan ExistingRDD` nodes over Python rows (a
  spark.createDataFrame(<list>) frame, re-read by a Python worker in
  every job over it; `utils.local_frame` plans a LocalTableScan
  instead). The node's Arguments line names the RDD: one made `at
  localCheckpoint` holds JVM rows and is not counted.
- object_hash_agg: ObjectHashAggregate nodes (exact percentile,
  collect_list, …) — they disable whole-stage codegen for their stage.
- analyzed_chars: length of the returned frame's ANALYZED plan string.
  Every later operator on a lineage re-analyzes it (persist() does not
  cut the analyzed plan), so an inflated expression — a Column copied
  once per use, a re-split text — shows up here as a diff; `_summary`
  lists the ten largest.

An adaptive plan is audited as executed: its `== Final Plan ==` nodes,
not the `== Initial Plan ==` it replaced.

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


_TREE_ID = re.compile(r"\((\d+)\)(?:, Statistics\(.*\))?$")
_HEADER = re.compile(r"^\((\d+)\) (.+?)(?: \[.*\])?$")
_PYTHON_ARROW = {
    "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
}


def plan_nodes(formatted: str) -> list[tuple[str, str]]:
    """(name, detail lines) of each node of a `formatted` explain — the
    format of the status store's physicalPlanDescription. The tree
    sections give the node ids; an adaptive plan's `== Initial Plan ==`
    subtree (the lines indented deeper than its marker) is skipped, so
    a node is counted once, as executed."""
    ids: set[str] = set()
    details: dict[str, tuple[str, str]] = {}
    initial_col = None
    lines = iter(formatted.splitlines())
    for ln in lines:
        header = _HEADER.match(ln)
        if header:
            body = []
            for b in lines:
                if not b.strip():
                    break
                body.append(b)
            details[header.group(1)] = (header.group(2).strip(), "\n".join(body))
            continue
        if not ln.strip():  # a tree section ends
            initial_col = None
            continue
        col = len(ln) - len(ln.lstrip(" :|"))
        if initial_col is not None:
            if col > initial_col:
                continue
            initial_col = None
        if "== Initial Plan ==" in ln:
            initial_col = col
            continue
        m = _TREE_ID.search(ln)
        if m:
            ids.add(m.group(1))
    return [details[i] for i in sorted(ids, key=int) if i in details]


def _is_python_scan(name: str, body: str) -> bool:
    return name == "Scan ExistingRDD" and any(
        ln.startswith("Arguments:") and "ExistingRDD" in ln
        and "at localCheckpoint" not in ln
        for ln in body.splitlines()
    )


def python_scans(formatted: str) -> int:
    return sum(_is_python_scan(n, b) for n, b in plan_nodes(formatted))


def _filtered(body: str, key: str) -> bool:
    return f"{key}: [" in body and f"{key}: []" not in body


def audit_plan(formatted: str) -> dict:
    """Operator counts of one executed plan (its `formatted` explain)."""
    nodes = plan_nodes(formatted)
    names = [n for n, _ in nodes]
    return {
        "python_batch": names.count("BatchEvalPython"),
        "python_arrow": sum(n in _PYTHON_ARROW for n in names),
        "cartesian": names.count("CartesianProduct"),
        "exchanges": names.count("Exchange"),
        "partition_filters": sum(
            _filtered(b, "PartitionFilters") for _, b in nodes
        ),
        "pushed_filters": sum(_filtered(b, "PushedFilters") for _, b in nodes),
        "take_ordered": names.count("TakeOrderedAndProject"),
        "bnl_joins": names.count("BroadcastNestedLoopJoin"),
        "python_scan": sum(_is_python_scan(n, b) for n, b in nodes),
        "object_hash_agg": names.count("ObjectHashAggregate"),
    }


def audit_executions(plans: list[str], analyzed: str) -> dict:
    """`audit_plan` summed over a gate's executed plans, plus the
    returned frame's analyzed-plan size."""
    out = {"executions": len(plans), "analyzed_chars": len(analyzed)}
    for plan in plans:
        for k, v in audit_plan(plan).items():
            out[k] = out.get(k, 0) + v
    return out


def executed_plans(spark, after: int) -> tuple[list[str], int]:
    """The final physical plans of the SQL executions with an id above
    `after`, read from the session's SQL status store once the listener
    queue has drained, and the largest id seen."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    plans, last = [], after
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.executionId() <= after:
            break
        plans.append(e.physicalPlanDescription())
        last = max(last, e.executionId())
    return plans[::-1], last


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
    _, seen = executed_plans(spark, -1)
    for name in names:
        try:
            df = qs[name](spark, args.sf)
            analyzed = df._jdf.queryExecution().analyzed().toString()
            df.collect()
        except Exception as exc:  # fixture/environment failures recorded
            print(f"# {name}: ERROR {exc}", file=sys.stderr)
            out[name] = {"error": str(exc)[:200]}
            _, seen = executed_plans(spark, seen)
            continue
        plans, seen = executed_plans(spark, seen)
        out[name] = audit_executions(plans, analyzed)
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
