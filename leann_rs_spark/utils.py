"""Shared utilities: deterministic dense id assignment at scale,
driver-side rows as JVM-local frames (`local_frame`), and the one
collect-and-release step of the few-row diagnostic results
(`materialize`).

The reference threads a driver-side sequential u64 counter through its
chunkers (/root/reference/src/cli/build.rs:286-298,
src/chunker/simple.rs:38-40). The naive Spark translation —
`row_number()` over an unpartitioned Window — funnels every row through
ONE task, a non-starter at 100 TB. `with_dense_index` produces the same
ids with a two-phase plan:

1. range-repartition + in-partition sort on the ordering key (one
   shuffle — the unavoidable cost of a globally-ordered id),
2. per-partition row counts (a few hundred longs to the driver),
3. map-side `offset[pid] + local_rank` — no second shuffle.

Determinism requires the ordering key to be a total order (unique);
callers pass e.g. (doc_id, chunk_index).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T


def with_dense_index(
    df: DataFrame,
    order_cols: list[str],
    idx_col: str = "idx",
    start: int = 0,
    num_partitions: int | None = None,
    intermediates: list | None = None,
) -> DataFrame:
    """Add a dense 0-based (or `start`-based) BIGINT index following the
    total order of `order_cols`, without a global single-task window.

    `intermediates`: a caller-owned list that receives the two frames
    this call persists (the input and its range-partitioned form). The
    result is lazy, so they cannot be released here; a long-lived
    driver should unpersist them once the result is written, or every
    call pins two more cached RDDs."""
    return with_dense_index_counted(
        df, order_cols, idx_col, start, num_partitions, intermediates
    )[0]


def with_dense_index_counted(
    df: DataFrame,
    order_cols: list[str],
    idx_col: str = "idx",
    start: int = 0,
    num_partitions: int | None = None,
    intermediates: list | None = None,
) -> tuple[DataFrame, int]:
    """`with_dense_index` plus its row count, summed from the
    per-partition counts the id assignment already collects — a caller
    that needs the count (a write sizing its files, a meta row count)
    runs no count job of its own."""
    np_ = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # repartitionByRange runs a SAMPLING pass over the input to pick
    # range bounds, then the real pass — an expensive upstream (the
    # Python chunker in the build path) would run twice. Persist the
    # input so both passes read the materialized rows.
    df = df.persist()
    parted = (
        df.repartitionByRange(np_, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*[F.col(c) for c in order_cols])
        .withColumn("__pid", F.spark_partition_id())
    )
    parted = parted.persist()
    if intermediates is not None:
        intermediates += [df, parted]
    counts = {
        r["__pid"]: r["cnt"]
        for r in parted.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = T.StructType(
        [f for f in parted.schema.fields if f.name != "__pid"]
        + [T.StructField(idx_col, T.LongType(), False)]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos: dict[int, int] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            pid = int(pdf["__pid"].iloc[0])
            base = offsets.get(pid, 0) + pos.get(pid, 0)
            pos[pid] = pos.get(pid, 0) + len(pdf)
            out = pdf.drop(columns="__pid")
            out[idx_col] = range(base, base + len(pdf))
            yield out

    return parted.mapInPandas(assign, schema=out_schema), acc - start


def local_frame(spark, rows: list, schema: T.StructType | str) -> DataFrame:
    """Driver-side rows → a JVM LocalRelation frame (via Arrow/pandas).
    A plain createDataFrame(rows) is parallelize-backed ('Scan
    ExistingRDD'): every job and BroadcastExchange over it re-evaluates
    the pickled partitions through a Python worker, so a frame that is
    broadcast into several joins pays that roundtrip repeatedly per
    action. The Arrow path ships the rows once, JVM-side, and plans a
    LocalTableScan (exact for doubles, incl. -0.0 and 5e-324, and for
    nested arrays). pyspark's Arrow path rejects an empty pandas frame
    and would fall back to parallelize, so an empty `rows` builds the
    empty LocalRelation JVM-side instead. `schema` is a StructType or
    its DDL string."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not rows:
        jss = spark._jsparkSession
        return DataFrame(
            jss.createDataFrame(
                spark._jvm.java.util.ArrayList(), jss.parseDataType(schema.json())
            ),
            spark,
        )
    pdf = pd.DataFrame(
        [tuple(r) for r in rows], columns=[f.name for f in schema.fields]
    )
    return spark.createDataFrame(pdf, schema)


def materialize(df: DataFrame, held: list[DataFrame]) -> DataFrame:
    """Collect a bounded result (a sweep curve, a report, a gate's
    ordered output), unpersist the frames it `held` cached, and return
    the rows as a `local_frame`.
    A lazy result over persisted frames cannot release them itself, and
    a session that runs many such diagnostics would keep every one of
    them pinned in the storage pool."""
    rows = df.collect()
    for h in held:
        h.unpersist()
    return local_frame(df.sparkSession, rows, df.schema)
