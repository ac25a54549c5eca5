"""Readers for the driver's parquet tables.

`events.parquet` has shipped `ts` as either TIMESTAMP(MICROS) (current
testdata) or TIMESTAMP(NANOS) (which Spark's parquet reader rejects by
default — PARQUET_TYPE_ILLEGAL — and DuckDB truncates to micros).
`read_events` sniffs the physical unit from the parquet footer and
normalizes to a proper micros TIMESTAMP either way, so both generations
of testdata read identically to DuckDB's view of the same file."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _events_ts_unit(spark: SparkSession, sf_dir: str) -> str:
    """Footer sniff (driver-side, one small metadata read): 'us' or 'ns'.
    Without pyarrow, fall back to letting Spark infer the schema — a
    NANOS column shows up as LongType-rejected/absent TimestampType,
    which the except path maps to 'ns' (the pre-sniff behavior)."""
    try:
        import pyarrow.parquet as pq

        schema = pq.ParquetFile(f"{sf_dir}/events.parquet").schema_arrow
        return schema.field("ts").type.unit
    except Exception:
        try:
            dt = dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes)[
                "ts"
            ]
            return "us" if "timestamp" in dt else "ns"
        except Exception:
            return "ns"


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as a TIMESTAMP (micros; NTZ when the file stores
    micros) + ts_ns epoch nanos. On the micros path ts_ns is derived
    through an NTZ→session-tz cast, so treat it as a convenience column
    whose absolute value assumes a fixed-offset session; all shipped
    operators compare timestamps directly (interval math), never
    ts_ns."""
    if _events_ts_unit(spark, sf_dir) == "ns":
        raw = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(
            f"{sf_dir}/events.parquet"
        )
        # `div` = exact integer division; a double-precision `/ 1000`
        # loses the low bits of ns-epoch longs (~2^60) → off-by-1µs vs
        # DuckDB's exact ns→µs truncation of the same parquet column
        ts = F.timestamp_micros(F.expr("ts div 1000"))
        ts_ns = F.col("ts")
    else:
        # ts arrives as TIMESTAMP_NTZ (parquet isAdjustedToUTC=false) —
        # keep it: NTZ collects to the same naive values DuckDB reads,
        # independent of the session time zone.
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts = F.col("ts")
        ts_ns = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    return raw.select(
        "event_id",
        ts.alias("ts"),
        ts_ns.alias("ts_ns"),
        "user_id",
        "event_type",
        "value",
        "props",
    )

