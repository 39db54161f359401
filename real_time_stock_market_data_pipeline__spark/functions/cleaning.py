"""Cleaning / casting / derivation expressions (SURVEY.md §2.2).

Reference semantics being re-expressed (all from `/root/reference`):

- P1–P3 casts: `src/spark/jobs/spark_stream_processor.py:130-137`
- P4 `%`-strip: `spark_stream_processor.py:133`
- P5 daily change arithmetic: `spark_batch_processor.py:101`
- P6/P7 window-struct flatten + drop: `spark_stream_processor.py:177-179`
- P11/P12 symbol null/empty filter + trim:
  `src/snowflake/realtime_load_to_snowflake.py:130,145,177-178`
- P13 date normalization: `src/snowflake/load_to_snowflake.py:156`
- P15 date-partition key derivation: `src/kafka/consumer/batch_data_consumer.py:76`
- P16 JSON decode: `src/kafka/consumer/realtime_data_consumer.py:92`
- P17 rounding: `src/kafka/producer/stream_data_producer.py:84,94-95`
- P18 bulk rename: `src/kafka/producer/batch_data_producer.py:76-83`

Every helper returns Column expressions (or a projected DataFrame) built
from JVM-side built-ins, so Catalyst can fold/push them down — contrast
with the reference's pandas per-cell loops
(`load_to_snowflake.py:204-213`).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def event_time_from_nanos(col: str = "ts") -> Column:
    """Nanosecond epoch (long) → TimestampType, losslessly for
    microsecond-aligned data.

    The driver's `events.parquet` stores TIMESTAMP(NANOS), which Spark
    only reads with ``spark.sql.legacy.parquet.nanosAsLong=true`` (as a
    long). SQL integer ``div`` keeps the arithmetic in exact 64-bit
    space — a double round-trip loses ~256 ns at 2024 epoch magnitudes.
    """
    return F.expr(f"timestamp_micros(`{col}` div 1000)")


def strip_percent(col: str | Column) -> Column:
    """P4: strip a trailing ``%`` and cast to double
    (`spark_stream_processor.py:133`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "%", "").cast("double")


def cast_tick_types(df: DataFrame) -> DataFrame:
    """P1–P4: normalize a stringly raw tick frame (schemas.TICKS_RAW) to
    typed schemas.TICKS, reconciling the reference's
    ``percent_change``/``change_percent`` drift
    (`stream_data_producer.py:103` vs `spark_stream_processor.py:68`).
    """
    cols = set(df.columns)
    pct_src = (
        F.coalesce(F.col("change_percent"), F.col("percent_change"))
        if {"change_percent", "percent_change"} <= cols
        else F.col("change_percent" if "change_percent" in cols else "percent_change")
    )
    out = (
        df.withColumn("timestamp", F.to_timestamp("timestamp"))
        .withColumn("price", F.col("price").cast("double"))
        .withColumn("change", F.col("change").cast("double"))
        .withColumn("change_percent", strip_percent(pct_src))
        .withColumn("volume", F.col("volume").cast("int"))
        .withColumn("today_low", F.col("today_low").cast("double"))
        .withColumn("today_high", F.col("today_high").cast("double"))
    )
    if "percent_change" in cols:
        out = out.drop("percent_change")
    return out


def pct_change(open_col: str | Column, close_col: str | Column, scale: int = 4) -> Column:
    """P5: ``(close - open) / open * 100`` (`spark_batch_processor.py:101`),
    rounded for cross-engine determinism. NULL when open = 0 (Spark 4's
    ANSI mode would otherwise raise on the division)."""
    o = F.col(open_col) if isinstance(open_col, str) else open_col
    c = F.col(close_col) if isinstance(close_col, str) else close_col
    return F.round(F.when(o != 0, (c - o) / o * 100), scale)


def flatten_window(df: DataFrame, prefix: str = "window") -> DataFrame:
    """P6/P7: extract ``window.start``/``window.end`` and drop the struct
    (`spark_stream_processor.py:177-179`)."""
    return (
        df.withColumn(f"{prefix}_start", F.col(f"{prefix}.start"))
        .withColumn(f"{prefix}_end", F.col(f"{prefix}.end"))
        .drop(prefix)
    )


def normalize_symbol(df: DataFrame, col: str = "symbol") -> DataFrame:
    """P11/P12: trim the key column and keep only non-null, non-empty
    rows (`realtime_load_to_snowflake.py:130,145`)."""
    c = F.trim(F.col(col))
    return df.withColumn(col, c).filter(F.col(col).isNotNull() & (F.col(col) != ""))


def date_parts(ts_col: str | Column) -> list[Column]:
    """P15: derive year/month/day partition keys
    (`batch_data_consumer.py:76`)."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return [
        F.year(c).alias("year"),
        F.month(c).alias("month"),
        F.dayofmonth(c).alias("day"),
    ]


def json_int_field(col: str | Column, path: str) -> Column:
    """P16: pull one integer field out of a JSON string column
    (`realtime_data_consumer.py:92` decodes whole payloads; here the
    extraction stays JVM-side via ``get_json_object``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path).cast("int")


def round2(col: str | Column) -> Column:
    """P17: 2-decimal rounding (`stream_data_producer.py:84,94-95`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, 2)


def second_truncated(ts_col: str | Column) -> Column:
    """P1/P13: second-granular re-parse — string-format then
    ``to_timestamp``, the reference's cast path
    (`spark_stream_processor.py:130`) made deterministic."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return F.to_timestamp(F.date_format(c, "yyyy-MM-dd HH:mm:ss"))


def rename_bulk(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """P18: bulk column rename (`batch_data_producer.py:76-83`)."""
    return df.withColumnsRenamed(dict(mapping))
