"""Driver-facing query registry: every operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus an equivalent ANSI-SQL
oracle string replayable by DuckDB on the same parquet tables.

This module is the correctness contract (`__spark_entry__.py` re-exports
it). Design rules that make the oracle comparison exact rather than
approximate:

- **Column names match by construction** — every computed column is
  aliased identically in the Spark plan and the SQL text.
- **Float aggregates are decimal-exact**: sums/averages go through a
  DECIMAL view and back to DOUBLE (see `operators.metrics._window_stats`),
  so both engines produce bit-identical doubles regardless of
  partitioning or evaluation order.
- **All hashes are engine-portable** (md5/sha256 of explicit strings).
- **Timestamps are UTC end-to-end**: `session.ensure_engine_conf` pins
  the Spark session; DuckDB's naive timestamps line up with Spark's
  micros-since-epoch rendered in UTC.

Reference parity notes (`/root/reference`): the events table plays the
tick stream (symbol := event_type, price := value), lineitem plays the
OHLCV table with a true volume column (l_quantity) — mirroring
`src/spark/jobs/spark_batch_processor.py:81-101` and
`src/spark/jobs/spark_stream_processor.py:154-231`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark.functions import cleaning
from real_time_stock_market_data_pipeline__spark.operators import (
    behavior,
    dedup,
    indicators,
    metrics,
    ohlcv,
    relational,
    sampling,
    similarity,
    sketches,
    temporal,
    text,
)
from real_time_stock_market_data_pipeline__spark.session import ensure_engine_conf
from real_time_stock_market_data_pipeline__spark.sinks import run_jobs_concurrently
from real_time_stock_market_data_pipeline__spark.sources.registry import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# --------------------------------------------------------------------------
# SQL fragments shared by several oracles
# --------------------------------------------------------------------------

#: normalized text (operators.dedup.normalized_text) in DuckDB SQL
_NORM = r"regexp_replace(lower(trim({col})), '\s+', ' ', 'g')"

#: exact average: decimal-sum / count, identical to metrics._window_stats
_EXAVG = "CAST(sum(CAST({col} AS DECIMAL(18,6))) AS DOUBLE) / count(*)"

#: exact sample stddev, identical to metrics._window_stats
_EXSTD = (
    "CASE WHEN count(*) >= 2 THEN sqrt(greatest(("
    "CAST(sum(CAST({col} AS DECIMAL(18,6)) * CAST({col} AS DECIMAL(18,6))) AS DOUBLE)"
    " - CAST(sum(CAST({col} AS DECIMAL(18,6))) AS DOUBLE)"
    " * CAST(sum(CAST({col} AS DECIMAL(18,6))) AS DOUBLE) / count(*)"
    ") / (count(*) - 1), 0.0)) END"
)


#: _EXSTD with DECIMAL(19,6) squares: forces DuckDB into INT128
#: multiplication for columns whose values reach ~1e4 (squares ~1e9
#: overflow the DECIMAL(18) int64 path) — e.g. simple returns of
#: wide-ranging synthetic prices.
_EXSTD_WIDE = _EXSTD.replace(
    "CAST({col} AS DECIMAL(18,6)) * CAST({col} AS DECIMAL(18,6))",
    "CAST({col} AS DECIMAL(19,6)) * CAST({col} AS DECIMAL(19,6))",
)


def _round_sql(expr: str, n: int) -> str:
    """Spark-faithful ``round(double, n)`` for DuckDB. Spark rounds the
    double's SHORTEST decimal repr (``BigDecimal.valueOf``) HALF_UP;
    DuckDB's ``round`` works on the exact binary value — they disagree
    exactly when the repr ends in a literal 5 at the cut digit (e.g.
    17.02125 → Spark 17.0213, plain DuckDB round 17.0212; hit at
    sf0.1). Routing through VARCHAR reproduces the repr, and DECIMAL
    rounding is then HALF_UP on those digits — matching Spark on every
    probed tie and non-tie case. DECIMAL(35,17): a double repr has at
    most 17 significant digits, so 17 fractional digits hold any repr
    below 1e18 exactly — a narrower scale double-rounds reprs like
    3.8522499999999997 (16 frac digits) UP where Spark's single-step
    rounding goes down (found by mad_anomalies at sf0.1; DuckDB's
    plain double round() also flips there, via an FP tie in its
    x·10^n scaling).

    KNOWN RESIDUAL RISK (found by pca_pc1 at sf0.001): Java 17's
    Double.toString is NOT always the shortest round-trip repr —
    it rendered -0.005096499999999999**5** where DuckDB's Ryū prints
    -0.0050965, and the two strings round to different 6-dp values.
    No VARCHAR-based replay can bridge that. For operators where the
    boundary is statistically likely (iterative quantization, dense
    lattices), prefer the pure-IEEE quantizer
    ``floor(x·10^k + 0.5)/10^k`` on BOTH sides instead of
    F.round/_round_sql — floor/mul/add are bit-defined, engine-
    independent ops (see `similarity.pca_power_iteration`)."""
    return (
        f"CAST(round(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(35,17)), {n})"
        " AS DOUBLE)"
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_engine_conf(spark)
    return load_table(spark, sf_dir, "events")


def _table(name: str) -> QueryFn:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_engine_conf(spark)
        return load_table(spark, sf_dir, name)

    fn.__name__ = f"load_{name}"
    return fn




#: everything here (helpers, SQL fragments, the import surface)
#: is re-exported into every family module via `from ._shared import *`
__all__ = [
    "Callable",
    "DataFrame",
    "F",
    "QueryFn",
    "SparkSession",
    "Window",
    "_EXAVG",
    "_EXSTD",
    "_EXSTD_WIDE",
    "_NORM",
    "_events",
    "_round_sql",
    "_table",
    "annotations",
    "behavior",
    "cleaning",
    "dedup",
    "ensure_engine_conf",
    "indicators",
    "load_table",
    "metrics",
    "ohlcv",
    "relational",
    "run_jobs_concurrently",
    "sampling",
    "similarity",
    "sketches",
    "temporal",
    "text",
]
