"""Scalar / projection expression layer (SURVEY.md §2.2, P1–P20).

Composable column-expression helpers replacing the reference's inline
casts and pandas cell munging. Everything here is a thin wrapper over
`pyspark.sql.functions` so it stays inside whole-stage codegen — no
Python UDFs on the scalar path.
"""

from real_time_stock_market_data_pipeline__spark.functions.cleaning import (  # noqa: F401
    cast_tick_types,
    date_parts,
    event_time_from_nanos,
    json_int_field,
    normalize_symbol,
    pct_change,
    rename_bulk,
    round2,
    second_truncated,
    strip_percent,
)
