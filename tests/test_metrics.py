"""``realtime_metrics`` against the two-window + join transform it
replaces: one sliding-window aggregate per window spec, inner-joined on
(symbol, window_start). The one-aggregate form must give the same
rows, column names, types and order on any input, NULLs and ticks on
window edges included."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark.operators.metrics import (
    realtime_metrics,
)


def _exact_avg(price_col):
    total = F.sum(F.col(price_col).cast("decimal(18,6)")).cast("double")
    return total / F.count(F.lit(1))


def _exact_stddev_samp(price_col):
    d = F.col(price_col).cast("decimal(18,6)")
    n = F.count(F.lit(1))
    sx = F.sum(d).cast("double")
    sxx = F.sum(d * d).cast("double")
    var = (sxx - sx * sx / n) / (n - F.lit(1))
    return F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0))))


def _windowed(ticks, duration, slide, suffix, volume_col):
    """One ``F.window`` sliding aggregate, min and max included."""
    if volume_col is None:
        vol = F.count(F.lit(1))
    else:
        vol = F.sum(F.col(volume_col).cast("decimal(18,4)")).cast("bigint")
    agg = ticks.groupBy(
        F.col("symbol").alias("symbol"),
        F.window(F.col("ts"), duration, slide).alias("window"),
    ).agg(
        F.round(_exact_avg("price"), 4).alias(f"moving_avg_price_{suffix}"),
        F.round(_exact_stddev_samp("price"), 4).alias(
            f"price_volatility_{suffix}"
        ),
        vol.alias(f"total_volume_{suffix}"),
        F.round(F.min("price"), 4).alias(f"min_price_{suffix}"),
        F.round(F.max("price"), 4).alias(f"max_price_{suffix}"),
    )
    return agg.select(
        "*",
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias(f"window_{suffix}_end"),
    ).drop("window")


def _reference(ticks, volume_col):
    m15 = _windowed(ticks, "15 minutes", "5 minutes", "15m", volume_col)
    m1h = _windowed(ticks, "1 hour", "10 minutes", "1h", volume_col)
    return m15.join(m1h, ["symbol", "window_start"], "inner").select(
        "symbol", "window_start", "window_15m_end", "window_1h_end",
        "moving_avg_price_15m", "moving_avg_price_1h",
        "price_volatility_15m", "price_volatility_1h",
        "total_volume_15m", "total_volume_1h",
    )


_MIN = 60_000_000
#: 2024-01-02 00:00 UTC in microseconds
_BASE = 1_704_153_600_000_000

_MICROS = st.one_of(
    st.none(),
    # exactly on, or one microsecond either side of, a 5-minute edge
    st.builds(
        lambda base, k, e: base + k * 5 * _MIN + e,
        st.sampled_from([_BASE, 0]),
        st.integers(-36, 72),
        st.sampled_from([-1, 0, 0, 1]),
    ),
    # anywhere in a spread of several hours, either side of the epoch
    st.builds(
        lambda base, d: base + d,
        st.sampled_from([_BASE, 0]),
        st.integers(-3 * 60 * _MIN, 6 * 60 * _MIN),
    ),
)

_TICKS = st.lists(
    st.tuples(
        st.sampled_from(["AAA", "BBB", "CCC", None]),
        _MICROS,
        st.one_of(
            st.none(),
            st.floats(min_value=-1e4, max_value=1e4, allow_nan=False),
        ),
        st.one_of(st.none(), st.integers(min_value=0, max_value=10**6)),
    ),
    max_size=40,
)


def _ticks(spark, rows):
    return spark.createDataFrame(
        rows, "symbol string, us long, price double, volume long"
    ).select(
        "symbol",
        F.timestamp_micros("us").alias("ts"),
        "price",
        "volume",
    )


def _assert_same(spark, rows, volume_col):
    ticks = _ticks(spark, rows)
    got = realtime_metrics(ticks, volume_col=volume_col)
    want = _reference(ticks, volume_col)
    assert got.dtypes == want.dtypes
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@given(rows=_TICKS, with_volume=st.booleans())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_one_aggregate_equals_two_windows_and_join(spark, rows, with_volume):
    _assert_same(spark, rows, "volume" if with_volume else None)


def test_edge_ticks_and_nulls_equal_two_windows_and_join(spark):
    """The hand-picked cases: ticks on 5- and 10-minute edges and one
    microsecond before them, a lone tick in the second 5-minute pane of
    a 15m window, before-epoch ticks, and NULL symbol, ts and price."""
    edge = _BASE + 60 * _MIN
    rows = [
        ("AAA", edge, 10.0, 5),
        ("AAA", edge - 1, 11.0, 6),
        ("AAA", edge + 5 * _MIN, 12.5, None),
        ("AAA", edge + 15 * _MIN, 13.0, 7),
        ("AAA", edge + 15 * _MIN - 1, 14.0, 8),
        ("BBB", edge + 7 * _MIN, 20.0, 1),
        ("BBB", -1, 1.0, 1),
        ("BBB", -10 * _MIN, 2.0, 2),
        ("CCC", edge + 3 * _MIN, None, 3),
        (None, edge, 99.0, 9),
        ("AAA", None, 98.0, 9),
    ]
    for volume_col in (None, "volume"):
        _assert_same(spark, rows, volume_col)
