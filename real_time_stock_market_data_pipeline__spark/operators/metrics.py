"""Dual sliding-window realtime metrics — the reference's streaming core
as a pure DataFrame transform.

Reference: `/root/reference/src/spark/jobs/spark_stream_processor.py:154-231`
— watermark, a 15-min/5-min-slide windowed agg (A1, `:164,167-180`), a
1-h/10-min-slide windowed agg (A2, `:165,182-195`), an inner join on
(symbol, window_start) (J1, `:197-204`), and a 10-column aliased
projection (P9, `:205-220`).

The join of two *streaming* aggregations under append mode is restricted
by Spark (SURVEY.md §2.3 J1), so the engine factors the whole transform
as a batch-applicable function: the streaming layer applies it inside
``foreachBatch`` (streaming/pipeline.py), and the correctness driver
checks it directly against a DuckDB oracle. Window starts are aligned to
the Unix epoch in UTC, exactly like ``F.window``'s own alignment, which
makes the oracle expressible as epoch-bucket arithmetic.

J1 needs no join here. Only window starts aligned to both slides
survive the reference's inner join, and a 15m window lies inside the 1h
window with the same start, so both windows are sub-aggregates of one
group per (symbol, 1h window start) — the shared sub-aggregates of Li
et al., "No Pane, No Gain" (SIGMOD Record 2005). ``realtime_metrics``
computes them in one aggregate, and a non-empty 15m window stands for
the join's match. That also makes the window struct's flatten (P6/P7)
unnecessary: the window bounds are computed from the start.

Scale note: one scan of the ticks and one shuffle on (symbol, window
start). Each tick expands into the 6 1h windows that hold it before the
partial aggregate, so the shuffle carries at most one partial row per
(symbol, window) per task — at 1000 executors that is tiny relative to
the input (state ≈ symbols × windows). Two aggregates and their join
cost two scans, two shuffles and a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: the window specs in microseconds: a 15m/5m and a 1h/10m window
_US_15M = 15 * 60_000_000
_US_1H = 60 * 60_000_000
_US_10M = 10 * 60_000_000


def _ident(name: str) -> str:
    """Backtick-quoted SQL identifier for column ``name``."""
    return "`" + name.replace("`", "``") + "`"


def _window_stats(suffix: str, where: str, volume: bool) -> list[str]:
    """The SQL of one window's three columns, over the group's rows
    that pass ``where`` (a ``FILTER`` clause, or ``""`` for all), from
    ``d``, the price as DECIMAL(18,6), ``dd`` = d·d and ``v``, the
    volume as DECIMAL(18,4):

    - the mean, Σd / n. A native ``avg(double)`` is order-dependent
      (float addition is not associative), so its last ulp changes
      with partitioning — bad for a 100 TB re-plan and unmatchable by
      an external oracle. The DECIMAL sum is exact and associative;
      the single double division at the end is IEEE-deterministic.
    - the sample stddev, sqrt((Σdd − (Σd)²/n) / (n−1)) from the same
      exact sums, clamped at 0 against cancellation and NULL for n<2
      like ``stddev_samp``.
    - the volume, Σv as BIGINT, or the row count n without a volume.
    """
    n = f"count(1){where}"
    sx = f"CAST(sum(d){where} AS DOUBLE)"
    sxx = f"CAST(sum(dd){where} AS DOUBLE)"
    vol = f"CAST(sum(v){where} AS BIGINT)" if volume else n
    return [
        f"round({sx} / {n}, 4) AS moving_avg_price_{suffix}",
        f"round(CASE WHEN {n} >= 2 THEN sqrt(greatest(({sxx} - {sx} * {sx}"
        f" / {n}) / ({n} - 1), 0.0D)) END, 4) AS price_volatility_{suffix}",
        f"{vol} AS total_volume_{suffix}",
    ]


def realtime_metrics(
    ticks: DataFrame,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "price",
    volume_col: str | None = None,
) -> DataFrame:
    """15m/5m × 1h/10m dual-window metrics joined on
    (symbol, window_start) — the reference's exact output shape
    (`spark_stream_processor.py:205-220`) minus the nondeterministic
    ``last_updated`` stamp (the streaming sink adds it, P14).

    Only window starts aligned to both slides (multiples of 10 min)
    survive the reference's inner join, and a 15m window lies inside
    the 1h window with the same start. So one pass computes both: each
    tick goes to the 6 starts ``us - pmod(us, 10 min) - i·10 min``
    (i in 0..5) of the 1h windows that hold it, one ``GROUP BY
    (symbol, start)`` computes the 1h columns over all of a group's
    rows and the 15m columns over those with ``us < start + 15 min``,
    and ``HAVING`` a non-empty 15m window does the join's work. Window
    starts follow ``F.window``'s epoch alignment in UTC; a NULL ``ts``
    (which ``F.window`` drops) or a NULL symbol (which the join drops)
    never reaches a group. ``ts`` is a TIMESTAMP, as every reader here
    gives it.

    Volume is ``sum(volume)`` per the reference
    (`spark_stream_processor.py:172`); ``volume_col=None`` falls back to
    a row count for sources without a volume column (driver ``events``).

    The whole transform is one SQL text, analysed in one py4j round
    trip: the streaming layer builds it once per micro-batch, where
    building Column trees cost more driver time than Spark spent on
    the batch.
    """
    dec = f"CAST({_ident(price_col)} AS DECIMAL(18,6))"
    vol = (
        "NULL"
        if volume_col is None
        else f"CAST({_ident(volume_col)} AS DECIMAL(18,4))"
    )
    w15 = " FILTER (WHERE in15)"
    cols = [
        c
        for pair in zip(
            _window_stats("15m", w15, volume_col is not None),
            _window_stats("1h", "", volume_col is not None),
        )
        for c in pair
    ]
    sym, ts = _ident(symbol_col), _ident(ts_col)
    last = f"us - pmod(us, {_US_10M})"
    text = f"""
SELECT symbol,
  timestamp_micros(start) AS window_start,
  timestamp_micros(start + {_US_15M}) AS window_15m_end,
  timestamp_micros(start + {_US_1H}) AS window_1h_end,
  {", ".join(cols)}
FROM (
  SELECT symbol, d, dd, v, start, us < start + {_US_15M} AS in15
  FROM (
    SELECT symbol, us, d, dd, v,
      explode(sequence({last} - {_US_1H - _US_10M}, {last}, {_US_10M})) AS start
    FROM (
      SELECT {sym} AS symbol, unix_micros({ts}) AS us,
        {dec} AS d, {dec} * {dec} AS dd, {vol} AS v
      FROM {{ticks}}
      WHERE {sym} IS NOT NULL AND {ts} IS NOT NULL
    )
  )
)
GROUP BY symbol, start
HAVING count(1){w15} > 0
"""
    return ticks.sparkSession.sql(text, ticks=ticks)


def quantile_summary(
    df: DataFrame,
    key_col: str,
    value_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    accuracy: int = 1_000_000,
) -> DataFrame:
    """Per-key distribution summary: discrete (sketch) and continuous
    (exact, interpolated) quantiles of ``value_col``.

    - ``q_disc`` uses ``percentile_approx`` — a mergeable
      Greenwald-Khanna-style sketch: partitions build partial sketches,
      the shuffle carries O(accuracy) per key, never the values. This
      is the 100 TB path; at the default accuracy its picks coincide
      with DuckDB's ``quantile_disc`` (both return actual data values),
      which keeps the oracle exact on test scales.
    - ``q_cont`` uses the exact ``percentile`` aggregate (sorts per
      key) — interpolated quantiles for parity with SQL
      ``quantile_cont``; the expensive exact reference, documented as
      such.
    """
    q_arr = "array({})".format(", ".join(f"{q!r}D" for q in qs))
    return df.groupBy(F.col(key_col).alias("key")).agg(
        F.percentile_approx(value_col, list(qs), accuracy).alias("q_disc"),
        F.expr(f"percentile({value_col}, {q_arr})").alias("q_cont"),
        F.count(F.lit(1)).alias("n"),
    )


def winsorize(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
    accuracy: int = 1_000_000,
) -> DataFrame:
    """Per-key outlier clipping: values outside the key's
    [``lo_q``, ``hi_q``] quantile band are clamped to the band edge —
    the robust-statistics pre-filter a metrics/training pipeline runs
    before aggregation so fat-tailed ticks can't dominate.

    Band edges come from the mergeable ``percentile_approx`` sketch
    (actual data values — matches SQL ``quantile_disc`` exactly at
    this accuracy), computed in one pass and joined back **broadcast**:
    the per-key band frame is |keys| rows, so at 100 TB the clip is a
    map-side hash join + one CASE, no second shuffle of the data.
    Output keeps the raw value alongside the clipped one plus the band,
    so downstream can audit the clamping.
    """
    bands = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.percentile_approx(value_col, lo_q, accuracy).alias("lo_band"),
        F.percentile_approx(value_col, hi_q, accuracy).alias("hi_band"),
    )
    joined = df.select(id_col, key_col, value_col).join(
        F.broadcast(bands), F.col(key_col) == F.col("__k")
    )
    v = F.col(value_col)
    clipped = F.when(v < F.col("lo_band"), F.col("lo_band")).when(
        v > F.col("hi_band"), F.col("hi_band")
    ).otherwise(v)
    return joined.select(
        F.col(id_col),
        F.col(key_col).alias("key"),
        v.alias("value"),
        clipped.alias("clipped"),
        "lo_band",
        "hi_band",
    )


def quantile_summary_long(
    df: DataFrame,
    key_col: str,
    value_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    accuracy: int = 1_000_000,
) -> DataFrame:
    """:func:`quantile_summary` in long form: one row per
    (key, quantile level) instead of array columns.

    Strictly better relational shape for downstream SQL consumers (and
    for any harness that canonicalizes rows — array cells don't sort or
    hash portably). Same sketch/exact aggregates underneath: the
    explode happens on the tiny aggregated frame (|keys| × |qs| rows),
    so the 100 TB cost profile is identical to the wide form."""
    wide = quantile_summary(df, key_col, value_col, qs, accuracy)
    levels = F.array(*[F.lit(float(q)) for q in qs])
    zipped = F.arrays_zip(
        levels.alias("q_level"),
        F.col("q_disc").alias("q_disc"),
        F.col("q_cont").alias("q_cont"),
    )
    return wide.select(
        "key", "n", F.explode(zipped).alias("z")
    ).select(
        "key",
        F.col("z.q_level").alias("q_level"),
        F.col("z.q_disc").alias("q_disc"),
        F.col("z.q_cont").alias("q_cont"),
        "n",
    )


def value_histogram(
    df: DataFrame,
    key_col: str,
    value_col: str,
    width: float = 10.0,
) -> DataFrame:
    """Fixed-width histogram per key: bucket index, bucket lower bound,
    count, and the key-relative share. The share divides by a windowed
    total over the already-aggregated frame (same partitioning — no
    extra exchange), the df-as-window pattern."""
    from pyspark.sql import Window

    bucket = F.floor(F.col(value_col) / F.lit(width)).cast("bigint")
    counts = df.groupBy(
        F.col(key_col).alias("key"), bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    wk = Window.partitionBy("key")
    total = F.sum("n").over(wk)
    return counts.select(
        "key",
        "bucket",
        (F.col("bucket") * F.lit(width)).alias("bucket_lo"),
        "n",
        F.round(F.col("n").cast("double") / total, 6).alias("share"),
    )


def zscore_anomalies(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    id_cols: list[str],
    z_threshold: float = 3.0,
) -> DataFrame:
    """Rows whose value deviates more than ``z_threshold`` sample
    standard deviations from their group mean. Mean and stddev come
    from exact DECIMAL sums over an unordered group window (one
    exchange, no sort frame), so the flag is partition-independent —
    the monitoring primitive a tick pipeline runs next to its metrics
    job."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols)
    d = F.col(value_col).cast("decimal(18,6)")
    n = F.count(F.lit(1)).over(w)
    sx = F.sum(d).over(w).cast("double")
    sxx = F.sum(d * d).over(w).cast("double")
    mean = sx / n
    var = (sxx - sx * sx / n) / (n - F.lit(1))
    sd = F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0))))
    z = F.when(sd > 0, (F.col(value_col) - mean) / sd)
    return (
        df.select(
            *id_cols,
            *key_cols,
            F.col(value_col),
            F.round(z, 4).alias("zscore"),
        )
        .where(F.abs(F.col("zscore")) > z_threshold)
    )


def profile_columns(
    df: DataFrame,
    numeric_cols: list[str],
    categorical_cols: list[str] | None = None,
) -> DataFrame:
    """Long-form data-profiling summary: one row per column with row /
    null / distinct counts and (for numeric columns) min and max.

    Single-pass conditional aggregation per column folded into ONE
    global aggregate (no per-column jobs, no union of re-scans), then
    an explode to long form — profiling a 100 TB table costs exactly
    one scan. Distinct counts use the built-in two-phase
    count(DISTINCT) expansion.
    """
    categorical_cols = categorical_cols or []
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("_n_rows")]
    for c in numeric_cols + categorical_cols:
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"_nd_{c}"))
    for c in numeric_cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"_min_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"_max_{c}"))
    wide = df.agg(*aggs)
    entries = []
    for c in numeric_cols + categorical_cols:
        is_num = c in numeric_cols
        entries.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n_rows").alias("n_rows"),
                (F.col("_n_rows") - F.col(f"_nn_{c}")).alias("n_null"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                (F.col(f"_min_{c}") if is_num else F.lit(None).cast("double")).alias(
                    "min_val"
                ),
                (F.col(f"_max_{c}") if is_num else F.lit(None).cast("double")).alias(
                    "max_val"
                ),
            )
        )
    return wide.select(F.explode(F.array(*entries)).alias("p")).select("p.*")


def benford_digits(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """First-significant-digit distribution per key, with the Benford
    expectation log10(1 + 1/d) alongside — the classic fabricated-data
    / corrupted-feed screen, run as one groupBy over the raw table.

    The leading digit is extracted *lexically*: the value is cast to
    DECIMAL(18,6) (half-up, lossless for tick data) and rendered as a
    string, and the first character in [1-9] is the first significant
    digit. This sidesteps log10/pow float paths entirely, so the digit
    is bit-identical in any engine; zero and null values drop out (no
    significant digit).
    """
    from pyspark.sql import Window

    digit = F.regexp_extract(
        F.abs(F.col(value_col)).cast("decimal(18,6)").cast("string"),
        "[1-9]",
        0,
    )
    counts = (
        df.select(F.col(key_col).alias("key"), digit.alias("digit"))
        .where(F.col("digit") != "")
        .groupBy("key", "digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wk = Window.partitionBy("key")
    share = F.col("n").cast("double") / F.sum("n").over(wk)
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return counts.select(
        "key",
        F.col("digit").cast("int").alias("digit"),
        "n",
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("benford_expected"),
    )


def data_expectations(
    df: DataFrame,
    rules: dict[str, F.Column],
    unique_keys: list[str] | None = None,
) -> DataFrame:
    """Declarative data-quality gate (deequ-style, engine-native): each
    rule is a row-level boolean expression; the result is one row per
    rule with total rows, violation count, and a pass flag.

    All row-level rules evaluate in a SINGLE full-table pass — one
    global conditional aggregate, the same one-scan-per-100 TB shape as
    :func:`profile_columns` — then pivot to long form via a tiny
    in-plan explode of the (rules × 1) summary row. ``unique_keys``
    adds a ``unique(<keys>)`` rule counting rows beyond the first per
    key; uniqueness is not row-local, so it costs one extra
    key-partitioned aggregate over the same scan lineage (map-side
    combine; the violation count is Σ(count−1) over duplicated keys).

    Use at the head of a pipeline as an input gate (fail when any
    ``passed`` is false — see ``sinks.input_ready`` for the
    availability twin) or at the tail as a publish gate.
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, cond in rules.items():
        aggs.append(
            F.sum(F.when(~cond, 1).otherwise(0)).cast("long").alias(name)
        )
    summary = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"), F.col(name).alias("violations")
            )
            for name in rules
        ]
    )
    out = (
        summary.select("__n", F.explode(pairs).alias("r"))
        .select(
            F.col("r.rule").alias("rule"),
            F.col("__n").alias("n_rows"),
            F.col("r.violations").alias("violations"),
            (F.col("r.violations") == 0).alias("passed"),
        )
    )
    if unique_keys:
        dup = (
            df.groupBy(*unique_keys)
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(
                F.count(F.lit(1)).alias("__groups"),
                F.sum(F.col("__c") - 1).cast("long").alias("violations"),
                F.sum("__c").alias("__n"),
            )
            .select(
                F.lit(f"unique({','.join(unique_keys)})").alias("rule"),
                F.col("__n").cast("long").alias("n_rows"),
                "violations",
                (F.col("violations") == 0).alias("passed"),
            )
        )
        out = out.unionByName(dup)
    return out


def mad_anomalies(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    id_cols: list[str],
    z_threshold: float = 3.5,
) -> DataFrame:
    """Robust twin of :func:`zscore_anomalies`: modified z-scores from
    the median and the median absolute deviation (Iglewicz-Hoaglin
    0.6745·(x − med)/MAD, default cut 3.5), which heavy outliers
    cannot drag the way they drag a mean/stddev gate.

    Both medians use the DISCRETE lower-median convention (the element
    at rank ⌊(n+1)/2⌋), selected by row_number — deliberately not the
    engines' interpolating percentile: Spark evaluates
    ``(1−g)·a + g·b`` where DuckDB evaluates ``a + (b−a)·g``, and the
    ulp between them surfaced as a rounding flip at sf0.1. Rank
    selection involves no arithmetic, so it is engine- and
    partition-exact; absolute deviations are 6-quantized before the
    second median. Groups with MAD = 0 emit nothing.

    Scale: two rank windows over the same group partitioning — one
    exchange; per-group sort state only.
    """
    from pyspark.sql import Window

    def disc_median(frame: DataFrame, col: str, out: str) -> DataFrame:
        wo = Window.partitionBy(*key_cols).orderBy(col)
        wg = Window.partitionBy(*key_cols)
        rn = F.row_number().over(wo)
        n = F.count(F.lit(1)).over(wg)
        mid = F.floor((n + 1) / 2)
        tagged = frame.select(
            "*", rn.alias("_rn"), mid.alias("_mid")
        )
        return tagged.withColumn(
            out,
            F.max(F.when(F.col("_rn") == F.col("_mid"), F.col(col))).over(wg),
        ).drop("_rn", "_mid")

    base = df.select(*id_cols, *key_cols, F.col(value_col))
    with_med = disc_median(base, value_col, "med").withColumn(
        "absdev", F.round(F.abs(F.col(value_col) - F.col("med")), 6)
    )
    with_mad = disc_median(with_med, "absdev", "mad")
    rz = F.lit(0.6745) * (F.col(value_col) - F.col("med")) / F.col("mad")
    return (
        with_mad.where(F.col("mad") > 0)
        .select(
            *id_cols,
            *key_cols,
            F.col(value_col),
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            F.round(rz, 4).alias("robust_z"),
        )
        .where(F.abs(F.col("robust_z")) > z_threshold)
    )


def skew_stats(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
) -> DataFrame:
    """Join/shuffle-key skew diagnostics: the operational report that
    decides whether a key needs salting (`relational.salted_join`) or
    AQE skew handling before a 100 TB join. Per heavy key: count,
    share of all rows, and the ratio to the MEAN key frequency
    (ratio ≈ 1 ⇒ uniform; ≫ 1 ⇒ hot key).

    One fact shuffle (the per-key count, map-side combined); the
    ranking and the global moments run on the |keys| frame. Exact
    integer counts; shares are single IEEE divisions of decimal-summed
    numerators.
    """
    counts = df.select(F.col(key_col).cast("string").alias("key")).groupBy(
        "key"
    ).agg(F.count(F.lit(1)).alias("n"))
    wall = Window.partitionBy()
    wtop = Window.orderBy(F.col("n").desc(), F.col("key"))
    enriched = counts.select(
        "key",
        "n",
        F.sum("n").over(wall).alias("total"),
        F.count(F.lit(1)).over(wall).alias("n_keys"),
        F.row_number().over(wtop).alias("rank"),
    ).where(F.col("rank") <= top_n)
    return enriched.select(
        "key",
        "rank",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        F.round(
            F.col("n").cast("double")
            / (F.col("total").cast("double") / F.col("n_keys")),
            4,
        ).alias("vs_mean_ratio"),
    )


def trimmed_mean(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    trim_pct: int = 10,
) -> DataFrame:
    """Per-group trimmed mean: drop the lowest and highest
    ``trim_pct``% of values by RANK (the exclusion-based robust mean —
    :func:`winsorize`'s clamping cousin), alongside the untrimmed mean
    so the outlier influence is visible in one row.

    k = ⌊n·trim/100⌋ per tail, pure integer arithmetic; membership is
    decided by row_number (value ties keep the same multiset on any
    engine), and both means are exact DECIMAL sums with one final IEEE
    division. One exchange: the rank window and the aggregation share
    the group partitioning.
    """
    v6 = F.round(F.col(value_col).cast("double"), 6)
    wo = Window.partitionBy(*key_cols).orderBy(v6)
    wg = Window.partitionBy(*key_cols)
    ranked = df.select(
        *key_cols,
        v6.alias("v"),
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wg).alias("n"),
    ).withColumn(
        # "__k", not "k": a plain name here would silently overwrite a
        # group key of the same name (found by the hypothesis law)
        "__k",
        ((F.col("n") * F.lit(trim_pct)) - F.pmod(
            F.col("n") * F.lit(trim_pct), 100
        )) / 100,
    )
    kept = (F.col("rn") > F.col("__k")) & (
        F.col("rn") <= F.col("n") - F.col("__k")
    )
    d = F.col("v").cast("decimal(18,6)")
    return ranked.groupBy(*key_cols).agg(
        F.max("n").alias("n"),
        F.max("__k").cast("bigint").alias("k_each_side"),
        F.round(
            F.sum(d).cast("double") / F.max("n"), 6
        ).alias("mean_all"),
        F.round(
            F.sum(F.when(kept, d)).cast("double")
            / (F.max("n") - F.lit(2) * F.max("__k")),
            6,
        ).alias("mean_trimmed"),
    )


def ks_drift(
    df: DataFrame,
    group_col: str,
    side_col: str,
    value_col: str,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic per group: the max
    absolute ECDF gap between the side=false ("a") and side=true
    ("b") distributions of ``value_col`` — the standard drift /
    distribution-shift detector a data pipeline runs between a
    reference window and a current window.

    Exactness: ECDFs are ratios of running integer counts (one double
    division each); the max over gaps is exact — no float summation
    anywhere, so any engine replays it bit-identically.

    Shape: one (group, value) aggregation over the facts, then
    running-count windows and a final max per group — all on the same
    group key, one shuffle lineage. Groups with an empty side emit
    NULL (no distribution to compare).
    """
    b = F.col(side_col).cast("boolean")
    per_val = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(value_col).alias("val"),
            F.when(~b, 1).otherwise(0).alias("ca"),
            F.when(b, 1).otherwise(0).alias("cb"),
        )
        .groupBy("grp", "val")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    wrun = (
        Window.partitionBy("grp")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("grp")
    gaps = per_val.select(
        "grp",
        F.sum("ca").over(wrun).alias("cum_a"),
        F.sum("cb").over(wrun).alias("cum_b"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    gap = F.abs(
        F.col("cum_a").cast("double") / F.col("n_a")
        - F.col("cum_b").cast("double") / F.col("n_b")
    )
    return (
        gaps.select(
            "grp",
            "n_a",
            "n_b",
            F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), gap).alias("gap"),
        )
        .groupBy("grp")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.round(F.max("gap"), 6).alias("ks_stat"),
        )
    )


def psi_drift(
    df: DataFrame,
    group_col: str,
    side_col: str,
    value_col: str,
    bin_width: float = 25.0,
    n_bins: int = 8,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index per group between the side=false
    (reference) and side=true (current) distributions of
    ``value_col``, over fixed-width bins with the overflow clamped
    into the last bin: PSI = Σ_bins (p' − q')·ln(p'/q') with shares
    floored at ``eps`` (the standard guard so an empty bin contributes
    a finite penalty instead of ∞). Rule of thumb: <0.1 stable, >0.25
    shifted.

    Exactness: shares are integer-count divisions quantized to 6
    decimals BEFORE the eps floor, each bin's term is quantized to 12
    decimals before an exact DECIMAL sum — partition-order-independent
    on every engine. ln of a quantized positive ratio is deterministic
    IEEE.

    Shape: one (group, bin) aggregation over the facts, per-group
    totals as dimension-sized windows, one final groupBy — a single
    shuffle lineage on the group key.
    """
    b = F.col(side_col).cast("boolean")
    bin_col = F.least(
        F.floor(F.col(value_col) / F.lit(bin_width)).cast("int"),
        F.lit(n_bins - 1),
    )
    bin_col = F.greatest(bin_col, F.lit(0))
    per_bin = (
        df.select(
            F.col(group_col).alias("grp"),
            bin_col.alias("bin"),
            F.when(~b, 1).otherwise(0).alias("cr"),
            F.when(b, 1).otherwise(0).alias("cc"),
        )
        .groupBy("grp", "bin")
        .agg(F.sum("cr").alias("cr"), F.sum("cc").alias("cc"))
    )
    wall = Window.partitionBy("grp")
    shares = per_bin.select(
        "grp",
        "bin",
        F.round(
            F.col("cr").cast("double") / F.sum("cr").over(wall), 6
        ).alias("p"),
        F.round(
            F.col("cc").cast("double") / F.sum("cc").over(wall), 6
        ).alias("q"),
        F.sum("cr").over(wall).alias("n_ref"),
        F.sum("cc").over(wall).alias("n_cur"),
    )
    pf = F.greatest(F.col("p"), F.lit(eps))
    qf = F.greatest(F.col("q"), F.lit(eps))
    term = F.round((pf - qf) * F.log(pf / qf), 12)
    return (
        shares.where((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .groupBy("grp")
        .agg(
            F.max("n_ref").alias("n_ref"),
            F.max("n_cur").alias("n_cur"),
            F.round(
                F.sum(term.cast("decimal(28,12)")).cast("double"), 6
            ).alias("psi"),
        )
    )


def chi_square_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two
    categorical columns: one output row with the statistic, the
    degrees of freedom, and N — the categorical-drift /
    feature-dependence audit.

    Exactness: the contingency table is exact integer counts;
    expected counts are one double expression each ((row·col)/N,
    fixed operand order); each cell's (o−e)²/e is quantized to 10
    decimals before an exact DECIMAL sum, so the statistic is
    identical under any partitioning.

    Shape: one (a, b) aggregation over the facts — the only shuffle
    that sees data volume — then margins as windows over the
    dimension-sized table and one global fold of its cells.
    """
    cells = (
        df.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wall = Window.partitionBy()
    with_margins = cells.select(
        "a",
        "b",
        "o",
        F.sum("o").over(wa).alias("row_tot"),
        F.sum("o").over(wb).alias("col_tot"),
        F.sum("o").over(wall).alias("n"),
    )
    e = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n")
    )
    term = F.round((F.col("o") - e) * (F.col("o") - e) / e, 10)
    return with_margins.agg(
        F.round(F.sum(term.cast("decimal(28,10)")).cast("double"), 6).alias(
            "chi2"
        ),
        (
            (F.count_distinct(F.col("a")) - 1)
            * (F.count_distinct(F.col("b")) - 1)
        ).alias("dof"),
        F.max("n").alias("n"),
    )


def gini(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Gini coefficient of ``value_col`` per group (0 = perfectly
    equal, →1 = one row holds everything) via the rank formula
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending-sorted values —
    the inequality audit a corpus-balance or revenue-concentration
    report runs (the distribution-level companion of the HHI query).
    Defined for non-negative values; a zero-sum group yields NULL.

    Exactness: values are quantized to 6 decimals; both Σx and Σi·x
    are exact DECIMAL sums (rank enters as DECIMAL(12,0)), and tied
    values make the rank assignment irrelevant — a tie block
    contributes x·Σ(consecutive ranks) regardless of which tied row
    takes which rank — so no tiebreak column is needed and the result
    is partition-independent.

    Shape: one shuffle on the group key (rank window + aggregation on
    one lineage).
    """
    xq = F.round(F.col(value_col).cast("double"), 6).cast("decimal(18,6)")
    base = df.select(F.col(group_col).alias("grp"), xq.alias("xq"))
    ranked = base.select(
        "grp", "xq", F.row_number().over(
            Window.partitionBy("grp").orderBy("xq")
        ).alias("rn")
    )
    agg = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").cast("double").alias("sx"),
        F.sum(F.col("xq") * F.col("rn").cast("decimal(12,0)"))
        .cast("double")
        .alias("swx"),
    )
    g = (
        F.lit(2.0) * F.col("swx") / (F.col("n") * F.col("sx"))
        - (F.col("n") + 1).cast("double") / F.col("n")
    )
    return agg.select(
        "grp",
        "n",
        F.round("sx", 6).alias("total"),
        F.round(F.when(F.col("sx") != 0, g), 6).alias("gini"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    side_col: str,
    value_col: str,
) -> DataFrame:
    """Mann–Whitney U (rank-sum) statistics per group between the
    side=false ("a") and side=true ("b") samples — the rank-based,
    outlier-robust companion of :func:`ks_drift` (KS keys on the
    largest ECDF gap; U on the whole ordering).

    Ties carry their textbook average rank, computed as
    ``rank() + (tie_count − 1)/2`` — an exact multiple of ½, so the
    rank sums accumulate exactly in DECIMAL(28,1) and U_a + U_b =
    n_a·n_b holds identically on every engine. No float summation
    anywhere; the outputs (integers and half-integers as doubles) are
    exactly representable. Groups with an empty side yield NULL U.

    Shape: rank + tie-count windows and the final fold all partition
    by the group key — one shuffle lineage.
    """
    b = F.col(side_col).cast("boolean")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("val"),
        b.alias("is_b"),
    )
    wrk = Window.partitionBy("grp").orderBy("val")
    wtie = Window.partitionBy("grp", "val")
    ranked = base.select(
        "grp",
        "is_b",
        (
            F.rank().over(wrk).cast("double")
            + (F.count(F.lit(1)).over(wtie) - 1).cast("double") / 2
        ).alias("avg_rank"),
    )
    agg = ranked.groupBy("grp").agg(
        F.sum(F.when(~F.col("is_b"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("is_b"), 1).otherwise(0)).alias("n_b"),
        F.sum(
            F.when(F.col("is_b"), F.col("avg_rank"))
            .otherwise(F.lit(0.0))
            .cast("decimal(28,1)")
        )
        .cast("double")
        .alias("r_b"),
    )
    u_b = (
        F.col("r_b")
        - (F.col("n_b") * (F.col("n_b") + 1)).cast("double") / 2
    )
    u_a = (F.col("n_a") * F.col("n_b")).cast("double") - u_b
    valid = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "grp",
        "n_a",
        "n_b",
        F.when(valid, F.col("r_b")).alias("rank_sum_b"),
        F.when(valid, u_a).alias("u_a"),
        F.when(valid, u_b).alias("u_b"),
        F.when(valid, F.least(u_a, u_b)).alias("u_stat"),
    )


def spearman_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation of two columns per group — Pearson
    on tie-averaged ranks, the monotone-association measure that is
    robust to outliers and nonlinearity (vs the package's exact
    Pearson in ``indicators.pairwise_correlation``).

    Tie-averaged ranks (``rank() + (ties−1)/2``) are exact multiples
    of ½, their products exact multiples of ¼ — so all five sufficient
    sums accumulate exactly in DECIMAL(28,2) and the single closing
    formula is fixed-order IEEE. Engine-identical under any
    partitioning; NULL on a zero-variance side.

    Shape: two rank windows + one tie-count window per axis and the
    final fold, all partitioned by the group key — one shuffle
    lineage.
    """

    def avg_rank(col: str) -> F.Column:
        wr = Window.partitionBy("grp").orderBy(F.col(col))
        wt = Window.partitionBy("grp", col)
        return (
            F.rank().over(wr).cast("double")
            + (F.count(F.lit(1)).over(wt) - 1).cast("double") / 2
        )

    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(x_col).alias("xv"),
        F.col(y_col).alias("yv"),
    )
    ranked = base.select(
        "grp",
        avg_rank("xv").alias("rx"),
        avg_rank("yv").alias("ry"),
    )

    def d2(col: F.Column) -> F.Column:
        return F.sum(col.cast("decimal(28,2)")).cast("double")

    agg = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        d2(F.col("rx")).alias("sx"),
        d2(F.col("ry")).alias("sy"),
        d2(F.col("rx") * F.col("rx")).alias("sxx"),
        d2(F.col("ry") * F.col("ry")).alias("syy"),
        d2(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    rho = cov / F.sqrt(vx * vy)
    return agg.select(
        "grp",
        "n",
        F.round(F.when((vx > 0) & (vy > 0), rho), 6).alias("spearman_rho"),
    )


def rolling_median(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    n: int = 7,
) -> DataFrame:
    """Exact rolling median (discrete, lower-middle for even ``n``)
    over the trailing n-row window — the outlier-robust smoother that
    a rolling mean is not. No native Spark window expresses an exact
    windowed median, so each row fans out to the n window-ends it
    belongs to (the same explode pattern as the CCI mean-deviation)
    and each window group selects its k-th smallest via
    ``sort_array(collect_list(...))`` — safe because group size is
    the CONSTANT n, never data-sized; cost n·rows shuffled once.

    Pure value selection — no float arithmetic at all, so the result
    is trivially engine-exact. Windows that aren't full are dropped.
    """
    k = (n + 1) // 2  # 1-based lower middle
    wn = Window.partitionBy(group_col).orderBy(order_col)
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(order_col).alias("ord"),
        F.col(value_col).alias("val"),
        F.row_number().over(wn).alias("rn"),
    )
    fan = base.select(
        "grp",
        "ord",
        "val",
        "rn",
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("off"),
    ).withColumn("wend", F.col("rn") + F.col("off"))
    agg = fan.groupBy("grp", "wend").agg(
        F.max(F.when(F.col("off") == 0, F.col("ord"))).alias("ord"),
        F.max(F.when(F.col("off") == 0, F.col("val"))).alias("val"),
        F.count(F.lit(1)).alias("n_members"),
        F.sort_array(F.collect_list("val")).alias("__sorted"),
    )
    # select the k-th only on full windows — ANSI element_at throws on
    # the short groups at the series edge, which the filter drops
    return agg.where(F.col("n_members") == n).select(
        F.col("grp").alias(group_col),
        F.col("ord").alias(order_col),
        F.col("val").alias(value_col),
        F.element_at(F.col("__sorted"), k).alias("rolling_median"),
    )


#: (label, numerator, denominator) of the QQ probe levels — exact
#: rationals so k = ceil(q·n) stays in integer arithmetic (0.1*140 in
#: floats is 14.000000000000002 and ceils to the wrong rank).
QQ_LEVELS = (("p10", 1, 10), ("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10))


def qq_quantiles(
    df: DataFrame,
    group_col: str,
    side_col: str,
    value_col: str,
) -> DataFrame:
    """QQ comparison table per group: the discrete p10/p25/p50/p75/p90
    quantiles of the side=false (reference) and side=true (current)
    samples side by side with their gaps — the WHERE-did-it-shift
    drill-down behind a :func:`ks_drift` alarm.

    Quantiles are discrete rank selections (k = ⌈q·n⌉, computed in
    integer arithmetic — float q·n mis-ceils exact multiples), so no
    interpolation formula and no float path at all; the gaps are one
    subtraction each. Groups with an empty side yield NULLs.

    Shape: one rank window per (group, side) partition and one final
    group fold — a single shuffle lineage.
    """
    b = F.col(side_col).cast("boolean")
    base = df.select(
        F.col(group_col).alias("grp"),
        b.alias("is_b"),
        F.col(value_col).alias("val"),
    )
    wrk = Window.partitionBy("grp", "is_b").orderBy("val")
    wn = Window.partitionBy("grp", "is_b")
    ranked = base.select(
        "grp",
        "is_b",
        "val",
        F.row_number().over(wrk).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(side_is_b: bool, num: int, den: int) -> F.Column:
        k = F.expr(f"(n * {num} + {den - 1}) DIV {den}")
        cond = (F.col("is_b") == side_is_b) & (F.col("rn") == k)
        return F.max(F.when(cond, F.col("val")))

    aggs = []
    for label, num, den in QQ_LEVELS:
        aggs.append(pick(False, num, den).alias(f"{label}_ref"))
        aggs.append(pick(True, num, den).alias(f"{label}_cur"))
    out = ranked.groupBy("grp").agg(*aggs)
    gap_cols = [
        F.round(F.col(f"{l}_cur") - F.col(f"{l}_ref"), 6).alias(f"{l}_gap")
        for l, _, _ in QQ_LEVELS
    ]
    return out.select(
        "grp",
        *[c for l, _, _ in QQ_LEVELS for c in (f"{l}_ref", f"{l}_cur")],
        *gap_cols,
    )
