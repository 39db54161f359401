"""Technical-indicator operators over daily OHLCV series.

The reference's analytics stop at ``daily_change``
(`/root/reference/src/spark/jobs/spark_batch_processor.py:100-101`);
this module adds the standard indicator layer a user of a stock
analytics engine reaches for next: moving-average crossovers,
Bollinger bands, RSI, EMA/MACD, drawdowns, realized volatility, and
pairwise return correlations.

Exactness rules (so every indicator has a bit-exact DuckDB oracle —
see the `driver_queries` package and the package README):

- Rolling sums run over a DECIMAL(18,6) view of the input, so they are
  order-independent and replayable by any engine regardless of
  partitioning.
- Derived doubles (price diffs, log returns) are quantized with
  ``round(x, 6)`` *before* the decimal cast — the cast is then
  lossless. (Caveat learned at sf0.1: Spark rounds the double's
  shortest decimal repr, DuckDB's ``round`` the exact binary value;
  they can differ when the repr ends in a literal 5 at the cut digit.
  Where that ever bites, the oracle-side fix is
  ``driver_queries._round_sql`` — VARCHAR→DECIMAL rounding replays
  Spark's semantics exactly.)
- Everything else is fixed-order IEEE double arithmetic (one division
  at the end, explicit operand order), which is deterministic across
  Spark, DuckDB, and NumPy.

Scale notes: every rolling window partitions by symbol — one shuffle,
then a per-partition sort; state is O(window), never O(series). EMA is
inherently sequential *within* a symbol, so it ships as the package's
``applyInPandas`` pattern: parallel across symbols, Arrow-vectorized
ingest, a scalar loop only over each symbol's daily closes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dec(col: F.Column) -> F.Column:
    return col.cast("decimal(18,6)")


def _roll_avg(col: F.Column, w) -> F.Column:
    """Exact rolling mean: DECIMAL sum over the frame, one double
    division by the frame's row count."""
    return F.sum(_dec(col)).over(w).cast("double") / F.count(F.lit(1)).over(w)


def _roll_std(col: F.Column, w) -> F.Column:
    """Exact rolling sample stddev from DECIMAL sums of x and x²
    (same derivation as ``metrics._window_stats``, windowed)."""
    d = _dec(col)
    n = F.count(F.lit(1)).over(w)
    sx = F.sum(d).over(w).cast("double")
    sxx = F.sum(d * d).over(w).cast("double")
    var = (sxx - sx * sx / n) / (n - F.lit(1))
    return F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0))))


def sma_crossover(
    daily: DataFrame,
    short: int = 5,
    long: int = 20,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Short/long simple-moving-average crossover signals.

    Emits one row per (symbol, day) once the long window is full:
    both SMAs, the position signal (+1 short>long, -1 short<long,
    0 equal), and the crossover event (+1 golden cross, -1 death
    cross, 0 none) detected against the previous day's signal.

    One shuffle on symbol; the two rolling frames and the signal lag
    share a single partition sort.
    """
    ws = (
        Window.partitionBy(symbol_col)
        .orderBy(date_col)
        .rowsBetween(-(short - 1), 0)
    )
    wl = (
        Window.partitionBy(symbol_col)
        .orderBy(date_col)
        .rowsBetween(-(long - 1), 0)
    )
    wn = Window.partitionBy(symbol_col).orderBy(date_col)
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        F.round(_roll_avg(F.col(close_col), ws), 6).alias("sma_short"),
        F.round(_roll_avg(F.col(close_col), wl), 6).alias("sma_long"),
        F.row_number().over(wn).alias("rn"),
    ).where(F.col("rn") >= long)
    signal = (
        F.when(F.col("sma_short") > F.col("sma_long"), F.lit(1))
        .when(F.col("sma_short") < F.col("sma_long"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    sig = base.select(
        "symbol", "date", "close", "sma_short", "sma_long", signal.alias("signal")
    )
    wlag = Window.partitionBy("symbol").orderBy("date")
    prev = F.lag("signal").over(wlag)
    cross = (
        F.when(prev.isNull(), F.lit(0))
        .when((F.col("signal") == 1) & (prev <= 0), F.lit(1))
        .when((F.col("signal") == -1) & (prev >= 0), F.lit(-1))
        .otherwise(F.lit(0))
    )
    return sig.select(
        "symbol", "date", "close", "sma_short", "sma_long", "signal",
        cross.alias("cross"),
    )


def bollinger_bands(
    daily: DataFrame,
    n: int = 20,
    k: float = 2.0,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Bollinger bands: n-day rolling mean ± k·stddev, %B position and
    bandwidth. Full-window rows only. Band arithmetic is written in a
    fixed operand order (``mid + k*sd`` / ``mid - k*sd``) so the oracle
    reproduces it bitwise."""
    w = Window.partitionBy(symbol_col).orderBy(date_col).rowsBetween(-(n - 1), 0)
    wn = Window.partitionBy(symbol_col).orderBy(date_col)
    c = F.col(close_col)
    mid = _roll_avg(c, w)
    sd = _roll_std(c, w)
    upper = mid + F.lit(k) * sd
    lower = mid - F.lit(k) * sd
    pct_b = F.when(upper != lower, (c - lower) / (upper - lower))
    bandwidth = F.when(mid != 0, (upper - lower) / mid)
    return (
        daily.select(
            F.col(symbol_col).alias("symbol"),
            F.col(date_col).alias("date"),
            c.alias("close"),
            F.round(mid, 6).alias("bb_mid"),
            F.round(upper, 6).alias("bb_upper"),
            F.round(lower, 6).alias("bb_lower"),
            F.round(pct_b, 6).alias("pct_b"),
            F.round(bandwidth, 6).alias("bandwidth"),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") >= n)
        .drop("rn")
    )


def rsi(
    daily: DataFrame,
    n: int = 14,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Cutler's RSI: simple n-day averages of gains and losses (the
    moving-average variant; Wilder's recursive smoothing belongs to the
    EMA family — see :func:`ema_macd` for the recursive pattern).

    Gains/losses are quantized to 6 decimals before the exact rolling
    average so the decimal view is lossless in both engines. Rows
    before the window fills are dropped; ``avg_loss = 0`` maps to
    RSI 100 by convention.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    diff = F.col(close_col) - F.lag(close_col).over(wlag)
    delta = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        F.round(F.greatest(diff, F.lit(0.0)), 6).alias("gain"),
        F.round(F.greatest(-diff, F.lit(0.0)), 6).alias("loss"),
    ).where(F.col("gain").isNotNull())
    w = Window.partitionBy("symbol").orderBy("date").rowsBetween(-(n - 1), 0)
    wn = Window.partitionBy("symbol").orderBy("date")
    avg_gain = _roll_avg(F.col("gain"), w)
    avg_loss = _roll_avg(F.col("loss"), w)
    rsi_col = F.when(avg_loss == 0, F.lit(100.0)).otherwise(
        F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + avg_gain / avg_loss)
    )
    return (
        delta.select(
            "symbol",
            "date",
            "close",
            F.round(avg_gain, 6).alias("avg_gain"),
            F.round(avg_loss, 6).alias("avg_loss"),
            F.round(rsi_col, 6).alias("rsi"),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") >= n)
        .drop("rn")
    )


def drawdown(
    daily: DataFrame,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Per-day drawdown from the running peak close. ``max`` over an
    expanding frame is order-exact (no float summation), so this is
    trivially engine-portable."""
    w = (
        Window.partitionBy(symbol_col)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run_max = F.max(close_col).over(w)
    dd = F.when(run_max != 0, F.round(F.col(close_col) / run_max - 1, 6))
    return daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        run_max.alias("peak_close"),
        dd.alias("drawdown"),
    )


def realized_volatility(
    daily: DataFrame,
    trading_days: int = 252,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Per-symbol realized volatility of daily log returns, annualized
    by ``sqrt(trading_days)``. ``ln`` is libm-identical across engines;
    log returns are quantized to 6 decimals before the exact stddev.
    One shuffle (the lag sort doubles as the pre-agg partition)."""
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    lr = F.round(F.log(F.col(close_col) / F.lag(close_col).over(wlag)), 6)
    rets = daily.select(
        F.col(symbol_col).alias("symbol"), lr.alias("lr")
    ).where(F.col("lr").isNotNull())
    d = _dec(F.col("lr"))
    cnt = F.count(F.lit(1))
    sx = F.sum(d).cast("double")
    sxx = F.sum(d * d).cast("double")
    var = (sxx - sx * sx / cnt) / (cnt - F.lit(1))
    sd = F.when(cnt >= 2, F.sqrt(F.greatest(var, F.lit(0.0))))
    return rets.groupBy("symbol").agg(
        cnt.alias("n_returns"),
        F.round(sd, 6).alias("vol_daily"),
        F.round(sd * F.sqrt(F.lit(float(trading_days))), 6).alias("vol_annual"),
    )


def pairwise_correlation(
    daily: DataFrame,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Pearson correlation of daily returns for every symbol pair.

    Returns are computed once, self-joined on date (symbol_a <
    symbol_b), and correlated via exact DECIMAL sums of x, y, xy, x²,
    y² — the textbook one-pass formula evaluated in a fixed operand
    order, so the result is independent of partitioning and bitwise
    reproducible in SQL.

    Scale: the join key is the date — K symbols fan each date out to
    K(K-1)/2 pairs. For wide universes, pre-pivot to a per-date vector
    and block by symbol range instead; for the reference's symbol
    counts this single equi-join is the efficient plan (AQE broadcasts
    the smaller side).
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    ret = F.round(
        F.col(close_col) / F.lag(close_col).over(wlag) - 1, 6
    )
    rets = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        ret.alias("ret"),
    ).where(F.col("ret").isNotNull())
    a = rets.select(
        F.col("symbol").alias("symbol_a"),
        F.col("date").alias("date"),
        F.col("ret").alias("ret_a"),
    )
    b = rets.select(
        F.col("symbol").alias("symbol_b"),
        F.col("date").alias("date"),
        F.col("ret").alias("ret_b"),
    )
    pairs = a.join(b, "date").where(F.col("symbol_a") < F.col("symbol_b"))
    dx = _dec(F.col("ret_a"))
    dy = _dec(F.col("ret_b"))
    n = F.count(F.lit(1))
    sx = F.sum(dx).cast("double")
    sy = F.sum(dy).cast("double")
    sxy = F.sum(dx * dy).cast("double")
    sxx = F.sum(dx * dx).cast("double")
    syy = F.sum(dy * dy).cast("double")
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    corr = F.when(den != 0, (n * sxy - sx * sy) / den)
    return pairs.groupBy("symbol_a", "symbol_b").agg(
        n.alias("n_days"), F.round(corr, 6).alias("corr")
    )


def ema_macd(
    daily: DataFrame,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """EMA(fast/slow), MACD, signal line, and histogram.

    EMA is a data-dependent recursion (``ema_t = α·x_t + (1−α)·ema_{t−1}``)
    that no window frame expresses, so this uses the package's
    ``applyInPandas`` stateful pattern (cf. ``text.token_pack_greedy``):
    one shuffle on symbol, then a scalar loop over each symbol's daily
    closes — parallel across symbols, O(1) state, which is exactly how
    it scales on a 1000-executor cluster (series length per symbol is
    bounded by calendar days, not data volume).

    Seeded with ``ema = close₀`` (hence ``macd₀ = signal₀ = 0``); the
    update is the literal two-multiply-one-add form in a fixed order,
    bit-identical to the DuckDB *recursive CTE* oracle that replays the
    same recursion declaratively. Final rounding happens Spark-side
    (``F.round`` = half-up = DuckDB ``round``; Python's ``round`` is
    half-even and must not be used here).
    """
    import pandas as pd

    a_f = 2.0 / (fast + 1)
    a_s = 2.0 / (slow + 1)
    a_g = 2.0 / (signal + 1)

    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
    )
    schema_out = (
        "symbol string, date date, close double, "
        "ema_fast double, ema_slow double, macd double, macd_signal double"
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date").reset_index(drop=True)
        ef = es = None
        sig = 0.0
        efs, ess, macds, sigs = [], [], [], []
        for x in pdf["close"]:
            x = float(x)
            if ef is None:
                ef, es, macd, sig = x, x, 0.0, 0.0
            else:
                ef = a_f * x + (1 - a_f) * ef
                es = a_s * x + (1 - a_s) * es
                macd = ef - es
                sig = a_g * macd + (1 - a_g) * sig
            efs.append(ef)
            ess.append(es)
            macds.append(macd)
            sigs.append(sig)
        pdf["ema_fast"] = pd.Series(efs, dtype="float64")
        pdf["ema_slow"] = pd.Series(ess, dtype="float64")
        pdf["macd"] = pd.Series(macds, dtype="float64")
        pdf["macd_signal"] = pd.Series(sigs, dtype="float64")
        return pdf

    walked = base.groupBy("symbol").applyInPandas(walk, schema=schema_out)
    return walked.select(
        "symbol",
        "date",
        "close",
        F.round("ema_fast", 6).alias("ema_fast"),
        F.round("ema_slow", 6).alias("ema_slow"),
        F.round("macd", 6).alias("macd"),
        F.round("macd_signal", 6).alias("macd_signal"),
        F.round(F.col("macd") - F.col("macd_signal"), 6).alias("macd_hist"),
    )


def tick_rule(
    ticks: DataFrame,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "price",
    id_col: str | None = None,
) -> DataFrame:
    """Lee-Ready tick-rule trade classification, aggregated per
    (symbol, day): a tick printing above the previous price is
    buyer-initiated (+1), below is seller-initiated (-1), and an
    unchanged print inherits the last non-zero direction (the
    zero-tick rule). Ticks before the first price change stay
    unclassified.

    Classification state resets at the day boundary (the previous
    session's close does not classify the open), which also bounds
    each window partition to one symbol-day — the partition-size cap
    that keeps the sort cheap at 100 TB.

    Two window passes over the same (symbol, day) partitioning — lag
    for the raw sign, ``last(ignorenulls)`` to carry it through
    zero-ticks — then one groupBy on the identical keys: a single
    exchange end-to-end.
    """
    order = [F.col(ts_col)] + ([F.col(id_col)] if id_col else [])
    day = F.to_date(ts_col).alias("date")
    w = Window.partitionBy(F.col(symbol_col), day).orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pq = F.round(F.col(price_col), 6)
    prev = F.lag(pq).over(w)
    raw = F.when(pq > prev, 1).when(pq < prev, -1)  # NULL on ties/first
    side = F.last(raw, ignorenulls=True).over(wrun)
    classified = ticks.select(
        F.col(symbol_col).alias("symbol"), day, side.alias("side")
    )
    return classified.groupBy("symbol", "date").agg(
        F.count(F.when(F.col("side") == 1, 1)).alias("n_buy"),
        F.count(F.when(F.col("side") == -1, 1)).alias("n_sell"),
        F.count(F.when(F.col("side").isNull(), 1)).alias("n_unclassified"),
        F.round(
            F.count(F.when(F.col("side") == 1, 1)).cast("double")
            / F.greatest(
                F.count(F.when(F.col("side").isNotNull(), 1)), F.lit(1)
            ),
            6,
        ).alias("buy_ratio"),
    )


def rolling_beta(
    daily: DataFrame,
    key_col: str = "symbol",
    date_col: str = "date",
    ret_col: str = "ret",
    window_days: int = 20,
) -> DataFrame:
    """Rolling market beta per symbol: cov(symbol, market) / var(market)
    over the trailing ``window_days`` rows, where the market return for
    a date is the exact cross-sectional mean of all symbols' returns.

    Plan: one per-date aggregate builds the (tiny) market series, which
    joins back to the daily rows broadcast — no second shuffle of the
    big side — then one (symbol)-partitioned window computes the
    rolling DECIMAL sums (x, y, xy, y²). Only full windows are emitted.

    Exactness: returns are quantized to 6 dp before the DECIMAL cast,
    covariance and variance come out of integer-exact decimal sums with
    one double division each, and the final ratio is the only
    float-float division — bit-identical across partitionings and
    engines.
    """
    rq = F.round(F.col(ret_col), 6).cast("decimal(18,6)")
    market = daily.groupBy(F.col(date_col).alias("__mdate")).agg(
        (F.sum(rq).cast("double") / F.count(F.lit(1))).alias("__mret_raw")
    )
    market = market.select(
        "__mdate", F.round("__mret_raw", 6).cast("decimal(18,6)").alias("__mret")
    )
    joined = daily.join(
        F.broadcast(market), F.col(date_col) == F.col("__mdate"), "inner"
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(date_col)
        .rowsBetween(-(window_days - 1), Window.currentRow)
    )
    x = rq
    y = F.col("__mret")
    n = F.count(F.lit(1)).over(w)
    sx = F.sum(x).over(w).cast("double")
    sy = F.sum(y).over(w).cast("double")
    sxy = F.sum(x * y).over(w).cast("double")
    syy = F.sum(y * y).over(w).cast("double")
    cov = (sxy - sx * sy / n) / (n - F.lit(1))
    var = (syy - sy * sy / n) / (n - F.lit(1))
    beta = F.when(var > 0, cov / var)
    return (
        joined.select(
            F.col(key_col).alias("symbol"),
            F.col(date_col).alias("date"),
            F.round(F.col(ret_col), 6).alias("ret"),
            F.col("__mret").cast("double").alias("market_ret"),
            F.round(beta, 6).alias("beta"),
            n.alias("n_days"),
        )
        .where(F.col("n_days") == window_days)
        .drop("n_days")
    )


def intraday_vol(
    ticks: DataFrame,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "price",
    id_col: str | None = None,
) -> DataFrame:
    """Per-(symbol, day) realized variance/volatility from *tick*
    log-returns — the intraday companion to ``realized_volatility``
    (which works on daily closes): rv = Σ ln(p_t/p_{t-1})² within the
    session, the standard high-frequency volatility estimator.

    Log returns are guarded (both prices > 0, CASE WHEN — ANSI-safe),
    quantized to 6 dp, and squared/summed in DECIMAL, so the sum is
    order-independent; ``ln`` and the final ``sqrt`` are libm-identical
    across engines. The lag window and the groupBy share the
    (symbol, day) keys — one exchange end-to-end, partitions bounded
    by one symbol-day.
    """
    order = [F.col(ts_col)] + ([F.col(id_col)] if id_col else [])
    day = F.to_date(ts_col).alias("date")
    w = Window.partitionBy(F.col(symbol_col), day).orderBy(*order)
    pq = F.round(F.col(price_col), 6)
    prev = F.lag(pq).over(w)
    lr = F.round(
        F.when((pq > 0) & (prev > 0), F.log(pq / prev)), 6
    )
    rets = ticks.select(
        F.col(symbol_col).alias("symbol"), day, lr.alias("lr")
    ).where(F.col("lr").isNotNull())
    d = _dec(F.col("lr"))
    rv = F.sum(d * d).cast("double")
    return rets.groupBy("symbol", "date").agg(
        F.count(F.lit(1)).alias("n_returns"),
        F.round(rv, 6).alias("realized_var"),
        F.round(F.sqrt(rv), 6).alias("realized_vol"),
    )


def roll_spread(
    ticks: DataFrame,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "price",
    id_col: str | None = None,
) -> DataFrame:
    """Roll (1984) implied bid-ask spread per (symbol, day):
    s = 2·√(−cov(Δp_t, Δp_{t−1})) from the first-order serial
    covariance of consecutive price changes — the classic estimate of
    effective spread from trade prices alone, no quote data needed.
    NULL when the serial covariance is non-negative (the estimator is
    undefined there) or fewer than two change-pairs exist.

    Price changes are computed on 6-dp-quantized prices and re-rounded
    (fixed-order double arithmetic), then the covariance comes out of
    DECIMAL sums of x, y, xy with one double division — partition-
    independent and bit-identical in SQL. Lag windows and the groupBy
    all ride the same (symbol, day) partitioning: one exchange.
    """
    order = [F.col(ts_col)] + ([F.col(id_col)] if id_col else [])
    day = F.to_date(ts_col).alias("date")
    w = Window.partitionBy(F.col(symbol_col), day).orderBy(*order)
    pq = F.round(F.col(price_col), 6)
    dp = F.round(pq - F.lag(pq).over(w), 6)
    base = ticks.select(
        F.col(symbol_col).alias("symbol"), day,
        F.col(ts_col).alias("__ts"),
        *([F.col(id_col).alias("__id")] if id_col else []),
        dp.alias("dp"),
    )
    worder = [F.col("__ts")] + ([F.col("__id")] if id_col else [])
    w2 = Window.partitionBy("symbol", "date").orderBy(*worder)
    dpl = F.lag(F.col("dp")).over(w2)
    pairs = base.select(
        "symbol", "date", F.col("dp").alias("x"), dpl.alias("y")
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    dx, dy = _dec(F.col("x")), _dec(F.col("y"))
    n = F.count(F.lit(1))
    sx = F.sum(dx).cast("double")
    sy = F.sum(dy).cast("double")
    sxy = F.sum(dx * dy).cast("double")
    cov = (sxy - sx * sy / n) / (n - F.lit(1))
    spread = F.when((n >= 2) & (cov < 0), 2 * F.sqrt(-cov))
    # + 0.0 AFTER the round collapses IEEE -0.0 to +0.0: a tiny
    # negative covariance (clone-tick days) rounds to -0.0, whose sign
    # DuckDB keeps but Spark's repr-based round drops — normalize both
    # sides (same + 0.0 in the SQL oracle)
    return pairs.groupBy("symbol", "date").agg(
        n.alias("n_pairs"),
        (F.round(F.when(n >= 2, cov), 6) + F.lit(0.0)).alias("serial_cov"),
        F.round(spread, 6).alias("roll_spread"),
    )


def atr(
    daily: DataFrame,
    n: int = 14,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Average True Range (Cutler-style simple moving average of TR;
    Wilder's recursive smoothing belongs with the EMA family).

    TR_t = max(high-low, |high - prev_close|, |low - prev_close|),
    falling back to the plain high-low range on each symbol's first
    day (no previous close). The prev-close fallback is written as an
    explicit ``when`` rather than relying on ``greatest`` null
    handling, which differs between engines. TR is quantized to 6
    decimals before the exact DECIMAL rolling average (same
    portability rules as :func:`rsi`); rows before the n-day window
    fills are dropped.

    Scale: one shuffle on symbol, streaming window frames — O(n) state
    per key regardless of series length.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    prev_close = F.lag(close_col).over(wlag)
    hi, lo = F.col(high_col), F.col(low_col)
    tr = F.when(prev_close.isNull(), hi - lo).otherwise(
        F.greatest(hi - lo, F.abs(hi - prev_close), F.abs(lo - prev_close))
    )
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        F.round(tr, 6).alias("tr"),
    )
    w = Window.partitionBy("symbol").orderBy("date").rowsBetween(-(n - 1), 0)
    wn = Window.partitionBy("symbol").orderBy("date")
    return (
        base.select(
            "symbol",
            "date",
            "close",
            "tr",
            F.round(_roll_avg(F.col("tr"), w), 6).alias("atr"),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") >= n)
        .drop("rn")
    )


def obv(
    daily: DataFrame,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
    volume_col: str = "daily_volume",
) -> DataFrame:
    """On-Balance Volume: running sum of volume signed by the daily
    close direction (up day +volume, down day -volume, flat or first
    day 0). With integer volumes the whole series is exact integer
    arithmetic — no float path at all, so the oracle replays it
    bit-identically under any partitioning.

    Scale: one shuffle on symbol; the running sum is a streaming
    window frame (O(1) state per key).
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    diff = F.round(F.col(close_col) - F.lag(close_col).over(wlag), 6)
    signed = (
        F.when(diff > 0, F.col(volume_col))
        .when(diff < 0, -F.col(volume_col))
        .otherwise(F.lit(0))
        .cast("long")
    )
    wrun = wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        F.col(volume_col).cast("long").alias("volume"),
        signed.alias("signed_volume"),
    ).withColumn("obv", F.sum("signed_volume").over(wrun))


def stochastic_oscillator(
    daily: DataFrame,
    n: int = 14,
    d_periods: int = 3,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Stochastic oscillator: %K = 100·(close − lowest low) /
    (highest high − lowest low) over the n-day window; %D = simple
    d-period moving average of %K.

    Rolling min/max are exact on the (already 4-rounded) inputs; %K is
    one fixed-order double expression, quantized to 6 decimals before
    the exact DECIMAL %D average (the same quantize-then-decimal rule
    every indicator here follows). A flat window (high == low) yields
    NULL %K, and %D ignores nothing — its window must be full of
    non-null %K rows to emit (rows before either window fills are
    dropped).

    Scale: one shuffle on symbol, streaming frames — O(n) state.
    """
    w = Window.partitionBy(symbol_col).orderBy(date_col).rowsBetween(-(n - 1), 0)
    wn = Window.partitionBy(symbol_col).orderBy(date_col)
    lo_n = F.min(low_col).over(w)
    hi_n = F.max(high_col).over(w)
    k = F.when(
        hi_n != lo_n,
        F.lit(100.0) * (F.col(close_col) - lo_n) / (hi_n - lo_n),
    )
    base = (
        daily.select(
            F.col(symbol_col).alias("symbol"),
            F.col(date_col).alias("date"),
            F.col(close_col).alias("close"),
            F.round(k, 6).alias("pct_k"),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") >= n)
    )
    wd = (
        Window.partitionBy("symbol")
        .orderBy("date")
        .rowsBetween(-(d_periods - 1), 0)
    )
    wrn = Window.partitionBy("symbol").orderBy("date")
    return (
        base.select(
            "symbol",
            "date",
            "close",
            "pct_k",
            F.when(
                F.count(F.col("pct_k")).over(wd) == d_periods,
                F.round(_roll_avg(F.col("pct_k"), wd), 6),
            ).alias("pct_d"),
            F.row_number().over(wrn).alias("rn2"),
        )
        .where(F.col("rn2") >= d_periods)
        .drop("rn2")
    )


def donchian(
    daily: DataFrame,
    n: int = 20,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Donchian channel: rolling n-day highest high / lowest low, the
    channel midpoint, and a breakout signal against the *prior* n-day
    channel (+1 close above it, -1 below, 0 inside).

    Rolling min/max over already-quantized bar prices are exact in any
    engine; the midpoint is one fixed-order double expression. The
    breakout frame ends at the previous row so today's bar never
    suppresses its own signal. Rows emit once the prior window is full
    (row n+1 onward).

    Scale: one shuffle on symbol, two streaming window frames — O(n)
    state per key.
    """
    w = Window.partitionBy(symbol_col).orderBy(date_col).rowsBetween(-(n - 1), 0)
    wp = Window.partitionBy(symbol_col).orderBy(date_col).rowsBetween(-n, -1)
    wn = Window.partitionBy(symbol_col).orderBy(date_col)
    prior_hi = F.max(high_col).over(wp)
    prior_lo = F.min(low_col).over(wp)
    breakout = (
        F.when(F.col(close_col) > prior_hi, F.lit(1))
        .when(F.col(close_col) < prior_lo, F.lit(-1))
        .otherwise(F.lit(0))
    )
    return (
        daily.select(
            F.col(symbol_col).alias("symbol"),
            F.col(date_col).alias("date"),
            F.col(close_col).alias("close"),
            F.max(high_col).over(w).alias("upper"),
            F.min(low_col).over(w).alias("lower"),
            F.round((F.max(high_col).over(w) + F.min(low_col).over(w)) / 2, 6).alias(
                "mid"
            ),
            breakout.alias("breakout"),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") >= n + 1)
        .drop("rn")
    )


def amihud_illiquidity(
    daily: DataFrame,
    scale: float = 1_000_000.0,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
    volume_col: str = "daily_volume",
) -> DataFrame:
    """Amihud (2002) illiquidity: per-symbol mean of
    |daily return| / dollar volume, scaled by ``scale``.

    Daily return and the per-day ratio are each quantized to 6
    decimals before the exact DECIMAL mean, so the aggregate is
    order-independent. Zero-dollar-volume days are excluded (the
    measure is undefined there), as is each symbol's first day.

    Scale: one shuffle for the lag sort; the groupBy reuses the same
    symbol partitioning (no second exchange).
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    ret = F.round(F.col(close_col) / F.lag(close_col).over(wlag) - 1, 6)
    dollar_vol = F.col(close_col) * F.col(volume_col)
    days = (
        daily.select(
            F.col(symbol_col).alias("symbol"),
            ret.alias("ret"),
            dollar_vol.alias("dv"),
        )
        .where(F.col("ret").isNotNull() & (F.col("dv") > 0))
        .select(
            "symbol",
            F.round(F.abs(F.col("ret")) / F.col("dv") * F.lit(scale), 6).alias(
                "illiq"
            ),
        )
    )
    return days.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.sum(_dec(F.col("illiq"))).cast("double") / F.count(F.lit(1)), 6
        ).alias("amihud"),
    )


def return_autocorr(
    daily: DataFrame,
    lag: int = 1,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Per-symbol lag-k autocorrelation of daily returns (Pearson corr
    of r_t against r_{t-k}).

    Returns are quantized to 6 decimals; all five sufficient sums run
    as DECIMAL so the correlation is one fixed-order double formula at
    the end — bit-identical under any partitioning (same derivation as
    :func:`pairwise_correlation`).

    Scale: one shuffle on symbol; the two lag windows and the groupBy
    share the partition sort.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    ret = F.round(F.col(close_col) / F.lag(close_col).over(wlag) - 1, 6)
    rets = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        ret.alias("r"),
    ).where(F.col("r").isNotNull())
    wk = Window.partitionBy("symbol").orderBy("date")
    pairs = rets.select(
        "symbol",
        F.col("r").alias("y"),
        F.lag("r", lag).over(wk).alias("x"),
    ).where(F.col("x").isNotNull())
    dx, dy = _dec(F.col("x")), _dec(F.col("y"))
    n = F.count(F.lit(1))
    sx = F.sum(dx).cast("double")
    sy = F.sum(dy).cast("double")
    sxx = F.sum(dx * dx).cast("double")
    syy = F.sum(dy * dy).cast("double")
    sxy = F.sum(dx * dy).cast("double")
    denom = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    corr = F.when((n >= 2) & (denom != 0), (n * sxy - sx * sy) / denom)
    return pairs.groupBy("symbol").agg(
        F.lit(lag).alias("lag"),
        n.alias("n_pairs"),
        F.round(corr, 6).alias("autocorr"),
    )


#: 4·ln2 and (2·ln2 − 1) as fixed double literals so Spark and the
#: oracle share the exact same constants (no engine-side ln(2)).
_FOUR_LN2 = 2.772588722239781
_TWO_LN2_M1 = 0.3862943611198906


def ohlc_volatility(
    daily: DataFrame,
    trading_days: int = 252,
    symbol_col: str = "symbol",
    date_col: str = "date",
    open_col: str = "daily_open",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Per-symbol Parkinson (1980) and Garman–Klass (1980) volatility
    estimators from OHLC bars, annualized by ``sqrt(trading_days)``.

    Per day, with u = ln(high/low) and v = ln(close/open) each
    quantized to 6 decimals:

    - Parkinson variance term:   u² / (4·ln2)
    - Garman–Klass variance term: 0.5·u² − (2·ln2 − 1)·v²

    Both constants are embedded as double literals (shared with the
    oracle), the per-day terms are re-quantized to 6 decimals, and the
    per-symbol means run as exact DECIMAL sums — order-independent.
    GK terms can go negative on extreme close-to-open moves; the mean
    is floored at 0 before the sqrt, as the literature prescribes.

    Scale: single groupBy on symbol with full map-side partial
    aggregation — one shuffle of 5 numbers per key.
    """
    # zero prices occur in dirty tick data (and in the sf0.1 fixture):
    # a zero low/open makes the log range undefined, so those days are
    # excluded rather than tripping ANSI divide-by-zero
    u = F.when(
        F.col(low_col) > 0, F.round(F.log(F.col(high_col) / F.col(low_col)), 6)
    )
    v = F.when(
        (F.col(open_col) > 0) & (F.col(close_col) > 0),
        F.round(F.log(F.col(close_col) / F.col(open_col)), 6),
    )
    park_t = F.round(u * u / F.lit(_FOUR_LN2), 6)
    gk_t = F.round(F.lit(0.5) * u * u - F.lit(_TWO_LN2_M1) * v * v, 6)
    terms = daily.select(
        F.col(symbol_col).alias("symbol"),
        park_t.alias("park_t"),
        gk_t.alias("gk_t"),
    ).where(F.col("park_t").isNotNull() & F.col("gk_t").isNotNull())
    cnt = F.count(F.lit(1))
    mean_park = F.sum(_dec(F.col("park_t"))).cast("double") / cnt
    mean_gk = F.sum(_dec(F.col("gk_t"))).cast("double") / cnt
    ann = F.sqrt(F.lit(float(trading_days)))
    return terms.groupBy("symbol").agg(
        cnt.alias("n_days"),
        F.round(F.sqrt(F.greatest(mean_park, F.lit(0.0))) * ann, 6).alias(
            "park_vol_annual"
        ),
        F.round(F.sqrt(F.greatest(mean_gk, F.lit(0.0))) * ann, 6).alias(
            "gk_vol_annual"
        ),
    )


def return_streaks(
    daily: DataFrame,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Consecutive up/down-day streaks per symbol (gaps-and-islands).

    Days are signed by the 6-quantized daily return; flat and
    first days break streaks and are excluded. The island id is the
    classic difference of two row_numbers (overall vs per-direction),
    which is deterministic here because (symbol, date) is unique.
    Each streak emits its span, length, and total return
    (last close / close before the streak − 1, quantized).

    Scale: one shuffle on symbol; both row_numbers and the final
    groupBy share the same partition sort, and the groupBy input is
    one row per day — O(days) not O(ticks).
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    ret = F.round(F.col(close_col) / F.lag(close_col).over(wlag) - 1, 6)
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        F.lag(close_col).over(wlag).alias("prev_close"),
        ret.alias("r"),
    ).where(F.col("r").isNotNull() & (F.col("r") != 0))
    direction = F.when(F.col("r") > 0, F.lit(1)).otherwise(F.lit(-1))
    signed = base.select(
        "symbol", "date", "close", "prev_close", direction.alias("direction")
    )
    w_all = Window.partitionBy("symbol").orderBy("date")
    w_dir = Window.partitionBy("symbol", "direction").orderBy("date")
    islands = signed.select(
        "symbol",
        "direction",
        "date",
        "close",
        "prev_close",
        (F.row_number().over(w_all) - F.row_number().over(w_dir)).alias("grp"),
    )
    ordkey = F.struct(F.col("date"))
    return (
        islands.groupBy("symbol", "direction", "grp")
        .agg(
            F.min("date").alias("streak_start"),
            F.max("date").alias("streak_end"),
            F.count(F.lit(1)).alias("length"),
            F.round(
                F.max_by("close", ordkey) / F.min_by("prev_close", ordkey) - 1, 6
            ).alias("streak_return"),
        )
        .drop("grp")
    )


def heikin_ashi(
    daily: DataFrame,
    symbol_col: str = "symbol",
    date_col: str = "date",
    open_col: str = "daily_open",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Heikin-Ashi smoothed candles: ha_close is the OHLC4 mean,
    ha_open the midpoint of the *previous HA* candle — a data-dependent
    recursion no window frame expresses, so it uses the package's
    ``applyInPandas`` pattern (cf. :func:`ema_macd`): one shuffle on
    symbol, scalar loop per symbol series, parallel across symbols.

    All arithmetic is fixed-order (left-associative sums, single
    divisions), bit-identical to the DuckDB recursive-CTE oracle.
    ``direction`` compares the raw (unrounded) HA open/close.

    Scale: O(1) state per symbol; series length is bounded by calendar
    days, not data volume.
    """
    import pandas as pd

    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(open_col).alias("o"),
        F.col(high_col).alias("h"),
        F.col(low_col).alias("l"),
        F.col(close_col).alias("c"),
    )
    schema_out = (
        "symbol string, date date, ha_open double, ha_high double, "
        "ha_low double, ha_close double, direction int"
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date").reset_index(drop=True)
        ho = hc = None
        out = {k: [] for k in ("ha_open", "ha_high", "ha_low", "ha_close", "direction")}
        for o, h, l, c in zip(pdf["o"], pdf["h"], pdf["l"], pdf["c"]):
            o, h, l, c = float(o), float(h), float(l), float(c)
            new_hc = (o + h + l + c) / 4
            ho = (o + c) / 2 if ho is None else (ho + hc) / 2
            hc = new_hc
            out["ha_open"].append(ho)
            out["ha_close"].append(hc)
            out["ha_high"].append(max(h, ho, hc))
            out["ha_low"].append(min(l, ho, hc))
            out["direction"].append(1 if hc > ho else (-1 if hc < ho else 0))
        res = pd.DataFrame({"symbol": pdf["symbol"], "date": pdf["date"], **out})
        res["direction"] = res["direction"].astype("int32")
        return res

    walked = base.groupBy("symbol").applyInPandas(walk, schema=schema_out)
    return walked.select(
        "symbol",
        "date",
        F.round("ha_open", 6).alias("ha_open"),
        F.round("ha_high", 6).alias("ha_high"),
        F.round("ha_low", 6).alias("ha_low"),
        F.round("ha_close", 6).alias("ha_close"),
        "direction",
    )


def kyle_lambda(
    ticks: DataFrame,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "price",
    id_col: str | None = None,
) -> DataFrame:
    """Kyle (1985) price-impact lambda per symbol: the least-squares
    slope of tick-to-tick price change on trade sign (tick-rule
    classified, unit size) — how much each buyer/seller-initiated
    trade moves the price.

    Shares :func:`tick_rule`'s classification (lag sign + zero-tick
    carry, day-boundary reset); the regression runs over (side, Δp)
    pairs where both are defined. Sufficient sums are exact DECIMAL on
    the 6-quantized Δp and the ±1 sides, so λ is a single fixed-order
    double formula — partition-independent.

    Scale: the same single (symbol, day) exchange as tick_rule, then a
    map-side-combined groupBy on symbol — 5 numbers per key.
    """
    order = [F.col(ts_col)] + ([F.col(id_col)] if id_col else [])
    day = F.to_date(ts_col).alias("date")
    w = Window.partitionBy(F.col(symbol_col), day).orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pq = F.round(F.col(price_col), 6)
    prev = F.lag(pq).over(w)
    raw = F.when(pq > prev, 1).when(pq < prev, -1)
    side = F.last(raw, ignorenulls=True).over(wrun)
    dp = F.round(pq - prev, 6)
    pairs = ticks.select(
        F.col(symbol_col).alias("symbol"), side.alias("x"), dp.alias("y")
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    dx = F.col("x").cast("decimal(18,6)")
    dy = F.col("y").cast("decimal(18,6)")
    n = F.count(F.lit(1))
    sx = F.sum(dx).cast("double")
    sy = F.sum(dy).cast("double")
    sxx = F.sum(dx * dx).cast("double")
    sxy = F.sum(dx * dy).cast("double")
    denom = n * sxx - sx * sx
    lam = F.when((n >= 2) & (denom != 0), (n * sxy - sx * sy) / denom)
    return pairs.groupBy("symbol").agg(
        n.alias("n_ticks"),
        F.round(lam, 6).alias("kyle_lambda"),
        F.round((sy - lam * sx) / n, 6).alias("intercept"),
    )


#: Corwin–Schultz constant 3 − 2·√2 as a fixed double literal shared
#: with the oracle (no engine-side sqrt(2)).
_CS_DEN = 0.17157287525380993


def corwin_schultz(
    daily: DataFrame,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
) -> DataFrame:
    """Corwin–Schultz (2012) bid-ask spread estimator from daily
    high/low ranges of two consecutive days: beta is the sum of the
    squared single-day log ranges, gamma the squared two-day log
    range, alpha their closed-form combination, and the spread
    2(e^a − 1)/(1 + e^a), floored at 0 as the paper prescribes.

    Log terms are quantized to 6 decimals (zero lows excluded, same
    guard as :func:`ohlc_volatility`); everything downstream is one
    fixed-order double expression per row, replayed literally by the
    oracle. Emitted at the pair's second day.

    Scale: one shuffle on symbol, one lag window — O(1) state.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    u = F.when(
        F.col(low_col) > 0, F.round(F.log(F.col(high_col) / F.col(low_col)), 6)
    )
    hh = F.greatest(F.col(high_col), F.lag(high_col).over(wlag))
    ll = F.least(F.col(low_col), F.lag(low_col).over(wlag))
    g = F.when(ll > 0, F.round(F.log(hh / ll), 6))
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        u.alias("u2"),
        F.lag(u).over(wlag).alias("u1"),
        g.alias("g"),
    ).where(
        F.col("u1").isNotNull() & F.col("u2").isNotNull() & F.col("g").isNotNull()
    )
    beta = F.col("u1") * F.col("u1") + F.col("u2") * F.col("u2")
    gamma = F.col("g") * F.col("g")
    alpha = (F.sqrt(F.lit(2.0) * beta) - F.sqrt(beta)) / F.lit(_CS_DEN) - F.sqrt(
        gamma / F.lit(_CS_DEN)
    )
    spread = F.lit(2.0) * (F.exp(alpha) - 1) / (1 + F.exp(alpha))
    return base.select(
        "symbol",
        "date",
        F.round(beta, 6).alias("beta"),
        F.round(gamma, 6).alias("gamma"),
        F.round(alpha, 6).alias("alpha"),
        F.round(F.greatest(spread, F.lit(0.0)), 6).alias("spread"),
    )


def underwater_spells(
    daily: DataFrame,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Underwater (drawdown) spell analysis: each maximal run of days
    strictly below the running peak becomes one row with its span,
    length, deepest drawdown, and whether the series recovered (a new
    peak printed after the spell ended) — the drawdown-duration view
    risk reports are built on.

    Built as :func:`drawdown` + the gaps-and-islands id from
    :func:`return_streaks`; the deepest drawdown is an exact min of
    already-quantized values.

    Scale: one shuffle on symbol; running peak, island ids and the
    final groupBy share the partition sort.
    """
    wpeak = (
        Window.partitionBy(symbol_col)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = F.max(close_col).over(wpeak)
    dd = F.when(peak != 0, F.round(F.col(close_col) / peak - 1, 6))
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        dd.alias("drawdown"),
    )
    wmax = Window.partitionBy("symbol")
    w_all = Window.partitionBy("symbol").orderBy("date")
    # island id = series row number minus underwater row number, taken
    # BEFORE/AFTER the filter respectively — consecutive *trading
    # rows*, so a calendar gap doesn't split a spell
    under = (
        base.withColumn("symbol_last_date", F.max("date").over(wmax))
        .withColumn("rn_all", F.row_number().over(w_all))
        .where(F.col("drawdown") < 0)
    )
    w_run = Window.partitionBy("symbol").orderBy("date")
    islands = under.select(
        "symbol",
        "date",
        "drawdown",
        "symbol_last_date",
        (F.col("rn_all") - F.row_number().over(w_run)).alias("grp"),
    )
    return (
        islands.groupBy("symbol", "grp")
        .agg(
            F.min("date").alias("spell_start"),
            F.max("date").alias("spell_end"),
            F.count(F.lit(1)).alias("n_days"),
            F.min("drawdown").alias("max_depth"),
            (F.max("date") < F.max("symbol_last_date")).alias("recovered"),
        )
        .drop("grp")
    )


def sharpe_sortino(
    daily: DataFrame,
    trading_days: int = 252,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Per-symbol annualized Sharpe and Sortino ratios of daily simple
    returns (risk-free rate 0 — the testdata carries no rate curve).

    Sharpe = mean(r) / stddev_samp(r) · √trading_days;
    Sortino replaces the denominator with the downside deviation
    √(Σ min(r,0)² / (n−1)) — only losses count as risk. Both emit NULL
    when the denominator is 0 or n < 2, never ±Inf.

    Exactness: returns are quantized to 6 decimals, all three sums run
    over DECIMAL(18,6) views (order-independent, engine-portable), and
    the final doubles evaluate in a fixed operand order — so the result
    is bit-identical across partitionings and replayable by DuckDB.

    Scale: the lag window and the aggregation share the symbol
    partitioning — one exchange, per-symbol sort state only. Extends the
    reference's daily_change (`spark_batch_processor.py:100-101`) into
    the risk layer.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    prev = F.lag(close_col).over(wlag)
    r = F.round(F.when(prev != 0, F.col(close_col) / prev - 1), 6)
    rets = daily.select(
        F.col(symbol_col).alias("symbol"), r.alias("r")
    ).where(F.col("r").isNotNull())

    d = _dec(F.col("r"))
    dn = _dec(F.least(F.col("r"), F.lit(0.0)))
    n = F.count(F.lit(1))
    sx = F.sum(d).cast("double")
    sxx = F.sum(d * d).cast("double")
    sdd = F.sum(dn * dn).cast("double")
    mean = sx / n
    var = (sxx - sx * sx / n) / (n - F.lit(1))
    std = F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0))))
    dstd = F.when(n >= 2, F.sqrt(sdd / (n - F.lit(1))))
    ann = F.sqrt(F.lit(float(trading_days)))
    return rets.groupBy("symbol").agg(
        n.alias("n_returns"),
        F.round(mean, 6).alias("mean_return"),
        F.round(std, 6).alias("std_return"),
        F.round(dstd, 6).alias("downside_dev"),
        F.round(F.when(std > 0, mean / std * ann), 6).alias("sharpe_annual"),
        F.round(F.when(dstd > 0, mean / dstd * ann), 6).alias("sortino_annual"),
    )


def var_cvar(
    daily: DataFrame,
    alpha_pct: int = 5,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Per-symbol historical Value-at-Risk and Conditional VaR
    (expected shortfall) of daily simple returns at the ``alpha_pct``
    tail (default 5%).

    VaR is the k-th SMALLEST return with k = ⌈α·n⌉ selected by
    row_number — the DISCRETE lower-quantile convention, chosen over
    the engines' interpolating percentile for the same reason as
    :func:`~..operators.metrics.mad_anomalies`: rank selection involves
    no arithmetic, so it is engine- and partition-exact. k is computed
    in pure integer arithmetic ((n·α + 99) div 100), no float ceil.
    CVaR is the exact DECIMAL mean of the k tail returns. Ties in the
    return value cannot change either result (the sorted multiset is
    partition-independent).

    Scale: the rank window and the final aggregation share the symbol
    partitioning — one exchange; per-symbol sort state only.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    prev = F.lag(close_col).over(wlag)
    r = F.round(F.when(prev != 0, F.col(close_col) / prev - 1), 6)
    rets = daily.select(
        F.col(symbol_col).alias("symbol"), r.alias("r")
    ).where(F.col("r").isNotNull())

    wo = Window.partitionBy("symbol").orderBy("r")
    wg = Window.partitionBy("symbol")
    ranked = rets.select(
        "symbol",
        "r",
        F.row_number().over(wo).alias("_rn"),
        F.count(F.lit(1)).over(wg).alias("_n"),
    ).withColumn(
        "_k",
        ((F.col("_n") * F.lit(alpha_pct) + 99) - F.pmod(
            F.col("_n") * F.lit(alpha_pct) + 99, 100
        )) / 100,
    )
    tail_sum = F.sum(F.when(F.col("_rn") <= F.col("_k"), _dec(F.col("r")))).cast(
        "double"
    )
    return ranked.groupBy("symbol").agg(
        F.max("_n").alias("n_returns"),
        F.max("_k").cast("bigint").alias("k_tail"),
        F.max(F.when(F.col("_rn") == F.col("_k"), F.col("r"))).alias(
            f"var_{alpha_pct}pct"
        ),
        F.round(tail_sum / F.max("_k"), 6).alias(f"cvar_{alpha_pct}pct"),
    )


def adx(
    daily: DataFrame,
    n: int = 14,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Wilder (1978) directional-movement system: +DI, −DI, and ADX
    over the daily OHLC series.

    The true range and directional movements are DECLARATIVE lag
    expressions (quantized to 6 decimals — the recursion's inputs are
    then engine-exact); the three Wilder smoothings and the ADX
    average are data-dependent recursions
    (``s_t = (s_{t−1}·(n−1) + x_t) / n``, seeded with the first
    observation) that no window frame expresses, so they run in the
    package's ``applyInPandas`` stateful pattern (cf. :func:`ema_macd`,
    `heikin_ashi`): one shuffle on symbol, scalar loop per symbol,
    O(1) state — parallel across symbols at any scale.

    Portability contract (bit-identical to the recursive-CTE oracle):
    every update is the literal ``(s·(n−1) + x) / n`` operand order;
    DX is ``100·|sp−sm| / (sp+sm)`` (the algebraically-equal DI form
    would round differently); ADX seeds at the first non-NULL DX and
    carries through NULL-DX rows. Divisions are Python-float side
    (no ANSI throw) with explicit >0 guards mirrored as SQL CASE.
    """
    import pandas as pd

    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    h, low = F.col(high_col), F.col(low_col)
    pc = F.lag(close_col).over(wlag)
    ph = F.lag(high_col).over(wlag)
    pl = F.lag(low_col).over(wlag)
    tr = F.round(
        F.when(pc.isNull(), h - low).otherwise(
            F.greatest(h - low, F.abs(h - pc), F.abs(low - pc))
        ),
        6,
    )
    up = h - ph
    dn = pl - low
    pdm = F.round(
        F.when(ph.isNull(), F.lit(0.0))
        .when((up > dn) & (up > 0), up)
        .otherwise(F.lit(0.0)),
        6,
    )
    mdm = F.round(
        F.when(pl.isNull(), F.lit(0.0))
        .when((dn > up) & (dn > 0), dn)
        .otherwise(F.lit(0.0)),
        6,
    )
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        tr.alias("tr"),
        pdm.alias("pdm"),
        mdm.alias("mdm"),
    )
    schema_out = (
        "symbol string, date date, di_plus double, di_minus double, adx double"
    )
    nf = float(n)

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date").reset_index(drop=True)
        s_tr = s_p = s_m = None
        adx_v = None
        dips, dims, adxs = [], [], []
        for tr_x, p_x, m_x in zip(pdf["tr"], pdf["pdm"], pdf["mdm"]):
            tr_x, p_x, m_x = float(tr_x), float(p_x), float(m_x)
            if s_tr is None:
                s_tr, s_p, s_m = tr_x, p_x, m_x
            else:
                s_tr = (s_tr * (nf - 1) + tr_x) / nf
                s_p = (s_p * (nf - 1) + p_x) / nf
                s_m = (s_m * (nf - 1) + m_x) / nf
            denom = s_p + s_m
            dx = 100.0 * abs(s_p - s_m) / denom if denom > 0 else None
            if adx_v is None:
                adx_v = dx
            elif dx is not None:
                adx_v = (adx_v * (nf - 1) + dx) / nf
            dips.append(100.0 * s_p / s_tr if s_tr > 0 else None)
            dims.append(100.0 * s_m / s_tr if s_tr > 0 else None)
            adxs.append(adx_v)
        out = pdf[["symbol", "date"]].copy()
        out["di_plus"] = pd.Series(dips, dtype="float64")
        out["di_minus"] = pd.Series(dims, dtype="float64")
        out["adx"] = pd.Series(adxs, dtype="float64")
        return out

    walked = base.groupBy("symbol").applyInPandas(walk, schema=schema_out)
    return walked.select(
        "symbol",
        "date",
        F.round("di_plus", 4).alias("di_plus"),
        F.round("di_minus", 4).alias("di_minus"),
        F.round("adx", 4).alias("adx"),
    )


def ofi_bars(
    ticks: DataFrame,
    bar_seconds: int = 900,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "price",
    id_col: str | None = None,
) -> DataFrame:
    """Order-flow imbalance per (symbol, fixed-interval bar): classify
    every tick with the same zero-tick Lee-Ready rule as
    :func:`tick_rule` (day-scoped state), then aggregate
    buyer-vs-seller initiation into ``bar_seconds`` buckets —
    OFI = (buys − sells) / classified, the standard microstructure
    flow-pressure signal at bar resolution.

    Scale: identical single-exchange classification windows as
    tick_rule; the bar groupBy is a map-side partial aggregation on
    top (bars nest inside the symbol-day partitions). Integer-micro
    bucket arithmetic — exact in any engine.
    """
    order = [F.col(ts_col)] + ([F.col(id_col)] if id_col else [])
    day = F.to_date(ts_col).alias("date")
    w = Window.partitionBy(F.col(symbol_col), day).orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pq = F.round(F.col(price_col), 6)
    prev = F.lag(pq).over(w)
    raw = F.when(pq > prev, 1).when(pq < prev, -1)
    side = F.last(raw, ignorenulls=True).over(wrun)
    us = F.unix_micros(F.col(ts_col))
    bar = F.timestamp_micros(us - F.pmod(us, F.lit(bar_seconds * 1_000_000)))
    classified = ticks.select(
        F.col(symbol_col).alias("symbol"),
        bar.alias("bar_start"),
        side.alias("side"),
    )
    n_buy = F.count(F.when(F.col("side") == 1, 1))
    n_sell = F.count(F.when(F.col("side") == -1, 1))
    return classified.groupBy("symbol", "bar_start").agg(
        n_buy.alias("n_buy"),
        n_sell.alias("n_sell"),
        F.round(
            (n_buy - n_sell).cast("double")
            / F.greatest(n_buy + n_sell, F.lit(1)),
            6,
        ).alias("ofi"),
    )


def trend_ols(
    daily: DataFrame,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Per-symbol least-squares time trend of the daily close: slope
    (per trading day), intercept, and R² from the textbook sufficient
    sums — 'is this series drifting, and how cleanly' as one grouped
    pass.

    The regressor is the 0-based trading-day index (row_number over
    date), so x and x² sum as exact integers; closes go through a
    DECIMAL(18,4) view (they carry 4 decimals by construction), and
    the cross/single/y² sums are therefore all integer-exact —
    the closed-form slope/intercept/R² are then a handful of
    fixed-order double ops, bit-identical at any parallelism. NULL
    slope for n < 2, NULL R² for a flat series (zero y-variance).

    Scale: the ranking window and the aggregation share the symbol
    partitioning — one exchange, O(1) aggregate state.
    """
    w = Window.partitionBy(symbol_col).orderBy(date_col)
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        (F.row_number().over(w) - 1).cast("long").alias("x"),
        F.col(close_col).cast("decimal(18,4)").alias("y"),
    )
    n = F.count(F.lit(1))
    sx = F.sum("x").cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).cast("double")
    sy = F.sum("y").cast("double")
    sxy = F.sum(F.col("x").cast("decimal(10,0)") * F.col("y")).cast("double")
    syy = F.sum(F.col("y") * F.col("y")).cast("double")
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    num = n * sxy - sx * sy
    slope = F.when(denx > 0, num / denx)
    intercept = F.when(denx > 0, (sy - (num / denx) * sx) / n)
    r2 = F.when((denx > 0) & (deny > 0), (num * num) / (denx * deny))
    return base.groupBy("symbol").agg(
        n.alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def hurst_rs(
    daily: DataFrame,
    windows: tuple[int, ...] = (4, 8, 16),
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Hurst exponent per symbol by rescaled-range (R/S) analysis:
    persistence (H > 0.5) vs mean-reversion (H < 0.5) of the daily
    return series.

    For each block size w in ``windows`` the return series splits into
    consecutive FULL blocks; each block contributes
    R/S = (max − min of the cumulative mean-deviations) / population
    std; per-w averages regress against ln w. ``windows`` must be
    geometrically spaced (each double the last): for equally-spaced x
    the OLS slope collapses to (ln RS_last − ln RS_first)/(ln w_last −
    ln w_first) — one fixed-order expression, no per-symbol fit loop.

    Exactness: returns, means, deviations, and R/S ratios quantize to
    6 decimals before every DECIMAL sum; the cumulative deviation is a
    running DECIMAL window (exact at any partitioning); the ln-ratio
    denominator is a Python-computed literal shared verbatim with the
    oracle. Blocks with zero std are dropped; symbols lacking full
    blocks at the extreme sizes emit NULL hurst.

    Scale: one explode (×|windows|), then windows + groupBys that all
    share the (symbol, w, block) partitioning — a single exchange of
    quantized 8-byte values; per-partition state is one block.
    """
    import math

    w_arr = F.explode(F.array(*[F.lit(w) for w in windows])).alias("w")
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    prev = F.lag(close_col).over(wlag)
    rets = daily.select(
        F.col(symbol_col).alias("symbol"),
        (F.row_number().over(wlag) - 2).alias("idx"),  # first return -> 0
        F.round(F.when(prev != 0, F.col(close_col) / prev - 1), 6).alias("r"),
    ).where(F.col("r").isNotNull())

    blocks = rets.select("symbol", "idx", "r", w_arr).withColumn(
        "block", F.floor(F.col("idx") / F.col("w"))
    )
    wb = Window.partitionBy("symbol", "w", "block")
    wrun = wb.orderBy("idx").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cnt = F.count(F.lit(1)).over(wb)
    mean = F.round(
        F.sum(F.col("r").cast("decimal(18,6)")).over(wb).cast("double") / cnt, 6
    )
    full = blocks.withColumn("cnt", cnt).withColumn("m", mean).where(
        F.col("cnt") == F.col("w")
    )
    dev = F.round(F.col("r") - F.col("m"), 6)
    cum = F.sum(dev.cast("decimal(18,6)")).over(wrun).cast("double")
    dd = full.select(
        "symbol", "w", "block", "idx", dev.alias("dev"), cum.alias("cum")
    )
    per_block = dd.groupBy("symbol", "w", "block").agg(
        (F.max("cum") - F.min("cum")).alias("rng"),
        F.sqrt(
            F.sum(F.round(F.col("dev") * F.col("dev"), 6).cast("decimal(18,6)"))
            .cast("double")
            / F.first("w")
        ).alias("s"),
    )
    rs = per_block.where(F.col("s") > 0).select(
        "symbol", "w", F.round(F.col("rng") / F.col("s"), 6).alias("rs")
    )
    per_w = rs.groupBy("symbol", "w").agg(
        F.round(
            F.sum(F.col("rs").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("rs_avg"),
        F.count(F.lit(1)).alias("n_blocks"),
    )
    w_lo, w_hi = windows[0], windows[-1]
    denom = math.log(float(w_hi)) - math.log(float(w_lo))
    agg = per_w.groupBy("symbol").agg(
        *[
            F.max(F.when(F.col("w") == w, F.col("rs_avg"))).alias(f"rs_{w}")
            for w in windows
        ],
        F.sum("n_blocks").alias("n_blocks"),
    )
    lo, hi = F.col(f"rs_{w_lo}"), F.col(f"rs_{w_hi}")
    hurst = F.when(
        (lo > 0) & (hi > 0), (F.log(hi) - F.log(lo)) / F.lit(denom)
    )
    return agg.select(
        "symbol",
        "n_blocks",
        *[F.col(f"rs_{w}") for w in windows],
        F.round(hurst, 4).alias("hurst"),
    )


def candle_patterns(
    daily: DataFrame,
    symbol_col: str = "symbol",
    date_col: str = "date",
    open_col: str = "daily_open",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Classical candlestick pattern flags per (symbol, day): doji,
    hammer, bullish/bearish engulfing — pure column comparisons on the
    OHLC frame (plus one lag window for the engulfing pair), fully
    codegen, trivially engine-portable (no rounding: every comparison
    runs on both engines' identical doubles).

    Definitions (body = |close−open|, range = high−low):
    - doji: body ≤ 0.1·range, range > 0;
    - hammer: lower shadow ≥ 2·body and upper shadow ≤ body, range > 0;
    - bullish engulfing: previous candle bearish, current bullish,
      current body spans the previous body (open ≤ prev_close and
      close ≥ prev_open);
    - bearish engulfing: the mirror.
    """
    o, h, low, c = (
        F.col(open_col),
        F.col(high_col),
        F.col(low_col),
        F.col(close_col),
    )
    w = Window.partitionBy(symbol_col).orderBy(date_col)
    po, pc = F.lag(open_col).over(w), F.lag(close_col).over(w)
    body = F.abs(c - o)
    rng = h - low
    upper = h - F.greatest(o, c)
    lower = F.least(o, c) - low
    doji = ((rng > 0) & (body <= F.lit(0.1) * rng)).cast("int")
    hammer = (
        (rng > 0) & (lower >= F.lit(2.0) * body) & (upper <= body)
    ).cast("int")
    bull = (
        po.isNotNull()
        & (po > pc)
        & (c > o)
        & (o <= pc)
        & (c >= po)
    ).cast("int")
    bear = (
        po.isNotNull()
        & (pc > po)
        & (o > c)
        & (o >= pc)
        & (c <= po)
    ).cast("int")
    return daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        doji.alias("doji"),
        hammer.alias("hammer"),
        bull.alias("bull_engulf"),
        bear.alias("bear_engulf"),
    )


def rank_portfolio_returns(
    daily: DataFrame,
    lookback: int = 5,
    n_buckets: int = 3,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Portfolio-sort backtest (the Fama-French workhorse): each day,
    rank symbols by their trailing ``lookback``-day return into
    ``n_buckets`` ntile portfolios and measure each portfolio's mean
    NEXT-day return — 'does past momentum predict tomorrow' as one
    grouped aggregation.

    ntile over a TOTAL order (past return, then symbol) assigns
    buckets identically in every engine; both returns quantize to 6
    and the portfolio mean is an exact DECIMAL average. Two window
    passes (lag/lead per symbol, ntile per date) then one tiny
    (dates × buckets) aggregate.
    """
    wsym = Window.partitionBy(symbol_col).orderBy(date_col)
    past = F.round(
        F.col(close_col) / F.lag(close_col, lookback).over(wsym) - 1, 6
    )
    fwd = F.round(F.lead(close_col).over(wsym) / F.col(close_col) - 1, 6)
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        past.alias("r_past"),
        fwd.alias("r_fwd"),
    ).where(F.col("r_past").isNotNull() & F.col("r_fwd").isNotNull())
    wdate = Window.partitionBy("date").orderBy("r_past", "symbol")
    bucketed = base.select(
        "date", "r_fwd", F.ntile(n_buckets).over(wdate).alias("bucket")
    )
    return bucketed.groupBy("date", "bucket").agg(
        F.count(F.lit(1)).alias("n_symbols"),
        F.round(
            F.sum(F.col("r_fwd").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_fwd_return"),
    )


def williams_r(
    daily: DataFrame,
    n: int = 14,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Williams %R: -100 * (HH - close) / (HH - LL) over the trailing
    n-day high/low channel (the inverted twin of the stochastic %K).

    NULL when the channel is degenerate (HH == LL — a flat window has
    no oscillator position). Rolling extremes are exact min/max — no
    float summation — so the only rounding is the final quantize;
    rows before the window fills are dropped.

    Scale: one shuffle on symbol, streaming min/max window frames
    (O(n) state per key).
    """
    w = Window.partitionBy(symbol_col).orderBy(date_col).rowsBetween(-(n - 1), 0)
    wn = Window.partitionBy(symbol_col).orderBy(date_col)
    hh = F.max(high_col).over(w)
    ll = F.min(low_col).over(w)
    pct_r = F.when(
        hh != ll, F.lit(-100.0) * (hh - F.col(close_col)) / (hh - ll)
    )
    return (
        daily.select(
            F.col(symbol_col).alias("symbol"),
            F.col(date_col).alias("date"),
            F.col(close_col).alias("close"),
            F.round(hh, 6).alias("hh"),
            F.round(ll, 6).alias("ll"),
            # + 0.0 collapses IEEE negative zero (close printed at the
            # channel high) so every engine renders the same 0.0
            (F.round(pct_r, 6) + F.lit(0.0)).alias("pct_r"),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") >= n)
        .drop("rn")
    )


def roc_momentum(
    daily: DataFrame,
    n: int = 10,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Rate of change (100 * (close/close_{t-n} - 1)) and raw momentum
    (close - close_{t-n}) over an n-day lookback.

    Pure lag arithmetic — one shuffle on symbol, O(n) lag state per
    key, every derived value quantized once. Rows without a full
    lookback (the first n per symbol) are dropped; a zero reference
    close yields NULL roc (division guard) with momentum still
    defined.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    ref = F.lag(close_col, n).over(wlag)
    return (
        daily.select(
            F.col(symbol_col).alias("symbol"),
            F.col(date_col).alias("date"),
            F.col(close_col).alias("close"),
            ref.alias("ref_close"),
            F.round(
                F.when(ref != 0, F.lit(100.0) * (F.col(close_col) / ref - 1)),
                6,
            ).alias("roc"),
            F.round(F.col(close_col) - ref, 6).alias("momentum"),
        )
        .where(F.col("ref_close").isNotNull())
    )


def mfi(
    daily: DataFrame,
    n: int = 14,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
    volume_col: str = "daily_volume",
) -> DataFrame:
    """Money Flow Index: volume-weighted RSI over the typical price
    (H+L+C)/3. Raw money flow = tp * volume, classified positive /
    negative by the tp change vs the previous day (flat days count
    neither side — the standard convention).

    Exactness: tp is quantized to 6 decimals, flows go through
    DECIMAL(18,6) * BIGINT volume sums (DECIMAL(38) accumulate — no
    float order-dependence), and the final index is one double
    division. First day per symbol has no tp delta and is excluded
    from flows; rows before the n-day flow window fills are dropped.
    MFI is NULL when the window has zero total flow.

    Scale: one shuffle on symbol, streaming window frames.
    """
    tp = F.round(
        (F.col(high_col) + F.col(low_col) + F.col(close_col)) / 3, 6
    )
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        tp.alias("tp"),
        F.col(volume_col).cast("long").alias("volume"),
    )
    wl2 = Window.partitionBy("symbol").orderBy("date")
    dtp = F.round(F.col("tp") - F.lag("tp").over(wl2), 6)
    # volume enters the product as DECIMAL(12,0) so both engines stay
    # in exact int128 decimal arithmetic (same rule as twap_daily)
    flow = F.col("tp").cast("decimal(18,6)") * F.col("volume").cast(
        "decimal(12,0)"
    )
    flows = base.select(
        "symbol",
        "date",
        "close",
        "tp",
        dtp.alias("dtp"),
        F.when(dtp > 0, flow).otherwise(F.lit(0).cast("decimal(18,6)")).alias("pos_flow"),
        F.when(dtp < 0, flow).otherwise(F.lit(0).cast("decimal(18,6)")).alias("neg_flow"),
    ).where(F.col("dtp").isNotNull())
    w = Window.partitionBy("symbol").orderBy("date").rowsBetween(-(n - 1), 0)
    wn = Window.partitionBy("symbol").orderBy("date")
    pos = F.sum("pos_flow").over(w).cast("double")
    neg = F.sum("neg_flow").over(w).cast("double")
    return (
        flows.select(
            "symbol",
            "date",
            "close",
            F.round(pos, 6).alias("pos_flow_sum"),
            F.round(neg, 6).alias("neg_flow_sum"),
            F.round(
                F.when(pos + neg != 0, F.lit(100.0) * pos / (pos + neg)), 6
            ).alias("mfi"),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") >= n)
        .drop("rn")
    )


def cmf(
    daily: DataFrame,
    n: int = 20,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
    volume_col: str = "daily_volume",
) -> DataFrame:
    """Chaikin Money Flow: rolling sum of money-flow volume (the
    close-location multiplier ((C-L)-(H-C))/(H-L) times volume) over
    the rolling volume sum.

    The multiplier is NULL-guarded for flat days (H == L contributes
    zero flow, the standard treatment) and quantized before the
    DECIMAL flow product, so both rolling sums are order-independent.
    Rows before the window fills are dropped; CMF is NULL on a
    zero-volume window.

    Scale: one shuffle on symbol, streaming window frames.
    """
    hi, lo, cl = F.col(high_col), F.col(low_col), F.col(close_col)
    mult = F.round(
        F.when(hi != lo, ((cl - lo) - (hi - cl)) / (hi - lo)).otherwise(
            F.lit(0.0)
        ),
        6,
    )
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        cl.alias("close"),
        mult.alias("mf_mult"),
        F.col(volume_col).cast("long").alias("volume"),
    )
    w = Window.partitionBy("symbol").orderBy("date").rowsBetween(-(n - 1), 0)
    wn = Window.partitionBy("symbol").orderBy("date")
    flow_sum = F.sum(
        F.col("mf_mult").cast("decimal(18,6)")
        * F.col("volume").cast("decimal(12,0)")
    ).over(w).cast("double")
    vol_sum = F.sum("volume").over(w)
    return (
        base.select(
            "symbol",
            "date",
            "close",
            F.round(flow_sum, 6).alias("mfv_sum"),
            vol_sum.alias("vol_sum"),
            F.round(F.when(vol_sum != 0, flow_sum / vol_sum), 6).alias("cmf"),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") >= n)
        .drop("rn")
    )


def ulcer_index(
    daily: DataFrame,
    n: int = 14,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Ulcer index: sqrt of the n-day mean of squared percentage
    drawdowns from the trailing n-day high close — a downside-only
    volatility measure (Martin & McCann 1989).

    Each day's drawdown uses its own trailing n-day running high
    (single-pass rolling max — no two-pass dependence), is quantized,
    then squared inside a DECIMAL(19,6) sum (squares of ~1e2-percent
    drawdowns stay well inside the int128 path). Rows before the
    window fills are dropped.

    Scale: one shuffle on symbol, streaming window frames.
    """
    w = Window.partitionBy(symbol_col).orderBy(date_col).rowsBetween(-(n - 1), 0)
    wn = Window.partitionBy(symbol_col).orderBy(date_col)
    peak = F.max(close_col).over(w)
    dd = F.round(
        F.when(peak != 0, F.lit(100.0) * (F.col(close_col) - peak) / peak)
        .otherwise(F.lit(0.0)),
        6,
    )
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        dd.alias("dd_pct"),
        F.row_number().over(wn).alias("rn"),
    )
    w2 = Window.partitionBy("symbol").orderBy("date").rowsBetween(-(n - 1), 0)
    sq_mean = (
        F.sum(
            F.col("dd_pct").cast("decimal(19,6)")
            * F.col("dd_pct").cast("decimal(19,6)")
        )
        .over(w2)
        .cast("double")
        / F.count(F.lit(1)).over(w2)
    )
    return (
        base.select(
            "symbol",
            "date",
            "close",
            "dd_pct",
            F.round(F.sqrt(F.greatest(sq_mean, F.lit(0.0))), 6).alias(
                "ulcer_index"
            ),
            "rn",
        )
        # both the drawdown lookback and the squared-mean window must
        # be full: 2n-1 rows of history
        .where(F.col("rn") >= 2 * n - 1)
        .drop("rn")
    )


def keltner_channels(
    daily: DataFrame,
    n: int = 20,
    mult: float = 2.0,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Keltner channels, SMA form: middle = n-day SMA of the typical
    price (H+L+C)/3, bands = middle ± mult * ATR(n) (Cutler-style SMA
    ATR — the EMA form belongs with the recursive family, see
    :func:`ema_macd`).

    Reuses the exact-DECIMAL rolling-mean discipline of :func:`atr`;
    TR's first-day fallback matches it. Rows are emitted once both
    the SMA and ATR windows are full — since TR consumes one lag row,
    that is n+1 days of history.

    Scale: one shuffle on symbol; all frames share the partition sort.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    hi, lo, cl = F.col(high_col), F.col(low_col), F.col(close_col)
    prev_close = F.lag(close_col).over(wlag)
    tr = F.when(prev_close.isNull(), hi - lo).otherwise(
        F.greatest(hi - lo, F.abs(hi - prev_close), F.abs(lo - prev_close))
    )
    tp = F.round((hi + lo + cl) / 3, 6)
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        cl.alias("close"),
        tp.alias("tp"),
        F.round(tr, 6).alias("tr"),
    )
    w = Window.partitionBy("symbol").orderBy("date").rowsBetween(-(n - 1), 0)
    wn = Window.partitionBy("symbol").orderBy("date")
    mid = _roll_avg(F.col("tp"), w)
    atr_n = _roll_avg(F.col("tr"), w)
    return (
        base.select(
            "symbol",
            "date",
            "close",
            F.round(mid, 6).alias("kc_mid"),
            F.round(mid + F.lit(mult) * atr_n, 6).alias("kc_upper"),
            F.round(mid - F.lit(mult) * atr_n, 6).alias("kc_lower"),
            F.row_number().over(wn).alias("rn"),
        )
        # the first row's TR uses the high-low fallback; require a full
        # window *after* the first true-range day: n+1 rows
        .where(F.col("rn") >= n + 1)
        .drop("rn")
    )


def gap_stats(
    daily: DataFrame,
    symbol_col: str = "symbol",
    date_col: str = "date",
    open_col: str = "daily_open",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Overnight-gap analysis: each session's open vs the previous
    close — gap percentage, direction, and whether the session filled
    the gap (traded back through the prior close: low <= prev_close
    for a gap-up, high >= prev_close for a gap-down).

    Pure lag + comparison arithmetic; one quantize of the gap pct.
    First day per symbol (no previous close) is dropped; a zero prior
    close yields NULL gap_pct with direction still defined by the
    price difference.

    Scale: one shuffle on symbol, O(1) lag state.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    prev_close = F.lag(close_col).over(wlag)
    diff = F.round(F.col(open_col) - prev_close, 6)
    gap_pct = F.round(
        F.when(prev_close != 0, F.lit(100.0) * (F.col(open_col) - prev_close) / prev_close),
        6,
    )
    direction = (
        F.when(diff > 0, F.lit(1)).when(diff < 0, F.lit(-1)).otherwise(F.lit(0))
    )
    filled = F.when(
        diff > 0, (F.col(low_col) <= prev_close).cast("int")
    ).when(
        diff < 0, (F.col(high_col) >= prev_close).cast("int")
    ).otherwise(F.lit(1))
    return daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        prev_close.alias("prev_close"),
        F.col(open_col).alias("open"),
        F.col(close_col).alias("close"),
        gap_pct.alias("gap_pct"),
        direction.alias("gap_dir"),
        filled.alias("gap_filled"),
    ).where(F.col("prev_close").isNotNull())


def aroon(
    daily: DataFrame,
    n: int = 25,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
) -> DataFrame:
    """Aroon up/down: 100 * (n - days_since_extreme) / n over an
    (n+1)-row channel (the conventional lookback counts n periods
    back plus today).

    days-since-high is recovered *declaratively* as an argmax: the
    window max of struct(high, rn) — lexicographic struct comparison
    makes ties resolve to the most recent bar (larger rn), the
    standard Aroon convention — so there is no two-pass dependence
    and no self-join. Both engines compare structs field-by-field.

    Scale: one shuffle on symbol, streaming window frames; the struct
    max carries O(1) state.
    """
    w = Window.partitionBy(symbol_col).orderBy(date_col).rowsBetween(-n, 0)
    wn = Window.partitionBy(symbol_col).orderBy(date_col)
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(high_col).alias("high"),
        F.col(low_col).alias("low"),
        F.row_number().over(wn).alias("rn"),
    )
    w2 = Window.partitionBy("symbol").orderBy("rn").rowsBetween(-n, 0)
    hi_rn = F.max(F.struct(F.col("high").alias("v"), F.col("rn").alias("rn"))).over(w2)["rn"]
    # argmin low: negate the value so struct-max picks the smallest
    # low (most recent on ties), keeping one aggregate shape
    lo_rn = F.max(F.struct((-F.col("low")).alias("v"), F.col("rn").alias("rn"))).over(w2)["rn"]
    up = F.round(F.lit(100.0) * (F.lit(n) - (F.col("rn") - hi_rn)) / F.lit(n), 6)
    down = F.round(F.lit(100.0) * (F.lit(n) - (F.col("rn") - lo_rn)) / F.lit(n), 6)
    return (
        base.select(
            "symbol",
            "date",
            "high",
            "low",
            up.alias("aroon_up"),
            down.alias("aroon_down"),
            F.round(up - down, 6).alias("aroon_osc"),
            "rn",
        )
        .where(F.col("rn") >= n + 1)
        .drop("rn")
    )


def cci(
    daily: DataFrame,
    n: int = 20,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Commodity Channel Index: (tp - SMA(tp, n)) / (0.015 * MD) where
    MD is the mean absolute deviation of the window's typical prices
    from *that window's* SMA.

    MD is genuinely two-pass — each member's deviation depends on the
    window-end SMA, so no single window frame expresses it. Rather
    than an O(rows * n) range self-join, each row fans out to the n
    window-ends it belongs to (explode of a literal 0..n-1 sequence —
    the same epoch-bucket fan-out the dual-window metrics use), the
    SMA joins on (symbol, window_end rn), and one groupBy folds the
    deviations. The window-end row itself rides along as offset 0, so
    tp/date/close come back via a conditional max — no second join.

    Exactness: tp and deviations are quantized before DECIMAL sums;
    the 0.015 scale is a literal shared with the oracle. CCI is NULL
    on a zero-deviation (flat) window.

    Scale: the fan-out is n rows per input row *pre-aggregated
    map-side* by the (symbol, rn) groupBy — cost n * rows shuffled
    once, state O(1) per group; the SMA join is on the same key, one
    co-partitioned exchange. At 100 TB you'd bound n, not the data.
    """
    wn = Window.partitionBy(symbol_col).orderBy(date_col)
    w = Window.partitionBy(symbol_col).orderBy(date_col).rowsBetween(-(n - 1), 0)
    tp = F.round(
        (F.col(high_col) + F.col(low_col) + F.col(close_col)) / 3, 6
    )
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        tp.alias("tp"),
        F.row_number().over(wn).alias("rn"),
        F.round(_roll_avg(tp, w), 6).alias("sma_tp"),
        F.count(F.lit(1)).over(w).alias("n_in_w"),
    )
    sma = base.where(F.col("n_in_w") >= n).select(
        "symbol", F.col("rn").alias("wend"), "sma_tp"
    )
    fan = base.select(
        "symbol",
        "date",
        "close",
        "tp",
        "rn",
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("off"),
    ).withColumn("wend", F.col("rn") + F.col("off"))
    joined = fan.join(sma, ["symbol", "wend"])
    dev = F.round(F.abs(F.col("tp") - F.col("sma_tp")), 6)
    agg = joined.groupBy("symbol", "wend").agg(
        F.max(F.when(F.col("off") == 0, F.col("date"))).alias("date"),
        F.max(F.when(F.col("off") == 0, F.col("close"))).alias("close"),
        F.max(F.when(F.col("off") == 0, F.col("tp"))).alias("tp"),
        F.max(F.when(F.col("off") == 0, F.col("sma_tp"))).alias("sma_tp"),
        F.count(F.lit(1)).alias("n_members"),
        (
            F.sum(dev.cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_dev"),
    )
    # interior windows only: exactly n members (edges near the series
    # end would fan out past the last sma row and were dropped by the
    # inner join; edges near the start never had a full sma)
    md = F.round(F.col("mean_dev"), 6)
    return agg.where(F.col("n_members") == n).select(
        "symbol",
        "date",
        "close",
        "tp",
        "sma_tp",
        md.alias("mean_dev"),
        F.round(
            F.when(
                md != 0,
                (F.col("tp") - F.col("sma_tp")) / (F.lit(0.015) * md),
            ),
            6,
        ).alias("cci"),
    )


def ichimoku(
    daily: DataFrame,
    tenkan_n: int = 9,
    kijun_n: int = 26,
    senkou_b_n: int = 52,
    shift: int = 26,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Ichimoku cloud components: tenkan/kijun midlines of rolling
    high-low channels, senkou spans A/B displaced ``shift`` bars
    forward (the value shown at t was computed at t−shift — a ``lag``
    of the midline columns), and the chikou lagging span (close
    displaced backward: ``lead``).

    Rolling extremes are exact; midline = (max+min)/2 is one IEEE op
    quantized once. Rows keep NULLs where a window/displacement isn't
    filled yet — the cloud is partially defined during warmup by
    construction, and masking NULLs would misrepresent it.

    Scale: one shuffle on symbol; the five frames share one partition
    sort.
    """

    def midline(n: int) -> F.Column:
        w = (
            Window.partitionBy(symbol_col)
            .orderBy(date_col)
            .rowsBetween(-(n - 1), 0)
        )
        wn = Window.partitionBy(symbol_col).orderBy(date_col)
        full = F.count(F.lit(1)).over(w) >= n
        return F.when(
            full, (F.max(high_col).over(w) + F.min(low_col).over(w)) / 2
        )

    tenkan = F.round(midline(tenkan_n), 6)
    kijun = F.round(midline(kijun_n), 6)
    senkou_a_now = F.round((midline(tenkan_n) + midline(kijun_n)) / 2, 6)
    senkou_b_now = F.round(midline(senkou_b_n), 6)
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        tenkan.alias("tenkan"),
        kijun.alias("kijun"),
        senkou_a_now.alias("__sa"),
        senkou_b_now.alias("__sb"),
    )
    w2 = Window.partitionBy("symbol").orderBy("date")
    return base.select(
        "symbol",
        "date",
        "close",
        "tenkan",
        "kijun",
        F.lag("__sa", shift).over(w2).alias("senkou_a"),
        F.lag("__sb", shift).over(w2).alias("senkou_b"),
        F.lead("close", shift).over(w2).alias("chikou"),
    )


def pivot_points(
    daily: DataFrame,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Classic floor-trader pivot levels for each session from the
    PREVIOUS session's high/low/close: P=(H+L+C)/3, R1=2P−L, S1=2P−H,
    R2=P+(H−L), S2=P−(H−L), R3=H+2(P−L), S3=L−2(H−P).

    Pure lag arithmetic; P is quantized once and every level derives
    from the quantized P with fixed operand order, so the whole
    ladder replays bit-identically. First session per symbol (no
    prior bar) is dropped.

    Scale: one shuffle on symbol, O(1) lag state.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    ph = F.lag(high_col).over(wlag)
    pl = F.lag(low_col).over(wlag)
    pc = F.lag(close_col).over(wlag)
    p = F.round((ph + pl + pc) / 3, 6)
    return (
        daily.select(
            F.col(symbol_col).alias("symbol"),
            F.col(date_col).alias("date"),
            ph.alias("prev_high"),
            pl.alias("prev_low"),
            pc.alias("prev_close"),
            p.alias("pivot"),
            F.round(2 * p - pl, 6).alias("r1"),
            F.round(2 * p - ph, 6).alias("s1"),
            F.round(p + (ph - pl), 6).alias("r2"),
            F.round(p - (ph - pl), 6).alias("s2"),
            F.round(ph + 2 * (p - pl), 6).alias("r3"),
            F.round(pl - 2 * (ph - p), 6).alias("s3"),
        )
        .where(F.col("prev_close").isNotNull())
    )


def kaufman_er(
    daily: DataFrame,
    n: int = 10,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Kaufman Efficiency Ratio: |net n-day change| over the sum of
    absolute daily changes in the window — 1 for a perfectly trending
    series, →0 for pure chop (the adaptivity input of KAMA).

    Daily absolute changes are quantized then DECIMAL-summed (order-
    independent); the net change reuses the same quantized deltas'
    window sum — NOT close_t − close_{t−n} — so numerator ≤
    denominator holds EXACTLY on the quantized lattice and the ratio
    is genuinely in [0,1]. NULL on a zero-volatility window.

    Scale: one shuffle on symbol, streaming frames.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    d = F.round(F.col(close_col) - F.lag(close_col).over(wlag), 6)
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        d.alias("d"),
    ).where(F.col("d").isNotNull())
    w = Window.partitionBy("symbol").orderBy("date").rowsBetween(-(n - 1), 0)
    wn = Window.partitionBy("symbol").orderBy("date")
    net = F.sum(F.col("d").cast("decimal(18,6)")).over(w).cast("double")
    vol = F.sum(F.abs(F.col("d")).cast("decimal(18,6)")).over(w).cast("double")
    return (
        base.select(
            "symbol",
            "date",
            "close",
            F.round(net, 6).alias("net_change"),
            F.round(vol, 6).alias("path_length"),
            F.round(F.when(vol != 0, F.abs(net) / vol), 6).alias("er"),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") >= n)
        .drop("rn")
    )


def vortex(
    daily: DataFrame,
    n: int = 14,
    symbol_col: str = "symbol",
    date_col: str = "date",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    close_col: str = "daily_close",
) -> DataFrame:
    """Vortex indicator: VI+ = Σ|high_t − low_{t−1}| / ΣTR and
    VI− = Σ|low_t − high_{t−1}| / ΣTR over an n-day window (TR as in
    :func:`atr`).

    All three movement series are quantized then DECIMAL-summed; two
    closing divisions. First day per symbol (no prior bar) is
    excluded from the sums; rows before the window fills are dropped.
    NULL on a zero-TR window.

    Scale: one shuffle on symbol, streaming frames.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    hi, lo = F.col(high_col), F.col(low_col)
    pc = F.lag(close_col).over(wlag)
    ph = F.lag(high_col).over(wlag)
    pl = F.lag(low_col).over(wlag)
    tr = F.greatest(hi - lo, F.abs(hi - pc), F.abs(lo - pc))
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        F.round(F.abs(hi - pl), 6).alias("vm_plus"),
        F.round(F.abs(lo - ph), 6).alias("vm_minus"),
        F.round(tr, 6).alias("tr"),
    ).where(F.col("tr").isNotNull())
    w = Window.partitionBy("symbol").orderBy("date").rowsBetween(-(n - 1), 0)
    wn = Window.partitionBy("symbol").orderBy("date")

    def s(c: str) -> F.Column:
        return F.sum(F.col(c).cast("decimal(18,6)")).over(w).cast("double")

    tr_sum = s("tr")
    return (
        base.select(
            "symbol",
            "date",
            "close",
            F.round(s("vm_plus"), 6).alias("vm_plus_sum"),
            F.round(s("vm_minus"), 6).alias("vm_minus_sum"),
            F.round(tr_sum, 6).alias("tr_sum"),
            F.round(F.when(tr_sum != 0, s("vm_plus") / tr_sum), 6).alias(
                "vi_plus"
            ),
            F.round(F.when(tr_sum != 0, s("vm_minus") / tr_sum), 6).alias(
                "vi_minus"
            ),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") >= n)
        .drop("rn")
    )


def kama(
    daily: DataFrame,
    n: int = 10,
    fast: int = 2,
    slow: int = 30,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Kaufman Adaptive Moving Average: an EMA whose smoothing
    constant adapts to the :func:`kaufman_er` efficiency ratio —
    sc_t = (er_t·(α_fast − α_slow) + α_slow)², kama_t = kama_{t−1} +
    sc_t·(close_t − kama_{t−1}) — fast in trends, near-frozen in
    chop.

    Like :func:`ema_macd` this is a data-dependent recursion no
    window frame expresses: the ER inputs are computed declaratively
    (windows, quantized to 6 decimals so the recursion consumes a
    portable lattice), then an ``applyInPandas`` scalar walk per
    symbol replays the literal update in fixed IEEE order — matched
    bit-for-bit by the DuckDB recursive-CTE oracle. Seeded with
    ``kama = close`` on each symbol's first ER-complete row. A
    zero-volatility window (er NULL) freezes the average (sc = 0 by
    convention: no information, no movement).

    Scale: one symbol shuffle for the ER windows; the walk is
    parallel across symbols with O(1) state (calendar-bounded series,
    same argument as ``ema_macd``).
    """
    import pandas as pd

    a_f = 2.0 / (fast + 1)
    a_s = 2.0 / (slow + 1)
    spread = a_f - a_s

    base = kaufman_er(
        daily, n=n, symbol_col=symbol_col, date_col=date_col,
        close_col=close_col,
    ).select("symbol", "date", "close", "er")
    schema_out = "symbol string, date date, close double, er double, kama double"

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date").reset_index(drop=True)
        k = None
        out = []
        for x, er in zip(pdf["close"], pdf["er"]):
            x = float(x)
            if k is None:
                k = x
            else:
                if er is None or pd.isna(er):
                    sc = 0.0
                else:
                    s = float(er) * spread + a_s
                    sc = s * s
                k = k + sc * (x - k)
            out.append(k)
        pdf["kama"] = pd.Series(out, dtype="float64")
        return pdf

    walked = base.groupBy("symbol").applyInPandas(walk, schema=schema_out)
    return walked.select(
        "symbol",
        "date",
        "close",
        "er",
        F.round("kama", 6).alias("kama"),
    )


def vpin(
    ticks: DataFrame,
    bucket_ticks: int = 50,
    n_buckets: int = 10,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "price",
    id_col: str = "id",
) -> DataFrame:
    """VPIN — Volume-synchronized Probability of INformed trading
    (Easley, López de Prado, O'Hara 2012), unit-volume form: ticks
    are tick-rule classified (same zero-tick carry and daily reset as
    :func:`tick_rule`), grouped into fixed-size volume buckets, and
    VPIN is the trailing-``n_buckets`` mean of each bucket's absolute
    order-flow imbalance |Σsign|/size. The flow-toxicity gauge read
    next to :func:`kyle_lambda`.

    Exactness: signs and bucket ordinals are pure integer window
    arithmetic over the total (ts, id) order; each imbalance is one
    integer division quantized to 6; the trailing mean is an exact
    DECIMAL fold. Partial trailing windows are dropped.

    Shape: one symbol-key shuffle; the sign/bucket windows and the
    per-bucket groupBy share the partition sort, then the trailing
    window runs over the tiny bucket frame.
    """
    wday = Window.partitionBy(
        symbol_col, F.to_date(F.col(ts_col))
    ).orderBy(F.col(ts_col), F.col(id_col))
    prev = F.lag(price_col).over(wday)
    raw = (
        F.when(F.col(price_col) > prev, 1)
        .when(F.col(price_col) < prev, -1)
        .otherwise(F.lit(None).cast("int"))
    )
    wcarry = wday.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sign = F.coalesce(F.last(raw, ignorenulls=True).over(wcarry), F.lit(0))
    wsym = Window.partitionBy(symbol_col).orderBy(F.col(ts_col), F.col(id_col))
    base = ticks.select(
        F.col(symbol_col).alias("symbol"),
        sign.alias("sign"),
        ((F.row_number().over(wsym) - 1) / bucket_ticks)
        .cast("long")
        .alias("bucket"),
    )
    per_bucket = base.groupBy("symbol", "bucket").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.abs(F.sum("sign")).alias("abs_imbalance"),
    )
    imb = F.round(
        F.col("abs_imbalance").cast("double") / F.col("n_ticks"), 6
    )
    wroll = (
        Window.partitionBy("symbol")
        .orderBy("bucket")
        .rowsBetween(-(n_buckets - 1), 0)
    )
    wn = Window.partitionBy("symbol").orderBy("bucket")
    return (
        per_bucket.select(
            "symbol",
            "bucket",
            "n_ticks",
            imb.alias("imbalance"),
        )
        .select(
            "symbol",
            "bucket",
            "n_ticks",
            "imbalance",
            F.round(
                F.sum(F.col("imbalance").cast("decimal(18,6)"))
                .over(wroll)
                .cast("double")
                / F.count(F.lit(1)).over(wroll),
                6,
            ).alias("vpin"),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") >= n_buckets)
        .drop("rn")
    )


def holt_linear(
    daily: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.1,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Holt double exponential smoothing (level + trend): the
    one-step-ahead forecaster for trending series that plain EMA
    under-tracks. Recursions (fixed IEEE order, matching the
    recursive-CTE oracle term for term):

        level_t = α·x_t + (1−α)·(level_{t−1} + trend_{t−1})
        trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}
        forecast_{t+1|t} = level_t + trend_t

    Seeded at each symbol's second row with level = x₂,
    trend = x₂ − x₁ (the standard two-point seed; row 1 is consumed
    by the seed and not emitted). Same ``applyInPandas`` walk shape
    as :func:`ema_macd`: parallel across symbols, O(1) state.
    """
    import pandas as pd

    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
    )
    schema_out = (
        "symbol string, date date, close double, "
        "level double, trend double, forecast double"
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date").reset_index(drop=True)
        lvl = tr = None
        prev_x = None
        keep, levels, trends, fcs = [], [], [], []
        for x in pdf["close"]:
            x = float(x)
            if lvl is None:
                if prev_x is None:
                    prev_x = x
                    keep.append(False)
                    levels.append(None)
                    trends.append(None)
                    fcs.append(None)
                    continue
                lvl = x
                tr = x - prev_x
            else:
                prev_lvl = lvl
                lvl = alpha * x + (1 - alpha) * (lvl + tr)
                tr = beta * (lvl - prev_lvl) + (1 - beta) * tr
            keep.append(True)
            levels.append(lvl)
            trends.append(tr)
            fcs.append(lvl + tr)
        pdf["level"] = pd.Series(levels, dtype="float64")
        pdf["trend"] = pd.Series(trends, dtype="float64")
        pdf["forecast"] = pd.Series(fcs, dtype="float64")
        return pdf[pd.Series(keep)]

    walked = base.groupBy("symbol").applyInPandas(walk, schema=schema_out)
    return walked.select(
        "symbol",
        "date",
        "close",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast", 6).alias("forecast"),
    )


def feature_matrix(
    daily: DataFrame,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
    high_col: str = "daily_high",
    low_col: str = "daily_low",
    volume_col: str = "daily_volume",
    n: int = 5,
) -> DataFrame:
    """Leakage-free supervised training matrix: per (symbol, day),
    backward-looking features — 1-day return, close/SMA_n ratio,
    position in the n-day high/low channel, n-day return volatility,
    volume vs its n-day mean — and the NEXT day's return as the
    label. Features at t read only ≤ t; the label reads exactly t+1
    (one ``lead``) — the point-in-time discipline that keeps a
    backtest honest, made structural instead of hoped-for.

    All features reuse the package's exactness recipes (quantized
    returns, DECIMAL rolling sums, guarded divisions), so the matrix
    is bit-reproducible for dataset versioning. Rows survive only
    when every feature AND the label are defined (full windows, next
    day exists).

    Shape: one symbol shuffle; every window shares the partition
    sort; one map-side projection at the end.
    """
    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    w = Window.partitionBy(symbol_col).orderBy(date_col).rowsBetween(
        -(n - 1), 0
    )
    ret = F.round(
        F.when(
            F.lag(close_col).over(wlag) != 0,
            F.col(close_col) / F.lag(close_col).over(wlag) - 1,
        ),
        6,
    )
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        F.col(close_col).alias("close"),
        F.col(high_col).alias("high"),
        F.col(low_col).alias("low"),
        F.col(volume_col).cast("long").alias("volume"),
        ret.alias("ret_1d"),
    )
    w2 = Window.partitionBy("symbol").orderBy("date").rowsBetween(-(n - 1), 0)
    wl2 = Window.partitionBy("symbol").orderBy("date")
    sma = F.sum(F.col("close").cast("decimal(18,6)")).over(w2).cast(
        "double"
    ) / F.count(F.lit(1)).over(w2)
    hh = F.max("high").over(w2)
    ll = F.min("low").over(w2)
    vmean = F.sum("volume").over(w2).cast("double") / F.count(F.lit(1)).over(
        w2
    )
    vol = _roll_std(F.col("ret_1d"), w2)
    full = F.count("ret_1d").over(w2) >= n
    feats = base.select(
        "symbol",
        "date",
        "close",
        "ret_1d",
        F.round(F.when(sma != 0, F.col("close") / sma - 1), 6).alias(
            "sma_ratio"
        ),
        F.round(
            F.when(hh != ll, (F.col("close") - ll) / (hh - ll)), 6
        ).alias("channel_pos"),
        F.round(vol, 6).alias("ret_vol"),
        F.round(F.when(vmean != 0, F.col("volume") / vmean), 6).alias(
            "volume_ratio"
        ),
        F.lead("ret_1d").over(wl2).alias("label_next_ret"),
        full.alias("__full"),
    )
    return feats.where(
        F.col("__full")
        & F.col("ret_1d").isNotNull()
        & F.col("label_next_ret").isNotNull()
    ).drop("__full")


def forecast_eval(
    daily: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.1,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Forecast-skill report: per symbol, the mean absolute one-step
    error of the :func:`holt_linear` forecast vs the NAIVE forecast
    (tomorrow = today), and the resulting skill score
    ``1 − MAE_holt/MAE_naive`` (positive = the model beats
    persistence — the honest baseline every forecast must clear;
    cf. MASE, Hyndman & Koehler 2006).

    Both error series are quantized then DECIMAL-summed; evaluation
    rows are exactly those with a realized next close. One symbol
    shuffle end-to-end on top of the Holt walk.
    """
    h = holt_linear(
        daily,
        alpha=alpha,
        beta=beta,
        symbol_col=symbol_col,
        date_col=date_col,
        close_col=close_col,
    )
    wl = Window.partitionBy("symbol").orderBy("date")
    nxt = F.lead("close").over(wl)
    errs = h.select(
        "symbol",
        F.round(F.abs(nxt - F.col("forecast")), 6).alias("e_holt"),
        F.round(F.abs(nxt - F.col("close")), 6).alias("e_naive"),
    ).where(F.col("e_naive").isNotNull())

    def dmean(c: str) -> F.Column:
        return F.sum(F.col(c).cast("decimal(18,6)")).cast(
            "double"
        ) / F.count(F.lit(1))

    agg = errs.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_evals"),
        F.round(dmean("e_holt"), 6).alias("mae_holt"),
        F.round(dmean("e_naive"), 6).alias("mae_naive"),
    )
    return agg.select(
        "symbol",
        "n_evals",
        "mae_holt",
        "mae_naive",
        F.round(
            F.when(
                F.col("mae_naive") != 0,
                1 - F.col("mae_holt") / F.col("mae_naive"),
            ),
            6,
        ).alias("skill"),
    )


def ljung_box(
    daily: DataFrame,
    h: int = 5,
    symbol_col: str = "symbol",
    date_col: str = "date",
    close_col: str = "daily_close",
) -> DataFrame:
    """Ljung–Box portmanteau test per symbol: autocorrelations of
    daily returns at lags 1..h around the series mean, and
    Q = n(n+2)·Σ ρ_k²/(n−k) — the are-returns-white-noise audit read
    before trusting any autocorrelation-based signal (large Q ⇒
    dependence; χ²_h tail for significance).

    Exactness: returns are quantized; the series mean uses the exact
    DECIMAL sum; deviations and their lagged products are quantized
    with the IEEE floor quantizer at 12 digits before DECIMAL(28,12)
    sums — every ρ_k is partition-order-exact and Q is one fixed-
    order expression over them. Symbols with fewer than h+2 returns
    or zero variance yield NULL Q.

    Shape: one symbol shuffle; the mean window, h lag windows, and
    the final fold share the partition sort.
    """

    def q12(col: F.Column) -> F.Column:
        return F.floor(col * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)

    wlag = Window.partitionBy(symbol_col).orderBy(date_col)
    wall = Window.partitionBy(symbol_col)
    ret = F.round(
        F.when(
            F.lag(close_col).over(wlag) != 0,
            F.col(close_col) / F.lag(close_col).over(wlag) - 1,
        ),
        6,
    )
    base = daily.select(
        F.col(symbol_col).alias("symbol"),
        F.col(date_col).alias("date"),
        ret.alias("r"),
    ).where(F.col("r").isNotNull())
    wl2 = Window.partitionBy("symbol").orderBy("date")
    wa2 = Window.partitionBy("symbol")
    rbar = q12(
        F.sum(F.col("r").cast("decimal(18,6)")).over(wa2).cast("double")
        / F.count(F.lit(1)).over(wa2)
    )
    dev = base.select(
        "symbol", "date", q12(F.col("r") - rbar).alias("d")
    )
    lags = dev.select(
        "symbol",
        "d",
        *[F.lag("d", k).over(wl2).alias(f"d{k}") for k in range(1, h + 1)],
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(q12(F.col("d") * F.col("d")).cast("decimal(28,12)"))
        .cast("double")
        .alias("den"),
    ]
    for k in range(1, h + 1):
        aggs.append(
            F.sum(
                q12(F.col("d") * F.col(f"d{k}")).cast("decimal(28,12)")
            )
            .cast("double")
            .alias(f"num{k}")
        )
    agg = lags.groupBy("symbol").agg(*aggs)
    rhos = [
        F.when(F.col("den") != 0, F.col(f"num{k}") / F.col("den"))
        for k in range(1, h + 1)
    ]
    qsum = None
    for k, rho in enumerate(rhos, start=1):
        term = rho * rho / (F.col("n") - k)
        qsum = term if qsum is None else qsum + term
    n = F.col("n").cast("double")
    lb = n * (n + 2) * qsum
    return agg.select(
        "symbol",
        "n",
        *[F.round(rho, 6).alias(f"rho_{k}") for k, rho in enumerate(rhos, 1)],
        F.round(F.when(F.col("n") > h + 1, lb), 6).alias("lb_q"),
    )
