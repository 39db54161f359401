"""User-behavior analytics over event streams: funnels, cohort
retention, attribution, and distribution ranks.

The reference pipeline stops at per-symbol price metrics; these are
the event-table analytics any production deployment of such a pipeline
grows next (the events table carries user_id/event_type exactly for
this). All operators are single-pass window/groupBy compositions:

- per-user state is computed with windows partitioned by ``user_id``
  (one shuffle keyed on a high-cardinality column — skew-safe), then
  collapsed with DISTINCT/agg;
- no self-joins, no collects; output cardinality is bounded by
  users × stages (funnel), cohorts × horizon (retention), or event
  types (attribution) — tiny relative to input at any scale.

Counts are integers and ratios are single IEEE divisions, so every
operator has a bit-exact DuckDB oracle (the `driver_queries` package).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark.session import materialize


def funnel_conversion(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_gap_us: int | None = None,
) -> DataFrame:
    """Ordered-funnel conversion: a user reaches stage *k* only via an
    event at or after their stage *k−1* arrival time (the standard
    strictly-sequenced funnel, computed without a per-stage self-join).
    With ``max_gap_us`` set, each step must additionally land within
    that many microseconds of the previous step's arrival — the
    time-bounded funnel ("purchased within an hour of clicking"),
    same plan shape, one extra map-side comparison per stage. The
    window is measured from the previous stage's FIRST arrival
    (first-touch semantics, the common product-analytics contract); a
    later re-occurrence of the previous stage does not re-open the
    window.

    Implementation: one window pass per stage over the same
    ``user_id`` partitioning (Spark reuses the single exchange; each
    pass adds a ``min(CASE WHEN …)`` arrival time), then one DISTINCT
    collapse to a per-user row and a global aggregate. Returns a
    single row: per-stage reached-user counts plus step conversion
    ratios.
    """
    if len(stages) < 2:
        raise ValueError("funnel needs at least two stages")
    w = Window.partitionBy(user_col)
    cur = events.select(user_col, type_col, ts_col)
    prev_t: F.Column | None = None
    t_cols: list[str] = []
    for i, stage in enumerate(stages):
        cond = F.col(type_col) == stage
        if prev_t is not None:
            cond = cond & (F.col(ts_col) >= prev_t)
            if max_gap_us is not None:
                cond = cond & (
                    F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_t)
                    <= F.lit(max_gap_us)
                )
        t_name = f"t{i + 1}"
        cur = cur.withColumn(t_name, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev_t = F.col(t_name)
        t_cols.append(t_name)
    per_user = cur.select(user_col, *t_cols).distinct()
    aggs = [F.count(t).alias(f"n_{stage}_users") for t, stage in zip(t_cols, stages)]
    for i in range(1, len(stages)):
        prev_n = F.count(t_cols[i - 1])
        cur_n = F.count(t_cols[i])
        aggs.append(
            F.round(
                F.when(prev_n > 0, cur_n.cast("double") / prev_n), 6
            ).alias(f"rate_{stages[i - 1]}_to_{stages[i]}")
        )
    return per_user.agg(*aggs)


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Classic cohort-retention triangle: users grouped by first-seen
    day, counted on each later active day offset. One window pass for
    the cohort day, a DISTINCT to (user, offset), one aggregate."""
    w = Window.partitionBy(user_col)
    day = F.to_date(ts_col)
    enriched = events.select(
        F.col(user_col).alias("user_id"),
        day.alias("day"),
        F.min(day).over(w).alias("cohort_day"),
    )
    per = enriched.select(
        "user_id", "cohort_day", F.datediff("day", "cohort_day").alias("day_offset")
    ).distinct()
    return per.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def first_touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-touch attribution: credit each user's conversion to their
    very first event type. ``row_number`` (ordered, id tiebreak) and
    the converted flag share one ``user_id`` exchange; the rn=1 filter
    plans as WindowGroupLimit, so only one row per user survives the
    window."""
    wo = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(id_col))
    wu = Window.partitionBy(user_col)
    flagged = events.select(
        F.col(type_col).alias("first_touch"),
        F.row_number().over(wo).alias("rn"),
        F.max(
            F.when(F.col(type_col) == conversion_type, F.lit(1)).otherwise(F.lit(0))
        )
        .over(wu)
        .alias("converted"),
    ).where(F.col("rn") == 1)
    n = F.count(F.lit(1))
    conv = F.sum("converted")
    return flagged.groupBy("first_touch").agg(
        n.alias("n_users"),
        conv.alias("n_converted"),
        F.round(conv.cast("double") / n, 6).alias("conversion_rate"),
    )


def rank_stats(
    df: DataFrame,
    part_col: str,
    value_col: str,
    tiebreak_col: str,
    n_tiles: int = 4,
) -> DataFrame:
    """Distribution ranks within each partition: ``percent_rank``,
    ``cume_dist``, and ``ntile`` buckets over a total ordering
    (value, tiebreak). Pure rank arithmetic — integer ratios with one
    double division each — so it is engine-exact by construction."""
    w = Window.partitionBy(part_col).orderBy(F.col(value_col), F.col(tiebreak_col))
    return df.select(
        F.col(part_col),
        F.col(tiebreak_col),
        F.col(value_col),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
        F.ntile(n_tiles).over(w).alias("tile"),
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition statistics over per-user event
    sequences: for every ordered (from_event → to_event) pair of
    consecutive events of one user, the transition count and its
    probability given the source state.

    The sequence order is total ((ts, id) tie-break) so counts are
    engine-portable. The probability is one double division of two
    exact counts — deterministic IEEE.

    Scale: one shuffle on the user key for the ``lead`` window, then a
    partial-aggregated groupBy on (from, to) — the classic
    sessionless clickstream-model shape; no state beyond the window
    frame. The per-source totals ride along via a second window over
    the already-aggregated (tiny) transition matrix, not the raw
    events.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = events.select(
        F.col(type_col).alias("from_event"),
        F.lead(type_col).over(w).alias("to_event"),
    ).where(F.col("to_event").isNotNull())
    counts = pairs.groupBy("from_event", "to_event").agg(
        F.count(F.lit(1)).alias("n")
    )
    wsrc = Window.partitionBy("from_event")
    return counts.select(
        "from_event",
        "to_event",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wsrc)).alias("p"),
    )


def rfm_scores(
    events: DataFrame,
    n_tiles: int = 4,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation: per-user
    metrics plus ``n_tiles`` quantile scores and the concatenated
    segment label. Recency is days from the user's last event to the
    corpus's last event; monetary is the exact DECIMAL value sum.

    Tile assignment uses ``ntile`` with a full deterministic order
    (metric, then user id), so the buckets are reproducible and
    oracle-replayable. Best gets the highest score on every axis:
    low recency / high frequency / high monetary → score ``n_tiles``.

    Scale: one groupBy shuffle over the fact table (map-side partial),
    then windows over the per-user aggregate — millions of rows, not
    events. At 100 TB-scale user counts, swap the global ``ntile``
    sort for precomputed ``percentile_approx`` cut points; the exact
    form is kept here for bit-identical tiling.
    """
    per_user = events.groupBy(F.col(user_col).alias("user_id")).agg(
        F.max(ts_col).alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col(value_col).cast("decimal(18,6)"))
        .cast("double")
        .alias("monetary"),
    )
    wall = Window.partitionBy()
    recency = F.datediff(F.max("last_ts").over(wall), F.col("last_ts"))
    base = per_user.select(
        "user_id",
        recency.alias("recency_days"),
        "frequency",
        F.round("monetary", 6).alias("monetary"),
    )
    w_r = Window.orderBy(F.col("recency_days").desc(), F.col("user_id"))
    w_f = Window.orderBy(F.col("frequency"), F.col("user_id"))
    w_m = Window.orderBy(F.col("monetary"), F.col("user_id"))
    scored = base.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(n_tiles).over(w_r).alias("r_score"),
        F.ntile(n_tiles).over(w_f).alias("f_score"),
        F.ntile(n_tiles).over(w_m).alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws(
            "-",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


def event_lift(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Market-basket association stats between event types over user
    baskets: for each unordered type pair, co-occurrence support,
    both directional confidences, and lift
    (P(ab)/(P(a)P(b))) — the cross-sell / feature-affinity primitive.

    All probabilities are ratios of exact distinct-user counts; the
    numerator products are integer (long·long), so every emitted
    double is one fixed-order division — engine-exact.

    Scale: one distinct shuffle of (user, type); the pair self-join is
    keyed on user (cost Σ basket², baskets bounded by the type
    universe); the type-count and total-user frames are broadcast.
    """
    # One distinct pass, materialized once: three consumers (counts,
    # pair join, total) would otherwise re-scan the fact table.
    pres = materialize(
        events.select(
            F.col(user_col).alias("u"), F.col(type_col).alias("t")
        ).distinct()
    )
    counts = pres.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    # the universe size is a single scalar parameter — materialized on
    # the driver (same pattern as the similarity query vector) because
    # a 1-row join, however written, constant-folds into a
    # BroadcastNestedLoopJoin that the no-nested-loop plan gate bans
    n_users = pres.select("u").distinct().count()
    a = pres.select(F.col("u"), F.col("t").alias("type_a"))
    b = pres.select(F.col("u"), F.col("t").alias("type_b"))
    pairs = (
        a.join(b, "u")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ca = counts.select(F.col("t").alias("type_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("t").alias("type_b"), F.col("n").alias("n_b"))
    out = (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .withColumn("n_users", F.lit(n_users))
    )
    return out.select(
        "type_a",
        "type_b",
        "n_ab",
        "n_a",
        "n_b",
        "n_users",
        F.round(F.col("n_ab").cast("double") / F.col("n_users"), 6).alias(
            "support"
        ),
        F.round(F.col("n_ab").cast("double") / F.col("n_a"), 6).alias(
            "conf_a_to_b"
        ),
        F.round(F.col("n_ab").cast("double") / F.col("n_b"), 6).alias(
            "conf_b_to_a"
        ),
        F.round(
            (F.col("n_ab") * F.col("n_users")).cast("double")
            / (F.col("n_a") * F.col("n_b")),
            6,
        ).alias("lift"),
    )


def session_paths(
    events: DataFrame,
    n: int = 3,
    top_k: int = 20,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Top-k most common event-type trigrams within user sessions —
    the navigation-path mining behind funnel discovery. Sessions are
    the same gap rule as :func:`~...temporal.sessionize`; paths are
    built with ``lead`` windows (never a collected list), rendered
    ``a>b>c``.

    Scale: one shuffle on user (session flags, leads and ids share
    the per-user sort), a map-side-combined path count, and a
    WindowGroupLimit top-k — mappers ship at most ``top_k`` rows.
    ``n`` is fixed at 3 (two leads); the signature keeps it explicit.
    """
    if n != 3:
        raise ValueError("session_paths is the trigram miner; n must be 3")
    wu = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap_us = F.unix_micros(F.col(ts_col)) - F.lag(
        F.unix_micros(F.col(ts_col))
    ).over(wu)
    new_sess = F.when(
        gap_us.isNull() | (gap_us > gap_seconds * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    wrun = wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = events.select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("t"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("id"),
        F.sum(new_sess).over(wrun).alias("sid"),
    )
    ws = Window.partitionBy("u", "sid").orderBy("ts", "id")
    tri = sess.select(
        "u",
        "sid",
        F.concat_ws(
            ">", F.col("t"), F.lead("t", 1).over(ws), F.lead("t", 2).over(ws)
        ).alias("path"),
        F.lead("t", 2).over(ws).alias("_t3"),
    ).where(F.col("_t3").isNotNull())
    counted = tri.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct(F.col("u"), F.col("sid")).alias("n_sessions"),
    )
    wr = Window.orderBy(F.col("n_occurrences").desc(), F.col("path"))
    return (
        counted.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= top_k)
    )


def conversion_latency(
    events: DataFrame,
    from_event: str,
    to_event: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-to-convert distribution: for every user whose first
    ``from_event`` is later followed by a ``to_event``, the latency
    between the two — summarized as count, exact mean, and
    discrete-rank median / p90 (the rank-selection convention of
    ``metrics.mad_anomalies``: no interpolation, engine- and
    partition-exact).

    One window pass per endpoint over the shared ``user_col``
    partitioning (min-CASE arrival times, no self-join), a DISTINCT
    collapse to per-user latencies, then a global rank window over the
    |converters| frame. Latency is integer micros → one division to
    seconds, quantized to 6 before the decimal mean.
    """
    w = Window.partitionBy(user_col)
    t_from = F.min(
        F.when(F.col(type_col) == from_event, F.col(ts_col))
    ).over(w)
    base = events.select(user_col, type_col, ts_col).withColumn("t_from", t_from)
    t_to = F.min(
        F.when(
            (F.col(type_col) == to_event) & (F.col(ts_col) >= F.col("t_from")),
            F.col(ts_col),
        )
    ).over(w)
    per_user = (
        base.withColumn("t_to", t_to)
        .select(user_col, "t_from", "t_to")
        .where(F.col("t_from").isNotNull() & F.col("t_to").isNotNull())
        .distinct()
        .select(
            F.col(user_col),
            F.round(
                (F.unix_micros("t_to") - F.unix_micros("t_from"))
                / F.lit(1_000_000.0),
                6,
            ).alias("lat_s"),
        )
    )
    wo = Window.orderBy("lat_s", user_col)
    wg = Window.partitionBy()
    ranked = per_user.select(
        "lat_s",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wg).alias("n"),
    )
    k_med = F.floor((F.col("n") + 1) / 2)
    k_p90 = F.floor((F.col("n") * 9 + 9) / 10)
    return ranked.groupBy().agg(
        F.max("n").alias("n_converted"),
        F.round(
            F.sum(F.col("lat_s").cast("decimal(18,6)")).cast("double")
            / F.max("n"),
            6,
        ).alias("mean_latency_s"),
        F.max(F.when(F.col("rn") == k_med, F.col("lat_s"))).alias(
            "median_latency_s"
        ),
        F.max(F.when(F.col("rn") == k_p90, F.col("lat_s"))).alias(
            "p90_latency_s"
        ),
    )


def transition_edges_sql(
    table: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    """SQL for the weighted first-order transition edge list
    (src, dst, w) over per-user event sequences — the aggregation
    half of :func:`event_pagerank`, shared verbatim with the DuckDB
    oracle. One user-key shuffle (lead window), then a (src,dst)
    groupBy with map-side combine."""
    return f"""SELECT src, dst, count(*) AS w FROM (
  SELECT {type_col} AS src,
         lead({type_col}) OVER (PARTITION BY {user_col}
                                ORDER BY {ts_col}, {id_col}) AS dst
  FROM {table}
) t WHERE dst IS NOT NULL GROUP BY src, dst"""


def pagerank_sql(
    edges_sql: str,
    damping: float = 0.85,
    n_iter: int = 5,
) -> str:
    """ANSI-SQL PageRank over a weighted edge list (any engine runs
    it verbatim): ``edges_sql`` must yield (src, dst, w). The
    ``n_iter`` power-method rounds are UNROLLED into chained CTEs —
    the same declarative-iteration design as
    ``similarity.pca_power_iteration``.

    Math: r_{t+1}(v) = (1-d)/N + d·(Σ_{u→v} p(u,v)·r_t(u) + D_t/N)
    where p is the row-normalized transition probability and D_t the
    rank mass on dangling nodes (nodes with no out-edges). Every
    per-edge product is quantized with the bit-defined IEEE half-up
    quantizer ``floor(x·10^12 + 0.5)/10^12`` (NOT round() — see
    pca_power_iteration's docstring for the Double.toString trap) and
    summed in DECIMAL(28,12), so each round is partition-order-exact
    on every engine.

    Scale: each iteration joins the rank frame (O(nodes)) against the
    aggregated edge frame (O(edges)) — never the raw facts. On a
    billion-node graph the identical plan distributes (rank shuffles
    on dst, edges pre-partitioned on src); the dangling term stays a
    scalar subquery — one tiny independent stage, no nested-loop
    join. Feed a MATERIALIZED edge table (see :func:`event_pagerank`)
    — engines that inline CTEs would otherwise recompute the edge
    aggregation once per unrolled round. The emitted CTE carries an
    explicit ``AS MATERIALIZED`` hint for exactly that reason: DuckDB
    inlines multiply-referenced CTEs by default, and feeding the raw
    1M-row aggregation re-ran it per reference — ~100 GB transient
    memory at the x10 stress SF (found by the sf1.0 sweep); with the
    hint the same oracle runs in seconds. (Postgres/DuckDB syntax;
    this text is executed by the DuckDB oracle only.)
    """
    q = "floor(({x}) * 1e12 + 0.5) / 1e12"
    n_sql = "(SELECT n FROM nn)"
    parts = [
        f"""
edges_w AS MATERIALIZED ({edges_sql}),
nodes AS (
  SELECT node FROM (
    SELECT DISTINCT src AS node FROM edges_w
    UNION SELECT DISTINCT dst AS node FROM edges_w
  ) u GROUP BY node
),
nn AS (SELECT count(*) AS n FROM nodes),
edges AS (
  SELECT src, dst,
         CAST(w AS DOUBLE) / sum(w) OVER (PARTITION BY src) AS p
  FROM edges_w
),
dang AS (
  SELECT node FROM nodes
  WHERE node NOT IN (SELECT DISTINCT src FROM edges_w)
),
r0 AS (
  SELECT node, {q.format(x=f'1.0 / {n_sql}')} AS r FROM nodes
)"""
    ]
    for t in range(1, n_iter + 1):
        prev = f"r{t - 1}"
        contrib = q.format(x="prev.r * e.p")
        dmass = (
            f"(SELECT coalesce(CAST(sum(CAST(p.r AS DECIMAL(28,12)))"
            f" AS DOUBLE), 0.0) FROM {prev} p"
            f" JOIN dang dg ON p.node = dg.node)"
        )
        newr = q.format(
            x=(
                f"(1.0 - {damping!r}) / {n_sql} + {damping!r} * "
                f"(coalesce(c.contrib, 0.0) + {dmass} / {n_sql})"
            )
        )
        parts.append(
            f""",
r{t} AS (
  SELECT n.node, {newr} AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum(CAST({contrib} AS DECIMAL(28,12))) AS DOUBLE)
             AS contrib
    FROM {prev} prev JOIN edges e ON e.src = prev.node
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
        )
    return (
        "WITH "
        + "".join(parts)
        + f"\nSELECT node, r AS pagerank FROM r{n_iter}"
    )


def event_pagerank(
    events: DataFrame,
    damping: float = 0.85,
    n_iter: int = 5,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """PageRank over the first-order event-transition graph (nodes =
    event types, weights = transition counts per
    :func:`event_transitions`), numerically identical to the
    :func:`pagerank_sql` oracle text.

    Execution shape: the edge aggregation is the only pass over event
    volume; everything after runs on the aggregated graph. The power
    rounds are a DRIVER-PACED loop with a ``localCheckpoint`` per
    round — the same lineage-truncation pattern as
    ``dedup.neardup_clusters`` — because a fully-unrolled lineage
    references r_{t-1} twice (neighbor contribution + dangling mass),
    doubling the plan per round: 2^n_iter subtrees, measured 20 s for
    5 rounds at sf0.001 vs ~2 s paced. The loop is over ITERATIONS,
    never rows; the one driver scalar per round (dangling mass) is a
    single aggregated value, skipped entirely when the graph has no
    dangling nodes.

    Exactness: every per-edge product is quantized with the IEEE
    half-up quantizer ``floor(x·10^12 + 0.5)/10^12`` and summed in
    DECIMAL(28,12) — partition-order-exact, and bit-identical to the
    oracle's arithmetic (same op order, same IEEE semantics).

    Scale: per round, one (node)-key broadcast-or-shuffle join of the
    O(nodes) rank frame against the O(edges) edge frame and one
    dim-sized groupBy — the canonical distributed-PageRank shape. For
    a billion-node graph swap localCheckpoint for reliable
    checkpointing and let AQE pick the join side; nothing else
    changes.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = events.select(
        F.col(type_col).alias("src"),
        F.lead(type_col).over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    edges_w = materialize(
        pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
    )

    nodes = materialize(
        edges_w.select(F.col("src").alias("node"))
        .union(edges_w.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    wsrc = Window.partitionBy("src")
    p = (F.col("w").cast("double") / F.sum("w").over(wsrc)).alias("p")
    edges = materialize(edges_w.select("src", "dst", p))
    srcs = edges_w.select(F.col("src").alias("node")).distinct()
    dang = materialize(nodes.join(srcs, "node", "left_anti"))
    has_dangling = dang.count() > 0

    def q(col: F.Column) -> F.Column:
        return F.floor(col * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)

    r = materialize(
        nodes.select("node", q(F.lit(1.0) / F.lit(float(n))).alias("r"))
    )
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        contrib = (
            r.alias("prev")
            .join(edges.alias("e"), F.col("prev.node") == F.col("e.src"))
            .groupBy(F.col("e.dst").alias("node"))
            .agg(
                F.sum(
                    q(F.col("prev.r") * F.col("e.p")).cast("decimal(28,12)")
                )
                .cast("double")
                .alias("contrib")
            )
        )
        if has_dangling:
            dmass = (
                r.join(dang, "node")
                .agg(
                    F.coalesce(
                        F.sum(F.col("r").cast("decimal(28,12)")).cast(
                            "double"
                        ),
                        F.lit(0.0),
                    )
                )
                .first()[0]
            )
        else:
            dmass = 0.0
        r = materialize(
            nodes.join(contrib, "node", "left").select(
                "node",
                q(
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.lit(dmass / n)
                    )
                ).alias("r"),
            )
        )
    return r.select("node", F.col("r").alias("pagerank"))


def churn_by_period(
    events: DataFrame,
    period: str = "week",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-calendar-period user accounting: active, new (first period
    ever), retained (also active the previous period), churned (active
    THIS period but absent the next — churning OUT, reported on the
    period being left), and the resulting churn rate = churned /
    this period's actives.

    Shape: one distinct (user, period) aggregation — the only shuffle
    that touches event volume — then per-user lag/min windows over the
    tiny user-period frame and one final groupBy on period. "Previous
    period" is strict calendar adjacency (period_start - interval),
    not merely the previous active period, so a user who skips a week
    churns and later re-appears as a returning active (counted
    active, not new, not retained).

    Scale: user-period cardinality ≪ event cardinality; everything
    after the first aggregation is dimension-sized. The same plan at
    100 TB: distinct pushes map-side, the windows shuffle only
    user-period rows.
    """
    if period not in ("week", "month"):
        raise ValueError(f"unsupported period {period!r}")
    p = F.date_trunc(period, F.col(ts_col))
    up = events.select(
        F.col(user_col).alias("user_id"), p.alias("period_start")
    ).distinct()
    wu = Window.partitionBy("user_id").orderBy("period_start")
    if period == "week":
        prev_expr = F.col("period_start") - F.expr("INTERVAL 7 DAYS")
        next_expr = F.col("period_start") + F.expr("INTERVAL 7 DAYS")
    else:
        prev_expr = F.add_months(F.col("period_start"), -1)
        next_expr = F.add_months(F.col("period_start"), 1)
    flags = up.select(
        "user_id",
        "period_start",
        (F.lag("period_start").over(wu) == prev_expr).alias("was_prev"),
        (F.lead("period_start").over(wu) == next_expr).alias("active_next"),
        (F.min("period_start").over(wu) == F.col("period_start")).alias(
            "is_first"
        ),
    )
    per = flags.groupBy("period_start").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.col("is_first").cast("int")).alias("n_new"),
        F.sum(F.coalesce(F.col("was_prev"), F.lit(False)).cast("int")).alias(
            "n_retained"
        ),
        F.sum(
            (~F.coalesce(F.col("active_next"), F.lit(False))).cast("int")
        ).alias("n_churning_out"),
    )
    # churn rate of period t = users active in t that are NOT active in
    # t+1, over t's actives — reported on t so the last period (whose
    # future is unobserved) is dropped
    wp = Window.orderBy("period_start")
    out = per.select(
        "period_start",
        "n_active",
        "n_new",
        "n_retained",
        "n_churning_out",
        F.round(
            F.col("n_churning_out").cast("double") / F.col("n_active"), 6
        ).alias("churn_rate"),
        F.lead("period_start").over(wp).alias("__next"),
    )
    return out.where(F.col("__next").isNotNull()).drop("__next")


def session_funnel(
    events: DataFrame,
    stages: list[str],
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Session-scoped ordered funnel: the strict-sequence funnel of
    :func:`funnel_conversion`, but each (user, gap-session) is an
    independent funnel attempt — "did the user view → click →
    purchase *within one visit*", the session-grain conversion metric
    product analytics dashboards report.

    Sessions are the same lag-flag + running-sum construction as
    ``temporal.sessionize`` (total (ts, id) order ⇒ engine-portable
    ids); the stage-arrival windows then partition by (user,
    session) — the whole pipeline is ONE shuffle on the user key,
    every window sharing the partition sort. Returns a single row:
    total sessions, sessions reaching each stage, step rates.
    """
    if len(stages) < 2:
        raise ValueError("funnel needs at least two stages")
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col(ts_col))
    prev_us = F.lag(us).over(w)
    new_s = F.when(
        prev_us.isNull() | ((us - prev_us) > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    cur = events.select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("etype"),
        F.col(ts_col).alias("ts"),
        F.sum(new_s).over(wrun).alias("session_id"),
    )
    ws = Window.partitionBy("user_id", "session_id")
    prev_t: F.Column | None = None
    t_cols: list[str] = []
    for i, stage in enumerate(stages):
        cond = F.col("etype") == stage
        if prev_t is not None:
            cond = cond & (F.col("ts") >= prev_t)
        t_name = f"t{i + 1}"
        cur = cur.withColumn(t_name, F.min(F.when(cond, F.col("ts"))).over(ws))
        prev_t = F.col(t_name)
        t_cols.append(t_name)
    per_session = cur.select("user_id", "session_id", *t_cols).distinct()
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("n_sessions")]
    aggs += [
        F.count(t).alias(f"n_{stage}_sessions")
        for t, stage in zip(t_cols, stages)
    ]
    for i in range(1, len(stages)):
        prev_n = F.count(t_cols[i - 1])
        cur_n = F.count(t_cols[i])
        aggs.append(
            F.round(
                F.when(prev_n > 0, cur_n.cast("double") / prev_n), 6
            ).alias(f"rate_{stages[i - 1]}_to_{stages[i]}")
        )
    return per_session.agg(*aggs)


def copresence_pmi_sql(pres_table: str) -> str:
    """PMI SQL over a session-presence relation (user_id, session_id,
    etype — one row per type present in a session): for every event-
    type pair, pointwise mutual information of co-occurring in one
    session, ``ln(p(a,b)/(p(a)·p(b)))`` with probabilities as exact
    session-count ratios. Shared verbatim by
    :func:`session_copresence_pmi` (Spark) and the DuckDB oracle, so
    the arithmetic is identical by construction. Every total is a
    scalar subquery — one tiny independent stage, no nested-loop
    join."""
    n_sql = "(SELECT n FROM nn)"
    return f"""
WITH nn AS (
  SELECT count(*) AS n FROM (
    SELECT DISTINCT user_id, session_id FROM {pres_table}
  ) t
),
ec AS (SELECT etype, count(*) AS n_e FROM {pres_table} GROUP BY etype),
pairs AS (
  SELECT a.etype AS etype_a, b.etype AS etype_b, count(*) AS n_ab
  FROM {pres_table} a JOIN {pres_table} b
    ON a.user_id = b.user_id AND a.session_id = b.session_id
   AND a.etype < b.etype
  GROUP BY 1, 2
)
SELECT p.etype_a, p.etype_b, p.n_ab, ea.n_e AS n_a, eb.n_e AS n_b,
       round(ln((CAST(p.n_ab AS DOUBLE) / {n_sql})
                / ((CAST(ea.n_e AS DOUBLE) / {n_sql})
                   * (CAST(eb.n_e AS DOUBLE) / {n_sql}))), 6) AS pmi
FROM pairs p
JOIN ec ea ON p.etype_a = ea.etype
JOIN ec eb ON p.etype_b = eb.etype
"""


def session_copresence_pmi(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Event-type co-presence PMI at session grain: which behaviors
    travel together within one visit (PMI > 0) and which repel
    (PMI < 0) — the association-mining companion of
    :func:`event_lift` (user grain) and :func:`session_paths`
    (sequence grain).

    The heavy stage — gap sessionization over raw events (same
    construction as :func:`session_funnel`) collapsed to the DISTINCT
    (user, session, type) presence relation — runs ONCE and is
    eagerly localCheckpointed; :func:`copresence_pmi_sql` then runs
    over that tiny relation (≤ sessions × type-cardinality rows), so
    Spark's CTE inlining re-reads a checkpointed frame, not the
    corpus. The pair self-join is keyed on (user, session): cost
    Σ types-per-session², bounded by type-cardinality², never
    events².
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col(ts_col))
    prev_us = F.lag(us).over(w)
    new_s = F.when(
        prev_us.isNull() | ((us - prev_us) > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    pres = materialize(
        events.select(
            F.col(user_col).alias("user_id"),
            F.col(type_col).alias("etype"),
            F.sum(new_s).over(wrun).alias("session_id"),
        )
        .select("user_id", "session_id", "etype")
        .distinct()
    )
    pres.createOrReplaceTempView("__pmi_pres")
    return events.sparkSession.sql(copresence_pmi_sql("__pmi_pres"))


def cohort_ltv(
    events: DataFrame,
    revenue_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen day,
    revenue (``revenue_type`` event values) summed per cohort-age
    offset and accumulated along the offset — the revenue companion
    of :func:`cohort_retention`, read as "how much has the day-X
    cohort spent by age N". Also reports per-user LTV
    (cum_revenue / cohort size).

    Exactness: revenue is quantized then DECIMAL-summed per
    (cohort, offset); the running accumulation is a window over the
    cohort-triangle frame (cohorts × horizon — tiny), so both sums
    are exact and the one division is IEEE. Cohort sizes count
    DISTINCT users of the cohort (not just payers).

    Shape: one user-key shuffle for the cohort window, one
    (cohort, offset) groupBy, then dimension-sized windows.
    """
    w = Window.partitionBy(user_col)
    day = F.to_date(ts_col)
    enriched = events.select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("etype"),
        day.alias("day"),
        F.round(F.col(value_col), 6).alias("rev"),
        F.min(day).over(w).alias("cohort_day"),
    )
    per = enriched.groupBy("cohort_day", F.datediff("day", "cohort_day").alias("day_offset")).agg(
        F.sum(
            F.when(F.col("etype") == revenue_type, F.col("rev"))
            .otherwise(F.lit(0.0))
            .cast("decimal(18,6)")
        ).alias("_rev"),
    )
    sizes = (
        enriched.select("user_id", "cohort_day")
        .distinct()
        .groupBy("cohort_day")
        .agg(F.count(F.lit(1)).alias("cohort_size"))
    )
    wrun = (
        Window.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = per.select(
        "cohort_day",
        "day_offset",
        F.round(F.col("_rev").cast("double"), 6).alias("revenue"),
        F.round(F.sum("_rev").over(wrun).cast("double"), 6).alias(
            "cum_revenue"
        ),
    )
    return curve.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        "day_offset",
        "revenue",
        "cum_revenue",
        "cohort_size",
        F.round(F.col("cum_revenue") / F.col("cohort_size"), 6).alias(
            "ltv_per_user"
        ),
    )


def decay_table(half_life_days: float = 7.0, n_days: int = 366) -> list[float]:
    """Per-integer-age decay factors ``2^(−age/half_life)`` computed
    ONCE in Python and injected as literals on both engines — because
    ``pow`` itself is not cross-engine bit-stable (measured: Spark's
    Java Math.pow and DuckDB's libm disagree by one ulp on 16 of 120
    probed exponents). A shared literal table sidesteps the libm
    entirely."""
    return [2.0 ** (-(k) / half_life_days) for k in range(n_days)]


def engagement_score(
    events: DataFrame,
    as_of: str,
    half_life_days: float = 7.0,
    type_weights: dict[str, float] | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Recency-decayed engagement scoring: each event contributes
    ``weight(type) · 2^(−age_days/half_life)`` measured against an
    EXPLICIT ``as_of`` date (a parameter, never now() — scores must
    replay identically in a backfill), summed per user. The
    prioritization signal behind re-engagement campaigns and
    activity-weighted sampling. Ages beyond the :func:`decay_table`
    horizon (a year) contribute zero — fully decayed by any measure.

    Exactness: age is integer days indexing the shared literal decay
    table (see :func:`decay_table` for why ``pow`` is banned here);
    each term is quantized to 8 digits before the DECIMAL per-user
    sum. Map-side weights + one user-key aggregation with partial
    combine — a single shuffle of (user, decimal) pairs.
    """
    weights = type_weights or {"purchase": 5.0, "signup": 3.0, "click": 1.0}
    table = decay_table(half_life_days)
    age = F.datediff(F.lit(as_of).cast("date"), F.to_date(F.col(ts_col)))
    w = None
    for t, wt in sorted(weights.items()):
        if w is None:
            w = F.when(F.col(type_col) == t, F.lit(float(wt)))
        else:
            w = w.when(F.col(type_col) == t, F.lit(float(wt)))
    w = w.otherwise(F.lit(0.5))
    decay = F.when(
        (age >= 0) & (age < len(table)),
        F.element_at(F.array(*[F.lit(v) for v in table]), age + 1),
    ).otherwise(F.lit(0.0))
    term = F.round(w * decay, 8)
    base = events.select(
        F.col(user_col).alias("user_id"),
        term.cast("decimal(18,8)").alias("term"),
    )
    return base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("term").cast("double"), 6).alias("engagement"),
    )


def absorption_prob(
    events: DataFrame,
    target: str,
    k: int = 4,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """k-step absorption probability of the first-order event chain:
    for every event type, the probability of reaching ``target``
    within k transitions — p₀(target)=1 else 0;
    p_{t+1}(v) = 1 if v = target else Σ_u P(v→u)·p_t(u) — the
    "how close is each behavior to converting" read of the
    :func:`event_transitions` matrix.

    Same execution shape as :func:`event_pagerank`: the edge
    aggregation is the only pass over event volume (one lead-window
    shuffle + one (src,dst) groupBy, localCheckpointed); the k
    propagation rounds are a driver-paced loop over the tiny matrix
    with per-round lineage truncation. Products are quantized with
    the IEEE 1e-12 quantizer before DECIMAL sums — every round is
    partition-order-exact and replayed by the unrolled-CTE oracle.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = events.select(
        F.col(type_col).alias("src"),
        F.lead(type_col).over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    wsrc = Window.partitionBy("src")
    p = (F.col("n").cast("double") / F.sum("n").over(wsrc)).alias("p")
    edges = materialize(counts.select("src", "dst", p))
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )

    def q12(col: F.Column) -> F.Column:
        return F.floor(col * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)

    start = F.when(F.col("node") == target, F.lit(1.0)).otherwise(F.lit(0.0))
    prob = materialize(nodes.select("node", start.alias("p_abs")))
    for _ in range(k):
        stepped = (
            edges.join(
                prob.select(F.col("node").alias("dst"), F.col("p_abs")),
                "dst",
            )
            .groupBy("src")
            .agg(
                F.sum(q12(F.col("p") * F.col("p_abs")).cast("decimal(28,12)"))
                .cast("double")
                .alias("step")
            )
        )
        prob = materialize(
            nodes.join(stepped.select(F.col("src").alias("node"), "step"), "node", "left")
            .select(
                "node",
                F.when(F.col("node") == target, F.lit(1.0))
                .otherwise(q12(F.coalesce(F.col("step"), F.lit(0.0))))
                .alias("p_abs"),
            )
        )
    return prob.select("node", F.round("p_abs", 6).alias(f"absorb_prob"))


def linear_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Linear multi-touch attribution: each converting user's credit
    of 1 is split EQUALLY across all their touches at or before the
    FIRST conversion (the conversion event included) — the
    every-touch-matters counterpart of
    :func:`first_touch_attribution`. Non-converting users contribute
    nothing. Total credit across types = number of converting users
    (property-tested).

    Exactness: per-user credit is 1/k with integer k, quantized to 8
    digits before the exact DECIMAL per-type sum — the only float op
    is the one division. One user-key shuffle (first-conversion
    window + touch filter share it), then a type-keyed fold of
    touch-sized rows.
    """
    wu = Window.partitionBy(user_col)
    first_conv = F.min(
        F.when(F.col(type_col) == conversion_type, F.col(ts_col))
    ).over(wu)
    flagged = events.select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("etype"),
        F.col(ts_col).alias("ts"),
        first_conv.alias("conv_ts"),
    ).where(
        F.col("conv_ts").isNotNull() & (F.col("ts") <= F.col("conv_ts"))
    )
    wtouch = Window.partitionBy("user_id")
    credited = flagged.select(
        "user_id",
        "etype",
        F.round(
            F.lit(1.0) / F.count(F.lit(1)).over(wtouch), 8
        ).alias("credit"),
    )
    return credited.groupBy(F.col("etype").alias("touch_type")).agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(
            F.sum(F.col("credit").cast("decimal(18,8)")).cast("double"), 6
        ).alias("credit_total"),
    )


def last_touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Last-touch attribution: credit each converting user's
    conversion to the LAST touch strictly before their first
    conversion event (users whose first event is the conversion
    itself credit the conversion type) — completing the attribution
    family (:func:`first_touch_attribution`,
    :func:`linear_attribution`). Per touch type: converting users
    credited, plus each type's share of all conversions.

    One user-key shuffle: the first-conversion window and the
    max-by-(ts,id) last-touch pick share the exchange; integer counts
    and one division.
    """
    wu = Window.partitionBy(user_col)
    first_conv = F.min(
        F.when(F.col(type_col) == conversion_type, F.col(ts_col))
    ).over(wu)
    flagged = events.select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("etype"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("eid"),
        first_conv.alias("conv_ts"),
    ).where(F.col("conv_ts").isNotNull())
    pre = flagged.where(F.col("ts") < F.col("conv_ts"))
    last_pre = pre.groupBy("user_id").agg(
        F.max_by("etype", F.struct(F.col("ts"), F.col("eid"))).alias(
            "touch_type"
        )
    )
    # users converting on their very first event: no pre-conversion
    # touch -> credit the conversion type itself
    all_conv = flagged.select("user_id").distinct()
    direct = all_conv.join(last_pre.select("user_id"), "user_id", "left_anti").select(
        "user_id", F.lit(conversion_type).alias("touch_type")
    )
    credited = last_pre.unionByName(direct)
    wall = Window.partitionBy()
    per_type = credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_conversions")
    )
    return per_type.select(
        "touch_type",
        "n_conversions",
        F.round(
            F.col("n_conversions").cast("double")
            / F.sum("n_conversions").over(wall),
            6,
        ).alias("share"),
    )
