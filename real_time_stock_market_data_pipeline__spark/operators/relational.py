"""Relational operators beyond plain projections/aggregations:
keyed merge-upsert, as-of join, set operations, pivot, rollup.

Reference counterparts (`/root/reference`):

- J2/J3 merge-upsert: the Snowflake ``MERGE ... WHEN MATCHED UPDATE /
  WHEN NOT MATCHED INSERT`` statements keyed ``(symbol, date)`` /
  ``(symbol, window_start)`` —
  `src/snowflake/load_to_snowflake.py:220-241`,
  `src/snowflake/realtime_load_to_snowflake.py:225-251`. Re-expressed
  engine-side as left-anti + union — the idempotent upsert the
  reference achieves warehouse-side.
- As-of join: no reference counterpart; SURVEY.md §2.3 documents it as
  the canonical tick-data extension ("last tick at-or-before t").
- Set ops / pivot / rollup: free Spark generalizations called out in
  SURVEY.md §2.4/§2.6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark.session import materialize


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """Keyed upsert: source rows replace key-matching target rows;
    unmatched target rows survive; source-only keys are inserted.

    Equivalent to the reference's warehouse MERGE (J2/J3) and, like it,
    idempotent: applying the same source twice equals applying it once
    (property-tested). Both legs are set-level, no driver loop:
    target ANTI JOIN source  ∪  source.

    Scale: the anti join shuffles on ``keys`` (or broadcasts when the
    source fits, the common incremental-batch case — AQE decides);
    the union is free. The source's keys go to the anti join as they
    are: a left-anti result does not depend on duplicate keys on the
    right, so a ``distinct()`` there would only add a shuffle and a
    job.
    """
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"merge_upsert: column sets differ: {sorted(target.columns)} vs "
            f"{sorted(source.columns)}"
        )
    keep = target.join(source.select(*keys), keys, "left_anti")
    return keep.unionByName(source)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_vals: list[str],
) -> DataFrame:
    """As-of join: attach, to each left row, ``right_vals`` from the
    latest right row with ``right_ts <= left_ts`` per ``on`` key
    (NULLs when no such row). ``right`` must be unique per
    (``on``, ``right_ts``) — pre-deduplicate with ``dedup_keep_last``.

    Implementation is the scalable union-and-carry pattern: tag both
    inputs, sort per key by (event time, tag) with right-before-left on
    ties, and carry the latest right ROW forward as a single struct
    with ``last(..., ignorenulls=True)`` over a running frame — the
    struct is non-null for every right row, so a genuinely NULL field
    in the latest right row is preserved (carrying fields individually
    would skip it and resurrect an older value). One shuffle, one
    sort — no range-explosion, no per-row subquery, and Spark's window
    frame streams so state per key is O(1).
    """
    lcols = left.columns
    collide = set(right_vals) & set(lcols)
    if collide:
        raise ValueError(
            f"asof_join: right_vals collide with left columns: {sorted(collide)}"
        )
    rv_struct = F.struct(*[F.col(c) for c in right_vals])
    l = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(
            right.select(rv_struct.alias("__rv")).schema["__rv"].dataType
        ).alias("__rv"),
    )
    r = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            if c not in on
            else F.col(c)
            for c in lcols
        ],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        rv_struct.alias("__rv"),
    )
    w = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).select(
        *lcols,
        F.col("__tag"),
        F.last("__rv", ignorenulls=True).over(w).alias("__rv"),
    )
    return (
        carried.filter(F.col("__tag") == 1)
        .select(
            *lcols,
            *[F.col(f"__rv.{c}").alias(c) for c in right_vals],
        )
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n_salts: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-resistant two-stage aggregation: count / exact sum / min /
    max of ``value_col`` per ``keys``, computed as
    ``groupBy(keys + salt)`` partials merged by a second
    ``groupBy(keys)``.

    The manual counterpart of AQE's skew-join splitting, for the *agg*
    side: when one key holds a large fraction of all rows (hot symbol,
    empty-string document, null user), a plain groupBy sends that whole
    key to one reducer. Salting fans the hot key across ``n_salts``
    reducers in stage 1; stage 2 merges ``n_salts`` partial rows per
    key — O(distinct keys × n_salts) instead of O(rows of hottest key)
    on the critical path.

    The salt is deterministic (``xxhash64`` of ``salt_cols``, default:
    all non-key columns), and every aggregate here is mergeable with
    the sum carried in decimal, so the result is bit-identical to the
    unsalted single-stage groupBy — which is exactly what the SQL
    oracle runs. Map-side partial aggregation still applies to stage 1,
    so the extra stage costs one (small) shuffle of partials, not a
    second pass over the data.
    """
    ent = salt_cols or [c for c in df.columns if c not in keys]
    # xxhash64() needs ≥1 arg; with no non-key columns every row of a
    # key is identical anyway, so a constant salt loses nothing
    salt_src = [F.col(c) for c in ent] or [F.lit(0)]
    salt = F.pmod(F.xxhash64(*salt_src), F.lit(n_salts))
    partial = (
        df.groupBy(*keys, salt.alias("__salt"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__s"),
            F.min(value_col).alias("__mn"),
            F.max(value_col).alias("__mx"),
        )
    )
    return (
        partial.groupBy(*keys)
        .agg(
            F.sum("__n").alias("n"),
            F.sum("__s").cast("double").alias("total_value"),
            F.min("__mn").alias("min_value"),
            F.max("__mx").alias("max_value"),
        )
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
    row_mix: bool = False,
) -> DataFrame:
    """Skewed large×large equi-join: salt the (big, skewed) left side
    into ``n_salts`` sub-keys, replicate the right side once per salt,
    join on ``on + [salt]``.

    A hot key on the left no longer lands in a single join task — its
    rows spread over ``n_salts`` tasks, each holding a full copy of the
    right side's rows for that key. Cost: the right side is read
    ``n_salts``× (map-side explode, no extra shuffle of the left).
    Result is row-identical to the plain join — each (l, r) match pairs
    exactly once, on l's salt — so the oracle is the plain SQL join.

    Prefer ``F.broadcast`` when the right side fits in memory and AQE
    skew-join for moderate skew; this is the explicit fallback for the
    hot-key × too-big-to-broadcast case. The left salt is deterministic
    (hash of all left columns), keeping plans replayable — which means
    *fully identical duplicate left rows* all hash to one salt and
    still share a task. When the skew IS duplicated hot rows, pass
    ``row_mix=True`` to mix ``monotonically_increasing_id()`` into the
    salt (spreads duplicates; stable for deterministic scans, but not
    replayable under input reordering — hence opt-in).
    """
    salt_src = [F.col(c) for c in left.columns]
    if row_mix:
        salt_src.append(F.monotonically_increasing_id())
    salt = F.pmod(F.xxhash64(*salt_src), F.lit(n_salts)).cast("int")
    l = left.withColumn("__salt", salt)
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return l.join(r, on + ["__salt"], how).drop("__salt")


def set_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """Set-semantics UNION (distinct)."""
    return a.unionByName(b).distinct()


def set_intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def set_except(a: DataFrame, b: DataFrame) -> DataFrame:
    """EXCEPT with set semantics (``subtract`` = EXCEPT DISTINCT —
    ``exceptAll`` would be bag difference, a different operator)."""
    return a.subtract(b)


def pivot_counts(
    df: DataFrame, group_col: str, pivot_col: str, values: list[str]
) -> DataFrame:
    """Pivot ``pivot_col`` into one count column per value in
    ``values`` (explicit value list → single-pass, no extra job to
    discover distinct values, and a schema that is stable for the
    oracle). Absent combinations are 0, not NULL."""
    out = (
        df.groupBy(group_col)
        .pivot(pivot_col, values)
        .agg(F.count(F.lit(1)))
    )
    return out.na.fill(0, values)


def rollup_metrics(
    df: DataFrame,
    dims: list[F.Column | str],
    value_col: str,
) -> DataFrame:
    """ROLLUP over ``dims`` with row count + exact decimal sum of
    ``value_col`` (order-independent → oracle-reproducible). Subtotal
    rows carry NULL dimension values, per SQL ROLLUP semantics."""
    return df.rollup(*dims).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col).cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )


def cube_metrics(
    df: DataFrame,
    dims: list[F.Column | str],
    value_col: str,
) -> DataFrame:
    """CUBE over ``dims`` — every grouping-set combination (SURVEY.md
    §2.4's free Spark generalization), same exact aggregates as
    ``rollup_metrics``."""
    return df.cube(*dims).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col).cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )


def windowed_distinct_actives(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    duration: str = "1 hour",
    group_col: str | None = None,
    approx_rsd: float | None = None,
) -> DataFrame:
    """Distinct active keys per tumbling window (± per group) — the
    'distinct active symbols per window' metric SURVEY.md §2.4 names.

    Exact ``count_distinct`` by default (oracle-checkable). Pass
    ``approx_rsd`` to switch to the HyperLogLog++ sketch
    (``approx_count_distinct``): the 100 TB path — sketches merge
    map-side and the shuffle carries a constant-size register set per
    (window, group) instead of the key set. The error contract
    (relative error ≲ rsd) is asserted in tests; the sketch variant is
    deliberately NOT oracle-registered because HLL implementations
    differ across engines."""
    keys = [F.window(F.col(ts_col), duration).alias("window")]
    if group_col:
        keys.append(F.col(group_col).alias(group_col))
    actives = (
        F.approx_count_distinct(key_col, approx_rsd)
        if approx_rsd is not None
        else F.countDistinct(key_col)
    )
    out = df.groupBy(*keys).agg(
        actives.alias("active_keys"),
        F.count(F.lit(1)).alias("events"),
    )
    return (
        out.withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    k: int,
    descending: bool = True,
) -> DataFrame:
    """Top-k rows per group under a total order (`row_number` ≤ k).
    ``order_cols`` must make the order total (add a unique id as the
    last column) or ranks — and therefore rows — are partition-luck.

    Scale: one shuffle on ``group_cols``; Spark inserts a per-partition
    rank-limit below the exchange for row_number ≤ k filters
    (WindowGroupLimit), so each mapper ships at most k rows per group,
    not the group's whole history.
    """
    order = [
        F.col(c).desc() if descending else F.col(c).asc() for c in order_cols
    ]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .withColumnRenamed("__rank", "rank")
    )


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    effective_col: str = "effective_date",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 maintenance: apply a batch of
    keyed attribute updates to a versioned dimension, closing the
    previous version and opening a new one — history is never
    rewritten. The warehouse-grade upgrade of :func:`merge_upsert`
    (which overwrites; no reference counterpart — the reference's
    MERGE is Type 1).

    Per update row, compared against the key's *open* version:

    - attributes identical → no-op (no new version, nothing closed),
    - attributes differ → open version closed at ``effective_col``
      (``valid_to`` set, ``is_current`` false) and a new open version
      inserted,
    - key absent from the dimension → new open version inserted.

    ``updates`` must carry one row per key per batch (enforce upstream
    with ``dedup_keep_last``). All legs are set-level: one key join to
    classify updates, one inner/anti split of the open versions,
    unions at the end — the joins shuffle (or broadcast — AQE decides;
    update batches are usually tiny vs the dimension) on the key only,
    and history rows pass through untouched.

    The classified change set is materialized once: three downstream
    legs reference it (new versions, the closing join, the untouched
    anti join), and lazily each would re-run the updates⋈dimension
    classification join.
    The change set is update-batch-sized, the cheapest thing in the
    plan to pin (same rationale as the dedup pipeline's candidate
    materialization).
    """
    live = current.filter(F.col(current_col))
    history = current.filter(~F.col(current_col))

    u = updates.alias("u")
    c = live.alias("c")
    differs = F.lit(False)
    for a in attr_cols:
        differs = differs | ~F.col(f"u.{a}").eqNullSafe(F.col(f"c.{a}"))
    joined = u.join(c, key_cols, "left")
    # new key (no open version) or attribute change → takes effect
    changed = materialize(
        joined.filter(F.col(f"c.{from_col}").isNull() | differs).select(
            *key_cols,
            *[F.col(f"u.{a}").alias(a) for a in attr_cols],
            F.col(f"u.{effective_col}").alias("__eff"),
            F.col(f"c.{from_col}").isNull().alias("__new_key"),
        )
    )

    new_versions = changed.select(
        *key_cols,
        *attr_cols,
        F.col("__eff").alias(from_col),
        F.lit(None).cast("date").alias(to_col),
        F.lit(True).alias(current_col),
    )
    # close the open versions of changed existing keys, stamping the
    # update's effective date
    closing_keys = changed.filter(~F.col("__new_key")).select(
        *key_cols, "__eff"
    )
    closed = (
        live.join(closing_keys, key_cols, "inner")
        .select(
            *key_cols,
            *attr_cols,
            F.col(from_col),
            F.col("__eff").alias(to_col),
            F.lit(False).alias(current_col),
        )
    )
    untouched = live.join(
        closing_keys.select(*key_cols), key_cols, "left_anti"
    ).select(*key_cols, *attr_cols, from_col, to_col, current_col)

    out_cols = [*key_cols, *attr_cols, from_col, to_col, current_col]
    return (
        history.select(*out_cols)
        .unionByName(closed)
        .unionByName(untouched)
        .unionByName(new_versions)
    )


def merge_aggregates(
    base_agg: DataFrame,
    delta_agg: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Incremental aggregate maintenance: merge a new partition's
    partial aggregates into an existing aggregate table WITHOUT
    rescanning history — the warehouse pattern behind incremental
    rollups (decomposable aggregates: counts and decimal sums ADD;
    min/max combine by min/max; averages re-derive from the merged
    sum/count pair).

    Both inputs carry the decomposed state columns
    ``(n, sum_value, min_value, max_value)``; output carries the same
    plus the re-derived ``avg_value``. The law ``merge(agg(A), agg(B))
    == agg(A ∪ B)`` is what the oracle checks (recompute-from-scratch)
    and what makes the pattern exact at any split of history — the
    same decomposability that makes Spark's own partial aggregation
    correct.

    Scale: a key-partitioned full-outer join of two aggregate tables
    (each ≪ fact size); no fact rescan. At 100 TB this is the
    difference between a nightly full rebuild and a per-batch merge.
    """
    b = base_agg.select(
        *keys,
        F.col("n").alias("n_b"),
        F.col("sum_value").alias("s_b"),
        F.col("min_value").alias("mn_b"),
        F.col("max_value").alias("mx_b"),
    )
    d = delta_agg.select(
        *keys,
        F.col("n").alias("n_d"),
        F.col("sum_value").alias("s_d"),
        F.col("min_value").alias("mn_d"),
        F.col("max_value").alias("mx_d"),
    )
    j = b.join(d, keys, "full_outer")
    n = F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0))
    s = (
        F.coalesce(F.col("s_b").cast("decimal(18,6)"), F.lit(0).cast("decimal(18,6)"))
        + F.coalesce(F.col("s_d").cast("decimal(18,6)"), F.lit(0).cast("decimal(18,6)"))
    ).cast("double")
    mn = F.least(
        F.coalesce("mn_b", F.col("mn_d")), F.coalesce("mn_d", F.col("mn_b"))
    )
    mx = F.greatest(
        F.coalesce("mx_b", F.col("mx_d")), F.coalesce("mx_d", F.col("mx_b"))
    )
    return j.select(
        *keys,
        n.alias("n"),
        F.round(s, 6).alias("sum_value"),
        mn.alias("min_value"),
        mx.alias("max_value"),
        F.round(s / n, 6).alias("avg_value"),
    )


def decomposed_agg(
    df: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """The partial-aggregate state :func:`merge_aggregates` consumes:
    per-key (n, exact decimal sum, min, max) of ``value_col`` with the
    value quantized to 6 first (merge-exact at any history split)."""
    v = F.round(F.col(value_col).cast("double"), 6)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(v.cast("decimal(18,6)")).cast("double"), 6
        ).alias("sum_value"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Snapshot change-set: classify every id across two table
    versions as added / deleted / changed / unchanged by comparing an
    md5 over the payload columns — the corpus-refresh audit (what did
    this crawl drop, add, rewrite?) and the precursor to an
    incremental re-embed/re-dedup run that touches only `changed ∪
    added` instead of 100 TB.

    One full-outer join on the id (both sides shuffle once on the
    key); payloads never move — only their 32-char digests. Output:
    (id, status) — feed it to a groupBy for the summary, or semi-join
    payloads back for the delta batch.
    """
    def digest(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.md5(
                F.concat_ws("\x1f", *[F.col(c).cast("string") for c in payload_cols])
            ).alias(f"__h_{tag}"),
        )

    a = digest(old, "a")
    b = digest(new, "b")
    j = a.join(b, id_col, "full_outer")
    status = (
        F.when(F.col("__h_a").isNull(), "added")
        .when(F.col("__h_b").isNull(), "deleted")
        .when(F.col("__h_a") == F.col("__h_b"), "unchanged")
        .otherwise("changed")
    )
    return j.select(F.col(id_col), status.alias("status"))


def unpivot_long(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    var_name: str = "metric",
    value_name: str = "value",
) -> DataFrame:
    """Wide → long reshape (melt): one output row per (input row ×
    value column), keyed by the id columns plus the source column's
    name. The inverse of :func:`pivot_counts`'s wide form.

    Uses the native ``DataFrame.unpivot`` (Spark's Expand node): a
    map-side row expansion inside whole-stage codegen — no shuffle,
    no UDF, output size = rows × len(value_cols). Value columns must
    share a least-common type (Spark casts; mixing incompatible types
    throws under ANSI mode — by design, a silent stringly melt hides
    schema drift).

    At 100 TB the Expand multiplies scan output, not scan input —
    column pruning still reads only id + value columns from parquet.
    """
    return df.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c) for c in value_cols],
        var_name,
        value_name,
    )


def asof_join_tolerance(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_vals: list[str],
    tolerance_us: int,
) -> DataFrame:
    """:func:`asof_join` with a staleness bound: the carried right row
    only matches when ``left_ts - right_ts <= tolerance_us``
    (microseconds); beyond it the right values are NULL — the
    standard market-data rule "use the last quote, but never one
    older than X".

    Same union-and-carry shape as :func:`asof_join` (one shuffle, one
    sort, O(1) window state); the carried struct additionally holds
    the right row's event time, and one map-side comparison masks
    stale matches. An extra ``asof_age_us`` column reports the
    realized staleness of each match (NULL where unmatched).
    """
    lcols = left.columns
    collide = {*right_vals, "asof_age_us"} & set(lcols)
    if collide:
        raise ValueError(
            f"asof_join_tolerance: name collisions: {sorted(collide)}"
        )
    rv_struct = F.struct(
        F.unix_micros(F.col(right_ts)).alias("__rts_us"),
        *[F.col(c) for c in right_vals],
    )
    l = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(None)
        .cast(right.select(rv_struct.alias("__rv")).schema["__rv"].dataType)
        .alias("__rv"),
    )
    r = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            if c not in on
            else F.col(c)
            for c in lcols
        ],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        rv_struct.alias("__rv"),
    )
    w = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).select(
        *lcols,
        F.col("__ts"),
        F.col("__tag"),
        F.last("__rv", ignorenulls=True).over(w).alias("__rv"),
    )
    age = F.unix_micros(F.col("__ts")) - F.col("__rv.__rts_us")
    fresh = F.col("__rv").isNotNull() & (age <= F.lit(tolerance_us))
    return carried.filter(F.col("__tag") == 1).select(
        *lcols,
        *[F.when(fresh, F.col(f"__rv.{c}")).alias(c) for c in right_vals],
        F.when(fresh, age).alias("asof_age_us"),
    )


def scd2_lookup(
    facts: DataFrame,
    dim: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Point-in-time dimension lookup against an SCD Type-2 table
    (the read side of :func:`scd2_apply`): attach to each fact the
    attribute values whose validity interval contains the fact's
    event time — ``valid_from <= ts`` and (``valid_to`` IS NULL or
    ``ts < valid_to``). Facts before the key's first version, in a
    validity gap, or with an unknown key get NULLs.

    Because SCD2 versions are non-overlapping per key, the candidate
    is exactly the as-of match on ``valid_from`` — so this is the
    union-and-carry :func:`asof_join` (one shuffle, one sort, O(1)
    window state) plus a map-side expiry mask, NEVER an interval
    range join: at 100 TB the BETWEEN-join formulation explodes on
    hot keys while this shape stays linear. A ``version_from`` column
    reports which version matched.
    """
    collide = {*attr_cols, "version_from"} & set(facts.columns)
    if collide:
        raise ValueError(f"scd2_lookup: name collisions: {sorted(collide)}")
    right = dim.select(*key_cols, from_col, to_col, *attr_cols)
    out = asof_join(
        facts,
        right,
        on=key_cols,
        left_ts=ts_col,
        right_ts=from_col,
        right_vals=[from_col, to_col, *attr_cols],
    )
    valid = F.col(from_col).isNotNull() & (
        F.col(to_col).isNull() | (F.col(ts_col) < F.col(to_col))
    )
    return out.select(
        *facts.columns,
        *[F.when(valid, F.col(c)).alias(c) for c in attr_cols],
        F.when(valid, F.col(from_col)).alias("version_from"),
    )


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a CDC change batch (Debezium-style I/U/D op codes) to a
    snapshot: per key, the HIGHEST-``seq`` change wins — an I or U
    replaces the row (insert-or-update; a dangling U still lands, the
    tolerant convention), a D deletes it; untouched keys pass through.
    The change-data counterpart of :func:`merge_upsert` (which has no
    delete leg) and the Type-1 sibling of :func:`scd2_apply`.

    Shape: one keep-last dedup of the change batch (window rn over
    the batch — change batches are micro-batch-sized), one anti-join
    to drop touched keys from the snapshot, one union of surviving
    upserts. Two key-hash shuffles of batch-sized inputs; the
    snapshot passes through a single anti-join — at 100 TB that is
    the only stage that sees the big side, and AQE broadcasts the
    deduped batch.
    """
    # lazy executor-side op validation (no driver collect): an unknown
    # op code fails the job loudly instead of being silently dropped
    checked_op = F.when(
        F.col(op_col).isin("I", "U", "D"), F.col(op_col)
    ).otherwise(
        F.raise_error(
            F.concat(F.lit("cdc_apply: unknown op code "), F.col(op_col))
        )
    )
    # seq desc picks the winner; op + payload break equal-seq ties so
    # the survivor is deterministic (not partition/plan dependent)
    # rather than whichever row row_number() happened to see first.
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(),
        F.col(op_col).desc(),
        *[F.col(c).desc_nulls_last() for c in payload_cols],
    )
    latest = (
        changes.withColumn(op_col, checked_op)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    untouched = snapshot.join(
        latest.select(*key_cols), key_cols, "left_anti"
    )
    upserts = latest.where(F.col(op_col) != "D").select(
        *key_cols, *payload_cols
    )
    return untouched.select(*key_cols, *payload_cols).unionByName(upserts)


def resolve_hierarchy(
    nodes: DataFrame,
    id_col: str,
    parent_col: str,
    max_rounds: int = 20,
) -> DataFrame:
    """Resolve every node of a parent-pointer forest to its ROOT and
    DEPTH by pointer doubling (Wyllie's list-ranking jump): each round
    replaces every pointer with its pointer's pointer and adds the
    distances, so convergence takes ⌈log₂ depth⌉ rounds — the
    distributed answer to hierarchical dimensions (org charts, BOM
    trees, category taxonomies) that a recursive CTE walks row at a
    time. A root is a node with NULL parent (depth 0, its own root).

    Driver-paced loop over ROUNDS (never rows), one equi-join per
    round on the node key, lineage truncated per round with
    ``localCheckpoint`` — the same discipline as
    ``dedup.neardup_clusters`` / ``behavior.event_pagerank``. The
    fixpoint test ships one integer per round. Raises after
    ``max_rounds`` (2^20-deep chains are a data bug, not a workload).

    All arithmetic is integer; output is (id, root, depth) — exact on
    any engine, which is what lets a recursive-CTE oracle check a
    log-round distributed algorithm.
    """
    # state: (id, ptr, dist) — ptr = current jump target (NULL once
    # rooted is encoded as ptr == id for join simplicity), dist =
    # accumulated hops to ptr
    state = materialize(
        nodes.select(
            F.col(id_col).alias("id"),
            F.coalesce(F.col(parent_col), F.col(id_col)).alias("ptr"),
            F.when(F.col(parent_col).isNull(), 0).otherwise(1).alias("dist"),
        )
    )
    for _ in range(max_rounds):
        jump = state.select(
            F.col("id").alias("ptr"),
            F.col("ptr").alias("ptr2"),
            F.col("dist").alias("dist2"),
        )
        nxt = materialize(
            state.join(jump, "ptr").select(
                "id",
                F.col("ptr2").alias("ptr"),
                (F.col("dist") + F.col("dist2")).alias("dist"),
            )
        )
        # converged when no pointer moved this round (every chain has
        # reached a self-pointing root)
        moved = (
            nxt.alias("a")
            .join(state.alias("b"), "id")
            .where(F.col("a.ptr") != F.col("b.ptr"))
            .count()
        )
        state = nxt
        if moved == 0:
            # a CYCLE also reaches a fixpoint (every member ends up
            # self-pointing after doubling around the loop) — a true
            # root must be a node whose ORIGINAL parent is NULL
            bad = (
                state.join(
                    nodes.select(
                        F.col(id_col).alias("ptr"),
                        F.col(parent_col).alias("__p"),
                    ),
                    "ptr",
                )
                .where(F.col("__p").isNotNull())
                .count()
            )
            if bad:
                raise RuntimeError(
                    "resolve_hierarchy: cycle detected — "
                    f"{bad} node(s) resolve to a non-root"
                )
            return state.select(
                "id", F.col("ptr").alias("root"), F.col("dist").alias("depth")
            )
    raise RuntimeError(
        f"resolve_hierarchy: no fixpoint after {max_rounds} rounds "
        "(deeper tree than 2^max_rounds)"
    )
