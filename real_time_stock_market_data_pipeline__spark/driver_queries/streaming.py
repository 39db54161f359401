"""Structured Streaming queries (drained availableNow with batch oracles).

Split out of the original single-file driver_queries module; sections
are verbatim (code moved, not rewritten) so oracle parity is untouched.
"""

from __future__ import annotations

from real_time_stock_market_data_pipeline__spark.driver_queries._shared import *  # noqa: F401,F403


# --------------------------------------------------------------------------
# Streaming EMA (stateful twin of indicators.ema_macd)
# --------------------------------------------------------------------------


def q_stream_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming EMA over daily closes, drained with
    availableNow into a memory sink; display rounding happens in the
    final batch projection (engine-identical half-up)."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.streaming import (
        pipeline,
        stateful,
    )

    ensure_engine_conf(spark)
    src = pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet")
    ticks = src.select(
        F.col("event_type").alias("symbol"),
        F.col("ts"),
        F.col("value").alias("price"),
        F.col("event_id").alias("id"),
    )
    out = stateful.stream_ema_daily(ticks, span=12)
    tmp = tempfile.mkdtemp(prefix="ema_q_")
    name = "stream_ema_q"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "symbol",
        F.col("date").cast("date").alias("date"),
        F.round("close", 4).alias("close"),
        F.round("ema", 6).alias("ema"),
    )


_STREAM_EMA_ORACLE = """
WITH RECURSIVE d AS (
  SELECT DISTINCT
    event_type AS symbol,
    CAST(ts AS DATE) AS date,
    last_value(value) OVER w AS close
  FROM events
  WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
b AS (
  SELECT symbol, date, close,
         row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
  FROM d
),
rec AS (
  SELECT symbol, date, close, rn, close AS ema FROM b WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.date, b.close, b.rn,
         2.0/13 * b.close + (1 - 2.0/13) * r.ema
  FROM b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
SELECT symbol, date, round(close, 4) AS close, round(ema, 6) AS ema FROM rec
"""


def q_stream_window_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2/T5/T7/K2 native append path: watermarked sliding-window
    aggregation written as partitioned parquet, drained availableNow
    (`streaming/pipeline.py:stream_window_metrics_append`). Append
    emits a window only once the watermark passes its end, so the
    oracle = epoch-bucket window replay + the emission filter
    (window_end ≤ ms-floored max event time − 60 s watermark)."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    ensure_engine_conf(spark)
    tmp = tempfile.mkdtemp(prefix="swa_q_")
    src = pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet").select(
        F.col("event_type").alias("symbol"),
        "ts",
        F.col("value").alias("price"),
    )
    q = pipeline.stream_window_metrics_append(
        src,
        target_path=f"{tmp}/out",
        checkpoint_path=f"{tmp}/ckpt",
        available_now=True,
    )
    q.awaitTermination()
    return spark.read.parquet(f"{tmp}/out").select(
        "symbol", "window_start", "window_end", "moving_avg_price", "n_events"
    )


_STREAM_WINDOW_APPEND_ORACLE = """
WITH e AS (
  SELECT event_type AS symbol, ts, round(value, 6) AS price FROM events
),
w AS (
  SELECT symbol, price,
         make_timestamp((epoch_us(ts) // 300000000 - g.i) * 300000000)
           AS window_start
  FROM e, (SELECT unnest(range(0, 3)) AS i) g
),
a AS (
  SELECT symbol, window_start,
         window_start + INTERVAL 15 MINUTE AS window_end,
         CAST(sum(CAST(price AS DECIMAL(18,6))) AS DOUBLE) / count(*)
           AS moving_avg_price,
         count(*) AS n_events
  FROM w GROUP BY symbol, window_start
),
mx AS (SELECT max(ts) AS m FROM events)
SELECT a.symbol, a.window_start, a.window_end, a.moving_avg_price, a.n_events
FROM a, mx
WHERE epoch_ms(a.window_end) <= epoch_ms(mx.m) - 60000
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup (T-family / A4 streaming twin):
    ``dropDuplicatesWithinWatermark`` on (event_type, date) over the
    event file stream, drained with availableNow into a memory sink.
    Only the key columns are projected — the non-key columns of the
    "first" occurrence are arrival-order-dependent by definition, so
    the registered result is the deterministic key set (= batch
    DISTINCT, which is the oracle)."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    ensure_engine_conf(spark)
    src = pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet")
    keyed = src.select("event_type", "ts", F.to_date("ts").alias("date"))
    out = pipeline.stream_dedup_within_watermark(
        keyed, ["event_type", "date"], ts_col="ts"
    ).select("event_type", "date")
    tmp = tempfile.mkdtemp(prefix="sdedup_q_")
    name = "stream_dedup_q"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_STREAM_DEDUP_ORACLE = """
SELECT DISTINCT event_type, CAST(ts AS DATE) AS date FROM events
"""


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True stream-stream interval join: view events ⋈ purchase events
    per user where the purchase lands within [view_ts, view_ts+3600s] —
    both sides are live streams (two tails of the event file stream),
    state bounded by the watermark + time bounds
    (`streaming/pipeline.py:stream_interval_join`). Drained with
    availableNow; the oracle is the plain batch time-range join, which
    the streamed inner join must reproduce exactly."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    ensure_engine_conf(spark)
    src1 = pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet")
    src2 = pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet")
    views = src1.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    purchases = src2.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    out = pipeline.stream_interval_join(
        views,
        purchases,
        key="user_id",
        left_ts="view_ts",
        right_ts="purchase_ts",
        lower_s=0,
        upper_s=3600,
    )
    tmp = tempfile.mkdtemp(prefix="sij_q_")
    name = "stream_interval_join_q"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        "view_ts",
        "view_id",
        "purchase_ts",
        "purchase_id",
        "purchase_value",
    )


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` streaming sessionization drained
    with availableNow (`streaming/pipeline.py:stream_sessionize`).
    Append mode only emits sessions the final watermark has closed, so
    the oracle reproduces BOTH the gap-merge semantics (split when the
    inter-event gap exceeds 1800 s — same rule as the batch
    ``sessionize``) and the emission filter: session_close (last event
    + gap) at or before max(ts) minus the 1-minute watermark delay.
    The withheld tail is exactly the still-open sessions."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    ensure_engine_conf(spark)
    src = pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet")
    out = pipeline.stream_sessionize(src, "user_id", "ts", gap_seconds=1800)
    tmp = tempfile.mkdtemp(prefix="ssess_q_")
    name = "stream_sessionize_q"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# Gap-split (>1800 s, the session_window merge rule) then emission
# filter at the final watermark (ms-floored max event time - 60 s).
# The fixture has no event pair exactly on either boundary, so the
# inequality choices are pinned by the empirical equality sweep run
# when this oracle was added (4 emission forms × 2 split forms all
# agreed with the drained stream).
_STREAM_SESSIONIZE_ORACLE = """
WITH flags AS (
  SELECT user_id AS key, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  -- the running sum MUST use the same total (ts, event_id) order as
  -- the flags window: under duplicate (user, ts) pairs an ORDER BY ts
  -- alone lets tied rows land on either side of a new_s=1 row, moving
  -- them into the WRONG session (surfaced by the x10 sf1.0 stress
  -- fixture, where every event has 9 identical-ts clones)
  SELECT key, ts, sum(new_s) OVER (PARTITION BY key ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flags
),
g AS (
  SELECT key, min(ts) AS session_start,
         max(ts) + INTERVAL 1800 SECOND AS session_close,
         count(*) AS n_events
  FROM sess GROUP BY key, sid
),
w AS (SELECT max(ts) AS mx FROM events)
SELECT g.key, g.session_start, g.session_close, g.n_events
FROM g, w
WHERE epoch_ms(g.session_close) <= epoch_ms(w.mx) - 60000
"""


_STREAM_INTERVAL_JOIN_ORACLE = """
SELECT l.user_id, l.view_ts, l.view_id,
       r.purchase_ts, r.purchase_id, r.purchase_value
FROM (SELECT user_id, ts AS view_ts, event_id AS view_id
      FROM events WHERE event_type = 'view') l
JOIN (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
             value AS purchase_value
      FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id
 AND r.purchase_ts >= l.view_ts
 AND r.purchase_ts <= l.view_ts + INTERVAL 3600 SECOND
"""


# --------------------------------------------------------------------------
# Round-7 batch 6: bounded-state stream dedup, Gini, centroid similarity
# --------------------------------------------------------------------------


def q_stream_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate streaming dedup with a single 48-bit Bloom word of
    state per user, drained availableNow
    (`streaming/stateful.py:stream_bloom_dedup`); the oracle is a
    recursive CTE walking the identical (ts, id)-ordered bloom fold."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.streaming import (
        pipeline,
        stateful,
    )

    ensure_engine_conf(spark)
    src = pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet")
    ticks = src.select(
        "user_id",
        "ts",
        "event_id",
        # F.concat (null-propagating, matching the oracle's ||) —
        # concat_ws would silently skip a NULL props and disagree
        F.concat(
            F.coalesce("event_type", F.lit("")),
            F.lit("|"),
            F.coalesce("props", F.lit("")),
        ).alias("fp"),
    )
    out = stateful.stream_bloom_dedup(ticks)
    tmp = tempfile.mkdtemp(prefix="sbf_q_")
    name = "stream_bloom_dedup_q"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "fp",
    )


_SBF_POS = (
    "CAST(CAST('0x' || substr(md5('sbf{i}:' || fp), 1, 8) AS BIGINT)"
    " % 48 AS INT)"
)

_STREAM_BLOOM_DEDUP_ORACLE = f"""
WITH RECURSIVE b AS (
  SELECT user_id, ts, event_id,
         coalesce(event_type, '') || '|' || coalesce(props, '') AS fp,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
bb AS (
  SELECT user_id, ts, event_id, fp, rn,
         (CAST(1 AS BIGINT) << {_SBF_POS.format(i=0)})
         | (CAST(1 AS BIGINT) << {_SBF_POS.format(i=1)}) AS bits
  FROM b
),
rec AS (
  SELECT user_id, ts, event_id, fp, rn, bits,
         CAST(0 AS BIGINT) AS prev_word
  FROM bb WHERE rn = 1
  UNION ALL
  SELECT n.user_id, n.ts, n.event_id, n.fp, n.rn, n.bits,
         r.prev_word | r.bits
  FROM bb n JOIN rec r ON n.user_id = r.user_id AND n.rn = r.rn + 1
)
SELECT user_id, ts, event_id, fp
FROM rec WHERE prev_word & bits <> bits
"""


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini inequality of event values per type
    (`operators/metrics.py:gini`)."""
    return metrics.gini(
        _events(spark, sf_dir), group_col="event_type", value_col="value"
    )


_GINI_ORACLE = """
WITH b AS (
  SELECT event_type AS grp,
         CAST(round(value, 6) AS DECIMAL(18,6)) AS xq
  FROM events
),
r AS (
  SELECT grp, xq,
         row_number() OVER (PARTITION BY grp ORDER BY xq) AS rn
  FROM b
),
a AS (
  SELECT grp, count(*) AS n,
         CAST(sum(xq) AS DOUBLE) AS sx,
         CAST(sum(xq * CAST(rn AS DECIMAL(12,0))) AS DOUBLE) AS swx
  FROM r GROUP BY grp
)
SELECT grp, n, round(sx, 6) AS total,
       round(CASE WHEN sx <> 0
                  THEN 2.0 * swx / (n * sx) - CAST(n + 1 AS DOUBLE) / n
             END, 6) AS gini
FROM a
"""


def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids
    (`operators/similarity.py:centroid_similarity`)."""
    return similarity.centroid_similarity(_table("embeddings")(spark, sf_dir))


_CENTROID_SIM_ORACLE = """
WITH c AS (
  SELECT label, i AS dim,
         floor((CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                              AS DECIMAL(18,6))) AS DOUBLE) / count(*))
               * 1e6 + 0.5) / 1e6 AS cv
  FROM embeddings, unnest(range(1, 65)) AS t(i)
  GROUP BY label, i
),
p AS (
  SELECT a.label AS label_a, b.label AS label_b, a.dim,
         a.cv AS ca, b.cv AS cb
  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
),
g AS (
  SELECT label_a, label_b,
         CAST(sum(CAST(floor(ca * cb * 1e12 + 0.5) / 1e12
                       AS DECIMAL(28,12))) AS DOUBLE) AS dot,
         CAST(sum(CAST(floor(ca * ca * 1e12 + 0.5) / 1e12
                       AS DECIMAL(28,12))) AS DOUBLE) AS na,
         CAST(sum(CAST(floor(cb * cb * 1e12 + 0.5) / 1e12
                       AS DECIMAL(28,12))) AS DOUBLE) AS nb
  FROM p GROUP BY label_a, label_b
)
SELECT label_a, label_b,
       floor((CASE WHEN na > 0 AND nb > 0
                   THEN dot / (sqrt(na) * sqrt(nb)) END)
             * 1e6 + 0.5) / 1e6 AS cosine
FROM g
"""


def q_stream_semantic_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming semantic-dedup ingestion
    (`streaming/pipeline.py:stream_semantic_screen`): the new-batch
    slice (vec_id % 4 == 0) arrives as a one-file stream, is screened
    per micro-batch against the static corpus plus the growing kept
    index, and the index is MERGE-upserted idempotently. One input
    file → one availableNow batch, so the drained index must equal
    the batch operator on the same split — it shares
    `semantic_dedup_incremental`'s oracle verbatim. The corpus side
    is exercised AT REST (`corpus_assigned_path`): the assignment is
    written once partitionBy(cell) and each batch's touched-cell
    filter prunes corpus partitions instead of re-scoring the corpus
    (round-10 verdict ask #2)."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    ensure_engine_conf(spark)
    embs = load_table(spark, sf_dir, "embeddings")
    corpus = embs.filter(F.col("vec_id") % 4 != 0)
    newb = embs.filter(F.col("vec_id") % 4 == 0)
    tmp = tempfile.mkdtemp(prefix="sss_q_")
    # pre-build the at-rest corpus assignment CONCURRENTLY with the
    # stream input write (guide §2.6) — identical state: centroids
    # passed explicitly are exactly the `centroids=None` lowest-id
    # seeds the wiring would derive, and the wiring's fingerprint
    # check then reuses the pre-built assignment instead of
    # rebuilding it
    cents = similarity.ivf_centroids(corpus, similarity.IVF_CENTROIDS_N)
    run_jobs_concurrently(
        lambda: pipeline.materialize_corpus_assignment(
            corpus, cents, f"{tmp}/corpus_assigned"
        ),
        lambda: newb.coalesce(1).write.parquet(f"{tmp}/in"),
    )
    src = pipeline.read_file_stream(spark, f"{tmp}/in")
    q = pipeline.stream_semantic_screen(
        src, corpus, f"{tmp}/index", f"{tmp}/ckpt", threshold=0.3,
        centroids=cents,
        corpus_assigned_path=f"{tmp}/corpus_assigned",
    )
    q.awaitTermination()
    return spark.read.parquet(f"{tmp}/index").select(
        "vec_id", "cell", "centroid_sim"
    )


def q_stream_neardup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash near-dup ingestion
    (`streaming/pipeline.py:stream_neardup_ingest`): the same derived
    crawl batch as `neardup_screen` arrives as a one-file stream, is
    screened per micro-batch against the at-rest corpus band index
    plus the growing stream band index, and the verdict log is
    MERGE-upserted idempotently. One input file → one availableNow
    batch, so the drained verdict log must equal the batch operator
    on the same split — it shares `neardup_screen`'s oracle
    verbatim."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.driver_queries.dedup import (
        _screen_batch,
    )
    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    ensure_engine_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="snd_q_")
    # two independent setup writes (corpus band index, stream input
    # file) overlap as concurrent jobs (guide §2.6)
    run_jobs_concurrently(
        lambda: dedup.write_dedup_index(docs, f"{tmp}/corpus_bands"),
        lambda: _screen_batch(docs).coalesce(1).write.parquet(f"{tmp}/in"),
    )
    src = pipeline.read_file_stream(spark, f"{tmp}/in")
    q = pipeline.stream_neardup_ingest(
        src, f"{tmp}/corpus_bands", f"{tmp}/stream_bands",
        f"{tmp}/out", f"{tmp}/ckpt",
    )
    q.awaitTermination()
    return spark.read.parquet(f"{tmp}/out").select(
        "doc_id", "n_corpus_dups", "n_prior_dups", "dup"
    )


__all__ = [
    "_CENTROID_SIM_ORACLE",
    "_GINI_ORACLE",
    "_SBF_POS",
    "_STREAM_BLOOM_DEDUP_ORACLE",
    "_STREAM_DEDUP_ORACLE",
    "_STREAM_EMA_ORACLE",
    "_STREAM_INTERVAL_JOIN_ORACLE",
    "_STREAM_SESSIONIZE_ORACLE",
    "_STREAM_WINDOW_APPEND_ORACLE",
    "q_centroid_similarity",
    "q_gini",
    "q_stream_bloom_dedup",
    "q_stream_dedup",
    "q_stream_ema",
    "q_stream_interval_join",
    "q_stream_neardup_screen",
    "q_stream_semantic_screen",
    "q_stream_sessionize",
    "q_stream_window_append",
]
