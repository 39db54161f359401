"""Streaming pipeline and sink tests (SURVEY.md §5 item 2): the
streamed dual-window metrics must equal the batch transform on the same
fixture; the incremental path must upsert, not duplicate; sinks must
round-trip."""

from __future__ import annotations

import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark import sinks
from real_time_stock_market_data_pipeline__spark.operators.metrics import (
    realtime_metrics,
)
from real_time_stock_market_data_pipeline__spark.oracle_compare import value_hash
from real_time_stock_market_data_pipeline__spark.sources.registry import (
    load_table,
    read_partitioned,
)
from real_time_stock_market_data_pipeline__spark.streaming import pipeline


def _hash_df(df):
    return value_hash(df.columns, [tuple(r) for r in df.collect()])


OUT_COLS = [
    "symbol",
    "window_start",
    "window_15m_end",
    "window_1h_end",
    "moving_avg_price_15m",
    "moving_avg_price_1h",
    "price_volatility_15m",
    "price_volatility_1h",
    "total_volume_15m",
    "total_volume_1h",
]


def test_streamed_equals_batch(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="rtsmdp_t_")
    src = pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet")
    q = pipeline.stream_realtime_metrics(
        src,
        target_path=f"{tmp}/m",
        checkpoint_path=f"{tmp}/c",
        symbol_col="event_type",
        ts_col="ts",
        price_col="value",
        available_now=True,
    )
    q.awaitTermination()
    streamed = spark.read.parquet(f"{tmp}/m").select(*OUT_COLS)
    batch = realtime_metrics(
        load_table(spark, sf_dir, "events"),
        symbol_col="event_type",
        ts_col="ts",
        price_col="value",
    ).select(*OUT_COLS)
    assert _hash_df(streamed) == _hash_df(batch)


def test_streaming_restart_is_idempotent(spark, sf_dir):
    """Re-running the drained stream (fresh checkpoint, same input)
    must leave the target unchanged — the T10 idempotence property the
    reference gets from its MERGE key."""
    tmp = tempfile.mkdtemp(prefix="rtsmdp_t_")

    def run(ckpt: str) -> None:
        src = pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet")
        q = pipeline.stream_realtime_metrics(
            src,
            target_path=f"{tmp}/m",
            checkpoint_path=f"{tmp}/{ckpt}",
            symbol_col="event_type",
            ts_col="ts",
            price_col="value",
            available_now=True,
        )
        q.awaitTermination()

    run("c1")
    h1 = _hash_df(spark.read.parquet(f"{tmp}/m"))
    run("c2")
    h2 = _hash_df(spark.read.parquet(f"{tmp}/m"))
    assert h1 == h2


def test_rocksdb_state_store_matches_default(spark, sf_dir):
    """The RocksDB provider is a state-*storage* swap: a stateful
    streaming aggregation must produce byte-identical results under
    either provider (and actually run with RocksDB — this executes the
    query, it doesn't just set the conf)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    default_provider = spark.conf.get(key)

    def run(out_dir: str) -> None:
        src = pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet")
        q = pipeline.stream_window_metrics_append(
            src,
            target_path=f"{out_dir}/m",
            checkpoint_path=f"{out_dir}/c",
            symbol_col="event_type",
            ts_col="ts",
            price_col="value",
            available_now=True,
        )
        q.awaitTermination()

    tmp = tempfile.mkdtemp(prefix="rtsmdp_rocks_")
    try:
        pipeline.with_rocksdb_state(spark)
        run(f"{tmp}/rocks")
        spark.conf.set(key, default_provider)
        run(f"{tmp}/heap")
    finally:
        spark.conf.set(key, default_provider)
    rocks = spark.read.parquet(f"{tmp}/rocks/m")
    heap = spark.read.parquet(f"{tmp}/heap/m")
    cols = sorted(rocks.columns)
    assert _hash_df(rocks.select(*cols)) == _hash_df(heap.select(*cols))


def test_merge_upsert_parquet_updates_keys(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="rtsmdp_t_")
    path = f"{tmp}/tbl"
    ev = load_table(spark, sf_dir, "events").limit(100)
    first = ev.filter(F.col("event_id") < 50)
    sinks.merge_upsert_parquet(spark, first, path, keys=["event_id"])
    assert spark.read.parquet(path).count() == first.count()
    updated = ev.filter(F.col("event_id") < 20).withColumn(
        "value", F.lit(-1.0)
    )
    sinks.merge_upsert_parquet(spark, updated, path, keys=["event_id"])
    out = spark.read.parquet(path)
    assert out.count() == first.count()
    assert out.filter(F.col("value") == -1.0).count() == updated.count()


def test_parquet_roundtrip_partition_pruning(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="rtsmdp_t_")
    path = f"{tmp}/part"
    ev = load_table(spark, sf_dir, "events").limit(300)
    enriched = ev.select(
        "*",
        F.year("ts").alias("year"),
        F.month("ts").alias("month"),
        F.dayofmonth("ts").alias("day"),
    )
    sinks.write_parquet_partitioned(
        enriched, path, partition_cols=["year", "month", "day"]
    )
    pruned = read_partitioned(spark, path, year=2024, month=1, day=2)
    assert 0 < pruned.count() < spark.read.parquet(path).count()


def test_csv_roundtrip(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="rtsmdp_t_")
    path = f"{tmp}/csv"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).limit(50)
    sinks.write_csv_partitioned(ev, path, partition_cols=["event_type"])
    back = (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .csv(path)
    )
    assert back.count() == 50
    assert set(back.columns) == {"event_id", "value", "event_type"}


def test_kafka_writer_shapes_keyed_json(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").limit(5)
    writer = sinks.kafka_writer(ev, "localhost:9092", "ticks", key_col="event_type")
    # the configured writer's underlying frame must be (key, value) JSON
    rows = sinks.encode_keyed_json(ev, "event_type").collect()
    assert all(r["value"].startswith("{") and '"event_id"' in r["value"] for r in rows)
    assert writer is not None


def test_kafka_codec_roundtrip_is_lossless(spark, sf_dir):
    """decode_keyed_json must exactly invert encode_keyed_json — the
    producer wire shape and the consumer decode the Kafka source
    applies, minus the broker. Micro-precision timestamps and doubles
    must survive the JSON hop bit-for-bit."""
    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    ev = load_table(spark, sf_dir, "events").limit(200)
    wire = sinks.encode_keyed_json(ev, key_col="event_type")
    back = pipeline.decode_keyed_json(wire, ev.schema)
    assert back.columns == ["symbol_key"] + ev.columns
    orig = sorted(map(tuple, ev.collect()))
    got = sorted(r[1:] for r in map(tuple, back.collect()))
    assert got == orig


def test_merge_upsert_parquet_recovers_from_crashed_swap(
    spark, sf_dir, crash_at
):
    """A crash between the two swap renames leaves data only at the
    table's hidden .old sibling; the next merge_upsert_parquet call
    must recover it before merging (single-writer self-healing)."""
    import os

    tmp = tempfile.mkdtemp(prefix="rtsmdp_t_")
    path = f"{tmp}/tbl"
    ev = load_table(spark, sf_dir, "events").limit(100)
    first = ev.filter(F.col("event_id") < 50)
    sinks.merge_upsert_parquet(spark, first, path, keys=["event_id"])
    updated = ev.filter(F.col("event_id") < 20).withColumn("value", F.lit(-1.0))
    # the crash window: table dir gone, data stranded at .old
    with pytest.raises(crash_at("rename", 2)):
        sinks.merge_upsert_parquet(spark, updated, path, keys=["event_id"])
    assert not os.path.exists(path)
    sinks.merge_upsert_parquet(spark, updated, path, keys=["event_id"])
    out = spark.read.parquet(path)
    assert out.count() == first.count()  # recovered rows survived
    assert out.filter(F.col("value") == -1.0).count() == updated.count()
    assert os.listdir(tmp) == ["tbl"]


def test_stream_sessionize_matches_batch(spark, sf_dir, tmp_path):
    """Native session_window streaming sessions == batch sessionize on
    the same drained fixture: same (key, session_start, n_events)
    rows. (Bounds close at last+gap in streaming by definition, so
    ends are not compared.)"""
    from real_time_stock_market_data_pipeline__spark.operators import temporal

    src = pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet")
    q = (
        pipeline.stream_sessionize(src, "user_id", "ts", gap_seconds=1800)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "m"))
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.read.parquet(str(tmp_path / "m")).select(
        "key", "session_start", "n_events"
    )
    ev = load_table(spark, sf_dir, "events")
    batch = temporal.sessionize(ev, "user_id", "ts", "event_id", 1800).select(
        "key", "session_start", "n_events"
    )
    # append mode withholds sessions still open at end-of-input (the
    # watermark never passes them): streamed ⊆ batch, and every
    # emitted session matches the batch row exactly
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert set(srows) <= set(brows)
    assert len(srows) >= 0.9 * len(brows)


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key with equal bucket counts
    must join without any Exchange — the write-time shuffle replaces
    the query-time one."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        sinks.write_bucketed(li, "bkt_lineitem", ["l_orderkey"], 4, ["l_orderkey"])
        sinks.write_bucketed(orders, "bkt_orders", ["o_orderkey"], 4, ["o_orderkey"])
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_lineitem").join(
            spark.table("bkt_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and the co-located join is still the correct join
        assert joined.count() == li.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_input_ready_gate(spark, sf_dir, tmp_path):
    import shutil

    single_file = f"{sf_dir}/events.parquet"
    missing = str(tmp_path / "nope")
    empty = str(tmp_path / "empty")
    spark.range(0).write.parquet(empty)
    # rows only in places a Spark scan skips: the commit marker and an
    # uncommitted task attempt
    staged = tmp_path / "staged"
    (staged / "_temporary" / "0").mkdir(parents=True)
    (staged / "_SUCCESS").write_bytes(b"")
    shutil.copy(single_file, staged / "_temporary" / "0" / "part-0.parquet")
    nested = str(tmp_path / "nested")
    spark.range(4).select(
        F.col("id"), (F.col("id") % 2).alias("year"), F.lit(0).alias("bp")
    ).write.partitionBy("year", "bp").parquet(nested)
    broken = tmp_path / "broken"
    broken.mkdir()
    (broken / "part-0.parquet").write_bytes(b"not a parquet file")

    sc = spark.sparkContext
    sc.setJobGroup("input_ready_gate", "footer gate starts no job")
    try:
        assert sinks.input_ready(spark, single_file)
        assert sinks.input_ready(spark, nested)
        assert not sinks.input_ready(spark, missing)
        assert not sinks.input_ready(spark, empty)
        assert not sinks.input_ready(spark, str(staged))
        assert not sinks.input_ready(spark, str(broken))
        # a file: URI is the same local path; a remote store fails loudly
        # instead of reading as empty
        assert sinks.input_ready(spark, f"file://{nested}")
        assert sinks.input_ready(spark, f"file:{nested}")
        assert not sinks.input_ready(spark, f"file://{missing}")
        for remote in ("s3a://bucket/events", "hdfs://nn:8020/events"):
            with pytest.raises(ValueError, match="local paths only"):
                sinks.input_ready(spark, remote)
        assert list(sc.statusTracker().getJobIdsForGroup("input_ready_gate")) == []
        # the probe itself sees a job run under the group
        spark.range(1).count()
        assert list(sc.statusTracker().getJobIdsForGroup("input_ready_gate"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_rate_source_builds(spark):
    df = pipeline.read_rate_stream(spark)
    assert df.isStreaming
    assert set(df.columns) == {"ts", "symbol", "price", "volume"}


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join drained with availableNow == the
    same interval join on the static frames (inner join, both sides
    complete at drain)."""
    def src():
        return pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet")

    left = src().select(
        F.col("event_type"), F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    right = src().select(
        F.col("event_type"), F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    joined = pipeline.stream_interval_join(
        left, right, "event_type", "l_ts", "r_ts", lower_s=0, upper_s=30
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "m"))
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.read.parquet(str(tmp_path / "m"))
    ev = load_table(spark, sf_dir, "events")
    bl = ev.select("event_type", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id"))
    br = ev.select(
        F.col("event_type").alias("rk"), F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    batch = bl.join(
        br,
        (F.col("event_type") == F.col("rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 SECONDS")),
    ).drop("rk")
    cols = sorted(streamed.columns)
    assert sorted(map(tuple, streamed.select(*cols).collect())) == sorted(
        map(tuple, batch.select(*cols).collect())
    )


def test_compact_parquet_preserves_rows_and_shrinks_files(spark, tmp_path):
    import glob

    from real_time_stock_market_data_pipeline__spark import sinks

    dest = str(tmp_path / "frag")
    # fragment: 24 tiny files
    spark.range(0, 2400).repartition(24).write.parquet(dest)
    before = len(glob.glob(f"{dest}/*.parquet"))
    assert before >= 24
    report = sinks.compact_parquet(spark, dest)
    assert report["files_before"] == before
    assert report["files_after"] == 1
    assert report["rows"] == 2400
    assert spark.read.parquet(dest).count() == 2400
    # ids survive exactly
    got = {r.id for r in spark.read.parquet(dest).collect()}
    assert got == set(range(2400))


def test_stream_rate_alert_only_breaches(spark, sf_dir):
    from real_time_stock_market_data_pipeline__spark.driver_queries import (
        q_stream_rate_alert,
    )

    rows = q_stream_rate_alert(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_events > 3
        assert r.severity > 1.0
        assert (r.window_end - r.window_start).total_seconds() == 6 * 3600


def test_partitioned_merge_upsert_parquet_touches_only_batch_cells(
    spark, tmp_path
):
    """Partition-scoped upsert (round-9 ADVICE): merging a batch that
    touches one cell must not rewrite the other cells' files; merge
    semantics on the key hold; replaying the same batch is a no-op
    (idempotence under checkpoint replay)."""
    import glob
    import os

    from real_time_stock_market_data_pipeline__spark import sinks

    path = str(tmp_path / "idx")
    first = spark.createDataFrame(
        [(1, 0, 0.9), (2, 0, 0.8), (3, 1, 0.7), (4, 2, 0.6)],
        "vec_id: long, cell: int, centroid_sim: double",
    )
    sinks.merge_upsert_parquet(
        spark, first, path, keys=["vec_id"], partition_col="cell"
    )
    assert sorted(
        tuple(r) for r in spark.read.parquet(path)
        .select("vec_id", "cell", "centroid_sim").collect()
    ) == [(1, 0, 0.9), (2, 0, 0.8), (3, 1, 0.7), (4, 2, 0.6)]

    untouched_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/cell=1/*.parquet")
        + glob.glob(f"{path}/cell=2/*.parquet")
    }
    assert untouched_files

    # batch 2: update id=2 (cell 0), insert id=5 (cell 0)
    second = spark.createDataFrame(
        [(2, 0, 0.85), (5, 0, 0.5)],
        "vec_id: long, cell: int, centroid_sim: double",
    )
    sinks.merge_upsert_parquet(
        spark, second, path, keys=["vec_id"], partition_col="cell"
    )
    got = sorted(
        tuple(r) for r in spark.read.parquet(path)
        .select("vec_id", "cell", "centroid_sim").collect()
    )
    assert got == [
        (1, 0, 0.9), (2, 0, 0.85), (3, 1, 0.7), (4, 2, 0.6), (5, 0, 0.5)
    ]
    # cells 1 and 2 were never rewritten
    for f, mtime in untouched_files.items():
        assert os.path.exists(f) and os.path.getmtime(f) == mtime

    # replay (crash-restart): same batch again -> identical state
    sinks.merge_upsert_parquet(
        spark, second, path, keys=["vec_id"], partition_col="cell"
    )
    again = sorted(
        tuple(r) for r in spark.read.parquet(path)
        .select("vec_id", "cell", "centroid_sim").collect()
    )
    assert again == got

    # empty batch: no-op, files untouched
    sinks.merge_upsert_parquet(
        spark, first.limit(0), path, keys=["vec_id"], partition_col="cell"
    )
    assert spark.read.parquet(path).count() == 5


def test_touched_values_collect_in_one_job(spark):
    """The touched slice or partition values of a batch come from one
    single-stage job, de-duplicated on the driver: no distinct()
    shuffle, which adaptive execution would run as a second job."""
    batch = spark.range(100).select(
        F.when(F.col("id") % 4 == 3, None)
        .otherwise(F.col("id") % 4)
        .alias("cell")
    )
    sc = spark.sparkContext
    sc.setJobGroup("touched_values", "touched-value collect")
    try:
        assert sinks._distinct_values(batch, "cell") == {0, 1, 2, None}
        assert len(sc.statusTracker().getJobIdsForGroup("touched_values")) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


_SLICED_SCHEMA = "symbol string, window_start timestamp, v double"


def _sliced(spark, rows, path, hourly=True):
    sinks.merge_upsert_parquet(
        spark, spark.createDataFrame(rows, _SLICED_SCHEMA), path,
        keys=["symbol", "window_start"],
        slice_by=F.date_format("window_start", "yyyyMMddHH") if hourly else None,
    )


def _file_ids(path, prefix=""):
    """{data file name: (inode, mtime)} of a flat table's root."""
    return {
        n: (st.st_ino, st.st_mtime_ns)
        for n in os.listdir(path)
        if n.startswith(prefix) and n.endswith(".parquet")
        for st in [os.stat(os.path.join(path, n))]
    }


def _sorted_rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_sliced_merge_rewrites_only_touched_slices(spark, tmp_path):
    """A batch that touches hour slice A leaves every file of slice B
    with its inode and mtime, merges A on the key, and a replay of the
    same batch changes neither the rows nor slice B."""
    from datetime import datetime

    path = str(tmp_path / "t")
    a, b = datetime(2024, 1, 2, 10, 10), datetime(2024, 1, 2, 11, 10)
    _sliced(spark, [("X", a, 1.0), ("Y", a, 2.0), ("X", b, 3.0)], path)
    assert {n.split("~")[0] for n in _file_ids(path)} == {
        "2024010210", "2024010211"
    }
    slice_b = _file_ids(path, "2024010211~")
    batch = [("X", a, 5.0), ("Z", datetime(2024, 1, 2, 10, 50), 6.0)]
    want = [("X", a, 5.0), ("X", b, 3.0), ("Y", a, 2.0),
            ("Z", datetime(2024, 1, 2, 10, 50), 6.0)]
    for _ in range(2):  # apply + replay
        _sliced(spark, batch, path)
        assert _sorted_rows(spark, path) == want
        assert _file_ids(path, "2024010211~") == slice_b


def test_sliced_merge_converges_a_flat_table(spark, tmp_path):
    """A table written by the unsliced merge (``part-*`` names) is
    rewritten into slice files by the first sliced merge, with the
    rows and the columns the unsliced merge gives: no hidden slice
    column reaches the files."""
    from datetime import datetime

    seed = [("X", datetime(2024, 1, 2, 9, 50), 1.0),
            ("Y", datetime(2024, 1, 2, 11, 0), 2.0)]
    batch = [("X", datetime(2024, 1, 2, 9, 50), 3.0),
             ("Z", datetime(2024, 1, 2, 11, 20), 4.0)]
    flat, sliced = str(tmp_path / "flat"), str(tmp_path / "sliced")
    for path in (flat, sliced):
        _sliced(spark, seed, path, hourly=False)
    assert all(n.startswith("part-") for n in _file_ids(sliced))
    _sliced(spark, batch, flat, hourly=False)
    _sliced(spark, batch, sliced)
    names = _file_ids(sliced)
    assert {n.split("~")[0] for n in names} == {"2024010209", "2024010211"}
    assert _sorted_rows(spark, sliced) == _sorted_rows(spark, flat)
    assert spark.read.parquet(sliced).columns == spark.read.parquet(flat).columns


@pytest.mark.parametrize("broadcast_threshold", ["-1", None])
def test_sliced_merge_writes_one_file_per_touched_slice(
    spark, tmp_path, broadcast_threshold
):
    """Three merges that touch the same nine slices (more than the
    writer tasks, which stop at one per core) leave each slice one data
    file, whether the anti-join is a shuffle (threshold -1) or the
    broadcast the default gives, which keeps one read partition per
    file read."""
    from collections import Counter
    from datetime import datetime

    conf = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(conf)
    if broadcast_threshold is not None:
        spark.conf.set(conf, broadcast_threshold)
    try:
        path = str(tmp_path / "t")
        for i in range(3):
            _sliced(spark, [
                (f"S{k}", datetime(2024, 1, 2, 10 + k % 9, 10 * i), float(i))
                for k in range(18)
            ], path)
        files = Counter(n.split("~")[0] for n in _file_ids(path))
        assert files == {f"20240102{h}": 1 for h in range(10, 19)}
        assert len(_sorted_rows(spark, path)) == 54
    finally:
        spark.conf.set(conf, before)


def test_sliced_merge_keeps_checksums(spark, tmp_path):
    """Every slice file keeps its Hadoop checksum through the flatten
    (slice 10, rewritten) and the hard link (slice 11, untouched by
    the second merge), so a flipped byte in either file fails the read
    instead of returning a changed value."""
    import random
    import struct
    from datetime import datetime

    path = str(tmp_path / "t")
    # random mantissas: snappy finds no repeats, so each price is
    # stored verbatim in its data page
    rng = random.Random(7)
    rows = [
        (f"S{k}", datetime(2024, 1, 2, 10 + k % 2, k), rng.uniform(1, 1e3))
        for k in range(40)
    ]
    _sliced(spark, rows, path)
    _sliced(spark, rows[:1], path)  # touches slice 10 only
    for name in _file_ids(path):
        assert os.path.exists(os.path.join(path, f".{name}.crc")), name
    for token, k in (("2024010210", 20), ("2024010211", 21)):
        [name] = _file_ids(path, f"{token}~")
        data = os.path.join(path, name)
        blob = bytearray(open(data, "rb").read())
        # flip the low mantissa byte of one stored price: a silent
        # value change for a reader that does not check the checksum
        at = blob.find(struct.pack("<d", rows[k][2]))
        assert at > 0
        blob[at] ^= 0x01
        open(data, "wb").write(bytes(blob))
        with pytest.raises(Exception, match="ChecksumException"):
            spark.read.parquet(path).collect()
        blob[at] ^= 0x01
        open(data, "wb").write(bytes(blob))
    assert len(_sorted_rows(spark, path)) == 40


def test_stream_drains_in_later_hour_leave_earlier_hours(spark, tmp_path):
    """Two ``stream_realtime_metrics`` drains whose ticks fall in
    different hours: the second writes its hour's slice and leaves
    every file of the first drain's hours untouched."""
    from datetime import datetime

    src, target = str(tmp_path / "src"), str(tmp_path / "m")

    def drain(rows):
        spark.createDataFrame(
            rows, "symbol string, ts timestamp, price double"
        ).coalesce(1).write.mode("append").parquet(src)
        pipeline.stream_realtime_metrics(
            pipeline.read_file_stream(spark, src),
            target_path=target,
            checkpoint_path=str(tmp_path / "c"),
            available_now=True,
        ).awaitTermination()

    drain([("AAA", datetime(2024, 1, 2, 10, 2), 10.0),
           ("AAA", datetime(2024, 1, 2, 10, 12), 11.0)])
    first = _file_ids(target)
    assert {n.split("~")[0] for n in first} == {"2024010209", "2024010210"}
    drain([("AAA", datetime(2024, 1, 2, 12, 31), 12.0)])
    after = _file_ids(target)
    assert {n: after.get(n) for n in first} == first
    assert {n.split("~")[0] for n in after} == {
        "2024010209", "2024010210", "2024010212"
    }


def test_compact_batch_partitions_flat_and_replay_safety(spark, tmp_path):
    """Flat bp table: folding the committed prefix consolidates into
    bp=-1, keeps newer partitions byte-identical, preserves rows, and
    a replay of an UNfolded batch stays idempotent (overwrites its
    own partition) — the invariant upto_bp exists to protect."""
    path = str(tmp_path / "t")
    sinks.append_batch_partition(
        spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v")),
        path,
        sinks.BASE_BP,
    )
    for b in range(4):
        sinks.append_batch_partition(
            spark.range(100 * (b + 1) + 1000, 100 * (b + 1) + 1010).select(
                F.col("id"), (F.col("id") * 2).alias("v")
            ),
            path,
            b,
        )
    before = sorted(tuple(r) for r in spark.read.parquet(path).drop("bp").collect())
    rep = sinks.compact_batch_partitions(spark, path, upto_bp=2)
    assert rep and rep[os.path.basename(path)]["bp_dirs_after"] == 2
    dirs = sorted(
        e for e in os.listdir(path) if e.startswith("bp=")
    )
    assert dirs == ["bp=-1", "bp=3"]
    assert sorted(
        tuple(r) for r in spark.read.parquet(path).drop("bp").collect()
    ) == before
    # replay of the unfolded batch 3: same rows land in bp=3 again —
    # total unchanged (idempotent by layout)
    sinks.append_batch_partition(
        spark.range(1400, 1410).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ),
        path,
        3,
    )
    assert sorted(
        tuple(r) for r in spark.read.parquet(path).drop("bp").collect()
    ) == before
    # second compaction with nothing new to fold: no-op
    assert sinks.compact_batch_partitions(spark, path, upto_bp=2) == {}


def test_compact_batch_partitions_nested_and_heal(spark, tmp_path):
    """Nested cell=*/bp=* layout: each prune directory compacts
    independently, the prune key keeps working, and an interrupted
    swap (orphaned .old directory) self-heals on the next call."""
    import shutil as _sh

    path = str(tmp_path / "t")
    for b in (sinks.BASE_BP, 0, 1):
        sinks.append_batch_partition(
            spark.range(20).select(
                F.col("id"), (F.col("id") % 4).cast("int").alias("cell")
            ),
            path,
            b,
            "cell",
        )
    before = sorted(
        tuple(r) for r in spark.read.parquet(path).drop("bp").collect()
    )
    rep = sinks.compact_batch_partitions(spark, path, upto_bp=1, prune_col="cell")
    assert len(rep) == 4  # every cell had 3 bp dirs
    for cd in os.listdir(path):
        if cd.startswith("cell="):
            assert sorted(os.listdir(os.path.join(path, cd))) == ["bp=-1"]
    after = sorted(
        tuple(r) for r in spark.read.parquet(path).drop("bp").collect()
    )
    assert after == before
    # pruning still works on the consolidated layout
    assert (
        spark.read.parquet(path).filter(F.col("cell") == 2).count()
        == sum(1 for r in before if r[1] == 2)
    )
    # heal: orphan one cell directory as .old (crash between renames)
    victim = os.path.join(path, "cell=2")
    os.rename(victim, sinks._hidden(victim, "old"))
    sinks.compact_batch_partitions(spark, path, upto_bp=1, prune_col="cell")
    assert os.path.isdir(victim)
    assert not os.path.isdir(sinks._hidden(victim, "old"))
    assert sorted(
        tuple(r) for r in spark.read.parquet(path).drop("bp").collect()
    ) == before


# ---------------------------------------------------------------------------
# Every streaming side table is a bp=<batch_id> append: wiring refuses a
# table that holds data without bp partitions, before any micro-batch.
# ---------------------------------------------------------------------------

_DOCS = "doc_id: long, text: string"
_VECS = "vec_id: long, embedding: array<float>"
#: two orthogonal 64-dim unit vectors (the embeddings table's width)
_E0, _E1 = [1.0] + [0.0] * 63, [0.0, 1.0] + [0.0] * 62


def _rewrite_flat(spark, path):
    """Strip ``bp`` from a freshly built table: the pre-bp flat layout."""
    import shutil

    spark.read.parquet(path).drop("bp").write.parquet(path + "_flat")
    shutil.rmtree(path)
    os.rename(path + "_flat", path)


def _first_batch(spark, path, schema, row, prune_col=None):
    """``path`` as the service's first micro-batch leaves it."""
    sinks.append_batch_partition(
        spark.createDataFrame([row], schema), path, 0, prune_col
    )


def _docs(spark):
    return spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota")], _DOCS
    )


def _vecs(spark):
    return spark.createDataFrame(
        [(0, _E0), (1, _E1)], _VECS
    ).withColumn("label", F.lit(0))


def _semantic(spark, d):
    _first_batch(spark, f"{d}/idx", "vec_id: long, cell: int", (5, 0),
                 "cell")

    def wire(src, ckpt):
        return pipeline.stream_semantic_screen(
            src, _vecs(spark).drop("label"), f"{d}/idx", ckpt,
            centroids=[_E0],
        )

    return f"{d}/idx", _VECS, wire


def _substring(spark, d):
    from real_time_stock_market_data_pipeline__spark.operators import dedup

    dedup.write_block_index(_docs(spark), f"{d}/idx", partitioned=True)

    def wire(src, ckpt):
        return pipeline.stream_substring_ingest(
            src, f"{d}/idx", f"{d}/out", ckpt
        )

    return f"{d}/idx", _DOCS, wire


def _neardup(spark, d):
    from real_time_stock_market_data_pipeline__spark.operators import dedup

    dedup.write_dedup_index(_docs(spark), f"{d}/corpus_bands")
    _first_batch(spark, f"{d}/out", "doc_id: long, dup: boolean", (5, False))

    def wire(src, ckpt):
        return pipeline.stream_neardup_ingest(
            src, f"{d}/corpus_bands", f"{d}/bands", f"{d}/out", ckpt
        )

    return f"{d}/out", _DOCS, wire


def _bm25(spark, d):
    from real_time_stock_market_data_pipeline__spark.operators import text

    text.bm25_write_index(_docs(spark), d)
    return f"{d}/doclens", _DOCS, (
        lambda src, ckpt: pipeline.stream_bm25_ingest(src, d, ckpt)
    )


def _bq(spark, d):
    from real_time_stock_market_data_pipeline__spark.operators import (
        similarity,
    )

    similarity.bq_write_index(_vecs(spark), d)
    return d, _VECS, (
        lambda src, ckpt: pipeline.stream_bq_ingest(src, d, ckpt)
    )


def _contrastive(spark, d):
    from real_time_stock_market_data_pipeline__spark.operators import (
        similarity,
    )

    similarity.contrastive_write_index(_vecs(spark), d, centroids=[_E0, _E1])
    return d, _VECS + ", label: int", (
        lambda src, ckpt: pipeline.stream_contrastive_ingest(src, d, ckpt)
    )


def _curation(spark, d):
    from real_time_stock_market_data_pipeline__spark.operators import (
        curation,
    )

    curation.curation_write_state(_docs(spark), d)
    _first_batch(spark, f"{d}/verdicts", "doc_id: long, kept: boolean",
                 (5, True))
    return f"{d}/verdicts", _DOCS, (
        lambda src, ckpt: pipeline.stream_curation_ingest(src, d, ckpt)
    )


def _dsir(spark, d):
    from real_time_stock_market_data_pipeline__spark.operators import text

    text.dsir_write_index(_docs(spark).withColumn("lang", F.lit("en")), d)
    return f"{d}/docs", _DOCS + ", lang: string", (
        lambda src, ckpt: pipeline.stream_dsir_ingest(src, d, ckpt)
    )


@pytest.mark.parametrize(
    "build",
    [_semantic, _substring, _neardup, _bm25, _bq, _contrastive, _curation,
     _dsir],
    ids=lambda f: f.__name__.strip("_"),
)
def test_ingest_wiring_refuses_pre_bp_table(spark, tmp_path, build):
    """A side table rewritten without its bp partitions (the pre-bp
    flat layout) is refused with a ValueError naming the table when the
    service is wired — the stream never starts, so no micro-batch runs
    and no checkpoint is written."""
    table, schema, wire = build(spark, str(tmp_path / "state"))
    _rewrite_flat(spark, table)
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    src = pipeline.read_file_stream(
        spark, in_dir, schema=spark.createDataFrame([], schema).schema
    )
    with pytest.raises(ValueError, match=re.escape(f"{table} holds data")):
        wire(src, ckpt)
    assert not os.path.exists(ckpt)


@pytest.mark.parametrize(
    "build", [_bq, _contrastive], ids=lambda f: f.__name__.strip("_")
)
def test_base_build_replaces_streamed_table(spark, tmp_path, build):
    """Re-running an index builder over a table a stream has appended
    to replaces the whole table — flat (bq) and cell-nested
    (contrastive) alike: no bp>=0 partition survives, and the rows
    equal a fresh build's."""
    import glob

    def live_bps(path):
        return [
            d
            for d in glob.glob(f"{path}/**/bp=*", recursive=True)
            if not d.endswith(f"bp={sinks.BASE_BP}")
        ]

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    table, schema, wire = build(spark, str(tmp_path / "state"))
    in_dir = str(tmp_path / "in")
    _vecs(spark).withColumn("vec_id", F.col("vec_id") + 10).select(
        *spark.createDataFrame([], schema).columns
    ).write.parquet(in_dir)
    wire(
        pipeline.read_file_stream(spark, in_dir), str(tmp_path / "ckpt")
    ).awaitTermination()
    assert live_bps(table)

    build(spark, str(tmp_path / "state"))
    assert live_bps(table) == []
    fresh, _, _ = build(spark, str(tmp_path / "fresh"))
    assert rows(table) == rows(fresh)
