"""SparkSession factory.

Generalizes the reference's two session builders
(`src/spark/jobs/spark_stream_processor.py:28-59`,
`src/spark/jobs/spark_batch_processor.py:16-39`) with the hard-coded
credentials removed and the scale-hostile settings fixed:

- the reference pins ``spark.sql.shuffle.partitions`` to 2
  (`spark_stream_processor.py:39,43`); we size it to the available
  cores and let AQE coalesce at runtime,
- AQE (+ skew-join handling) is on, so the 100 TB plan re-partitions
  itself from runtime statistics instead of hand-tuned constants,
- session timezone is pinned to UTC so event-time windows and date
  truncation are reproducible across hosts,
- Arrow transfer is on for the (rare, clearly-marked) Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    """Worker-thread count: $SPARK_GRAFT_CPUS, else host CPUs."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


#: Conf applied to every engine session. Everything here is also safe to
#: `spark.conf.set` on a live session except the static entries, which
#: are silently ignored at runtime.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # the driver's events.parquet stores TIMESTAMP(NANOS); Spark only
    # reads it as a long with this flag (converted losslessly by
    # functions.cleaning.event_time_from_nanos)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # tz-naive parquet timestamps (pandas/pyarrow default, and the
    # driver's current events.parquet `ts`) would otherwise surface as
    # TIMESTAMP_NTZ, which `withWatermark`/`unix_micros` reject; with
    # the session pinned to UTC, reading them as plain TIMESTAMP is the
    # value-identical interpretation
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # streaming: carried over from the reference's graceful-shutdown conf
    # (`spark_stream_processor.py:35`)
    "spark.streaming.stopGracefullyOnShutdown": "true",
}


def s3a_conf_from_env(env: dict[str, str] | None = None) -> dict[str, str]:
    """Optional object-store profile: the reference wires MinIO via S3A
    with hard-coded credentials (`spark_stream_processor.py:46-53`);
    here the same settings come from the environment and are returned
    as ``spark.hadoop.*`` conf so they apply at builder time (no live
    endpoint needed, nothing set unless configured).

    Env vars: ``SPARK_GRAFT_S3_ENDPOINT`` (required for the profile to
    activate), ``SPARK_GRAFT_S3_ACCESS_KEY`` / ``SPARK_GRAFT_S3_SECRET_KEY``
    (optional — omit to use the default provider chain, e.g. instance
    roles), ``SPARK_GRAFT_S3_SSL`` (default ``false`` — MinIO-style
    endpoints), ``SPARK_GRAFT_S3_PATH_STYLE`` (default ``true``).
    Returns ``{}`` when no endpoint is configured, so callers can
    always merge it.
    """
    e = os.environ if env is None else env
    endpoint = e.get("SPARK_GRAFT_S3_ENDPOINT")
    if not endpoint:
        return {}
    conf = {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.path.style.access": e.get(
            "SPARK_GRAFT_S3_PATH_STYLE", "true"
        ),
        "spark.hadoop.fs.s3a.connection.ssl.enabled": e.get(
            "SPARK_GRAFT_S3_SSL", "false"
        ),
    }
    access, secret = e.get("SPARK_GRAFT_S3_ACCESS_KEY"), e.get(
        "SPARK_GRAFT_S3_SECRET_KEY"
    )
    if access and secret:
        conf.update(
            {
                "spark.hadoop.fs.s3a.access.key": access,
                "spark.hadoop.fs.s3a.secret.key": secret,
                "spark.hadoop.fs.s3a.aws.credentials.provider": (
                    "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
                ),
            }
        )
    return conf


def get_spark(
    app_name: str = "rtsmdp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    for k, v in s3a_conf_from_env().items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    prestart_callback_server(spark)
    return spark


def ensure_min_parallelism(df, target: int | None = None):
    """Round-robin repartition a DataFrame up to the cluster's default
    parallelism — only if it is currently under-partitioned.

    Small single-file inputs otherwise pin CPU-heavy per-row operators
    (MinHash, SimHash) to one task. At scale this is a no-op: a 100 TB
    scan already has far more partitions than cores, so no shuffle is
    added where it would actually hurt.
    """
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` once (``localCheckpoint``) for a caller that reads
    it more than once, and return the materialized copy — the
    package's one way to pin a frame.

    ``localCheckpoint`` runs ``df``'s own query execution, which then
    keeps the executed plan (broadcast relations and their memory
    pages) for as long as ``df``'s Java handle lives. py4j frees a
    handle only when Python's cycle collector gets to it, which in a
    stream can be many micro-batches later, so the handle is released
    here: the caller must not use ``df`` again."""
    done = df.localCheckpoint()
    df._jdf._detach()
    return done


def prestart_callback_server(spark: SparkSession, attempts: int = 3) -> bool:
    """Start the py4j callback server eagerly, while thread pressure is
    lowest.

    PySpark starts this server lazily at the FIRST ``foreachBatch``
    wiring — which in a long oracle sweep lands mid-run, right after
    thread-heavy index-panel queries, where a resource-constrained
    driver host can fail the thread spawn (observed: round-14 driver
    run, ``RuntimeError: can't start new thread`` inside
    ``ensure_callback_server_started``). Starting the one listener
    thread at session setup removes that exposure; the later lazy call
    is then a no-op. Best-effort with a bounded gc+sleep retry — most
    sessions never run a foreachBatch sink, so failure here must not
    break batch-only workloads (the wiring-time call remains the
    authoritative one and will raise if the server truly cannot start).
    """
    try:
        from pyspark.java_gateway import ensure_callback_server_started
    except Exception:
        return False
    for i in range(attempts):
        try:
            gw = spark.sparkContext._gateway
            if gw is None:
                return False
            ensure_callback_server_started(gw)
            return True
        except Exception:
            if i + 1 < attempts:
                import gc
                import time

                gc.collect()
                time.sleep(1.0 + i)
    return False


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine conf to an externally-created
    session (e.g. the correctness driver's). Timezone matters most:
    window starts and date truncation must be UTC to match the oracle.
    """
    prestart_callback_server(spark)
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # only static conf is allowed to fail silently; anything
            # runtime-modifiable must actually land
            if spark.conf.isModifiable(k):
                raise
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise RuntimeError(
            f"spark.sql.session.timeZone={tz!r}: engine queries require UTC "
            "for oracle-reproducible windows and date truncation"
        )
    return spark


def scale_profile(
    executors: int = 1000,
    executor_cores: int = 4,
    scan_partition_mb: int = 256,
    shuffle_target_mb: int = 128,
    broadcast_mb: int = 64,
) -> dict[str, str]:
    """The 100 TB / 1000-executor configuration, as executable code.

    Every scattered scale note in the repo (AQE re-planning, RocksDB
    streaming state, broadcast thresholds, partition sizing) lands here
    as one conf dict, sized from the cluster shape instead of hand
    constants. Merge it over the session via
    ``get_spark(extra_conf=scale_profile(...))`` (builder time) or
    ``apply_scale_profile(spark)`` (live session, runtime-settable
    subset).

    Sizing math, for the defaults (100 TB input, 4000 cores):

    - **Scan tasks**: ``maxPartitionBytes`` 256 MB → ~400k scan splits
      over 100 TB — ~100 waves over 4000 cores, plenty of scheduling
      granularity without task-launch overhead dominating.
    - **Shuffle partitions**: 3× total cores statically; AQE then
      coalesces every post-shuffle stage to ``advisoryPartitionSizeInBytes``
      (128 MB) from runtime statistics, so the static number only needs
      to be "comfortably more than cores", never tuned per-query.
    - **Broadcast**: 64 MB covers every dimension table in the model
      (region/nation/supplier/part at SF where lineitem is 100 TB-scale
      fact data) without risking driver OOM — ~64 MB × cores of
      executor heap is the real constraint, and 4-core executors keep
      that bounded.
    - **Skew**: AQE splits any post-shuffle partition >2× the median
      (and >256 MB) — the runtime complement to the explicit salting
      operators (`operators/relational.py`).
    - **Streaming state**: RocksDB state store with changelog
      checkpointing — state spills to local disk instead of executor
      heap, checkpoint uploads are incremental deltas; required once
      streaming-dedup/join state no longer fits memory.
    """
    cores = executors * executor_cores
    mb = 1024 * 1024
    profile = {
        **ENGINE_CONF,
        "spark.sql.shuffle.partitions": str(3 * cores),
        "spark.sql.files.maxPartitionBytes": str(scan_partition_mb * mb),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            shuffle_target_mb * mb
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(broadcast_mb * mb),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(
            2 * shuffle_target_mb * mb
        ),
        # scan-side partial aggregation for min/max/count-over-parquet
        "spark.sql.parquet.aggregatePushdown": "true",
        # columnar writes at scale: zstd ~ snappy speed at better ratio
        "spark.sql.parquet.compression.codec": "zstd",
        # pandas-UDF paths: bound Arrow batch memory per task
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    }
    from real_time_stock_market_data_pipeline__spark.streaming.pipeline import (
        ROCKSDB_STATE_CONF,
    )

    profile.update(ROCKSDB_STATE_CONF)
    return profile


def apply_scale_profile(spark: SparkSession, **kwargs) -> dict[str, str]:
    """Apply the runtime-settable subset of :func:`scale_profile` to a
    live session; returns the previous values of every key it changed
    (so tests — or a cautious operator — can restore them)."""
    prev: dict[str, str] = {}
    for k, v in scale_profile(**kwargs).items():
        if not spark.conf.isModifiable(k):
            continue
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None  # type: ignore[assignment]
        spark.conf.set(k, v)
    return prev
