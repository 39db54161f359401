#!/usr/bin/env python
"""Intra-batch breakdown of stream_curation_ingest's single
availableNow drain at sf0.1: wraps the eager points (DataFrame
.collect / .localCheckpoint, the service's append_batch_partition,
curation_write_state) with wall timers. The lazy lanes' execution
cost lands in whichever write/collect first forces them, so the
table below is the true sequential action timeline of one batch.
Throwaway measurement harness (guide §1)."""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.1"
LOG: list[tuple[str, float]] = []


def timed(label, fn):
    def wrap(*a, **k):
        t0 = time.time()
        r = fn(*a, **k)
        LOG.append((label, round(time.time() - t0, 3)))
        return r

    return wrap


def main() -> None:
    import tempfile

    # the classic DataFrame overrides the eager methods, so patch it
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline__spark.driver_queries._shared import (  # noqa: E501
        ensure_engine_conf,
    )
    from real_time_stock_market_data_pipeline__spark.operators import curation
    from real_time_stock_market_data_pipeline__spark.session import get_spark
    from real_time_stock_market_data_pipeline__spark.sources.registry import (
        load_table,
    )
    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    # instrument the eager points; the service calls the writer through
    # the name the pipeline module bound at import, so wrap that one
    pipeline.append_batch_partition = timed(
        "append_batch_partition", pipeline.append_batch_partition
    )
    DataFrame.collect = timed("collect", DataFrame.collect)
    DataFrame.localCheckpoint = timed(
        "localCheckpoint", DataFrame.localCheckpoint
    )

    spark = get_spark("rtsmdp-profile-curation-drain")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_engine_conf(spark)
    load_table(spark, SF_DIR, "documents").write.format("noop").mode(
        "overwrite"
    ).save()

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    tmp = tempfile.mkdtemp(prefix="curation_prof2_")
    path = f"{tmp}/state"
    t0 = time.time()
    curation.curation_write_state(bench, path, min_score=0.8, min_words=30)
    LOG.append(("write_state_total", round(time.time() - t0, 3)))
    docs.coalesce(1).write.parquet(f"{tmp}/in")
    src = pipeline.read_file_stream(spark, f"{tmp}/in")
    t0 = time.time()
    q = pipeline.stream_curation_ingest(src, path, f"{tmp}/ckpt")
    q.awaitTermination()
    LOG.append(("drain_total", round(time.time() - t0, 3)))
    for label, sec in LOG:
        print(f"STEP {label}: {sec}")
    spark.stop()


if __name__ == "__main__":
    main()
