"""Measured A/B for stream_semantic_screen's two scale trades
(round-10 verdict asks #2 and #3). Prints one JSON line per
experiment; results are recorded in BASELINE.md.

Experiment A — corpus side, lazy recompute vs at rest
  (``corpus_assigned_path``): per-batch drain times at corpus ×1 and
  ×10. The claim under test: with the assignment at rest the
  steady-state batch time no longer tracks corpus size (the
  touched-cell isin is partition pruning); the lazy plan re-scores
  the full corpus every batch.

Experiment B — index side, flat read-merge-swap sink vs the
  cell-partitioned MERGE sink at the shape the partitioned sink
  targets (index ≫ batch): seed an index of N rows across the cell
  layout, then time one small-batch upsert through each sink. The
  claim under test: the flat sink's cost is O(index) per batch, the
  partitioned sink's is O(touched cells).

Run: python scripts/bench_stream_screen.py [--index-rows N]
     [--skip-a] [--skip-b]
(experiment A sweeps corpus ×1/×10/×25 internally — there is no
separate --x10 flag)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark import sinks
from real_time_stock_market_data_pipeline__spark.operators import similarity
from real_time_stock_market_data_pipeline__spark.session import get_spark
from real_time_stock_market_data_pipeline__spark.sources.registry import (
    load_table,
)
from real_time_stock_market_data_pipeline__spark.streaming import pipeline

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _scaled_corpus(embs, mult: int):
    """Clone-free scaling: shift ids AND rotate the embedding array by
    the copy index so copies land in different cells/neighbourhoods —
    scaling corpus mass without inflating same-cell clone volume.
    One crossJoin against a tiny copy-index range (NOT an N-way union,
    whose plan size OOMs the driver at large multipliers)."""
    if mult == 1:
        return embs
    copies = embs.sparkSession.range(mult).select(
        F.col("id").cast("int").alias("_i")
    )
    rot = (F.col("_i") % 64).cast("int")
    # the crossJoin inherits the (tiny) input's partitioning — spread
    # the multiplied rows so the downstream assignment parallelizes
    return embs.crossJoin(copies).repartition(32).select(
        (F.col("vec_id") + F.lit(1_000_000) * F.col("_i")).alias(
            "vec_id"
        ),
        F.concat(
            F.slice(F.col("embedding"), rot + F.lit(1), F.lit(64) - rot),
            F.slice(F.col("embedding"), F.lit(1), rot),
        ).alias("embedding"),
    )


def drain_times(spark, corpus, batches, at_rest: bool) -> list[float]:
    tmp = tempfile.mkdtemp(prefix="bss_")
    in_dir, idx, ckpt = f"{tmp}/in", f"{tmp}/idx", f"{tmp}/ckpt"
    cap = f"{tmp}/cap" if at_rest else None
    schema = batches[0].schema
    times = []
    try:
        for b in batches:
            b.coalesce(1).write.mode("append").parquet(in_dir)
            t0 = time.time()
            src = pipeline.read_file_stream(spark, in_dir, schema=schema)
            q = pipeline.stream_semantic_screen(
                src, corpus, idx, ckpt, threshold=0.3,
                corpus_assigned_path=cap,
            )
            q.awaitTermination()
            times.append(round(time.time() - t0, 3))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return times


def experiment_a(spark, embs) -> dict:
    newb = embs.filter(F.col("vec_id") % 4 == 0)
    b1 = newb.filter(F.col("vec_id") % 8 == 0)
    b2 = newb.filter(F.col("vec_id") % 8 != 0)
    # JVM/codegen warmup outside the timed region (the first drains of
    # a fresh session otherwise dominate the x1 cells)
    drain_times(spark, embs.limit(64), [b1.limit(8)], False)
    drain_times(spark, embs.limit(64), [b1.limit(8)], True)
    out = {}
    for mult in (1, 10, 25):
        corpus = _scaled_corpus(
            embs.filter(F.col("vec_id") % 4 != 0), mult
        )
        for at_rest in (False, True):
            key = f"x{mult}_{'at_rest' if at_rest else 'lazy'}"
            out[key] = drain_times(spark, corpus, [b1, b2], at_rest)
    return out


def experiment_b(spark, embs, index_rows: int) -> dict:
    """Seed an index of ``index_rows`` across the _semantic_assign
    layout, then time small-batch upserts through the flat sink vs the
    partitioned sink at the shape the partitioned sink targets:
    touched cells ≪ total cells (64 centroids, a 3-row batch). Two
    rounds per sink — round 1 from a cold seed, round 2 on the sink's
    own output (the steady-state shape)."""
    n_cells = 64
    cents = similarity.kmeans_centroids(
        embs, n_cells, n_iters=1
    )
    mult = max(1, index_rows // max(1, embs.count()))
    assigned = similarity._semantic_assign(
        _scaled_corpus(embs, mult), cents, "embedding", "vec_id"
    )
    batch = similarity._semantic_assign(
        embs.filter(F.col("vec_id") % 331 == 0)
        .select((F.col("vec_id") + F.lit(90_000_000)).alias("vec_id"),
                "embedding"),
        cents, "embedding", "vec_id",
    ).limit(3)
    tmp = tempfile.mkdtemp(prefix="bss_idx_")
    out = {
        "index_rows": assigned.count(),
        "batch_rows": batch.count(),
        "n_cells": n_cells,
        "touched_cells": batch.select("cell").distinct().count(),
    }
    try:
        flat, part = f"{tmp}/flat", f"{tmp}/part"
        assigned.write.parquet(flat)
        assigned.write.partitionBy("cell").parquet(part)
        for rnd in (1, 2):
            t0 = time.time()
            sinks.merge_upsert_parquet(
                spark, batch, flat, keys=["vec_id"]
            )
            out[f"flat_sink_sec_{rnd}"] = round(time.time() - t0, 3)
            t0 = time.time()
            sinks.merge_upsert_parquet(
                spark, batch, part, keys=["vec_id"], partition_col="cell"
            )
            out[f"partitioned_sink_sec_{rnd}"] = round(
                time.time() - t0, 3
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-rows", type=int, default=100_000)
    ap.add_argument("--skip-a", action="store_true")
    ap.add_argument("--skip-b", action="store_true")
    args = ap.parse_args()
    spark = get_spark("bench_stream_screen")
    spark.sparkContext.setLogLevel("ERROR")
    embs = load_table(spark, SF_DIR, "embeddings")
    if not args.skip_a:
        print(json.dumps({"experiment": "A_corpus_side",
                          "drain_sec": experiment_a(spark, embs)}))
    if not args.skip_b:
        print(json.dumps({"experiment": "B_index_side",
                          **experiment_b(spark, embs, args.index_rows)}))
    spark.stop()


if __name__ == "__main__":
    main()
