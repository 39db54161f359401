"""Measured decade A/B for the streaming side-table layouts: the
row-keyed side tables — BM25 doclens, BQ signatures, near-dup verdict
logs — have had three layouts across rounds: FLAT read-merge-swap
(per-batch cost O(index)), round-14 id-hash-bucket MERGE (O(touched
buckets) — but a uniformly-hashed batch touches ALL buckets once it
exceeds ~n_buckets rows), and the round-15 bp=<batch_id> APPEND
(O(batch): the keys are new every batch, so nothing stored is read or
rewritten — the measured DSIR-sink discipline, now the default build
layout for all three tables).

For each table shape, seed an index of N rows (default sweep
250k / 1M / 4M — the r11 experiment-B decade) in ALL THREE layouts,
then time a batch landing through each sink. Two rounds per sink —
round 1 from the cold seed, round 2 on the sink's own output (the
steady-state shape the claim is about). ``--uniform`` draws the batch
from uniformly-hashed ids (the crawl shape where bucketed MERGE
degrades to O(index)); the default scopes it to 2 buckets (the shape
the round-14 A/B isolated). Prints one JSON line per (table, N) cell;
results are recorded in BASELINE.md.

Run: python scripts/bench_side_tables.py [--rows 250000,1000000,4000000]
     [--batch-rows 100] [--uniform]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark import sinks
from real_time_stock_market_data_pipeline__spark.session import get_spark

#: the three round-14 bucketed side tables, as (name, payload-column
#: builder, bucket salt) — payload shapes match what the streaming
#: services actually MERGE (streaming/pipeline.py: stream_bm25_ingest
#: doclens, stream_bq_ingest signatures, stream_neardup_ingest
#: verdicts).
TABLES = {
    "bm25_doclens": (
        lambda df: df.select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 512 + 7).alias("dl"),
        ),
        "bm25dl:",
        "doc_id",
        "dl_bucket",
    ),
    "bq_signatures": (
        lambda df: df.select(
            F.col("id").alias("vec_id"),
            # payload values are irrelevant; keep factors small so the
            # product never overflows int64 under ANSI mode
            (F.col("id") % 999983 * 4093 % (1 << 32)).alias("sig0"),
            (F.col("id") % 999979 * 40503 % (1 << 32)).alias("sig1"),
        ),
        "bq:",
        "vec_id",
        "sig_bucket",
    ),
    "neardup_verdicts": (
        lambda df: df.select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 3).alias("n_corpus_dups"),
            (F.col("id") % 2).alias("n_prior_dups"),
            (F.col("id") % 5 == 0).alias("dup"),
        ),
        "ndv:",
        "doc_id",
        "vb",
    ),
}


def run_cell(
    spark, name: str, n_rows: int, batch_rows: int,
    n_buckets: int = sinks.ID_HASH_BUCKETS,
    uniform: bool = False,
) -> dict:
    payload, salt, id_col, bucket_col = TABLES[name]
    seed = payload(spark.range(n_rows).repartition(32))
    # default shape: touched ≪ total (the r11 experiment-B discipline)
    # — draw the batch only from ids that hash into 2 of the 32
    # buckets, isolating the per-bucket scoping itself. --uniform
    # instead draws arbitrary ids (the crawl shape): a batch beyond
    # ~n_buckets rows then touches every bucket and the bucketed MERGE
    # re-reads O(index) — the case the bp append exists for.
    batch = payload(
        spark.range(10_000_000_000, 10_000_000_000 + 100 * batch_rows + 3000)
    ).withColumn(
        bucket_col, sinks.id_hash_bucket(F.col(id_col), n_buckets, salt=salt)
    )
    if not uniform:
        batch = batch.filter(F.col(bucket_col).isin(0, 1))
    batch = (
        batch.limit(batch_rows)
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    bucketed_batch = batch
    batch = batch.drop(bucket_col)
    tmp = tempfile.mkdtemp(prefix=f"bst_{name}_")
    out = {
        "table": name,
        "index_rows": n_rows,
        "batch_rows": batch_rows,
        "n_buckets": n_buckets,
        "uniform": uniform,
        "touched_buckets": bucketed_batch.select(bucket_col)
        .distinct()
        .count(),
    }
    try:
        flat, part, bp = f"{tmp}/flat", f"{tmp}/part", f"{tmp}/bp"
        seed.write.parquet(flat)
        (
            seed.withColumn(
                bucket_col, sinks.id_hash_bucket(F.col(id_col), n_buckets, salt=salt)
            )
            .repartition(F.col(bucket_col))
            .write.partitionBy(bucket_col)
            .parquet(part)
        )
        sinks.append_batch_partition(seed, bp, sinks.BASE_BP)
        for rnd in (1, 2):
            t0 = time.time()
            sinks.merge_upsert_parquet(spark, batch, flat, keys=[id_col])
            out[f"flat_sink_sec_{rnd}"] = round(time.time() - t0, 3)
            t0 = time.time()
            sinks.merge_upsert_parquet(
                spark,
                bucketed_batch,
                part,
                keys=[id_col],
                partition_col=bucket_col,
            )
            out[f"bucketed_sink_sec_{rnd}"] = round(time.time() - t0, 3)
            t0 = time.time()
            sinks.append_batch_partition(batch, bp, rnd)
            out[f"bp_sink_sec_{rnd}"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", default="250000,1000000,4000000")
    ap.add_argument("--batch-rows", type=int, default=100)
    ap.add_argument("--tables", default=",".join(TABLES))
    ap.add_argument("--n-buckets", type=int, default=sinks.ID_HASH_BUCKETS)
    ap.add_argument("--uniform", action="store_true")
    args = ap.parse_args()
    spark = get_spark("bench_side_tables")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/codegen outside the timed cells
    run_cell(spark, "bm25_doclens", 1000, 10)
    for name in args.tables.split(","):
        for n in (int(x) for x in args.rows.split(",")):
            print(
                json.dumps(
                    run_cell(spark, name, n, args.batch_rows,
                             args.n_buckets, uniform=args.uniform)
                ),
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
