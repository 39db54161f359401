"""The three flows, each driven through the engine's public entry
points from outside the package.

A flow is set up (session, wiring, warm-up), then runs a fixed number
of operations — rounds for the speed layer, repeats for the batch flows —
then checks its output. A restart stops the session and starts it again
over the same state, the way an operator restarts a job, and ends at the
flow's first output: the stream resumes from its checkpoint and commits
one more round, a batch flow scans its input. Every sink of a flow writes
under its ``out`` directory, so the runner can count the bytes written
from outside.
"""

from __future__ import annotations

import os
import time

from flowbench import checks, gen


class Flow:
    """Shared shape of a flow. ``op`` returns the operation's latency in
    seconds and the input rows it completed."""

    name = ""
    #: warm-up operations in the cold set-up, from the measured trend of
    #: per-operation times (flowbench/README.md)
    warmup = 0
    #: seconds per timed operation on the reference host after warm-up;
    #: sizes the fixed count of timed operations (``ops_for``)
    op_s = 1.0
    #: span name prefix for the pipeline a batch flow is running
    label = ""

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.inputs = os.path.join(work, "in")
        self.out = os.path.join(work, "out")
        self.spark = None
        self.timed_ops = 0

    def ops_for(self, seconds: float) -> int:
        """Timed operations in a run of about ``seconds``. The count, not
        the clock, ends the timed phase, so a slower program does the
        same work as a faster one rather than less of it."""
        return max(2, round(seconds / self.op_s))

    def generate(self, ops: int) -> None:
        """Write the inputs for ``ops`` operations of any kind."""
        raise NotImplementedError

    def start(self, spark) -> None:
        self.spark = spark
        os.makedirs(self.out, exist_ok=True)

    def op(self) -> tuple[float, int]:
        raise NotImplementedError

    def restart_output(self) -> None:
        """The first output after a restart, which ends its set-up."""
        self.op()

    def stop(self) -> None:
        pass

    def check(self) -> list[str]:
        raise NotImplementedError

    def layer_metrics(self) -> dict[str, float]:
        """Flow-specific per-layer counters for the timed operations."""
        return {}

    def after_op(self) -> None:
        """Traced runs only: read layer counters after an operation."""

    def trigger_spans(self) -> list[tuple[str, float, float]]:
        """Spans the engine reports rather than the benchmark records."""
        return []

    def _pipeline(self, label: str, fn, *args, **kwargs):
        self.label = label
        run = fn(*args, **kwargs)
        if not run.ok:
            bad = [r for r in run.results if not r.ok]
            raise RuntimeError(f"{label} pipeline failed: {bad[0].name}: {bad[0].error}")
        return run


class TickStream(Flow):
    """Speed layer: file stream → ``stream_realtime_metrics`` (watermarked
    dual-window metrics → keyed MERGE upsert), closed loop with one
    producer. Each round publishes one pre-generated file into the
    landing directory and blocks until the engine has committed it, so
    one file is one micro-batch."""

    name = "tick_stream"
    warmup = 6
    op_s = 1.2

    def generate(self, ops: int) -> None:
        self.rounds = gen.write_tick_rounds(os.path.join(self.inputs, "rounds"), self.seed, ops)
        self.landing = os.path.join(self.work, "landing")
        self.checkpoint = os.path.join(self.work, "checkpoint")
        self.target = os.path.join(self.out, "target")
        os.makedirs(self.landing)
        self.landed = 0
        self.latency: dict[int, float] = {}
        self.table_rows: dict[int, int] = {}
        self.progress: list[dict] = []

    def start(self, spark) -> None:
        from real_time_stock_market_data_pipeline__spark.streaming import pipeline

        super().start(spark)
        src = pipeline.read_file_stream(spark, self.landing, schema=_tick_schema())
        self.query = pipeline.stream_realtime_metrics(
            src,
            target_path=self.target,
            checkpoint_path=self.checkpoint,
            symbol_col="event_type",
            ts_col="ts",
            price_col="value",
            trigger_seconds=0,
            stamp_last_updated=True,
        )

    def op(self) -> tuple[float, int]:
        if self.landed >= len(self.rounds):
            raise RuntimeError("tick_stream: ran out of pre-generated rounds")
        src = self.rounds[self.landed]
        batch = self.landed
        commit = os.path.join(self.checkpoint, "commits", str(batch))
        t0 = time.perf_counter()
        os.link(src, os.path.join(self.landing, os.path.basename(src)))
        self.landed += 1
        # processAllAvailable can return on a poll that listed the
        # directory just before the file appeared; the commit log says
        # when the batch holding this file is committed to the sink
        while True:
            self.query.processAllAvailable()
            if os.path.exists(commit):
                break
        lat = time.perf_counter() - t0
        self.latency[batch] = lat
        return lat, gen.TickShape().ticks_per_round

    def stop(self) -> None:
        self.progress += [p for p in self.query.recentProgress if p["numInputRows"]]
        self.query.stop()

    def check(self) -> list[str]:
        from __spark_entry__ import oracle_sql

        errs, self.produced = checks.check_tick_target(
            self.target, self.rounds[: self.landed], oracle_sql()["realtime_metrics"]
        )
        batches = [p["batchId"] for p in self.progress]
        if batches != list(range(self.landed)):
            errs.append(f"tick_stream: batches {batches} are not one per round")
        return errs

    def _timed_progress(self) -> list[dict]:
        timed = range(self.warmup, self.warmup + self.timed_ops)
        return [p for p in self.progress if p["batchId"] in timed]

    def job_times(self) -> list[float]:
        """Engine time of each timed micro-batch (``triggerExecution``)."""
        return [p["durationMs"]["triggerExecution"] / 1e3 for p in self._timed_progress()]

    def trigger_spans(self) -> list[tuple[str, float, float]]:
        """Each timed micro-batch's trigger as a span, from its progress
        record: start timestamp and ``triggerExecution`` duration."""
        from datetime import datetime

        out = []
        for p in self._timed_progress():
            t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            out.append(("streaming.micro_batch", t0, t0 + p["durationMs"]["triggerExecution"] / 1e3))
        return out

    def layer_metrics(self) -> dict[str, float]:
        prog = self._timed_progress()
        n = len(prog) or 1
        d = [p["durationMs"] for p in prog]
        book = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
        dispatch = [
            self.latency[p["batchId"]] - p["durationMs"]["triggerExecution"] / 1e3
            for p in prog
        ]
        produced = sum(self.produced[p["batchId"]] for p in prog)
        written = sum(self.table_rows[p["batchId"]] for p in prog)
        return {
            "streaming.trigger_s": sum(x["triggerExecution"] for x in d) / 1e3 / n,
            "streaming.add_batch_s": sum(x["addBatch"] for x in d) / 1e3 / n,
            "streaming.bookkeeping_s": sum(x.get(k, 0) for x in d for k in book) / 1e3 / n,
            "streaming.dispatch_s": sum(dispatch) / n,
            "streaming.input_rows": sum(p["numInputRows"] for p in prog) / n,
            "sinks.merge_rows_written": written / n,
            "sinks.merge_rewrite_ratio": written / produced if produced else 0.0,
        }

    def after_op(self) -> None:
        """Rows in the target after the round: what the MERGE rewrote."""
        import pyarrow.parquet as pq

        rows = sum(
            pq.ParquetFile(os.path.join(self.target, f)).metadata.num_rows
            for f in os.listdir(self.target) if f.endswith(".parquet")
        )
        self.table_rows[self.landed - 1] = rows


def _tick_schema():
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )

    return StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("volume", LongType()),
    ])


class EodBatch(Flow):
    """Batch layer: ``jobs.historical_pipeline`` (gate → partitioned scan
    → keep-last dedup → daily OHLCV → partitioned write → warehouse
    MERGE) then ``jobs.market_pipeline`` (daily bars → features →
    Sharpe/Sortino and VaR/CVaR) over the same history. Later repeats
    re-run into the existing warehouse: the idempotent re-run after a
    failed day."""

    name = "eod_batch"
    warmup = 2
    op_s = 8.0

    def generate(self, ops: int) -> None:
        self.history = os.path.join(self.inputs, "history")
        self.rows = gen.write_history(self.history, self.seed)
        self.runs: list[tuple] = []

    def op(self) -> tuple[float, int]:
        from real_time_stock_market_data_pipeline__spark import jobs

        t0 = time.perf_counter()
        hist = self._pipeline(
            "historical", jobs.historical_pipeline, self.spark, self.history,
            os.path.join(self.out, "daily"), os.path.join(self.out, "warehouse"),
            symbol_col="event_type", price_col="value", id_col="event_id",
        )
        market = self._pipeline(
            "market", jobs.market_pipeline, self.spark, self.history,
            os.path.join(self.out, "market"),
        )
        lat = time.perf_counter() - t0
        self.runs.append((hist, market))
        return lat, self.rows

    def restart_output(self) -> None:
        from real_time_stock_market_data_pipeline__spark.sources.registry import read_partitioned

        read_partitioned(self.spark, self.history).count()

    def check(self) -> list[str]:
        from __spark_entry__ import oracle_sql

        errs = checks.check_warehouse(
            self.history, os.path.join(self.out, "warehouse"), oracle_sql()["daily_metrics"]
        )
        rows, bars = checks.history_counts(self.history)
        for hist, market in self.runs:
            got = (hist.value("process"), market.value("ingest"), market.value("daily_bars"))
            if got != (bars, rows, bars):
                errs.append(f"eod_batch: (process, ingest, daily_bars) {got} != {(bars, rows, bars)}")
                break
        return errs

    def job_times(self) -> list[float]:
        return [
            sum(r.elapsed_s for r in hist.results + market.results)
            for hist, market in self.runs[self.warmup:self.warmup + self.timed_ops]
        ]


class CorpusBatch(Flow):
    """LLM-data flow: ``jobs.corpus_pipeline`` — quality filter → exact
    dedup → MinHash-LSH near-dup → substring dedup → sample/split → token
    pack → write."""

    name = "corpus_batch"
    warmup = 2
    op_s = 6.0
    #: the pipeline's quality threshold, and quality_filter's default word
    #: minimum, which corpus_pipeline does not expose
    min_score, min_words = 0.5, 5

    def generate(self, ops: int) -> None:
        self.docs = os.path.join(self.inputs, "docs")
        self.rows = gen.write_corpus(self.docs, self.seed)
        self.runs: list = []

    def op(self) -> tuple[float, int]:
        from real_time_stock_market_data_pipeline__spark import jobs

        t0 = time.perf_counter()
        run = self._pipeline(
            "corpus", jobs.corpus_pipeline, self.spark, self.docs,
            os.path.join(self.out, "corpus_out"), min_quality=self.min_score,
        )
        lat = time.perf_counter() - t0
        self.runs.append(run)
        return lat, self.rows

    def restart_output(self) -> None:
        self.spark.read.parquet(self.docs).count()

    def funnels(self) -> list[dict[str, int]]:
        return [{r.name: r.value for r in run.results if r.name != "gate"} for run in self.runs]

    def check(self) -> list[str]:
        from __spark_entry__ import oracle_sql

        return checks.check_corpus(
            self.docs, os.path.join(self.out, "corpus_out"), self.funnels(), oracle_sql(),
            self.min_score, self.min_words,
        )

    def job_times(self) -> list[float]:
        timed = self.runs[self.warmup:self.warmup + self.timed_ops]
        return [sum(r.elapsed_s for r in run.results) for run in timed]

    def layer_metrics(self) -> dict[str, float]:
        f = self.funnels()[-1]
        return {f"jobs.corpus.{k}_rows": v for k, v in f.items()}


FLOWS = {f.name: f for f in (TickStream, EodBatch, CorpusBatch)}
