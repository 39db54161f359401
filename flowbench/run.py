"""Flow benchmark for the speed and batch layers.

Usage, from the repository root::

    python3 flowbench/run.py --workload tick_stream --seed 1 --seconds 12 --trace 0

Runs one workload (``tick_stream``, ``eod_batch`` or ``corpus_batch``,
see ``flowbench/README.md``) in this process against ``local[nproc]``,
checks its output against the DuckDB oracles, and prints one JSON object
as the last line of standard output::

    {"correct": true, "attempted": 23, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the run records spans and a Spark
event log and the metrics are the per-layer ones. Everything the run
writes lives under ``.flowbench_work/`` in the repository root and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "real_time_stock_market_data_pipeline__spark"

#: session restarts per run after the timed phase; ``setup_s`` is the
#: median of their set-up times
RESTARTS = 3
#: full collections, half a second apart, before ``heap_live_mb`` is read
GC_ROUNDS = 3
#: driver JVM heap
DRIVER_MEM = "2g"
#: whole-run deadline, below the 180 s a run may take
DEADLINE_S = 170


class Deadline(BaseException):
    """Raised by the watchdog; not an ``Exception``, so that the handler
    counting failed operations does not swallow it."""


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="flowbench")
    ap.add_argument("--workload", required=True,
                    choices=["tick_stream", "eod_batch", "corpus_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _environment(work: Path) -> None:
    """Confine every file the engine writes to ``work`` and size the
    session to this machine; must run before the JVM starts."""
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a fixed-size heap, not pre-touched: the collector does not resize
    # it with GC timing, so the resident set follows the pages the flow
    # touches rather than when the heap was last grown
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={work / 'tmp'} -Xms{DRIVER_MEM}"
    ).strip()


def _files(root: str) -> dict[tuple[str, int, int], int]:
    """Every regular file under ``root``, keyed so that a rewritten file
    counts as new: (path, inode, mtime) → size."""
    out = {}
    for base, _, names in os.walk(root):
        for n in names:
            p = os.path.join(base, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[(p, st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def live_heap_mb(spark) -> float:
    """JVM heap in use after a full collection: what the session and
    the flow retain, independent of when the collector last ran. It is
    read from the heap pools' usage as the collection left it, so that
    Spark's background threads allocating after it do not count."""
    jvm = spark.sparkContext._jvm
    mgmt = jvm.java.lang.management.ManagementFactory
    # the first collection queues the blocks of unreachable broadcasts
    # and shuffles for the context cleaner; the last one runs after the
    # cleaner has dropped them
    for _ in range(GC_ROUNDS - 1):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    jvm.java.lang.System.gc()
    used = 0
    for pool in mgmt.getMemoryPoolMXBeans():
        after = pool.getCollectionUsage() if str(pool.getType()) == "Heap memory" else None
        if after is not None:
            used += after.getUsed()
    return used / 2**20


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank), and that percentile; (max, 100) below 11 samples."""
    n = len(xs)
    if n < 11:
        return max(xs), 100
    p = math.floor(100 * (n - 10) / n)
    return sorted(xs)[math.ceil(p / 100 * n) - 1], p


def _install_spans(tracer, flow) -> None:
    """Wrap the layer entry points the flows call, in this process only."""
    import dataclasses

    from real_time_stock_market_data_pipeline__spark import jobs, sinks
    from real_time_stock_market_data_pipeline__spark.operators import (
        dedup, indicators, ohlcv, sampling, text,
    )
    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    # the streaming layer binds its callees by name at import
    tracer.wrap(pipeline, "realtime_metrics", "operators.metrics.realtime_metrics_build")
    tracer.wrap(pipeline, "merge_upsert_parquet", "sinks.merge_upsert_parquet")
    # the batch jobs call through module attributes
    tracer.wrap(sinks, "merge_upsert_parquet", "sinks.merge_upsert_parquet")
    tracer.wrap(sinks, "input_ready", "sinks.input_ready")
    tracer.wrap(sinks, "write_parquet_partitioned", "sinks.write_parquet_partitioned")
    tracer.wrap(jobs, "read_partitioned", "sources.registry.read_partitioned_build")
    for mod, name, span in (
        (dedup, "dedup_keep_last", "operators.dedup.dedup_keep_last_build"),
        (dedup, "dedup_exact", "operators.dedup.dedup_exact_build"),
        (dedup, "dedup_corpus", "operators.dedup.dedup_corpus"),
        (dedup, "substring_dedup", "operators.dedup.substring_dedup_build"),
        (ohlcv, "daily_metrics", "operators.ohlcv.daily_metrics_build"),
        (indicators, "feature_matrix", "operators.indicators.feature_matrix_build"),
        (indicators, "sharpe_sortino", "operators.indicators.sharpe_sortino_build"),
        (indicators, "var_cvar", "operators.indicators.var_cvar_build"),
        (text, "quality_filter", "operators.text.quality_filter_build"),
        (text, "token_count", "operators.text.token_count_build"),
        (text, "token_pack", "operators.text.token_pack_build"),
        (sampling, "hash_split", "operators.sampling.hash_split_build"),
    ):
        tracer.wrap(mod, name, span)

    # each step of a job pipeline becomes a span jobs.<pipeline>.<step>
    run_pipeline = jobs.run_pipeline

    def traced_run_pipeline(steps, fail_fast=True):
        wrapped = []
        for s in steps:
            def fn(s=s, name=f"jobs.{flow.label}.{s.name}"):
                t0 = time.time()
                try:
                    return s.fn()
                finally:
                    tracer.add(name, t0, time.time())
            wrapped.append(dataclasses.replace(s, fn=fn))
        return run_pipeline(wrapped, fail_fast)

    tracer.replace(jobs, "run_pipeline", traced_run_pipeline)

    # the foreachBatch callback as a whole: addBatch's Python side
    start = pipeline._start_foreach_batch

    def traced_start(source, process_batch, *args, **kwargs):
        def batch(df, batch_id):
            t0 = time.time()
            try:
                return process_batch(df, batch_id)
            finally:
                tracer.add("streaming.foreach_batch", t0, time.time())
        return start(source, batch, *args, **kwargs)

    tracer.replace(pipeline, "_start_foreach_batch", traced_start)


def _shutdown() -> None:
    """Stop the Spark session and its JVM and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — best effort, the JVM is killed below
            traceback.print_exc()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    from flowbench import procstat

    deadline = time.time() + 15
    while True:
        rest = procstat.tree()[1:]
        if not rest or time.time() > deadline:
            break
        for p in rest:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def run(args: argparse.Namespace, work: Path) -> dict:
    from flowbench import procstat, trace
    from flowbench.workloads import FLOWS
    from real_time_stock_market_data_pipeline__spark.session import get_spark

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    tracer = trace.Tracer() if args.trace else None
    flow = FLOWS[args.workload](str(work), args.seed)
    n_ops = flow.ops_for(args.seconds)
    flow.generate(flow.warmup + n_ops + RESTARTS)
    calibration = procstat.calibration_s()

    conf = {
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    }
    if tracer is not None:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            "spark.eventLog.compress": "false",
        })
        _install_spans(tracer, flow)

    # cold set-up: session on a new JVM, wiring, warm-up
    t0 = time.perf_counter()
    spark = get_spark("flowbench", extra_conf=conf)
    cold_session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    flow.start(spark)
    warm = [flow.op()[0] for _ in range(flow.warmup)]
    cold_s = time.perf_counter() - t0

    seen = _files(flow.out)
    written = 0
    latencies, rows, failed = [], 0, 0
    cpu0, host0 = procstat.tree_cpu_s(), procstat.host_cpu()
    t_start = time.perf_counter()
    op_steal = []
    for _ in range(n_ops):
        w0, h0 = time.time(), procstat.host_cpu()
        try:
            lat, n = flow.op()
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc()
            failed += 1
            break
        if tracer is not None:
            tracer.add("op", w0, time.time())
            flow.after_op()
        h1 = procstat.host_cpu()
        op_steal.append((h1[0] - h0[0]) / max(1, h1[1] - h0[1]))
        latencies.append(lat)
        rows += n
        now = _files(flow.out)
        written += sum(size for key, size in now.items() if key not in seen)
        seen = now
    wall = time.perf_counter() - t_start
    cpu = procstat.tree_cpu_s() - cpu0
    host1 = procstat.host_cpu()
    steal = (host1[0] - host0[0]) / max(1, host1[1] - host0[1])
    peak = procstat.tree_peak_rss_mb()
    flow.timed_ops = len(latencies)
    attempted = len(latencies) + failed
    if tracer is not None:
        tracer.restore()

    flow.stop()
    heap = live_heap_mb(spark)
    errors = flow.check() if latencies else ["no operation completed"]
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    correct = not errors and not failed

    # restarts: stop the session, start it again over the same state and
    # wire the flow, up to its first output. They follow the timed phase,
    # because a probe showed rounds after a restart run up to 40% slower
    # in the same JVM.
    session_s, setups = [], []
    for _ in range(RESTARTS if correct else 0):
        spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("flowbench", extra_conf=conf)
        session_s.append(time.perf_counter() - t0)
        flow.start(spark)
        flow.restart_output()
        setups.append(time.perf_counter() - t0)
        flow.stop()

    job = flow.job_times()
    tail_s, tail_p = tail(latencies) if latencies else (0.0, 100)
    print(
        f"flowbench {args.workload} seed={args.seed}: {len(latencies)} ops, "
        f"freshness p50={median(latencies):.4f}s p{tail_p}={tail_s:.4f}s (n={len(latencies)}), "
        f"cold set-up={cold_s:.3f}s (session {cold_session_s:.3f}s), "
        f"restarts={[round(s, 3) for s in setups]}, warm-up={[round(x, 3) for x in warm]}, "
        f"calibration={calibration:.4f}s, host steal={steal:.3f}"
    )
    print(f"ops={[round(x, 3) for x in latencies]} steal={[round(x, 3) for x in op_steal]}")
    half = len(latencies) // 2
    if half:
        print(
            f"halves: first p50={median(latencies[:half]):.4f}s "
            f"second p50={median(latencies[half:]):.4f}s"
        )

    if tracer is None:
        values = {
            "freshness_p50_s": median(latencies),
            "job_p50_s": median(job),
            "throughput_rows_per_s": rows / wall,
            "cpu_s_per_krow": cpu / (rows / 1000) if rows else 0.0,
            "sink_bytes_per_row": written / rows if rows else 0.0,
            "peak_rss_mb": peak,
            "heap_live_mb": heap,
            "setup_s": median(setups),
        }
        spec = bench["end_to_end"]
    else:
        spark.stop()
        values = _layer_values(tracer, flow, work, latencies, session_s, written)
        print("layers: " + json.dumps({k: round(v, 6) for k, v in sorted(values.items())}))
        spec = bench["per_layer"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in spec}
    return {"correct": correct, "attempted": attempted, "failed": attempted if errors else failed,
            "metrics": metrics}


def _layer_values(tracer, flow, work, latencies, session_s, written) -> dict[str, float]:
    """Per-layer figures of a traced run, per timed operation."""
    from flowbench import trace

    ops = [s for s in tracer.spans if s.name == "op"]
    n = len(ops) or 1
    first = ops[0].start if ops else 0.0
    spans = [s for s in tracer.spans if s.start >= first]  # the tracer stops with the timed phase
    for name, a, b in flow.trigger_spans():
        # the progress clock has millisecond resolution: clip into the round
        owner = next((o for o in ops if o.start <= b and a <= o.end), None)
        if owner is not None:
            spans.append(trace.Span(name, max(a, owner.start), min(b, owner.end)))
    roots = trace.build_tree(spans)
    trace.attach_jobs(roots, trace.parse_event_logs(str(work / "eventlog")))
    op_roots = [r for r in roots if r.name == "op"]
    selfs = trace.self_times(op_roots)
    values = {f"{k}_s": v / n for k, v in selfs.items() if k != "op"}
    calls = {}
    for s in spans:
        calls[s.name] = calls.get(s.name, 0) + 1
    values["sinks.input_ready_calls"] = calls.get("sinks.input_ready", 0) / n
    values["sinks.bytes_written"] = written / n
    counters = trace.spark_counters(op_roots, int(os.environ["SPARK_GRAFT_CPUS"]))
    values.update({k: v if k == "spark.busy_share" else v / n for k, v in counters.items()})
    values.update(flow.layer_metrics())
    values["session.get_spark_s"] = median(session_s)
    unattributed = selfs.get("op", 0.0)
    if "streaming.dispatch_s" in values:
        unattributed -= values["streaming.dispatch_s"] * n
    total = sum(o.dur for o in op_roots)
    values["trace.coverage"] = 1 - unattributed / total if total else 0.0
    values["trace.op_p50_s"] = median(latencies)
    values["trace.ops"] = len(latencies)
    return values


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"flowbench: {ROOT} does not hold the {PACKAGE} package and "
              "__spark_entry__.py", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".flowbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    def deadline(signum, frame):
        raise Deadline(f"flowbench: run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args, work)
    finally:
        signal.alarm(0)
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
