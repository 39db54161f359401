"""Failure injection for the directory swap behind
`sinks.merge_upsert_parquet` (flat and partition-scoped) and
`sinks.compact_parquet` / `sinks.compact_batch_partitions`.

The reference's warehouse load guarantees exactly-once via an
idempotent keyed MERGE (`realtime_load_to_snowflake.py:225-251` —
re-running a batch cannot double-apply it). The parquet sink makes the
same promise under a single writer; these tests prove it holds not
just under re-run but under a CRASH at every window of the swap
protocol, run once per swapped directory (the table, or each touched
partition):

  stage:   write the replacement -> hidden sibling .<name>.stage
  swap A:  rename(live, .<name>.old)   <- crash here: nothing moved
  swap B:  rename(stage, live)         <- crash here: live absent
  cleanup: rmtree(.<name>.old)         <- crash here: stale .old

Each test kills the call at one of these points (the ``crash_at``
fixture, `conftest.py`), then calls again — the restart re-delivering
the SAME batch, which is what a checkpointed stream does — and
asserts the final table equals the exactly-once result.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from real_time_stock_market_data_pipeline__spark import sinks


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="crash_merge_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _initial(spark):
    return spark.createDataFrame(
        [("AAA", "2024-01-01", 10.0), ("BBB", "2024-01-01", 20.0)],
        "symbol string, date string, close double",
    )


def _batch(spark):
    # updates AAA, inserts CCC
    return spark.createDataFrame(
        [("AAA", "2024-01-01", 11.0), ("CCC", "2024-01-01", 30.0)],
        "symbol string, date string, close double",
    )


EXPECTED = {
    ("AAA", "2024-01-01", 11.0),
    ("BBB", "2024-01-01", 20.0),
    ("CCC", "2024-01-01", 30.0),
}


def _rows(spark, path):
    return {
        tuple(r) for r in spark.read.parquet(path).collect()
    }


def _seed(spark, workdir):
    path = os.path.join(workdir, "table")
    _initial(spark).write.parquet(path)
    return path


def _merge(spark, batch, path):
    sinks.merge_upsert_parquet(spark, batch, path, keys=["symbol", "date"])


def _no_swap_debris(workdir):
    # every staged or superseded directory is a hidden .<name>.<role>
    return not [
        os.path.join(d, n)
        for d, dirs, _ in os.walk(workdir)
        for n in dirs
        if n.startswith(".")
    ]


def test_rerun_same_batch_is_exactly_once(spark, workdir):
    path = _seed(spark, workdir)
    for _ in range(3):  # checkpoint re-delivery: N replays, one effect
        sinks.merge_upsert_parquet(
            spark, _batch(spark), path, keys=["symbol", "date"]
        )
        assert _rows(spark, path) == EXPECTED


def test_crash_after_stage_before_swap(spark, workdir, crash_at):
    # kill between the staging write and swap A: target untouched, the
    # staged merge survives next to it
    path = _seed(spark, workdir)
    with pytest.raises(crash_at("rename", 1)):
        _merge(spark, _batch(spark), path)
    assert _rows(spark, path) == {tuple(r) for r in _initial(spark).collect()}

    _merge(spark, _batch(spark), path)
    assert _rows(spark, path) == EXPECTED
    assert _no_swap_debris(workdir)


def test_crash_mid_swap_recovers_old_state(spark, workdir, crash_at):
    # kill between swap A and swap B: `path` is ABSENT, the pre-batch
    # state lives only at its hidden .old (the documented worst window)
    path = _seed(spark, workdir)
    with pytest.raises(crash_at("rename", 2)):
        _merge(spark, _batch(spark), path)
    assert not os.path.exists(path)

    _merge(spark, _batch(spark), path)
    assert _rows(spark, path) == EXPECTED
    assert _no_swap_debris(workdir)


def test_crash_after_swap_before_cleanup(spark, workdir, crash_at):
    # kill between swap B and cleanup: new state is live at `path`,
    # a stale .old lingers; the restart re-delivers the same batch
    path = _seed(spark, workdir)
    with pytest.raises(crash_at("cleanup")):
        _merge(spark, _batch(spark), path)

    _merge(spark, _batch(spark), path)
    assert _rows(spark, path) == EXPECTED
    assert _no_swap_debris(workdir)


def test_crash_mid_swap_then_different_later_batch(spark, workdir, crash_at):
    # recovery must not resurrect rows a LATER batch supersedes: crash
    # mid-swap, then the restarted job applies batch1 (replay) and a
    # new batch2
    path = _seed(spark, workdir)
    with pytest.raises(crash_at("rename", 2)):
        _merge(spark, _batch(spark), path)

    sinks.merge_upsert_parquet(
        spark, _batch(spark), path, keys=["symbol", "date"]
    )
    batch2 = spark.createDataFrame(
        [("CCC", "2024-01-01", 31.0)],
        "symbol string, date string, close double",
    )
    sinks.merge_upsert_parquet(spark, batch2, path, keys=["symbol", "date"])
    assert _rows(spark, path) == {
        ("AAA", "2024-01-01", 11.0),
        ("BBB", "2024-01-01", 20.0),
        ("CCC", "2024-01-01", 31.0),
    }


# `sinks.compact_parquet` swaps through the same primitive; a crash in
# either rename window must heal on the next call.

_INITIAL = {("AAA", "2024-01-01", 10.0), ("BBB", "2024-01-01", 20.0)}


def test_compact_parquet_crash_mid_swap_restores_table(
    spark, workdir, crash_at
):
    # kill between the two renames: `path` is ABSENT, the table lives
    # only at its hidden .old
    path = _seed(spark, workdir)
    with pytest.raises(crash_at("rename", 2)):
        sinks.compact_parquet(spark, path)
    assert not os.path.exists(path)

    report = sinks.compact_parquet(spark, path)
    assert report["rows"] == 2
    assert _rows(spark, path) == _INITIAL
    assert _no_swap_debris(workdir)


def test_compact_parquet_crash_after_swap_drops_stale_old(
    spark, workdir, crash_at
):
    # kill between the swap and cleanup: the compacted table is live,
    # a superseded .old lingers next to it
    path = _seed(spark, workdir)
    with pytest.raises(crash_at("cleanup")):
        sinks.compact_parquet(spark, path)

    report = sinks.compact_parquet(spark, path)
    assert report["rows"] == 2
    assert _rows(spark, path) == _INITIAL
    assert _no_swap_debris(workdir)


# --------------------------------------------------------------------------
# Round 9: T4/T10 under crash at the STREAMING layer (the round-8 tests
# above cover the sink's swap protocol; these cover checkpoint restart)
# --------------------------------------------------------------------------

from datetime import datetime as _dt

from real_time_stock_market_data_pipeline__spark.streaming import pipeline

_EV_SCHEMA = "symbol string, ts timestamp, price double"

#: Two event files with disjoint symbols so the per-batch MERGE result
#: equals the one-shot result regardless of batch boundaries.
_FILE1 = [
    ("AAA", _dt(2024, 1, 1, 10, 0, 5), 10.0),
    ("AAA", _dt(2024, 1, 1, 10, 7, 0), 12.0),
    ("AAA", _dt(2024, 1, 1, 10, 31, 0), 11.0),
    ("BBB", _dt(2024, 1, 1, 10, 2, 0), 20.0),
    ("BBB", _dt(2024, 1, 1, 10, 44, 0), 24.0),
]
_FILE2 = [
    ("CCC", _dt(2024, 1, 1, 10, 3, 0), 30.0),
    ("CCC", _dt(2024, 1, 1, 10, 9, 0), 33.0),
    ("DDD", _dt(2024, 1, 1, 10, 50, 0), 40.0),
]


def _append_file(spark, src_dir, rows):
    spark.createDataFrame(rows, _EV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)


def _drain(spark, src_dir, target, ckpt):
    q = pipeline.stream_realtime_metrics(
        pipeline.read_file_stream(spark, src_dir),
        target_path=target,
        checkpoint_path=ckpt,
        available_now=True,
    )
    q.awaitTermination()


def _table_rows(spark, path):
    return {
        tuple(r)
        for r in spark.read.parquet(path)
        .select(
            "symbol",
            "window_start",
            "moving_avg_price_15m",
            "moving_avg_price_1h",
            "total_volume_15m",
        )
        .collect()
    }


@pytest.mark.slow
def test_checkpoint_restart_mid_stream_exactly_once(spark, workdir):
    """Kill a stream_realtime_metrics run between micro-batches
    (stop() after batch 1 commits), restart from the SAME checkpoint
    with new input present — the restarted query must process ONLY the
    new file, and the final table must equal an uninterrupted run over
    all input (T4 checkpoint recovery + T10 idempotent sink)."""
    src = os.path.join(workdir, "src")
    _append_file(spark, src, _FILE1)

    tgt, ckpt = os.path.join(workdir, "t"), os.path.join(workdir, "c")
    _drain(spark, src, tgt, ckpt)  # batch 1 committed, query stopped
    after_b1 = _table_rows(spark, tgt)
    assert {r[0] for r in after_b1} == {"AAA", "BBB"}

    _append_file(spark, src, _FILE2)  # arrives while the query is down
    _drain(spark, src, tgt, ckpt)  # restart from checkpoint
    final = _table_rows(spark, tgt)

    # control: uninterrupted drain of the same input
    tgt2, ckpt2 = os.path.join(workdir, "t2"), os.path.join(workdir, "c2")
    _drain(spark, src, tgt2, ckpt2)
    assert final == _table_rows(spark, tgt2)
    # batch-1 rows were not recomputed differently by the restart
    assert after_b1 <= final


@pytest.mark.slow
def test_checkpoint_rollback_replays_batch_idempotently(spark, workdir):
    """Crash BEFORE the checkpoint commit of a batch whose sink write
    already landed — the at-least-once window foreachBatch exposes.
    Simulated exactly: drain batch 1, back up the checkpoint, drain
    batch 2 (sink updated), then restore the checkpoint to its
    post-batch-1 state and restart. The engine re-delivers batch 2
    into a sink that already has it; the keyed MERGE must absorb the
    replay so the table equals the no-crash result."""
    src = os.path.join(workdir, "src")
    _append_file(spark, src, _FILE1)

    tgt, ckpt = os.path.join(workdir, "t"), os.path.join(workdir, "c")
    _drain(spark, src, tgt, ckpt)
    ckpt_backup = os.path.join(workdir, "c_backup")
    shutil.copytree(ckpt, ckpt_backup)

    _append_file(spark, src, _FILE2)
    _drain(spark, src, tgt, ckpt)  # batch 2 applied to the sink
    no_crash = _table_rows(spark, tgt)

    # crash between sink write and checkpoint commit: checkpoint says
    # batch 2 never happened, sink says it did
    shutil.rmtree(ckpt)
    shutil.copytree(ckpt_backup, ckpt)
    _drain(spark, src, tgt, ckpt)  # restart re-delivers batch 2

    assert _table_rows(spark, tgt) == no_crash


# ---------------------------------------------------------------------------
# merge_upsert_parquet with partition_col (the cell-partitioned index sink)
# ---------------------------------------------------------------------------


def _pidx_rows(spark, path):
    return sorted(
        (r["id"], r["payload"], r["cell"])
        for r in spark.read.parquet(path).collect()
    )


def test_partitioned_merge_batch0_replay_exactly_once(spark, workdir):
    """Round-10 verdict ask #7: the partitioned sink's FIRST batch hits
    the no-index-yet branch (input_ready false → merged = batch); a
    checkpoint replay of batch 0 after a crash re-delivers the same
    rows and must leave exactly one copy per key per cell."""
    path = os.path.join(workdir, "pidx")
    batch0 = spark.createDataFrame(
        [(1, "x", 0), (2, "y", 0), (3, "z", 1)],
        "id long, payload string, cell int",
    )
    for _ in range(3):  # batch 0, then two crash replays of batch 0
        sinks.merge_upsert_parquet(
            spark, batch0, path, keys=["id"], partition_col="cell"
        )
        assert _pidx_rows(spark, path) == [
            (1, "x", 0), (2, "y", 0), (3, "z", 1),
        ]


def test_partitioned_merge_later_batch_touches_only_its_cells(
    spark, workdir
):
    """A later batch that updates key 1 and inserts key 4 (both cell 0)
    must leave cell 1 byte-untouched (its directory is never read or
    rewritten) and merge cell 0; replaying that batch is idempotent."""
    path = os.path.join(workdir, "pidx")
    sinks.merge_upsert_parquet(
        spark,
        spark.createDataFrame(
            [(1, "x", 0), (2, "y", 0), (3, "z", 1)],
            "id long, payload string, cell int",
        ),
        path, keys=["id"], partition_col="cell",
    )
    cell1_files = sorted(os.listdir(os.path.join(path, "cell=1")))
    batch1 = spark.createDataFrame(
        [(1, "X", 0), (4, "w", 0)], "id long, payload string, cell int"
    )
    expected = [(1, "X", 0), (2, "y", 0), (3, "z", 1), (4, "w", 0)]
    for _ in range(2):  # apply + crash replay
        sinks.merge_upsert_parquet(
            spark, batch1, path, keys=["id"], partition_col="cell"
        )
        assert _pidx_rows(spark, path) == expected
    # the untouched partition's files were not rewritten
    assert sorted(os.listdir(os.path.join(path, "cell=1"))) == cell1_files


def test_partitioned_merge_preserves_null_partition_rows(spark, workdir):
    """Round-10 ADVICE: NULL partition values land in
    __HIVE_DEFAULT_PARTITION__, which a plain isin(touched) filter
    silently excludes from the merge read while dynamic overwrite
    still rewrites that directory — previously stored NULL-key rows
    were lost. The null-safe filter must merge them instead."""
    path = os.path.join(workdir, "pidx")
    sinks.merge_upsert_parquet(
        spark,
        spark.createDataFrame(
            [(1, "a", None), (2, "b", 0)],
            "id long, payload string, cell int",
        ),
        path, keys=["id"], partition_col="cell",
    )
    sinks.merge_upsert_parquet(
        spark,
        spark.createDataFrame(
            [(3, "c", None)], "id long, payload string, cell int"
        ),
        path, keys=["id"], partition_col="cell",
    )
    assert _pidx_rows(spark, path) == [
        (1, "a", None), (2, "b", 0), (3, "c", None),
    ]


def _snapshot(d):
    """{file name: bytes} of a partition directory."""
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


#: crash point -> the injected kill; the partitioned batch below swaps
#: cell=0 (renames 1-2) and then cell=2 (renames 3-4)
_PARTITIONED_CRASHES = {
    "after_stage_before_swap": ("rename", 1),
    "between_a_partitions_renames": ("rename", 4),
    "after_swap_before_cleanup": ("cleanup", 1),
}


@pytest.mark.parametrize("point", sorted(_PARTITIONED_CRASHES))
def test_partitioned_merge_heals_each_crash_window(
    spark, workdir, crash_at, point
):
    """A kill at each window of the per-partition swap, then a replay
    of the same batch: every key lands exactly once, the partition the
    batch does not touch stays byte-identical, and a file in the table
    root (an index sidecar lives there) survives. In the middle window
    cell=0 is already swapped and cell=2 is half-swapped."""
    path = os.path.join(workdir, "pidx")
    schema = "id long, payload string, cell int"
    sinks.merge_upsert_parquet(
        spark,
        spark.createDataFrame([(1, "x", 0), (2, "y", 1), (3, "z", 2)], schema),
        path, keys=["id"], partition_col="cell",
    )
    sidecar = os.path.join(path, "_meta.json")
    with open(sidecar, "w") as f:
        f.write("{}")
    untouched = _snapshot(os.path.join(path, "cell=1"))
    batch = spark.createDataFrame([(1, "X", 0), (4, "w", 2)], schema)

    with pytest.raises(crash_at(*_PARTITIONED_CRASHES[point])):
        sinks.merge_upsert_parquet(
            spark, batch, path, keys=["id"], partition_col="cell"
        )
    sinks.merge_upsert_parquet(
        spark, batch, path, keys=["id"], partition_col="cell"
    )
    assert _pidx_rows(spark, path) == [
        (1, "X", 0), (2, "y", 1), (3, "z", 2), (4, "w", 2),
    ]
    assert _snapshot(os.path.join(path, "cell=1")) == untouched
    assert os.path.isfile(sidecar)
    assert _no_swap_debris(workdir)


# ---------------------------------------------------------------------------
# merge_upsert_parquet with slice_by (the speed layer's hour-sliced target)
# ---------------------------------------------------------------------------

_SLICED_SCHEMA = "symbol string, window_start timestamp, v double"


def _sliced_merge(spark, rows, path):
    from pyspark.sql import functions as F

    sinks.merge_upsert_parquet(
        spark, spark.createDataFrame(rows, _SLICED_SCHEMA), path,
        keys=["symbol", "window_start"],
        slice_by=F.date_format("window_start", "yyyyMMddHH"),
    )


def _sliced_rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _slice_inodes(path, token):
    return {
        n: os.stat(os.path.join(path, n)).st_ino
        for n in os.listdir(path)
        if n.startswith(f"{token}~")
    }


#: the seed fills hours 10, 11 and 12; the batch updates a key of hour
#: 10, inserts into hour 12 and leaves hour 11 alone
_SLICED_SEED = [
    ("AAA", _dt(2024, 1, 2, 10, 10), 1.0),
    ("BBB", _dt(2024, 1, 2, 10, 20), 2.0),
    ("AAA", _dt(2024, 1, 2, 11, 30), 3.0),
    ("AAA", _dt(2024, 1, 2, 12, 0), 4.0),
]
_SLICED_BATCH = [
    ("AAA", _dt(2024, 1, 2, 10, 10), 10.0),
    ("CCC", _dt(2024, 1, 2, 12, 40), 5.0),
]

#: crash point -> the injected kill and the hidden sibling it leaves.
#: The batch rewrites two slices, so its stage flatten moves at least
#: two files: rename 2 is still inside the flatten, with one file moved
_SLICED_CRASHES = {
    "during_stage_flatten": (("rename", 2), ".sliced.stage"),
    "between_swap_renames": (("swap", 1), ".sliced.old"),
    "after_swap_before_cleanup": (("cleanup", 1), ".sliced.old"),
}


@pytest.mark.parametrize("point", sorted(_SLICED_CRASHES))
def test_sliced_merge_heals_each_crash_window(
    spark, workdir, crash_at, point
):
    """A kill at each window of the sliced merge (inside the stage
    flatten, between the swap's two renames, before the superseded
    table is deleted), then a replay of the same batch: every key
    lands once, the rows equal a run with no crash, no hidden sibling
    is left, and the untouched hour's files keep their inodes."""
    clean = os.path.join(workdir, "clean")
    _sliced_merge(spark, _SLICED_SEED, clean)
    _sliced_merge(spark, _SLICED_BATCH, clean)
    want = _sliced_rows(spark, clean)
    assert len(want) == 5

    path = os.path.join(workdir, "sliced")
    _sliced_merge(spark, _SLICED_SEED, path)
    untouched = _slice_inodes(path, "2024010211")
    assert untouched

    kill, left = _SLICED_CRASHES[point]
    with pytest.raises(crash_at(*kill)):
        _sliced_merge(spark, _SLICED_BATCH, path)
    assert os.path.isdir(os.path.join(workdir, left))
    _sliced_merge(spark, _SLICED_BATCH, path)
    got = _sliced_rows(spark, path)
    assert got == want
    assert len({(r[0], r[1]) for r in got}) == len(got)
    assert _no_swap_debris(workdir)
    assert _slice_inodes(path, "2024010211") == untouched


def test_nested_compaction_crash_mid_swap_heals_at_wiring(
    spark, workdir, crash_at
):
    """A kill between the two renames of a nested compaction's swap
    leaves the compacted cell's data only in its superseded copy. The
    next service wiring must heal it before the first batch reads the
    prior rows: a superseded directory listed as a partition turns the
    cell column into a string, and the batch's cell filter then fails
    under ANSI casts on every replay."""
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    path = os.path.join(workdir, "kept")
    rows = spark.range(8).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("cell")
    )
    sinks.append_batch_partition(rows, path, sinks.BASE_BP, "cell")
    # only cell 2 accretes batch partitions, so only its swap runs
    for b in (0, 1):
        sinks.append_batch_partition(
            spark.createDataFrame([(100 + b, 2)], "id long, cell int"),
            path, b, "cell",
        )
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(os.path.join(ckpt, "commits"))
    for b in (0, 1):
        open(os.path.join(ckpt, "commits", str(b)), "w").close()

    with pytest.raises(crash_at("rename", 2)):
        sinks.compact_batch_partitions(spark, path, upto_bp=1, prune_col="cell")
    pipeline._check_bp_tables(ckpt, [(path, "cell")])

    prior = sinks.read_prior_batches(spark, path, 2)
    got = sorted(r["id"] for r in prior.filter(F.col("cell").isin([2])).collect())
    assert got == [2, 6, 100, 101]
    assert _no_swap_debris(workdir)


# ---------------------------------------------------------------------------
# stream_substring_ingest (two sinks per batch: docs MERGE, then digest MERGE)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_stream_substring_ingest_crash_between_sinks(spark, workdir):
    """The round-12 ExactSubstr service writes TWO sinks per batch —
    rewritten docs (MERGE on id), then kept digests (cell-scoped MERGE
    into the index). A crash BETWEEN them leaves docs written but the
    index stale, with the checkpoint saying the batch never ran; the
    restart re-delivers the batch (batch-sequential, so no later batch
    can slip in first) and both MERGEs must converge to the no-crash
    state. Also covered: crash AFTER both sinks but before the
    checkpoint commit (full replay)."""
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline__spark.operators import dedup
    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    corpus = spark.createDataFrame(
        [(0, "c1 c2 c3 c4 c5 c6 c7 c8")], "doc_id: long, text: string"
    )
    idx = os.path.join(workdir, "blockidx")
    out = os.path.join(workdir, "rewritten")
    in_dir, ckpt = os.path.join(workdir, "in"), os.path.join(workdir, "ckpt")
    dedup.write_block_index(corpus, idx, partitioned=True)
    schema = corpus.schema

    def drain():
        src = pipeline.read_file_stream(spark, in_dir, schema=schema)
        q = pipeline.stream_substring_ingest(src, idx, out, ckpt)
        q.awaitTermination()

    def state():
        docs = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "n_blocks", "n_kept", "dedup_text")
            .collect()
        )
        digs = sorted(
            r["block_md5"] for r in spark.read.parquet(idx).collect()
        )
        return docs, digs

    # batch 1: one novel doc + a corpus clone
    spark.createDataFrame(
        [(10, "n1 n2 n3 n4 n5 n6 n7 n8"), (11, "c1 c2 c3 c4 c5 c6 c7 c8")],
        schema,
    ).coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    ckpt_b1 = os.path.join(workdir, "ckpt_b1")
    idx_b1 = os.path.join(workdir, "idx_b1")
    shutil.copytree(ckpt, ckpt_b1)
    shutil.copytree(idx, idx_b1)

    # batch 2: repeats batch-1's novel block + adds its own
    spark.createDataFrame(
        [(20, "n1 n2 n3 n4 n5 n6 n7 n8 m1 m2 m3 m4 m5 m6 m7 m8")], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    no_crash = state()

    # crash BETWEEN the sinks during batch 2: docs sink has batch 2,
    # the digest index does not, the checkpoint says batch 2 never ran
    shutil.rmtree(ckpt); shutil.copytree(ckpt_b1, ckpt)
    shutil.rmtree(idx); shutil.copytree(idx_b1, idx)
    drain()  # restart re-delivers batch 2
    assert state() == no_crash

    # crash AFTER both sinks, before the checkpoint commit: full replay
    shutil.rmtree(ckpt); shutil.copytree(ckpt_b1, ckpt)
    drain()
    assert state() == no_crash


@pytest.mark.slow
def test_stream_ivfpq_ingest_checkpoint_rollback_replay(spark, workdir):
    """stream_ivfpq_ingest's crash window: codes MERGEd, checkpoint
    uncommitted. Codes are deterministic under the frozen sidecar
    codebooks, so the replayed MERGE on vec_id must leave exactly one
    code row per vector and the probe result unchanged."""
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline__spark.operators import (
        similarity,
    )
    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    base = spark.createDataFrame(
        [
            (i, [float((0.3 * ((i + j) % 11) - 1.0)) for j in range(64)])
            for i in range(40)
        ],
        "vec_id: long, embedding: array<float>",
    )
    path = os.path.join(workdir, "ivfpq")
    cents, sds = similarity.ivfpq_write_index(
        base.filter(F.col("vec_id") < 20), path
    )
    in_dir, ckpt = os.path.join(workdir, "in"), os.path.join(workdir, "c")

    def drain():
        src = pipeline.read_file_stream(spark, in_dir, schema=base.schema)
        q = pipeline.stream_ivfpq_ingest(src, path, ckpt)
        q.awaitTermination()

    base.filter(F.col("vec_id") >= 20).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    ckpt_pre = os.path.join(workdir, "c_pre")
    os.makedirs(ckpt)  # ensure a dir exists to back up the empty state
    shutil.copytree(ckpt, ckpt_pre, dirs_exist_ok=True)
    drain()  # batch applied + checkpoint committed

    q = [float(x) for x in base.filter(F.col("vec_id") == 0).first()[1]]
    no_crash = [
        tuple(r)
        for r in similarity.ivfpq_topk_indexed(
            spark, path, base, q, k=10, refine=4
        ).collect()
    ]
    # crash between the sink MERGE and the checkpoint commit
    shutil.rmtree(ckpt)
    shutil.copytree(ckpt_pre, ckpt)
    drain()  # replay re-merges the same codes
    assert [
        tuple(r)
        for r in similarity.ivfpq_topk_indexed(
            spark, path, base, q, k=10, refine=4
        ).collect()
    ] == no_crash
    assert spark.read.parquet(path).count() == 40


# ---------------------------------------------------------------------------
# stream_neardup_ingest (two sinks per batch: verdict MERGE, then band MERGE)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_stream_neardup_ingest_crash_between_sinks(spark, workdir):
    """The MinHash ingest service writes TWO sinks per batch — the
    verdict log (MERGE on doc_id), then the batch's band rows
    (prefix-scoped MERGE into the stream index). Crash BETWEEN them:
    verdicts written, bands stale, checkpoint says the batch never ran
    — the replay must converge to the no-crash state. Crash AFTER both
    sinks (full replay): the batch finds its own bands stored, and the
    strict owner-id < rule must keep it from killing itself."""
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline__spark.operators import dedup
    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    corpus = spark.createDataFrame(
        [(0, "c1 c2 c3 c4 c5")], "doc_id: long, text: string"
    )
    cbp = os.path.join(workdir, "corpus_bands")
    sbp = os.path.join(workdir, "stream_bands")
    out = os.path.join(workdir, "verdicts")
    in_dir, ckpt = os.path.join(workdir, "in"), os.path.join(workdir, "ckpt")
    dedup.write_dedup_index(corpus, cbp)
    schema = corpus.schema

    def drain():
        src = pipeline.read_file_stream(spark, in_dir, schema=schema)
        q = pipeline.stream_neardup_ingest(src, cbp, sbp, out, ckpt)
        q.awaitTermination()

    def state():
        verdicts = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "n_corpus_dups", "n_prior_dups", "dup")
            .collect()
        )
        bands = sorted(
            tuple(r)
            for r in spark.read.parquet(sbp)
            .select("doc_id", "band_idx", "band_hash")
            .collect()
        )
        return verdicts, bands

    # batch 1: a corpus clone + a novel doc
    spark.createDataFrame(
        [(10, "c1 c2 c3 c4 c5"), (11, "n1 n2 n3 n4 n5")], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    v1 = {r[0]: r[1:] for r in state()[0]}
    assert v1[10] == (1, 0, True)    # dies to the corpus
    assert v1[11] == (0, 0, False)   # novel survives
    ckpt_b1 = os.path.join(workdir, "ckpt_b1")
    sbp_b1 = os.path.join(workdir, "sbp_b1")
    shutil.copytree(ckpt, ckpt_b1)
    shutil.copytree(sbp, sbp_b1)

    # batch 2: a clone of batch-1's novel doc (cross-batch prior kill)
    spark.createDataFrame(
        [(20, "n1 n2 n3 n4 n5")], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    no_crash = state()
    v2 = {r[0]: r[1:] for r in no_crash[0]}
    assert v2[20] == (0, 1, True)    # dies to the earlier arrival

    # crash BETWEEN the sinks during batch 2
    shutil.rmtree(ckpt); shutil.copytree(ckpt_b1, ckpt)
    shutil.rmtree(sbp); shutil.copytree(sbp_b1, sbp)
    drain()
    assert state() == no_crash

    # crash AFTER both sinks, before the checkpoint commit: full replay
    shutil.rmtree(ckpt); shutil.copytree(ckpt_b1, ckpt)
    drain()
    assert state() == no_crash


# ---------------------------------------------------------------------------
# stream_bm25_ingest (three sinks per batch: postings, doclens, stats partial)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_stream_bm25_ingest_replay_and_stats_idempotence(spark, workdir):
    """The BM25 ingest service writes THREE sinks per batch. The stats
    sink is the subtle one: a per-batch partial keyed on batch_id, so
    a checkpoint replay OVERWRITES its own row instead of
    double-counting N/Σdl. Covered: (a) two drains then probe equals
    the one-pass scorer over the union; (b) crash between the
    doclens and stats sinks → replay converges; (c) full replay after
    all three sinks → stats unchanged (no duplicate partial)."""
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline__spark.operators import text as t
    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    corpus = spark.createDataFrame(
        [(0, "apple pie with extra apple"), (1, "pear tart no fruit")],
        "doc_id: long, text: string",
    )
    idx = os.path.join(workdir, "bm25idx")
    in_dir, ckpt = os.path.join(workdir, "in"), os.path.join(workdir, "ckpt")
    t.bm25_write_index(corpus, idx)
    schema = corpus.schema

    def drain():
        src = pipeline.read_file_stream(spark, in_dir, schema=schema)
        q = pipeline.stream_bm25_ingest(src, idx, ckpt)
        q.awaitTermination()

    b1 = spark.createDataFrame(
        [(10, "apple apple apple crumble"), (11, "plain bread loaf")], schema
    )
    b2 = spark.createDataFrame([(20, "apple and pear salad")], schema)
    b1.coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    ckpt_b1 = os.path.join(workdir, "ckpt_b1")
    stats_b1 = os.path.join(workdir, "stats_b1")
    shutil.copytree(ckpt, ckpt_b1)
    shutil.copytree(os.path.join(idx, "stats"), stats_b1)

    b2.coalesce(1).write.mode("append").parquet(in_dir)
    drain()

    union = corpus.unionByName(b1).unionByName(b2)
    terms = ["apple", "pear"]
    want = [tuple(r) for r in t.bm25_topk(union, terms, k=10).collect()]

    def probe():
        return [
            tuple(r) for r in t.bm25_topk_indexed(spark, idx, terms, k=10).collect()
        ]

    no_crash_probe = probe()
    assert no_crash_probe == want
    stats_rows = sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(idx, "stats")).collect()
    )
    assert len(stats_rows) == 3  # base build + two batches

    # crash BETWEEN doclens and stats during batch 2: restore only the
    # checkpoint and the stats table to their post-b1 state (postings/
    # doclens keep batch 2) — replay must converge
    shutil.rmtree(ckpt); shutil.copytree(ckpt_b1, ckpt)
    shutil.rmtree(os.path.join(idx, "stats"))
    shutil.copytree(stats_b1, os.path.join(idx, "stats"))
    drain()
    assert probe() == want
    assert sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(idx, "stats")).collect()
    ) == stats_rows

    # full replay of batch 2 after all three sinks committed
    shutil.rmtree(ckpt); shutil.copytree(ckpt_b1, ckpt)
    drain()
    assert probe() == want
    assert sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(idx, "stats")).collect()
    ) == stats_rows
