"""Round-16: the bp-append layout's operational layer.

- ``sinks.committed_batch_watermark`` reads the replay watermark from a
  REAL checkpoint's commits log (including the crash-before-commit
  case), so service wirings and offline maintenance resolve ``upto_bp``
  from the source of truth instead of hand-deriving ``batch_id - 1``.
- ``sinks.check_bp_checkpoint_coherent`` fails fast on the layout's one
  operational trap: a fresh checkpoint pointed at an existing bp table
  (batch ids restart at 0 and dynamic overwrite would clobber history).
- ``compact_every`` is wired through EVERY bp-append service (round-15
  wired only the semantic screen): per family, draining N batches with
  compaction enabled yields the same queryable state as the batch
  operator over the union, while bp-directory counts stay at the
  compacted floor instead of one-per-batch.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark import sinks
from real_time_stock_market_data_pipeline__spark.sources.registry import (
    load_table,
)
from real_time_stock_market_data_pipeline__spark.streaming import pipeline



#: every test here drains multi-batch streams and runs the
#: compaction services end-to-end — slow by construction,
#: deselected from the default (driver) run via pytest.ini
pytestmark = pytest.mark.slow

def _drain_files(spark, in_dir, schema, wire):
    """One availableNow drain of the file stream through ``wire``."""
    src = pipeline.read_file_stream(spark, in_dir, schema=schema)
    q = wire(src)
    q.awaitTermination()


def _bp_dirs(path: str, nested: bool) -> int:
    """Max bp=* directory count per parent (nested) or at the root."""
    if not os.path.isdir(path):
        return 0
    if not nested:
        return len([e for e in os.listdir(path) if e.startswith("bp=")])
    counts = [
        len(
            [
                e
                for e in os.listdir(os.path.join(path, d))
                if e.startswith("bp=")
            ]
        )
        for d in os.listdir(path)
        if os.path.isdir(os.path.join(path, d)) and "=" in d
    ]
    return max(counts, default=0)


def _doc_chunks(docs, n_chunks):
    """Contiguous id ranges — the monotone-id arrival contract."""
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    half = n // 2
    step = max(1, (n - half) // n_chunks)
    bounds = [half + i * step for i in range(n_chunks)] + [n]
    corpus = docs.filter(F.col("doc_id") < half)
    chunks = [
        docs.filter(
            (F.col("doc_id") >= bounds[i]) & (F.col("doc_id") < bounds[i + 1])
        )
        for i in range(n_chunks)
    ]
    return corpus, chunks


# ---------------------------------------------------------------------------
# committed_batch_watermark — against a REAL checkpoint
# ---------------------------------------------------------------------------


def test_committed_batch_watermark_real_checkpoint(spark, tmp_path):
    """Two drains of a real stream → watermark 1; removing the last
    commits entry (the crash-before-commit state a replay resumes
    from) → watermark 0; no commits at all → None."""
    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id: long, text: string"

    def wire(src):
        return pipeline.stream_substring_ingest(
            src, str(tmp_path / "idx"), out, ckpt
        )

    from real_time_stock_market_data_pipeline__spark.operators import dedup

    corpus = spark.createDataFrame(
        [(0, " ".join(f"c{i}" for i in range(9)))], schema
    )
    dedup.write_block_index(corpus, str(tmp_path / "idx"), partitioned=True)

    assert sinks.committed_batch_watermark(ckpt) is None  # absent ckpt
    for b in (1, 2):
        spark.createDataFrame(
            [(b * 10, " ".join(f"w{b}_{i}" for i in range(9)))], schema
        ).coalesce(1).write.mode("append").parquet(in_dir)
        _drain_files(spark, in_dir, corpus.schema, wire)
    assert sinks.committed_batch_watermark(ckpt) == 1

    # crash-before-commit: offsets/1 exists, commits/1 gone → replay
    # pending, watermark must fall back to 0
    os.remove(os.path.join(ckpt, "commits", "1"))
    assert sinks.committed_batch_watermark(ckpt) == 0
    os.remove(os.path.join(ckpt, "commits", "0"))
    assert sinks.committed_batch_watermark(ckpt) is None


# ---------------------------------------------------------------------------
# check_bp_checkpoint_coherent — the fresh-checkpoint trap
# ---------------------------------------------------------------------------


def test_check_bp_checkpoint_coherent(spark, tmp_path):
    flat = str(tmp_path / "flat")
    nested = str(tmp_path / "nested")
    ckpt_fresh = str(tmp_path / "ckpt_fresh")
    df = spark.createDataFrame([(1, 1)], "id: long, v: long")

    # absent table + fresh checkpoint: fine (new stream, new table)
    sinks.check_bp_checkpoint_coherent(flat, ckpt_fresh)

    # base-build-only table (bp=-1): fine — no live batch partitions
    df.withColumn("bp", F.lit(-1).cast("long")).write.partitionBy(
        "bp"
    ).parquet(flat)
    sinks.check_bp_checkpoint_coherent(flat, ckpt_fresh)

    # live bp>=0 partitions + fresh checkpoint: refuse, flat and nested
    df.withColumn("bp", F.lit(0).cast("long")).write.mode(
        "append"
    ).partitionBy("bp").parquet(flat)
    with pytest.raises(ValueError, match="committed batches"):
        sinks.check_bp_checkpoint_coherent(flat, ckpt_fresh)
    df.withColumn("cell", F.lit(3)).withColumn(
        "bp", F.lit(2).cast("long")
    ).write.partitionBy("cell", "bp").parquet(nested)
    with pytest.raises(ValueError):
        sinks.check_bp_checkpoint_coherent(nested, ckpt_fresh)

    # a checkpoint WITH commits passes (same table)
    ckpt_used = str(tmp_path / "ckpt_used")
    os.makedirs(os.path.join(ckpt_used, "commits"))
    with open(os.path.join(ckpt_used, "commits", "0"), "w") as f:
        f.write("v1\n{}")
    sinks.check_bp_checkpoint_coherent(flat, ckpt_used)
    sinks.check_bp_checkpoint_coherent(nested, ckpt_used)

    # and the service wiring itself enforces it: a bp-layout DSIR
    # index with live batches + a brand-new checkpoint dir must
    # refuse at wiring, advising compaction
    from real_time_stock_market_data_pipeline__spark.operators import (
        text as t,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma", "en")], "doc_id: long, text: string, lang: string"
    )
    dsir = str(tmp_path / "dsir")
    t.dsir_write_index(docs, dsir)
    # simulate a prior run's batch partition on one sub-table
    df.withColumn("bp", F.lit(0).cast("long")).write.mode(
        "append"
    ).partitionBy("bp").parquet(os.path.join(dsir, "docs"))
    in_nothing = str(tmp_path / "in_nothing")
    os.makedirs(in_nothing)
    src = pipeline.read_file_stream(spark, in_nothing, schema=docs.schema)
    with pytest.raises(ValueError):
        pipeline.stream_dsir_ingest(
            src, dsir, str(tmp_path / "ckpt_new_run")
        )


# ---------------------------------------------------------------------------
# compactor hardening: staging permissions + flat staging-leak healing
# ---------------------------------------------------------------------------


def test_compact_preserves_dir_mode_and_heals_flat_stage_leak(
    spark, tmp_path
):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 1)], "id: long, v: long")
    for b in (-1, 0, 1):
        df.withColumn("bp", F.lit(b).cast("long")).write.mode(
            "append"
        ).partitionBy("bp").parquet(path)
    os.chmod(path, 0o775)
    want_mode = os.stat(path).st_mode & 0o7777

    # plant a stale staging dir from a "crashed" prior compaction —
    # the deterministic sibling name the healer must clean
    stale = os.path.join(
        os.path.dirname(path), "_compact_bp_" + os.path.basename(path)
    )
    os.makedirs(os.path.join(stale, "bp=-1"))
    with open(os.path.join(stale, "bp=-1", "junk"), "w") as f:
        f.write("leftover")

    rep = sinks.compact_batch_partitions(spark, path, upto_bp=1)
    assert rep and not os.path.exists(stale)
    # table dir mode survived the swap (mkdtemp would leave 0700)
    assert os.stat(path).st_mode & 0o7777 == want_mode
    assert spark.read.parquet(path).count() == 3


# ---------------------------------------------------------------------------
# compact_every wired per service family (round-15 verdict ask #3):
# drain 6 batches with compaction ON, assert (a) queryable state equals
# the batch operator over the union (nothing lost), (b) bp-directory
# counts stay at the compacted floor, (c) a no-input drain is a no-op.
# ---------------------------------------------------------------------------


def test_stream_substring_compact_every(spark, sf_dir, tmp_path):
    from real_time_stock_market_data_pipeline__spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus, chunks = _doc_chunks(docs, 6)
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    dedup.write_block_index(corpus, idx, partitioned=True)

    def wire(src):
        return pipeline.stream_substring_ingest(
            src, idx, out, ckpt, compact_every=2
        )

    for c in chunks:
        c.coalesce(1).write.mode("append").parquet(in_dir)
        _drain_files(spark, in_dir, docs.schema, wire)
    _drain_files(spark, in_dir, docs.schema, wire)  # no-op drain

    got = {
        r["doc_id"]: (r["n_blocks"], r["n_kept"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["n_blocks"], r["n_kept"])
        for r in dedup.substring_dedup(docs).collect()
        if r["doc_id"] in got
    }
    assert got == want and len(got) == sum(c.count() for c in chunks)
    # 6 appends, folds after batches 1/3/5 → base + at most the
    # batches since the last fold; without compaction this is 6
    assert _bp_dirs(out, nested=False) <= 3
    assert _bp_dirs(idx, nested=True) <= 3


def test_stream_neardup_compact_every(spark, sf_dir, tmp_path):
    from real_time_stock_market_data_pipeline__spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus, chunks = _doc_chunks(docs, 6)
    cbp, sbp = str(tmp_path / "cb"), str(tmp_path / "sb")
    out = str(tmp_path / "verdicts")
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    dedup.write_dedup_index(corpus, cbp)

    def wire(src):
        return pipeline.stream_neardup_ingest(
            src, cbp, sbp, out, ckpt, compact_every=2
        )

    for c in chunks:
        c.coalesce(1).write.mode("append").parquet(in_dir)
        _drain_files(spark, in_dir, docs.schema, wire)
    _drain_files(spark, in_dir, docs.schema, wire)

    streamed = chunks[0]
    for c in chunks[1:]:
        streamed = streamed.unionByName(c)
    got = {
        r["doc_id"]: (r["n_corpus_dups"], r["n_prior_dups"], r["dup"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["n_corpus_dups"], r["n_prior_dups"], r["dup"])
        for r in dedup.neardup_screen(streamed, corpus).collect()
    }
    assert got == want
    assert _bp_dirs(out, nested=False) <= 3
    assert _bp_dirs(sbp, nested=True) <= 3


def test_stream_bm25_compact_every(spark, tmp_path):
    from real_time_stock_market_data_pipeline__spark.operators import (
        text as t,
    )

    schema = "doc_id: long, text: string"
    corpus = spark.createDataFrame(
        [(0, "apple pie with extra apple"), (1, "pear tart no fruit")],
        schema,
    )
    idx = str(tmp_path / "idx")
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    t.bm25_write_index(corpus, idx)

    def wire(src):
        return pipeline.stream_bm25_ingest(src, idx, ckpt, compact_every=2)

    batches = [
        spark.createDataFrame(
            [(10 + b, f"apple doc{b} pear word{b}")], schema
        )
        for b in range(6)
    ]
    union = corpus
    for b in batches:
        union = union.unionByName(b)
        b.coalesce(1).write.mode("append").parquet(in_dir)
        _drain_files(spark, in_dir, corpus.schema, wire)
    _drain_files(spark, in_dir, corpus.schema, wire)

    terms = ["apple", "pear"]
    got = [
        tuple(r)
        for r in t.bm25_topk_indexed(spark, idx, terms, k=10).collect()
    ]
    want = [tuple(r) for r in t.bm25_topk(union, terms, k=10).collect()]
    assert got == want
    assert _bp_dirs(os.path.join(idx, "doclens"), nested=False) <= 3
    assert _bp_dirs(os.path.join(idx, "stats"), nested=False) <= 3


def test_stream_bq_compact_every(spark, sf_dir, tmp_path):
    from real_time_stock_market_data_pipeline__spark.operators import (
        similarity,
    )

    embs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    n = embs.agg(F.max("vec_id")).first()[0] + 1
    corpus = embs.filter(F.col("vec_id") < n // 2)
    rest = embs.filter(F.col("vec_id") >= n // 2)
    path = str(tmp_path / "bq")
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    mu = similarity.bq_write_index(corpus, path)

    def wire(src):
        return pipeline.stream_bq_ingest(src, path, ckpt, compact_every=2)

    step = max(1, (n - n // 2) // 6)
    for i in range(6):
        lo, hi = n // 2 + i * step, n // 2 + (i + 1) * step if i < 5 else n
        rest.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("append").parquet(in_dir)
        _drain_files(spark, in_dir, embs.schema, wire)
    _drain_files(spark, in_dir, embs.schema, wire)

    q = [float(x) for x in embs.first()["embedding"]]
    got = [
        tuple(r)
        for r in similarity.bq_topk_indexed(
            spark, embs, path, q, k=5
        ).collect()
    ]
    want = [
        tuple(r)
        for r in similarity.bq_topk(embs, q, k=5, means=mu).collect()
    ]
    assert got == want
    assert _bp_dirs(path, nested=False) <= 3


def test_stream_contrastive_compact_every(spark, sf_dir, tmp_path):
    from real_time_stock_market_data_pipeline__spark.operators import (
        similarity,
    )

    embs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % 3).cast("int").alias("label"),
    )
    n = embs.agg(F.max("vec_id")).first()[0] + 1
    corpus = embs.filter(F.col("vec_id") < n // 2)
    rest = embs.filter(F.col("vec_id") >= n // 2)
    path = str(tmp_path / "cidx")
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    cents = similarity.contrastive_write_index(
        corpus, path, label_col="label"
    )

    def wire(src):
        return pipeline.stream_contrastive_ingest(
            src, path, ckpt, compact_every=2
        )

    step = max(1, (n - n // 2) // 6)
    for i in range(6):
        lo, hi = n // 2 + i * step, n // 2 + (i + 1) * step if i < 5 else n
        rest.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("append").parquet(in_dir)
        _drain_files(spark, in_dir, embs.schema, wire)
    _drain_files(spark, in_dir, embs.schema, wire)

    anchors = embs.filter(F.col("vec_id") < 4)
    got = sorted(
        (tuple(r) for r in similarity.contrastive_pairs_indexed(
            spark, anchors, path, k=3
        ).collect()),
        key=lambda t: (t[0], t[2], t[3]),
    )
    want = sorted(
        (tuple(r) for r in similarity.contrastive_pairs(
            embs, anchors, k=3, centroids=cents
        ).collect()),
        key=lambda t: (t[0], t[2], t[3]),
    )
    assert got == want
    assert spark.read.parquet(path).count() == embs.count()
    assert _bp_dirs(path, nested=True) <= 3


def test_stream_curation_compact_every(spark, sf_dir, tmp_path):
    from real_time_stock_market_data_pipeline__spark.operators import (
        curation,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    path = str(tmp_path / "state")
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    curation.curation_write_state(bench, path, min_score=0.8, min_words=30)

    def wire(src):
        return pipeline.stream_curation_ingest(
            src, path, ckpt, compact_every=2
        )

    n = docs.agg(F.max("doc_id")).first()[0] + 1
    step = max(1, n // 6)
    for i in range(6):
        lo, hi = i * step, (i + 1) * step if i < 5 else n
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(in_dir)
        _drain_files(spark, in_dir, docs.schema, wire)
    _drain_files(spark, in_dir, docs.schema, wire)

    got = sorted(
        tuple(r)
        for r in curation.curation_verdicts_indexed(spark, path).collect()
    )
    want = sorted(
        tuple(r)
        for r in curation.curation_verdicts(
            docs, bench, min_score=0.8, min_words=30
        ).collect()
    )
    assert got == want
    assert _bp_dirs(os.path.join(path, "verdicts"), nested=False) <= 3
    assert _bp_dirs(os.path.join(path, "hashes"), nested=True) <= 3
    assert _bp_dirs(os.path.join(path, "bands"), nested=True) <= 3


def test_stream_dsir_compact_every(spark, sf_dir, tmp_path):
    from real_time_stock_market_data_pipeline__spark.operators import (
        text as t,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    half = docs.filter(F.col("doc_id") < n // 2)
    rest = docs.filter(F.col("doc_id") >= n // 2)
    path = str(tmp_path / "dsir")
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    t.dsir_write_index(half, path)

    def wire(src):
        return pipeline.stream_dsir_ingest(src, path, ckpt, compact_every=2)

    step = max(1, (n - n // 2) // 6)
    for i in range(6):
        lo, hi = n // 2 + i * step, n // 2 + (i + 1) * step if i < 5 else n
        rest.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(in_dir)
        _drain_files(spark, in_dir, docs.schema, wire)
    _drain_files(spark, in_dir, docs.schema, wire)

    got = sorted(
        tuple(r) for r in t.dsir_weights_indexed(spark, path).collect()
    )
    want = sorted(tuple(r) for r in t.dsir_logweights(docs).collect())
    assert got == want
    for sub in ("buckets", "docs", "stats"):
        assert _bp_dirs(os.path.join(path, sub), nested=False) <= 3


def test_compaction_survives_crash_replay(spark, tmp_path):
    """Compaction + replay interplay: snapshot the checkpoint after
    batch 0, drain batch 1 (which folds the committed prefix with
    compact_every=2 — wm=0, so bp=-1 absorbs bp=0 while bp=1 stays
    live), then restore the checkpoint to force a REPLAY of batch 1:
    the replayed batch must overwrite its still-live bp partition
    bit-identically and the final state equals the no-crash run."""
    from real_time_stock_market_data_pipeline__spark.operators import (
        text as t,
    )

    schema = "doc_id: long, text: string, lang: string"
    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta", "en")], schema
    )
    path = str(tmp_path / "dsir")
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    t.dsir_write_index(corpus, path)

    def wire(src):
        return pipeline.stream_dsir_ingest(src, path, ckpt, compact_every=2)

    b0 = spark.createDataFrame([(10, "epsilon zeta eta", "en")], schema)
    b1 = spark.createDataFrame([(20, "theta iota kappa", "fr")], schema)
    b0.coalesce(1).write.mode("append").parquet(in_dir)
    _drain_files(spark, in_dir, corpus.schema, wire)
    ckpt_saved = str(tmp_path / "ckpt_saved")
    shutil.copytree(ckpt, ckpt_saved)
    b1.coalesce(1).write.mode("append").parquet(in_dir)
    _drain_files(spark, in_dir, corpus.schema, wire)
    want = sorted(
        tuple(r) for r in t.dsir_weights_indexed(spark, path).collect()
    )

    # crash after batch 1's sinks but before its commit: replay it
    shutil.rmtree(ckpt)
    shutil.copytree(ckpt_saved, ckpt)
    b1_replay_in = in_dir  # same files; checkpoint decides what replays
    _drain_files(spark, b1_replay_in, corpus.schema, wire)
    got = sorted(
        tuple(r) for r in t.dsir_weights_indexed(spark, path).collect()
    )
    assert got == want


def test_compact_streaming_state_and_decommission(spark, tmp_path):
    """The two offline maintenance entry points: with the checkpoint
    stopped-but-resumable, compact_streaming_state folds exactly the
    committed prefix (the uncommitted trailing batch keeps its
    partition); decommission_batch_partitions folds EVERYTHING, after
    which the table passes check_bp_checkpoint_coherent against a
    brand-new checkpoint."""
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 1)], "id: long, v: long")
    for b in (-1, 0, 1, 2):
        df.withColumn("bp", F.lit(b).cast("long")).write.mode(
            "append"
        ).partitionBy("bp").parquet(path)
    # checkpoint: batches 0 and 1 committed, batch 2 offset-only
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(os.path.join(ckpt, "commits"))
    os.makedirs(os.path.join(ckpt, "offsets"))
    for b in (0, 1):
        with open(os.path.join(ckpt, "commits", str(b)), "w") as f:
            f.write("v1\n{}")
    for b in (0, 1, 2):
        with open(os.path.join(ckpt, "offsets", str(b)), "w") as f:
            f.write("v1\n{}")

    rep = sinks.compact_streaming_state(spark, ckpt, [(path, None)])
    assert rep[path]  # something folded
    live = sorted(
        e for e in os.listdir(path) if e.startswith("bp=")
    )
    # bp=-1 (folded base incl. batches 0,1) + bp=2 (uncommitted)
    assert live == ["bp=-1", "bp=2"]
    assert spark.read.parquet(path).count() == 4

    # still NOT safe for a fresh checkpoint (bp=2 is live)
    with pytest.raises(ValueError):
        sinks.check_bp_checkpoint_coherent(path, str(tmp_path / "fresh"))

    sinks.decommission_batch_partitions(spark, path)
    assert sorted(
        e for e in os.listdir(path) if e.startswith("bp=")
    ) == ["bp=-1"]
    assert spark.read.parquet(path).count() == 4
    sinks.check_bp_checkpoint_coherent(path, str(tmp_path / "fresh"))
