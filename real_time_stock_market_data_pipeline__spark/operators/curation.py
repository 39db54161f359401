"""End-to-end corpus-curation verdicts: the composed quality → exact
dedup → near-dup → decontamination audit a training-data pipeline runs
before assembling a corpus (reference analog: the cleaning stages of
`src/spark/spark_stream_processor.py` generalized to the LLM-curation
stack — quality gating, duplicate removal, benchmark-leakage filtering
as ONE auditable pass).

Design: each stage's flag is computed INDEPENDENTLY over the full
corpus and joined on the document id — the report form. A sequential
pipeline (near-dup only among quality survivors, etc.) changes which
docs each stage sees; the report form instead gives every document ALL
its kill reasons, which is what a 100 TB curation run needs for
auditing ("how much did each stage cost us?") and what keeps every
stage one independent, restartable pass. ``kept`` is the conjunction,
identical to running the stages in sequence with keep-lowest-id
greedy near-dup resolution over the full corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark.operators import dedup, text

__all__ = [
    "curation_verdicts",
    "curation_write_state",
    "curation_verdicts_indexed",
]

_CURATION_META_SIDECAR = "_curation_meta.json"


def curation_write_state(
    benchmark: DataFrame,
    path: str,
    min_score: float = 0.8,
    min_words: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 5,
    hb_buckets: int | None = None,
) -> None:
    """Initialize the at-rest state the streaming curation service
    (:func:`streaming.pipeline.stream_curation_ingest`) maintains: the
    STATIC benchmark gram-digest table (the decontamination reference
    — distinct word-``ngram_n``-gram hashes, written once) plus the
    sidecar recording thresholds and column names. The three growing
    tables — exact-hash index, LSH band index, verdict log — are
    created by the service on first arrival; only the benchmark must
    exist up front (you cannot decontaminate against an eval set you
    have not fixed yet)."""
    import json
    import os

    from real_time_stock_market_data_pipeline__spark.sinks import (
        ID_HASH_BUCKETS,
    )

    (
        text.word_ngram_hashes(benchmark, id_col, text_col, ngram_n)
        .select("gram_hash")
        .distinct()
        .write.mode("overwrite")
        .parquet(os.path.join(path, "bench_grams"))
    )
    with open(os.path.join(path, _CURATION_META_SIDECAR), "w") as f:
        json.dump(
            {
                "min_score": float(min_score),
                "min_words": int(min_words),
                "id_col": id_col,
                "text_col": text_col,
                "ngram_n": int(ngram_n),
                # the hash index's layout constant, fixed at init: the
                # ingest service resolves it from here (never from the
                # live ID_HASH_BUCKETS constant), so raising the
                # default later cannot desync prior-hash partition
                # pruning from the directories already on disk
                "hb_buckets": int(
                    ID_HASH_BUCKETS if hb_buckets is None else hb_buckets
                ),
            },
            f,
        )


def curation_verdicts_indexed(spark, path: str) -> DataFrame:
    """Every verdict row the streaming curation service has written —
    the at-rest probe of the composed audit. After draining id-ordered
    batches B1..Bn from an empty state, this equals
    :func:`curation_verdicts` over their concatenation (law-tested;
    the registered `stream_curation_verdicts` query shares its
    oracle): the batch form's min-id semantics for exact/near dedup
    ARE the arrival-order semantics when ids arrive monotonically."""
    import json
    import os

    with open(os.path.join(path, _CURATION_META_SIDECAR)) as f:
        meta = json.load(f)
    id_col = meta["id_col"]
    return spark.read.parquet(os.path.join(path, "verdicts")).select(
        id_col,
        "n_words",
        "quality_score",
        "passes_quality",
        "exact_dup",
        "near_dup",
        "contaminated",
        "kept",
    )


def curation_verdicts(
    docs: DataFrame,
    benchmark: DataFrame,
    min_score: float = 0.8,
    min_words: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 5,
) -> DataFrame:
    """Per-document curation verdict: one row per input document with
    its quality stats and the four stage flags —

    - ``passes_quality``: :func:`text.text_stats` composite score ≥
      ``min_score`` and word count ≥ ``min_words``;
    - ``exact_dup``: not the min-id representative of its normalized
      sha2-256 text group (:func:`dedup.dedup_exact` semantics);
    - ``near_dup``: the higher id of at least one MinHash-LSH banded
      candidate pair (:func:`dedup.dedup_minhash_pairs` — keep-lowest
      greedy resolution, the standard corpus-dedup policy);
    - ``contaminated``: shares a word ``ngram_n``-gram with the
      ``benchmark`` corpus (:func:`text.decontaminate`);

    and ``kept`` = passes_quality ∧ none of the kill flags.

    Shape at 100 TB: quality is the single-scan narrow projection;
    exact is one hash-key shuffle (64-hex digest + id); near-dup is
    the banded LSH join (never all-pairs); decontamination shuffles
    gram digests with the benchmark side aggregated first; the final
    assembly is id-keyed hash joins. Every stage partially aggregates
    map-side, nothing is corpus-quadratic, and the flags can be
    materialized stage-by-stage with restarts between them.
    """
    st = text.text_stats(docs, id_col=id_col, text_col=text_col).select(
        id_col, "n_words", "quality_score"
    )
    w = Window.partitionBy("__h")
    exact = docs.select(
        F.col(id_col),
        F.sha2(dedup.normalized_text(text_col), 256).alias("__h"),
    ).select(
        F.col(id_col),
        (F.col(id_col) != F.min(id_col).over(w)).alias("exact_dup"),
    )
    near_ids = (
        dedup.dedup_minhash_pairs(docs, id_col=id_col, text_col=text_col)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    # ngram_n threads through so a state built with a non-default gram
    # size keeps the documented streaming ≡ batch equivalence
    # (round-14 ADVICE: the streaming twin honored the sidecar's
    # ngram_n while this form hard-coded decontaminate's default)
    contam = text.decontaminate(
        docs, benchmark, id_col=id_col, text_col=text_col, n=ngram_n
    ).select(id_col, "contaminated")
    out = (
        st.join(exact, id_col)
        .join(contam, id_col)
        .join(
            near_ids.withColumn("near_dup", F.lit(True)), id_col, "left"
        )
        .withColumn("near_dup", F.coalesce(F.col("near_dup"), F.lit(False)))
    )
    passes = (F.col("quality_score") >= min_score) & (
        F.col("n_words") >= min_words
    )
    return out.select(
        F.col(id_col),
        "n_words",
        "quality_score",
        passes.alias("passes_quality"),
        "exact_dup",
        "near_dup",
        "contaminated",
        (
            passes
            & ~F.col("exact_dup")
            & ~F.col("near_dup")
            & ~F.col("contaminated")
        ).alias("kept"),
    )
