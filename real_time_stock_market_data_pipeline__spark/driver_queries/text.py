"""Text analysis and the training-corpus pipeline.

Split out of the original single-file driver_queries module; sections
are verbatim (code moved, not rewritten) so oracle parity is untouched.
"""

from __future__ import annotations

from real_time_stock_market_data_pipeline__spark.driver_queries._shared import *  # noqa: F401,F403

#: DuckDB-side tokenizer over documents.text (normalized split)
_TOKS_TXT = f"string_split({_NORM.format(col='text')}, ' ')"
from real_time_stock_market_data_pipeline__spark.driver_queries.dedup import (  # noqa: F401
    _TOKS,
    _minhash_cte,
)
from real_time_stock_market_data_pipeline__spark.driver_queries.drift import (  # noqa: F401
    _WEEKEND_SQL,
    _events_weekend_split,
)
from real_time_stock_market_data_pipeline__spark.driver_queries.indicators import (  # noqa: F401
    _DAILY_CLOSE_CTE,
    _daily_close,
)
from real_time_stock_market_data_pipeline__spark.driver_queries.ohlcv import (  # noqa: F401
    _DAILY_EVENTS_ORACLE,
    q_daily_metrics,
)
from real_time_stock_market_data_pipeline__spark.driver_queries.similarity import (  # noqa: F401
    _DIM,
    _bq_topk_oracle,
    _query_vector,
)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats(_table("documents")(spark, sf_dir))


_STOPWORD_LIST = ", ".join(f"'{w}'" for w in text._EN_STOPWORDS)

_TEXT_STATS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text,
         {_TOKS} AS toks,
         length(text) AS n_chars,
         len({_TOKS}) AS n_words,
         length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         len(list_filter({_TOKS}, x -> x IN ({_STOPWORD_LIST}))) AS n_stop,
         length(replace({_NORM.format(col="text")}, ' ', '')) AS word_chars
  FROM documents
)
SELECT doc_id, n_chars, n_words,
  round(CASE WHEN n_words > 0 THEN CAST(word_chars AS DOUBLE) / n_words END, 4) AS avg_word_len,
  round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END, 4) AS punct_ratio,
  round(CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE) / n_chars ELSE 0.0 END, 4) AS digit_ratio,
  round(CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END, 4) AS stopword_ratio,
  round(
    least(n_words / 20.0, 1.0) * 0.4
    + least((CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END) * 4, 1.0) * 0.3
    + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE) / n_chars ELSE 0.0 END) * 5, 1.0)) * 0.15
    + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) * 5, 1.0)) * 0.15,
  4) AS quality_score
FROM t
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gating applied: documents clearing the composite-score
    and word-count thresholds — the filter between scoring and
    training-set assembly."""
    return text.quality_filter(
        _table("documents")(spark, sf_dir), min_score=0.8, min_words=30
    )


_QUALITY_FILTER_ORACLE = f"""
WITH s AS ({_TEXT_STATS_ORACLE})
SELECT doc_id, n_words, quality_score
FROM s WHERE quality_score >= 0.8 AND n_words >= 30
"""


def q_sentence_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.sentence_dedup_stats(_table("documents")(spark, sf_dir))


_SENTENCE_DEDUP_ORACLE = """
WITH sent AS (
  SELECT DISTINCT doc_id, md5(s) AS h
  FROM (
    SELECT doc_id,
           unnest(string_split(
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '. ')) AS s
    FROM documents
  )
  WHERE length(s) > 0
),
counts AS (SELECT h, count(DISTINCT doc_id) AS nd FROM sent GROUP BY 1)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_sentences,
  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
  round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
    AS shared_fraction
FROM sent JOIN counts USING (h) GROUP BY 1
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_count(_table("documents")(spark, sf_dir))


_TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       len({_TOKS}) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_table("documents")(spark, sf_dir))


def _lang_id_oracle() -> str:
    langs = list(text.LANG_PROFILES)
    score_cols = ", ".join(
        "len(list_filter({toks}, x -> x IN ({words}))) AS score_{lang}".format(
            toks=_TOKS,
            words=", ".join(f"'{w}'" for w in text.LANG_PROFILES[lang]),
            lang=lang,
        )
        for lang in langs
    )
    pred = "CAST(NULL AS VARCHAR)"
    for lang in reversed(langs):
        conds = [f"score_{lang} > 0"]
        for other in langs:
            if langs.index(other) < langs.index(lang):
                conds.append(f"score_{lang} > score_{other}")
            elif other != lang:
                conds.append(f"score_{lang} >= score_{other}")
        pred = f"CASE WHEN {' AND '.join(conds)} THEN '{lang}' ELSE {pred} END"
    return f"""
WITH s AS (SELECT doc_id, {score_cols} FROM documents)
SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)},
       {pred} AS lang_pred
FROM s
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents(
        _table("documents")(spark, sf_dir), chunk_chars=200, overlap=40
    )


_CHUNK_ORACLE = """
WITH n AS (
  SELECT doc_id, text, length(text) AS ln,
         CASE WHEN length(text) <= 200 THEN 1
              ELSE (length(text) - 40 + 159) // 160 END AS n_chunks
  FROM documents
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       substr(text, CAST(i * 160 + 1 AS INT), 200) AS chunk_text,
       CAST(n_chunks AS INT) AS n_chunks
FROM n, unnest(range(n.n_chunks)) AS t(i)
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split of the corpus keyed on doc_id —
    identical membership at any parallelism and in any md5-capable
    engine (df.sample can't give either property)."""
    docs = _table("documents")(spark, sf_dir)
    return sampling.hash_split(docs, "doc_id").select("doc_id", "bucket", "split")


def _hash_split_oracle() -> str:
    decode = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {j + 1}, 1)) - 1)"
        f" * {16 ** (7 - j)}"
        for j in range(8)
    )
    return f"""
WITH b AS (SELECT doc_id, ({decode}) % 1000000 AS bucket FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < 800000 THEN 'train'
            WHEN bucket < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


#: Per-source sampling fractions for the stratified-sample query:
#: keep all of src0, half of src1, a quarter of src2, 10% elsewhere.
_STRATA_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_STRATA_DEFAULT = 0.1


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus re-balancing: per-source keep fractions via id-hash
    ranges — one map-side CASE filter, membership stable under any
    partitioning and replayed exactly by the SQL oracle."""
    docs = _table("documents")(spark, sf_dir)
    return sampling.stratified_hash_sample(
        docs, "doc_id", "source", _STRATA_FRACTIONS, _STRATA_DEFAULT
    ).select("doc_id", "source")


def _stratified_sample_oracle() -> str:
    decode = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {j + 1}, 1)) - 1)"
        f" * {16 ** (7 - j)}"
        for j in range(8)
    )
    whens = " ".join(
        f"WHEN source = '{s}' THEN {int(f * sampling.HASH_BUCKETS)}"
        for s, f in _STRATA_FRACTIONS.items()
    )
    return f"""
WITH b AS (
  SELECT doc_id, source,
         ({decode}) % {sampling.HASH_BUCKETS} AS bucket
  FROM documents
)
SELECT doc_id, source FROM b
WHERE bucket < CASE {whens}
               ELSE {int(_STRATA_DEFAULT * sampling.HASH_BUCKETS)} END
"""


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.term_stats(_table("documents")(spark, sf_dir))


_TERM_STATS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split({_NORM.format(col="text")}, ' ')) AS term
  FROM documents
)
SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM t WHERE term <> '' GROUP BY term
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.doc_fingerprint(_table("documents")(spark, sf_dir))


_FINGERPRINT_ORACLE = f"""
WITH n AS (SELECT doc_id, {_NORM.format(col="text")} AS norm FROM documents)
SELECT doc_id,
  list_min(
    CASE WHEN length(norm) - 7 > 0
         THEN list_transform(range(1, length(norm) - 7 + 1), i -> md5(substr(norm, i, 8)))
         ELSE [md5(norm)] END
  ) AS fingerprint
FROM n
"""

# --------------------------------------------------------------------------
# Training-data pipeline: PII scrub, tf-idf, decontamination, packing,
# per-domain caps
# --------------------------------------------------------------------------


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents seeded with deterministic synthetic
    PII (the corpus itself is clean words): every 7th doc gets an
    email + long number appended, identically on both sides, so the
    masking and the counts are actually exercised."""
    docs = _table("documents")(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com tel 55512340"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text.pii_redact(seeded)


_PII_ORACLE = f"""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com tel 55512340' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{text.EMAIL_PATTERN}')) AS n_emails,
       len(regexp_extract_all(
             regexp_replace(text, '{text.EMAIL_PATTERN}', '<EMAIL>', 'g'),
             '{text.LONG_NUM_PATTERN}')) AS n_long_numbers,
       regexp_replace(
         regexp_replace(text, '{text.EMAIL_PATTERN}', '<EMAIL>', 'g'),
         '{text.LONG_NUM_PATTERN}', '<NUM>', 'g') AS clean_text
FROM seeded
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_top_terms(_table("documents")(spark, sf_dir))


_TFIDF_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM t WHERE term <> '' GROUP BY doc_id, term
),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
  FROM tf JOIN dfx USING (term), nd
)
SELECT doc_id, term, tf, tfidf, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark leakage filter: every 20th doc plays the benchmark
    set; documents sharing any word 5-gram with it are flagged.
    Benchmark members are trivially contaminated (self-overlap) —
    kept in the output as the sanity floor."""
    docs = _table("documents")(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return text.decontaminate(docs, bench)


_DECONTAMINATE_ORACLE = f"""
WITH g AS (
  SELECT DISTINCT doc_id, md5(gram) AS gram_hash FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) - 4 > 0
                  THEN list_transform(range(1, len(toks) - 4 + 1),
                         i -> array_to_string(list_slice(toks, i, i + 4), ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS gram
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
  )
),
bh AS (SELECT DISTINCT gram_hash FROM g WHERE doc_id % 20 = 0),
hits AS (
  SELECT doc_id, count(*) AS n_hits
  FROM g JOIN bh USING (gram_hash) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


def q_curation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end curation audit
    (`operators/curation.py:curation_verdicts`): quality gate + exact
    dedup + MinHash near-dup (keep-lowest greedy) + benchmark
    decontamination, one verdict row per document with every kill
    reason and the final ``kept`` conjunction. Benchmark = every 20th
    doc (the `decontaminate` fixture). The oracle composes the four
    stage oracles as isolated nested-WITH CTEs and replays the flag
    logic."""
    from real_time_stock_market_data_pipeline__spark.operators import (
        curation,
    )

    docs = _table("documents")(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return curation.curation_verdicts(
        docs, bench, min_score=0.8, min_words=30
    )


def _curation_verdicts_oracle(
    min_score: float = 0.8, min_words: int = 30
) -> str:
    passes = f"(s.quality_score >= {min_score} AND s.n_words >= {min_words})"
    return f"""
WITH s AS ({_TEXT_STATS_ORACLE}),
x AS (
  SELECT doc_id,
         doc_id <> min(doc_id) OVER (
           PARTITION BY sha256({_NORM.format(col="text")})) AS exact_dup
  FROM documents
),
nd AS (
  WITH {_minhash_cte()}
  SELECT DISTINCT id_b AS doc_id, TRUE AS near_dup FROM cand
),
ct AS ({_DECONTAMINATE_ORACLE})
SELECT s.doc_id, s.n_words, s.quality_score,
       {passes} AS passes_quality,
       x.exact_dup,
       COALESCE(nd.near_dup, FALSE) AS near_dup,
       ct.contaminated,
       ({passes} AND NOT x.exact_dup AND COALESCE(nd.near_dup, FALSE) = FALSE
        AND NOT ct.contaminated) AS kept
FROM s
JOIN x ON s.doc_id = x.doc_id
JOIN ct ON s.doc_id = ct.doc_id
LEFT JOIN nd ON s.doc_id = nd.doc_id
"""


def q_token_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk → count tokens → pack into 256-token bins per source
    shard, ordered by (doc_id, chunk_idx) — the context-window
    sharding step downstream of chunk_documents (same 200/40 chunk
    geometry as the chunk_documents query)."""
    docs = _table("documents")(spark, sf_dir)
    chunks = text.chunk_documents(docs, chunk_chars=200, overlap=40)
    tokens = chunks.select(
        "doc_id",
        "chunk_idx",
        F.size(F.split(F.col("chunk_text"), " ")).alias("n_tokens"),
    ).join(F.broadcast(docs.select("doc_id", "source")), "doc_id")
    return text.token_pack(
        tokens, ["source"], ["doc_id", "chunk_idx"], "n_tokens", budget=256
    )


_TOKEN_PACK_ORACLE = """
WITH n AS (
  SELECT doc_id, text, length(text) AS ln,
         CASE WHEN length(text) <= 200 THEN 1
              ELSE (length(text) - 40 + 159) // 160 END AS n_chunks
  FROM documents
),
c AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         substr(text, CAST(i * 160 + 1 AS INT), 200) AS chunk_text
  FROM n, unnest(range(n.n_chunks)) AS t(i)
),
tok AS (
  SELECT d.source, c.doc_id, c.chunk_idx,
         len(string_split(c.chunk_text, ' ')) AS n_tokens
  FROM c JOIN documents d ON c.doc_id = d.doc_id
),
packed AS (
  SELECT source, doc_id, chunk_idx, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER w, 0) AS BIGINT) AS prior
  FROM tok
  WINDOW w AS (PARTITION BY source ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT source, doc_id, chunk_idx, n_tokens,
       prior // 256 AS bin_id, prior % 256 AS bin_offset
FROM packed
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, long form (label, dim) — exact
    under the quantize-then-decimal-sum recipe, so the oracle matches
    bitwise at any parallelism."""
    return similarity.embedding_centroids(
        _table("embeddings")(spark, sf_dir)
    )


_EMBEDDING_CENTROIDS_ORACLE = """
SELECT label, i AS dim,
       CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                     AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS centroid,
       count(*) AS n
FROM embeddings, unnest(range(1, 65)) AS t(i)
GROUP BY label, i
"""


def q_token_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy (first-fit) packing twin of token_pack: stateful
    applyInPandas per source shard, oracle-checked against a DuckDB
    recursive CTE that replays the same walk declaratively."""
    docs = _table("documents")(spark, sf_dir)
    chunks = text.chunk_documents(docs, chunk_chars=200, overlap=40)
    tokens = chunks.select(
        "doc_id",
        "chunk_idx",
        F.size(F.split(F.col("chunk_text"), " ")).alias("n_tokens"),
    ).join(F.broadcast(docs.select("doc_id", "source")), "doc_id")
    return text.token_pack_greedy(
        tokens, ["source"], ["doc_id", "chunk_idx"], "n_tokens", budget=256
    )


_TOKEN_PACK_GREEDY_ORACLE = """
WITH RECURSIVE tok AS (
  SELECT d.source, c.doc_id, c.chunk_idx,
         len(string_split(c.chunk_text, ' ')) AS n_tokens
  FROM (
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           substr(text, CAST(i * 160 + 1 AS INT), 200) AS chunk_text
    FROM (
      SELECT doc_id, text,
             CASE WHEN length(text) <= 200 THEN 1
                  ELSE (length(text) - 40 + 159) // 160 END AS n_chunks
      FROM documents
    ) n, unnest(range(n.n_chunks)) AS t(i)
  ) c JOIN documents d ON c.doc_id = d.doc_id
),
ordered AS (
  SELECT source, doc_id, chunk_idx, n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY doc_id, chunk_idx) AS rn
  FROM tok
),
walk AS (
  SELECT source, doc_id, chunk_idx, n_tokens, rn,
         CAST(0 AS BIGINT) AS bin_id, CAST(0 AS BIGINT) AS bin_fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.doc_id, o.chunk_idx, o.n_tokens, o.rn,
         CASE WHEN w.bin_fill + w.n_tokens + o.n_tokens > 256
              THEN w.bin_id + 1 ELSE w.bin_id END,
         CASE WHEN w.bin_fill + w.n_tokens + o.n_tokens > 256
              THEN CAST(0 AS BIGINT)
              ELSE w.bin_fill + w.n_tokens END
  FROM walk w JOIN ordered o
    ON o.source = w.source AND o.rn = w.rn + 1
)
SELECT source, doc_id, chunk_idx, n_tokens, bin_id, bin_fill FROM walk
"""

# Non-recursive prefix of the greedy oracle: chunk + tokenize + order.
# Shared by the Python-replay oracle below, which exists because the
# recursive-CTE walk re-joins `ordered` once per row — fine at the
# driver's sf0.01, quadratic-in-practice at the sf1.0 stress sweep
# (~106k chunk rows). The replay fetches this prefix from DuckDB and
# walks it imperatively in Python — still a second, independent engine
# pinning the applyInPandas operator's semantics.
_TOKEN_PACK_GREEDY_TOK_SQL = """
SELECT d.source, c.doc_id, c.chunk_idx,
       len(string_split(c.chunk_text, ' ')) AS n_tokens
FROM (
  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         substr(text, CAST(i * 160 + 1 AS INT), 200) AS chunk_text
  FROM (
    SELECT doc_id, text,
           CASE WHEN length(text) <= 200 THEN 1
                ELSE (length(text) - 40 + 159) // 160 END AS n_chunks
    FROM documents
  ) n, unnest(range(n.n_chunks)) AS t(i)
) c JOIN documents d ON c.doc_id = d.doc_id
ORDER BY d.source, c.doc_id, c.chunk_idx
"""


def _token_pack_greedy_oracle_py(con):
    """Python-replay oracle for ``token_pack_greedy`` (budget=256):
    DuckDB computes the chunk/tokenize prefix declaratively, Python
    replays the first-fit walk per source in one ordered pass —
    O(rows) instead of the recursive CTE's per-row re-join. Returns a
    pandas DataFrame with the same columns as the Spark result."""
    import pandas as pd

    pdf = con.execute(_TOKEN_PACK_GREEDY_TOK_SQL).df()
    budget = 256
    bin_ids, fills = [], []
    prev_source, bin_id, fill = None, 0, 0
    for source, t in zip(pdf["source"], pdf["n_tokens"]):
        t = int(t)
        if source != prev_source:
            prev_source, bin_id, fill = source, 0, 0
        if fill > 0 and fill + t > budget:
            bin_id += 1
            fill = 0
        bin_ids.append(bin_id)
        fills.append(fill)
        fill += t
    pdf["n_tokens"] = pdf["n_tokens"].astype("int64")
    pdf["bin_id"] = pd.Series(bin_ids, dtype="int64")
    pdf["bin_fill"] = pd.Series(fills, dtype="int64")
    return pdf


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document quota: keep the 10 largest docs per source
    (n_chars desc, doc_id desc tiebreak) — the de-domination cap a
    corpus builder applies so one crawl domain can't flood training.
    Same WindowGroupLimit shape as topk_days_per_symbol, over the
    documents table."""
    docs = _table("documents")(spark, sf_dir).select(
        "doc_id", "source", "n_chars"
    )
    return relational.topk_per_group(
        docs, ["source"], ["n_chars", "doc_id"], 10
    )


_DOMAIN_CAP_ORACLE = """
SELECT doc_id, source, n_chars, rank FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id DESC) AS rank
  FROM documents
) WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# Text repetition quality + cardinality sketch
# --------------------------------------------------------------------------


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_stats(_table("documents")(spark, sf_dir))


_REPETITION_ORACLE = f"""
WITH n AS (
  SELECT doc_id, string_split({_NORM.format(col="text")}, ' ') AS toks
  FROM documents
),
t AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos FROM n
),
g AS (
  SELECT doc_id, 'w' AS kind, toks[pos] AS gram FROM t
  UNION ALL
  SELECT doc_id, 'b', toks[pos] || ' ' || toks[pos + 1]
  FROM t WHERE pos + 1 <= len(toks)
  UNION ALL
  SELECT doc_id, 'g', toks[pos] || ' ' || toks[pos + 1] || ' ' || toks[pos + 2]
                      || ' ' || toks[pos + 3] || ' ' || toks[pos + 4]
  FROM t WHERE pos + 4 <= len(toks)
),
c AS (SELECT doc_id, kind, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3)
SELECT doc_id,
  CAST(sum(CASE WHEN kind = 'w' THEN cnt END) AS BIGINT) AS n_words,
  round(CAST(max(CASE WHEN kind = 'w' THEN cnt END) AS DOUBLE)
        / CAST(sum(CASE WHEN kind = 'w' THEN cnt END) AS BIGINT), 6)
    AS top_word_frac,
  round(CASE WHEN CAST(sum(CASE WHEN kind = 'b' THEN cnt END) AS BIGINT) > 0
             THEN CAST(max(CASE WHEN kind = 'b' THEN cnt END) AS DOUBLE)
                  / CAST(sum(CASE WHEN kind = 'b' THEN cnt END) AS BIGINT)
        END, 6) AS top_bigram_frac,
  round(CASE WHEN CAST(sum(CASE WHEN kind = 'g' THEN cnt END) AS BIGINT) > 0
             THEN CAST(coalesce(
                    sum(CASE WHEN kind = 'g' AND cnt >= 2 THEN cnt END),
                    0) AS DOUBLE)
                  / CAST(sum(CASE WHEN kind = 'g' THEN cnt END) AS BIGINT)
        END, 6) AS dup_5gram_frac
FROM c GROUP BY doc_id
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.kmv_distinct(
        _events(spark, sf_dir), key_col="user_id", group_col="event_type", k=64
    )


def _kmv_oracle() -> str:
    decode = " + ".join(
        f"(strpos('0123456789abcdef', substr(h16, {j + 1}, 1)) - 1)"
        f" * {16 ** (14 - j)}"
        for j in range(15)
    )
    est = (
        "CASE WHEN max(CASE WHEN rn <= 64 THEN rn END) < 64"
        " THEN CAST(max(CASE WHEN rn <= 64 THEN rn END) AS DOUBLE)"
        " ELSE 63.0 / (CAST(max(CASE WHEN rn <= 64 THEN h END) AS DOUBLE)"
        " / 1152921504606846976.0) END"
    )
    return f"""
WITH b AS (
  SELECT event_type AS grp,
         substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS h16
  FROM events
),
hs AS (SELECT DISTINCT grp, CAST({decode} AS BIGINT) AS h FROM b),
r AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM hs
)
SELECT grp,
       count(*) AS n_exact,
       round({est}, 4) AS n_est,
       round(abs(({est}) - count(*)) / count(*), 4) AS rel_err
FROM r GROUP BY grp
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog per-group distinct estimate
    (`operators/sketches.py:hll_distinct`): md5-derived register
    index + leading-zero rank, exact-integer register sum (Σ2^(53−M)
    scaled), single-division estimator, 255-entry shared literal
    table for the libm-unsafe linear-counting branch. The oracle
    replays registers, branch, and table bit-for-bit."""
    return sketches.hll_distinct(
        _events(spark, sf_dir), key_col="user_id", group_col="event_type", b=8
    )


def _hll_oracle() -> str:
    import math

    m, w, k_max = 256, 52, 53
    alpha = 0.7213 / (1 + 1.079 / m)
    c_num = alpha * m * m * float(1 << k_max)
    decode = " + ".join(
        f"(strpos('0123456789abcdef', substr(h16, {j + 1}, 1)) - 1)"
        f" * {16 ** (14 - j)}"
        for j in range(15)
    )
    # identical doubles to the Spark side's F.lit table: repr() round-
    # trips the exact binary value and DuckDB's strtod is correctly
    # rounded
    values = ", ".join(
        f"({v}, {m * math.log(m / v)!r})" for v in range(1, m)
    )
    est_round = _round_sql("est", 4)
    err_round = _round_sql(
        "abs(est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)", 4
    )
    return f"""
WITH b AS (
  SELECT event_type AS grp,
         substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS h16
  FROM events
),
hs AS (SELECT DISTINCT grp, CAST({decode} AS BIGINT) AS h FROM b),
rh AS (
  SELECT grp, h >> {w} AS bucket,
         CASE WHEN h % {1 << w} = 0 THEN {k_max}
              ELSE {w + 1} - length(bin(h % {1 << w})) END AS rho
  FROM hs
),
regs AS (
  SELECT grp, bucket, max(rho) AS m_j, count(*) AS cnt
  FROM rh GROUP BY grp, bucket
),
g AS (
  SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_exact,
         count(*) AS n_present,
         CAST(sum(CAST(1 AS BIGINT) << ({k_max} - m_j)) AS BIGINT)
           AS s_present
  FROM regs GROUP BY grp
),
e AS (
  SELECT grp, n_exact, {m} - n_present AS v,
         {c_num!r} / CAST(s_present + ({m} - n_present) * {1 << k_max}
                          AS DOUBLE) AS e_raw
  FROM g
),
f AS (
  SELECT grp, n_exact,
         CASE WHEN e_raw <= {2.5 * m!r} AND v > 0 THEN lt.lcv
              ELSE e_raw END AS est
  FROM e LEFT JOIN (VALUES {values}) AS lt(vv, lcv) ON v = vv
)
SELECT grp, n_exact, {est_round} AS n_est, {err_round} AS rel_err
FROM f
"""


# --------------------------------------------------------------------------
# Round-6 corpus-analytics additions: lexical diversity, Zipf fit,
# language re-balancing, RFM segmentation
# --------------------------------------------------------------------------


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token count / types / TTR / token-entropy per document
    (`operators/text.py:lexical_diversity`)."""
    return text.lexical_diversity(_table("documents")(spark, sf_dir))


_LEXICAL_DIVERSITY_ORACLE = f"""
WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
tf AS (
  SELECT doc_id, tok, count(*) AS c
  FROM t WHERE tok <> '' GROUP BY doc_id, tok
),
wt AS (
  SELECT doc_id, c,
    CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens
  FROM tf
),
terms AS (
  SELECT doc_id, n_tokens,
    round(CAST(c AS DOUBLE) / n_tokens
          * log2(CAST(c AS DOUBLE) / n_tokens), 6) AS t
  FROM wt
)
SELECT doc_id, max(n_tokens) AS n_tokens, count(*) AS n_types,
  round(CAST(count(*) AS DOUBLE) / max(n_tokens), 6) AS ttr,
  round(-CAST(sum(CAST(t AS DECIMAL(18,6))) AS DOUBLE), 6) AS token_entropy
FROM terms GROUP BY doc_id
"""


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf-law regression over the top-10k terms
    (`operators/text.py:zipf_slope`)."""
    return text.zipf_slope(_table("documents")(spark, sf_dir))


_ZIPF_ORACLE = f"""
WITH t AS (SELECT unnest({_TOKS}) AS tok FROM documents),
tf AS (SELECT tok, count(*) AS cnt FROM t WHERE tok <> '' GROUP BY tok),
r AS (
  SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
  FROM tf
),
xy AS (
  SELECT round(ln(CAST(rank AS DOUBLE)), 6) AS x,
         round(ln(CAST(cnt AS DOUBLE)), 6) AS y
  FROM r WHERE rank <= 10000
),
s AS (
  SELECT count(*) AS n,
    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
    CAST(sum(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6)))
         AS DOUBLE) AS sxx,
    CAST(sum(CAST(x AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6)))
         AS DOUBLE) AS sxy
  FROM xy
)
SELECT n AS n_terms,
  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
    AS zipf_intercept
FROM s
"""


def q_lang_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) language re-balancing weights
    (`operators/text.py:lang_balance_weights`)."""
    return text.lang_balance_weights(_table("documents")(spark, sf_dir))


_LANG_BALANCE_ORACLE = """
WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
w AS (
  SELECT lang, n_docs, CAST(sum(n_docs) OVER () AS BIGINT) AS total FROM c
),
s AS (
  SELECT lang, n_docs,
    round(CAST(n_docs AS DOUBLE) / total, 6) AS corpus_share,
    round(pow(CAST(n_docs AS DOUBLE) / total, 0.5), 6) AS pw
  FROM w
),
n2 AS (
  SELECT *, CAST(sum(CAST(pw AS DECIMAL(18,6))) OVER () AS DOUBLE) AS norm
  FROM s
)
SELECT lang, n_docs, corpus_share,
  round(pw / norm, 6) AS target_share,
  round((pw / norm) / corpus_share, 6) AS sample_weight
FROM n2
"""


def q_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation of event users
    (`operators/behavior.py:rfm_scores`)."""
    return behavior.rfm_scores(_events(spark, sf_dir))


_RFM_ORACLE = """
WITH pu AS (
  SELECT user_id, max(ts) AS last_ts, count(*) AS frequency,
    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS monetary
  FROM events GROUP BY user_id
),
b AS (
  SELECT user_id,
    date_diff('day', CAST(last_ts AS DATE),
              CAST(max(last_ts) OVER () AS DATE)) AS recency_days,
    frequency, monetary
  FROM pu
),
scored AS (
  SELECT user_id, recency_days, frequency, monetary,
    ntile(4) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
    ntile(4) OVER (ORDER BY frequency, user_id) AS f_score,
    ntile(4) OVER (ORDER BY monetary, user_id) AS m_score
  FROM b
)
SELECT *, concat_ws('-', r_score, f_score, m_score) AS segment FROM scored
"""


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise union/Jaccard estimates between event-type user sets
    from KMV sketches, with exact values as checked error
    (`operators/sketches.py:kmv_set_ops`)."""
    return sketches.kmv_set_ops(
        _events(spark, sf_dir), key_col="user_id", group_col="event_type", k=64
    )


def _kmv_setops_oracle(k: int = 64) -> str:
    decode = " + ".join(
        f"(strpos('0123456789abcdef', substr(h16, {j + 1}, 1)) - 1)"
        f" * {16 ** (14 - j)}"
        for j in range(15)
    )
    return f"""
WITH b AS (
  SELECT event_type AS grp,
         substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS h16
  FROM events
),
hs AS (SELECT DISTINCT grp, CAST({decode} AS BIGINT) AS h FROM b),
cnt AS (SELECT grp, count(*) AS n FROM hs GROUP BY grp),
km AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
    FROM hs
  ) WHERE rn <= {k}
),
pairs AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b
  FROM (SELECT DISTINCT grp FROM hs) a
  JOIN (SELECT DISTINCT grp FROM hs) b ON a.grp < b.grp
),
pl AS (
  SELECT grp_a, grp_b, grp_a AS member FROM pairs
  UNION ALL
  SELECT grp_a, grp_b, grp_b FROM pairs
),
comb AS (
  SELECT pl.grp_a, pl.grp_b, km.h,
         max(CASE WHEN km.grp = pl.grp_a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN km.grp = pl.grp_b THEN 1 ELSE 0 END) AS in_b
  FROM pl JOIN km ON km.grp = pl.member
  GROUP BY pl.grp_a, pl.grp_b, km.h
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS rn
  FROM comb
),
sk AS (
  SELECT grp_a, grp_b,
    round(CASE WHEN max(rn) < {k} THEN CAST(max(rn) AS DOUBLE)
          ELSE {float(k - 1)}
               / (CAST(max(h) AS DOUBLE) / 1152921504606846976.0) END,
          4) AS union_est,
    round(CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
               AS DOUBLE) / max(rn), 4) AS jaccard_est
  FROM r WHERE rn <= {k} GROUP BY grp_a, grp_b
),
ei AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS inter_exact
  FROM hs a JOIN hs b ON a.h = b.h AND a.grp < b.grp
  GROUP BY 1, 2
)
SELECT sk.grp_a, sk.grp_b,
  ca.n + cb.n - coalesce(ei.inter_exact, 0) AS union_exact,
  sk.union_est,
  coalesce(ei.inter_exact, 0) AS inter_exact,
  round(CAST(coalesce(ei.inter_exact, 0) AS DOUBLE)
        / (ca.n + cb.n - coalesce(ei.inter_exact, 0)), 4) AS jaccard_exact,
  sk.jaccard_est
FROM sk
JOIN cnt ca ON ca.grp = sk.grp_a
JOIN cnt cb ON cb.grp = sk.grp_b
LEFT JOIN ei ON ei.grp_a = sk.grp_a AND ei.grp_b = sk.grp_b
"""


def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming CUSUM change-point detection over daily
    returns, drained availableNow into a memory sink
    (`streaming/stateful.py:stream_cusum_daily`); display rounding in
    the final batch projection."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.streaming import (
        pipeline,
        stateful,
    )

    ensure_engine_conf(spark)
    src = pipeline.read_file_stream(spark, f"{sf_dir}/events.parquet")
    ticks = src.select(
        F.col("event_type").alias("symbol"),
        F.col("ts"),
        F.col("value").alias("price"),
        F.col("event_id").alias("id"),
    )
    out = stateful.stream_cusum_daily(ticks, kappa=0.25, h=2.0)
    tmp = tempfile.mkdtemp(prefix="cusum_q_")
    name = "stream_cusum_q"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "symbol",
        F.col("date").cast("date").alias("date"),
        F.round("close", 4).alias("close"),
        F.round("ret", 6).alias("ret"),
        F.round("s_pos", 6).alias("s_pos"),
        F.round("s_neg", 6).alias("s_neg"),
        "alarm",
    )


#: CUSUM update expressions, shared between the two recursive arms
_CUSUM_POS = "greatest(0.0, {prev_pos} + b.ret - 0.25)"
_CUSUM_NEG = "greatest(0.0, {prev_neg} - b.ret - 0.25)"


def _stream_cusum_oracle() -> str:
    first_pos = "greatest(0.0, 0.0 + ret - 0.25)"
    first_neg = "greatest(0.0, 0.0 - ret - 0.25)"
    step_pos = _CUSUM_POS.format(
        prev_pos="(CASE WHEN r.alarm <> 0 THEN 0.0 ELSE r.s_pos END)"
    )
    step_neg = _CUSUM_NEG.format(
        prev_neg="(CASE WHEN r.alarm <> 0 THEN 0.0 ELSE r.s_neg END)"
    )
    return f"""
WITH RECURSIVE d AS (
  SELECT DISTINCT
    event_type AS symbol,
    CAST(ts AS DATE) AS date,
    last_value(value) OVER w AS close
  FROM events
  WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
b AS (
  SELECT symbol, date, close,
    close / lag(close) OVER (PARTITION BY symbol ORDER BY date) - 1 AS ret,
    row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
  FROM d
),
rec AS (
  SELECT symbol, date, close, ret, rn,
    {first_pos} AS s_pos,
    {first_neg} AS s_neg,
    CASE WHEN {first_pos} > 2.0 THEN 1
         WHEN {first_neg} > 2.0 THEN -1 ELSE 0 END AS alarm
  FROM b WHERE rn = 2
  UNION ALL
  SELECT b.symbol, b.date, b.close, b.ret, b.rn,
    {step_pos},
    {step_neg},
    CASE WHEN {step_pos} > 2.0 THEN 1
         WHEN {step_neg} > 2.0 THEN -1 ELSE 0 END
  FROM b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
SELECT symbol, date, round(close, 4) AS close, round(ret, 6) AS ret,
       round(s_pos, 6) AS s_pos, round(s_neg, 6) AS s_neg, alarm
FROM rec
"""


def q_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi smoothed candles over the daily bars
    (`operators/indicators.py:heikin_ashi`)."""
    return indicators.heikin_ashi(q_daily_metrics(spark, sf_dir))


_HEIKIN_ASHI_ORACLE = f"""
WITH RECURSIVE d AS ({_DAILY_EVENTS_ORACLE}),
b AS (
  SELECT symbol, date, daily_open AS o, daily_high AS h,
         daily_low AS l, daily_close AS c,
         row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
  FROM d
),
rec AS (
  SELECT symbol, date, rn, h, l,
         (o + c) / 2 AS ha_open,
         (o + h + l + c) / 4 AS ha_close
  FROM b WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.date, b.rn, b.h, b.l,
         (r.ha_open + r.ha_close) / 2,
         (b.o + b.h + b.l + b.c) / 4
  FROM b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
SELECT symbol, date,
  round(ha_open, 6) AS ha_open,
  round(greatest(h, ha_open, ha_close), 6) AS ha_high,
  round(least(l, ha_open, ha_close), 6) AS ha_low,
  round(ha_close, 6) AS ha_close,
  CASE WHEN ha_close > ha_open THEN 1
       WHEN ha_close < ha_open THEN -1 ELSE 0 END AS direction
FROM rec
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization with digest + recon error
    (`operators/similarity.py:embedding_quantize`)."""
    ensure_engine_conf(spark)
    return similarity.embedding_quantize(load_table(spark, sf_dir, "embeddings"))


_QUANT_ERR_CHAIN = " + ".join(
    f"(CAST(v[{i + 1}] AS DOUBLE) - q[{i + 1}] * scale)"
    f" * (CAST(v[{i + 1}] AS DOUBLE) - q[{i + 1}] * scale)"
    for i in range(_DIM)
)

_EMBEDDING_QUANTIZE_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding AS v,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
      AS scale
  FROM embeddings
),
qv AS (
  SELECT vec_id, v, scale,
    list_transform(v, x -> CASE WHEN scale > 0
        THEN CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INTEGER)
        ELSE 0 END) AS q
  FROM b
)
SELECT vec_id, len(v) AS n_dims, round(scale, 6) AS scale,
  md5(array_to_string(q, ',')) AS qvec_digest,
  round(sqrt({_QUANT_ERR_CHAIN}), 6) AS recon_err
FROM qv
"""


def q_weekday_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week return seasonality per symbol: count, exact mean,
    exact sample stddev, and share of positive days for each ISO
    weekday. One extra map-side column on the daily-returns lineage;
    the tiny (symbol × 7) aggregate is fully partial-aggregated."""
    daily = q_daily_metrics(spark, sf_dir)
    wlag = Window.partitionBy("symbol").orderBy("date")
    ret = F.round(F.col("daily_close") / F.lag("daily_close").over(wlag) - 1, 6)
    rets = daily.select(
        "symbol",
        (F.weekday("date") + F.lit(1)).alias("iso_weekday"),
        ret.alias("r"),
    ).where(F.col("r").isNotNull())
    d = F.col("r").cast("decimal(18,6)")
    n = F.count(F.lit(1))
    sx = F.sum(d).cast("double")
    sxx = F.sum(d * d).cast("double")
    var = (sxx - sx * sx / n) / (n - F.lit(1))
    return rets.groupBy("symbol", "iso_weekday").agg(
        n.alias("n_days"),
        F.round(sx / n, 6).alias("mean_ret"),
        F.round(
            F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0)))), 6
        ).alias("std_ret"),
        F.round(
            F.sum(F.when(F.col("r") > 0, 1).otherwise(0)).cast("double") / n, 6
        ).alias("share_up"),
    )


_WEEKDAY_RETURNS_ORACLE = f"""
WITH d AS ({_DAILY_EVENTS_ORACLE}),
r AS (
  SELECT symbol, isodow(date) AS iso_weekday,
    round(daily_close / lag(daily_close)
          OVER (PARTITION BY symbol ORDER BY date) - 1, 6) AS r
  FROM d
),
rr AS (SELECT * FROM r WHERE r IS NOT NULL)
SELECT symbol, iso_weekday, count(*) AS n_days,
  {_round_sql(_EXAVG.format(col="r"), 6)} AS mean_ret,
  {_round_sql(_EXSTD_WIDE.format(col="r"), 6)} AS std_ret,
  round(CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
    AS share_up
FROM rr GROUP BY symbol, iso_weekday
"""


def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette score per embedding label
    (`operators/similarity.py:silhouette_by_label`)."""
    ensure_engine_conf(spark)
    return similarity.silhouette_by_label(load_table(spark, sf_dir, "embeddings"))


_SILHOUETTE_ORACLE = f"""
WITH c AS (
  SELECT label AS clabel, i AS dim,
    round(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                        AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS c
  FROM embeddings, unnest(range(1, {_DIM + 1})) AS t(i)
  GROUP BY label, i
),
e AS (
  SELECT vec_id, label, i AS dim,
         round(CAST(embedding[i] AS DOUBLE), 6) AS x
  FROM embeddings, unnest(range(1, {_DIM + 1})) AS t(i)
),
d2 AS (
  SELECT e.vec_id, e.label, c.clabel,
    round(sqrt(CAST(sum(CAST(round((x - c.c) * (x - c.c), 12)
                             AS DECIMAL(24,12))) AS DOUBLE)), 6) AS dist
  FROM e JOIN c ON e.dim = c.dim
  GROUP BY 1, 2, 3
),
sv AS (
  SELECT vec_id, label,
    max(CASE WHEN clabel = label THEN dist END) AS a,
    min(CASE WHEN clabel <> label THEN dist END) AS b
  FROM d2 GROUP BY 1, 2
),
s AS (
  SELECT label,
    round(CASE WHEN greatest(a, b) > 0
          THEN (b - a) / greatest(a, b) ELSE 0.0 END, 6) AS s
  FROM sv
)
SELECT label, count(*) AS n_vectors,
  round({_EXAVG.format(col="s")}, 6) AS mean_silhouette
FROM s GROUP BY label
"""


def q_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle price-impact lambda per symbol from tick-rule signs
    (`operators/indicators.py:kyle_lambda`)."""
    ev = _events(spark, sf_dir)
    return indicators.kyle_lambda(
        ev, symbol_col="event_type", ts_col="ts",
        price_col="value", id_col="event_id",
    )


_KYLE_LAMBDA_ORACLE = """
WITH t AS (
  SELECT event_type AS symbol, CAST(ts AS DATE) AS date, ts, event_id,
         round(value, 6) AS pq
  FROM events
),
s AS (
  SELECT symbol, date, ts, event_id, pq,
         CASE WHEN pq > lag(pq) OVER w THEN 1
              WHEN pq < lag(pq) OVER w THEN -1 END AS raw,
         round(pq - lag(pq) OVER w, 6) AS dp
  FROM t WINDOW w AS (PARTITION BY symbol, date ORDER BY ts, event_id)
),
c AS (
  SELECT symbol, dp AS y,
         last_value(raw IGNORE NULLS)
           OVER (PARTITION BY symbol, date ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x
  FROM s
),
p AS (SELECT * FROM c WHERE x IS NOT NULL AND y IS NOT NULL),
agg AS (
  SELECT symbol, count(*) AS n,
    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
    CAST(sum(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6)))
         AS DOUBLE) AS sxx,
    CAST(sum(CAST(x AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6)))
         AS DOUBLE) AS sxy
  FROM p GROUP BY symbol
)
SELECT symbol, n AS n_ticks,
  round(CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0
        THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS kyle_lambda,
  round((sy - CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0
        THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END * sx) / n, 6)
    AS intercept
FROM agg
"""


def q_corwin_schultz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin-Schultz high-low spread estimator per (symbol, day pair)
    (`operators/indicators.py:corwin_schultz`)."""
    return indicators.corwin_schultz(q_daily_metrics(spark, sf_dir))


_CORWIN_SCHULTZ_ORACLE = f"""
WITH d AS ({_DAILY_EVENTS_ORACLE}),
b AS (
  SELECT symbol, date,
    CASE WHEN daily_low > 0
         THEN round(ln(daily_high / daily_low), 6) END AS u2,
    lag(CASE WHEN daily_low > 0
         THEN round(ln(daily_high / daily_low), 6) END) OVER w AS u1,
    CASE WHEN least(daily_low, lag(daily_low) OVER w) > 0
         THEN round(ln(greatest(daily_high, lag(daily_high) OVER w)
                       / least(daily_low, lag(daily_low) OVER w)), 6) END AS g
  FROM d WINDOW w AS (PARTITION BY symbol ORDER BY date)
),
f AS (
  SELECT * FROM b
  WHERE u1 IS NOT NULL AND u2 IS NOT NULL AND g IS NOT NULL
),
x AS (
  SELECT symbol, date, u1 * u1 + u2 * u2 AS beta, g * g AS gamma FROM f
),
a AS (
  SELECT symbol, date, beta, gamma,
    (sqrt(2.0 * beta) - sqrt(beta)) / {indicators._CS_DEN!r}
      - sqrt(gamma / {indicators._CS_DEN!r}) AS alpha
  FROM x
)
SELECT symbol, date, round(beta, 6) AS beta, round(gamma, 6) AS gamma,
  round(alpha, 6) AS alpha,
  round(greatest(2.0 * (exp(alpha) - 1) / (1 + exp(alpha)), 0.0), 6) AS spread
FROM a
"""


# --------------------------------------------------------------------------
# Round-7 batch 9: rolling median, containment, trending terms, session PMI
# --------------------------------------------------------------------------


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling median of daily closes (explode fan-out +
    constant-size sorted selection)
    (`operators/metrics.py:rolling_median`)."""
    return metrics.rolling_median(
        _daily_close(spark, sf_dir),
        group_col="symbol",
        order_col="date",
        value_col="close",
        n=7,
    )


_ROLLING_MEDIAN_ORACLE = f"""
WITH d AS ({_DAILY_CLOSE_CTE}),
b AS (
  SELECT symbol AS grp, date AS ord, close AS val,
         row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
  FROM d
),
f AS (
  SELECT grp, ord, val, rn, rn + g.off AS wend, g.off
  FROM b CROSS JOIN (SELECT unnest(range(7)) AS off) g
),
a AS (
  SELECT grp, wend,
         max(CASE WHEN off = 0 THEN ord END) AS ord_w,
         max(CASE WHEN off = 0 THEN val END) AS val_w,
         count(*) AS n_members,
         list_sort(list(val))[4] AS rolling_median
  FROM f GROUP BY grp, wend
)
SELECT grp AS symbol, ord_w AS date, val_w AS close, rolling_median
FROM a WHERE n_members = 7
"""


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment over LSH candidates — the
    quote-inclusion detector
    (`operators/dedup.py:ngram_containment_pairs`)."""
    return dedup.ngram_containment_pairs(
        _table("documents")(spark, sf_dir), threshold=0.8
    )


_CONTAINMENT_ORACLE = f"""
WITH {_minhash_cte()},
scored AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.sh, sb.sh)) AS inter,
         len(list_distinct(sa.sh)) AS n_a,
         len(list_distinct(sb.sh)) AS n_b
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
),
r AS (
  SELECT id_a, id_b,
         round(CASE WHEN n_a > 0
                    THEN CAST(inter AS DOUBLE) / n_a ELSE 0.0 END, 4)
           AS containment_a,
         round(CASE WHEN n_b > 0
                    THEN CAST(inter AS DOUBLE) / n_b ELSE 0.0 END, 4)
           AS containment_b
  FROM scored
)
SELECT id_a, id_b, containment_a, containment_b
FROM r WHERE containment_a >= 0.8 OR containment_b >= 0.8
"""


def q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 terms over-represented in the odd-doc-id snapshot vs
    the even one (add-one-smoothed log share ratio)
    (`operators/text.py:trending_terms`)."""
    docs = _table("documents")(spark, sf_dir).withColumn(
        "is_b", (F.col("doc_id") % 2 == 1).cast("int")
    )
    return text.trending_terms(docs, side_col="is_b", top_k=20)


_TRENDING_ORACLE = f"""
WITH tk AS (
  SELECT CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS is_b,
         unnest({_TOKS}) AS term
  FROM documents
),
f AS (SELECT * FROM tk WHERE term <> ''),
c AS (
  SELECT term,
         CAST(sum(CASE WHEN is_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         CAST(sum(CASE WHEN is_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
  FROM f GROUP BY term
),
g AS (
  SELECT term, c_a, c_b,
         sum(c_a) OVER () AS na, sum(c_b) OVER () AS nb,
         count(*) OVER () AS v
  FROM c
)
SELECT term, c_a, c_b,
       round(ln((CAST(c_b + 1 AS DOUBLE) / (nb + v))
                / (CAST(c_a + 1 AS DOUBLE) / (na + v))), 6) AS trend_score
FROM g ORDER BY trend_score DESC, term LIMIT 20
"""


def q_session_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-presence PMI within 30-min gap sessions
    (`operators/behavior.py:session_copresence_pmi`)."""
    return behavior.session_copresence_pmi(
        _events(spark, sf_dir), gap_seconds=1800
    )


def _session_pmi_oracle() -> str:
    prefix = """
WITH s0 AS (
  SELECT user_id, event_type AS etype, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s1 AS (
  SELECT user_id, etype,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM s0
),
pres AS (SELECT DISTINCT user_id, session_id, etype FROM s1)"""
    body = behavior.copresence_pmi_sql("pres")
    head, rest = body.split("WITH", 1)
    return prefix + "," + rest



# --------------------------------------------------------------------------
# Round-7 batch 14: boilerplate stripping, QQ drill-down
# --------------------------------------------------------------------------


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate sentence removal (df > 2 dropped,
    order-preserving rebuild)
    (`operators/text.py:strip_boilerplate`)."""
    return text.strip_boilerplate(
        _table("documents")(spark, sf_dir), max_df=2
    )


_STRIP_BOILERPLATE_ORACLE = f"""
WITH arrs AS (
  SELECT doc_id,
         string_split_regex({_NORM.format(col="text")}, '\\. ') AS arr
  FROM documents
),
sent AS (
  SELECT doc_id, r.i AS pos, arr[r.i] AS s
  FROM arrs, unnest(range(1, len(arr) + 1)) AS r(i)
  WHERE length(arr[r.i]) > 0
),
counts AS (
  SELECT md5(s) AS h, count(DISTINCT doc_id) AS nd
  FROM sent GROUP BY md5(s)
),
flagged AS (
  SELECT st.doc_id, st.pos, st.s, c.nd
  FROM sent st JOIN counts c ON md5(st.s) = c.h
),
rebuilt AS (
  SELECT doc_id,
         count(*) AS n_sentences,
         CAST(sum(CASE WHEN nd > 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
         coalesce(string_agg(CASE WHEN nd <= 2 THEN s END, '. '
                             ORDER BY pos), '') AS cleaned_text
  FROM flagged GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.cleaned_text, '') AS cleaned_text,
       coalesce(r.n_sentences, 0) AS n_sentences,
       coalesce(r.n_dropped, 0) AS n_dropped
FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
"""


def q_qq_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete QQ table per event type, weekday vs weekend — the
    drill-down behind a KS alarm
    (`operators/metrics.py:qq_quantiles`)."""
    return metrics.qq_quantiles(
        _events_weekend_split(spark, sf_dir),
        group_col="event_type",
        side_col="is_weekend",
        value_col="value",
    )


def _qq_oracle() -> str:
    picks = []
    gaps = []
    for label, num, den in metrics.QQ_LEVELS:
        for side, sfx in ((0, "ref"), (1, "cur")):
            picks.append(
                f"max(CASE WHEN is_b = {side}"
                f" AND rn = (n * {num} + {den - 1}) // {den}"
                f" THEN val END) AS {label}_{sfx}"
            )
        gaps.append(
            f"round({label}_cur - {label}_ref, 6) AS {label}_gap"
        )
    return f"""
WITH v AS (
  SELECT event_type AS grp, value AS val, {_WEEKEND_SQL} AS is_b
  FROM events
),
r AS (
  SELECT grp, is_b, val,
         row_number() OVER (PARTITION BY grp, is_b ORDER BY val) AS rn,
         count(*) OVER (PARTITION BY grp, is_b) AS n
  FROM v
),
a AS (
  SELECT grp, {", ".join(picks)}
  FROM r GROUP BY grp
)
SELECT grp,
       {", ".join(f"{l}_ref, {l}_cur" for l, _, _ in metrics.QQ_LEVELS)},
       {", ".join(gaps)}
FROM a
"""




def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights against the lang='en' target slice
    (`operators/text.py:dsir_logweights`): hashed word-bigram bucket
    distributions (add-one smoothed) for the target slice and the raw
    corpus built in one aggregation pass, per-bucket log-ratios
    broadcast back to per-doc bucket counts, decimal-exact per-doc
    sum. The resampling step composes with `weighted_sample`."""
    return text.dsir_logweights(_table("documents")(spark, sf_dir))


def _dsir_weights_oracle(n_buckets: int = 256) -> str:
    lr = _round_sql(
        f"ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + {n_buckets} AS DOUBLE))"
        f" - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + {n_buckets} AS DOUBLE))",
        6,
    )
    return f"""
WITH toked AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         list_filter({_TOKS_TXT}, t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, is_t,
         unnest(CASE WHEN len(t) >= 2 THEN list_transform(
             range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
           ELSE [] END) AS gram
  FROM toked
),
bucketed AS (
  SELECT doc_id, is_t,
         CAST(CAST('0x' || substr(md5('dsir:' || gram), 1, 8) AS BIGINT)
              % {n_buckets} AS INT) AS bucket
  FROM grams
),
dist AS (
  SELECT bucket, count(*) AS cr,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
  FROM bucketed GROUP BY bucket
),
tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM dist),
ratio AS (SELECT bucket, {lr} AS lr FROM dist CROSS JOIN tot),
per_doc AS (
  SELECT b.doc_id, sum(b.n) AS n_grams,
         {_round_sql(
             "CAST(sum(CAST(CAST(b.n AS DOUBLE) * r.lr"
             " AS DECIMAL(18,6))) AS DOUBLE)", 6)} AS w
  FROM (SELECT doc_id, bucket, count(*) AS n
        FROM bucketed GROUP BY doc_id, bucket) b
  JOIN ratio r ON b.bucket = r.bucket
  GROUP BY b.doc_id
)
SELECT d.doc_id, d.lang,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       coalesce(p.w, 0.0) AS dsir_logweight
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


#: fixed BM25 driver query — terms present across the synthetic vocab
_BM25_TERMS = ("hash", "join", "spark")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval from the raw corpus
    (`operators/text.py:bm25_topk`): query-term-filtered postings,
    window df, Lucene non-negative idf, decimal-exact per-doc sum."""
    return text.bm25_topk(
        _table("documents")(spark, sf_dir), list(_BM25_TERMS), k=10
    )


def q_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the inverted index at rest
    (`operators/text.py:bm25_topk_indexed`): posting lists written
    `partitionBy(term_bucket)`, probe = partition pruning
    (PartitionFilters plan-asserted in tests). Stored postings are
    query-independent, so the result — and the oracle — are exactly
    `bm25_topk`'s; the write-then-read happens inside the query, like
    `ivf_topk_indexed`."""
    import tempfile

    ensure_engine_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="bm25_idx_") + "/index"
    text.bm25_write_index(docs, path)
    return text.bm25_topk_indexed(spark, path, list(_BM25_TERMS), k=10)


def _bm25_topk_oracle(
    k: int = 10, k1: float = text.BM25_K1, b: float = text.BM25_B
) -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    contrib = _round_sql(
        f"ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)"
        f" / (CAST(d.df AS DOUBLE) + 0.5))"
        f" * (CAST(d.tf AS DOUBLE) * {k1 + 1.0})"
        f" / (CAST(d.tf AS DOUBLE) + {k1} * (1.0 - {b} + {b}"
        f" * (CAST(l.dl AS DOUBLE) / s.avgdl)))",
        6,
    )
    return f"""
WITH dls AS (
  SELECT doc_id,
         CAST(len(list_filter({_TOKS_TXT}, t -> t <> '')) AS BIGINT) AS dl
  FROM documents
),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avgdl
  FROM dls
),
tk AS (SELECT doc_id, unnest({_TOKS_TXT}) AS term FROM documents),
p AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM tk WHERE term IN ({terms}) GROUP BY term, doc_id
),
d AS (SELECT p.*, count(*) OVER (PARTITION BY term) AS df FROM p),
c AS (
  SELECT d.doc_id, {contrib} AS contrib
  FROM d JOIN dls l ON d.doc_id = l.doc_id CROSS JOIN stats s
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
       {_round_sql("CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE)", 6)}
         AS bm25
FROM c GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {k}
"""


def q_stream_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming BM25 index maintenance
    (`streaming/pipeline.py:stream_bm25_ingest`): the index is built
    from the id-prefix half of the corpus, the other half arrives as a
    one-file stream and MERGEs its postings / doc lengths / stats
    partial per micro-batch, then the merged index is probed. Because
    postings, doclens, and the stat partials are arrival-order
    independent and exact, the probe answers exactly like `bm25_topk`
    over the full corpus — this query shares that oracle, giving the
    ingest path driver-level evidence (the `ivfpq_merge_topk`
    pattern)."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    ensure_engine_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    half_a = docs.filter(F.col("doc_id") < n // 2)
    half_b = docs.filter(F.col("doc_id") >= n // 2)
    tmp = tempfile.mkdtemp(prefix="bm25_stream_q_")
    path = f"{tmp}/index"
    # two independent setup writes (prefix-half index build, stream
    # input file) overlap as concurrent jobs (guide §2.6)
    run_jobs_concurrently(
        lambda: text.bm25_write_index(half_a, path),
        lambda: half_b.coalesce(1).write.parquet(f"{tmp}/in"),
    )
    src = pipeline.read_file_stream(spark, f"{tmp}/in")
    q = pipeline.stream_bm25_ingest(src, path, f"{tmp}/ckpt")
    q.awaitTermination()
    return text.bm25_topk_indexed(spark, path, list(_BM25_TERMS), k=10)


def q_stream_curation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation audit as a streaming service
    (`streaming/pipeline.py:stream_curation_ingest`): state is
    initialized with only the benchmark gram digests (every 20th doc,
    the `decontaminate` fixture), the WHOLE corpus then streams in
    id order and every arrival is scored/flagged against the
    corpus-so-far. Because the batch form's min-id dedup semantics ARE
    the arrival-order semantics under monotone ids, the verdict log
    equals `curation_verdicts` over the full corpus — this query
    shares that oracle (the `stream_bm25_topk` evidence pattern)."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.operators import (
        curation,
    )
    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    ensure_engine_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    tmp = tempfile.mkdtemp(prefix="curation_stream_q_")
    path = f"{tmp}/state"
    # two independent setup writes (benchmark-digest state init,
    # stream input file) overlap as concurrent jobs (guide §2.6)
    run_jobs_concurrently(
        lambda: curation.curation_write_state(
            bench, path, min_score=0.8, min_words=30
        ),
        lambda: docs.coalesce(1).write.parquet(f"{tmp}/in"),
    )
    src = pipeline.read_file_stream(spark, f"{tmp}/in")
    q = pipeline.stream_curation_ingest(src, path, f"{tmp}/ckpt")
    q.awaitTermination()
    return curation.curation_verdicts_indexed(spark, path)


def q_stream_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DSIR scoring-state maintenance
    (`streaming/pipeline.py:stream_dsir_ingest`): the scoring state is
    built from the id-prefix half of the corpus (`dsir_write_index`),
    the other half arrives as a one-file stream and MERGEs its per-doc
    bucket counts / meta rows / stats partial per micro-batch, then
    `dsir_weights_indexed` scores every stored document. Bigram counts
    are integers, so the merged distributions are EXACTLY the
    full-corpus distributions under any arrival order — the probe
    answers exactly like `dsir_logweights` over the full corpus and
    shares `dsir_weights`' oracle (the `stream_bm25_topk` pattern)."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    ensure_engine_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    half_a = docs.filter(F.col("doc_id") < n // 2)
    half_b = docs.filter(F.col("doc_id") >= n // 2)
    tmp = tempfile.mkdtemp(prefix="dsir_stream_q_")
    path = f"{tmp}/index"
    # two independent setup writes (prefix-half scoring state, stream
    # input file) overlap as concurrent jobs (guide §2.6)
    run_jobs_concurrently(
        lambda: text.dsir_write_index(half_a, path),
        lambda: half_b.coalesce(1).write.parquet(f"{tmp}/in"),
    )
    src = pipeline.read_file_stream(spark, f"{tmp}/in")
    q = pipeline.stream_dsir_ingest(src, path, f"{tmp}/ckpt")
    q.awaitTermination()
    return text.dsir_weights_indexed(spark, path)


def q_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval with reciprocal-rank fusion
    (`operators/text.py:rrf_hybrid_topk`): the BM25 inverted index and
    the BQ signature index are built at rest inside the query (the
    `ivf_topk_indexed` pattern), probed for their top-30 each, and
    fused with 1/(60+rank). The oracle replays BOTH leg rankings
    exactly (their standalone oracles as CTEs) plus the rank windows
    and the fixed two-term coalesce fusion sum."""
    import tempfile

    from real_time_stock_market_data_pipeline__spark.operators import (
        similarity,
    )

    ensure_engine_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="rrf_q_")
    # the two leg indexes are independent builds over disjoint inputs
    # into disjoint temp dirs: overlap the write jobs (guide §2.6)
    # instead of paying both build latencies end-to-end
    run_jobs_concurrently(
        lambda: text.bm25_write_index(docs, f"{tmp}/bm25"),
        lambda: similarity.bq_write_index(embs, f"{tmp}/bq"),
    )
    return text.rrf_hybrid_topk(
        spark,
        embs,
        f"{tmp}/bm25",
        f"{tmp}/bq",
        list(_BM25_TERMS),
        _query_vector(spark, sf_dir),
        k=10,
        leg_k=30,
    )


def _rrf_hybrid_oracle(k: int = 10, leg_k: int = 30, rrf_k: int = 60) -> str:
    return f"""
WITH sparse AS ({_bm25_topk_oracle(k=leg_k)}),
dense AS ({_bq_topk_oracle(k=leg_k)}),
sr AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
           AS bm25_rank
  FROM sparse
),
dr AS (
  SELECT vec_id AS doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT)
           AS ann_rank
  FROM dense
)
SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id,
       COALESCE(1.0 / ({rrf_k} + sr.bm25_rank), 0.0)
         + COALESCE(1.0 / ({rrf_k} + dr.ann_rank), 0.0) AS rrf_score,
       sr.bm25_rank, dr.ann_rank
FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {k}
"""


def _bpe_enc_sql(w: str) -> str:
    """SQL twin of `text._bpe_encode_word` (double-space invariant)."""
    return (
        "'  ' || array_to_string(list_append(list_transform("
        f"range(1, length({w}) + 1), i -> 'x' || lower(to_hex(ascii("
        f"{w}[CAST(i AS INT)])))), 'xw'), '  ') || '  '"
    )


def _bpe_cte(k: int = 8) -> str:
    """The unrolled BPE training chain: k stages of pair-count →
    deterministic argmax → boundary-anchored greedy merge replay."""
    parts = [
        f"""wf AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest({_TOKS_TXT}) AS w FROM documents) t
  WHERE w <> '' GROUP BY w
),
r0 AS (SELECT {_bpe_enc_sql('w')} AS r, freq FROM wf)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""p{i} AS (
  SELECT u.l AS l, u.rt AS rt, CAST(sum(freq) AS BIGINT) AS c
  FROM (
    SELECT unnest(list_transform(range(1, len(s)), j ->
             {{'l': s[CAST(j AS INT)], 'rt': s[CAST(j + 1 AS INT)]}})) AS u,
           freq
    FROM (SELECT string_split(trim(r), '  ') AS s, freq FROM r{i - 1}) t
  ) q GROUP BY 1, 2
),
b{i} AS (SELECT l, rt, c FROM p{i} ORDER BY c DESC, l, rt LIMIT 1),
r{i} AS (
  SELECT regexp_replace(t.r, ' ' || b.l || '  ' || b.rt || ' ',
                        ' ' || b.l || b.rt || ' ', 'g') AS r, t.freq
  FROM r{i - 1} t CROSS JOIN b{i} b
)"""
        )
    return ",\n".join(parts)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary training (`operators/text.py:bpe_train`): the 8
    highest-count greedy merges over the corpus word table, each
    applied before the next count. The oracle unrolls all 8 stages and
    replays every pair count, every (count DESC, l, rt) argmax, and
    every greedy merge via the double-space boundary-anchored
    regexp_replace trick — bit-for-bit tokenizer induction in SQL."""
    return text.bpe_train(_table("documents")(spark, sf_dir), n_merges=8)


def _bpe_train_oracle(k: int = 8) -> str:
    rows = "\n  UNION ALL\n".join(
        f"  SELECT CAST({i} AS INT) AS merge_rank, l AS left_sym,"
        f" rt AS right_sym, l || rt AS merged_sym, c AS pair_count"
        f" FROM b{i}"
        for i in range(1, k + 1)
    )
    return f"""
WITH {_bpe_cte(k)}
SELECT * FROM (
{rows}
)
"""


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the trained BPE vocabulary
    (`operators/text.py:bpe_token_count`): train the 8 merges, then
    chain them over every document's encoded representation. The
    oracle re-derives the merges with the same unrolled training CTE
    and applies the identical replace chain to the docs."""
    docs = _table("documents")(spark, sf_dir)
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in text.bpe_train(docs, n_merges=8).collect()
    ]
    return text.bpe_token_count(docs, merges)


def _bpe_token_count_oracle(k: int = 8) -> str:
    chain = "a0"
    stages = [
        f"""a0 AS (
  SELECT doc_id,
         '  ' || array_to_string(list_transform(
             list_filter({_TOKS_TXT}, t -> t <> ''),
             w -> trim({_bpe_enc_sql('w')})), '    ') || '  ' AS r,
         len(list_filter({_TOKS_TXT}, t -> t <> '')) AS nw
  FROM documents
)"""
    ]
    for i in range(1, k + 1):
        stages.append(
            f"""a{i} AS (
  SELECT t.doc_id,
         regexp_replace(t.r, ' ' || b.l || '  ' || b.rt || ' ',
                        ' ' || b.l || b.rt || ' ', 'g') AS r, t.nw
  FROM a{i - 1} t CROSS JOIN b{i} b
)"""
        )
        chain = f"a{i}"
    return f"""
WITH {_bpe_cte(k)},
{",".join(stages)}
SELECT doc_id,
       CASE WHEN nw > 0
            THEN CAST(len(string_split_regex(trim(r), ' +')) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS n_bpe_tokens
FROM {chain}
"""


def q_quality_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring with an in-engine-trained
    perceptron (`operators/text.py:perceptron_quality`): 3 batch
    updates over four exact text features against the lang='en'
    target, every doc scored under the final weights. No libm anywhere
    (comparisons + exact sums), so the oracle re-derives the weights,
    margins, and labels of every step bit-for-bit."""
    return text.perceptron_quality(
        _table("documents")(spark, sf_dir), n_steps=3
    )


def _quality_perceptron_oracle(k: int = 3, eta: float = 0.1) -> str:
    stop_list = ", ".join(f"'{s}'" for s in text._EN_STOPWORDS)

    def marg(w: str, f: str = "f") -> str:
        return " + ".join(f"{w}.w{j} * {f}.x{j}" for j in range(4))

    parts = [
        f"""f AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         1.0 AS x0,
         CAST(nw AS DOUBLE) / 100.0 AS x1,
         CASE WHEN nw > 0 THEN CAST(nstop AS DOUBLE) / nw
              ELSE 0.0 END AS x2,
         CASE WHEN nchars > 0 THEN CAST(ndig AS DOUBLE) / nchars
              ELSE 0.0 END AS x3
  FROM (
    SELECT doc_id, lang,
           len(list_filter({_TOKS_TXT}, t -> t <> '')) AS nw,
           len(list_filter({_TOKS_TXT}, t -> t IN ({stop_list})))
             AS nstop,
           length(text) AS nchars,
           length(text)
             - length(regexp_replace(text, '[0-9]', '', 'g')) AS ndig
    FROM documents
  ) b
),
cnt AS (SELECT count(*) AS n FROM f),
w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    ]
    for i in range(1, k + 1):
        grad_cols = ", ".join(
            "CAST(sum(CAST("
            + _round_sql(
                f"(f.y - CASE WHEN ({marg('w')}) > 0 THEN 1 ELSE 0 END)"
                f" * f.x{j}",
                6,
            )
            + f" AS DECIMAL(18,6))) AS DOUBLE) AS g{j}"
            for j in range(4)
        )
        upd_cols = ", ".join(
            _round_sql(f"w.w{j} + {eta} * g.g{j} / c.n", 6) + f" AS w{j}"
            for j in range(4)
        )
        parts.append(
            f"""g{i} AS (
  SELECT {grad_cols}
  FROM f CROSS JOIN w{i - 1} w
),
w{i} AS (
  SELECT {upd_cols}
  FROM w{i - 1} w CROSS JOIN g{i} g CROSS JOIN cnt c
)"""
        )
    return f"""
WITH {",".join(parts)}
SELECT f.doc_id, f.y AS label_en,
       {_round_sql(marg('w'), 6)} AS score,
       ({marg('w')}) > 0 AS predicted
FROM f CROSS JOIN w{k} w
"""


__all__ = [
    "_CHUNK_ORACLE",
    "_CONTAINMENT_ORACLE",
    "_CORWIN_SCHULTZ_ORACLE",
    "_CUSUM_NEG",
    "_CUSUM_POS",
    "_DECONTAMINATE_ORACLE",
    "_DOMAIN_CAP_ORACLE",
    "_EMBEDDING_CENTROIDS_ORACLE",
    "_EMBEDDING_QUANTIZE_ORACLE",
    "_FINGERPRINT_ORACLE",
    "_HEIKIN_ASHI_ORACLE",
    "_KYLE_LAMBDA_ORACLE",
    "_LANG_BALANCE_ORACLE",
    "_LEXICAL_DIVERSITY_ORACLE",
    "_PII_ORACLE",
    "_QUALITY_FILTER_ORACLE",
    "_QUANT_ERR_CHAIN",
    "_REPETITION_ORACLE",
    "_RFM_ORACLE",
    "_ROLLING_MEDIAN_ORACLE",
    "_SENTENCE_DEDUP_ORACLE",
    "_SILHOUETTE_ORACLE",
    "_STOPWORD_LIST",
    "_STRATA_DEFAULT",
    "_STRATA_FRACTIONS",
    "_STRIP_BOILERPLATE_ORACLE",
    "_TERM_STATS_ORACLE",
    "_TEXT_STATS_ORACLE",
    "_TFIDF_ORACLE",
    "_TOKEN_COUNT_ORACLE",
    "_TOKEN_PACK_GREEDY_ORACLE",
    "_TOKEN_PACK_ORACLE",
    "_token_pack_greedy_oracle_py",
    "_TRENDING_ORACLE",
    "_WEEKDAY_RETURNS_ORACLE",
    "_ZIPF_ORACLE",
    "_hash_split_oracle",
    "_hll_oracle",
    "_kmv_oracle",
    "_kmv_setops_oracle",
    "_lang_id_oracle",
    "_qq_oracle",
    "_session_pmi_oracle",
    "_stratified_sample_oracle",
    "_stream_cusum_oracle",
    "q_chunk_documents",
    "q_corwin_schultz",
    "q_decontaminate",
    "q_doc_fingerprint",
    "q_bm25_topk",
    "q_bpe_train",
    "q_quality_perceptron",
    "_quality_perceptron_oracle",
    "q_bpe_token_count",
    "_bpe_train_oracle",
    "_bpe_token_count_oracle",
    "_bpe_cte",
    "_bpe_enc_sql",
    "q_bm25_topk_indexed",
    "q_stream_bm25_topk",
    "q_rrf_hybrid_topk",
    "_rrf_hybrid_oracle",
    "_bm25_topk_oracle",
    "_BM25_TERMS",
    "q_dsir_weights",
    "_dsir_weights_oracle",
    "_TOKS_TXT",
    "q_domain_cap",
    "q_embedding_centroids",
    "q_embedding_quantize",
    "q_hash_split",
    "q_heikin_ashi",
    "q_hll_distinct",
    "q_kmv_distinct",
    "q_kmv_set_ops",
    "q_kyle_lambda",
    "q_lang_balance_weights",
    "q_lang_id",
    "q_lexical_diversity",
    "q_ngram_containment",
    "q_pii_redact",
    "q_qq_quantiles",
    "q_quality_filter",
    "q_curation_verdicts",
    "q_stream_dsir_weights",
    "q_stream_curation_verdicts",
    "_curation_verdicts_oracle",
    "q_repetition_stats",
    "q_rfm_scores",
    "q_rolling_median",
    "q_sentence_dedup_stats",
    "q_session_pmi",
    "q_silhouette",
    "q_stratified_sample",
    "q_stream_cusum",
    "q_strip_boilerplate",
    "q_term_stats",
    "q_text_stats",
    "q_tfidf_top_terms",
    "q_token_count",
    "q_token_pack",
    "q_token_pack_greedy",
    "q_trending_terms",
    "q_weekday_returns",
    "q_zipf_slope",
]
