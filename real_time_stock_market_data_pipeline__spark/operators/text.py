"""Text-analysis operators over document tables — the north-star
LLM-training-data surface (SURVEY.md §2.10; no reference counterpart).

Everything is built-in column expressions (JVM-side, codegen-friendly)
with deliberately engine-portable semantics: simple explicit character
classes instead of locale/engine-dependent ones, exact decimal ratios,
and md5-based fingerprints — so every operator has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark.operators.dedup import (
    normalized_text,
)
from real_time_stock_market_data_pipeline__spark.session import (
    ensure_min_parallelism,
    materialize,
)

#: Tiny per-language stopword profiles for the n-gram/stopword
#: language-ID heuristic. Order matters: argmax ties resolve in this
#: fixed order (en → es → fr → de → zh).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that"],
    "es": ["el", "la", "de", "que", "y", "los", "es"],
    "fr": ["le", "la", "de", "et", "les", "des", "est"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit"],
    "zh": ["的", "是", "了", "在", "和", "有", "不"],
}

#: Explicit punctuation class — identical bytes in Java and RE2 regex.
PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}-]"

#: BPE-ish pre-tokenizer: letter runs, digit runs, single
#: non-alphanumeric non-space marks.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_EN_STOPWORDS = LANG_PROFILES["en"] + ["a", "it", "for", "on", "with", "as"]


def _toks(text_col: str) -> F.Column:
    return F.split(normalized_text(text_col), " ")


def text_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document quality features: char/word counts, average word
    length, punctuation & digit & stopword ratios, and a composite
    quality score in [0,1]. All ratios are single IEEE divisions of
    integer counts — bit-identical in any engine."""
    toks = _toks(text_col)
    n_words = F.size(toks)
    n_chars = F.length(F.col(text_col))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), PUNCT_CLASS, ""))
    n_digit = n_chars - F.length(F.regexp_replace(F.col(text_col), "[0-9]", ""))
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*_EN_STOPWORDS))
    )
    word_chars = F.length(F.regexp_replace(normalized_text(text_col), " ", ""))
    avg_word_len = F.when(n_words > 0, word_chars / n_words)
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, n_digit / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    # crude composite: long-enough docs with some stopwords and little
    # digit/punct noise score high
    quality = (
        F.least(n_words / F.lit(20.0), F.lit(1.0)) * F.lit(0.4)
        + F.least(stop_ratio * 4, F.lit(1.0)) * F.lit(0.3)
        + (1 - F.least(digit_ratio * 5, F.lit(1.0))) * F.lit(0.15)
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * F.lit(0.15)
    )
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(avg_word_len, 4).alias("avg_word_len"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(digit_ratio, 4).alias("digit_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(quality, 4).alias("quality_score"),
    )


def token_count(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace token count + BPE-ish subword count (letter runs,
    digit runs, punctuation marks) — the cheap pre-tokenizer estimate a
    training pipeline uses for budget accounting."""
    return docs.select(
        F.col(id_col),
        F.size(_toks(text_col)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), 0)).alias(
            "bpe_tokens"
        ),
    )


def lang_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-profile language ID: count hits per language profile,
    argmax with fixed tie order. Heuristic by design (SURVEY §2.10
    'language-ID (n-gram heuristic)'); returns NULL when no profile
    matches at all."""
    toks = _toks(text_col)

    # single-arg closure, NOT `lambda t, ws=...:` — PySpark inspects
    # the lambda's arity, and for a two-parameter lambda
    # transform/filter pass the element INDEX as the second argument,
    # silently replacing the `ws` default with 0, 1, 2, ...
    def _hits(words: list[str]):
        return lambda t: t.isin(*words)

    scores = {
        lang: F.size(F.filter(toks, _hits(words)))
        for lang, words in LANG_PROFILES.items()
    }
    langs = list(LANG_PROFILES)
    best = F.lit(None).cast("string")
    # build argmax right-to-left so earlier languages win ties
    for lang in reversed(langs):
        cond = scores[lang] > 0
        for other in langs:
            if langs.index(other) < langs.index(lang):
                cond = cond & (scores[lang] > scores[other])
            elif other != lang:
                cond = cond & (scores[lang] >= scores[other])
        best = F.when(cond, F.lit(lang)).otherwise(best)
    return docs.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        best.alias("lang_pred"),
    )


def doc_fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", gram: int = 8
) -> DataFrame:
    """Rolling-hash document fingerprint: minimum md5 over all
    character ``gram``-grams of the normalized text (a 1-permutation
    MinHash over character shingles — robust to word reordering at the
    edges, cheap, and portable). Documents shorter than ``gram`` chars
    fall back to the md5 of the whole normalized text."""
    # One md5 per character position: a transform(...) higher-order
    # function would evaluate every hash interpreted (HOFs never enter
    # whole-stage codegen — measured 62s→1.7s on the analogous MinHash
    # restructure). Instead explode the positions to rows, hash with
    # plain codegen expressions, and take min() — a map-side partial
    # aggregate, so the shuffle carries one 32-char row per document.
    # Position 0 is the short-document sentinel (md5 of the whole text).
    norm_df = ensure_min_parallelism(docs).select(
        F.col(id_col), normalized_text(text_col).alias("__norm")
    )
    n = F.length("__norm") - F.lit(gram - 1)
    pos = F.explode(
        F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(F.array(F.lit(0)))
    )
    exploded = norm_df.select(F.col(id_col), F.col("__norm"), pos.alias("i"))
    h = F.when(
        F.col("i") > 0,
        F.md5(F.substring(F.col("__norm"), F.col("i"), F.lit(gram))),
    ).otherwise(F.md5(F.col("__norm")))
    return (
        exploded.select(F.col(id_col), h.alias("__h"))
        .groupBy(id_col)
        .agg(F.min("__h").alias("fingerprint"))
    )


def term_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus term statistics: term frequency (total occurrences) and
    document frequency per normalized token — the tokenize → explode →
    groupBy aggregation SURVEY §2.10 names, and the building block for
    tf-idf / vocabulary pruning in a training-data pipeline.

    Scale: explode keeps rows in their input partition; the groupBy
    partially aggregates tf map-side. df (count distinct doc ids per
    term) shuffles (term, doc_id) pairs once — for web-scale corpora
    swap in approx_count_distinct to shuffle constant-size HLL sketches
    instead.
    """
    toks = docs.select(
        F.col(id_col), F.explode(_toks(text_col)).alias("term")
    ).filter(F.col("term") != "")
    return toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct(id_col).alias("df"),
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size overlapping character chunks —
    the training/RAG preparation step (context packing, embedding
    units). Chunk *i* covers ``[i·stride, i·stride + chunk_chars)``
    with ``stride = chunk_chars - overlap``; documents at most
    ``chunk_chars`` long yield one chunk.

    Pure integer arithmetic + substring: deterministic, engine-
    portable, and SQL-oracle-checkable. Scale: explode stays in the
    input partition (no shuffle); expansion factor ≈ len/stride is
    bounded by construction.
    """
    if overlap >= chunk_chars:
        raise ValueError("chunk_documents: overlap must be < chunk_chars")
    stride = chunk_chars - overlap
    ln = F.length(F.col(text_col))
    # integer chunk count: (len - overlap + stride - 1) // stride
    n_chunks = F.when(ln <= chunk_chars, F.lit(1)).otherwise(
        F.floor((ln - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride))
    )
    exploded = docs.select(
        F.col(id_col),
        F.col(text_col),
        n_chunks.alias("n_chunks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.substring(
            F.col(text_col),
            (F.col("chunk_idx") * stride + 1).cast("int"),
            chunk_chars,
        ).alias("chunk_text"),
        F.col("n_chunks").cast("int").alias("n_chunks"),
    )


#: Engine-portable PII patterns (valid in both Java regex and RE2):
#: permissive on purpose — a training-data scrubber over-redacts.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
LONG_NUM_PATTERN = r"[0-9]{7,}"


def pii_redact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Regex PII scrub: mask email addresses and long digit runs
    (phone/account numbers) with typed placeholders, and count what was
    masked — the pre-training privacy pass every corpus gets before the
    tokenizer sees it.

    Plain ``regexp_replace``/``regexp_extract_all`` column expressions:
    JVM-side, codegen, no shuffle — at 100 TB this runs at scan speed
    in the same stage as the read. Emails are masked before digit runs
    so digits inside an address aren't double-counted.
    """
    emails = F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_PATTERN), 0)
    no_email = F.regexp_replace(F.col(text_col), EMAIL_PATTERN, "<EMAIL>")
    nums = F.regexp_extract_all(no_email, F.lit(LONG_NUM_PATTERN), 0)
    return docs.select(
        F.col(id_col),
        F.size(emails).alias("n_emails"),
        F.size(nums).alias("n_long_numbers"),
        F.regexp_replace(no_email, LONG_NUM_PATTERN, "<NUM>").alias(
            "clean_text"
        ),
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_docs: int | None = None,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf
    (``tf · ln((N+1)/(df+1))``, smoothed) — keyword extraction /
    vocabulary pruning over the corpus.

    Single-lineage shape (measured ~4× faster than the naive
    tf ⋈ df ⋈ N join plan, which re-computes the tokenize-explode
    subtree for the df branch and degenerates the 1-row N join into a
    nested loop): one explode (stays in its input partition), one
    (doc, term) aggregation, then ``df`` as a COUNT window over the
    already-tiny tf frame — no second pass over the corpus, no join —
    and a WindowGroupLimit top-k. ``N`` is a bounded driver scalar
    (corpus row count — metadata a real pipeline has for free; pass
    ``n_docs`` to skip the count job). Ranking orders by the 6-decimal
    rounded score with the term as tiebreak, so ranks are reproducible
    across engines.
    """
    if n_docs is None:
        n_docs = docs.select(id_col).distinct().count()
    toks = docs.select(
        F.col(id_col), F.explode(_toks(text_col)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    scored = tf.select(
        F.col(id_col),
        "term",
        "tf",
        F.round(
            F.col("tf") * F.log((F.lit(float(n_docs)) + 1.0) / (dfreq + 1.0)),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def word_ngram_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """Distinct md5 hashes of word ``n``-grams of the normalized text —
    the overlap unit for benchmark decontamination. Documents shorter
    than ``n`` words hash their whole normalized text (so every doc has
    at least one gram and exact short-text collisions still match)."""
    base = docs.select(F.col(id_col), _toks(text_col).alias("__toks"))
    m = F.size(F.col("__toks")) - F.lit(n - 1)
    grams = F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(1), m),
            # single-arg closure (two-arg lambdas receive the element
            # index as the 2nd argument and clobber it)
            lambda i: F.array_join(F.slice(F.col("__toks"), i, n), " "),
        ),
    ).otherwise(F.array(F.array_join(F.col("__toks"), " ")))
    return (
        base.select(F.col(id_col), F.explode(grams).alias("__gram"))
        .select(F.col(id_col), F.md5("__gram").alias("gram_hash"))
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per document, how many of its word
    ``n``-grams also occur in the ``benchmark`` corpus, and a
    contamination flag — the eval-leakage filter a training pipeline
    runs before any benchmark is trusted.

    Both sides reduce to distinct (id, gram_hash) pairs; the benchmark
    side collapses to distinct hashes and semi-joins the corpus grams.
    Cost scales with gram volume, not corpus × benchmark: the join is
    an equi-join on the hash (broadcast when the benchmark is small —
    the common case), and the final per-doc count is a map-side
    partial aggregation. No all-pairs comparison anywhere.
    """
    doc_grams = word_ngram_hashes(docs, id_col, text_col, n)
    bench_hashes = word_ngram_hashes(benchmark, id_col, text_col, n).select(
        "gram_hash"
    ).distinct()
    hits = (
        doc_grams.join(F.broadcast(bench_hashes), "gram_hash", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def token_pack(
    chunks: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    token_col: str,
    budget: int,
) -> DataFrame:
    """Sequential token packing: assign ordered chunks to fixed-budget
    bins by running offset — ``bin_id = prior_tokens // budget`` per
    ``group_cols`` — the context-window sharding step between chunking
    and tokenization.

    Offset packing (a chunk may straddle a bin boundary; each bin's
    start offset is an exact multiple of ``budget``) rather than greedy
    first-fit: it is a pure windowed prefix sum — one shuffle on the
    group key, streaming state, and exact integer arithmetic any SQL
    engine reproduces. Greedy packing needs a data-dependent running
    reset (recursive/stateful), which neither scales as a window nor
    oracles portably.
    """
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("bigint")
    return chunks.select(
        *group_cols,
        *order_cols,
        F.col(token_col),
        F.floor(prior / budget).cast("bigint").alias("bin_id"),
        (prior % budget).cast("bigint").alias("bin_offset"),
    )


def token_pack_greedy(
    chunks: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    token_col: str,
    budget: int,
) -> DataFrame:
    """First-fit sequential packing: a bin closes when the next chunk
    would overflow it, so no chunk straddles a boundary (an oversize
    chunk gets a bin to itself). The data-dependent bin reset is a
    running state no window frame expresses, so this is the package's
    canonical ``applyInPandas`` stateful operator: one shuffle on
    ``group_cols``, then a vectorized per-group pass in Arrow batches —
    state is O(1) per group, never per corpus.

    The plain-SQL twin is :func:`token_pack` (offset packing); this
    variant is oracle-checked against a DuckDB *recursive CTE* that
    walks each group row-by-row, so the imperative semantics are
    pinned by an independent declarative engine.
    """
    import pandas as pd

    base = chunks.select(*group_cols, *order_cols, token_col)
    schema_out = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in base.schema.fields
    )
    schema_out += ", bin_id bigint, bin_fill bigint"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols).reset_index(drop=True)
        bin_ids, fills = [], []
        bin_id, fill = 0, 0
        for t in pdf[token_col]:
            t = int(t)
            if fill > 0 and fill + t > budget:
                bin_id += 1
                fill = 0
            bin_ids.append(bin_id)
            fills.append(fill)
            fill += t
        pdf["bin_id"] = pd.Series(bin_ids, dtype="int64")
        pdf["bin_fill"] = pd.Series(fills, dtype="int64")
        return pdf

    return base.groupBy(*group_cols).applyInPandas(pack, schema=schema_out)


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals per document: the
    fraction of tokens taken by the most frequent word, by the most
    frequent bigram, and the fraction of 5-gram positions covered by a
    duplicated 5-gram (Rae et al. 2021's repetition filters, §A1.1).

    Shape: one ``posexplode`` of the normalized tokens, n-grams built
    with ``lead`` over the per-doc position order (state O(n) per doc —
    the token array is never replicated per row, unlike an
    index-carrying explode), one (doc, kind, gram) count, one
    conditional aggregate back to a doc row. Two shuffles total, both
    keyed on doc_id.
    """
    toks = _toks(text_col)
    t = docs.select(F.col(id_col), F.posexplode(toks).alias("pos", "tok"))
    w = Window.partitionBy(id_col).orderBy("pos")
    seq = t.select(
        F.col(id_col),
        F.col("tok"),
        *[F.lead("tok", i).over(w).alias(f"l{i}") for i in (1, 2, 3, 4)],
    )
    l1, l2, l3, l4 = (F.col(f"l{i}") for i in (1, 2, 3, 4))
    grams = (
        seq.select(
            F.col(id_col),
            F.explode(
                F.array(
                    F.struct(F.lit("w").alias("kind"), F.col("tok").alias("gram")),
                    F.struct(
                        F.lit("b").alias("kind"),
                        F.when(
                            l1.isNotNull(), F.concat_ws(" ", F.col("tok"), l1)
                        ).alias("gram"),
                    ),
                    F.struct(
                        F.lit("g").alias("kind"),
                        F.when(
                            l4.isNotNull(),
                            F.concat_ws(" ", F.col("tok"), l1, l2, l3, l4),
                        ).alias("gram"),
                    ),
                )
            ).alias("kg"),
        )
        .select(
            F.col(id_col),
            F.col("kg.kind").alias("kind"),
            F.col("kg.gram").alias("gram"),
        )
        .where(F.col("gram").isNotNull())
    )
    cnt = grams.groupBy(id_col, "kind", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    is_w = F.col("kind") == "w"
    is_b = F.col("kind") == "b"
    is_g = F.col("kind") == "g"
    n_w = F.sum(F.when(is_w, F.col("cnt")))
    n_b = F.sum(F.when(is_b, F.col("cnt")))
    n_g = F.sum(F.when(is_g, F.col("cnt")))
    max_w = F.max(F.when(is_w, F.col("cnt")))
    max_b = F.max(F.when(is_b, F.col("cnt")))
    dup_g = F.coalesce(
        F.sum(F.when(is_g & (F.col("cnt") >= 2), F.col("cnt"))), F.lit(0)
    )
    return cnt.groupBy(id_col).agg(
        n_w.cast("bigint").alias("n_words"),
        F.round(max_w.cast("double") / n_w, 6).alias("top_word_frac"),
        F.round(
            F.when(n_b > 0, max_b.cast("double") / n_b), 6
        ).alias("top_bigram_frac"),
        F.round(
            F.when(n_g > 0, dup_g.cast("double") / n_g), 6
        ).alias("dup_5gram_frac"),
    )


def quality_filter(
    docs: DataFrame,
    min_score: float = 0.5,
    min_words: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality gating, applied: keep documents whose composite
    :func:`text_stats` quality score and word count clear thresholds —
    the filter step between scoring and training-set assembly. Output:
    (id, n_words, quality_score) for the kept documents; semi-join the
    result back to the corpus for payloads. Same single-scan shape as
    ``text_stats`` (narrow expressions only), so the gate adds no
    shuffle at any scale."""
    st = text_stats(docs, id_col=id_col, text_col=text_col)
    return st.filter(
        (F.col("quality_score") >= min_score) & (F.col("n_words") >= min_words)
    ).select(id_col, "n_words", "quality_score")


def sentence_dedup_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Cross-document duplicated-sentence stats: for each document, how
    many of its distinct sentences also appear (verbatim, after
    normalization) in at least one *other* document — the sub-document
    dedup signal used to strip boilerplate before training
    (complementary to ``repetition_stats``, which is within-document).

    Output: (id, n_sentences, n_shared, shared_fraction). Sentences
    are the ``'. '``-split of the normalized text, deduped per doc.

    Scale: sentences explode within their input partition and shuffle
    as 32-hex md5 keys (never sentence text); the document-frequency
    aggregate is map-side partial; the join back is hash-keyed. Cost is
    linear in corpus sentence count.
    """
    from real_time_stock_market_data_pipeline__spark.operators.dedup import (
        normalized_text,
    )

    sent = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.split(normalized_text(text_col), r"\. "))
            ).alias("s"),
        )
        .filter(F.length("s") > 0)
        .select(F.col(id_col), F.md5("s").alias("h"))
    )
    counts = sent.groupBy("h").agg(F.count_distinct(F.col(id_col)).alias("nd"))
    shared = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return (
        sent.join(counts, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            shared.alias("n_shared"),
            F.round(
                shared.cast("double") / F.count(F.lit(1)), 4
            ).alias("shared_fraction"),
        )
    )


def lexical_diversity(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document lexical-diversity stats: token count, distinct
    token count (types), type-token ratio, and Shannon entropy of the
    token distribution in bits — the standard repetition/quality
    signals for corpus filtering.

    Entropy terms (p·log2 p per type) are quantized to 6 decimals
    before an exact DECIMAL sum, so the per-document entropy is
    order-independent and bit-identical to the SQL oracle.

    Scale: tokens explode in place; one shuffle to (doc, token) for
    term frequencies, then the doc-total window and final aggregate
    both run on the doc-partitioned side. Cost is linear in corpus
    token count; state is O(types per doc).
    """
    toks = docs.select(
        F.col(id_col), F.explode(_toks(text_col)).alias("tok")
    ).filter(F.length("tok") > 0)
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    wdoc = Window.partitionBy(id_col)
    p = F.col("c").cast("double") / F.col("n_tokens")
    term = F.round(p * F.log2(p), 6)
    terms = tf.withColumn("n_tokens", F.sum("c").over(wdoc)).select(
        F.col(id_col), "n_tokens", term.alias("t")
    )
    return terms.groupBy(id_col).agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.max("n_tokens"), 6
        ).alias("ttr"),
        F.round(
            -F.sum(F.col("t").cast("decimal(18,6)")).cast("double"), 6
        ).alias("token_entropy"),
    )


def zipf_slope(
    docs: DataFrame,
    top_terms: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level Zipf fit: least-squares slope/intercept of
    ln(term frequency) against ln(rank) over the ``top_terms`` most
    frequent terms (a natural corpus well-formedness check — natural
    language sits near slope −1; machine-generated or boilerplate
    corpora drift off).

    Rank is ``row_number`` ordered by (count DESC, term ASC) — fully
    deterministic — and the ``rank <= top_terms`` filter plans as
    WindowGroupLimit, so mappers ship at most ``top_terms`` rows each
    instead of sorting the whole vocabulary globally. The regression
    runs on 6-quantized ln terms with exact DECIMAL sufficient sums:
    one fixed-order double formula at the end.

    Scale: one shuffle for term counts (map-side combine), a bounded
    top-k, and a scalar aggregate. Never materializes the full ranked
    vocabulary.
    """
    tf = (
        docs.select(F.explode(_toks(text_col)).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wr = Window.orderBy(F.col("cnt").desc(), F.col("tok"))
    ranked = (
        tf.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= top_terms)
        .select(
            F.round(F.log(F.col("rank").cast("double")), 6).alias("x"),
            F.round(F.log(F.col("cnt").cast("double")), 6).alias("y"),
        )
    )
    dx, dy = F.col("x").cast("decimal(18,6)"), F.col("y").cast("decimal(18,6)")
    n = F.count(F.lit(1))
    sx = F.sum(dx).cast("double")
    sy = F.sum(dy).cast("double")
    sxx = F.sum(dx * dx).cast("double")
    sxy = F.sum(dx * dy).cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return ranked.agg(
        n.alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("zipf_intercept"),
    )


def lang_balance_weights(
    docs: DataFrame, alpha: float = 0.5, lang_col: str = "lang"
) -> DataFrame:
    """Temperature-based language re-balancing weights: with corpus
    share p_l per language, the target share is
    p_l^alpha / Σ p^alpha (alpha<1 upsamples tail languages — the
    standard multilingual-training mix), and ``sample_weight`` is the
    per-document multiplier target/corpus share.

    Per-language power terms are quantized to 6 decimals before the
    exact DECIMAL normalizer sum, so the weights replay bit-identically
    in the oracle.

    Scale: one map-side-combined count per language (dozens of rows),
    then literally constant-size arithmetic — the heavy table is
    touched once.
    """
    counts = docs.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    wall = Window.partitionBy()
    total = F.sum("n_docs").over(wall)
    p = F.col("n_docs").cast("double") / F.col("total")
    shares = counts.withColumn("total", total).select(
        "lang",
        "n_docs",
        F.round(p, 6).alias("corpus_share"),
        F.round(F.pow(p, F.lit(alpha)), 6).alias("pw"),
    )
    norm = F.sum(F.col("pw").cast("decimal(18,6)")).over(wall).cast("double")
    return shares.withColumn("norm", norm).select(
        "lang",
        "n_docs",
        "corpus_share",
        F.round(F.col("pw") / F.col("norm"), 6).alias("target_share"),
        F.round(
            (F.col("pw") / F.col("norm")) / F.col("corpus_share"), 6
        ).alias("sample_weight"),
    )


def readability_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Flesch reading ease and Flesch-Kincaid grade level
    from a pure-regex sentence/word/syllable decomposition — the
    readability gate a curation pipeline layers on top of
    :func:`text_stats` (reference analytics stop at tick arithmetic;
    this is the §2.10 text-analysis extension).

    Definitions (all engine-portable, no UDF, whole-stage codegen):

    - sentences = number of ``[.!?]+`` runs, floored at 1 (a fragment
      with no terminal punctuation is one sentence);
    - words     = whitespace tokens of the normalized text;
    - syllables = vowel-group runs ``[aeiouy]+`` in the lowercased
      text — the standard cheap proxy (Flesch 1948 counts true
      syllables; vowel runs track them within ~10% on English prose).

    Occurrence counts are ``size(split(s, re)) - 1``: split keeps
    empty fragments in both Spark and DuckDB, so the count is exact
    and identical. Scores are two fixed-order double expressions,
    rounded to 4 — bit-replayable.
    """
    lower = F.lower(F.col(text_col))
    n_sent = F.greatest(
        F.size(F.split(lower, r"[.!?]+")) - 1, F.lit(1)
    )
    n_words = F.greatest(F.size(_toks(text_col)), F.lit(1))
    n_syll = F.greatest(
        F.size(F.split(lower, r"[aeiouy]+")) - 1, F.lit(1)
    )
    wps = n_words.cast("double") / n_sent
    spw = n_syll.cast("double") / n_words
    ease = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    grade = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return docs.select(
        F.col(id_col),
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
        F.round(ease, 4).alias("flesch_ease"),
        F.round(grade, 4).alias("fk_grade"),
    )


def bigram_lm_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-trained character-bigram language-model score per
    document: the mean negative log2 probability of the document's
    bigrams under the corpus's own bigram counts — the cheap
    perplexity-style quality signal (gibberish and boilerplate score
    far from the corpus mode) a training pipeline uses when a real LM
    is too expensive to run over 100 TB.

    P(b|c) = count(bigram cb)/count(prefix c), both counted over the
    SAME position set (positions 1..len−1 of the normalized text), so
    probabilities sum to 1 per prefix and no smoothing is needed —
    every scored bigram was trained on.

    Scale: the position explode stays in its input partition (same
    recipe as :func:`doc_fingerprint`); the LM tables aggregate to at
    most |charset|² rows and broadcast back; per-doc scoring is one
    map-side join + one doc-keyed aggregation. Per-term −log2 p is
    quantized to 6 before the exact DECIMAL mean.
    """
    norm_df = ensure_min_parallelism(docs).select(
        F.col(id_col), normalized_text(text_col).alias("__norm")
    )
    n = F.length("__norm") - F.lit(1)
    pos = F.explode(F.when(n >= 1, F.sequence(F.lit(1), n)))
    # three consumers (bigram LM, prefix LM, per-doc scoring):
    # localCheckpoint materializes the exploded grams once instead of
    # re-exploding the corpus per consumer (same rationale as the
    # kmv_set_ops / ngram_jaccard checkpoints, measured there)
    grams = materialize(
        norm_df.select(F.col(id_col), F.col("__norm"), pos.alias("i")).select(
            F.col(id_col),
            F.substring(F.col("__norm"), F.col("i"), 2).alias("bg"),
            F.substring(F.col("__norm"), F.col("i"), 1).alias("pf"),
        )
    )
    bg_counts = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("n_bg"))
    pf_counts = grams.groupBy("pf").agg(F.count(F.lit(1)).alias("n_pf"))
    nlp = F.round(
        -F.log2(F.col("n_bg").cast("double") / F.col("n_pf")), 6
    )
    scored = (
        grams.join(F.broadcast(bg_counts), "bg")
        .join(F.broadcast(pf_counts), "pf")
        .select(F.col(id_col), nlp.alias("nlp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum(F.col("nlp").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_neg_log2"),
    )


def fuzzy_join_symdelete(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
) -> DataFrame:
    """Fuzzy equi-join at edit distance ≤ 1 via the symmetric-delete
    (SymSpell) trick: two strings within one edit share at least one
    member of their 1-deletion neighborhoods, so exploding each side
    into {s} ∪ {s minus one char} and EQUI-joining on the variant
    yields a complete candidate set — never an all-pairs comparison
    (the scale failure of naive fuzzy joins). Candidates verify with
    the built-in JVM ``levenshtein`` (DuckDB ships the same function,
    so the oracle replays both stages).

    Cost: (len+1) variants per row, candidates ∝ shared-variant
    collisions; the join shuffles on the variant string. Output is the
    distinct verified pair set (left value, right value, distance).
    """
    def variants(df: DataFrame, col: str, out: str) -> DataFrame:
        return (
            df.select(F.col(col).alias(out))
            .distinct()
            .select(
                out,
                F.explode(
                    F.sequence(F.lit(0), F.length(F.col(out)))
                ).alias("__i"),
            )
            .select(
                out,
                F.when(F.col("__i") == 0, F.col(out))
                .otherwise(
                    F.concat(
                        F.substring(F.col(out), 1, F.col("__i") - 1),
                        F.substring(
                            F.col(out), F.col("__i") + 1, F.length(F.col(out))
                        ),
                    )
                )
                .alias("__variant"),
            )
            .distinct()
        )

    va = variants(left, left_col, "left_value")
    vb = variants(right, right_col, "right_value")
    pairs = (
        va.join(vb, "__variant")
        .select("left_value", "right_value")
        .distinct()
        .withColumn(
            "edit_distance",
            F.levenshtein(F.col("left_value"), F.col("right_value")),
        )
        .where(F.col("edit_distance") <= 1)
    )
    return pairs


def pii_spans(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Extraction twin of :func:`pii_redact`: the actual PII spans in
    long form — (doc, span_type, occurrence index, span text) — the
    audit trail a privacy review wants alongside the scrubbed corpus
    (what EXACTLY was found, where, how often).

    Same codegen regex surface (``regexp_extract_all`` + posexplode,
    no shuffle, scan-speed); long-number spans are extracted AFTER
    email masking so digits inside addresses aren't double-reported,
    mirroring the redactor's order exactly.
    """
    emails = F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_PATTERN), 0)
    no_email = F.regexp_replace(F.col(text_col), EMAIL_PATTERN, "<EMAIL>")
    nums = F.regexp_extract_all(no_email, F.lit(LONG_NUM_PATTERN), 0)
    e = docs.select(
        F.col(id_col),
        F.lit("email").alias("span_type"),
        F.posexplode(emails).alias("idx", "span_text"),
    )
    n = docs.select(
        F.col(id_col),
        F.lit("long_number").alias("span_type"),
        F.posexplode(nums).alias("idx", "span_text"),
    )
    return e.unionByName(n).select(
        id_col, "span_type", (F.col("idx") + 1).alias("occurrence"), "span_text"
    )


def charset_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-class composition: counts and ratios of
    ASCII letters, digits, whitespace, other-ASCII (punctuation and
    symbols), and non-ASCII — plus a ``suspect_charset`` flag for the
    mojibake/binary-spill screen a corpus-cleaning pipeline runs
    before language ID (a doc that is mostly neither letters nor
    whitespace is not prose).

    Counts are length deltas of class-targeted ``regexp_replace`` —
    codegen regex, no Python path; ratios are single IEEE divisions
    of integer counts, so any engine replays them bit-identically.
    Map-side only: no shuffle at any size.
    """
    t = F.col(text_col)
    n_chars = F.length(t)

    def n_of(cls: str) -> F.Column:
        return n_chars - F.length(F.regexp_replace(t, cls, ""))

    n_letter = n_of("[A-Za-z]")
    n_digit = n_of("[0-9]")
    n_space = n_of(r"[ \t\r\n]")
    n_ascii_other = n_of(r"[\x21-\x2f\x3a-\x40\x5b-\x60\x7b-\x7e]")
    n_non_ascii = n_chars - n_letter - n_digit - n_space - n_ascii_other

    def ratio(n: F.Column) -> F.Column:
        return F.round(
            F.when(n_chars > 0, n / n_chars).otherwise(F.lit(0.0)), 6
        )

    letter_ratio = ratio(n_letter)
    space_ratio = ratio(n_space)
    non_ascii_ratio = ratio(n_non_ascii)
    suspect = (
        (n_chars > 0)
        & (
            (letter_ratio + space_ratio < 0.7)
            | (non_ascii_ratio > 0.2)
        )
    ).cast("int")
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_letter.alias("n_letter"),
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
        n_ascii_other.alias("n_ascii_other"),
        n_non_ascii.alias("n_non_ascii"),
        letter_ratio.alias("letter_ratio"),
        ratio(n_digit).alias("digit_ratio"),
        space_ratio.alias("space_ratio"),
        non_ascii_ratio.alias("non_ascii_ratio"),
        suspect.alias("suspect_charset"),
    )


def trending_terms(
    docs: DataFrame,
    side_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """Top-k trending terms between two corpus snapshots: per term,
    occurrence counts in the side=false ("before") and side=true
    ("after") slices and the add-one-smoothed log share ratio
    ``ln(((c_b+1)/(N_b+V)) / ((c_a+1)/(N_a+V)))`` — positive means
    over-represented in the after slice. The vocabulary-drift monitor
    a corpus-refresh pipeline reads before retraining a tokenizer.

    Exactness: every input to the ln is a ratio of exact integer
    counts built in a fixed expression order — deterministic IEEE.
    Global totals (N_a, N_b, V) ride as windows over the
    vocabulary-sized term frame, never the raw corpus.

    Shape: tokenize → explode → (term) groupBy with map-side combine
    — one corpus shuffle carrying term partials — then
    dimension-sized windows and a global top-k (per-partition top-k +
    single-reduce merge).
    """
    b = F.col(side_col).cast("boolean")
    toks = docs.select(
        b.alias("is_b"), F.explode(_toks(text_col)).alias("term")
    ).filter(F.col("term") != "")
    counts = toks.groupBy("term").agg(
        F.sum(F.when(~F.col("is_b"), 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("is_b"), 1).otherwise(0)).alias("c_b"),
    )
    wall = Window.partitionBy()
    na = F.sum("c_a").over(wall)
    nb = F.sum("c_b").over(wall)
    v = F.count(F.lit(1)).over(wall)
    score = F.round(
        F.log(
            ((F.col("c_b") + 1) / (nb + v)) / ((F.col("c_a") + 1) / (na + v))
        ),
        6,
    )
    return (
        counts.select("term", "c_a", "c_b", score.alias("trend_score"))
        .orderBy(F.col("trend_score").desc(), F.col("term"))
        .limit(top_k)
    )


def hashed_bow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_features: int = 256,
) -> DataFrame:
    """Feature-hashing (hashing-trick) bag of words: every token maps
    to ``md5 % n_features`` with a ±1 sign from a second hash bit, and
    per-document bucket totals form a fixed-width sparse feature
    vector in long form (doc, bucket, weight) — the tokenizer-free
    featurization a linear classifier or nearest-centroid router
    consumes (Weinberger et al. 2009; the sign hash unbiases
    collisions). Same md5 discipline as the MinHash/Bloom constants —
    any engine rebuilds identical features.

    Shape: tokenize → explode (rows stay in their input partition) →
    one (doc, bucket) groupBy with map-side combine; output ≤
    min(tokens, n_features) rows per doc. Integer arithmetic only.
    """
    toks = docs.select(
        F.col(id_col), F.explode(_toks(text_col)).alias("term")
    ).filter(F.col("term") != "")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("fh:"), F.col("term"))), 1, 8),
        16,
        10,
    ).cast("long")
    bucket = (h % n_features).cast("int")
    sign = ((h / n_features).cast("long") % 2) * 2 - 1
    return (
        toks.select(F.col(id_col), bucket.alias("bucket"), sign.alias("sign"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("sign").alias("weight"), F.count(F.lit(1)).alias("n_tokens"))
    )


def strip_boilerplate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 2,
) -> DataFrame:
    """Boilerplate removal: drop every sentence that appears (verbatim
    after normalization) in MORE than ``max_df`` documents — the
    cleaning action on the signal :func:`sentence_dedup_stats` only
    reports. Headers, footers, and licence blurbs repeat across a
    corpus; unique prose doesn't (C4-style line-level dedup,
    Raffel et al. 2020, at sentence grain).

    Output: (id, cleaned_text, n_sentences, n_dropped) for EVERY
    input document — cleaned text preserves original sentence order
    ('. '-joined; documents whose sentences are all boilerplate come
    back empty, and sentence-free documents pass through with zero
    counts).

    Scale: sentences explode in place and shuffle as md5 keys; the
    document-frequency aggregate is map-side partial; reconstruction
    is one per-doc sort of its OWN sentences (`array_sort` of
    (pos, sentence) structs — bounded by document length, never
    corpus-sized).
    """
    from real_time_stock_market_data_pipeline__spark.operators.dedup import (
        normalized_text,
    )

    sent = docs.select(
        F.col(id_col),
        F.posexplode(F.split(normalized_text(text_col), r"\. ")).alias(
            "pos", "s"
        ),
    ).filter(F.length("s") > 0)
    counts = sent.groupBy(F.md5("s").alias("h")).agg(
        F.count_distinct(F.col(id_col)).alias("nd")
    )
    flagged = sent.withColumn("h", F.md5("s")).join(counts, "h")
    rebuilt = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.sum(F.when(F.col("nd") > max_df, 1).otherwise(0)).alias(
            "n_dropped"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("nd") <= max_df,
                            F.struct(F.col("pos"), F.col("s")),
                        )
                    )
                ),
                lambda x: x["s"],
            ),
            ". ",
        ).alias("cleaned_text"),
    )
    return (
        docs.select(F.col(id_col))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias(
                "cleaned_text"
            ),
            F.coalesce(F.col("n_sentences"), F.lit(0)).alias("n_sentences"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
        )
    )


def length_band_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    lo_num: int = 1,
    lo_den: int = 20,
    hi_num: int = 19,
    hi_den: int = 20,
) -> DataFrame:
    """Length-outlier document gate: per group (language), keep only
    documents whose word count lies within the group's discrete
    [p(lo), p(hi)] band (default p5..p95) — the degenerate-document
    screen (fragments and concatenation accidents) a corpus pipeline
    runs between quality scoring and dedup; per-group bands because
    honest lengths differ by language.

    Band ranks use the integer ⌈q·n⌉ arithmetic of
    ``metrics.qq_quantiles`` (float q·n mis-ceils); the band frame is
    group-cardinality-sized and broadcasts back — one rank window +
    one broadcast join, a single data shuffle on the group key.
    Output: (id, group, n_words, lo_band, hi_band), kept rows only.
    """
    toks = docs.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        F.size(_toks(text_col)).alias("n_words"),
    )
    wrk = Window.partitionBy("grp").orderBy("n_words", id_col)
    wn = Window.partitionBy("grp")
    ranked = toks.select(
        F.col(id_col),
        "grp",
        "n_words",
        F.row_number().over(wrk).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lo_k = F.expr(f"(n * {lo_num} + {lo_den - 1}) DIV {lo_den}")
    hi_k = F.expr(f"(n * {hi_num} + {hi_den - 1}) DIV {hi_den}")
    bands = ranked.groupBy("grp").agg(
        F.max(F.when(F.col("rn") == F.greatest(lo_k, F.lit(1)), F.col("n_words"))).alias(
            "lo_band"
        ),
        F.max(F.when(F.col("rn") == hi_k, F.col("n_words"))).alias("hi_band"),
    )
    return (
        ranked.join(F.broadcast(bands), "grp")
        .where(
            (F.col("n_words") >= F.col("lo_band"))
            & (F.col("n_words") <= F.col("hi_band"))
        )
        .select(
            F.col(id_col),
            F.col("grp").alias(group_col),
            "n_words",
            "lo_band",
            "hi_band",
        )
    )


# ---------------------------------------------------------------------------
# DSIR data selection (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling")
# ---------------------------------------------------------------------------

#: hashed-bigram feature space size for DSIR importance weights
DSIR_BUCKETS = 256


def dsir_logweights(
    docs: DataFrame,
    target: F.Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR importance log-weights: score every document by how much
    its hashed-bigram profile looks like a TARGET slice of the corpus
    versus the corpus as a whole — the public data-selection recipe
    (hashed n-gram bag-of-words + bigram product model, Xie et al.
    2023) that picks pre-training data matching a high-quality target
    domain. Compose with `sampling.weighted_sample` for the resampling
    step.

    ``log w(doc) = Σ_grams [ln p̂_target(bucket) − ln p̂_raw(bucket)]``

    with add-one-smoothed bucket probabilities over ``n_buckets``
    hashed word-bigram buckets (md5 feature hashing — the
    `hashed_bow` discipline, engine-portable). ``target`` is any
    boolean Column over the input (default: ``lang = 'en'``).

    Shape at 100 TB: tokenize/bigram/bucket explode in place (no
    shuffle), ONE (bucket) aggregation builds both distributions in a
    single pass (map-side partial, ≤ n_buckets rows out), the
    per-bucket log-ratio table broadcast-joins back to the per-doc
    bucket counts, and the per-doc reduce is a decimal-exact sum.
    Nothing corpus-sized crosses the wire except the one explode
    aggregation. Cross-engine exactness: each per-bucket log-ratio is
    rounded to 6 dp (repr-tie-safe), per-doc terms are integer ×
    6-dp-double products summed as DECIMAL(18,6) — order-independent.

    Documents with fewer than two tokens carry zero features and a
    0.0 log-weight (they match both distributions trivially).
    """
    if target is None:
        target = F.col("lang") == "en"
    exploded = _dsir_exploded(docs, target, id_col, text_col, n_buckets)
    dist = exploded.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("ct"),
    )
    doc_buckets = exploded.groupBy(F.col(id_col), "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    return _dsir_assemble(
        doc_buckets, dist, docs.select(F.col(id_col), F.col("lang")),
        id_col, n_buckets,
    )


def _dsir_exploded(
    docs: DataFrame,
    target: F.Column,
    id_col: str,
    text_col: str,
    n_buckets: int,
) -> DataFrame:
    """(id, __is_t, bucket) — one row per word bigram, bucketed by the
    md5 feature hash. Shared by the batch scorer, the at-rest index
    build, and the streaming ingest partials (identical expressions ⇒
    identical counts whichever path a document arrives by)."""
    toks = F.filter(_toks(text_col), lambda t: t != "")
    base = docs.select(
        F.col(id_col),
        toks.alias("__t"),
        target.cast("boolean").alias("__is_t"),
    )
    m = F.size("__t") - F.lit(1)
    grams = F.when(
        m >= 1,
        F.transform(
            F.sequence(F.lit(1), m),
            # single-arg closure (two-arg lambdas receive the element
            # index as the 2nd argument)
            lambda i: F.concat(
                F.element_at(F.col("__t"), i),
                F.lit(" "),
                F.element_at(F.col("__t"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("gram"))), 1, 8),
        16,
        10,
    ).cast("long")
    return base.select(
        F.col(id_col), F.col("__is_t"), F.explode(grams).alias("gram")
    ).select(
        F.col(id_col),
        F.col("__is_t"),
        (h % n_buckets).cast("int").alias("bucket"),
    )


def _dsir_assemble(
    doc_buckets: DataFrame,
    dist: DataFrame,
    docs_meta: DataFrame,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    """Log-ratio table + per-doc decimal-exact reduce + the zero-gram
    left join — the scoring tail shared by :func:`dsir_logweights`
    (in-flight frames) and :func:`dsir_weights_indexed` (at-rest
    frames). ``dist`` is (bucket, cr, ct); ``doc_buckets`` is
    (id, bucket, n); ``docs_meta`` is (id, lang)."""
    # whole-frame totals as window sums over the ≤ n_buckets-row dist
    # frame (a 1-row crossJoin would plan a BroadcastNestedLoopJoin,
    # which the no-cartesian sweep bans)
    w_all = Window.partitionBy()
    ratio = F.round(
        F.log(
            (F.col("ct") + 1).cast("double")
            / (F.col("tt") + n_buckets).cast("double")
        )
        - F.log(
            (F.col("cr") + 1).cast("double")
            / (F.col("tr") + n_buckets).cast("double")
        ),
        6,
    )
    bucket_ratio = dist.select(
        "bucket",
        "cr",
        "ct",
        F.sum("cr").over(w_all).alias("tr"),
        F.sum("ct").over(w_all).alias("tt"),
    ).select("bucket", ratio.alias("lr"))
    per_doc = (
        doc_buckets.join(F.broadcast(bucket_ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_grams"),
            F.round(
                F.sum(
                    (F.col("n").cast("double") * F.col("lr")).cast(
                        "decimal(18,6)"
                    )
                ).cast("double"),
                6,
            ).alias("dsir_logweight"),
        )
    )
    return docs_meta.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("lang"),
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("dsir_logweight"), F.lit(0.0)).alias(
            "dsir_logweight"
        ),
    )


_DSIR_META_SIDECAR = "_dsir_meta.json"


def _dsir_write_batch(
    docs: DataFrame,
    path: str,
    batch_id: int,
    target_lang: str,
    id_col: str,
    text_col: str,
    lang_col: str,
    n_buckets: int,
) -> None:
    """Write ``docs``' rows of the three DSIR tables as their
    ``bp=<batch_id>`` partitions — the one row definition shared by the
    base build (:func:`dsir_write_index`) and the streaming ingest
    (:func:`streaming.pipeline.stream_dsir_ingest`): per-doc bucket
    counts, per-doc (id, lang) meta, and ONE ≤ n_buckets-row
    ``(batch_id, bucket, cr, ct)`` stats partial."""
    import os

    from real_time_stock_market_data_pipeline__spark.sinks import (
        append_batch_partition,
        run_jobs_concurrently,
    )

    exploded = _dsir_exploded(
        docs, F.col(lang_col) == target_lang, id_col, text_col, n_buckets
    )
    tables = {
        "buckets": exploded.groupBy(F.col(id_col), "bucket").agg(
            F.count(F.lit(1)).alias("n")
        ),
        "docs": docs.select(F.col(id_col), F.col(lang_col).alias("lang")),
        "stats": exploded.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("ct"),
        )
        .select(
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            "bucket",
            "cr",
            "ct",
        ),
    }
    # three independent tables into disjoint subdirectories: overlap
    # the write jobs (round 16, guide §2.6)
    run_jobs_concurrently(
        *[
            lambda name=name, df=df: append_batch_partition(
                df, os.path.join(path, name), batch_id
            )
            for name, df in tables.items()
        ]
    )


def dsir_write_index(
    docs: DataFrame,
    path: str,
    target_lang: str = "en",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = DSIR_BUCKETS,
) -> None:
    """Materialize the DSIR scoring state at rest so importance
    weights can be maintained as a SERVICE while a crawl streams in
    (ingest: :func:`streaming.pipeline.stream_dsir_ingest`, probe:
    :func:`dsir_weights_indexed`): per-doc hashed-bigram counts
    (``buckets/``, id-hash partitioned), per-doc meta (``docs/``,
    same layout — carries the lang and the zero-gram documents), and
    ONE (batch_id, bucket, cr, ct) stats-partial table (``stats/``,
    ≤ n_buckets rows per batch) whose bucket-wise SUM is exactly the
    full-corpus distribution — counts are integers, so the additive
    merge is exact and arrival-order independent.

    Layout: every table is partitioned on ``bp`` (the writing batch,
    build = -1). The crawl contract guarantees new ids per batch, so
    the service APPENDS a fresh ``bp`` partition per drain via dynamic
    partition overwrite — O(batch) per drain, no index-sized reads or
    rewrites, and checkpoint replay overwrites its own partition
    (idempotent by layout, the register-merge discipline)."""
    import json
    import os

    from real_time_stock_market_data_pipeline__spark.sinks import BASE_BP

    _dsir_write_batch(
        docs, path, BASE_BP, target_lang, id_col, text_col, lang_col,
        n_buckets,
    )
    with open(os.path.join(path, _DSIR_META_SIDECAR), "w") as f:
        json.dump(
            {
                "n_buckets": int(n_buckets),
                "id_col": id_col,
                "text_col": text_col,
                "lang_col": lang_col,
                "target_lang": target_lang,
            },
            f,
        )


def dsir_weights_indexed(spark, path: str) -> DataFrame:
    """DSIR importance log-weights for every document the index holds,
    from the at-rest state alone (no re-tokenization): stats partials
    SUM to the exact full-corpus distribution (integer counts), the
    ≤ n_buckets-row log-ratio table broadcasts back onto the stored
    per-doc bucket counts, and the per-doc reduce is the same
    decimal-exact sum as :func:`dsir_logweights` — so after draining
    batches B1..Bn over an index built from corpus C, this answers
    exactly like the batch scorer over C ∪ B1..Bn (law-tested; the
    registered `stream_dsir_weights` query shares `dsir_weights`'
    oracle). Probe cost: O(stored doc-bucket rows) with map-side
    partial aggregation — never re-reads text."""
    import json
    import os

    with open(os.path.join(path, _DSIR_META_SIDECAR)) as f:
        meta = json.load(f)
    n_buckets = int(meta["n_buckets"])
    id_col = meta["id_col"]
    dist = (
        spark.read.parquet(os.path.join(path, "stats"))
        .groupBy("bucket")
        .agg(F.sum("cr").alias("cr"), F.sum("ct").alias("ct"))
    )
    doc_buckets = spark.read.parquet(os.path.join(path, "buckets")).select(
        id_col, "bucket", "n"
    )
    docs_meta = spark.read.parquet(os.path.join(path, "docs")).select(
        id_col, "lang"
    )
    return _dsir_assemble(doc_buckets, dist, docs_meta, id_col, n_buckets)


# ---------------------------------------------------------------------------
# BM25 retrieval (Okapi BM25, Robertson et al.; Lucene's non-negative
# idf variant) — batch scoring + an inverted index at rest
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
#: term-hash partitions for the at-rest inverted index
BM25_TERM_BUCKETS = 16
_BM25_META_SIDECAR = "_bm25_meta.json"


def bm25_doclens(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, dl): per-document token count — the BM25 length normalizer."""
    return docs.select(
        F.col(id_col),
        F.size(F.filter(_toks(text_col), lambda t: t != ""))
        .cast("long")
        .alias("dl"),
    )


def bm25_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, id, tf): the inverted-index posting list in long form.
    Tokenize → explode in place → one (term, doc) count with map-side
    combine."""
    toks = docs.select(
        F.col(id_col), F.explode(_toks(text_col)).alias("term")
    ).filter(F.col("term") != "")
    return toks.groupBy("term", id_col).agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def bm25_term_bucket(term_col: F.Column, n_buckets: int = BM25_TERM_BUCKETS):
    """md5 term → bucket, the partition key of the at-rest index
    (engine-portable: same `'0x'||substr(md5(...),1,8)` discipline as
    every other hash in the repo)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("bm25:"), term_col)), 1, 8), 16, 10
    ).cast("long")
    return (h % n_buckets).cast("int")


def _bm25_score(
    postings: DataFrame,
    doclens: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int,
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """Shared scoring tail: postings already filtered to the query
    terms; ``n_docs``/``avgdl`` are bounded driver scalars (corpus
    metadata a real pipeline has for free — the `tfidf_top_terms`
    discipline; a 1-row stats crossJoin would plan a
    BroadcastNestedLoopJoin, which the no-cartesian sweep bans)."""
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    joined = postings.withColumn("df", dfreq).join(doclens, id_col)
    idf = F.log(
        F.lit(1.0)
        + (
            F.lit(float(n_docs))
            - F.col("df").cast("double")
            + F.lit(0.5)
        )
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    dlr = F.col("dl").cast("double") / F.lit(float(avgdl))
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * dlr
    )
    contrib = F.round(
        idf * (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / denom, 6
    )
    return (
        joined.select(F.col(id_col), contrib.alias("contrib"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            F.round(
                F.sum(F.col("contrib").cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k retrieval, computed from the raw corpus in one
    pass — the scoring backbone of search-based decontamination,
    retrieval-augmented filtering, and query-driven corpus audits.

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    with Lucene's always-positive ``idf = ln(1 + (N−df+0.5)/(df+0.5))``.

    Shape: the term filter lands BEFORE the (term, doc) aggregation —
    only postings of the |terms| query terms survive the explode, so
    the shuffled frame is query-sized, not corpus-sized. ``df`` is a
    window count over that tiny frame; corpus stats (N, avgdl) are one
    decimal-exact 1-row aggregate, broadcast. Per-term contributions
    round to 6 dp and sum as DECIMAL — order-independent, so a SQL
    engine replays the exact doubles. For repeated querying, build the
    index once with :func:`bm25_write_index` instead."""
    dls = bm25_doclens(docs, id_col, text_col)
    stats = dls.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    ).first()
    postings = bm25_postings(docs, id_col, text_col).filter(
        F.col("term").isin([str(t) for t in terms])
    )
    return _bm25_score(
        postings,
        dls,
        int(stats["n_docs"]),
        float(stats["avgdl"]),
        k,
        k1,
        b,
        id_col,
    )


def _bm25_side_writes(
    docs: DataFrame, path: str, batch_id: int, id_col: str, text_col: str
) -> list:
    """The doclens and stats writes of ``docs`` as ``bp=<batch_id>``
    partitions, as two thunks the caller overlaps with its postings
    write — the one row definition shared by the base build
    (:func:`bm25_write_index`) and the streaming ingest
    (:func:`streaming.pipeline.stream_bm25_ingest`). Stats are one
    ``(batch_id, n_docs, Σdl)`` partial row per batch: N and avgdl
    derive from exact integer sums, so an ingest never re-scans
    doclens and a replay overwrites its own row (the sketch-register
    shape)."""
    import os

    from real_time_stock_market_data_pipeline__spark.sinks import (
        append_batch_partition,
    )

    dls = bm25_doclens(docs, id_col, text_col)
    stats = dls.agg(
        F.lit(int(batch_id)).cast("long").alias("batch_id"),
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0).cast("long")).alias("sum_dl"),
    )
    return [
        lambda: append_batch_partition(
            dls, os.path.join(path, "doclens"), batch_id
        ),
        lambda: append_batch_partition(
            stats, os.path.join(path, "stats"), batch_id
        ),
    ]


def bm25_write_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = BM25_TERM_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the BM25 inverted index at rest: posting lists
    parquet-partitioned by ``term_bucket`` (md5 term hash), a doclens
    table, and a 1-row stats table (N, exact avgdl), plus a JSON
    sidecar recording ``n_buckets``.

    At 100 TB the posting write is the one corpus-sized job (tokenize
    → explode → (term, doc) count); every later query reads only the
    probed term buckets — ``terms/n_buckets`` of the index — via
    partition pruning, never re-tokenizing the corpus. Doc lengths and
    stats are tiny sidecars. Same overwrite discipline as
    ``ivf_write_index``; rebuild (or MERGE per-bucket) on corpus
    growth."""
    import json
    import os

    from real_time_stock_market_data_pipeline__spark.sinks import (
        BASE_BP,
        run_jobs_concurrently,
    )

    postings = bm25_postings(docs, id_col, text_col).withColumn(
        "term_bucket", bm25_term_bucket(F.col("term"), n_buckets)
    )
    # doclens and stats in the bp=<batch_id> batch-partition layout
    # (bp=-1 is the base build): document ids are NEW every ingest
    # batch (the crawl contract — a revised doc is a table-format
    # DELETE, out of scope), so the streaming service just APPENDS a
    # fresh bp partition per batch. The probe reads every partition
    # either way — the scan side is unaffected. The three tables land
    # in disjoint subdirectories: overlap the write jobs (round 16,
    # guide §2.6) instead of paying the corpus-sized posting build
    # plus two sidecar writes end-to-end.
    run_jobs_concurrently(
        lambda: (
            postings.write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(os.path.join(path, "postings"))
        ),
        *_bm25_side_writes(docs, path, BASE_BP, id_col, text_col),
    )
    with open(os.path.join(path, _BM25_META_SIDECAR), "w") as f:
        json.dump(
            {"n_buckets": n_buckets, "id_col": id_col}, f
        )


def bm25_topk_indexed(
    spark,
    path: str,
    terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Query a materialized BM25 index (``bm25_write_index`` layout):
    the query terms hash to their buckets driver-side and the bucket
    predicate lands in the scan's PartitionFilters (plan-asserted in
    tests), so only |query buckets| of the posting directories are
    read. The inner ``term IN (...)`` filter then pushes into parquet
    row-group pruning. Result ≡ :func:`bm25_topk` on the same corpus
    (the stored postings are query-independent)."""
    import hashlib
    import json
    import os

    with open(os.path.join(path, _BM25_META_SIDECAR)) as f:
        meta = json.load(f)
    n_buckets = int(meta["n_buckets"])
    id_col = meta.get("id_col", "doc_id")
    buckets = sorted(
        {
            int(hashlib.md5(f"bm25:{t}".encode()).hexdigest()[:8], 16)
            % n_buckets
            for t in terms
        }
    )
    postings = (
        spark.read.parquet(os.path.join(path, "postings"))
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin([str(t) for t in terms]))
        .select("term", id_col, "tf")
    )
    dls = spark.read.parquet(os.path.join(path, "doclens"))
    # fold the per-batch stat partials (exact integer sums; one-row
    # driver fetch). avgdl = double(Σdl)/N is bit-identical to the
    # decimal-exact average the one-pass scorer computes: the decimal
    # sum of integers IS the integer sum.
    tot = (
        spark.read.parquet(os.path.join(path, "stats"))
        .agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s"))
        .first()
    )
    n_docs = int(tot["n"])
    avgdl = float(int(tot["s"])) / float(n_docs)
    return _bm25_score(postings, dls, n_docs, avgdl, k, k1, b, id_col)


def rrf_hybrid_topk(
    spark,
    embs: DataFrame,
    bm25_path: str,
    ann_path: str,
    terms: list[str],
    query: list[float],
    k: int = 10,
    leg_k: int = 30,
    rrf_k: int = 60,
    refine: int = 4,
) -> DataFrame:
    """Hybrid sparse+dense retrieval with reciprocal-rank fusion — the
    standard two-tower data-curation retrieval stack (Cormack et al.
    2009 RRF): probe the at-rest BM25 inverted index
    (:func:`bm25_topk_indexed`) and the at-rest binary-signature ANN
    index (:func:`similarity.bq_topk_indexed`) for their top ``leg_k``
    each, then fuse ``score(d) = Σ_leg 1/(rrf_k + rank_leg(d))`` and
    keep the top ``k``.

    The caller's id contract: the BM25 index's document ids and the
    ANN index's vector ids refer to the same items (the dense leg's id
    column is renamed onto the sparse leg's). Ranks are each leg's own
    deterministic ordering (score DESC, id ASC); absent-from-leg
    contributes 0 via a fixed two-term coalesce sum, so the fused
    doubles replay bit-for-bit in any IEEE engine.

    Shape at 100 TB: two index probes (partition-pruned term buckets;
    8-byte signature scan) + rank windows over two ≤ ``leg_k``-row
    frames (bounded — the single-partition window is over at most
    2·leg_k rows, never data-sized) + one tiny full-outer rank join.
    No new shuffle classes beyond the legs themselves."""
    from real_time_stock_market_data_pipeline__spark.operators import (
        similarity,
    )

    sparse = bm25_topk_indexed(spark, bm25_path, terms, k=leg_k)
    id_col = sparse.columns[0]
    dense = similarity.bq_topk_indexed(
        spark, embs, ann_path, query, k=leg_k, refine=refine
    )
    did = dense.columns[0]
    sr = sparse.select(
        F.col(id_col),
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col(id_col)))
        .cast("long")
        .alias("bm25_rank"),
    )
    dr = dense.select(
        F.col(did).alias(id_col),
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), F.col(did)))
        .cast("long")
        .alias("ann_rank"),
    )
    leg = lambda rank: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(rrf_k).cast("long") + F.col(rank)), F.lit(0.0)
    )
    return (
        sr.join(dr, id_col, "full_outer")
        .select(
            F.col(id_col),
            (leg("bm25_rank") + leg("ann_rank")).alias("rrf_score"),
            F.col("bm25_rank"),
            F.col("ann_rank"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# BPE vocabulary training (Sennrich et al. 2016) — tokenizer induction
# over the corpus word table
# ---------------------------------------------------------------------------

#: end-of-word marker symbol. Every symbol starts with 'x' and is made
#: of [0-9a-fx]+'w' only, so merge patterns are regex-literal-safe.
BPE_EOW = "xw"


def _bpe_encode_word(word_col: F.Column) -> F.Column:
    """Initial BPE representation of one word: each character becomes
    the symbol ``x<lower-hex codepoint>``, the ``xw`` end-of-word
    marker is appended, and symbols are joined with DOUBLE spaces,
    with double-space padding at both ends.

    The double-space invariant is the engine-portable trick that makes
    one global ``regexp_replace`` of the literal pattern
    ``' L  R ' → ' LR '`` EXACTLY greedy left-to-right BPE merging:
    adjacent matches share the double boundary (each consumes one of
    its two spaces), so a run like ``a a a a`` merges (1,2)(3,4) in a
    single pass — no lookarounds, valid in both Java regex and RE2.
    The replacement re-establishes the invariant by construction."""
    enc = F.transform(
        F.split(word_col, ""),
        lambda c: F.concat(F.lit("x"), F.lower(F.hex(F.ascii(c)))),
    )
    return F.concat(
        F.lit("  "),
        F.array_join(F.concat(enc, F.array(F.lit(BPE_EOW))), "  "),
        F.lit("  "),
    )


def _bpe_pair_counts(reprs: DataFrame) -> DataFrame:
    """(l, rt, c): adjacent-symbol pair counts over a (r, freq) word
    representation table, occurrence-weighted by word frequency."""
    syms = F.split(F.trim(F.col("r")), "  ")
    m = F.size(syms) - 1
    # guard m >= 1: a fully-merged single-symbol word would make
    # sequence(1, 0) DESCEND and element_at(.., 0) throw under ANSI
    pairs = F.when(
        m >= 1,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.struct(
                F.element_at(syms, i).alias("l"),
                F.element_at(syms, i + 1).alias("rt"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,rt:string>>"))
    return (
        reprs.select(F.col("freq"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.rt").alias("rt"))
        .agg(F.sum("freq").alias("c"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Byte-pair-encoding vocabulary training over the corpus — real
    tokenizer induction (Sennrich et al. 2016), not a stand-in: the
    ``n_merges`` highest-count adjacent-symbol merges, learned
    greedily, each applied to the word table before the next count.
    Output: one row per merge,
    ``(merge_rank, left_sym, right_sym, merged_sym, pair_count)``.

    Exactly the shape production BPE trainers use at scale: ONE
    corpus-sized pass (tokenize → word-frequency table), then every
    iteration runs on the vocabulary table (map-side symbol explode +
    one tiny aggregation + a 1-row argmax collect — bounded driver
    fetches, k of them). Ties break deterministically by
    (count DESC, left ASC, right ASC); all counts are exact integer
    sums, so a SQL engine replays every merge decision bit-for-bit
    (see `_bpe_encode_word` for the greedy-merge-as-regexp trick).
    ``localCheckpoint`` per iteration truncates the iterative lineage
    (the `neardup_clusters` discipline)."""
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(_toks(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    cur = materialize(
        words.select(_bpe_encode_word(F.col("w")).alias("r"), F.col("freq"))
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = (
            _bpe_pair_counts(cur)
            .orderBy(F.col("c").desc(), F.col("l"), F.col("rt"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, rt, c = best[0]["l"], best[0]["rt"], int(best[0]["c"])
        merges.append((rank, l, rt, l + rt, c))
        merged = F.regexp_replace("r", f" {l}  {rt} ", f" {l}{rt} ")
        cur = materialize(cur.select(merged.alias("r"), "freq"))
    return spark.createDataFrame(
        merges,
        "merge_rank: int, left_sym: string, right_sym: string,"
        " merged_sym: string, pair_count: long",
    )


def bpe_train_local(
    docs: DataFrame,
    n_merges: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Driver-side BPE trainer for REAL vocabulary sizes — law-equal
    to :func:`bpe_train` (asserted in tests at n_merges ≥ 256), built
    for the regime where the engine-replay form's one-Spark-job-per-
    merge scheduling dominates (round-13 verdict: a production 32k-
    merge vocabulary means 32k sequential jobs).

    Shape: the ONE corpus-sized pass (tokenize → word-frequency
    table) stays distributed — that is the only part that scales with
    data. The (word, freq) table itself is Zipf-bounded (vocabulary,
    not corpus) and fits on the driver, so the merge loop runs here:
    incremental pair counts with a pair → word inverted index, each
    iteration touching only the words that contain the merged pair.
    Every decision replays :func:`bpe_train` exactly — overlapping
    adjacent-pair counts weighted by word frequency, argmax by
    (count DESC, left ASC, right ASC), single-pass greedy left-to-
    right non-overlapping merge within each word (the double-space
    regex semantics, applied to the symbol list). The engine-replay
    form remains the SQL-oracle witness."""
    from collections import Counter, defaultdict

    spark = docs.sparkSession
    rows = (
        docs.select(F.explode(_toks(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .collect()
    )
    # encode exactly like _bpe_encode_word: per-char x<lower-hex
    # codepoint> symbols + the xw end-of-word marker
    words: list[list] = [
        [["x" + format(ord(c), "x") for c in r["w"]] + [BPE_EOW], int(r["freq"])]
        for r in rows
    ]
    pair_counts: Counter = Counter()
    pair_words: defaultdict = defaultdict(set)
    for idx, (syms, freq) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += freq
            pair_words[p].add(idx)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        live = [(p, c) for p, c in pair_counts.items() if c > 0]
        if not live:
            break
        (l, rt), c = min(live, key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, l, rt, l + rt, int(c)))
        for idx in sorted(pair_words.get((l, rt), ())):
            syms, freq = words[idx]
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= freq
                pair_words[p].discard(idx)
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == l
                    and syms[i + 1] == rt
                ):
                    out.append(l + rt)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[idx][0] = out
            for p in zip(out, out[1:]):
                pair_counts[p] += freq
                pair_words[p].add(idx)
    return spark.createDataFrame(
        merges,
        "merge_rank: int, left_sym: string, right_sym: string,"
        " merged_sym: string, pair_count: long",
    )


def bpe_token_count(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document token count under a TRAINED BPE vocabulary: encode
    every word, chain the learned merges in rank order (each one
    global greedy replace), count surviving symbols. The merge chain
    is column-expression only — codegen, no shuffle beyond the final
    per-doc count.

    Scale shape: BPE segmentation is a pure function of the WORD, so
    the 8-pass regex chain runs over the distinct-word table only
    (vocabulary-sized — Zipf reality makes this orders of magnitude
    smaller than the corpus), and per-word symbol counts broadcast-join
    back to the exploded documents for one per-doc sum. Measured 151 s
    → seconds at 500k docs vs chaining the regexes over whole-document
    strings. Word-boundary safety is free: merges are learned on the
    word table, where the ``xw`` marker is always word-final."""
    toks = docs.select(
        F.col(id_col), F.explode(_toks(text_col)).alias("w")
    ).filter(F.col("w") != "")
    r = _bpe_encode_word(F.col("w"))
    for l, rt in merges:
        r = F.regexp_replace(r, f" {l}  {rt} ", f" {l}{rt} ")
    per_word = (
        toks.select("w").distinct().select(
            "w", F.size(F.split(F.trim(r), "  ")).cast("long").alias("ns")
        )
    )
    # no broadcast hint: a web-scale vocabulary can exceed broadcast
    # limits — AQE converts to BHJ whenever the runtime size allows
    counted = (
        toks.join(per_word, "w")
        .groupBy(id_col)
        .agg(F.sum("ns").alias("n_bpe_tokens"))
    )
    return docs.select(F.col(id_col)).join(counted, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_bpe_tokens"), F.lit(0).cast("long")).alias(
            "n_bpe_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering: an in-engine perceptron classifier
# (the fastText/LR-quality-filter stage of public LLM pipelines,
# re-expressed with engine-portable exact arithmetic)
# ---------------------------------------------------------------------------

PERCEPTRON_ETA = 0.1


def _round6_half_up(x: float) -> float:
    """Driver-side twin of the oracle's `_round_sql(expr, 6)`: HALF_UP
    on the shortest decimal repr — the sq8 Decimal discipline, so the
    weights the driver embeds as plan literals equal the SQL-derived
    ones bit-for-bit."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


def _quality_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """(id, y, x0..x3): bias, scaled word count, stopword ratio, digit
    ratio — integer counts and single IEEE divisions only, so every
    feature is bit-identical in any engine. y = 1 iff lang = 'en'."""
    toks = F.filter(_toks(text_col), lambda t: t != "")
    nw = F.size(toks)
    nstop = F.size(F.filter(toks, lambda t: t.isin(*_EN_STOPWORDS)))
    nchars = F.length(F.col(text_col))
    ndig = nchars - F.length(
        F.regexp_replace(F.col(text_col), "[0-9]", "")
    )
    return docs.select(
        F.col(id_col),
        (F.col(lang_col) == "en").cast("int").alias("y"),
        F.lit(1.0).alias("x0"),
        (nw.cast("double") / F.lit(100.0)).alias("x1"),
        F.when(nw > 0, nstop.cast("double") / nw)
        .otherwise(F.lit(0.0))
        .alias("x2"),
        F.when(nchars > 0, ndig.cast("double") / nchars)
        .otherwise(F.lit(0.0))
        .alias("x3"),
    )


def perceptron_quality(
    docs: DataFrame,
    n_steps: int = 3,
    eta: float = PERCEPTRON_ETA,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Model-based quality scoring with a classifier TRAINED IN THE
    ENGINE: ``n_steps`` batch perceptron updates over four exact text
    features against the lang='en' target, then every document scored
    under the final weights — the quality-filter stage public LLM
    pipelines run with a fastText/LR model, re-expressed so every
    training decision is engine-portable (comparisons and exact sums
    only, NO sigmoid/exp — libm is not cross-engine bit-stable).

    Per step: margins under the current weights are plan LITERALS
    (w·x left-assoc), predictions are ``margin > 0``, the batch
    gradient ``Σ (y − ŷ)·x_j`` is a 6-dp-rounded DECIMAL sum (order
    independent), and the weight update rounds HALF_UP on the shortest
    repr (:func:`_round6_half_up` ≡ the oracle's `_round_sql`) — so a
    SQL engine re-derives identical weights, margins, and labels.

    Shape at 100 TB: each step is ONE map-side aggregation to 4
    scalars (bounded driver fetch, like `kmeans_step`); the feature
    projection is recomputed per step (cache it upstream for many
    steps). Output: (id, label_en, score, predicted)."""
    feats = _quality_features(docs, id_col, text_col, lang_col)
    n = feats.count()
    w = [0.0, 0.0, 0.0, 0.0]

    def margin(weights: list[float]) -> F.Column:
        m = F.lit(float(weights[0])) * F.col("x0")
        for j in range(1, 4):
            m = m + F.lit(float(weights[j])) * F.col(f"x{j}")
        return m

    for _ in range(n_steps):
        pred = (margin(w) > 0).cast("int")
        grads = feats.agg(
            *[
                F.sum(
                    F.round(
                        (F.col("y") - pred).cast("double") * F.col(f"x{j}"),
                        6,
                    ).cast("decimal(18,6)")
                )
                .cast("double")
                .alias(f"g{j}")
                for j in range(4)
            ]
        ).first()
        w = [
            _round6_half_up(
                w[j] + float(eta) * float(grads[f"g{j}"] or 0.0) / n
            )
            for j in range(4)
        ]
    m = margin(w)
    return feats.select(
        F.col(id_col),
        F.col("y").alias("label_en"),
        F.round(m, 6).alias("score"),
        (m > 0).alias("predicted"),
    )
