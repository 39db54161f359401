"""Deduplication family — reference ops A4/A5 plus the north-star
LLM-data-pipeline dedup extensions (SURVEY.md §2.10).

Reference counterparts:
- A4 exact dedup: `dropDuplicates(["symbol","date"])`
  `/root/reference/src/spark/jobs/spark_batch_processor.py:83`
- A5 keep-last: pandas `drop_duplicates(..., keep='last')`
  `/root/reference/src/snowflake/load_to_snowflake.py:162` — Spark has
  no ordered keep-last, so it becomes the row_number pattern.

Design rules for 100 TB:
- exact dedup groups on a 256-bit content hash, never the raw text —
  the shuffle moves 32 bytes + keys per row instead of documents;
- nothing all-pairs: near-dup candidates come from MinHash-LSH band
  buckets (explode → groupBy band → within-bucket pairs), so cost is
  proportional to true collision volume, not n²;
- all hashes are engine-portable (md5/sha2 of explicit strings), so a
  SQL oracle can replay them; no JVM-internal hash functions leak into
  results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark.session import (
    ensure_min_parallelism,
    materialize,
)

#: MinHash configuration: 16 permutations → 8 bands × 2 rows.
#: Band collisions at Jaccard s have probability 1-(1-s^2)^8 — ~0.9 for
#: s=0.7, ~0.03 for s=0.2 — a reasonable near-dup operating point.
MINHASH_PERMS = 16
MINHASH_BAND_ROWS = 2

#: Universal-hash permutation constants: perm_i(h) = (a_i*h + b_i) mod P
#: over the 32-bit base hash. P is the first prime above 2^32; a_i odd
#: < 2^31 so a_i*h stays inside a signed 64-bit long. Deterministic
#: (seeded) so the DuckDB oracle replays the identical permutations.
MINHASH_P = 4_294_967_311
import random as _random

_rng = _random.Random(42)
MINHASH_A = [(_rng.randrange(1, 2**31 - 1)) | 1 for _ in range(MINHASH_PERMS)]
MINHASH_B = [_rng.randrange(0, 2**31 - 1) for _ in range(MINHASH_PERMS)]
del _rng


def normalized_text(col: str = "text") -> F.Column:
    """Canonical dedup key: lowercase, trimmed, whitespace-collapsed."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


def dedup_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup groups: sha2-256 of normalized text → keeper id
    (deterministic min) + duplicate count.

    Equivalent coverage to A4's `dropDuplicates`, but deterministic
    (dropDuplicates keeps an arbitrary row) and shuffle-light (hash is
    computed map-side; only the 64-hex key and id shuffle).
    """
    return (
        docs.select(
            F.sha2(normalized_text(text_col), 256).alias("text_hash"),
            F.col(id_col),
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def dedup_keep_last(
    df: DataFrame, keys: list[str], order_by: list[str]
) -> DataFrame:
    """A5: keep the last row per key under an explicit total order —
    `row_number() over (partition by keys order by order_by desc) = 1`.

    The pandas original (`load_to_snowflake.py:162`) relies on file
    arrival order; here the order is declared, so the result is stable
    under any partitioning/AQE re-plan.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(text_col: str = "text", k: int = 3) -> F.Column:
    """Distinct k-word shingles of the normalized text (array<string>).

    Built with SQL higher-order functions — replayable in the DuckDB
    oracle with list lambdas.

    Formulation (round 17, guide §1.2 per-task work): ``k`` aligned
    ``slice``s of the token array zipped with ``concat_ws`` — each
    lambda step is one two-string concat over pre-aligned elements.
    The previous ``transform(sequence(0, n-1), i -> concat_ws(
    element_at(toks, i+1), ..., element_at(toks, i+k)))`` paid k
    bounds-checked array indexings per shingle inside the interpreted
    lambda: 5–7× slower measured at sf0.1 (2.3–2.7 s → 0.33–0.50 s on
    the 1119-doc candidate set). Output arrays are ELEMENT-WISE
    identical (law-tested for k ∈ {2,3,5} plus empty/short/repeated
    adversarial docs), so every consumer — the Jaccard verify, the
    MinHash signature pipeline, the oracles — is unchanged.

    Documents with fewer than ``k`` words yield an **empty** array:
    the ``CASE WHEN`` guard keeps ``slice`` lengths from going
    negative (ANSI mode — Spark 4 default — throws on out-of-range).
    """
    toks = F.split(normalized_text(text_col), " ")
    n = F.size(toks) - F.lit(k - 1)
    acc = F.slice(toks, 1, n)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(toks, j + 1, n),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    joined = F.when(n > 0, acc).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(joined)


def minhash_signature_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = MINHASH_PERMS,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, m0..m{perms-1}) — one row per document with at least one
    shingle, carrying the full MinHash signature as plain long
    columns. The shared signature stage of :func:`minhash_bands` (LSH
    banding) and :func:`minhash_accuracy` (estimator audit).

    Stays in whole-stage codegen end-to-end: explode shingle
    *positions* to rows, hash each shingle with ordinary (vectorized)
    string expressions, and reduce the permutations as plain min()
    aggregates — higher-order functions (transform/array_min) always
    evaluate interpreted in Spark. Rows explode within the input
    partition, so the groupBy's partial aggregation computes full
    per-doc minimums map-side and the shuffle carries one
    (id, ``perms`` longs) row per document.
    """
    toks = (
        ensure_min_parallelism(docs)
        .select(
            F.col(id_col),
            F.split(normalized_text(text_col), " ").alias("toks"),
        )
        .filter(F.size("toks") >= shingle_k)  # == "has at least one shingle"
    )
    shingle = F.concat_ws(
        " ",
        *[
            F.element_at(F.col("toks"), F.col("i") + F.lit(j + 1))
            for j in range(shingle_k)
        ],
    )
    hashed = toks.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - F.lit(shingle_k))
        ).alias("i"),
        F.col("toks"),
    ).select(
        F.col(id_col),
        F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long").alias("h"),
    )
    # duplicate shingles don't change a min, so no distinct needed
    return hashed.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i]))
                % F.lit(MINHASH_P)
            ).alias(f"m{i}")
            for i in range(perms)
        ]
    )


def minhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = MINHASH_PERMS,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band_idx, band_hash) — one row per document per band.

    Documents with zero shingles (fewer than ``shingle_k`` words) are
    excluded *before* banding: their all-NULL signatures would otherwise
    collapse onto a single ``md5('')`` bucket in every band — a skew
    bomb that goes quadratic on short-doc-heavy corpora at 100 TB.
    Short docs are exact-dedup territory (`dedup_exact`), not LSH.
    """
    n_bands = perms // band_rows
    sig = minhash_signature_frame(docs, id_col, text_col, perms, shingle_k)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"m{b * band_rows + r}").cast("string")
                            for r in range(band_rows)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    # the m* columns are materialized Aggregate outputs (an optimizer
    # barrier), so referencing them per band is attribute access, not
    # expression re-evaluation
    return sig.select(F.col(id_col), F.explode(bands).alias("bd")).select(
        id_col, "bd.band_idx", "bd.band_hash"
    )


def _clone_groups(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Exact-clone grouping for the pair-family collapse pre-pass:
    rows keyed by ``sha2(normalized_text)`` (every derived signature —
    MinHash bands, SimHash fingerprint — is a pure function of the
    normalized text, so clone-group members are interchangeable).

    Returns ``(members, reps)``: members ``(_gid, id)`` for every row
    with non-NULL text; reps ``(_gid, id, text)`` — the min-id member
    per group, carrying one raw text (any member's works; ``min_by``
    keeps it deterministic). NULL-text rows never produce pairs in the
    uncollapsed operators (their tokenization is NULL), so they are
    dropped here outright. The groupBy partial-aggregates map-side:
    with clones the exchange carries one row per distinct text per
    input partition; without clones it degrades to one text shuffle —
    the price of the pre-pass, bought back quadratically on cloned
    corpora."""
    tagged = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.sha2(normalized_text(text_col), 256).alias("_gid"),
    ).filter(F.col("_gid").isNotNull())
    members = tagged.select("_gid", id_col)
    reps = tagged.groupBy("_gid").agg(
        F.min(id_col).alias(id_col),
        F.min_by(text_col, F.col(id_col)).alias(text_col),
    )
    return members, reps


#: "auto" engages the clone collapse when distinct texts make up at
#: most this fraction of rows. The pre-pass costs ~2-3 extra corpus
#: exchanges (reps groupBy + expansion joins) and pays back
#: quadratically in clone multiplicity — measured at sf0.1 (0.2%
#: clones): collapse 7.3 s vs direct 2.0 s for the MinHash pairs; at
#: the ×10 clone fixture (90% clones) the direct scan's collision
#: volume is the dominant cost. 0.9 means ">10% clone rows".
CLONE_COLLAPSE_AUTO_THRESHOLD = 0.9


def _should_collapse(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    collapse_clones: bool | str,
) -> bool:
    """Resolve the ``collapse_clones`` spec: True/False pass through;
    ``"auto"`` runs a one-exchange probe — count vs distinct-digest
    count (map-side partial aggregation; the shuffle carries one
    32-byte digest per distinct text per partition, never the text) —
    and engages when clone mass exceeds the threshold. The probe is a
    driver-side adaptive plan choice, same spirit as AQE: O(scan) to
    avoid a clone-quadratic candidate volume.

    NOTE: ``"auto"`` runs an EAGER aggregation at plan-construction
    time (an extra corpus scan, re-paid every time the caller
    re-builds the query plan — round-10 ADVICE). Callers that already
    know their corpus shape should pass True/False outright; a
    streaming frame cannot be probed at all, so ``"auto"`` falls back
    to the direct (uncollapsed) scan there."""
    if collapse_clones != "auto":
        return bool(collapse_clones)
    if docs.isStreaming:
        return False
    row = (
        docs.select(F.sha2(normalized_text(text_col), 256).alias("_gid"))
        .filter(F.col("_gid").isNotNull())
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("_gid").alias("d"),
        )
        .first()
    )
    n, d = row["n"], row["d"]
    return n > 0 and d <= CLONE_COLLAPSE_AUTO_THRESHOLD * n


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    id_col: str,
    carry: list[str] | None = None,
) -> DataFrame:
    """Re-expand group-keyed representative pairs (gid_a, gid_b) to
    doc-id pairs: every member of group A × every member of group B,
    ordered (id_a < id_b). Each doc belongs to exactly one group, so
    every output pair is produced exactly once — no DISTINCT needed
    (the heavy collision-volume shuffle the collapse removes). Cost is
    proportional to the OUTPUT pair count, which is the floor for any
    operator that must emit the pairs. ``carry`` lists rep-pair
    columns (e.g. a precomputed hamming distance — bit-identical
    across clone members) to pass through."""
    m1 = members.select(
        F.col("_gid").alias("_ga"), F.col(id_col).alias("_ia")
    )
    m2 = members.select(
        F.col("_gid").alias("_gb"), F.col(id_col).alias("_ib")
    )
    out = (
        rep_pairs.join(m1, rep_pairs["gid_a"] == m1["_ga"])
        .join(m2, rep_pairs["gid_b"] == m2["_gb"])
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            *(carry or []),
        )
    )
    return out


def _intra_group_pairs(
    members: DataFrame, id_col: str, eligible_gids: DataFrame
) -> DataFrame:
    """All (id_a < id_b) pairs inside clone groups whose shared text is
    pair-eligible (identical texts collide in every band / at Hamming
    0, so every intra-group pair is always in the uncollapsed output).
    Equi-join on the group key; singleton groups self-join to
    nothing."""
    el = members.join(eligible_gids, "_gid", "left_semi")
    m1, m2 = el.alias("m1"), el.alias("m2")
    return m1.join(
        m2,
        (F.col("m1._gid") == F.col("m2._gid"))
        & (F.col(f"m1.{id_col}") < F.col(f"m2.{id_col}")),
    ).select(
        F.col(f"m1.{id_col}").alias("id_a"),
        F.col(f"m2.{id_col}").alias("id_b"),
    )


def _minhash_pairs_scan(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    perms: int,
    band_rows: int,
    shingle_k: int,
) -> DataFrame:
    """The raw LSH band-collision pair scan (see
    :func:`dedup_minhash_pairs` for the contract). The self-join uses
    two *aliases of the same DataFrame* so both shuffle sides
    canonicalize identically and ReuseExchange computes the signature
    subtree once (renaming the id column per side before the join
    defeats the reuse and doubles the MinHash cost)."""
    bands = minhash_bands(docs, id_col, text_col, perms, band_rows, shingle_k)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    return pairs.select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    ).distinct()


def dedup_minhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = MINHASH_PERMS,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_k: int = 3,
    collapse_clones: bool | str = False,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via LSH banding.

    Join is bucketed by (band_idx, band_hash): the only pairs
    materialized are actual band collisions — never an all-pairs
    cartesian (asserted in tests via the physical plan).

    ``collapse_clones``: run the band scan over one min-id
    representative per DISTINCT normalized text, then re-expand —
    cross-group pairs by membership joins, intra-group pairs (clones
    collide in every band) directly. Output is IDENTICAL to the
    uncollapsed scan (law-tested; the SQL oracle replays the
    uncollapsed definition): identical texts have identical bands, so
    x~y collides iff rep(x)~rep(y) collides, and the per-group
    eligibility cut (≥ 1 shingle) is a function of the shared text.

    Default is OFF — measured, not assumed (round 10): on the ×10
    90%-clone fixture the direct scan counts in 4.4 s vs 10.1 s
    collapsed. MinHash band buckets are md5 hashes of 6-permutation
    slices — essentially unique per distinct near-dup set — so the
    collision volume clones create (~clones² × n_bands narrow rows
    through one DISTINCT) stays cheaper than the collapse's text
    groupBy + two expansion joins AT MODERATE MULTIPLICITY. The
    round-12 second-decade sweep pinned the crossover: at ×100 clone
    multiplicity the quadratic catches up and the collapse WINS
    (direct 26.0 s vs collapsed 18.1 s on the 500k-doc fixture,
    identical 35.63M pairs) — the flip lives between ~10 and ~100
    clones per text (BASELINE.md). Contrast
    :func:`simhash_neardup_pairs`, whose 16-bit block buckets collide
    densely and where the same pre-pass wins 9.4× at ×10 already.
    The clone-mass "auto" probe cannot see multiplicity (mass is 90%
    in both fixtures), so at crawl scale pass ``True`` when mean
    multiplicity n/distinct is deep into the tens; the option and the
    equality law make that a one-flag experiment.
    """
    if not _should_collapse(docs, id_col, text_col, collapse_clones):
        return _minhash_pairs_scan(
            docs, id_col, text_col, perms, band_rows, shingle_k
        )
    members, reps = _clone_groups(docs, id_col, text_col)
    rep_pairs = _minhash_pairs_scan(
        reps, "_gid", text_col, perms, band_rows, shingle_k
    ).select(F.col("id_a").alias("gid_a"), F.col("id_b").alias("gid_b"))
    cross = _expand_rep_pairs(rep_pairs, members, id_col)
    eligible = reps.filter(
        F.size(F.split(normalized_text(text_col), " ")) >= F.lit(shingle_k)
    ).select("_gid")
    intra = _intra_group_pairs(members, id_col, eligible)
    return cross.unionByName(intra)


def _candidate_intersections(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """The candidate-verify stage shared by :func:`ngram_jaccard_pairs`
    and :func:`ngram_containment_pairs`: every LSH candidate pair
    ``(id_a, id_b)`` with both documents' distinct k-shingle arrays
    ``sh_a``/``sh_b`` and their intersection size ``inter``.

    The candidates (read by the id union twice and the verify join)
    and the shingle arrays (one read per join side) are materialized
    once, so the corpus is scanned for the LSH pipeline and the
    shingle build only."""
    cand = materialize(
        dedup_minhash_pairs(docs, id_col, text_col, shingle_k=k)
    )
    # shingle arrays only for documents that appear in a candidate pair
    # (a left-semi prefilter): exact verification cost scales with the
    # collision volume, not the corpus — and the interpreted
    # array-building expressions run on that small set only
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = materialize(
        docs.join(cand_ids, id_col, "left_semi").select(
            F.col(id_col), shingles(text_col, k).alias("sh")
        )
    )
    return (
        cand.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact k-gram Jaccard over LSH candidate pairs only.

    Verification step after `dedup_minhash_pairs`: recompute true
    Jaccard on the candidates (set intersection over union of distinct
    shingles) and keep pairs above threshold. Cost is
    O(candidates × shingles), independent of corpus size. The same
    ``k`` is used for candidate generation and verification.

    The candidates and their shingle arrays are materialized once
    (:func:`_candidate_intersections`): lazily the plan re-reads the
    corpus 12× / shuffles 31× (PLANS.md r4); materialized, the corpus
    is scanned twice (LSH pipeline + shingle build) and the
    re-referenced frames are collision-sized. At 100 TB re-scanning the
    corpus per reference is the dominant cost, so materializing the
    KB–MB-scale candidate set is the scale-safe shape (same pattern as
    ``neardup_clusters``'s edge frame).

    Tuning history (sf0.1, local[32], best-of-3 warm): (1) persisting
    the *bands* frame broke ReuseExchange and ran 2–4× slower — the
    checkpoint here is post-join, below the self-join's exchange reuse,
    which is why it wins where that attempt lost; (2)
    replacing the bucketed self-join with a per-bucket
    ``collect_set`` + pair explosion measured 6.2–6.7 s vs 4.3–5.2 s
    for this shape — and would additionally materialize whole
    pathological buckets in executor memory where the join streams
    them; (3) pruning singleton buckets before the self-join with a
    window count over (band_idx, band_hash) measured 6.5 s vs 4.3 s —
    the window's per-partition sort costs more than shrinking the
    join input saves (the join already emits only collisions). The
    self-join plateau is evidence-backed; don't revisit without new
    measurements.
    """
    j = (
        _candidate_intersections(docs, id_col, text_col, k)
        .withColumn("uni", F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))))
        .withColumn(
            "jaccard",
            F.round(
                F.when(F.col("uni") > 0, F.col("inter") / F.col("uni")).otherwise(
                    F.lit(0.0)
                ),
                4,
            ),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


_HEX = "0123456789abcdef"


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document as a 16-char lowercase hex string.

    Each distinct token hashes to 64 bits (first 16 hex chars of md5);
    fingerprint bit *j* is 1 iff more tokens have bit *j* set than
    unset. Hamming-near fingerprints ≈ near-duplicate token sets.

    Construction works in 64-bit integer space end-to-end: the token's
    16-hex-char hash decodes into two 32-bit halves (one ``conv``
    each), and the 64 bit-votes are conditional sums over plain
    shift-and-mask tests on exploded (doc, token) rows. That avoids
    both the round-2 ``F.lit(2**63)`` decimal overflow (VERDICT r02)
    and the earlier 16-``instr``-per-token string construction
    (measured 35% slower at sf0.1 — string scans per nibble vs two
    integer conversions per token), keeps the expression tree flat for
    whole-stage codegen, scales via ordinary map-side partial
    aggregation, and produces bit-identical votes to the nibble
    formulation — so the DuckDB oracle still replays the fingerprint
    with ``md5``/``substring``/``strpos`` arithmetic unchanged.
    """
    # md5 runs inside the generator (once per token); the two conv()
    # decodes below reference the generated attribute, so the hash is
    # never duplicated per half. Moving the md5 to a plain post-explode
    # projection LOOKS like it would win codegen, but CollapseProject
    # then inlines it into each decode — one md5 per reference,
    # measured 3x slower in the nibble era. The interpreted-per-element
    # HOF behind an optimizer barrier is the cheaper evil here.
    toks = ensure_min_parallelism(docs).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.array_distinct(F.split(normalized_text(text_col), " ")),
                lambda t: F.substring(F.md5(t), 1, 16),
            )
        ).alias("h"),
    )
    halves = toks.select(
        F.col(id_col),
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("h2"),
    )

    def bitpos(p: int, b: int) -> int:
        # nibble p, bit b (value 2^(3-b)) sits at this LSB offset
        # within its 32-bit half
        return (7 - (p % 8)) * 4 + (3 - b)

    # 64 bit-votes: +1 if the bit is set, -1 if not, summed per doc.
    votes = [
        F.sum(
            F.when(
                F.shiftright(
                    F.col("h1" if p < 8 else "h2"), bitpos(p, b)
                ).bitwiseAND(F.lit(1))
                == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"v{p}_{b}")
        for p in range(16)
        for b in range(4)
    ]
    voted = halves.groupBy(id_col).agg(*votes)
    out_nibbles = [
        sum(
            F.when(F.col(f"v{p}_{b}") > 0, F.lit(2 ** (3 - b))).otherwise(F.lit(0))
            for b in range(4)
        ).alias(f"o{p}")
        for p in range(16)
    ]
    hexed = voted.select(F.col(id_col), *out_nibbles)
    fingerprint = F.concat(
        *[F.substring(F.lit(_HEX), F.col(f"o{p}") + 1, 1) for p in range(16)]
    )
    return hexed.select(F.col(id_col), fingerprint.alias("simhash"))


def neardup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iters: int = 15,
    perms: int = MINHASH_PERMS,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate *clusters*: connected components over the LSH
    candidate-pair graph, labeling every document with the minimum doc
    id of its component — the step that turns pairwise matches into
    the keep-one-per-group dedup decision. Output:
    (id, cluster_id, is_canonical) for every document; singletons are
    their own canonical cluster.

    Iterative min-label propagation (the Pregel pattern, declaratively):
    each round joins labels to the symmetric edge list and takes the
    per-vertex min over self + neighbors; converges in O(component
    diameter) rounds — near-dup components are small cliques, so
    usually 2-3. Each round is one equi-join + one partial-aggregated
    groupBy; ``localCheckpoint`` truncates the growing lineage, which
    is what keeps a 100-iteration run planable at scale. The driver
    only ever sees one integer per round (the changed-label count used
    as the fixpoint test). Raises if ``max_iters`` rounds don't
    converge rather than returning wrong labels.

    Oracle-checked against a DuckDB recursive CTE computing the
    transitive closure of the same edge set (exact, engine-portable —
    closure size is bounded by sum of component sizes squared, fine at
    validation scale; the label-propagation side is the one that
    scales).
    """
    pairs = dedup_minhash_pairs(
        docs, id_col, text_col, perms, band_rows, shingle_k
    )
    edges = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionByName(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    # edges are reused every round: materialize once, free the lineage
    edges = materialize(edges)
    labels = docs.select(F.col(id_col).alias("u"), F.col(id_col).alias("label"))
    for _ in range(max_iters):
        nbr_labels = edges.join(
            labels.select(F.col("u").alias("v"), F.col("label")), "v"
        ).select("u", "label")
        new_labels = materialize(
            labels.unionByName(nbr_labels)
            .groupBy("u")
            .agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "u")
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(
                F.col("u").alias(id_col),
                F.col("label").alias("cluster_id"),
                (F.col("label") == F.col("u")).alias("is_canonical"),
            )
    raise RuntimeError(
        f"neardup_clusters: no fixpoint after {max_iters} rounds "
        "(component diameter exceeds max_iters — raise it)"
    )


def dedup_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **cluster_kwargs,
) -> DataFrame:
    """The end-to-end near-dup dedup decision applied: keep exactly one
    document (the minimum-id canonical) per near-duplicate cluster and
    every singleton — the cleaned-corpus output a training pipeline
    actually consumes, composed from :func:`neardup_clusters`.

    Returns the input rows (all columns) for canonical documents only.
    The keep-set is a left-semi join on the id, so no document payload
    is shuffled through the clustering — only (id, label) pairs."""
    clusters = neardup_clusters(docs, id_col, text_col, **cluster_kwargs)
    keep = clusters.filter(F.col("is_canonical")).select(id_col)
    return docs.join(keep, id_col, "left_semi")


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    collapse_clones: bool | str = "auto",
) -> DataFrame:
    """SimHash near-duplicate pairs: (id_a < id_b, hamming ≤
    ``max_hamming``) over the 64-bit fingerprints — the pair-extraction
    step that completes the SimHash tier (fingerprints alone don't
    dedup anything).

    Candidates come from 4-block banding (Manku et al., WWW'07): the
    fingerprint splits into four 16-bit blocks; by pigeonhole, any pair
    within Hamming distance 3 agrees on at least one whole block, so
    the block-equality join has **exact recall** for ``max_hamming ≤
    3`` while joining on 16-bit bucket keys instead of all pairs (cost
    Σ bucket², never corpus²; same scale shape as the MinHash band
    join). The exact Hamming distance — a per-nibble XOR popcount, all
    codegen integer ops — then trims false candidates.

    For ``max_hamming > 3`` recall becomes approximate (documented, not
    silent: a ValueError forces the caller to acknowledge via
    ``allow_partial_recall`` — kept simple here by refusing).

    ``collapse_clones`` (default ``"auto"``, see
    :func:`_should_collapse`): identical normalized texts have
    identical fingerprints, so the block scan runs over one min-id
    representative per distinct text, then re-expands — cross-group
    pairs carry the representative pair's hamming (bit-identical for
    every clone member), intra-group pairs are hamming 0 by
    definition. Output IDENTICAL to the uncollapsed scan (law-tested;
    the SQL oracle replays the uncollapsed definition). This kills the
    clone-quadratic block-collision volume + DISTINCT that made this
    the slowest ×10 query — SimHash's 16-bit block buckets (65536 per
    block) collide densely, so clone mass multiplies an already-large
    collision volume. Measured on the ×10 90%-clone fixture (round
    10): 27.5 s collapsed vs 258.5 s direct, same 16,851,700 output
    pairs — 9.4×. The candidate scan now grows with distinct texts,
    the expansion with output size; the auto probe keeps clone-light
    corpora on the direct scan (21.3 s vs 24.4 s at sf0.1).

    The ``"auto"`` probe is an EAGER one-exchange corpus scan at
    plan-construction time, re-paid on every re-build of the plan;
    callers that know their clone mass should pass True/False, and a
    streaming input always takes the direct scan (a stream cannot be
    probed).
    """
    if max_hamming > 3:
        raise ValueError(
            "simhash_neardup_pairs: 4-block banding guarantees recall only "
            f"for max_hamming <= 3 (got {max_hamming}); raise the block "
            "count or use dedup_minhash_pairs for looser similarity"
        )
    if _should_collapse(docs, id_col, text_col, collapse_clones):
        members, reps = _clone_groups(docs, id_col, text_col)
        rep_pairs = simhash_neardup_pairs(
            reps, max_hamming, "_gid", text_col, collapse_clones=False
        ).select(
            F.col("id_a").alias("gid_a"),
            F.col("id_b").alias("gid_b"),
            "hamming",
        )
        cross = _expand_rep_pairs(
            rep_pairs, members, id_col, carry=["hamming"]
        )
        intra = _intra_group_pairs(
            members, id_col, reps.select("_gid")
        ).withColumn("hamming", F.lit(0))
        return cross.unionByName(intra)
    fp = simhash(docs, id_col=id_col, text_col=text_col)
    blocks = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_idx"),
                        F.substring("simhash", 4 * b + 1, 4).alias("block"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bd"),
    ).select(id_col, "simhash", "bd.block_idx", "bd.block")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = a.join(
        b,
        (F.col("a.block_idx") == F.col("b.block_idx"))
        & (F.col("a.block") == F.col("b.block"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.simhash").alias("sh_a"),
        F.col("b.simhash").alias("sh_b"),
    ).distinct()
    nib = lambda col, i: (  # noqa: E731
        F.instr(F.lit(_HEX), F.substring(col, i + 1, 1)) - F.lit(1)
    ).cast("bigint")
    hamming = sum(
        F.bit_count(nib("sh_a", i).bitwiseXOR(nib("sh_b", i)))
        for i in range(16)
    )
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def incremental_neardup(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = MINHASH_PERMS,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_k: int = 3,
) -> DataFrame:
    """Incremental near-dup screen: which NEW documents collide with
    the EXISTING corpus — the per-batch dedup a growing 100 TB corpus
    actually runs (re-clustering everything per crawl is the naive
    O(total²-ish) alternative; this touches only new × collision
    volume).

    Both sides band with the same MinHash constants, so a new batch
    can also join PRE-COMPUTED corpus bands at rest (the signature
    table is the dedup index — write it once per corpus version, cf.
    `similarity.ivf_write_index`). The equi-join on (band_idx,
    band_hash) materializes only collisions; output is one row per
    (new id, corpus id) candidate with the collision strength (shared
    bands of {perms//band_rows}).
    """
    nb = minhash_bands(new_docs, id_col, text_col, perms, band_rows, shingle_k)
    cb = minhash_bands(corpus, id_col, text_col, perms, band_rows, shingle_k)
    pairs = nb.alias("n").join(
        cb.alias("c"),
        (F.col("n.band_idx") == F.col("c.band_idx"))
        & (F.col("n.band_hash") == F.col("c.band_hash")),
    )
    return (
        pairs.select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("shared_bands"))
    )


def write_dedup_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = MINHASH_PERMS,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_k: int = 3,
) -> None:
    """Materialize the corpus's MinHash band signatures as parquet —
    the dedup index at rest (cf. `similarity.ivf_write_index`). A new
    crawl then screens against the index with
    :func:`incremental_neardup_indexed` WITHOUT re-hashing 100 TB of
    existing documents: per-batch cost becomes hash(new) + join, and
    the index only ever appends (band rows of already-indexed docs
    never change). One corpus scan, shuffle-free write."""
    minhash_bands(corpus, id_col, text_col, perms, band_rows, shingle_k).write.mode(
        "overwrite"
    ).parquet(path)


def incremental_neardup_indexed(
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = MINHASH_PERMS,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_k: int = 3,
) -> DataFrame:
    """:func:`incremental_neardup` against a pre-built at-rest index:
    band only the NEW batch, equi-join the stored band table. Result
    is bit-identical to banding the corpus live (same constants →
    same signatures) — the oracle contract that lets the driver check
    the indexed path against the from-scratch SQL."""
    spark = new_docs.sparkSession
    cb = spark.read.parquet(index_path)
    nb = minhash_bands(new_docs, id_col, text_col, perms, band_rows, shingle_k)
    pairs = nb.alias("n").join(
        cb.alias("c"),
        (F.col("n.band_idx") == F.col("c.band_idx"))
        & (F.col("n.band_hash") == F.col("c.band_hash")),
    )
    return (
        pairs.select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("shared_bands"))
    )


def minhash_accuracy(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = MINHASH_PERMS,
    shingle_k: int = 3,
) -> DataFrame:
    """Estimator audit for the MinHash pipeline: for every LSH
    candidate pair, the signature-estimated Jaccard (fraction of
    matching permutations — exact multiples of 1/perms) next to the
    TRUE shingle Jaccard, with the absolute error. The sketch-quality
    harness that tells you whether ``perms`` is sized right before a
    100 TB dedup run — the MinHash analogue of the ANN ``recall@k``
    evaluation query.

    Cost ∝ collision volume, never corpus²: candidates come from the
    banded self-join, signatures and shingle arrays are built only
    for candidate ids (left-semi prefilter), and the candidate set is
    materialized once (three consumers — same rationale as
    :func:`ngram_jaccard_pairs`).
    """
    cand = materialize(
        dedup_minhash_pairs(docs, id_col, text_col, shingle_k=shingle_k)
    )
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    hit = materialize(docs.join(cand_ids, id_col, "left_semi"))
    sig = minhash_signature_frame(hit, id_col, text_col, perms, shingle_k)
    sh = hit.select(F.col(id_col), shingles(text_col, shingle_k).alias("sh"))
    sig_a = sig.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(perms)],
    )
    sig_b = sig.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(perms)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(perms)
    )
    est = (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(matches / F.lit(float(perms)), 6).alias("est_jaccard"),
        )
    )
    truth = (
        cand.join(
            sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a"
        )
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            F.size(F.array_union("sh_a", "sh_b")).alias("uni"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.when(
                    F.col("uni") > 0, F.col("inter") / F.col("uni")
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("true_jaccard"),
        )
    )
    return est.join(truth, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        "est_jaccard",
        "true_jaccard",
        F.round(
            F.abs(F.col("est_jaccard") - F.col("true_jaccard")), 6
        ).alias("abs_err"),
    )


def cluster_aware_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: list[tuple[str, float]] | None = None,
) -> DataFrame:
    """Leakage-safe train/val/test split: the hash-range split of
    ``sampling.hash_split``, but keyed on the near-dup CLUSTER id
    instead of the document id — every member of a near-duplicate
    component lands in the SAME split. Splitting near-identical
    documents across train and eval silently inflates benchmark
    scores; this is the split a serious LLM-data pipeline actually
    needs, and the reason :func:`neardup_clusters` exists upstream of
    sharding. Singletons fall back to their own id, so the split
    remains ~weight-proportional.

    Output: (id, split_key, bucket, split). Same zero-shuffle split
    decision once the cluster labels exist; cluster labeling cost is
    the LSH pipeline (collision-bounded, never corpus²).
    """
    from real_time_stock_market_data_pipeline__spark.operators.sampling import (
        HASH_BUCKETS,
        hash_bucket,
    )

    weights = weights or [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    clusters = neardup_clusters(docs, id_col, text_col)
    labeled = docs.select(id_col).join(
        clusters.select(id_col, "cluster_id"), id_col, "left"
    )
    key = F.coalesce(F.col("cluster_id"), F.col(id_col))
    b = hash_bucket(key, HASH_BUCKETS)
    expr = F.lit(weights[-1][0])
    cum = 0.0
    thresholds = []
    for label, w in weights[:-1]:
        cum += w
        thresholds.append((label, int(cum * HASH_BUCKETS)))
    for label, t in reversed(thresholds):
        expr = F.when(b < t, F.lit(label)).otherwise(expr)
    return labeled.select(
        F.col(id_col),
        key.alias("split_key"),
        b.alias("bucket"),
        expr.alias("split"),
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT over LSH candidate pairs:
    |A∩B|/|A| and |A∩B|/|B| — the quote-inclusion detector. A short
    document pasted inside a long one has low symmetric Jaccard
    (union is large) but containment ≈ 1 on the short side, which is
    exactly the near-dup class :func:`ngram_jaccard_pairs` under-
    reports. Pairs are kept when EITHER side's containment clears the
    threshold.

    Same scale shape as the Jaccard verify, through the same
    candidate-verify stage (:func:`_candidate_intersections`). Cost ∝
    collision volume.
    """
    j = (
        _candidate_intersections(docs, id_col, text_col, k)
        .withColumn("n_a", F.size(F.array_distinct(F.col("sh_a"))))
        .withColumn("n_b", F.size(F.array_distinct(F.col("sh_b"))))
    )
    cont_a = F.round(
        F.when(F.col("n_a") > 0, F.col("inter") / F.col("n_a")).otherwise(
            F.lit(0.0)
        ),
        4,
    )
    cont_b = F.round(
        F.when(F.col("n_b") > 0, F.col("inter") / F.col("n_b")).otherwise(
            F.lit(0.0)
        ),
        4,
    )
    out = j.select(
        "id_a",
        "id_b",
        cont_a.alias("containment_a"),
        cont_b.alias("containment_b"),
    )
    return out.filter(
        (F.col("containment_a") >= threshold)
        | (F.col("containment_b") >= threshold)
    )


def substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_words: int = 8,
    emit_text: bool = False,
) -> DataFrame:
    """Exact substring-level dedup à la Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): remove REPEATED PASSAGES from documents, not whole
    documents — the one major public LLM-dedup technique the exact/
    MinHash/SimHash/semantic family here didn't yet cover. The paper
    finds 50-token duplicate substrings with a suffix array; the
    distributed re-expression segments each document into
    NON-OVERLAPPING ``n_words``-word blocks and keeps, for every
    distinct block value, only its globally FIRST occurrence (lowest
    ``(doc_id, block position)``) — every later instance, within or
    across documents, is dropped, and each document is reconstructed
    from its surviving blocks in position order.

    A suffix array is inherently a single-machine structure; block
    granularity trades boundary-straddling repeats (an overlapping
    duplicate shifted by <n_words words is missed) for a shape that is
    pure DataFrame algebra: one explode, one block-keyed window (the
    shuffle carries (block, doc, pos) — block values hash-distribute,
    so clone-heavy corpora skew no worse than the word distribution),
    one doc-keyed rebuild. Cost is O(total words), never quadratic,
    and no suffix structure is materialized.

    Output per document: ``n_blocks``, ``n_kept``, and
    ``dedup_text_md5`` — the md5 of the surviving blocks joined by a
    single space (the reconstruction itself, digest-pinned so the
    oracle verifies every byte without shipping long strings through
    the compare). ``emit_text=True`` swaps the digest for the raw
    rewritten ``dedup_text`` — the form a pipeline consumes
    (``jobs.corpus_pipeline``'s ExactSubstr stage).
    """
    blocks = _doc_blocks(docs, id_col, text_col, n_words)
    first = Window.partitionBy("block").orderBy(id_col, "pos")
    ranked = blocks.withColumn(
        "keep", (F.row_number().over(first) == 1)
    )
    return _rebuild_docs(ranked, id_col, emit_text=emit_text)


def _doc_blocks(
    docs: DataFrame, id_col: str, text_col: str, n_words: int
) -> DataFrame:
    """Segment each non-NULL document into non-overlapping
    ``n_words``-word blocks: one row per ``(id, pos, block)`` instance
    — the shared front of :func:`substring_dedup` and its
    index-at-rest twins. Pure explode, stays in partition."""
    words = F.split(F.col(text_col), " ")
    n_blocks = F.ceil(F.size(words) / F.lit(float(n_words))).cast("int")
    return docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_blocks - 1),
                lambda i: F.array_join(
                    F.slice(words, i * n_words + 1, n_words), " "
                ),
            )
        ).alias("pos", "block"),
    )


def _rebuild_docs(
    flagged: DataFrame, id_col: str, emit_text: bool = False
) -> DataFrame:
    """Rebuild per-document stats from a ``(id, pos, block, keep)``
    frame: block/kept counts and the surviving blocks joined in
    position order — digest-pinned by default (``dedup_text_md5``,
    the oracle-friendly form) or as the raw rewritten ``dedup_text``
    when ``emit_text`` (the pipeline-consumer form; see
    ``jobs.corpus_pipeline``) — the shared tail of the
    substring-dedup family."""
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("pos"), F.col("block"))
    )
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(kept_struct)),
            lambda s: s["block"],
        ),
        " ",
    )
    out_name = "dedup_text" if emit_text else "dedup_text_md5"
    out_col = (rebuilt if emit_text else F.md5(rebuilt)).alias(out_name)
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.col("keep").cast("int")).alias("n_kept"),
            out_col,
        )
        .select(id_col, "n_blocks", "n_kept", out_name)
    )


def hex_prefix(hex_col: str) -> F.Column:
    """Prune key of the hex-digest side tables (block digests, LSH
    bands): ``"p"`` + the digest's first two hex chars, 256 values.
    The letter keeps hive partition-type inference on STRING — an
    all-digit directory set would otherwise infer INT and make a later
    hex value like 'f9' fail the ANSI isin cast (found by the two-sink
    crash test)."""
    return F.concat(F.lit("p"), F.substring(hex_col, 1, 2))


def write_block_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_words: int = 8,
    partitioned: bool = False,
) -> None:
    """Materialize the corpus's DISTINCT block digests at rest — the
    ExactSubstr screen set (cf. :func:`write_dedup_index` for the
    MinHash twin). A later crawl screens against it WITHOUT
    re-segmenting the stored corpus: per-batch cost is segment(new) +
    one equi-join against digest rows (16-byte md5 each, ~vocabulary-
    sized after DISTINCT — orders of magnitude smaller than the text).
    One corpus scan + one distinct shuffle.

    ``partitioned=True`` lays the digests out
    ``partitionBy(pfx)`` (:func:`hex_prefix`) and adds PROVENANCE columns
    ``(first_id, first_pos)`` — the (id, pos) of the digest's first
    occurrence. Provenance is what makes the streaming ingest's
    checkpoint replay idempotent: a replayed batch sees its OWN kept
    digests in the index, and without provenance would kill its own
    blocks and rewrite its documents to empty (found by the crash
    test); with it, a stored digest whose provenance matches the row
    is treated as unseen. This is the GROWING form
    :func:`streaming.pipeline.stream_substring_ingest` maintains —
    round-15: with ``bp=<batch_id>`` subpartitions nested inside the
    prefix cells (a batch's KEPT digests are unseen by construction,
    so they are new keys and the ingest APPENDS them — O(batch)
    writes; the provenance rule above makes a replay recompute the
    identical partition; ``bp=-1`` is this base build). The flat form
    is the cheapest read for a one-shot screen. Readers handle every
    layout (they join on ``block_md5`` and use provenance only when
    present)."""
    blocks = _doc_blocks(corpus, id_col, text_col, n_words)
    if partitioned:
        from real_time_stock_market_data_pipeline__spark.sinks import (
            BASE_BP,
            append_batch_partition,
        )

        w = Window.partitionBy("block_md5").orderBy(id_col, "pos")
        digests = (
            blocks.withColumn("block_md5", F.md5("block"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "block_md5",
                F.col(id_col).alias("first_id"),
                F.col("pos").alias("first_pos"),
                hex_prefix("block_md5").alias("pfx"),
            )
        )
        append_batch_partition(digests, path, BASE_BP, "pfx")
    else:
        blocks.select(F.md5("block").alias("block_md5")).distinct(
        ).write.mode("overwrite").parquet(path)


def substring_dedup_incremental(
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_words: int = 8,
    emit_text: bool = False,
) -> DataFrame:
    """:func:`substring_dedup` for the crawl shape: screen a NEW batch
    against an at-rest block-digest index (:func:`write_block_index`)
    — a batch block instance survives iff its block is absent from
    the stored corpus AND it is the first occurrence within the batch
    (lowest ``(id, pos)``); documents are rebuilt from survivors as in
    the batch operator.

    Equivalence law (tested + oracle): with the index built on corpus
    C and ids(C) < ids(B), the result over batch B equals
    ``substring_dedup(C ∪ B)`` restricted to B's documents — stored
    blocks always outrank arriving ones, the same arrival-ordered
    semantics as ``incremental_neardup_indexed`` and the streaming
    screen. A block present in C kills ALL its B instances, so the
    intra-batch first-occurrence rank over index-surviving blocks
    equals the global rank.

    Scale: segment(new batch) + one hash equi-join against the digest
    index + one block-keyed window over BATCH blocks only — the stored
    corpus is never re-read beyond its digest set."""
    spark = new_docs.sparkSession
    idx = spark.read.parquet(index_path)
    flagged = _substring_screen(new_docs, idx, id_col, text_col, n_words)
    return _rebuild_docs(flagged, id_col, emit_text=emit_text)


def _substring_screen(
    new_docs: DataFrame,
    idx: DataFrame,
    id_col: str,
    text_col: str,
    n_words: int,
) -> DataFrame:
    """Screen stage shared by :func:`substring_dedup_incremental` and
    the streaming ingest: returns the batch's
    ``(id, pos, block, block_md5, keep)`` frame — keep iff the block
    digest is absent from ``idx`` AND this is its first (id, pos)
    instance within the batch.

    When ``idx`` carries provenance columns ``(first_id, first_pos)``
    (the ``write_block_index(partitioned=True)`` layout), a stored
    digest whose provenance equals the row's own (id, pos) counts as
    UNSEEN — the property that makes a checkpoint replay of a batch
    that already wrote its digests idempotent instead of
    self-destructive (the replayed batch would otherwise kill its own
    kept blocks; found by the two-sink crash test)."""
    blocks = _doc_blocks(new_docs, id_col, text_col, n_words).withColumn(
        "block_md5", F.md5("block")
    )
    if "first_id" in idx.columns:
        # "stored" means stored BY SOMEONE ELSE: a provenance self-match
        # re-qualifies the row for the intra-batch rank below (where it
        # deterministically re-wins rn=1 — the batch content is
        # identical on replay)
        stored_elsewhere = idx.select(
            "block_md5",
            F.col("first_id").alias("_fid"),
            F.col("first_pos").alias("_fpos"),
        )
        joined = blocks.join(stored_elsewhere, "block_md5", "left")
        not_stored = joined.filter(
            F.col("_fid").isNull()
            | ((F.col("_fid") == F.col(id_col))
               & (F.col("_fpos") == F.col("pos")))
        ).drop("_fid", "_fpos")
    else:
        # digest-only index: plain absence screen
        not_stored = blocks.join(
            idx.select("block_md5"), "block_md5", "left_anti"
        )
    # ...and first within the batch (rank only among not-stored rows:
    # a stored block kills every batch instance, so ranks agree)
    w = Window.partitionBy("block_md5").orderBy(id_col, "pos")
    kept = (
        not_stored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "pos")
        .withColumn("keep", F.lit(True))
    )
    return blocks.join(kept, [id_col, "pos"], "left").fillna(
        False, subset=["keep"]
    )


def neardup_screen_bands(
    new_docs: DataFrame,
    corpus_bands: DataFrame,
    prior_bands: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = MINHASH_PERMS,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_k: int = 3,
    broadcast_batch: bool = True,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Arrival-ordered near-dup VERDICT over a new batch against
    pre-banded history: one row per new document with
    ``(n_corpus_dups, n_prior_dups, dup)``.

    Semantics (the crawl-ingest contract shared with
    :func:`streaming.pipeline.stream_neardup_ingest`):

    - a document is a duplicate iff it shares ≥1 LSH band with the
      corpus (``corpus_bands`` — any owner), OR with an earlier
      arrival — a band row in ``prior_bands`` or in this batch whose
      owner id is strictly LOWER than the document's own id;
    - the strict ``<`` makes the rule self-provenance-safe: a replayed
      batch whose own bands already landed in the prior-band index
      cannot kill itself (owner ≥ me is ignored), the same
      replay-self-destruction guard the ExactSubstr service uses;
    - because EVERY arrival's bands enter history (kept or not),
      draining batches B1..Bn equals one screen of their concatenation
      — transitive clone chains (B dies to A, C collides only with B)
      still collapse to the single first arrival, matching
      cluster-min-keep on chain-shaped collision graphs.

    Shape at 100 TB: band the batch once (explode in place), two
    band-key equi-joins (collision volume only, never all-pairs),
    two count-distinct aggregates over batch-sized frames, one
    broadcast-back to the batch ids. Documents with zero shingles
    (< shingle_k words) have no bands and pass through as non-dups —
    they are :func:`dedup_exact` territory.

    ``new_bands`` (round 16): the batch's own band frame, if the
    caller already holds it materialized — the streaming services
    band the batch for their index append (localCheckpoint'ed there)
    and previously paid the full MinHash pipeline (shingle explode +
    ``perms`` min-aggs) again for each of this function's THREE uses
    of ``nb`` (corpus-hit probe, prior-hit probe/seen union). Must be
    exactly ``minhash_bands(new_docs, id_col, text_col, perms,
    band_rows, shingle_k)``. When absent the bands are built lazily
    in place — deliberately NOT localCheckpoint'ed here: the one-shot
    batch form is a registered query and a checkpoint would turn its
    PLANS.md leaves into ``Scan ExistingRDD``, erasing the scan/join
    evidence (the documented round-9 localCheckpoint lesson).
    """
    if new_bands is not None:
        # cheap contract assert (round-16 ADVICE): the override must
        # carry exactly the minhash_bands output columns for this
        # id_col — a frame banded with different id/text columns would
        # otherwise silently produce wrong verdicts. perms/band_rows/
        # shingle_k are IGNORED when new_bands is supplied (they are
        # baked into the caller's frame); schema cannot detect a
        # mismatch there, so the requirement stays on the caller.
        expected = {id_col, "band_idx", "band_hash"}
        if set(new_bands.columns) != expected:
            raise ValueError(
                "new_bands must be minhash_bands(new_docs, "
                f"{id_col!r}, ...) output with columns {sorted(expected)}; "
                f"got {sorted(new_bands.columns)}"
            )
    nb = (
        new_bands
        if new_bands is not None
        else minhash_bands(
            new_docs, id_col, text_col, perms, band_rows, shingle_k
        )
    )
    seen = (
        nb if prior_bands is None
        else prior_bands.select(
            F.col(id_col), F.col("band_idx"), F.col("band_hash")
        ).unionByName(nb)
    )
    # the batch side is micro-batch-bounded while the band history is
    # corpus-sized: broadcast the batch bands so the history streams
    # map-side past them and is never shuffled per batch. The hint
    # holds ONLY under the streaming micro-batch contract —
    # ``broadcast_batch=False`` (the one-shot :func:`neardup_screen`
    # path, where the "batch" can be a corpus-sized frame) drops every
    # forced broadcast and lets AQE pick the join strategy instead of
    # risking a driver OOM on an unbounded build side (round-13
    # ADVICE)
    _hint = F.broadcast if broadcast_batch else (lambda df: df)
    corpus_hits = (
        _hint(nb.alias("n"))
        .join(
            corpus_bands.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_hash") == F.col("c.band_hash")),
        )
        .groupBy(F.col(f"n.{id_col}").alias(id_col))
        .agg(F.count_distinct(F.col(f"c.{id_col}")).alias("n_corpus_dups"))
    )
    prior_hits = (
        _hint(nb.alias("n"))
        .join(
            seen.alias("p"),
            (F.col("n.band_idx") == F.col("p.band_idx"))
            & (F.col("n.band_hash") == F.col("p.band_hash"))
            & (F.col(f"p.{id_col}") < F.col(f"n.{id_col}")),
        )
        .groupBy(F.col(f"n.{id_col}").alias(id_col))
        .agg(F.count_distinct(F.col(f"p.{id_col}")).alias("n_prior_dups"))
    )
    return (
        new_docs.select(F.col(id_col))
        .join(_hint(corpus_hits), id_col, "left")
        .join(_hint(prior_hits), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_corpus_dups"), F.lit(0))
            .cast("long")
            .alias("n_corpus_dups"),
            F.coalesce(F.col("n_prior_dups"), F.lit(0))
            .cast("long")
            .alias("n_prior_dups"),
            (
                F.coalesce(F.col("n_corpus_dups"), F.lit(0))
                + F.coalesce(F.col("n_prior_dups"), F.lit(0))
                > 0
            ).alias("dup"),
        )
    )


def neardup_screen(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = MINHASH_PERMS,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_k: int = 3,
) -> DataFrame:
    """:func:`neardup_screen_bands` with the corpus banded live — the
    one-shot form; a standing deployment bands the corpus once with
    :func:`write_dedup_index` and passes the stored table. Here the
    "batch" is an arbitrary frame (it can be corpus-sized), so the
    micro-batch broadcast hint is dropped and AQE picks the join
    strategy."""
    return neardup_screen_bands(
        new_docs,
        minhash_bands(corpus, id_col, text_col, perms, band_rows, shingle_k),
        None,
        id_col,
        text_col,
        perms,
        band_rows,
        shingle_k,
        broadcast_batch=False,
    )
