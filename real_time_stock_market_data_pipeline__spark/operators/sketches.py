"""Distributed cardinality sketches.

``approx_count_distinct`` (HLL++) is Spark's native estimator, but its
sketch bytes are implementation-specific — no external engine can
replay them. The KMV (k-minimum-values) estimator here is chosen
because it is *deterministic and engine-portable*: hash each key with
md5, keep the k smallest hash values per group, and estimate
``(k−1) / u_k`` where ``u_k`` is the k-th smallest hash normalized to
[0,1) (Bar-Yossef et al. 2002). Same hashes → same estimate in any
engine, so the whole sketch is oracle-checkable bit-for-bit — and the
estimate's deviation from the exact count is itself a checked output.

Scale shape: one distinct-shuffle on (group, hash) — map-side partial
dedup — then one per-group sort feeding a single conditional aggregate
that produces the exact count AND the sketch in the same pass. (The
exact-count column is what keeps the full ranking alive; drop it and
an ``rn <= k`` filter plans as WindowGroupLimit with O(k) state. The
paired form is deliberate: the sketch's error is a checked output.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark.session import materialize

#: 2^60 — hashes are the first 15 hex chars of md5 (60 bits), so
#: ``h / 2^60`` is uniform in [0,1). Exactly representable as a double.
_HASH_SPACE = float(1 << 60)


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group distinct-count estimate via the k-minimum-values
    sketch, alongside the exact count and the relative error.

    Returns one row per group: ``n_exact`` (exact distinct count of
    key *hashes* — md5 collisions merge identically in every engine),
    ``n_est`` (the KMV estimate; equals ``n_exact`` when the group has
    fewer than k keys), and ``rel_err``.
    """
    h = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h")
    )
    hashes = df.select(F.col(group_col).alias("grp"), h).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    ranked = hashes.select("grp", "h", F.row_number().over(w).alias("rn"))
    in_k = F.col("rn") <= k
    n_exact = F.count(F.lit(1))
    n_seen = F.max(F.when(in_k, F.col("rn")))
    kth = F.max(F.when(in_k, F.col("h")))
    u_k = kth.cast("double") / F.lit(_HASH_SPACE)
    est = F.when(n_seen < k, n_seen.cast("double")).otherwise(
        F.lit(float(k - 1)) / u_k
    )
    return ranked.groupBy("grp").agg(
        n_exact.alias("n_exact"),
        F.round(est, 4).alias("n_est"),
        F.round(F.abs(est - n_exact) / n_exact, 4).alias("rel_err"),
    )


def kmv_set_ops(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 64,
) -> DataFrame:
    """Pairwise set-operation estimates between every two groups from
    their KMV sketches: union cardinality via the combined k-min
    sketch, Jaccard via the fraction of the combined sketch's k
    smallest hashes present in BOTH input sketches (Beyer et al. 2007)
    — alongside the exact values, so the estimator's error is itself a
    checked output (same contract as :func:`kmv_distinct`).

    Returns one row per unordered group pair (grp_a < grp_b):
    ``union_exact``, ``union_est``, ``inter_exact``, ``jaccard_exact``,
    ``jaccard_est``.

    Scale shape: the fact table is touched once (distinct hash
    shuffle). Sketches are O(k) per group, so every pairwise stage
    runs on k·G rows, not data rows; the group-pair frame is built
    with a constant-key broadcast equi-join (plans as
    BroadcastHashJoin, never a cartesian). The exact intersection is
    one hash-equi self-join whose cost is the true overlap volume —
    drop the exact columns at very large G and the whole operator is
    sketch-only.
    """
    h = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h")
    )
    # One row per (group, distinct key-hash), consumed by five stages
    # (k-min ranking, counts, both sides of the exact intersection,
    # group enumeration). localCheckpoint materializes it once so the
    # fact table is scanned a single time — without it the plan
    # re-reads the source five times (measured in PLANS.md; same
    # rationale as the ngram_jaccard candidate checkpoint).
    hashes = materialize(df.select(F.col(group_col).alias("grp"), h).distinct())
    w = Window.partitionBy("grp").orderBy("h")
    kmins = (
        hashes.select("grp", "h", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= k)
        .select("grp", "h")
    )
    counts = hashes.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))

    # The group-pair frame is an index-build step: one row per group
    # (G is the cardinality of the sketching attribute, bounded by
    # design — same rationale as the IVF centroid collect). A joined
    # construction would need a `<` predicate that Catalyst folds into
    # a BroadcastNestedLoopJoin; enumerating G(G-1)/2 pairs on the
    # driver keeps every distributed stage an equi-join.
    from pyspark.sql import types as T

    grp_type = hashes.schema["grp"].dataType
    grp_vals = sorted(r.grp for r in hashes.select("grp").distinct().collect())
    pair_schema = T.StructType(
        [T.StructField("grp_a", grp_type), T.StructField("grp_b", grp_type)]
    )
    pairs = df.sparkSession.createDataFrame(
        [(a, b) for i, a in enumerate(grp_vals) for b in grp_vals[i + 1 :]],
        pair_schema,
    )
    pairs_long = pairs.select(
        "grp_a", "grp_b", F.explode(F.array("grp_a", "grp_b")).alias("member")
    )

    comb = (
        F.broadcast(pairs_long)
        .join(kmins, F.col("member") == F.col("grp"))
        .groupBy("grp_a", "grp_b", "h")
        .agg(
            F.max(F.when(F.col("grp") == F.col("grp_a"), 1).otherwise(0)).alias(
                "in_a"
            ),
            F.max(F.when(F.col("grp") == F.col("grp_b"), 1).otherwise(0)).alias(
                "in_b"
            ),
        )
    )
    wp = Window.partitionBy("grp_a", "grp_b").orderBy("h")
    ranked = comb.select(
        "grp_a", "grp_b", "h", "in_a", "in_b", F.row_number().over(wp).alias("rn")
    ).where(F.col("rn") <= k)
    k_used = F.max("rn")
    kth = F.max("h")
    union_est = F.when(k_used < k, k_used.cast("double")).otherwise(
        F.lit(float(k - 1)) / (kth.cast("double") / F.lit(_HASH_SPACE))
    )
    sketch = ranked.groupBy("grp_a", "grp_b").agg(
        F.round(union_est, 4).alias("union_est"),
        F.round(
            F.sum(
                F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
            ).cast("double")
            / k_used,
            4,
        ).alias("jaccard_est"),
    )

    ha = hashes.select(F.col("grp").alias("grp_a"), "h")
    hb = hashes.select(F.col("grp").alias("grp_b"), "h")
    inter = (
        ha.join(hb, ["h"])
        .where(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).alias("inter_exact"))
    )
    ca = counts.select(F.col("grp").alias("grp_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("grp").alias("grp_b"), F.col("n").alias("n_b"))
    out = (
        sketch.join(inter, ["grp_a", "grp_b"], "left")
        .join(F.broadcast(ca), "grp_a")
        .join(F.broadcast(cb), "grp_b")
        .withColumn("inter_exact", F.coalesce("inter_exact", F.lit(0)))
    )
    union_exact = F.col("n_a") + F.col("n_b") - F.col("inter_exact")
    return out.select(
        "grp_a",
        "grp_b",
        union_exact.alias("union_exact"),
        "union_est",
        "inter_exact",
        F.round(
            F.col("inter_exact").cast("double") / union_exact, 4
        ).alias("jaccard_exact"),
        "jaccard_est",
    )


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_col: str,
    b: int = 8,
) -> DataFrame:
    """The HLL register relation behind :func:`hll_distinct`: one row
    per (group, bucket) with the register value ``m_j`` (max
    leading-zero rank) and ``cnt`` (exact distinct hashes in the
    bucket — an audit rider, NOT part of the sketch). Exposed so the
    merge law is testable and so an at-rest sketch table can be
    maintained: the union of two datasets' sketches is
    ``unionAll → groupBy(grp, bucket).max(m_j)`` — elementwise max,
    no re-scan of either input."""
    w = 60 - b
    k_max = w + 1
    h = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h")
    )
    hashes = df.select(F.col(group_col).alias("grp"), h).distinct()
    rem = F.col("h") % F.lit(1 << w)
    rho = F.when(rem == 0, F.lit(k_max)).otherwise(
        F.lit(w + 1) - F.length(F.bin(rem))
    )
    return (
        hashes.select(
            "grp",
            # integer shift, NOT `/`: h has 60 bits, so a double
            # division would round before the truncating cast
            F.shiftright(F.col("h"), w).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("m_j"), F.count(F.lit(1)).alias("cnt"))
    )


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
    b: int = 8,
) -> DataFrame:
    """Per-group distinct-count estimate via a deterministic
    HyperLogLog (Flajolet et al. 2007) — the fixed-size *mergeable*
    complement to :func:`kmv_distinct`: a KMV sketch must keep k hash
    values per group; HLL keeps 2^b one-byte registers whose merge is
    an elementwise max, the shape an at-rest sketch table wants
    (union = ``groupBy(bucket).max(m_j)``, tested as a law).

    Engine-portable by construction, unlike Spark's native
    ``approx_count_distinct`` HLL++ bytes (module docstring): the
    60-bit md5 hash splits into a b-bit register index (top bits) and
    a (60-b)-bit suffix whose leading-zero rank is exact integer
    arithmetic on ``length(bin(rem))`` in Spark AND DuckDB. The
    register sum Σ2^(−M_j) is scaled to the INTEGER Σ2^(53−M_j)
    (52-bit suffix ⇒ M_j ≤ 53, sum < 2^62), so the estimator is one
    exact int64 sum followed by a single double division by the
    precomputed constant α·m²·2^53 — no float accumulation order
    anywhere. The small-range linear-counting branch m·ln(m/V) is a
    255-entry driver-computed literal table (V ∈ 1..255) because libm
    ``log`` is not bit-stable across engines — the same shared-table
    trick as ``behavior.decay_table``; the branch condition compares
    deterministic doubles to exact literals.

    Scale shape: one distinct-shuffle on (group, hash), a two-level
    partial aggregate (group,bucket)→(group) of ≤2^b rows per group,
    and a literal-array lookup. ``n_exact``/``rel_err`` ride along as
    the checked accuracy audit, as in :func:`kmv_distinct`.
    """
    import math

    m = 1 << b
    w = 60 - b
    k_max = w + 1  # rho of an all-zero suffix
    alpha = 0.7213 / (1 + 1.079 / m)
    c_num = alpha * m * m * float(1 << k_max)
    lc = [m * math.log(m / v) for v in range(1, m)]

    regs = hll_registers(df, key_col, group_col, b)
    g = regs.groupBy("grp").agg(
        F.sum("cnt").alias("n_exact"),
        F.count(F.lit(1)).alias("n_present"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {k_max} - m_j)")
        ).alias("s_present"),
    )
    v_zero = F.lit(m) - F.col("n_present")
    s_total = (
        F.col("s_present") + v_zero * F.lit(1 << k_max)
    ).cast("double")
    e_raw = F.lit(c_num) / s_total
    lc_arr = F.array(*[F.lit(float(x)) for x in lc])
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.element_at(lc_arr, v_zero.cast("int")),
    ).otherwise(e_raw)
    g = g.withColumn("est", est)
    return g.select(
        "grp",
        "n_exact",
        F.round("est", 4).alias("n_est"),
        F.round(
            F.abs(F.col("est") - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
            4,
        ).alias("rel_err"),
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    top_n: int = 20,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) frequency
    estimates for the ``top_n`` most frequent keys, alongside the exact
    counts — the sketch's one-sided overestimate is a checked output.

    The sketch is ``depth`` hash rows × ``width`` counters; a key's
    estimate is the MIN of its ``depth`` counters, which can only
    OVERcount (collisions add, never subtract) — ``n_est >= n_exact``
    is a structural law the oracle verifies on every row.

    Engine-portable by construction: row-d bucket = first 8 hex chars
    of md5("d:key") mod width — same buckets in any engine, so the
    whole sketch replays bit-for-bit in SQL (same md5/decode pattern
    as :func:`kmv_distinct` and the MinHash constants).

    Scale shape: ONE shuffle of the fact table (the per-key exact
    count, map-side combined). The sketch itself derives from the
    per-key counts — depth×|keys| rows partially aggregated down to at
    most depth×width counters, i.e. the classic mergeable-summary
    property: counters from disjoint splits ADD (property-tested).
    The top-n selection and the estimate join run on |keys| and
    depth×width rows — dimension-sized, broadcast both.
    """
    counts = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    # Consumed by three stages (sketch build, top-n rank, estimate
    # join); localCheckpoint scans the fact table once.
    counts = materialize(counts)

    def bucket(d: int) -> F.Column:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{d}:"), F.col("key"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        return F.pmod(h, F.lit(width))

    rows = F.explode(
        F.array(*[
            F.struct(F.lit(d).alias("d"), bucket(d).alias("bucket"))
            for d in range(depth)
        ])
    ).alias("rb")
    sketch = (
        counts.select("key", "n_exact")
        .select(F.col("n_exact"), rows)
        .select("rb.d", "rb.bucket", "n_exact")
        .groupBy("d", "bucket")
        .agg(F.sum("n_exact").alias("counter"))
    )

    wtop = Window.orderBy(F.col("n_exact").desc(), F.col("key"))
    top = counts.select(
        "key", "n_exact", F.row_number().over(wtop).alias("rank")
    ).where(F.col("rank") <= top_n)

    probes = top.select(
        "key",
        "n_exact",
        "rank",
        F.explode(
            F.array(*[
                F.struct(F.lit(d).alias("d"), bucket(d).alias("bucket"))
                for d in range(depth)
            ])
        ).alias("rb"),
    ).select("key", "n_exact", "rank", "rb.d", "rb.bucket")
    est = (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("key", "n_exact", "rank")
        .agg(F.min("counter").alias("n_est"))
    )
    return est.select(
        "key",
        "rank",
        "n_exact",
        "n_est",
        (F.col("n_est") - F.col("n_exact")).alias("overcount"),
    )


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1024,
    k_hashes: int = 3,
) -> DataFrame:
    """Build a deterministic Bloom filter over a key set as a tiny
    (word_idx, word) frame: ``m_bits`` bits stored as 32-bit words in
    BIGINTs (a 32-bit word keeps every shift/mask inside the portable
    positive-int64 range on all engines; 1<<63 sign-bit semantics are
    NOT portable).

    Hashes are engine-replayable md5 slices: bit position i of key k
    is ``conv(md5('bf' || i || ':' || k)[:8], 16, 10) % m_bits`` —
    the same integer-hash discipline as the MinHash constants
    (``operators/dedup.py``), so DuckDB rebuilds the identical filter.

    Shape: explode k positions per key (map-side), one groupBy on the
    word index with a ``bit_or`` that combines map-side — the shuffle
    carries at most ``m_bits/32`` partial words per task, regardless
    of key count.
    """
    if m_bits % 32:
        raise ValueError("m_bits must be a multiple of 32")
    ks = F.col(key_col).cast("string")
    positions = F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"bf{i}:"), ks)), 1, 8
                    ),
                    16,
                    10,
                )
                .cast("long")
                % m_bits
            )
            for i in range(k_hashes)
        ]
    )
    pos = keys.select(F.explode(positions).alias("pos"))
    # shiftleft/shiftright via expr: the PySpark wrappers take a
    # Python-int bit count, but ours is a column
    return pos.groupBy(F.expr("CAST(pos DIV 32 AS INT)").alias("word_idx")).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")).alias(
            "word"
        )
    )


def bloom_probe(
    fact: DataFrame,
    bloom_words: DataFrame,
    key_col: str,
    m_bits: int = 1024,
    k_hashes: int = 3,
    flag_col: str = "bloom_pass",
) -> DataFrame:
    """Tag each fact row with Bloom membership of ``key_col`` —
    the shuffle-free prefilter for a semi-join whose build side is too
    big to broadcast as an exact set but whose FILTER is tiny.

    Each of the k probes is an equi-join on the probed word index
    against the (m_bits/32)-row filter frame — Spark broadcasts it, so
    the fact is never shuffled and gains one boolean column. At 100 TB
    this is the shape that replaces `fact JOIN keys` (a full shuffle
    of the fact) with `fact →(broadcast)→ σ(bloom) →(shuffle of
    survivors only)→ exact verify`; with an fp rate of ~1% the
    verify-join moves two orders of magnitude less data.

    The flag is conjunctive over the k probed bits; a missing word row
    (no key hashed into that word) means the bit is 0 → fail.
    """
    ks = F.col(key_col).cast("string")
    out = fact
    checks = []
    for i in range(k_hashes):
        pos = (
            F.conv(F.substring(F.md5(F.concat(F.lit(f"bf{i}:"), ks)), 1, 8), 16, 10)
            .cast("long")
            % m_bits
        )
        wcol = f"__bw{i}"
        out = out.withColumn(f"__pos{i}", pos).withColumn(
            f"__widx{i}", F.expr(f"CAST(__pos{i} DIV 32 AS INT)")
        ).withColumn(f"__bit{i}", F.expr(f"CAST(__pos{i} % 32 AS INT)"))
        bw = F.broadcast(
            bloom_words.select(
                F.col("word_idx").alias(f"__widx{i}"), F.col("word").alias(wcol)
            )
        )
        out = out.join(bw, f"__widx{i}", "left")
        checks.append(
            F.expr(
                f"shiftright(coalesce({wcol}, CAST(0 AS BIGINT)), __bit{i}) & 1"
            )
            == 1
        )
    flag = checks[0]
    for c in checks[1:]:
        flag = flag & c
    drop = [
        c
        for i in range(k_hashes)
        for c in (f"__pos{i}", f"__widx{i}", f"__bit{i}", f"__bw{i}")
    ]
    return out.withColumn(flag_col, flag).drop(*drop)


def ams_f2(
    df: DataFrame,
    key_col: str,
    n_sketches: int = 16,
) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon–Matias–Szegedy 1996):
    F₂ = Σ_x f(x)² estimated as the average of ``n_sketches``
    independent (Σ_x f(x)·±1_j(x))² — the join-size / self-join-cost
    estimator whose state is one integer per sketch, mergeable across
    partitions by plain addition. Signs are engine-replayable md5
    bits (same discipline as the Bloom/MinHash constants), so the
    estimate is deterministic, and the EXACT F₂ rides along as the
    checked error — the same honest-sketch contract as
    :func:`kmv_distinct`.

    Shape: one (key) groupBy over the facts — the only shuffle — then
    sketch sums AND exact F₂ fold together in a single aggregation
    over the key-frequency frame (no second pass, no one-row join).
    Integer arithmetic end-to-end; the only divisions are the final
    mean and relative error.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("f")
    )
    sign_cols = [
        (
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"ams{j}:"), F.col("k"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            )
            * 2
            - 1
        )
        for j in range(n_sketches)
    ]
    agg = counts.agg(
        F.sum(F.col("f") * F.col("f")).alias("f2_exact"),
        *[
            F.sum(F.col("f") * sign_cols[j]).alias(f"S{j}")
            for j in range(n_sketches)
        ],
    )
    est = None
    for j in range(n_sketches):
        sq = F.col(f"S{j}") * F.col(f"S{j}")
        est = sq if est is None else est + sq
    est = est.cast("double") / F.lit(float(n_sketches))
    return agg.select(
        "f2_exact",
        F.round(est, 6).alias("f2_est"),
        F.round(
            F.abs(est - F.col("f2_exact").cast("double"))
            / F.col("f2_exact"),
            6,
        ).alias("rel_err"),
    )
