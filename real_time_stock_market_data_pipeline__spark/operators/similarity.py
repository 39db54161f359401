"""Similarity search over embedding columns (array<float>) — the
north-star ANN surface (SURVEY.md §2.10; no reference counterpart).

Three tiers:

- ``cosine_topk``      — brute-force exact top-k against one query
                         vector, decimal-exact arithmetic so a SQL
                         oracle reproduces it bit-for-bit. The
                         correctness baseline.
- ``ann_topk``         — random-hyperplane LSH bucketing: only the
                         query's bucket is scored. The scale path —
                         candidate cost is corpus_fraction ≈ 2^-planes.
- ``cosine_topk_fast`` — Arrow-batched pandas UDF (NumPy dot), the
                         throughput variant for wide scans; float sums
                         are order-dependent so its oracle compares
                         cosines quantized at 6 digits, not bitwise.

Scale notes: the query vector is a plan literal (broadcast by value);
brute force is one scan + one top-k reduce (no shuffle of the corpus);
LSH adds a map-side bucket filter before scoring. Nothing all-pairs.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

#: Random hyperplanes for LSH bucketing: PLANES[p][d] in {-1.0, +1.0}
#: (Rademacher vectors — exact in float/decimal arithmetic, so both
#: engines compute identical signs). Seeded → oracle replayable.
ANN_PLANES_N = 8
EMBEDDING_DIM = 64
_rng = random.Random(7)
ANN_PLANES: list[list[float]] = [
    [float(_rng.choice((-1, 1))) for _ in range(EMBEDDING_DIM)]
    for _ in range(ANN_PLANES_N)
]
del _rng


def _fold_sum(terms: list[F.Column]) -> F.Column:
    """Left-associative double addition chain: ((t1+t2)+t3)+…

    IEEE doubles added in a *fixed* order are bit-identical in every
    engine; it's only unspecified summation order that makes float
    aggregates irreproducible. The SQL oracle writes the same
    left-associative chain, so Spark, DuckDB, and Python agree to the
    last ulp."""
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def _dlit(v: float) -> str:
    """SQL literal that parses to exactly the double ``F.lit(float(v))``
    would embed: ``repr`` emits the shortest round-tripping decimal and
    the ``D`` suffix pins DOUBLE (a bare ``1.5`` would parse DECIMAL).
    Bit-identity law-checked incl. -0.0, denormals and DBL_MAX."""
    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"non-finite literal in fold expression: {v!r}")
    return repr(v) + "D"


def _ref_sql(name: str) -> str:
    """Backtick-quoted SQL reference for a (possibly alias-qualified)
    column name: ``a.embedding`` → ``\\`a\\`.\\`embedding\\``."""
    return ".".join(f"`{p}`" for p in name.split("."))


def _dot_fold_sql(vec_sql: str, q: list[float]) -> str:
    """SQL text of :func:`_dot_fold` — parses to the identical
    zip_with+aggregate Catalyst tree (values bit-identical,
    law-checked) while costing ONE py4j round-trip instead of ~75:
    building 64 ``F.lit`` columns plus two Python lambdas per centroid
    was the dominant *driver-side* cost of every multi-centroid
    expression (kmeans_step built in 1.25 s vs 0.002 s this way;
    guide §1.2 per-task work, applied to the driver)."""
    arr = "array(" + ",".join(_dlit(v) for v in q) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, "
        "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
    )


def _norm_fold_sql(vec_sql: str) -> str:
    """SQL text of :func:`_norm_fold` (same tree, one parse)."""
    return (
        f"sqrt(aggregate(transform({vec_sql}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x))"
    )


def _dot_fold(vec_col: F.Column | str, q: list[float]) -> F.Column:
    """Σ (double)v_i·q_i as a sequential left fold.

    ``F.aggregate`` folds the array in element order, so it associates
    exactly like the explicit ((t1+t2)+t3)… chain the SQL oracle uses
    (the 0.0 seed is exact: 0.0+x == x for IEEE doubles). Expressed as
    one zip_with+aggregate instead of a 64-term inline chain because
    eight such chains in one projection overflow Spark's 64 KB
    generated-method limit and drop the whole stage to interpreted
    mode (the HOF is interpreted too, but only per element — the rest
    of the stage keeps codegen).

    Pass the vector as a column NAME (str) where possible: that path
    builds the whole fold as one parsed SQL expression
    (:func:`_dot_fold_sql`) — same tree, same bits, ~75× fewer py4j
    round-trips per centroid. The Column form stays for composed
    expressions and external callers."""
    if isinstance(vec_col, str):
        return F.expr(_dot_fold_sql(_ref_sql(vec_col), q))
    qarr = F.array(*[F.lit(float(v)) for v in q])
    prods = F.zip_with(vec_col, qarr, lambda x, y: x.cast("double") * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm_fold(vec_col: F.Column | str, dim: int) -> F.Column:
    if isinstance(vec_col, str):
        return F.expr(_norm_fold_sql(_ref_sql(vec_col)))
    sq = F.transform(vec_col, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def _py_fold(terms) -> float:
    """Left-associative Python float fold (IEEE doubles, so bitwise
    equal to the same chain in any engine)."""
    acc = None
    for t in terms:
        acc = t if acc is None else acc + t
    return 0.0 if acc is None else acc


def _qnorm(q: list[float]) -> float:
    """Query norm with the same left-fold recipe (Python float ops are
    IEEE doubles, so this matches the in-engine chains bitwise)."""
    import math

    acc = 0.0
    first = True
    for x in q:
        acc = x * x if first else acc + x * x
        first = False
    return math.sqrt(acc)


def cosine_scores(
    embs: DataFrame, query: list[float], vec_col: str = "embedding"
) -> DataFrame:
    """Adds an exact `cosine` column against the literal query vector."""
    dim = len(query)
    dot = _dot_fold(vec_col, query)
    norm = _norm_fold(vec_col, dim)
    qn = F.lit(_qnorm(query))
    return embs.withColumn(
        "cosine",
        F.when(norm > 0, dot / (norm * qn)).otherwise(F.lit(None).cast("double")),
    )


def cosine_topk(
    embs: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k vs one query vector.

    One scan, one global top-k (Spark's ``orderBy().limit()`` runs as
    per-partition top-k + single-reduce merge — no full sort of the
    corpus). Deterministic via the id tiebreak."""
    scored = cosine_scores(embs, query, vec_col)
    return (
        scored.select(F.col(id_col), F.col("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def rp_bucket(
    vec_col: F.Column | str, planes: list[list[float]] | None = None
) -> F.Column:
    """Random-hyperplane LSH bucket id: one sign bit per plane,
    rendered as a bit-string (e.g. '10110010'). ±1 plane entries keep
    every product exact in IEEE doubles, so the sign — and therefore
    the bucket — is engine-independent. A str ``vec_col`` takes the
    one-parse SQL path (see :func:`_dot_fold`)."""
    planes = planes or ANN_PLANES
    if isinstance(vec_col, str):
        ref = _ref_sql(vec_col)
        bits = ", ".join(
            f"CASE WHEN {_dot_fold_sql(ref, p)} >= 0 THEN '1' ELSE '0' END"
            for p in planes
        )
        return F.expr(f"concat({bits})")
    bits = [
        F.when(_dot_fold(vec_col, p) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def ann_topk(
    embs: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    The bucket predicate is evaluated map-side (no shuffle, no index
    build); expected candidate fraction is 2^-planes of the corpus.
    Recall is tunable via fewer planes / multi-probe; this is the
    documented approximation: vectors outside the bucket are unseen.
    """
    planes = planes or ANN_PLANES

    # query bucket via the same left-fold recipe as rp_bucket, so a
    # summation-order flip can't put the query in a different bucket
    def fold_dot(p: list[float]) -> float:
        acc = 0.0
        first = True
        for pi, qi in zip(p, query):
            acc = pi * qi if first else acc + pi * qi
            first = False
        return acc

    qbits = "".join("1" if fold_dot(p) >= 0 else "0" for p in planes)
    scored = cosine_scores(
        embs.filter(rp_bucket(vec_col, planes) == F.lit(qbits)),
        query,
        vec_col,
    )
    return (
        scored.select(F.col(id_col), F.col("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def embedding_neardup_pairs(
    embs: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold), candidates restricted to same-LSH-bucket vectors.

    The dedup counterpart of ``ann_topk``: bucket map-side, self-join
    on the bucket key (two aliases of one frame → exchange reuse),
    exact cosine only on intra-bucket pairs. Cost is Σ bucket² — never
    corpus² — and high-cosine pairs land in the same bucket with
    probability (1 - θ/π)^planes."""
    planes = planes or ANN_PLANES
    dim = len(planes[0])
    bucketed = embs.select(
        F.col(id_col),
        F.col(vec_col),
        rp_bucket(vec_col, planes).alias("bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    prods = F.zip_with(
        F.col(f"a.{vec_col}"),
        F.col(f"b.{vec_col}"),
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    na = _norm_fold(f"a.{vec_col}", dim)
    nb = _norm_fold(f"b.{vec_col}", dim)
    scored = pairs.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.when((na > 0) & (nb > 0), dot / (na * nb)).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= threshold)


#: Default IVF geometry: 16 cells, probe the best 4 — candidate cost
#: ≈ n_probe/n_centroids of the corpus per query at uniform cell fill.
IVF_CENTROIDS_N = 16
IVF_PROBES_N = 4


def ivf_centroids(
    embs: DataFrame,
    n_centroids: int = IVF_CENTROIDS_N,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic coarse quantizer for IVF: the ``n_centroids``
    lowest-id vectors, collected to the driver (the index *build* step —
    a few KB, analogous to FAISS training; the corpus itself is never
    collected). Deterministic seed vectors rather than k-means keeps
    the cell assignment — and therefore the whole query result —
    bit-reproducible by a SQL oracle; at 100 TB you'd swap in sampled
    k-means centroids and re-run the (unchanged) assignment below."""
    rows = (
        embs.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    return [[float(x) for x in r[1]] for r in rows]


def _inv_norm(c: list[float]) -> float:
    n = _qnorm(c)
    return 1.0 / n if n > 0 else 0.0


def ivf_assign(
    vec_col: F.Column | str, centroids: list[list[float]]
) -> F.Column:
    """Nearest-centroid cell id by cosine. Since the row's own norm is
    a common positive factor across centroids, argmax cosine ≡ argmax
    dot(v, c)·(1/|c|) — one fold and one multiply per centroid, no
    per-row sqrt. Ties take the lowest cell id (max over (sim, -id)
    structs), matching the oracle's first-match CASE. A str
    ``vec_col`` builds the whole argmax as ONE parsed SQL expression
    (round 17 — the |cents|×dim ``F.lit`` chain construction was the
    dominant driver-side cost of every assignment-bearing plan; same
    tree, same bits, law- and oracle-checked)."""
    if isinstance(vec_col, str):
        ref = _ref_sql(vec_col)
        structs = ", ".join(
            f"struct({_dot_fold_sql(ref, c)} * {_dlit(_inv_norm(c))} "
            f"AS s, {-i} AS ni)"
            for i, c in enumerate(centroids)
        )
        return F.expr(f"-(array_max(array({structs})).ni)")
    scored = [
        F.struct(
            (_dot_fold(vec_col, c) * F.lit(_inv_norm(c))).alias("s"),
            F.lit(-i).alias("ni"),
        )
        for i, c in enumerate(centroids)
    ]
    return -F.array_max(F.array(*scored))["ni"]


def ivf_query_probes(
    query: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """The query's ``n_probe`` nearest cells, with the same arithmetic
    as ``ivf_assign`` (Python floats are IEEE doubles, so sims — and
    tie-breaks — agree bitwise with the in-engine fold)."""

    def fold_dot(c: list[float]) -> float:
        acc = 0.0
        first = True
        for ci, qi in zip(c, query):
            acc = ci * qi if first else acc + ci * qi
            first = False
        return acc

    sims = [
        (fold_dot(c) * _inv_norm(c), -i) for i, c in enumerate(centroids)
    ]
    return [-ni for _, ni in sorted(sims, reverse=True)[:n_probe]]


def kmeans_centroids(
    embs: DataFrame,
    n_centroids: int = IVF_CENTROIDS_N,
    n_iters: int = 3,
    sample_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Sampled k-means coarse quantizer — the 100 TB seeding path the
    :func:`semantic_dedup` docstring prescribes, now code (round-9
    verdict ask #5), wired as ``centroids="kmeans"`` on the semantic
    family.

    Deterministic end-to-end, no RNG state: the training sample keeps
    rows whose 32-bit ``md5(id)`` prefix falls below
    ``sample_fraction``·2³² (partitioning-invariant hash sampling, the
    same recipe as ``sampling.hash_split``); seeds are the
    ``n_centroids`` sample rows with the lowest ``md5(id)`` — hash
    order is uniform over the corpus, unlike ``ivf_centroids``'
    lowest-id seeds which inherit whatever the id order correlates
    with. Each Lloyd iteration is the declarative :func:`kmeans_step`
    (map-side cosine assign + a shuffle of |cells|×dims decimal
    partials — independent of corpus size); only the K×d centroid
    table is collected per iteration, matching the package's bounded
    index-build collect policy. Cells that lose all members keep
    their previous centroid.

    The semantic-dedup CONTRACT (kept set is an independent set; the
    operator is idempotent) holds under ANY centroid choice — the
    centroids only shape which candidate pairs meet — so swapping
    this in changes recall/cost, never soundness (law-tested)."""
    sample = embs.select(id_col, vec_col)
    if sample_fraction is not None:
        key = (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
        )
        sample = sample.filter(
            key < F.lit(int(float(sample_fraction) * 2.0**32))
        )
    seeds = (
        sample.withColumn("_sk", F.md5(F.col(id_col).cast("string")))
        .orderBy("_sk", id_col)
        .limit(n_centroids)
        .collect()
    )
    if not seeds:
        raise ValueError(
            "kmeans_centroids: the (sampled) corpus is empty — nothing "
            "to seed from; lower sample_fraction or check the input"
        )
    cents = [[float(x) for x in r[vec_col]] for r in seeds]
    for _ in range(max(0, int(n_iters))):
        rows = kmeans_step(sample, cents, vec_col=vec_col).collect()
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(int(r["cell"]), {})[int(r["dim"])] = float(
                r["centroid"]
            )
        cents = [
            [by_cell[i][j + 1] for j in range(len(old))]
            if i in by_cell
            else old
            for i, old in enumerate(cents)
        ]
    return cents


def _resolve_centroids(
    centroids, embs: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> list[list[float]]:
    """Centroid spec → vectors: a literal list passes through,
    ``"kmeans"`` trains :func:`kmeans_centroids`, ``None`` takes the
    deterministic lowest-id seeds (:func:`ivf_centroids`)."""
    if centroids == "kmeans":
        return kmeans_centroids(
            embs, n_centroids, id_col=id_col, vec_col=vec_col
        )
    return centroids or ivf_centroids(
        embs, n_centroids, id_col=id_col, vec_col=vec_col
    )


def semantic_dedup(
    embs: DataFrame,
    threshold: float = 0.3,
    n_centroids: int = IVF_CENTROIDS_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus, call same-cluster pairs with
    cosine ≥ ``threshold`` semantic duplicates, and keep — per the
    paper's policy — the duplicate *least* similar to its cluster
    centroid (most informative); returns the pruned corpus as
    ``(id, cell, centroid_sim)``.

    This is the cluster-scoped complement of
    :func:`embedding_neardup_pairs` (which buckets by LSH and emits
    pairs): here candidates are confined to IVF cells and the output is
    the *kept corpus*, the shape a training-data pipeline consumes.

    Keep rule, made one-pass and deterministic: a row is dropped iff
    some same-cell neighbour with cosine ≥ threshold ranks strictly
    lower on (centroid_sim, id). On duplicate cliques this is exactly
    the paper's keep-one-lowest-centroid-sim; on non-transitive chains
    it is dominance pruning — the minimum of every duplicate group
    always survives. Because (centroid_sim, id) totally orders
    distinct rows, the kept set is an INDEPENDENT set (no same-cell
    kept pair at cosine ≥ threshold) and the operator is idempotent
    over its own output under the same centroids — both law-tested.
    One anti-join instead of an iterative connected-components pass
    (that exact variant exists as :func:`dedup.neardup_clusters`).

    Scale shape: the quadratic term is Σ cell², never corpus² — at
    100 TB raise ``n_centroids`` (K ≈ √n keeps cells ~√n) and swap the
    deterministic lowest-id seeds for sampled k-means centroids; the
    assignment, pair scan, and anti-join below are unchanged. The
    self-join reuses one exchange (both sides hash on ``cell``); the
    dropped-id set rides a shuffled semi-join on the id.

    Cosines and centroid sims are left-fold chains (bit-replayable by
    the SQL oracle); zero-norm vectors have NULL sims, are never
    duplicates of anything, and are always kept.
    """
    cents = _resolve_centroids(centroids, embs, n_centroids, id_col, vec_col)
    assigned = _semantic_assign(embs, cents, vec_col, id_col)
    return _dominance_prune(assigned, threshold, id_col)


def _semantic_assign(
    embs: DataFrame,
    cents: list[list[float]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Cell + centroid-cosine assignment frame for semantic dedup:
    ``(id, _v, _n, cell, centroid_sim)``. The norm rides along as a
    column so downstream pair conditions cost one dot fold per
    candidate pair, not three (same hoist as ``ivf_knn_join``; the
    value is bit-identical either way)."""
    if not cents:
        raise ValueError(
            "semantic assignment needs at least one centroid; got an "
            "empty centroid list (empty corpus?). Screen against a "
            "non-empty corpus or pass explicit centroids."
        )
    dim = len(cents[0])
    v = F.col(vec_col)
    # one-parse SQL form of the scored-struct argmax (round 17, see
    # ivf_assign) — identical tree and bits to the F.lit/lambda build
    ref = _ref_sql(vec_col)
    structs = ", ".join(
        f"struct({_dot_fold_sql(ref, c)} * {_dlit(_inv_norm(c))} "
        f"AS s, {-i} AS ni)"
        for i, c in enumerate(cents)
    )
    best = F.expr(f"array_max(array({structs}))")
    nv = _norm_fold(vec_col, dim)
    return embs.select(
        F.col(id_col),
        v.alias("_v"),
        nv.alias("_n"),
        (-best["ni"]).alias("cell"),
        F.when(nv > F.lit(0.0), best["s"] / nv).alias("centroid_sim"),
    )


def _pair_cosine(a_pfx: str = "a", b_pfx: str = "b") -> F.Column:
    """Cosine between two ``_semantic_assign`` rows, hoisted norms."""
    prods = F.zip_with(
        F.col(f"{a_pfx}._v"),
        F.col(f"{b_pfx}._v"),
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    na, nb = F.col(f"{a_pfx}._n"), F.col(f"{b_pfx}._n")
    return F.when((na > F.lit(0.0)) & (nb > F.lit(0.0)), dot / (na * nb))


#: Exact-clone collapse is valid only when the threshold sits safely
#: below 1: a clone pair's COMPUTED self-cosine is s/(sqrt(s)·sqrt(s))
#: = 1 ± 2 ulp, so for τ within a few ulp of 1.0 "identical vectors
#: are duplicates" may disagree with the fold arithmetic. Real dedup
#: thresholds live far below this line.
_COLLAPSE_MAX_THRESHOLD = 0.999999


def _collapse_exact_clones(
    assigned: DataFrame, id_col: str, key: str = "digest"
) -> tuple[DataFrame, DataFrame]:
    """Split an assignment frame into (representatives, zero-norm
    rows): one min-id row per DISTINCT non-zero vector.

    Exactness argument — why the quadratic may run over reps only:
    identical vectors get bit-identical (_n, cell, centroid_sim), so
    (a) a non-min clone is always dropped (its min-id clone-mate has
    equal sim and a lower id, and their cosine ≥ any τ under the
    collapse guard); (b) if ANY member of a clone group outranks x
    with cosine ≥ τ, the group's min-id member does too (same sim,
    lower id, same cosine) — dominance over reps ≡ dominance over all
    rows. Zero-norm vectors have NULL cosine with everything and are
    returned separately, always kept.

    ``key`` picks the clone-group key:

    - ``"digest"`` (default, the 100 TB shape): group on
      ``sha2(to_json(vector), 256)`` — the shuffle carries a 64-byte
      digest per row instead of the full embedding, so the exchange
      width is independent of dimensionality. Jackson renders each
      double as its shortest round-tripping decimal, so identical
      arrays digest identically; the one divergence from array
      equality is IEEE ±0.0 (SQL-equal, rendered differently), which
      only UNDER-collapses — the downstream pair scan still sees the
      ±0.0 twins, scores them cosine 1, and the dominance prune drops
      the non-min one, so the final kept set is identical (law-tested
      digest ≡ array, including a ±0.0 adversarial clone pair).
    - ``"array"`` — group directly on the vector column (the original
      form; exchange carries the embedding).
    """
    nz = assigned.filter(F.col("_n") > F.lit(0.0))
    zs = assigned.filter(~(F.col("_n") > F.lit(0.0)))
    if key == "digest":
        nz = nz.withColumn("_vk", F.sha2(F.to_json(F.col("_v")), 256))
        reps = nz.groupBy("_vk").agg(
            F.min(id_col).alias(id_col),
            F.min_by("_v", F.col(id_col)).alias("_v"),
            F.min("_n").alias("_n"),
            F.min("cell").alias("cell"),
            F.min("centroid_sim").alias("centroid_sim"),
        ).drop("_vk")
    elif key == "array":
        reps = nz.groupBy("_v").agg(
            F.min(id_col).alias(id_col),
            F.min("_n").alias("_n"),
            F.min("cell").alias("cell"),
            F.min("centroid_sim").alias("centroid_sim"),
        )
    else:  # pragma: no cover - guarded by callers
        raise ValueError(f"unknown clone-collapse key: {key!r}")
    return reps, zs


def _dominance_prune(
    assigned: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Keep rows not outranked by a same-cell duplicate (see
    :func:`semantic_dedup` for the policy). Runs the pair scan over
    exact-clone representatives when the threshold allows
    (:func:`_collapse_exact_clones`); results are identical either
    way — the SQL oracles replay the UNcollapsed relation."""
    if float(threshold) <= _COLLAPSE_MAX_THRESHOLD:
        reps, zs = _collapse_exact_clones(assigned, id_col)
        scan = reps
        kept_tail = zs.select(id_col, "cell", "centroid_sim")
    else:
        scan = assigned
        kept_tail = None
    a, b = scan.alias("a"), scan.alias("b")
    outranked_by_b = (
        F.col("b.centroid_sim") < F.col("a.centroid_sim")
    ) | (
        (F.col("b.centroid_sim") == F.col("a.centroid_sim"))
        & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}"))
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & outranked_by_b
            & (_pair_cosine() >= F.lit(float(threshold))),
        )
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )
    kept = scan.join(dropped, id_col, "left_anti").select(
        id_col, "cell", "centroid_sim"
    )
    return kept if kept_tail is None else kept.unionByName(kept_tail)


def semantic_dedup_incremental(
    new_batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.3,
    n_centroids: int = IVF_CENTROIDS_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | str | None = None,
    work_dir: str | None = None,
) -> DataFrame:
    """Per-batch :func:`semantic_dedup` against an existing corpus —
    the write-once/screen-forever shape (cf.
    :func:`dedup.incremental_neardup`): which NEW embeddings survive
    semantic dedup given everything already ingested.

    Two stages, both cell-scoped:

    1. **Screen**: a new row dies if ANY same-cell corpus vector has
       cosine ≥ threshold — the store always outranks the batch
       (re-ranking would mean rewriting history). Cost is
       new × same-cell-corpus, an equi-join on ``cell``; with the
       corpus assignment at rest partitioned by cell (the
       :func:`ivf_write_index` layout plus the ``centroid_sim``
       column), each batch touches only its probed cell partitions
       and the stored 100 TB is never re-embedded or re-scanned.
    2. **Intra-batch**: survivors are pruned against each other with
       the same dominance rule as :func:`semantic_dedup`. Rows the
       screen killed don't get to kill batch-mates (their duplicates
       are screened by the same corpus rows anyway).

    Centroids default to the CORPUS's deterministic seeds — both
    sides must quantize against the same codebook or cell scoping is
    meaningless. The kept output ``(id, cell, centroid_sim)`` is
    exactly one append to the corpus assignment table.

    ``work_dir`` (round 17, guide §1.2/§6 — the at-rest subtree-dedup
    pattern the sweep's shared indexes use): when set, the two
    assignment frames are written ONCE to ``work_dir/{an,ac}``
    (``partitionBy("cell")`` — two overlapped jobs), the corpus side
    is re-read pruned to the batch's touched cells (a bounded
    ≤ n_centroids collect that lands in the scan's PartitionFilters,
    exactly the streaming screen's probe shape), and the corpus-screen
    survivors are materialized once at ``work_dir/surv`` before the
    intra-batch dominance prune. The lazy form instantiates the
    new-batch assign subtree 8× and the corpus assign 4× in one plan
    (each a full scan + |cents|-way fold at corpus scale); the at-rest
    form computes each exactly once. Results are bit-identical:
    parquet round-trips doubles and arrays losslessly and the
    dominance/screen logic is unchanged (oracle- and law-checked).
    The caller owns the directory's lifecycle (pass a fresh temp dir;
    nothing is reused across runs).
    """
    cents = _resolve_centroids(
        centroids, corpus, n_centroids, id_col, vec_col
    )
    an = _semantic_assign(new_batch, cents, vec_col, id_col)
    ac = _semantic_assign(corpus, cents, vec_col, id_col)
    if work_dir is None:
        return _semantic_screen_assigned(an, ac, threshold, id_col)
    import os

    from real_time_stock_market_data_pipeline__spark.sinks import (
        run_jobs_concurrently,
    )

    spark = new_batch.sparkSession
    an_path = os.path.join(work_dir, "an")
    ac_path = os.path.join(work_dir, "ac")
    sv_path = os.path.join(work_dir, "surv")
    cols = an.columns
    schema = an.schema
    run_jobs_concurrently(
        lambda: an.write.mode("overwrite")
        .partitionBy("cell")
        .parquet(an_path),
        lambda: ac.write.mode("overwrite")
        .partitionBy("cell")
        .parquet(ac_path),
    )
    # explicit schema on every read-back: an empty side (empty batch /
    # all-zero-norm corpus) writes no part files and schema inference
    # would fail; the given schema also pins the partition column's
    # type so cell stays an int
    an_r = spark.read.schema(schema).parquet(an_path).select(*cols)
    touched = [r[0] for r in an_r.select("cell").distinct().collect()]
    ac_r = (
        spark.read.schema(schema)
        .parquet(ac_path)
        .filter(F.col("cell").isin(touched))
        .select(*cols)
    )
    _corpus_screen_survivors(an_r, ac_r, threshold, id_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(sv_path)
    sv_r = spark.read.schema(schema).parquet(sv_path).select(*cols)
    return _dominance_prune(sv_r, threshold, id_col)


def _corpus_screen_survivors(
    an: DataFrame, ac: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Stage-1 corpus screen over two pre-assigned frames: the new
    rows NOT killed by any same-cell stored duplicate, still in
    :func:`_semantic_assign` shape (stage 2, the intra-batch
    dominance prune, runs over this)."""
    # The screen is existential, so duplicate corpus vectors add no
    # information — scan one representative per distinct vector
    # (zero-norm corpus rows have NULL cosine with everything and
    # can never screen; _collapse_exact_clones already drops them
    # from the rep side). No threshold guard needed: the kept/killed
    # outcome per new row is decided by the same cosine values.
    ac_reps, _ = _collapse_exact_clones(ac, id_col)
    n_, c_ = an.alias("a"), ac_reps.alias("b")
    screened_out = (
        n_.join(
            c_,
            (F.col("a.cell") == F.col("b.cell"))
            & (_pair_cosine() >= F.lit(float(threshold))),
        )
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )
    return an.join(screened_out, id_col, "left_anti")


def _semantic_screen_assigned(
    an: DataFrame, ac: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Corpus screen + intra-batch dominance over two pre-assigned
    frames (:func:`_semantic_assign` shape) — the core both
    :func:`semantic_dedup_incremental` and the streaming screen share;
    ``ac`` may equally be the at-rest assignment table read back."""
    survivors = _corpus_screen_survivors(an, ac, threshold, id_col)
    return _dominance_prune(survivors, threshold, id_col)


def ivf_topk(
    embs: DataFrame,
    query: list[float],
    k: int = 10,
    n_centroids: int = IVF_CENTROIDS_N,
    n_probe: int = IVF_PROBES_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: assign every vector to its nearest
    centroid cell (map-side fold, no shuffle), score exactly only the
    cells the query probes.

    The complement of ``ann_topk``'s hyperplane LSH: IVF partitions by
    data geometry (good when the corpus clusters), LSH by random
    projections (no build step). With ``n_probe == n_centroids`` every
    cell is scanned and the result equals ``cosine_topk`` exactly
    (property-tested). At scale, write the corpus partitioned by cell
    id (``write_parquet_partitioned(..., by=['cell'])``) and the probe
    filter becomes partition pruning — the scan itself skips
    1 - n_probe/n_centroids of the data."""
    cents = centroids if centroids is not None else ivf_centroids(
        embs, n_centroids, id_col, vec_col
    )
    if not cents:  # empty corpus → empty top-k, same schema
        return (
            cosine_scores(embs, query, vec_col)
            .select(F.col(id_col), F.col("cosine"))
            .limit(0)
        )
    probes = ivf_query_probes(query, cents, n_probe)
    cand = embs.filter(ivf_assign(vec_col, cents).isin(probes))
    scored = cosine_scores(cand, query, vec_col)
    return (
        scored.select(F.col(id_col), F.col("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_fast(
    embs: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rank_digits: int | None = None,
) -> DataFrame:
    """Throughput variant: Arrow-batched pandas UDF, NumPy dot per
    batch. Float accumulation order makes the last ulp
    partition-dependent, so the registered oracle compares cosines
    quantized at 6 digits. With ``rank_digits`` set, the top-k ranking
    itself runs on the quantized cosine (ties broken by id) — then two
    engines that agree on the quantized values agree on the *member
    set* too, closing the near-tie-at-rank-k hole that full-precision
    ranking leaves open when summation orders differ."""
    q = np.asarray(query, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @pandas_udf("double")
    def cos(batch: pd.Series) -> pd.Series:
        m = np.vstack(batch.to_numpy())
        dots = m.astype(np.float64) @ q
        norms = np.linalg.norm(m.astype(np.float64), axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(norms > 0, dots / (norms * qn), np.nan)
        return pd.Series(sims)

    rank = F.col("cosine")
    if rank_digits is not None:
        rank = F.round(rank, rank_digits)
    return (
        embs.select(F.col(id_col), cos(F.col(vec_col)).alias("cosine"))
        .orderBy(rank.desc(), F.col(id_col))
        .limit(k)
    )


def embedding_centroids(
    embs: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Per-group embedding centroids in long form: one row per
    (group, dimension) with the mean of that coordinate — the class
    prototype / cluster-seed aggregation of a training pipeline
    (and the k-means update step, run declaratively).

    Determinism recipe: float sums are partition-order-dependent, and
    decimal casts of raw floats round differently across engines — so
    each coordinate is first quantized with ``round(x, round_digits)``
    (identical half-up semantics in Spark and DuckDB), then summed as
    an exact DECIMAL (lossless for already-quantized values), then
    divided once in IEEE doubles. The centroid of the quantized vectors
    is bit-identical in any engine at any parallelism.

    Scale: posexplode keeps rows in their input partition; the groupBy
    partially aggregates map-side, so the shuffle carries
    |groups| × dims decimal partials — independent of corpus size.
    """
    e = embs.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    q = F.round(F.col("val").cast("double"), round_digits).cast(
        "decimal(18,6)"
    )
    return (
        e.groupBy(F.col(group_col), (F.col("pos") + 1).cast("bigint").alias("dim"))
        .agg(
            (F.sum(q).cast("double") / F.count(F.lit(1))).alias("centroid"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def kmeans_step(
    embs: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """One Lloyd iteration, declaratively: assign every vector to its
    nearest centroid by cosine (:func:`ivf_assign` — a pure map-side
    fold over literal centroids, no shuffle, no join) and recompute
    each cell's centroid as the quantized coordinate mean
    (:func:`embedding_centroids`). Long-form output:
    (cell, dim, centroid, n).

    The iterative algorithm is a loop over this step with the returned
    centroids fed back in — each iteration is one scan + one partial-
    aggregated shuffle of |cells| × dims decimal partials, which is the
    shape Lloyd's update takes on a 1000-executor cluster. Both halves
    are engine-exact (argmax-with-tiebreak folds; quantize-then-
    decimal-sum means), so a SQL oracle replays the whole step bitwise.
    """
    assigned = embs.select(
        ivf_assign(vec_col, centroids).alias("cell"),
        F.col(vec_col),
    )
    return embedding_centroids(
        assigned, group_col="cell", vec_col=vec_col, round_digits=round_digits
    )


def ivf_knn_join(
    embs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = IVF_CENTROIDS_N,
    n_probe: int = IVF_PROBES_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str = "embedding",
    q_id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Batched ANN join: the ``k`` nearest corpus vectors for EVERY row
    of a query frame — the retrieval / dedup-against-a-reference-set
    primitive a training pipeline runs at corpus scale (``ivf_topk``
    answers one ad-hoc query; this answers a million).

    Shape: corpus rows get their IVF cell map-side (one fold per
    centroid, no shuffle); each query row expands to its ``n_probe``
    nearest cells (sorted struct array sliced then exploded — same
    (sim, lowest-id) tiebreak as ``ivf_assign``); the two sides meet in
    an **equi-join on the cell id** with the query side broadcast — a
    hash join over n_probe/n_centroids of the corpus per query, never a
    cartesian. Exact cosine runs per candidate; per-query top-k is a
    row_number window (WindowGroupLimit pushes the limit into the
    sort). Output: (query_id, nn_id, cosine), ≤ k rows per query.

    Scale: broadcast assumes a bounded query batch (the usual case —
    stream the rest in batches); the corpus is scanned once whatever
    the batch size. Skewed cells are AQE's skew-join problem, and the
    k-means-seeded variant (`ivf_centroids` swap-in) balances them at
    build time.
    """
    cents = centroids if centroids is not None else ivf_centroids(
        embs, n_centroids, id_col, vec_col
    )
    if not cents:
        return (
            queries.select(
                F.col(q_id_col).alias("query_id"),
                F.col(q_id_col).alias("nn_id"),
                F.lit(None).cast("double").alias("cosine"),
            ).limit(0)
        )
    dim = len(cents[0])
    # norms are per-ROW quantities: fold them once on each side before
    # the join, not per candidate pair — the array HOFs are interpreted
    # per element, so at |queries|·|corpus| candidate volume the two
    # norm folds were 2/3 of the hot-path work (measured 243 s → 80 s
    # for knn_label_eval at the x10 stress SF, bit-identical results)
    corpus = embs.select(
        F.col(id_col).alias("nn_id"),
        F.col(vec_col).alias("__cv"),
        ivf_assign(vec_col, cents).alias("__cell"),
        _norm_fold(vec_col, dim).alias("__cn"),
    )
    # per-query probe cells: the same (sim, -cell) structs ivf_assign
    # ranks, sorted descending and sliced to n_probe, then exploded to
    # one (query, cell) row each
    scored = F.array(
        *[
            F.struct(
                (_dot_fold(q_vec_col, c) * F.lit(_inv_norm(c))).alias("s"),
                F.lit(-i).alias("ni"),
            )
            for i, c in enumerate(cents)
        ]
    )
    probes = queries.select(
        F.col(q_id_col).alias("query_id"),
        F.col(q_vec_col).alias("__qv"),
        _norm_fold(q_vec_col, dim).alias("__qn"),
        F.explode(
            F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
        ).alias("__p"),
    ).select("query_id", "__qv", "__qn", (-F.col("__p.ni")).alias("__cell"))
    cand = corpus.join(F.broadcast(probes), "__cell")
    prods = F.zip_with(
        F.col("__cv"), F.col("__qv"), lambda x, y: x.cast("double") * y.cast("double")
    )
    dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    nc, nq = F.col("__cn"), F.col("__qn")
    scored_cand = cand.select(
        "query_id",
        "nn_id",
        F.when((nc > 0) & (nq > 0), dot / (nc * nq)).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nn_id")
    )
    return (
        scored_cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_write_index(
    embs: DataFrame,
    path: str,
    centroids: list[list[float]] | None = None,
    n_centroids: int = IVF_CENTROIDS_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Materialize the IVF index *as a partition layout*: assign each
    vector its cell map-side and write parquet partitioned by ``cell``.
    Returns the centroids (the only state a reader needs — KBs,
    store them next to the index).

    This is the at-rest form of the index the in-memory ``ivf_topk``
    docstring promises: once cells are directories, a probe filter is
    partition *pruning* — the scan never opens 1 - n_probe/n_centroids
    of the data. One full scan + one shuffle-free write (unlike the
    IVF-PQ codes, the payload here is the full float vectors — a
    repartition would shuffle the whole corpus for file aesthetics;
    run :func:`sinks.compact_partitioned_cells` instead if the task
    fan-out leaves too many files per cell); re-run to rebuild after
    drift. A ``_ivf_meta.json`` sidecar stores the centroids so a
    reader needs only the path (:func:`ivf_topk_indexed` with
    ``centroids=None``)."""
    import json
    import os

    cents = centroids if centroids is not None else ivf_centroids(
        embs, n_centroids, id_col, vec_col
    )
    embs.withColumn("cell", ivf_assign(vec_col, cents)).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    with open(os.path.join(path, _IVF_META_SIDECAR), "w") as f:
        json.dump({"centroids": cents}, f)
    return cents


_IVF_META_SIDECAR = "_ivf_meta.json"


def ivf_topk_indexed(
    spark,
    path: str,
    query: list[float],
    centroids: list[list[float]] | None = None,
    k: int = 10,
    n_probe: int = IVF_PROBES_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query a materialized IVF index (``ivf_write_index`` layout):
    the probe-cell predicate lands in the scan's PartitionFilters
    (plan-asserted in tests), so only n_probe cell directories are
    read. Result ≡ ``ivf_topk`` with the same centroids.
    ``centroids=None`` loads the ``_ivf_meta.json`` sidecar the writer
    stores with the index."""
    if centroids is None:
        import json
        import os

        with open(os.path.join(path, _IVF_META_SIDECAR)) as f:
            centroids = json.load(f)["centroids"]
    probes = ivf_query_probes(query, centroids, n_probe)
    cand = spark.read.parquet(path).filter(F.col("cell").isin(probes))
    scored = cosine_scores(cand, query, vec_col)
    return (
        scored.select(F.col(id_col), F.col("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def embedding_quantize(
    embs: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the
    storage/serving compression step of a large-scale vector pipeline
    (4× over float32, 8× over float64). Per vector: scale =
    absmax/127, q_i = round(x_i/scale), plus the reconstruction error
    the compression cost audit needs.

    The quantized vector itself is emitted as an md5 digest of its
    comma-joined components (array cells don't canonicalize across
    engines; the digest pins every component bit-for-bit). absmax is
    exact (comparisons only); the error fold is the package's
    left-associative chain (`_fold_sum` contract), so the oracle
    replays it to the last ulp.

    Scale: pure map-side — no shuffle at all; cost is one pass over
    the vectors.
    """
    v = F.col(vec_col)
    absmax = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    base = embs.select(
        F.col(id_col), v.alias("v"), (absmax / F.lit(127.0)).alias("scale")
    )
    qvec = F.transform(
        F.col("v"),
        lambda x: F.when(
            F.col("scale") > 0,
            F.round(x.cast("double") / F.col("scale"), 0).cast("int"),
        ).otherwise(F.lit(0)),
    )
    q = base.select(F.col(id_col), "v", "scale", qvec.alias("q"))
    err_sq = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("q"),
            lambda x, qi: (x.cast("double") - qi.cast("double") * F.col("scale"))
            * (x.cast("double") - qi.cast("double") * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # err_sq must bind to the RAW scale: computed via withColumn before
    # the display select, because Spark's lateral column alias
    # resolution would otherwise resolve its `col("scale")` to the
    # 6-rounded sibling aliased "scale" in the same select list —
    # silently quantizing the reconstruction error (caught by the
    # oracle gate).
    q = q.withColumn("err_sq", err_sq)
    return q.select(
        F.col(id_col),
        F.size("v").alias("n_dims"),
        F.round("scale", 6).alias("scale"),
        F.md5(
            F.array_join(F.transform(F.col("q"), lambda x: x.cast("string")), ",")
        ).alias("qvec_digest"),
        F.round(F.sqrt("err_sq"), 6).alias("recon_err"),
    )


def _sq8_quantize(query: list[float]) -> tuple[list[int], int]:
    """Symmetric int8 quantization of the query vector, driver-side:
    scale = absmax/127, code_i = round-half-away-from-zero(x_i/scale).
    The tie rounding goes through ``Decimal`` on the EXACT binary
    value of x/scale (Python's ``round`` is banker's; ``Decimal(t)``
    is exact), which is precisely what DuckDB's ``round(double, 0)``
    (C++ ``std::round``) computes — so the SQL oracle re-deriving the
    codes from the stored query vector lands on identical integers.
    Returns (codes, Σ code² as int)."""
    from decimal import ROUND_HALF_UP, Decimal

    absmax = max(abs(float(x)) for x in query)
    if absmax == 0:
        raise ValueError("cannot quantize an all-zero query vector")
    scale = absmax / 127.0
    if scale == 0.0:
        # denormal absmax (< 127 * 5e-324) underflows the scale —
        # found by Hypothesis; the corpus side is immune (its
        # `scale > 0` CASE maps such vectors to all-zero codes)
        raise ValueError(
            "query vector too small to quantize (scale underflows)"
        )
    codes = [
        int(
            Decimal(float(x) / scale).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
        for x in query
    ]
    return codes, sum(c * c for c in codes)


def sq8_topk(
    embs: DataFrame,
    query: list[float],
    k: int = 10,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar-quantized (int8) cosine top-k with exact rerank — the
    serving-path consumer of :func:`embedding_quantize`'s compression
    and the third ANN strategy next to LSH (:func:`ann_topk`) and IVF
    (:func:`ivf_topk`).

    Two stages:

    1. **Quantized scan**: every corpus vector is symmetric-int8
       quantized map-side (scale = absmax/127 — the identical recipe
       `embedding_quantize` stores), and scored against the quantized
       query by INTEGER dot product. The per-vector scales cancel in
       cosine — cos(s_c·q_c, s_q·q_q) = cos(q_c, q_q) — so the
       approximate score is Σq_c·q_q / (√Σq_c²·√Σq_q²): exact int64
       sums, two correctly-rounded sqrts, one division — bit-identical
       in any engine, no float-accumulation-order hazard at all. The
       top ``k*refine`` by (approx DESC, id) survive.
    2. **Exact rerank**: the ≤ k·refine candidate ids broadcast-join
       back to the float vectors and the exact fold-cosine
       (:func:`cosine_scores`) picks the final k.

    At 100 TB this is the right shape: the hot scan touches int8
    codes (4× less I/O than float32, 8× less than float64) and ships
    only (id, score) pairs into a per-partition top-k
    (TakeOrderedAndProject — no global sort). The rerank is a second
    column-pruned scan whose rows die at the broadcast hash join
    (only k·refine survive; with an at-rest id-partitioned code table
    à la :func:`ivf_write_index`, this becomes partition-pruned point
    reads instead). Approximation error is auditable: the emitted
    ``approx_cosine`` sits next to the exact ``cosine``.

    All-zero corpus vectors quantize to all-zero codes and are
    excluded (their cosine is undefined); an all-zero query raises."""
    codes, qnormq = _sq8_quantize(query)
    qarr = F.array(*[F.lit(int(c)).cast("long") for c in codes])

    v = F.col(vec_col)
    absmax = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    qc = F.transform(
        F.col("v"),
        lambda x: F.when(
            F.col("scale") > 0,
            F.round(x.cast("double") / F.col("scale"), 0).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    quant = embs.select(
        F.col(id_col), v.alias("v"), (absmax / F.lit(127.0)).alias("scale")
    ).select(F.col(id_col), "v", qc.alias("q"))
    dotq = F.aggregate(
        F.zip_with(F.col("q"), qarr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qnc = F.aggregate(
        F.transform(F.col("q"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = quant.select(
        F.col(id_col), dotq.alias("dotq"), qnc.alias("qnc")
    ).where(F.col("qnc") > 0)
    approx = F.col("dotq").cast("double") / (
        F.sqrt(F.col("qnc").cast("double"))
        * F.lit(math.sqrt(float(qnormq)))
    )
    cands = (
        scored.select(F.col(id_col), approx.alias("approx"))
        .orderBy(F.col("approx").desc(), F.col(id_col))
        .limit(k * refine)
    )
    reranked = cosine_scores(
        embs.join(F.broadcast(cands), id_col), query, vec_col
    )
    return (
        reranked.where(F.col("cosine").isNotNull())
        .select(
            F.col(id_col),
            F.col("cosine"),
            F.round(F.col("approx"), 6).alias("approx_cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


PQ_M = 8  # subspaces
PQ_KSUB = 16  # codewords per subspace


def pq_seeds(
    embs: DataFrame,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic PQ codebook seeds: the ``ksub`` lowest-id vectors,
    collected to the driver (the index *build* step — a few KB, the
    same shape as :func:`ivf_centroids`; the corpus is never
    collected). Deterministic seeds instead of per-subspace k-means
    keep the whole pipeline bit-reproducible by a SQL oracle; at
    100 TB you'd train real sub-quantizers on a sample and the
    (unchanged) encode/ADC below would consume them."""
    rows = (
        embs.select(id_col, vec_col).orderBy(id_col).limit(ksub).collect()
    )
    return [[float(x) for x in r[1]] for r in rows]


def _pq_int_codebook(
    seeds: list[list[float]],
) -> tuple[list[list[int]], float]:
    """Quantize the seed vectors to int8 codewords under ONE global
    scale (absmax over every component / 127) with the same
    Decimal-ROUND_HALF_UP code derivation as :func:`_sq8_quantize` —
    a single scale (not per-subspace) so it cancels against the
    query's own scale in the cosine, keeping the ADC score exact
    integer sums. Returns (integer codewords, scale)."""
    from decimal import ROUND_HALF_UP, Decimal

    absmax = max((abs(float(x)) for v in seeds for x in v), default=0.0)
    if absmax == 0:
        raise ValueError("cannot build a PQ codebook from all-zero seeds")
    scale = absmax / 127.0
    if scale == 0.0:
        raise ValueError("PQ seeds too small to quantize (scale underflows)")
    codes = [
        [
            int(
                Decimal(float(x) / scale).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
            for x in v
        ]
        for v in seeds
    ]
    return codes, scale


def _pq_encode_arrow(
    recon: list[list[float]],
    recon_n2: list[list[float]],
    m: int,
    dsub: int,
):
    """Arrow-batched PQ encoder: bit-identical codes to the HOF
    fold-chain path (see :func:`pq_topk` stage 2), ~10× cheaper.

    Exactness argument — why NumPy here does not break the oracle:

    - per-element products ``v_i · recon_i`` are the same IEEE-double
      multiplies (`float32 → float64` widening is exact);
    - the dot is ``np.add.accumulate(...)[..., -1]`` — *accumulate* is
      defined as the sequential scan ``out[i] = out[i-1] + a[i]``, i.e.
      exactly the left-associative chain ``F.aggregate`` folds (the
      HOF's extra ``0.0 +`` seed can only flip the sign of an exact
      zero, which compares equal everywhere and so cannot change an
      argmin index);
    - ``score = dot · (−2.0) + ‖c‖²`` is the same two IEEE ops;
    - ``np.argmin`` takes the *first* minimum — the same lowest-index
      tie-break as ``array_min`` over ``struct(d, j)``. NaN scores are
      mapped to +inf first (Spark sorts NaN strictly AFTER +inf), and
      the one case where that mapping could misorder — a genuine +inf
      score coexisting with a NaN in the same subspace, where the
      mapped argmin could land on the earlier NaN index while Spark's
      struct min picks the first genuine +inf — is repaired
      explicitly below (round-9 ADVICE; unreachable with finite
      codebooks, but the bit-exactness contract shouldn't carry an
      asterisk).

    The win is not float shortcuts but plan shape: the HOF path builds
    m·ksub interpreted fold chains (128 ``aggregate`` expressions with
    literal arrays) whose *construction and analysis alone* cost ~11 s
    — the kernel is one ArrowEvalPython node."""
    cw = np.asarray(recon, dtype=np.float64)  # (ksub, d)
    ksub = cw.shape[0]
    csub = cw.reshape(ksub, m, dsub)  # (ksub, m, dsub)
    n2 = np.asarray(recon_n2, dtype=np.float64).T  # (ksub, m)

    @pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        out: list = [None] * len(vs)
        idx = [i for i, v in enumerate(vs) if v is not None]
        for lo in range(0, len(idx), 2048):
            chunk = idx[lo : lo + 2048]
            v = np.stack([np.asarray(vs.iloc[i]) for i in chunk]).astype(
                np.float64
            )  # (n, d)
            prods = v.reshape(len(chunk), 1, m, dsub) * csub[None]
            dot = np.add.accumulate(prods, axis=3)[..., -1]  # (n, ksub, m)
            score = dot * -2.0 + n2[None]
            nanmask = np.isnan(score)
            score_m = np.where(nanmask, np.inf, score)
            codes = np.argmin(score_m, axis=1).astype(np.int32)  # (n, m)
            # If the winner is a MAPPED NaN, every genuine score in
            # that subspace is exactly +inf (anything smaller would
            # have won outright): re-point to the first genuine +inf,
            # matching struct array_min's NaN-after-inf order. All-NaN
            # subspaces keep the first index (equal structs → lowest
            # j on both sides).
            chosen_is_nan = np.take_along_axis(
                nanmask, codes[:, None, :], axis=1
            )[:, 0, :]
            if chosen_is_nan.any():
                genuine_inf = ~nanmask & np.isposinf(score)
                fix = chosen_is_nan & genuine_inf.any(axis=1)
                codes = np.where(
                    fix, np.argmax(genuine_inf, axis=1).astype(np.int32),
                    codes,
                )
            for row, i in zip(codes, chunk):
                out[i] = row
        return pd.Series(out)

    return encode


def pq_encode(
    embs: DataFrame,
    recon: list[list[float]],
    recon_n2: list[list[float]],
    m: int = PQ_M,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    arrow_encode: bool = True,
) -> DataFrame:
    """Assign each corpus vector its ``m`` nearest-codeword indices
    (columns ``c0..c{m-1}``) against the reconstructed codebook
    ``recon`` (with precomputed ``recon_n2[s][j] = ‖c‖²`` per
    subspace), via the ADC identity
    argmin ‖v−c‖² ≡ argmin (−2·v·c + ‖c‖²), ties to the lowest
    codeword index.

    Both paths emit bit-identical codes (law-tested):
    ``arrow_encode=True`` (default) runs one Arrow-batched NumPy
    kernel; ``False`` builds the m·ksub pure-expression fold chains —
    ~10× slower in plan construction+analysis alone, kept as the
    oracle-shaped witness."""
    ksub = len(recon)
    d = len(recon[0])
    dsub = d // m
    if arrow_encode:
        enc_udf = _pq_encode_arrow(recon, recon_n2, m, dsub)
        return embs.select(
            F.col(id_col), enc_udf(F.col(vec_col)).alias("_codes")
        ).select(
            F.col(id_col),
            *[
                F.element_at("_codes", s + 1).alias(f"c{s}")
                for s in range(m)
            ],
        )
    v = F.col(vec_col)
    code_cols = []
    for s in range(m):
        sub = F.slice(v, s * dsub + 1, dsub)
        cands = []
        for j in range(ksub):
            cw_arr = F.array(
                *[
                    F.lit(float(recon[j][s * dsub + i]))
                    for i in range(dsub)
                ]
            )
            dot = F.aggregate(
                F.zip_with(sub, cw_arr, lambda x, c: x.cast("double") * c),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            score = dot * F.lit(-2.0) + F.lit(float(recon_n2[s][j]))
            cands.append(F.struct(score.alias("d"), F.lit(j).alias("j")))
        code_cols.append(F.array_min(F.array(*cands))["j"].alias(f"c{s}"))
    return embs.select(F.col(id_col), *code_cols)


def pq_topk(
    embs: DataFrame,
    query: list[float],
    k: int = 10,
    refine: int = 4,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seeds: list[list[float]] | None = None,
    arrow_encode: bool = True,
) -> DataFrame:
    """Product-quantization cosine top-k with exact rerank — the
    fourth ANN strategy next to LSH (:func:`ann_topk`), IVF
    (:func:`ivf_topk`), and scalar quantization (:func:`sq8_topk`),
    and the canonical 100 TB vector-serving shape (FAISS-style
    IVF-PQ's PQ half).

    Three stages:

    1. **Codebook** (driver-side, tiny): ``ksub`` deterministic seed
       vectors → int8 codewords under one global scale
       (:func:`_pq_int_codebook`).
    2. **Encode + ADC scan** (map-side, no shuffle): each corpus
       vector's ``m`` subvectors are assigned to their nearest
       reconstructed codeword via the ADC identity
       argmin ||v−c||² ≡ argmin (−2·v·c + ||c||²) (left-fold dot
       chains + precomputed ||c||², ties to the lowest codeword index
       — the argmin the oracle replays with ROW_NUMBER), then scored
       against the int8-quantized query via
       per-subspace INTEGER lookup tables: approx_cos =
       Σₛ lut_dot[s][codeₛ] / (√Σₛ lut_n2[s][codeₛ] · √Σqᵢ²). Because
       both sides carry one global scale, the scales cancel in the
       cosine and every cross-subspace aggregation is an exact int64
       sum — ORDER-FREE, the property that lets the oracle use plain
       SUM while the float-fold encode stays a fixed chain. The top
       ``k·refine`` by (approx DESC, id) survive a per-partition
       TakeOrdered — no global sort.
    3. **Exact rerank**: candidates broadcast-join back to the float
       vectors; exact fold-cosine picks the final ``k``; the emitted
       ``approx_cosine`` sits beside the exact ``cosine`` as the
       auditable quantization error.

    At scale the hot scan reads m log2(ksub)-bit codes per vector
    (64× less than float64 at m=8, ksub=16) once codes are stored
    at rest (à la :func:`ivf_write_index`); the rerank here is a
    second column-pruned scan whose rows die at the broadcast join —
    acceptable for this from-scratch form (the encode already scans
    the corpus), while the at-rest serving path
    (:func:`ivfpq_topk_indexed`) pushes the candidate ids into the
    float scan so probe cost stops tracking corpus size (measured
    decade in BASELINE.md). The encode runs
    by default as ONE Arrow-batched NumPy kernel
    (:func:`_pq_encode_arrow`) whose sequential ``np.add.accumulate``
    reproduces the fold chains bit-for-bit — ``arrow_encode=False``
    keeps the pure-expression HOF form (m·ksub interpreted fold
    chains), retained as the law-test witness that both paths emit
    identical codes (``test_pq_arrow_encode_matches_hof``).

    Corpus vectors whose matched codewords are all zero (an2 = 0)
    have no defined approximate cosine and are excluded from the
    candidate scan; all-zero queries raise (via
    :func:`_sq8_quantize`)."""
    sds = seeds if seeds is not None else pq_seeds(embs, ksub, id_col, vec_col)
    if not sds:  # empty corpus → empty result, stable schema
        return (
            cosine_scores(embs, query, vec_col)
            .select(
                F.col(id_col),
                F.col("cosine"),
                F.lit(None).cast("double").alias("approx_cosine"),
            )
            .limit(0)
        )
    cw_int, recon, recon_n2, dsub = _pq_train(sds, m)
    enc = pq_encode(
        embs,
        recon,
        recon_n2,
        m=m,
        vec_col=vec_col,
        id_col=id_col,
        arrow_encode=arrow_encode,
    )
    cands = _pq_adc_candidates(
        enc, query, cw_int, m, dsub, k, refine, id_col
    )
    return _pq_rerank(embs, cands, query, k, vec_col, id_col)


def _pq_train(
    sds: list[list[float]], m: int
) -> tuple[list[list[int]], list[list[float]], list[list[float]], int]:
    """Driver-side PQ codebook training shared by :func:`pq_topk`,
    :func:`ivfpq_topk` and :func:`ivfpq_write_index`: int8 codewords
    under one global scale (:func:`_pq_int_codebook`), their float
    reconstruction (Python float products — the same IEEE multiplies
    the oracle's ``scs.sc * round(...)`` computes), and the
    per-subspace ``||c||²`` table as a driver-side LEFT FOLD (the
    exact chain the oracle replays — see the ADC identity note in
    :func:`pq_topk`). Returns (cw_int, recon, recon_n2, dsub)."""
    d = len(sds[0])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    cw_int, scale = _pq_int_codebook(sds)
    recon = [[scale * c for c in row] for row in cw_int]
    # assignment score: argmin ||v_s - c||² ≡ argmin (-2·(v_s·c) + ||c||²)
    # — the row's own ||v_s||² is constant across codewords, so it
    # drops out (the standard ADC identity; halves the per-element
    # interpreted work vs. folding squared differences).
    recon_n2 = [
        [
            _py_fold(
                recon[j][s * dsub + i] * recon[j][s * dsub + i]
                for i in range(dsub)
            )
            for j in range(len(sds))
        ]
        for s in range(m)
    ]
    return cw_int, recon, recon_n2, dsub


def _pq_adc_candidates(
    enc: DataFrame,
    query: list[float],
    cw_int: list[list[int]],
    m: int,
    dsub: int,
    k: int,
    refine: int,
    id_col: str,
) -> DataFrame:
    """Integer-ADC candidate scan over a PQ-codes frame
    ``(id, c0..c{m-1})``: per-subspace INTEGER lookup tables against
    the int8-quantized query, exact int64 cross-subspace sums
    (order-free — the property that lets the oracle use plain SUM),
    top ``k·refine`` by (approx DESC, id) via a per-partition
    TakeOrdered. Shared by :func:`pq_topk` (codes encoded in-flight)
    and :func:`ivfpq_topk_indexed` (codes read at rest). Rows whose
    matched codewords are all zero (an2 = 0) have no defined
    approximate cosine and are excluded."""
    qcodes, qn2 = _sq8_quantize(query)
    ksub = len(cw_int)
    lut_dot = [
        [
            sum(qcodes[s * dsub + i] * cw_int[j][s * dsub + i]
                for i in range(dsub))
            for j in range(ksub)
        ]
        for s in range(m)
    ]
    lut_n2 = [
        [
            sum(cw_int[j][s * dsub + i] ** 2 for i in range(dsub))
            for j in range(ksub)
        ]
        for s in range(m)
    ]

    def lut_pick(table: list[list[int]], s: int) -> F.Column:
        arr = F.array(
            *[F.lit(int(table[s][j])).cast("long") for j in range(ksub)]
        )
        return F.element_at(arr, F.col(f"c{s}") + 1)

    adot = _fold_sum([lut_pick(lut_dot, s) for s in range(m)])
    an2 = _fold_sum([lut_pick(lut_n2, s) for s in range(m)])
    scored = enc.select(
        F.col(id_col), adot.alias("adot"), an2.alias("an2")
    ).where(F.col("an2") > 0)
    approx = F.col("adot").cast("double") / (
        F.sqrt(F.col("an2").cast("double"))
        * F.lit(math.sqrt(float(qn2)))
    )
    return (
        scored.select(F.col(id_col), approx.alias("approx"))
        .orderBy(F.col("approx").desc(), F.col(id_col))
        .limit(k * refine)
    )


def _pq_rerank(
    embs: DataFrame,
    cands: DataFrame,
    query: list[float],
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Exact rerank stage shared by the PQ family: the ``k·refine``
    candidates broadcast-join back to the float vectors; exact
    fold-cosine picks the final ``k``; the emitted ``approx_cosine``
    sits beside the exact ``cosine`` as the auditable quantization
    error."""
    reranked = cosine_scores(
        embs.join(F.broadcast(cands), id_col), query, vec_col
    )
    return (
        reranked.where(F.col("cosine").isNotNull())
        .select(
            F.col(id_col),
            F.col("cosine"),
            F.round(F.col("approx"), 6).alias("approx_cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivfpq_topk(
    embs: DataFrame,
    query: list[float],
    k: int = 10,
    refine: int = 4,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_centroids: int = IVF_CENTROIDS_N,
    n_probe: int = IVF_PROBES_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    seeds: list[list[float]] | None = None,
    arrow_encode: bool = True,
) -> DataFrame:
    """IVF-PQ cosine top-k — the two ANN halves composed into the
    canonical 100 TB vector-serving index (FAISS ``IndexIVFPQ``): the
    coarse quantizer (:func:`ivf_assign`) prunes the scan to the
    query's ``n_probe`` nearest cells, then the PQ integer-ADC scan +
    exact rerank (:func:`pq_topk`) runs only over the probed cells.

    Both codebooks are trained on the FULL corpus (deterministic
    lowest-id seeds, the same few-KB driver collects as the component
    operators), so the PQ codes of a vector are identical whether or
    not its cell is probed — at rest you store ``(cell, c0..c{m-1})``
    per vector, the scan reads m·log2(ksub) bits per row of only
    n_probe/n_centroids of the data (with a ``partitionBy(cell)``
    layout the probe filter is partition pruning, as in
    :func:`ivf_topk_indexed`), and the float vectors are touched only
    by the k·refine rerank join.

    Exactness laws (tested): with ``n_probe == n_centroids`` every
    cell is probed and the result equals :func:`pq_topk` exactly;
    the oracle replays the cell filter, the argmin encode, the
    integer ADC sums, and both rankings in SQL."""
    cents = centroids if centroids is not None else ivf_centroids(
        embs, n_centroids, id_col, vec_col
    )
    sds = seeds if seeds is not None else pq_seeds(
        embs, ksub, id_col, vec_col
    )
    if not cents or not sds:  # empty corpus → empty result, stable schema
        return (
            cosine_scores(embs, query, vec_col)
            .select(
                F.col(id_col),
                F.col("cosine"),
                F.lit(None).cast("double").alias("approx_cosine"),
            )
            .limit(0)
        )
    probes = ivf_query_probes(query, cents, n_probe)
    cand = embs.filter(ivf_assign(vec_col, cents).isin(probes))
    return pq_topk(
        cand,
        query,
        k=k,
        refine=refine,
        m=m,
        ksub=ksub,
        vec_col=vec_col,
        id_col=id_col,
        seeds=sds,
        arrow_encode=arrow_encode,
    )


def ivfpq_write_index(
    embs: DataFrame,
    path: str,
    centroids: list[list[float]] | None = None,
    seeds: list[list[float]] | None = None,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_centroids: int = IVF_CENTROIDS_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[list[float]], list[list[float]]]:
    """Materialize the IVF-PQ index at rest — the storage layout
    :func:`ivfpq_topk`'s docstring promises (FAISS ``IndexIVFPQ``
    serialized as a partition layout): per vector one row
    ``(id, c0..c{m-1})`` written parquet ``partitionBy("cell")``.
    Returns ``(centroids, seeds)`` — the only state a reader needs
    (a few KB; store them next to the index).

    Both codebooks train on the FULL corpus, so a vector's codes are
    identical whether or not its cell is later probed — which is what
    makes :func:`ivfpq_topk_indexed` exactly equal to the on-the-fly
    :func:`ivfpq_topk` (law-tested). One corpus scan computes cell
    (pure-expression :func:`ivf_assign`) and codes (one Arrow-batched
    kernel) side by side — no join, no shuffle beyond the write's own
    file layout; re-run to rebuild after codebook drift.

    At 100 TB this is the crossover winner the IVF A/B measured
    (BASELINE.md): the probe filter becomes partition PRUNING (the
    scan never opens 1 − n_probe/n_centroids of the data), the pruned
    scan reads m·log2(ksub) bits per row instead of the float
    vectors, and the encode cost is paid once at write time instead
    of per query."""
    import json
    import os

    cents = centroids if centroids is not None else ivf_centroids(
        embs, n_centroids, id_col, vec_col
    )
    sds = seeds if seeds is not None else pq_seeds(
        embs, ksub, id_col, vec_col
    )
    if not cents or not sds:
        raise ValueError("cannot build an IVF-PQ index from an empty corpus")
    _, recon, recon_n2, _ = _pq_train(sds, m)
    enc_udf = _pq_encode_arrow(recon, recon_n2, m, len(sds[0]) // m)
    (
        embs.select(
            F.col(id_col),
            enc_udf(F.col(vec_col)).alias("_codes"),
            ivf_assign(vec_col, cents).alias("cell"),
        )
        .select(
            F.col(id_col),
            *[F.element_at("_codes", s + 1).alias(f"c{s}") for s in range(m)],
            F.col("cell"),
        )
        # one coherent file per cell directory: the shuffled rows are
        # the 9-int code rows (~1000x smaller than the vectors), so
        # this exchange is cheap next to the encode scan — without it
        # every scan task writes a sliver into every cell (tasks x
        # cells files; at 1000 executors that is the small-files
        # problem at birth)
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    # codebook sidecar: the full reader state (KBs) travels WITH the
    # index — "_"-prefixed so scans ignore it (same convention as the
    # corpus-assignment fingerprint)
    with open(os.path.join(path, _IVFPQ_META_SIDECAR), "w") as f:
        json.dump(
            {"centroids": cents, "seeds": sds, "m": m, "ksub": ksub}, f
        )
    return cents, sds


_IVFPQ_META_SIDECAR = "_ivfpq_meta.json"


def ivfpq_merge_index(
    spark,
    new_embs: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally ingest new vectors into an at-rest IVF-PQ index
    (:func:`ivfpq_write_index` layout) — the write path that makes the
    index a living crawl artifact rather than a batch product, the
    same write-once/screen-forever discipline as
    ``dedup.incremental_neardup_indexed`` and the streaming semantic
    screen.

    The FROZEN codebooks come from the index's own meta sidecar (real
    systems freeze the quantizer when the index goes live — new data
    is encoded under the training-time codebooks; retrain+rebuild via
    :func:`ivfpq_write_index` when drift warrants). The new batch is
    encoded map-side and MERGE-upserted on ``id_col`` into only the
    cell partitions it touches
    (:func:`sinks.merge_upsert_parquet_partitioned`): ingestion cost
    tracks batch cell volume, not index size, re-ingesting an id
    replaces its codes idempotently, and every probe-side property
    (partition pruning, codes-only scan) is unchanged because the
    layout is unchanged.

    Exactness law (tested): merging batch B into an index built on
    corpus A, with A's codebooks, yields an index whose
    :func:`ivfpq_topk_indexed` result equals :func:`ivfpq_topk` over
    A ∪ B called with A's codebooks — codes are row-wise deterministic
    under a fixed codebook, so WHERE a row was encoded cannot show in
    WHAT was stored."""
    from real_time_stock_market_data_pipeline__spark.sinks import (
        merge_upsert_parquet_partitioned,
    )

    meta = ivfpq_read_meta(path)
    cents, sds, m = meta["centroids"], meta["seeds"], meta["m"]
    _, recon, recon_n2, _ = _pq_train(sds, m)
    enc_udf = _pq_encode_arrow(recon, recon_n2, m, len(sds[0]) // m)
    batch = new_embs.select(
        F.col(id_col),
        enc_udf(F.col(vec_col)).alias("_codes"),
        ivf_assign(vec_col, cents).alias("cell"),
    ).select(
        F.col(id_col),
        *[F.element_at("_codes", s + 1).alias(f"c{s}") for s in range(m)],
        F.col("cell"),
    )
    merge_upsert_parquet_partitioned(
        spark, batch, path, keys=[id_col], partition_col="cell"
    )


def ivfpq_read_meta(path: str) -> dict:
    """Load the codebook sidecar :func:`ivfpq_write_index` stores next
    to the codes — ``{"centroids", "seeds", "m", "ksub"}`` — so a
    reader needs only the index path (the FAISS-index-file ergonomics
    on top of the partition layout)."""
    import json
    import os

    with open(os.path.join(path, _IVFPQ_META_SIDECAR)) as f:
        return json.load(f)


def ivfpq_topk_indexed(
    spark,
    path: str,
    embs: DataFrame,
    query: list[float],
    centroids: list[list[float]] | None = None,
    seeds: list[list[float]] | None = None,
    k: int = 10,
    refine: int = 4,
    m: int = PQ_M,
    n_probe: int = IVF_PROBES_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query a materialized IVF-PQ index (:func:`ivfpq_write_index`
    layout) — the serving path of the canonical 100 TB vector index:

    1. the query's ``n_probe`` nearest cells (driver-side, same
       arithmetic as :func:`ivf_assign`) become an ``isin`` filter
       that lands in the scan's PartitionFilters (plan-asserted) —
       only n_probe cell directories are ever opened;
    2. the pruned scan reads ONLY the integer code columns
       (``ReadSchema`` excludes any float vector) into the shared
       integer-ADC candidate scan (:func:`_pq_adc_candidates`);
    3. the ``k·refine`` survivors broadcast-join back to ``embs`` —
       the float vectors are touched only by this point-lookup-sized
       rerank (:func:`_pq_rerank`).

    Result ≡ :func:`ivfpq_topk` with the same centroids/seeds
    (law-tested; codes are probe-independent because both codebooks
    trained on the full corpus), so it shares that oracle. Unlike the
    on-the-fly form, NO encode work happens at query time — the bench
    note in BASELINE.md records the crossover.

    ``centroids``/``seeds`` default to the codebook sidecar stored by
    :func:`ivfpq_write_index` (``ivfpq_read_meta``) — a reader needs
    only the path; ``m`` is likewise taken from the sidecar then.

    The rerank COLLECTS the ≤ k·refine candidate (id, approx) rows
    (bounded like the codebook collects) and pushes the id list into
    the float scan as an ``isin`` predicate — without it the rerank
    join would SCAN the whole float corpus to fetch 40 rows, and the
    measured probe cost tracked index size (3.4 s at 200k vectors →
    17 s at 2M on this host; with the pushdown the float scan prunes
    to the candidate row groups, see BASELINE.md). Results are
    identical — the same pairs feed the same exact-cosine rerank."""
    if centroids is None or seeds is None:
        meta = ivfpq_read_meta(path)
        centroids = centroids if centroids is not None else meta["centroids"]
        seeds = seeds if seeds is not None else meta["seeds"]
        m = meta["m"]
    cand_rows = _ivfpq_candidates(
        spark, path, query, centroids, seeds, k, refine, m, n_probe, id_col
    ).collect()
    if not cand_rows:
        return _pq_rerank(
            embs.filter(F.lit(False)),
            spark.createDataFrame([], f"{id_col} long, approx double"),
            query, k, vec_col, id_col,
        )
    cands = spark.createDataFrame(cand_rows)
    pruned = embs.filter(
        F.col(id_col).isin([r[0] for r in cand_rows])
    )
    return _pq_rerank(pruned, cands, query, k, vec_col, id_col)


def _ivfpq_candidates(
    spark,
    path: str,
    query: list[float],
    centroids: list[list[float]],
    seeds: list[list[float]],
    k: int,
    refine: int,
    m: int,
    n_probe: int,
    id_col: str,
) -> DataFrame:
    """The lazy candidate frame of :func:`ivfpq_topk_indexed` — the
    probed-cell code scan + integer-ADC top k·refine — factored out so
    the plan-assert tests inspect the exact frame the operator
    executes (PartitionFilters on ``cell``, codes-only ReadSchema)."""
    cw_int, _, _, dsub = _pq_train(seeds, m)
    probes = ivf_query_probes(query, centroids, n_probe)
    enc = spark.read.parquet(path).filter(F.col("cell").isin(probes))
    return _pq_adc_candidates(enc, query, cw_int, m, dsub, k, refine, id_col)


def silhouette_by_label(
    embs: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Simplified (centroid-based) silhouette score per label: for each
    vector, a = distance to its own label centroid, b = distance to
    the nearest other centroid, s = (b−a)/max(a,b); labels report
    their mean s — the standard cluster-quality audit, computed
    declaratively.

    Exactness: centroids come from :func:`embedding_centroids`
    (quantized-decimal means) and are re-quantized to 6 decimals;
    per-dimension distance terms are quantized to 12 decimals before
    the exact DECIMAL sum, so distances are partition-independent.

    Scale: the explode→centroid join costs |V|·d·L rows into a
    map-side partial aggregation (the same shape as the k-means assign
    step); the per-vector and per-label reductions run on |V|·L and
    |V| rows. Centroids are broadcast.
    """
    cent = embedding_centroids(embs, group_col=group_col, vec_col=vec_col).select(
        F.col(group_col).alias("clabel"),
        "dim",
        F.round("centroid", 6).alias("c"),
    )
    ex = embs.select(
        F.col(id_col),
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    ).select(
        F.col(id_col),
        F.col(group_col),
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.round(F.col("val").cast("double"), 6).alias("x"),
    )
    diff = F.col("x") - F.col("c")
    term = F.round(diff * diff, 12).cast("decimal(24,12)")
    d2 = (
        ex.join(F.broadcast(cent), "dim")
        .groupBy(id_col, group_col, "clabel")
        .agg(F.round(F.sqrt(F.sum(term).cast("double")), 6).alias("dist"))
    )
    sv = d2.groupBy(id_col, group_col).agg(
        F.max(F.when(F.col("clabel") == F.col(group_col), F.col("dist"))).alias(
            "a"
        ),
        F.min(F.when(F.col("clabel") != F.col(group_col), F.col("dist"))).alias(
            "b"
        ),
    )
    s = F.when(
        F.greatest(F.col("a"), F.col("b")) > 0,
        (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")),
    ).otherwise(F.lit(0.0))
    scored = sv.select(F.col(group_col), F.round(s, 6).alias("s"))
    return scored.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(
            F.sum(F.col("s").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_silhouette"),
    )


def pca_power_iteration(
    embs: DataFrame,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Top principal component of the (mean-centered) embedding matrix
    by power iteration, fully declarative — the iterative-algorithm
    counterpart of :func:`kmeans_step` (no driver loop over data: the
    ``n_iter`` matvec rounds are UNROLLED into one lineage, so the
    whole computation is a single Spark job).

    Each round is the distributed matvec ``w = Σ_rows x_c·(x_c·v)``:

    - per-row score  s_i = Σ_dim xc·v   (explode + broadcast-join the
      64-row v frame, decimal-summed — partition-order-exact);
    - per-dim update w_j = Σ_rows xc·s  (groupBy dim, map-side partial
      aggregation — the shuffle carries dims, not rows);
    - renormalize    v = w / ‖w‖       (a window over the dim-sized
      frame; ‖w‖ is also the eigenvalue estimate λ ≈ σ²·N on exit).

    Every intermediate double is quantized with the PURE-IEEE
    quantizer ``floor(x·10^k + 0.5)/10^k`` before its DECIMAL sum —
    deliberately NOT ``F.round``: Spark's round goes through Java 17's
    ``Double.toString``, which can emit a longer repr than the
    shortest round-trip form (e.g. -0.0050964999999999995 vs DuckDB's
    -0.0050965), and the two reprs round differently at the cut
    digit. floor/multiply/add are bit-defined IEEE ops that every
    engine evaluates identically, so the quantized lattice — and the
    whole iteration — replays exactly at any parallelism.

    Scale: the centered matrix is localCheckpointed once (2·n_iter
    consumers; without it each round re-reads the corpus). Per round:
    one vec_id shuffle (row scores) + one dim shuffle (64 partials) —
    the canonical n-pass shape of distributed PCA. DECIMAL(18,6) sums
    hold to ~1e12; at true 100 TB row counts widen to DECIMAL(28,6)
    (partials stay exact, only the final cast is a double).

    Output: one row per dimension — (dim, loading, lambda_est).
    """
    spark = embs.sparkSession

    def q(col: F.Column, k: int) -> F.Column:
        # IEEE half-up quantizer: floor(x*10^k + 0.5) / 10^k — see
        # docstring for why this replaces F.round here.
        return F.floor(col * F.lit(float(10**k)) + F.lit(0.5)) / F.lit(
            float(10**k)
        )

    x = embs.select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    ).select("vid", "dim", q(F.col("val").cast("double"), 6).alias("x6"))
    m = x.groupBy("dim").agg(
        q(
            F.sum(F.col("x6").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("m")
    )
    centered = (
        x.join(F.broadcast(m), "dim")
        .select("vid", "dim", q(F.col("x6") - F.col("m"), 6).alias("xc"))
        .localCheckpoint()
    )

    import math

    seed = 1.0 / math.sqrt(dim)
    v = spark.createDataFrame(
        [(j, seed) for j in range(dim)], "dim int, v double"
    )
    wall = Window.partitionBy()
    w_normed = None
    for _ in range(n_iter):
        s = (
            centered.join(F.broadcast(v), "dim")
            .groupBy("vid")
            .agg(
                F.sum(
                    q(F.col("xc") * F.col("v"), 9).cast("decimal(22,9)")
                )
                .cast("double")
                .alias("s")
            )
        )
        w = (
            centered.join(s, "vid")
            .groupBy("dim")
            .agg(
                F.sum(
                    q(F.col("xc") * F.col("s"), 6).cast("decimal(18,6)")
                )
                .cast("double")
                .alias("w")
            )
        )
        w_normed = w.withColumn(
            "nrm",
            F.sqrt(
                F.sum(
                    q(F.col("w") * F.col("w"), 6).cast("decimal(28,6)")
                )
                .over(wall)
                .cast("double")
            ),
        )
        v = w_normed.select(
            "dim", (F.col("w") * (F.lit(1.0) / F.col("nrm"))).alias("v")
        )
    return w_normed.select(
        F.col("dim").cast("bigint").alias("dim"),
        q(F.col("w") * (F.lit(1.0) / F.col("nrm")), 6).alias("loading"),
        q(F.col("nrm"), 4).alias("lambda_est"),
    )


def embedding_outliers(
    embs: DataFrame,
    top_pct: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-quality screen: for each label, the ``top_pct``% of
    vectors FURTHEST from their label centroid — mislabeled or
    corrupted embeddings surface here first (the QA pass a pipeline
    runs before training a classifier head on pooled embeddings).

    Distance² accumulates per-dimension quantized squared deviations
    into an exact DECIMAL sum (partition-order-independent); the
    cutoff is the same integer rank selection as `indicators.var_cvar`
    (k = ⌈pct·n/100⌉ via pure integer arithmetic). One explode (stays
    in partition), a broadcast join against the |labels|×dims centroid
    frame, one label-partitioned rank window.
    """
    x = embs.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("lbl"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    ).select(
        "vid", "lbl", (F.col("pos") + 1).alias("dim"),
        F.round(F.col("val").cast("double"), 6).alias("x6"),
    )
    def q6c(col: F.Column) -> F.Column:
        # IEEE half-up quantizer (floor/mul/add are bit-defined in
        # every engine) — F.round rides Java 17 Double.toString, whose
        # occasional long-form reprs round apart from DuckDB's
        # shortest-repr (see pca_power_iteration; hit here at sf0.001)
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    cents = embedding_centroids(
        embs, group_col=label_col, vec_col=vec_col
    ).select(
        F.col(label_col).alias("lbl"),
        F.col("dim"),
        q6c(F.col("centroid")).alias("c6"),
    )
    dev2 = q6c(
        (F.col("x6") - F.col("c6")) * (F.col("x6") - F.col("c6"))
    )
    dist = (
        x.join(F.broadcast(cents), ["lbl", "dim"])
        .groupBy("vid", "lbl")
        .agg(F.sum(dev2.cast("decimal(18,6)")).cast("double").alias("dist2"))
    )
    wo = Window.partitionBy("lbl").orderBy(F.col("dist2").desc(), F.col("vid"))
    wg = Window.partitionBy("lbl")
    # IEEE quantizer, not F.round: the display rounding sits on the
    # same Java-17-toString boundary pca_power_iteration documented
    # (hit here by one sf0.001 row at ...4875)
    q6 = F.floor(F.col("dist2") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    ranked = dist.select(
        "vid",
        "lbl",
        q6.alias("dist2"),
        F.row_number().over(wo).alias("rnk"),
        F.count(F.lit(1)).over(wg).alias("n"),
    ).withColumn(
        "k",
        ((F.col("n") * F.lit(top_pct) + 99)
         - F.pmod(F.col("n") * F.lit(top_pct) + 99, 100)) / 100,
    )
    return ranked.where(F.col("rnk") <= F.col("k")).select(
        F.col("vid").alias(id_col),
        F.col("lbl").alias(label_col),
        "dist2",
        F.col("rnk").cast("bigint").alias("outlier_rank"),
    )


def random_projection(
    embs: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    in_dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Johnson–Lindenstrauss sketch: project each embedding onto
    ``out_dim`` deterministic ±1 hyperplanes (sign of an md5 hash of
    the (in-dim, out-dim) cell — the same engine-portable pseudo-
    randomness as the MinHash constants), scaled by 1/√out_dim. The
    dimensionality-reduction step before a cheaper ANN index or a
    coarse dedup pass; inner products are preserved in expectation
    with variance 1/out_dim.

    Exactness: inputs are quantized to 6 decimals; a ±1 sign keeps
    the products exactly on the DECIMAL(18,6) lattice, so the per-
    component sums are exact and the single √-scale division is the
    only float op. Output is long form (id, out dim, component) —
    array cells don't survive driver canonicalization, and the long
    form feeds the existing long-form centroid/quantize operators.

    Shape: the projection matrix is in_dim·out_dim rows built from
    ``spark.range`` (no data scan), broadcast into the explode join;
    one (id, k) aggregation — cost in_dim·out_dim per vector but one
    shuffle carrying out_dim rows per vector.
    """
    spark = embs.sparkSession
    proj = spark.range(in_dim * out_dim).select(
        (F.col("id") / out_dim).cast("int").alias("dim"),
        (F.col("id") % out_dim).cast("int").alias("k"),
        (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("rp:"),
                                (F.col("id") / out_dim)
                                .cast("int")
                                .cast("string"),
                                F.lit(":"),
                                (F.col("id") % out_dim)
                                .cast("int")
                                .cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            )
            * 2
            - 1
        ).alias("sign"),
    )
    x = embs.select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col)).alias("dim", "xval"),
    ).select(
        "vid",
        "dim",
        F.round(F.col("xval").cast("double"), 6)
        .cast("decimal(18,6)")
        .alias("x6"),
    )
    joined = x.join(F.broadcast(proj), "dim")
    return (
        joined.groupBy("vid", "k")
        .agg(
            F.round(
                # ±1 applied as a CASE negation keeps the sum on the
                # exact DECIMAL lattice with identical typing on every
                # engine (a decimal×integer product promotes
                # differently across engines)
                F.sum(
                    F.when(F.col("sign") == 1, F.col("x6")).otherwise(
                        -F.col("x6")
                    )
                ).cast("double")
                / F.sqrt(F.lit(float(out_dim))),
                6,
            ).alias("component")
        )
        .select(
            F.col("vid").alias(id_col),
            F.col("k").alias("out_dim"),
            "component",
        )
    )


def centroid_similarity(
    embs: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the cluster-confusability report read next to the
    silhouette audit (two labels with near-1 centroid cosine are
    candidates for merging before a balance-aware sample).

    Builds on :func:`embedding_centroids` (long form, exact decimal
    means); centroids are quantized with the bit-defined IEEE half-up
    quantizer ``floor(x·10^6 + 0.5)/10^6`` (NOT round — see
    :func:`pca_power_iteration` for the Double.toString trap), pair
    products and squared norms likewise at 12 digits before exact
    DECIMAL sums, and the one cosine division runs in a fixed operand
    order — fully engine-replayable. The self-join is on the dim key
    of a label×dim-sized frame: dimension-scale work after one corpus
    aggregation, never a corpus self-join.
    """

    def q(col: F.Column, k: int) -> F.Column:
        return F.floor(col * F.lit(float(10**k)) + F.lit(0.5)) / F.lit(
            float(10**k)
        )

    cent = embedding_centroids(embs, group_col=label_col, vec_col=vec_col)
    cq = cent.select(
        F.col(label_col).alias("lbl"),
        "dim",
        q(F.col("centroid"), 6).alias("c"),
    )
    a = cq.select(F.col("lbl").alias("label_a"), "dim", F.col("c").alias("ca"))
    b = cq.select(F.col("lbl").alias("label_b"), "dim", F.col("c").alias("cb"))
    pairs = a.join(b, "dim").where(F.col("label_a") < F.col("label_b"))

    def dsum(col: F.Column) -> F.Column:
        return F.sum(q(col, 12).cast("decimal(28,12)")).cast("double")

    agg = pairs.groupBy("label_a", "label_b").agg(
        dsum(F.col("ca") * F.col("cb")).alias("dot"),
        dsum(F.col("ca") * F.col("ca")).alias("na"),
        dsum(F.col("cb") * F.col("cb")).alias("nb"),
    )
    cos = F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb")))
    return agg.select(
        "label_a",
        "label_b",
        q(F.when((F.col("na") > 0) & (F.col("nb") > 0), cos), 6).alias(
            "cosine"
        ),
    )


def knn_label_eval(
    embs: DataFrame,
    query_mod: int = 50,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """kNN label-prediction harness: for a deterministic query sample
    (ids ≡ 0 mod ``query_mod``), predict each query's label by
    majority vote of its ``k`` exact nearest neighbors (self
    excluded) and report prediction vs truth — the
    labeled-embedding-quality eval that sits next to ``ann_recall``
    (retrieval quality) and ``silhouette`` (cluster geometry).

    Exact-by-construction: :func:`ivf_knn_join` probed at ALL cells
    is brute force (property-tested equivalence) while keeping the
    cell equi-join plan — never a cartesian on the Spark side. Self
    is fetched as the (k+1)-th candidate and dropped, then the vote
    reranks with the (count desc, label asc) deterministic tiebreak.

    Scale: one corpus scan for cell assignment + one broadcast-batch
    equi-join; votes and majority run on k·|queries| rows.
    """
    queries = embs.where(F.col(id_col) % query_mod == 0)
    nn = ivf_knn_join(
        embs,
        queries,
        k=k + 1,
        n_probe=IVF_CENTROIDS_N,
        vec_col=vec_col,
        id_col=id_col,
        q_vec_col=vec_col,
        q_id_col=id_col,
    ).where(F.col("nn_id") != F.col("query_id"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nn_id")
    )
    topk = nn.withColumn("__rn", F.row_number().over(wq)).where(
        F.col("__rn") <= k
    )
    votes = topk.join(
        embs.select(F.col(id_col).alias("nn_id"), F.col(label_col)), "nn_id"
    ).groupBy("query_id", label_col).agg(F.count(F.lit(1)).alias("n_votes"))
    wm = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col(label_col)
    )
    maj = (
        votes.withColumn("__rn", F.row_number().over(wm))
        .where(F.col("__rn") == 1)
        .select(
            "query_id",
            F.col(label_col).alias("predicted_label"),
            "n_votes",
        )
    )
    truth = embs.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return maj.join(truth, "query_id").select(
        "query_id",
        "true_label",
        "predicted_label",
        "n_votes",
        (F.col("true_label") == F.col("predicted_label"))
        .cast("int")
        .alias("correct"),
    )


def embedding_dispersion(
    embs: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Within-cluster dispersion report: per label, the mean and
    minimum cosine of members to their OWN label centroid, and
    dispersion = 1 − mean cosine — the compactness companion of
    :func:`silhouette_by_label` (separation) and
    :func:`centroid_similarity` (confusability); a high-dispersion
    label is a candidate for splitting before balance-aware sampling.

    Exactness: centroids and member coordinates are quantized with
    the IEEE 1e-6 quantizer, per-member dot/norm products at 1e-12
    before DECIMAL sums, member cosines quantized before the exact
    per-label DECIMAL mean. The centroid frame is label×dim-sized and
    broadcasts into the member explode join — one corpus pass.
    """

    def q(col: F.Column, kk: int) -> F.Column:
        return F.floor(col * F.lit(float(10**kk)) + F.lit(0.5)) / F.lit(
            float(10**kk)
        )

    cent = embedding_centroids(embs, group_col=label_col, vec_col=vec_col)
    cq = cent.select(
        F.col(label_col).alias("lbl"), "dim", q(F.col("centroid"), 6).alias("c")
    )
    cnorm = cq.groupBy("lbl").agg(
        F.sum(q(F.col("c") * F.col("c"), 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("cn2")
    )
    x = embs.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("lbl"),
        F.posexplode(F.col(vec_col)).alias("pos", "xv"),
    ).select(
        "vid",
        "lbl",
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        q(F.col("xv").cast("double"), 6).alias("x6"),
    )
    per_member = (
        x.join(F.broadcast(cq), ["lbl", "dim"])
        .groupBy("vid", "lbl")
        .agg(
            F.sum(q(F.col("x6") * F.col("c"), 12).cast("decimal(28,12)"))
            .cast("double")
            .alias("dot"),
            F.sum(q(F.col("x6") * F.col("x6"), 12).cast("decimal(28,12)"))
            .cast("double")
            .alias("xn2"),
        )
    )
    cosed = per_member.join(F.broadcast(cnorm), "lbl").select(
        "lbl",
        q(
            F.when(
                (F.col("xn2") > 0) & (F.col("cn2") > 0),
                F.col("dot") / (F.sqrt(F.col("xn2")) * F.sqrt(F.col("cn2"))),
            ),
            6,
        ).alias("cos_c"),
    )
    return cosed.groupBy(F.col("lbl").alias(label_col)).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(
            F.sum(F.col("cos_c").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_cos"),
        F.min("cos_c").alias("min_cos"),
        F.round(
            1
            - F.sum(F.col("cos_c").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("dispersion"),
    )


# ---------------------------------------------------------------------------
# Binary (1-bit) sign quantization — Hamming scan + exact rerank
# ---------------------------------------------------------------------------

#: bits per packed signature lane (two 32-bit lanes hold a 64-dim sign
#: signature; 32-bit sums never overflow a signed long, so the packing
#: arithmetic is plain integer addition in any engine — no unsigned or
#: wraparound semantics needed).
BQ_LANE_BITS = 32


def bq_dim_means(
    embs: DataFrame, vec_col: str = "embedding", dim: int = EMBEDDING_DIM
) -> list[float]:
    """Per-dimension corpus means — the sign-quantization thresholds.

    Decimal-exact (Σ DECIMAL(18,6) / count, the repo-wide `_exact_avg`
    recipe), so the 64 doubles are identical no matter how the scan is
    partitioned and a SQL engine re-derives the same thresholds.
    One aggregation pass, 64-value driver fetch (bounded: dim scalars,
    like the k-centroid collects)."""
    v = F.col(vec_col)
    row = embs.agg(
        *[
            (
                F.sum(
                    v.getItem(j).cast("double").cast("decimal(18,6)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias(f"m{j}")
            for j in range(dim)
        ]
    ).first()
    return [float(row[f"m{j}"]) for j in range(dim)]


def _bq_lane_cols(
    vec_col: str, means: list[float], dim: int = EMBEDDING_DIM
) -> list[F.Column]:
    """Packed sign-signature lanes: bit j of lane L is set iff
    x[32L+j] > mean[32L+j]. Unrolled integer CASE sum — JVM codegen,
    replayable verbatim in SQL."""
    v = F.col(vec_col)
    lanes = []
    for lane in range(dim // BQ_LANE_BITS):
        terms = [
            F.when(
                v.getItem(lane * BQ_LANE_BITS + j).cast("double")
                > F.lit(float(means[lane * BQ_LANE_BITS + j])),
                F.lit(1 << j).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for j in range(BQ_LANE_BITS)
        ]
        lanes.append(_fold_sum(terms))
    return lanes


def bq_topk(
    embs: DataFrame,
    query: list[float],
    k: int = 10,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    means: list[float] | None = None,
) -> DataFrame:
    """Binary sign-quantized cosine top-k with exact rerank — the
    1-bit-per-dimension member of the quantization family (64× less
    hot-scan I/O than float64), completing LSH / IVF / SQ8 / PQ /
    IVF-PQ with the cheapest candidate generator of all: XOR +
    popcount (Charikar 2002 sign hashes, served asymmetric like a
    binary FAISS index).

    Two stages:

    1. **Hamming scan**: every vector is packed to a 64-bit sign
       signature (bit = dimension above its corpus mean) held in two
       32-bit integer lanes; the query packs driver-side with the SAME
       thresholds. Distance = popcount(sig ⊕ qsig) summed over lanes —
       pure integer ops, bit-identical in any engine, no float
       anywhere. Top ``k*refine`` by (hamming ASC, id ASC) survive.
    2. **Exact rerank**: candidates broadcast-join back to the float
       vectors; exact fold-cosine picks the final k.

    At 100 TB the scan reads 8 bytes/vector (vs 512 for float64): two
    long columns + the id, a per-partition bottom-k
    (TakeOrderedAndProject), no shuffle of the corpus. With the
    signatures materialized at rest this is a metadata-only scan of a
    two-column table. Thresholds are decimal-exact corpus means
    (:func:`bq_dim_means` — pass ``means`` to reuse stored ones and
    skip the aggregation pass, the at-rest deployment shape).

    All-zero (or any) corpus vectors still get signatures; vectors
    whose exact cosine is undefined (zero norm) are dropped at rerank,
    mirroring :func:`sq8_topk`."""
    dim = len(query)
    mu = means if means is not None else bq_dim_means(embs, vec_col, dim)
    if len(mu) != dim:
        raise ValueError(f"means/query dim mismatch: {len(mu)} vs {dim}")
    qlanes = []
    for lane in range(dim // BQ_LANE_BITS):
        acc = 0
        for j in range(BQ_LANE_BITS):
            if float(query[lane * BQ_LANE_BITS + j]) > mu[
                lane * BQ_LANE_BITS + j
            ]:
                acc += 1 << j
        qlanes.append(acc)
    lanes = _bq_lane_cols(vec_col, mu, dim)
    sig = embs.select(
        F.col(id_col),
        *[ln.alias(f"sig{i}") for i, ln in enumerate(lanes)],
    )
    ham = _fold_sum(
        [
            F.bit_count(
                F.col(f"sig{i}").bitwiseXOR(F.lit(q).cast("long"))
            ).cast("long")
            for i, q in enumerate(qlanes)
        ]
    ).cast("int")
    cands = (
        sig.select(F.col(id_col), ham.alias("hamming"))
        .orderBy(F.asc("hamming"), F.col(id_col))
        .limit(k * refine)
    )
    reranked = cosine_scores(
        embs.join(F.broadcast(cands), id_col), query, vec_col
    )
    return (
        reranked.where(F.col("cosine").isNotNull())
        .select(F.col(id_col), F.col("cosine"), F.col("hamming"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _bq_meta_path(path: str) -> str:
    """Sidecar lives NEXT TO the index directory (not inside), so a
    sibling file survives every rewrite of the directory (compaction
    swaps, rebuilds)."""
    return path.rstrip("/") + "._bq_meta.json"


def bq_write_index(
    embs: DataFrame,
    path: str,
    means: list[float] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_buckets: int | None = None,
) -> list[float]:
    """Materialize the binary sign-signature table at rest: one
    (id, sig0, sig1) row per vector — 8 signature bytes instead of the
    float payload — plus a ``_bq_meta.json`` sidecar holding the
    threshold means and the layout (all the state a reader needs,
    KBs). The Hamming scan then reads a three-integer-column table at
    metadata speed; the float vectors are touched only by the rerank.
    Same overwrite / sidecar discipline as :func:`ivf_write_index`.

    The table is laid out in ``bp=<batch_id>`` batch partitions
    (``bp=-1`` is the base build): vector ids are NEW every ingest
    batch (the crawl contract), so
    :func:`streaming.pipeline.stream_bq_ingest` APPENDS each batch's
    signatures as a fresh partition via dynamic partition overwrite —
    O(batch) per drain with nothing stored ever read or rewritten,
    replay-idempotent by layout (a replayed checkpoint batch
    overwrites its own partition). Measured on the DSIR service: flat
    per-drain cost across a 16x corpus decade, 8.6x over the id-hash
    -bucketed MERGE this replaces (a uniformly-hashed crawl batch
    touches ALL buckets, re-introducing an O(index) read per batch).
    The scan side is unaffected: the probe reads every partition
    either way — signatures have no pruning axis. ``n_buckets`` is
    DEPRECATED: it tuned the retired round-14 id-hash-bucketed MERGE
    layout and has no effect on the bp layout, so passing it warns
    (round-15 ADVICE — a caller explicitly tuning bucket count must
    not get a silently different layout); it will be removed once the
    last legacy caller is gone.
    """
    import json

    if n_buckets is not None:
        import warnings

        warnings.warn(
            "bq_write_index(n_buckets=...) is deprecated and has no "
            "effect: the index uses the bp=<batch_id> batch-partition "
            "layout, which has no bucket count",
            DeprecationWarning,
            stacklevel=2,
        )
    mu = means if means is not None else bq_dim_means(embs, vec_col)
    lanes = _bq_lane_cols(vec_col, mu, len(mu))
    (
        embs.select(
            F.col(id_col),
            *[ln.alias(f"sig{i}") for i, ln in enumerate(lanes)],
            F.lit(-1).cast("long").alias("bp"),
        )
        .write.mode("overwrite")
        .partitionBy("bp")
        .parquet(path)
    )
    with open(_bq_meta_path(path), "w") as f:
        json.dump({"means": mu, "id_col": id_col}, f)
    return mu


def bq_topk_indexed(
    spark,
    embs: DataFrame,
    path: str,
    query: list[float],
    k: int = 10,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query a materialized signature table (``bq_write_index``
    layout): the query packs driver-side against the sidecar means,
    the XOR+popcount scan touches only the stored integer lanes, and
    the exact rerank broadcast-joins the ≤ k·refine survivors back to
    the float vectors. Signatures are query-independent, so the
    result ≡ :func:`bq_topk` with the same means."""
    import json
    import os

    with open(_bq_meta_path(path)) as f:
        meta = json.load(f)
    mu = [float(x) for x in meta["means"]]
    # the sidecar records the id column the index was BUILT with; trust
    # it over the parameter so a non-default build cannot silently
    # mismatch (the stream_bm25_ingest wiring lesson)
    id_col = meta.get("id_col", id_col)
    dim = len(mu)
    qlanes = []
    for lane in range(dim // BQ_LANE_BITS):
        acc = 0
        for j in range(BQ_LANE_BITS):
            if float(query[lane * BQ_LANE_BITS + j]) > mu[
                lane * BQ_LANE_BITS + j
            ]:
                acc += 1 << j
        qlanes.append(acc)
    sig = spark.read.parquet(path)
    ham = _fold_sum(
        [
            F.bit_count(
                F.col(f"sig{i}").bitwiseXOR(F.lit(q).cast("long"))
            ).cast("long")
            for i, q in enumerate(qlanes)
        ]
    ).cast("int")
    # bounded driver fetch (k·refine rows, the codebook-collect class):
    # pushing the candidate ids into the float scan as an isin makes
    # the rerank row-group pruning instead of a full-corpus read — the
    # round-12 ivfpq_topk_indexed lesson (probe cost must not track
    # corpus size)
    cand_rows = (
        sig.select(F.col(id_col), ham.alias("hamming"))
        .orderBy(F.asc("hamming"), F.col(id_col))
        .limit(k * refine)
        .collect()
    )
    cand_ids = [r[id_col] for r in cand_rows]
    cands = spark.createDataFrame(
        [(r[id_col], r["hamming"]) for r in cand_rows],
        f"{id_col}: long, hamming: int",
    )
    reranked = cosine_scores(
        embs.filter(F.col(id_col).isin(cand_ids)).join(
            F.broadcast(cands), id_col
        ),
        query,
        vec_col,
    )
    return (
        reranked.where(F.col("cosine").isNotNull())
        .select(F.col(id_col), F.col("cosine"), F.col("hamming"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def hard_negatives(
    embs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = IVF_CENTROIDS_N,
    n_probe: int = IVF_PROBES_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor
    in ``queries``, the ``k`` most similar corpus vectors whose label
    DIFFERS from the anchor's (self excluded) — the batched retrieval
    that builds (anchor, hard-negative) pairs for embedding-model
    fine-tuning (in-batch negatives are easy; the informative ones are
    the nearest wrong-label neighbors).

    Same plan shape as :func:`ivf_knn_join` (map-side cell assignment,
    broadcast anchor probes, cell equi-join — never a cartesian), with
    the label-mismatch filter applied BEFORE the per-anchor top-k
    window, so every anchor gets k true negatives rather than a
    post-filtered remnant. NULL-label corpus rows are dropped by the
    filter (a NULL cannot be certified as a different class — same
    three-valued logic in the SQL oracle). Output:
    (query_id, anchor_label, nn_id, negative_label, cosine)."""
    cents = centroids if centroids is not None else ivf_centroids(
        embs, n_centroids, id_col, vec_col
    )
    dim = len(cents[0])
    corpus = embs.select(
        F.col(id_col).alias("nn_id"),
        F.col(label_col).alias("negative_label"),
        F.col(vec_col).alias("__cv"),
        ivf_assign(vec_col, cents).alias("__cell"),
        _norm_fold(vec_col, dim).alias("__cn"),
    )
    scored = F.array(
        *[
            F.struct(
                (_dot_fold(vec_col, c) * F.lit(_inv_norm(c))).alias(
                    "s"
                ),
                F.lit(-i).alias("ni"),
            )
            for i, c in enumerate(cents)
        ]
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("anchor_label"),
        F.col(vec_col).alias("__qv"),
        _norm_fold(vec_col, dim).alias("__qn"),
        F.explode(
            F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
        ).alias("__p"),
    ).select(
        "query_id",
        "anchor_label",
        "__qv",
        "__qn",
        (-F.col("__p.ni")).alias("__cell"),
    )
    cand = corpus.join(F.broadcast(probes), "__cell").filter(
        (F.col("negative_label") != F.col("anchor_label"))
        & (F.col("nn_id") != F.col("query_id"))
    )
    prods = F.zip_with(
        F.col("__cv"),
        F.col("__qv"),
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    nc, nq = F.col("__cn"), F.col("__qn")
    scored_cand = cand.select(
        "query_id",
        "anchor_label",
        "nn_id",
        "negative_label",
        F.when((nc > 0) & (nq > 0), dot / (nc * nq)).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("nn_id")
    )
    return (
        scored_cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def contrastive_pairs(
    embs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = IVF_CENTROIDS_N,
    n_probe: int = IVF_PROBES_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Full contrastive-pair mining: for every anchor, the ``k``
    nearest SAME-label corpus vectors (hard positives, self excluded)
    AND the ``k`` nearest DIFFERENT-label ones (hard negatives) from
    ONE candidate pass — the (anchor, positive, negative) triplet feed
    for embedding-model fine-tuning.

    One IVF cell equi-join produces the candidates (the
    :func:`hard_negatives` plan); ``pair_type`` comes from the label
    comparison and the per-(anchor, pair_type) top-k windows run over
    the same scored frame, so positives cost no second scan. NULL-label
    candidates drop (a NULL certifies neither side). Output:
    (query_id, anchor_label, pair_type, nn_id, pair_label, cosine)."""
    cents = centroids if centroids is not None else ivf_centroids(
        embs, n_centroids, id_col, vec_col
    )
    dim = len(cents[0])
    corpus = embs.select(
        F.col(id_col).alias("nn_id"),
        F.col(label_col).alias("pair_label"),
        F.col(vec_col).alias("__cv"),
        ivf_assign(vec_col, cents).alias("__cell"),
        _norm_fold(vec_col, dim).alias("__cn"),
    )
    scored = F.array(
        *[
            F.struct(
                (_dot_fold(vec_col, c) * F.lit(_inv_norm(c))).alias(
                    "s"
                ),
                F.lit(-i).alias("ni"),
            )
            for i, c in enumerate(cents)
        ]
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("anchor_label"),
        F.col(vec_col).alias("__qv"),
        _norm_fold(vec_col, dim).alias("__qn"),
        F.explode(
            F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
        ).alias("__p"),
    ).select(
        "query_id",
        "anchor_label",
        "__qv",
        "__qn",
        (-F.col("__p.ni")).alias("__cell"),
    )
    cand = corpus.join(F.broadcast(probes), "__cell").filter(
        F.col("pair_label").isNotNull()
        & (F.col("nn_id") != F.col("query_id"))
    )
    prods = F.zip_with(
        F.col("__cv"),
        F.col("__qv"),
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    nc, nq = F.col("__cn"), F.col("__qn")
    scored_cand = cand.select(
        "query_id",
        "anchor_label",
        F.when(
            F.col("pair_label") == F.col("anchor_label"), F.lit("positive")
        )
        .otherwise(F.lit("negative"))
        .alias("pair_type"),
        "nn_id",
        "pair_label",
        F.when((nc > 0) & (nq > 0), dot / (nc * nq)).alias("cosine"),
    )
    w = Window.partitionBy("query_id", "pair_type").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("nn_id")
    )
    return (
        scored_cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _contrastive_meta_path(path: str) -> str:
    """Sidecar next to the index directory (survives partition
    rewrites), the `_bq_meta_path` discipline."""
    return path.rstrip("/") + "._contrastive_meta.json"


def contrastive_write_index(
    embs: DataFrame,
    path: str,
    centroids: list[list[float]] | None = None,
    n_centroids: int = IVF_CENTROIDS_N,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> list[list[float]]:
    """Materialize the labeled candidate index for contrastive mining
    at rest: (id, label, vector) rows ``partitionBy(cell)`` under
    FROZEN IVF centroids recorded in the sidecar — the candidate side
    of :func:`contrastive_pairs`, stored once so every later anchor
    batch probes it with partition pruning instead of re-assigning the
    corpus, and so the streaming leg
    (:func:`streaming.pipeline.stream_contrastive_ingest`) can MERGE
    arrivals cell-scoped. Same frozen-quantizer policy as the IVF-PQ /
    BQ / semantic services: assignments are a pure function of
    (vector, centroids), so batch and streamed rows land in identical
    cells and mining results are arrival-order independent."""
    import json

    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(embs, n_centroids, id_col, vec_col)
    )
    # bp=<batch_id> nested INSIDE the cell partitions (bp=-1 is the
    # base build): the cell stays the probe's prune key, while the
    # streaming ingest APPENDS each batch as fresh bp subpartitions —
    # O(batch) writes with nothing stored read back (ids are new every
    # batch), replay overwrites its own partitions. Same nested-prune
    # -key discipline as the curation state's hb=*/bp=*.
    (
        embs.select(
            F.col(id_col),
            F.col(label_col),
            F.col(vec_col),
            ivf_assign(vec_col, cents).alias("cell"),
            F.lit(-1).cast("long").alias("bp"),
        )
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell", "bp")
        .parquet(path)
    )
    with open(_contrastive_meta_path(path), "w") as f:
        json.dump(
            {
                "centroids": cents,
                "id_col": id_col,
                "label_col": label_col,
                "vec_col": vec_col,
            },
            f,
        )
    return cents


def contrastive_pairs_indexed(
    spark,
    queries: DataFrame,
    path: str,
    k: int = 5,
    n_probe: int = IVF_PROBES_N,
) -> DataFrame:
    """:func:`contrastive_pairs` against the at-rest candidate index
    (``contrastive_write_index`` layout): anchors probe their
    ``n_probe`` nearest cells under the sidecar's frozen centroids,
    the probed-cell set (bounded: |anchors|·n_probe values) collects
    driver-side and lands in the scan's PartitionFilters, and the
    stored cell column replaces the per-row re-assignment — only
    probed cell directories are read, the `ivf_topk_indexed`
    discipline. Column schema (id/label/vec names) resolves from the
    sidecar the index was BUILT with. Result ≡ ``contrastive_pairs``
    over the stored rows with the same centroids (assignments are
    stored, probes and cosines recompute identically)."""
    import json

    with open(_contrastive_meta_path(path)) as f:
        meta = json.load(f)
    cents = [[float(x) for x in c] for c in meta["centroids"]]
    id_col, label_col = meta["id_col"], meta["label_col"]
    vec_col = meta["vec_col"]
    dim = len(cents[0])
    scored = F.array(
        *[
            F.struct(
                (_dot_fold(vec_col, c) * F.lit(_inv_norm(c))).alias(
                    "s"
                ),
                F.lit(-i).alias("ni"),
            )
            for i, c in enumerate(cents)
        ]
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("anchor_label"),
        F.col(vec_col).alias("__qv"),
        _norm_fold(vec_col, dim).alias("__qn"),
        F.explode(
            F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
        ).alias("__p"),
    ).select(
        "query_id",
        "anchor_label",
        "__qv",
        "__qn",
        (-F.col("__p.ni")).alias("__cell"),
    )
    # bounded driver fetch (|anchors|·n_probe ints, the probe-list
    # collect class) so the cell predicate is partition PRUNING
    cells = sorted(
        {r["__cell"] for r in probes.select("__cell").distinct().collect()}
    )
    corpus = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(cells))
        .select(
            F.col(id_col).alias("nn_id"),
            F.col(label_col).alias("pair_label"),
            F.col(vec_col).alias("__cv"),
            F.col("cell").alias("__cell"),
            _norm_fold(vec_col, dim).alias("__cn"),
        )
    )
    cand = corpus.join(F.broadcast(probes), "__cell").filter(
        F.col("pair_label").isNotNull()
        & (F.col("nn_id") != F.col("query_id"))
    )
    prods = F.zip_with(
        F.col("__cv"),
        F.col("__qv"),
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    nc, nq = F.col("__cn"), F.col("__qn")
    scored_cand = cand.select(
        "query_id",
        "anchor_label",
        F.when(
            F.col("pair_label") == F.col("anchor_label"), F.lit("positive")
        )
        .otherwise(F.lit("negative"))
        .alias("pair_type"),
        "nn_id",
        "pair_label",
        F.when((nc > 0) & (nq > 0), dot / (nc * nq)).alias("cosine"),
    )
    w = Window.partitionBy("query_id", "pair_type").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("nn_id")
    )
    return (
        scored_cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
