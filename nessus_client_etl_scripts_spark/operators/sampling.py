"""Deterministic sampling and dataset-splitting operators for
training-data pipelines.

Real corpus pipelines never use ``rand()`` for train/val/test splits:
the assignment must be (a) stable under re-partitioning and re-runs,
(b) reproducible from the row's identity alone, and (c) disjoint across
splits. The standard construction is a salted content-hash mapped to
the unit interval — implemented here as PURE INTEGER comparisons
against precomputed 48-bit thresholds (no float division at all), from
the same md5-truncation primitive as the dedup/sketch family, so every
assignment is bit-identical in any engine that has md5.

Scale shape: split assignment is row-local column algebra (zero
shuffle, survives any partitioning); per-group sampling reuses the
grouped ``scalable_prefix_sums`` row number so a handful of group
values never funnels the table into a handful of tasks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HASH_SPACE = 1 << 48  # 12 hex chars of md5


def _u48(key: Column, salt: str) -> Column:
    """Salted 48-bit uniform hash of the key — the split coordinate."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """(split_name, upper_bound) pairs: cumulative weights scaled to the
    48-bit hash space, floored — driver-computed literals any engine can
    compare against. The last bound is forced to 2^48 so rounding never
    leaves an unassigned sliver."""
    total = sum(weights.values())
    bounds: list[tuple[str, int]] = []
    cum = 0.0
    for i, (name, w) in enumerate(weights.items()):
        cum += w / total
        hi = HASH_SPACE if i == len(weights) - 1 else int(cum * HASH_SPACE)
        bounds.append((name, hi))
    return bounds


def split_assign(
    key: Column, weights: dict[str, float], salt: str = "split-v1"
) -> Column:
    """Split label for a row: first threshold the salted hash falls
    under. Row-local, shuffle-free, stable across runs and engines."""
    u = _u48(key, salt)
    expr: Column | None = None
    for name, hi in split_thresholds(weights):
        cond = u < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return expr


def split_assign_sql(
    key_sql: str, weights: dict[str, float], salt: str = "split-v1"
) -> str:
    """DuckDB twin of :func:`split_assign` — same salt, same md5
    truncation, same integer thresholds."""
    u = (
        f"('0x' || substring(md5('{salt}' || ({key_sql})::VARCHAR), 1, 12))"
        "::BIGINT"
    )
    branches = " ".join(
        f"WHEN {u} < {hi} THEN '{name}'"
        for name, hi in split_thresholds(weights)
    )
    return f"CASE {branches} END"


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Append the deterministic split label keyed on ``key_col``."""
    return df.withColumn(
        out_col, split_assign(F.col(key_col), weights, salt)
    )


def group_sample(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Deterministic uniform sample of ``k`` rows per group: rank rows
    by salted content hash inside each group and keep the first ``k``.
    Uses the grouped :func:`~.windows.scalable_prefix_sums` row number
    so a low-cardinality ``group_col``
    (the common case — a handful of sources/languages) still spreads
    the ranking across all cores instead of one task per group, and no
    tie-group join runs (the 48-bit salted keys are unique with
    ``key_col`` as the final tiebreak, so row_number IS the rank —
    positions are all a top-k cut needs)."""
    from .windows import scalable_prefix_sums

    hashed = df.withColumn("_skey", _u48(F.col(key_col), salt))
    ranked = scalable_prefix_sums(
        hashed, ("_skey", key_col), {"rank": F.lit(1)}, part_col=group_col
    )
    return ranked.filter(F.col("rank") <= k).drop("_skey")


def mixture_weights_case(
    weights: dict[str, float], group_col: str = "source"
) -> Column:
    """Per-group mixture weight as a literal CASE chain. Missing groups
    get weight 1.0 (one epoch, no resampling)."""
    expr: Column | None = None
    for name, w in weights.items():
        cond = F.col(group_col) == name
        expr = F.when(cond, F.lit(float(w))) if expr is None else expr.when(
            cond, F.lit(float(w))
        )
    return expr.otherwise(F.lit(1.0)) if expr is not None else F.lit(1.0)


def mixture_resample(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix-v1",
) -> DataFrame:
    """Deterministic fractional up/down-sampling to a target training
    mixture: a row with group weight ``w`` is emitted ``floor(w)`` times
    plus one more iff its salted hash falls below ``frac(w)`` of the
    hash space — i.e. exactly ``w`` epochs in expectation, with the
    fractional epoch chosen reproducibly per row (no ``rand()``, stable
    under re-partitioning, bit-identical cross-engine).

    ``copy_id`` (0-based) distinguishes the emitted copies so a
    downstream shuffle can spread them. Row expansion happens inside the
    projection (``explode`` of a per-row integer sequence): no shuffle,
    bounded ceil(w) fan-out, so a 100 TB corpus re-weights in a single
    map stage at parquet scan speed.

    Weight semantics: w=0.25 keeps a deterministic quarter of the
    group, w=1.0 passes through, w=2.5 emits 2 copies always and a 3rd
    for half the rows — the standard "epochs per source" knob of a
    training-mix builder.
    """
    return expand_by_weight(
        df, mixture_weights_case(weights, group_col), key_col, salt
    )


def expand_by_weight(
    df: DataFrame, w: Column, key_col: str, salt: str
) -> DataFrame:
    """The shared expansion kernel of the mixture samplers: emit each
    row ``floor(w)`` times plus one more iff its salted 48-bit hash
    falls below ``frac(w)`` of the hash space. ``w`` is any
    deterministic per-row weight column; expansion is row-local
    (explode of an integer sequence — no shuffle, ceil(w)-bounded
    fan-out)."""
    base = F.floor(w).cast("long")
    frac_bound = ((w - F.floor(w)) * F.lit(float(HASH_SPACE))).cast("long")
    extra = (_u48(F.col(key_col), salt) < frac_bound).cast("long")
    n = (base + extra).alias("n_copies")
    with_n = df.withColumn("n_copies", n).filter(F.col("n_copies") > 0)
    # sequence(0, n-1) is safe here: n >= 1 past the filter, so the
    # descending-sequence trap (start > stop) cannot trigger
    return with_n.withColumn(
        "copy_id", F.explode(F.sequence(F.lit(0), F.col("n_copies") - 1))
    )


def temperature_mixture(
    df: DataFrame,
    alpha_cap: float = 8.0,
    scale: float = 0.5,
    group_col: str = "source",
    weight_col: str = "n_chars",
    key_col: str = "doc_id",
    salt: str = "temp-mix-v1",
) -> DataFrame:
    """Temperature-flattened source mixture (the multilingual-LM
    sampling rule, alpha = 0.5): per-group epochs
    ``w_g = min(alpha_cap, scale * sqrt(M / m_g))`` where ``m_g`` is
    the group's total ``weight_col`` mass and ``M`` the corpus total —
    rare sources are upsampled toward uniform, dominant ones damped,
    with the fan-out hard-capped. Unlike :func:`mixture_resample`
    (literal per-group weights decided offline), the weights here are
    computed IN-PLAN from corpus statistics, so the same job re-weights
    a corpus whose composition shifted since yesterday's snapshot.

    Every arithmetic step is bit-portable (integer sums; one
    int/int→double division, correctly rounded; ``sqrt`` is IEEE
    correctly-rounded, unlike ``pow``/``ln`` which is why alpha is
    fixed at 1/2): the per-row coin agrees with any engine that mirrors
    the expression. Scale shape: group masses are one exact-integer
    aggregate (map-side combine, |groups| rows), broadcast back; the
    1-row corpus total rides a broadcast nested-loop join; expansion is
    the shared row-local kernel. No collect — the stats never leave
    the cluster."""
    stats = df.groupBy(group_col).agg(F.sum(weight_col).alias("_gmass"))
    total = df.agg(F.sum(weight_col).alias("_tmass"))
    w = F.least(
        F.lit(float(alpha_cap)),
        F.lit(float(scale))
        * F.sqrt(F.col("_tmass").cast("double") / F.col("_gmass").cast("double")),
    )
    weighted = df.join(F.broadcast(stats), group_col).crossJoin(
        F.broadcast(total)
    )
    return expand_by_weight(weighted, w, key_col, salt).drop("_gmass", "_tmass")


def mixture_resample_sql(
    weights: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix-v1",
) -> tuple[str, str]:
    """DuckDB twins of :func:`mixture_resample`'s per-row pieces:
    (n_copies expression, copy_id unnest expression over that count).
    Same salt, same md5 truncation, same integer threshold — the
    fractional-epoch coin flips agree bit for bit."""
    branches = " ".join(
        f"WHEN {group_col} = '{name}' THEN {float(w)!r}"
        for name, w in weights.items()
    )
    w = f"(CASE {branches} ELSE 1.0 END)"
    u = (
        f"('0x' || substring(md5('{salt}' || ({key_col})::VARCHAR), 1, 12))"
        "::BIGINT"
    )
    n = (
        f"(CAST(floor({w}) AS BIGINT) + CASE WHEN {u} < "
        f"CAST(({w} - floor({w})) * {float(HASH_SPACE)!r} AS BIGINT) "
        "THEN 1 ELSE 0 END)"
    )
    return n, f"unnest(range(0, {n}))"


def weighted_systematic_sample(
    df: DataFrame,
    weight_col: str,
    stride: int,
    order_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Weight-proportional systematic sampling: lay the rows on the
    cumulative-weight axis (in a deterministic total order) and select
    every row whose weight interval covers a multiple of ``stride`` —
    each row is chosen with probability proportional to its weight,
    with NO random numbers, NO ln()/pow() (whose libm results are not
    bit-portable cross-engine), and exact integer arithmetic
    throughout.

    The cumulative sum runs through the distributed prefix-sum
    (windows.scalable_prefix_sums), so there is no single-task global
    window; everything else is row-local. ``n_hits`` counts the grid
    points inside the interval (a row heavier than ``stride`` is
    sampled multiply — the standard PPS-systematic semantics)."""
    from .windows import scalable_prefix_sums

    c = scalable_prefix_sums(df, order_cols, {"cum_w": weight_col})
    prev = F.col("cum_w") - F.col(weight_col)
    n_hits = (
        F.floor(F.col("cum_w") / F.lit(stride))
        - F.floor(prev / F.lit(stride))
    ).cast("long")
    return (
        c.withColumn("n_hits", n_hits)
        .filter(F.col("n_hits") > 0)
    )

def stratified_exact_split(
    df: DataFrame,
    strata_cols: tuple[str, ...],
    frac: float,
    key_col: str = "doc_id",
    salt: str = "strata-v1",
    out_col: str = "split",
    eval_name: str = "eval",
    train_name: str = "train",
) -> DataFrame:
    """Exact-count stratified holdout: within every stratum, the first
    ``ceil(frac·n)`` rows by salted content hash go to ``eval_name``.

    :func:`hash_split` is per-row Bernoulli-by-hash — unbiased but with
    binomial jitter per stratum, so a small stratum can land a split
    far from ``frac`` (or empty). Eval sets for stratified benchmarks
    need the EXACT per-stratum proportion; the construction is a
    row_number + count window inside each stratum, both deterministic
    from (hash, key) with the hash tie broken by ``key_col``.

    Scale: one shuffle on the strata key serves both window functions
    (same partitioning, Catalyst reuses the exchange). Strata are
    (lang, source)-grained — thousands of groups, so plain windows
    distribute fine; a lower-cardinality stratification should swap in
    the grouped scalable_prefix_sums row number (see group_sample).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*strata_cols).orderBy("_skey", key_col)
    wn = Window.partitionBy(*strata_cols)
    hashed = df.withColumn("_skey", _u48(F.col(key_col), salt))
    marked = hashed.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wn)
    )
    return marked.withColumn(
        out_col,
        F.when(
            F.col("_rn") <= F.ceil(F.col("_n") * F.lit(frac)),
            F.lit(eval_name),
        ).otherwise(F.lit(train_name)),
    ).drop("_skey", "_rn", "_n")


def negative_samples(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    salt: str = "neg-v1",
) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive
    training: for each query id, the k corpus ids with the smallest
    salted md5 of (salt, query_id, corpus_id) — a fresh pseudo-random
    permutation of the corpus PER QUERY, reproducible across runs,
    engines, and repartitioning (the hash_split determinism contract
    applied to pairs).

    Shape: the query ID LIST broadcasts against the corpus (the
    corpus never shuffles); scoring is one row-local md5; the per-
    query top-k is a rank window hash-partitioned on query_id —
    fan-in per partition is |corpus| rows per query, the honest cost
    of uniform sampling without replacement, bounded below any join
    alternative. Self-pairs are excluded (a query is never its own
    negative)."""
    c = corpus.select(F.col(id_col).alias("neg_id"))
    q = queries.select(F.col(id_col).alias("query_id"))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neg_id") != F.col("query_id")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(salt),
                    F.col("query_id").cast("string"),
                    F.col("neg_id").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("query_id").orderBy(F.asc("_h"), F.asc("neg_id"))
    return (
        pairs.select("query_id", "neg_id", h.alias("_h"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neg_id", F.col("_h").alias("draw_key"), "rank")
    )
