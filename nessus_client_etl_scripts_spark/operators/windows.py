"""Window operators — SURVEY.md §2.5 (W1).

The reference's per-group "latest run" selection is a cursor loop over
scans with ``ORDER BY scan_start DESC LIMIT 1 OFFSET k`` scalar
subqueries (get_folder_stats.sql:12-57, get_scan_stats.sql:14-16).
In set semantics that's exactly a ranking window; one Catalyst window
exec replaces the loop + temp table, and at scale it's a single shuffle
on the partition key (no per-group round trips).

Ordered analytics over entity-scale frames — running sums, row
numbers, running maxima, ranks, ntiles, medians — must not funnel
through a partition-less or low-cardinality window; they all ride one
range-exchange scan kernel, :func:`_range_scan`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import WindowSpec

from ..pins import pin_lazy as _pin_lazy


def nth_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    offset: int = 0,
    rank_col: str = "_rn",
) -> DataFrame:
    """W1 — the (offset+1)-th row of each group under ``order_by``.

    MySQL's ``LIMIT 1 OFFSET k`` on ties is nondeterministic
    (SURVEY.md §2.5); callers pass a deterministic tiebreaker as the
    last ``order_by`` element (e.g. ``F.desc('scan_run_id')``).

    HARD REQUIREMENT in the global case (empty ``partition_by``): the
    last ``order_by`` element must make the order a unique TOTAL
    order. The pre-window ``orderBy().limit(offset + 1)`` cut is a
    physical top-k — with ties at the cut boundary the retained subset
    (and therefore the returned row) would differ run to run, baked in
    before the window can tiebreak. q04 passes ``F.desc('o_orderkey')``
    (a key) for exactly this reason.

    Scale: one hash shuffle on ``partition_by``; with AQE the partition
    count adapts to the data. No driver-side iteration. With NO
    partition columns (the global-nth case) the input is first cut to
    the top ``offset + 1`` rows via ``orderBy().limit()`` —
    TakeOrderedAndProject, a parallel per-partition top-k + merge — so
    the unavoidable single-partition window sees a bounded handful of
    rows no matter how large the input, instead of sorting the whole
    frame into one task.
    """
    if not partition_by:
        df = df.orderBy(*order_by).limit(offset + 1)
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) == offset + 1)
        .drop(rank_col)
    )


def latest_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    ts_col: str,
    tiebreaker: str,
    offset: int = 0,
) -> DataFrame:
    """Latest-per-group with deterministic tiebreak — the engine form of
    get_scan_stats.sql:14-16 ("latest scan_run per scan")."""
    return nth_per_group(
        df, partition_by, [F.desc(ts_col), F.desc(tiebreaker)], offset=offset
    )


def _range_scan(
    df: DataFrame,
    part_col: str | None,
    order_cols: Sequence[str],
    sums: dict[str, Column | str] | None = None,
    maxes: dict[str, Column | str] | None = None,
    derive: dict[str, Column] | None = None,
) -> tuple[DataFrame, WindowSpec]:
    """The two-phase scan every operator below is built on — a window
    over ``(part_col, *order_cols)`` without the single-task trap of
    ``Window.orderBy(...)`` (no partition key) or of a low-cardinality
    ``Window.partitionBy(part)`` (the whole table through |parts|
    tasks).

    1. ``repartitionByRange(part, *order)`` gives a total order across
       ``spark.sql.shuffle.partitions`` partitions, each row tagged
       with its partition id ``_pid``.
    2. One small stats job — per ``(part, _pid)``, the SUM of each
       ``sums`` expression and the MAX of each ``maxes`` expression
       (≤ |parts| + P rows, the zipWithIndex / spark.ml KMeans
       driver-side small-state pattern) — is folded on the driver, in
       ``_pid`` order within each group, into broadcast offsets:
       ``_off_<name>`` is the sum (or max) over the group's rows in
       EARLIER partitions (0 or NULL in the group's first partition)
       and ``_tot_<name>`` a sum over the whole group.

    Returns the staged rows joined with their offsets, plus the local
    window ``partitionBy(part, _pid).orderBy(*order)``: a per-partition
    scan over it plus ``_off_<name>`` is the global scan.

    ``derive`` adds columns to the staged frame, after the exchange
    (sum and max expressions may read them): an expensive column — a
    salted md5, a token array — is then computed once per consuming
    action, on every staged partition in parallel, instead of on both
    pre-exchange passes (range-bounds sampling and the exchange's map
    side), which run at the source's split count and ship it through
    the exchange.

    Correctness rule: the offsets are keyed by PHYSICAL partition id,
    so the frame the final join reads must be the same materialization
    the stats were collected from — a non-deterministic upstream
    (changed file listing order, a recomputed shuffle) could otherwise
    reassign rows between the two jobs and silently corrupt every
    offset.  The staged frame is therefore pinned (``pin_lazy``); the
    stats collect is its first action, so it both materializes the
    pin and reads the stats in ONE job."""
    sums, maxes = sums or {}, maxes or {}
    spark = df.sparkSession
    try:
        num = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # 'auto' under AQE-managed shuffles
        num = spark.sparkContext.defaultParallelism
    keys = [part_col] if part_col else []
    staged = (
        df.repartitionByRange(num, *[F.col(c) for c in (*keys, *order_cols)])
        .withColumn("_pid", F.spark_partition_id())
        .transform(_pin_lazy)
    )
    for name, expr in (derive or {}).items():
        staged = staged.withColumn(name, expr)
    stats = staged.groupBy(*keys, "_pid").agg(
        *[F.sum(e).alias(n) for n, e in sums.items()],
        *[F.max(e).alias(n) for n, e in maxes.items()],
    )
    groups: dict = {}
    for r in stats.collect():
        groups.setdefault(r[part_col] if part_col else None, []).append(r)
    recs = []
    for g, rows in groups.items():
        rows.sort(key=lambda r: r["_pid"])
        run, top, offs = dict.fromkeys(sums, 0), dict.fromkeys(maxes), []
        for r in rows:
            offs.append((r["_pid"], *run.values(), *top.values()))
            for n in sums:
                run[n] += r[n] or 0
            for n in maxes:
                if r[n] is not None and (top[n] is None or r[n] > top[n]):
                    top[n] = r[n]
        recs += [(*([g] if part_col else []), *o, *run.values()) for o in offs]
    schema = T.StructType(
        [stats.schema[c] for c in (*keys, "_pid")]
        + [
            T.StructField(f"_off_{n}", stats.schema[n].dataType)
            for n in (*sums, *maxes)
        ]
        + [T.StructField(f"_tot_{n}", stats.schema[n].dataType) for n in sums]
    )
    offsets = spark.createDataFrame(recs, schema)
    return (
        staged.join(F.broadcast(offsets), [*keys, "_pid"]),
        Window.partitionBy(*keys, "_pid").orderBy(*order_cols),
    )


def two_phase_rank(
    df: DataFrame,
    part_col: str,
    val_col: str,
    key_col: str,
    rank_col: str = "rank",
    pct_col: str = "pct_rank",
    gap_col: str = "gap_to_prev",
) -> DataFrame:
    """Exact ``rank() / percent_rank() / lag()`` per group over
    :func:`_range_scan` on ``(part; val, key)``: global row number =
    local row number + the row-count offset, rank = min global row
    number over the (part, val) tie group (fine-grained groupBy +
    join), percent_rank = (rank-1)/(n-1), and the lag gap falls back
    to the max ``val`` of the group's earlier partitions for each
    partition's first row.

    Matches SQL ``rank()/percent_rank()/lag() OVER (PARTITION BY part
    ORDER BY val [, key])`` exactly, including percent_rank = 0 for
    single-row groups and a NULL gap for each group's first row.
    Consumers that read POSITIONS rather than ranks use
    :func:`scalable_prefix_sums` over ``F.lit(1)``, which skips the
    tie-group join."""
    t, w = _range_scan(
        df, part_col, (val_col, key_col),
        sums={"n": F.lit(1)}, maxes={"last": val_col},
    )
    t = t.withColumn("_grn", F.row_number().over(w) + F.col("_off_n")).withColumn(
        gap_col,
        F.col(val_col) - F.coalesce(F.lag(val_col).over(w), F.col("_off_last")),
    )
    mins = t.groupBy(part_col, val_col).agg(F.min("_grn").alias(rank_col))
    return (
        t.join(mins, [part_col, val_col])
        .withColumn(
            pct_col,
            F.when(F.col("_tot_n") == 1, F.lit(0.0)).otherwise(
                (F.col(rank_col) - 1).cast("double") / (F.col("_tot_n") - 1)
            ),
        )
        .select(*df.columns, rank_col, pct_col, gap_col)
    )


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k per group: ``df``'s rows whose ``row_number`` within
    ``partition_by`` under ``order_by`` is at most ``k``, with that
    number kept as the bigint ``rank_col`` — the per-query rank of
    every similarity top-k operator. Callers make ``order_by`` a total
    order within each group, so ranks are deterministic. Spark plans
    the rank filter as a per-partition group limit before the
    shuffle."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w).cast("long")).filter(
        F.col(rank_col) <= k
    )


def scalable_prefix_sums(
    df: DataFrame,
    order_cols: tuple[str, ...],
    sums: dict[str, Column | str],
    part_col: str | None = None,
    totals: dict[str, str] | None = None,
    derive: dict[str, Column] | None = None,
) -> DataFrame:
    """Inclusive running sums over one total order — ``SUM(e) OVER
    ([PARTITION BY part] ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)`` for each ``name: e`` in ``sums`` — over ONE
    :func:`_range_scan`, so every extra sum costs one long per
    partition in the driver stats plus one window sum.

    The distributed prefix-sum primitive: a row number is the running
    sum of ``F.lit(1)``, a cumulative weight the running sum of the
    weight column, and a per-group row number the same with
    ``part_col`` (its range exchange spreads each of a handful of
    groups over many partitions, so it never funnels a group through
    one task).  ROWS semantics: callers make ``order_cols`` a total
    order (within each group) by appending a unique tiebreaker — the
    q04 contract.  Offsets are exact for integer summands.

    Each output column ``name`` holds the running sum.  ``derive``
    columns are computed after the exchange (see :func:`_range_scan`)
    and emitted after ``df``'s columns; summands may read them (q153
    sums its salted-md5 sample indicator and filters on it, q267
    carries token arrays it only needs after the ranking).

    ``totals`` maps a sum's name to an output column holding that
    summand's total over the row's group (over the whole frame without
    ``part_col``): the driver's stats fold ends on exactly these
    values, so callers that would otherwise aggregate the same totals
    in a separate subtree — re-running their whole upstream — read
    them off the offsets broadcast for free (group sizes for
    positional percentile picks, q185's n1/n2)."""
    t, w = _range_scan(df, part_col, order_cols, sums=sums, derive=derive)
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return t.select(
        *df.columns,
        *(derive or {}),
        *[(F.sum(e).over(w) + F.col(f"_off_{n}")).alias(n) for n, e in sums.items()],
        *[F.col(f"_tot_{n}").alias(out) for n, out in (totals or {}).items()],
    )


def scalable_running_max(
    df: DataFrame,
    part_col: str,
    order_cols: tuple[str, ...],
    val_col: str,
    out_col: str = "run_max",
) -> DataFrame:
    """Per-group ``MAX(val) OVER (PARTITION BY part ORDER BY order_cols
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)`` — NULL for each
    group's first row — over :func:`_range_scan`: max is associative,
    so the local strict-preceding scan of each partition combined with
    the max over the group's earlier partitions is the global scan.
    ROWS semantics requires the caller to make ``order_cols`` a total
    order within each group (append a unique tiebreaker)."""
    t, w = _range_scan(df, part_col, order_cols, maxes={"m": val_col})
    w = w.rowsBetween(Window.unboundedPreceding, -1)
    # greatest() skips NULLs: the local scan is NULL on each
    # partition's first row, the offset NULL in each group's first
    # partition — either alone carries the answer.
    return t.select(
        *df.columns,
        F.greatest(F.max(val_col).over(w), F.col("_off_m")).alias(out_col),
    )


def group_median(
    df: DataFrame,
    part_col: str,
    val_col: str,
    out_col: str = "median",
) -> DataFrame:
    """Exact per-group median of a numeric column WITHOUT a
    low-cardinality window partition: positions and group sizes come
    from one grouped :func:`scalable_prefix_sums` row number, and the
    median is the mean of the rows at
    positions ⌊(n+1)/2⌋ and ⌊(n+2)/2⌋ — one value for odd n, the
    midpoint (a+b)/2 for even n. The midpoint is ONE IEEE add + ONE
    divide on source doubles, so it verifies value-exactly against an
    oracle computing the same formulation (do NOT compare against an
    engine-native median()/quantile_cont, whose interpolation op order
    is implementation-defined).

    Returns one row per group: (part_col, n, out_col). Ties in
    ``val_col`` may order arbitrarily between equal values, but the
    VALUE at any global position is deterministic (sorted multiset),
    which is all the median reads.

    NULLs in ``val_col`` are EXCLUDED (and ``n`` counts non-null rows
    only) — r7 ADVICE: Spark sorts nulls FIRST while the DuckDB oracle
    family sorts NULLS LAST, so counting null rows would shift the
    picked positions engine-vs-oracle, and a picked NULL would be
    silently dropped by F.sum while F.count still divides by it
    (halving the reported median). Filtering up front gives both
    engines the same non-null multiset — the SQL-aggregate convention
    (median() ignores NULLs) — and groups that are all-NULL vanish."""
    df = df.filter(F.col(val_col).isNotNull())
    picked = scalable_prefix_sums(
        df.select(part_col, val_col),
        (val_col,),
        {"_rn": F.lit(1)},
        part_col=part_col,
        totals={"_rn": "_n"},
    ).filter(
        (F.col("_rn") == F.expr("(_n + 1) div 2"))
        | (F.col("_rn") == F.expr("(_n + 2) div 2"))
    )
    return picked.groupBy(part_col).agg(
        F.max("_n").cast("long").alias("n"),
        (F.sum(val_col) / F.count(F.lit(1))).alias(out_col),
    )


def scalable_ntile(
    df: DataFrame,
    order_cols: tuple[str, ...],
    buckets: int,
    out_col: str = "bucket",
) -> DataFrame:
    """Global ``ntile(b) OVER (ORDER BY order_cols)`` without the
    single-task global window — positions and the row count n come
    from one :func:`scalable_prefix_sums` row number, and the bucket
    is the closed-form ntile rule on (rn, n): with q = n div b
    and r = n mod b, the first r buckets hold q+1 rows and the rest q,
    so rn ≤ r·(q+1) lands in bucket (rn−1) div (q+1) + 1 and anything
    after in bucket r + (rn − r·(q+1) − 1) div q + 1. That is exactly
    the ANSI/Spark/DuckDB tile assignment, including n < b (every row
    its own bucket 1..n) — closed-form, so the only cross-engine
    freedom left is the ORDER, which callers must pin with a unique
    tiebreaker (the q04 contract).

    ``n`` rides the row number's offsets broadcast — no n-frame
    aggregate and no 1-row cross join, so consuming the tiled frame
    never re-triggers a broadcast build (nested ntile calls, q266,
    previously rebuilt each inner n-frame once per outer kernel
    execution).

    Descending metrics: negate the column (ntile only reads the total
    order, so x DESC ≡ (−x) ASC for any integer metric)."""
    ranked = scalable_prefix_sums(
        df, order_cols, {"_ntile_rn": F.lit(1)}, totals={"_ntile_rn": "_ntile_n"}
    )
    b = buckets
    tiled = ranked.withColumn(
        out_col,
        F.expr(
            f"CASE WHEN _ntile_rn <= (_ntile_n % {b}) * (_ntile_n div {b} + 1)"
            f" THEN (_ntile_rn - 1) div (_ntile_n div {b} + 1) + 1"
            f" ELSE (_ntile_n % {b})"
            f"  + (_ntile_rn - (_ntile_n % {b}) * (_ntile_n div {b} + 1) - 1)"
            f"    div (_ntile_n div {b}) + 1 END"
        ).cast("int"),
    )
    return tiled.select(*df.columns, out_col)
