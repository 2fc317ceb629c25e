"""Multi-million-row smoke tests for the scale-critical primitives,
with ANALYTIC expectations (no driver-side reference computation over
the data): the two-phase rank's offset bookkeeping, the distributed
prefix sum, and the deterministic hash split are exactly the operators
whose failure mode is silent corruption at high partition counts —
the 500-row unit tests can't exercise dozens of range partitions.

Data comes from spark.range (generated in the JVM, never collected);
each assertion reduces to a handful of aggregate rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F

N = 3_000_000


def test_two_phase_rank_analytic_at_3m(spark, shuffle_partitions):
    """v = i // 7 gives 7-row tie groups; rank of every row is
    analytically (i // 7) * 7 + 1 and pct_rank = (rank-1)/(n-1).
    Checked via aggregate mismatch counts — zero rows may deviate."""
    from nessus_client_etl_scripts_spark.operators.windows import (
        two_phase_rank,
    )

    df = (
        spark.range(N)
        .select(
            F.lit("g").alias("g"),
            F.col("id").alias("k"),
            (F.col("id") / 7).cast("long").alias("v"),
        )
        .repartition(48)  # destroy the generation order
    )
    with shuffle_partitions(64):
        out = two_phase_rank(df, "g", "v", "k")
    bad = out.filter(
        (F.col("rank") != (F.col("k") / 7).cast("long") * 7 + 1)
        | (
            F.abs(
                F.col("pct_rank")
                - ((F.col("k") / 7).cast("long") * 7).cast("double")
                / F.lit(float(N - 1))
            )
            > 1e-12
        )
    ).count()
    assert bad == 0
    assert out.count() == N


def test_scalable_cumsum_analytic_at_3m(spark, shuffle_partitions):
    """cumsum of the constant weight 2 ordered by id is 2*(id+1) —
    every partition offset must land exactly."""
    from nessus_client_etl_scripts_spark.operators.windows import (
        scalable_prefix_sums,
    )

    df = (
        spark.range(N)
        .select(F.col("id").alias("k"), F.lit(2).alias("w"))
        .repartition(48)
    )
    with shuffle_partitions(64):
        out = scalable_prefix_sums(df, ("k",), {"cumsum": "w"})
    bad = out.filter(F.col("cumsum") != (F.col("k") + 1) * 2).count()
    assert bad == 0


def test_hash_split_proportions_and_determinism_at_2m(spark):
    """80/10/10 split at 2M rows: proportions within 0.5 %, splits
    disjoint and exhaustive, and the assignment is a pure function of
    the key (re-running yields identical per-split counts AND an
    identical sampled membership fingerprint)."""
    from nessus_client_etl_scripts_spark.operators.sampling import (
        hash_split,
    )

    n = 2_000_000
    df = spark.range(n).select(F.col("id").alias("doc_id"))

    def split_counts():
        out = hash_split(
            df, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id"
        )
        counts = {
            r["split"]: r["c"]
            for r in out.groupBy("split").agg(F.count("*").alias("c")).collect()
        }
        fp = (
            out.filter(F.col("doc_id") % 997 == 0)
            .agg(
                F.sum(F.hash("split", "doc_id").cast("long")).alias("s")
            )
            .collect()[0]["s"]
        )
        return counts, fp

    (c1, fp1), (c2, fp2) = split_counts(), split_counts()
    assert c1 == c2 and fp1 == fp2
    assert sum(c1.values()) == n
    assert abs(c1["train"] / n - 0.8) < 0.005
    assert abs(c1["val"] / n - 0.1) < 0.005
    assert abs(c1["test"] / n - 0.1) < 0.005


def test_grouped_prefix_sums_totals_analytic_at_3m(spark, shuffle_partitions):
    """1000 groups × 3000 rows: for g = id % 1000 ordered by id, the
    in-group position of row id is id // 1000 + 1 and every row's
    group total is exactly 3000 — exercises the single-source-counts
    path (group sizes off the same stats fold as the positions, the
    group_median feed) across dozens of range partitions."""
    from nessus_client_etl_scripts_spark.operators.windows import (
        scalable_prefix_sums,
    )

    groups = 1000
    df = (
        spark.range(N)
        .select(
            (F.col("id") % groups).alias("g"),
            F.col("id").alias("k"),
        )
        .repartition(48)
    )
    with shuffle_partitions(64):
        out = scalable_prefix_sums(
            df, ("k",), {"rn": F.lit(1)}, part_col="g", totals={"rn": "n"}
        )
    bad = out.filter(
        (F.col("rn") != (F.col("k") / groups).cast("long") + 1)
        | (F.col("n") != F.lit(N // groups))
    ).count()
    assert bad == 0


def test_scalable_ntile_analytic_at_3m(spark, shuffle_partitions):
    """ntile(7) over 3M rows ordered by id: N % 7 = 3000000 % 7 = 6
    oversized buckets of q+1 rows lead, the rest hold q — the
    closed-form tile of row id must match the ANSI rule exactly at
    every bucket boundary (the failure mode is an off-by-one at the
    remainder seam, invisible at 500 rows)."""
    from nessus_client_etl_scripts_spark.operators.windows import (
        scalable_ntile,
    )

    b = 7
    q, r = divmod(N, b)
    df = spark.range(N).select(F.col("id").alias("k")).repartition(48)
    with shuffle_partitions(64):
        out = scalable_ntile(df, ("k",), b, out_col="t")
    # analytic tile of 0-based position p = k (unique order key)
    expected = F.when(
        F.col("k") < r * (q + 1), (F.col("k") / (q + 1)).cast("long") + 1
    ).otherwise(
        F.lit(r) + ((F.col("k") - r * (q + 1)) / q).cast("long") + 1
    )
    bad = out.filter(F.col("t").cast("long") != expected).count()
    assert bad == 0
