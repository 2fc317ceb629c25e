"""Jobs and pins per two-phase window operator (operators/windows.py).

Each operator is built on a 60-row, 3-group frame with 4 shuffle
partitions, then collected once; the Spark jobs of the build (range
sampling plus the stats collect) and of the action are counted by job
group, and so are the pins the build registers. All of them share one
range-exchange scan, so the build cost is the same for every operator.

The counts are pinned: a change that adds a job or a pin to an
operator must show up here.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from nessus_client_etl_scripts_spark import pins
from nessus_client_etl_scripts_spark.operators import windows as W

# (build jobs, action jobs, pins)
EXPECTED = {
    "two_phase_rank": (4, 7, 1),
    "running_max": (4, 3, 1),
    "prefix_sums": (4, 3, 1),
    "grouped_prefix_sums": (4, 3, 1),
    "ntile": (4, 3, 1),
    "group_median": (4, 4, 1),
}

CASES = {
    "two_phase_rank": lambda df: W.two_phase_rank(df, "g", "v", "k"),
    "running_max": lambda df: W.scalable_running_max(df, "g", ("v", "k"), "v"),
    "prefix_sums": lambda df: W.scalable_prefix_sums(
        df, ("v", "k"), {"cum_v": "v", "rn": F.lit(1)}, totals={"rn": "n"}
    ),
    "grouped_prefix_sums": lambda df: W.scalable_prefix_sums(
        df, ("v", "k"), {"rn": F.lit(1)}, part_col="g", totals={"rn": "n"}
    ),
    "ntile": lambda df: W.scalable_ntile(df, ("v", "k"), 4),
    "group_median": lambda df: W.group_median(df, "g", "v"),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_window_operator_job_and_pin_counts(spark, shuffle_partitions, name):
    df = spark.createDataFrame(
        [(f"g{i % 3}", i, (i * 7) % 11) for i in range(60)],
        "g string, k long, v long",
    )
    sc = spark.sparkContext
    group = f"window-jobs-{name}-{uuid.uuid4().hex}"

    def n_jobs() -> int:
        # the status store is filled by the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    pins.drain()
    sc.setJobGroup(group, group)
    try:
        with shuffle_partitions(4):
            out = CASES[name](df)
            build = n_jobs()
            n_pins = len(pins._registry())
            out.collect()
            action = n_jobs() - build
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        pins.drain()
    assert (build, action, n_pins) == EXPECTED[name]
