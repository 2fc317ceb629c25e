"""Pin lifecycle (nessus_client_etl_scripts_spark/pins.py): the
deterministic release of localCheckpointed frames at query boundaries
— the round-13 fix for session-scale RDD-block accumulation (the r12
verdict's top finding: ~690 query executions piled up dead checkpoint
blocks and the dedup/LSH family paid 2-4x in-bench inflation)."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from nessus_client_etl_scripts_spark import pins


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_pin_returns_checkpointed_frame_and_drain_releases(spark):
    pins.drain()  # start clean on this thread
    base = _n_persistent(spark)
    df = spark.range(1000).withColumn("x", F.col("id") * 2)
    ck = pins.pin(df)
    # checkpointed: lineage truncated to an RDD scan, values intact
    assert "LogicalRDD" in ck._jdf.queryExecution().optimizedPlan().toString()
    assert ck.count() == 1000
    assert _n_persistent(spark) == base + 1
    assert pins.drain() == 1
    assert _n_persistent(spark) == base


def test_pin_lazy_materializes_with_first_action(spark):
    pins.drain()
    base = _n_persistent(spark)
    ck = pins.pin_lazy(spark.range(500))
    ck.write.format("noop").mode("overwrite").save()
    assert _n_persistent(spark) == base + 1
    pins.drain()
    assert _n_persistent(spark) == base


def test_drain_is_safe_on_never_materialized_lazy_pin(spark):
    pins.drain()
    pins.pin_lazy(spark.range(10))
    assert pins.drain() == 1  # no-op unpersist, no error
    assert pins.drain() == 0  # registry empty after a drain


def test_drain_is_thread_local(spark):
    """A drain on one thread must never release another thread's live
    pins — the oracle harness runs queries concurrently (--jobs N)."""
    pins.drain()
    ck_other = {}
    done = threading.Event()
    release = threading.Event()

    def other():
        ck_other["df"] = pins.pin(spark.range(200))
        done.set()
        release.wait(30)
        # this thread's registry still holds its pin: it drains here
        ck_other["drained"] = pins.drain()

    t = threading.Thread(target=other)
    t.start()
    assert done.wait(30)
    assert pins.drain() == 0  # other thread's pin is not ours to drop
    assert ck_other["df"].count() == 200  # still materialized and usable
    release.set()
    t.join(30)
    assert ck_other["drained"] == 1


def test_drained_pins_do_not_accumulate_blocks_across_queries(spark):
    """The bench posture: run a pin-bearing 'query' repeatedly with a
    drain at each boundary; the persistent-RDD census must not grow."""
    pins.drain()
    base = _n_persistent(spark)
    for _ in range(5):
        out = pins.pin(spark.range(300).withColumn("y", F.col("id") + 1))
        out.write.format("noop").mode("overwrite").save()
        pins.drain()
    assert _n_persistent(spark) == base


class _BrokenPin:
    """Stands in for a pinned frame whose release raises (a dead JVM
    or a stopped session)."""

    @property
    def _jdf(self):
        raise RuntimeError("session is gone")


def test_drain_failure_is_skipped_counted_out_and_logged_once(
    spark, caplog, monkeypatch
):
    pins.drain()
    monkeypatch.setattr(pins, "_failure_logged", False)
    with caplog.at_level("WARNING", logger=pins.__name__):
        pins._registry().append(_BrokenPin())
        pins.pin_lazy(spark.range(10))
        # the healthy pin is still released and counted; the broken one
        # is not, and the registry empties either way
        assert pins.drain() == 1
        assert pins.drain() == 0
        pins._registry().append(_BrokenPin())
        assert pins.drain() == 0
    failures = [r for r in caplog.records if "releasing a pin failed" in r.message]
    assert len(failures) == 1
    assert "session is gone" in failures[0].exc_text
