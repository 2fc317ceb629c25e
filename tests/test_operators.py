"""Operator unit tests on tiny in-memory frames (SURVEY.md §5.2):
A1 severity-0 semantics, W1 offset+ties, F1/F2 scalar functions, A2
empty default, P6 key guards."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from nessus_client_etl_scripts_spark.functions import (
    array_join_lines,
    epoch_to_date,
    explode_port_map,
    is_yyyymmdd_segment,
    parse_yyyymmdd,
)
from nessus_client_etl_scripts_spark.operators.aggregates import (
    exists_flag,
    max_date_watermark,
    pivot_sum,
)
from nessus_client_etl_scripts_spark.operators.windows import (
    latest_per_group,
    nth_per_group,
    top_k_per_group,
)


def test_pivot_sum_exclusion(spark):
    """A1 — faithful mode drops the excluded class (severity-0
    falsiness, export.py:60-65); its column exists but stays 0."""
    df = spark.createDataFrame(
        [("g", 0, 10), ("g", 1, 2), ("g", 1, 3), ("g", 4, 7)],
        "grp string, severity int, count int",
    )
    cols = {4: "critical_count", 1: "low_count", 0: "info_count"}
    faithful = pivot_sum(
        df, ["grp"], "severity", cols, F.col("count").cast("long"),
        exclude=frozenset({0}),
    ).collect()[0]
    assert (faithful.critical_count, faithful.low_count, faithful.info_count) == (7, 5, 0)
    corrected = pivot_sum(
        df, ["grp"], "severity", cols, F.col("count").cast("long")
    ).collect()[0]
    assert corrected.info_count == 10


def test_nth_per_group_offset_and_ties(spark):
    """W1 — the (offset+1)-th latest with deterministic tiebreak."""
    df = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (1, 200, "c"), (2, 50, "d")],
        "scan_id int, scan_start int, run string",
    )
    order = [F.desc("scan_start"), F.desc("run")]
    latest = nth_per_group(df, ["scan_id"], order, offset=0)
    got = {r.scan_id: r.run for r in latest.collect()}
    assert got == {1: "c", 2: "d"}  # tie broken by run desc
    second = nth_per_group(df, ["scan_id"], order, offset=1)
    assert {r.scan_id: r.run for r in second.collect()} == {1: "b"}
    # offset beyond group size → group disappears (MySQL OFFSET semantics)
    assert nth_per_group(df, ["scan_id"], order, offset=3).count() == 0


def test_latest_per_group_matches_nth(spark):
    df = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 20, 3)], "k int, ts int, id int"
    )
    assert latest_per_group(df, ["k"], "ts", "id").collect()[0].id == 3


def test_top_k_per_group_keeps_rank(spark):
    df = spark.createDataFrame(
        [(1, 5), (1, 9), (1, 7), (2, 1)], "k int, v int"
    )
    out = top_k_per_group(df, ["k"], [F.desc("v")], k=2)
    assert dict(out.dtypes)["rank"] == "bigint"
    got = sorted((r.k, r.rank, r.v) for r in out.collect())
    assert got == [(1, 1, 9), (1, 2, 7), (2, 1, 1)]


def test_array_join_lines_null_passthrough(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, None)], "id int, xs array<string>"
    )
    got = {r.id: r.j for r in df.select("id", array_join_lines("xs").alias("j")).collect()}
    assert got == {1: "a\nb", 2: None}


def test_explode_port_map_json_string(spark):
    """F2 — the raw ports-map payload arrives as a JSON-object string
    (export.py:147); flatten to one row per port."""
    df = spark.createDataFrame(
        [(1, '{"22": "ssh out", "443": "tls out"}'), (2, "not-json"), (3, None)],
        "id int, ports string",
    )
    _, as_map = explode_port_map("ports")
    rows = (
        df.select("id", F.explode(as_map).alias("port", "output"))
        .orderBy("id", "port")
        .collect()
    )
    assert [(r.id, r.port, r.output) for r in rows] == [
        (1, "22", "ssh out"),
        (1, "443", "tls out"),
    ]


def test_max_date_watermark_empty_default(spark):
    """A2 — empty input → epoch default (export.py:87)."""
    empty = spark.createDataFrame([], "dt date")
    assert max_date_watermark(empty, "dt").collect()[0].watermark == dt.date(1970, 1, 1)
    some = spark.createDataFrame([(dt.date(2024, 3, 1),)], "dt date")
    assert max_date_watermark(some, "dt").collect()[0].watermark == dt.date(2024, 3, 1)


def test_exists_flag(spark):
    df = spark.createDataFrame([(1,)], "x int")
    assert exists_flag(df.filter("x > 5")).collect()[0][0] is False
    assert exists_flag(df).collect()[0][0] is True


def test_yyyymmdd_guard_and_parse(spark):
    df = spark.createDataFrame(
        [("20240115",), ("1234",), ("abcdefgh",), ("202401155",)], "seg string"
    )
    kept = df.filter(is_yyyymmdd_segment("seg")).select(
        parse_yyyymmdd("seg").alias("d")
    ).collect()
    assert [r.d for r in kept] == [dt.date(2024, 1, 15)]


def test_epoch_to_date_utc(spark):
    df = spark.createDataFrame([(1704067200,)], "e long")  # 2024-01-01 UTC
    assert df.select(epoch_to_date("e").alias("d")).collect()[0].d == dt.date(2024, 1, 1)


def test_salted_join_matches_plain_join(spark):
    """Salting must be result-invariant: same rows as the plain join,
    with the hot key spread across salt buckets."""
    from nessus_client_etl_scripts_spark.operators.skew import salted_join

    facts = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, 99)], "k int, v int"
    )  # key 1 is hot
    dim = spark.createDataFrame([(1, "hot"), (2, "cold")], "k int, name string")
    plain = facts.join(dim, "k").orderBy("k", "v").collect()
    salted = salted_join(facts, dim, "k", salt=4).orderBy("k", "v").collect()
    assert [tuple(r) for r in salted] == [tuple(r) for r in plain]


def test_salted_join_random_salt_still_exact(spark):
    from nessus_client_etl_scripts_spark.operators.skew import (
        replicate_for_salt,
        with_salt,
    )
    import pyspark.sql.functions as FF

    facts = with_salt(
        spark.createDataFrame([(1, i) for i in range(20)], "k int, v int"), 4
    )
    dim = replicate_for_salt(
        spark.createDataFrame([(1, "x")], "k int, name string"), 4
    )
    out = facts.join(dim, ["k", "_salt"]).drop("_salt")
    assert out.count() == 20
    assert facts.select(FF.countDistinct("_salt")).collect()[0][0] > 1


def test_snapshot_diff_classification(spark):
    from nessus_client_etl_scripts_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        ["k", "name", "val"],
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 30), (4, "D", 40), (5, "e", 50)],
        ["k", "name", "val"],
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(
            old, new, key_cols=["k"], compare_cols=["name", "val"]
        ).collect()
    }
    assert got == {
        1: "removed",
        2: "unchanged",
        3: "changed",  # NULL -> 30 counts as change (null-safe compare)
        4: "changed",
        5: "added",
    }


def test_merge_upsert_semantics(spark):
    from nessus_client_etl_scripts_spark.operators.scd import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")],
        ["k", "val", "extra"],
    )
    updates = spark.createDataFrame(
        [
            (2, "B", False),   # update
            (3, None, True),   # delete
            (4, "d", False),   # insert
            (9, None, True),   # tombstone for absent key -> no-op
        ],
        ["k", "val", "is_delete"],
    )
    got = {
        r["k"]: (r["val"], r["extra"])
        for r in merge_upsert(
            target, updates, key_cols=["k"], set_cols=["val"],
            delete_col="is_delete",
        ).collect()
    }
    assert got == {
        1: ("a", "x"),      # untouched
        2: ("B", "y"),      # updated val, carried extra
        4: ("d", None),     # inserted; target-only column null
    }


def test_merge_upsert_rejects_duplicate_update_keys(spark):
    """SQL MERGE raises when multiple source rows match one target row;
    the DataFrame twin must fail the same way, not silently fan out."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.base import PySparkException

    from nessus_client_etl_scripts_spark.operators.scd import merge_upsert

    target = spark.createDataFrame([(1, "a")], ["k", "val"])
    dup_updates = spark.createDataFrame(
        [(1, "B"), (1, "C")], ["k", "val"]
    )
    merged = merge_upsert(target, dup_updates, key_cols=["k"], set_cols=["val"])
    with pytest.raises((Py4JJavaError, PySparkException)):
        merged.collect()
    # opting out restores the raw fan-out for pre-deduped sources
    rows = merge_upsert(
        target, dup_updates, key_cols=["k"], set_cols=["val"],
        check_unique=False,
    ).collect()
    assert len(rows) == 2
