import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nessus_client_etl_scripts_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    """One shared local session; small shuffle partitioning for speed
    (plan shapes are identical at any partition count)."""
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.files.minPartitionNum": "1"},
    )
    yield s


@pytest.fixture(scope="session")
def shuffle_partitions(spark):
    """``with shuffle_partitions(n):`` — a scoped
    ``spark.sql.shuffle.partitions``, the range-exchange width the
    two-phase window operators read when they build. Tests use it to
    force tie groups and bucket spans across partition boundaries."""
    from nessus_client_etl_scripts_spark.session import SESSION_CONF_LOCK

    @contextmanager
    def scoped(n: int):
        with SESSION_CONF_LOCK:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            try:
                yield
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)

    return scoped


@pytest.fixture(scope="session")
def silver(spark, tmp_path_factory):
    """Fixture documents normalized to the 7 silver tables, written to
    parquet and read back (pins the surrogate ids)."""
    from nessus_client_etl_scripts_spark.pipeline import fixtures, normalize

    root = str(tmp_path_factory.mktemp("silver"))
    tables = normalize.normalize_scan_runs(
        fixtures.scan_run_docs(spark),
        folder_docs=fixtures.folder_docs(spark),
        scan_docs=fixtures.scan_docs(spark),
    )
    normalize.write_silver(tables, root)
    return normalize.read_silver(spark, root)
