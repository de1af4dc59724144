import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_secure_agent_spark.lake import table as table_mod  # noqa: E402
from mysql_secure_agent_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s


# LakeTable.merge runs its merge kernel in the driver for a small batch and
# in the executors for a large one. The merge-heavy modules below run once
# per placement: as collected, with every merge forced into the driver, and
# again through test_spark_merge_path.py, with every merge forced into the
# executor placement.
MERGE_PATH_MODULES = {"test_cdc_replay", "test_changefeed", "test_key_bloom", "test_wap"}


@pytest.fixture(autouse=True)
def merge_path(request, monkeypatch):
    module = request.module.__name__.rsplit(".", 1)[-1]
    if module == "test_spark_merge_path":
        monkeypatch.setattr(table_mod, "DRIVER_MERGE_MAX_BYTES", 0)
    elif module in MERGE_PATH_MODULES:
        # above any size estimate, the unbounded one of an RDD included
        monkeypatch.setattr(table_mod, "DRIVER_MERGE_MAX_BYTES", float("inf"))


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path / "table")


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def lookup_matches_read(spark):
    """Assert ``table.lookup(spark, key)`` equals ``table.read(spark)``
    filtered to ``key``: same rows, same schema, same dtypes."""
    def check(table, key):
        got = table.lookup(spark, key)
        exp = table.read(spark)
        for c, v in key.items():
            exp = exp.filter(F.col(c) == F.lit(v))
        assert got.schema == exp.schema
        assert got.dtypes == exp.dtypes
        keys = table.commit_at(resolve=False).key_cols

        def ordered(rows):
            return sorted(rows, key=lambda r: tuple(r[c] for c in keys))

        rows = ordered(got.collect())
        assert rows == ordered(exp.collect())
        return rows

    return check
