"""Tests: as-of join semantics and operator argument validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.operators.asof import asof_join

from conftest import rows_set


@pytest.fixture()
def frames(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100), (1, "2024-01-01 12:00:00", 101),
         (2, "2024-01-01 10:30:00", 200), (3, "2024-01-01 09:00:00", 300)],
        "user_id int, ts string, event_id int",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 1.0), (1, "2024-01-01 11:00:00", 2.0),
         (2, "2024-01-01 10:30:00", 5.0), (2, "2024-01-01 23:00:00", 9.0)],
        "user_id int, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    return left, right


class TestAsof:
    def test_latest_at_or_before(self, spark, frames):
        left, right = frames
        out = asof_join(left, right, "user_id", value_cols=["value"])
        got = {r["event_id"]: r["value_right"] for r in out.collect()}
        assert got == {
            100: 1.0,   # 10:00 -> 09:30 row
            101: 2.0,   # 12:00 -> 11:00 row
            200: 5.0,   # equal timestamps match (<=)
            300: None,  # user 3 has no right rows; left row kept
        }

    def test_all_left_rows_kept(self, spark, frames):
        left, right = frames
        assert asof_join(left, right, "user_id", value_cols=["value"]).count() == left.count()

    def test_tolerance(self, spark, frames):
        left, right = frames
        out = asof_join(left, right, "user_id", value_cols=["value"], tolerance_seconds=1800)
        got = {r["event_id"]: r["value_right"] for r in out.collect()}
        # 10:00-09:30 = exactly 30 min -> kept; 12:00-11:00 = 60 min -> nulled
        assert got[100] == 1.0 and got[101] is None and got[200] == 5.0

    def test_deterministic_across_partitioning(self, spark, frames):
        left, right = frames
        a = rows_set(asof_join(left, right, "user_id", value_cols=["value"]))
        b = rows_set(asof_join(left.repartition(7), right.repartition(3), "user_id", value_cols=["value"]))
        assert a == b


class TestValidation:
    def test_missing_column_error(self, spark, frames):
        left, right = frames
        with pytest.raises(ValueError, match="missing column"):
            asof_join(left.drop("ts"), right, "user_id", value_cols=["value"])

    def test_bad_value_cols_error(self, spark, frames):
        left, right = frames
        with pytest.raises(ValueError, match="value_cols"):
            asof_join(left, right, "user_id", value_cols=["nope"])

    def test_merge_column_mismatch_error(self, spark):
        from nyc_bikeshare_datawarehouse_spark.operators.merge import merge_upsert

        t = spark.createDataFrame([(1, "a")], "id int, v string")
        u = spark.createDataFrame([(1, "a", 2.0)], "id int, v string, extra double")
        with pytest.raises(ValueError, match="column sets differ"):
            merge_upsert(t, u, "id")

    def test_salted_join_validation(self, spark):
        from nyc_bikeshare_datawarehouse_spark.operators.skew import salted_join

        a = spark.createDataFrame([(1, 2)], "k int, v int")
        b = spark.createDataFrame([(1, "x")], "k int, name string")
        with pytest.raises(ValueError, match="num_salts"):
            salted_join(a, b, "k", num_salts=1)
        with pytest.raises(ValueError, match="both sides"):
            salted_join(a, b, "missing")
