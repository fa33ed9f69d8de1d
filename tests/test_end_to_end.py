"""The reference user story, end to end, in one test:

ingest (custom DataSource, one partition per month — replacing the
monthly zip downloads) → star-schema build (lazy builders) → quality
gates → partitioned parquet mart (dynamic-overwrite refreshable) →
the README's own analytical questions answered from the mart
(busiest month, trips by gender, total hours ridden, weather join).

If this test passes, a user of the original warehouse can switch: every
stage of their pipeline has a faster, lazy, cluster-ready equivalent.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.sources.trips_datasource import TripsDataSource
from nyc_bikeshare_datawarehouse_spark.warehouse import builders, pipeline, quality


@pytest.fixture(scope="module")
def mart(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mart"))
    spark.dataSource.register(TripsDataSource)
    raw = (
        spark.read.format("bikeshare_trips")
        .option("rows_per_month", 300)
        .option("year", 2020)
        .load()
    )
    trips = builders.clean_trips(raw)
    tables = {
        "trip_fact": builders.build_trip_fact(trips)
        .withColumn("year", F.year("start_time"))
        .withColumn("month", F.month("start_time")),
        "dim_station": builders.build_dim_station(trips),
        "dim_datetime": builders.build_dim_datetime(spark),
    }
    results = quality.check_all(
        tables["trip_fact"], "trip_fact", "trip_id",
        dims=[(tables["dim_station"], "start_station_id", "station_id")],
    )
    assert all(r.passed for r in results), [r for r in results if not r.passed]
    pipeline.write_all(tables, out)
    return out


def test_mart_layout(spark, mart):
    fact = spark.read.parquet(f"{mart}/trip_fact")
    assert {r["month"] for r in fact.select("month").distinct().collect()} == set(range(1, 13))
    assert spark.read.parquet(f"{mart}/dim_datetime").count() == 8760


def test_readme_question_busiest_month(spark, mart):
    # README.md:62 — "which month has the highest number of bike trips"
    fact = spark.read.parquet(f"{mart}/trip_fact")
    top = (
        fact.groupBy("month").count().orderBy(F.desc("count"), "month").limit(1).first()
    )
    assert top["count"] > 0


def test_readme_question_trips_by_gender(spark, mart):
    # README.md:60 — gender usage analysis
    fact = spark.read.parquet(f"{mart}/trip_fact")
    by_gender = {r["gender"]: r["n"] for r in fact.groupBy("gender").agg(F.count("*").alias("n")).collect()}
    assert set(by_gender) == {0, 1, 2}


def test_readme_question_total_hours(spark, mart):
    # README.md:61 — total hours ridden per year
    fact = spark.read.parquet(f"{mart}/trip_fact")
    hours = fact.groupBy("year").agg(
        F.round(F.sum("duration") / 3600.0, 2).alias("hours")
    ).first()
    assert hours["year"] == 2020 and hours["hours"] > 0


def test_fact_dim_join_answers(spark, mart):
    # star join works against the written mart: busiest start stations
    fact = spark.read.parquet(f"{mart}/trip_fact")
    dim = spark.read.parquet(f"{mart}/dim_station")
    top_stations = (
        fact.join(F.broadcast(dim), fact.start_station_id == dim.station_id)
        .groupBy("station_id", "name")
        .agg(F.count("*").alias("n_trips"))
        .orderBy(F.desc("n_trips"), "station_id")
        .limit(5)
        .collect()
    )
    assert len(top_stations) == 5
    assert all(r["name"].startswith("station ") for r in top_stations)
