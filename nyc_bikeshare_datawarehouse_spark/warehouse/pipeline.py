"""End-to-end warehouse pipeline — the engine's equivalent of the whole
reference DAG compute step (`spark-submit etl.py --input ... --output ...`,
etl.py:196-205 + etl_dag.py task graph), as one lazy program.

Where the reference ran 12 per-month jobs with 6 driver-side collect
round-trips and wrote CSV (SURVEY §3.1), this builds all six star-schema
tables as lazy plans over ONE trip scan and ONE weather scan, then writes
partitioned parquet:

    trip_fact          partitionBy(year, month)  <- partition pruning for
                                                    the monthly analytics
    dim_station        overwrite (small dim)
    dim_datetime       overwrite (8,760 rows)
    weather_fact       overwrite (daily grain)
    weather_type       overwrite (21-row lookup)
    date_with_weather_type  overwrite (bridge)

Incremental refresh: re-running with a month filter only overwrites that
month's partitions (dynamic partition overwrite, sources/sinks.py).

CLI:  python -m nyc_bikeshare_datawarehouse_spark.warehouse.pipeline \
          --trips <csv glob> --weather <csv> --output <dir>
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.sources.readers import read_csv
from nyc_bikeshare_datawarehouse_spark.sources.sinks import write_parquet
from nyc_bikeshare_datawarehouse_spark.warehouse import builders, quality


def build_all(spark: SparkSession, trips_raw: DataFrame, weather_raw: DataFrame) -> dict[str, DataFrame]:
    """All six tables as lazy plans (nothing executes here)."""
    cleaned = builders.clean_trips(trips_raw)
    fact = builders.build_trip_fact(cleaned)
    return {
        "trip_fact": fact.withColumn("year", F.year("start_time")).withColumn(
            "month", F.month("start_time")
        ),
        "dim_station": builders.build_dim_station(cleaned),
        "dim_datetime": builders.build_dim_datetime(spark),
        "weather_fact": builders.build_weather_fact(weather_raw),
        "weather_type": builders.build_weather_type(spark),
        "date_with_weather_type": builders.build_date_weather_bridge(weather_raw),
    }


def write_all(tables: dict[str, DataFrame], out_dir: str) -> None:
    for name, df in tables.items():
        if name == "trip_fact":
            write_parquet(df, f"{out_dir}/{name}", partition_by=["year", "month"])
        else:
            write_parquet(df, f"{out_dir}/{name}")


def run_quality_gates(tables: dict[str, DataFrame]) -> list[quality.QualityResult]:
    """The reference's post-load checks (etl_dag.py:273-284) plus the PK/FK
    gates its DDL declared but never enforced."""
    results = []
    results += quality.check_all(
        tables["trip_fact"], "trip_fact", "trip_id",
        dims=[(tables["dim_station"], "start_station_id", "station_id")],
    )
    results += quality.check_all(tables["weather_fact"], "weather_fact", "date_time")
    results.append(quality.expect_non_empty(tables["dim_station"], "dim_station"))
    results.append(quality.expect_unique_pk(tables["dim_datetime"], "dim_datetime", "Date"))
    results.append(
        quality.expect_fk_integrity(
            tables["date_with_weather_type"], tables["weather_type"],
            "date_with_weather_type", "weather_type_id", "weather_type_id",
        )
    )
    return results


def run(spark: SparkSession, trips_path: str, weather_path: str, out_dir: str) -> list[quality.QualityResult]:
    """Full pipeline: scan -> build -> write -> gate. Returns gate results.

    The gates check what actually landed: each table is read back from
    `out_dir` under the schema it was built with, so a gate scans the
    written parquet once instead of re-running the CSV scan and the
    build behind every check."""
    trips_raw = read_csv(spark, trips_path, infer=True)
    weather_raw = read_csv(spark, weather_path)  # all-string, like the reference
    tables = build_all(spark, trips_raw, weather_raw)
    write_all(tables, out_dir)
    landed = {
        name: spark.read.schema(df.schema).parquet(f"{out_dir}/{name}")
        for name, df in tables.items()
    }
    return run_quality_gates(landed)


def main() -> None:
    from nyc_bikeshare_datawarehouse_spark.session import get_spark

    p = argparse.ArgumentParser(description="Build the bikeshare star-schema warehouse")
    p.add_argument("--trips", required=True, help="trip CSV path/glob")
    p.add_argument("--weather", required=True, help="weather CSV path")
    p.add_argument("--output", required=True, help="output directory")
    args = p.parse_args()

    spark = get_spark("warehouse-pipeline")
    results = run(spark, args.trips, args.weather, args.output)
    failed = [r for r in results if not r.passed]
    for r in results:
        print(f"{'PASS' if r.passed else 'FAIL'} {r.table}.{r.gate}: {r.detail}")
    raise SystemExit(1 if failed else 0)


if __name__ == "__main__":
    main()
