"""End-to-end pipeline test: CSV fixtures -> six parquet tables -> gates."""

from __future__ import annotations

import pytest

from nyc_bikeshare_datawarehouse_spark.warehouse import pipeline

TRIP_HEADER = (
    '"tripduration","starttime","stoptime","start station id","start station name",'
    '"start station latitude","start station longitude","end station id","end station name",'
    '"end station latitude","end station longitude","bikeid","usertype","birth year","gender"'
)

TRIP_ROWS = [
    '600,"2020-01-05 08:00:00.0000","2020-01-05 08:10:00.0000",1,"st1",40.71,-74.01,2,"st2",40.72,-74.02,77,"Subscriber",1980,1',
    '100,"2020-01-06 09:00:00.0000","2020-01-06 09:01:40.0000",3,"st3",40.73,-74.03,3,"st3",40.73,-74.03,78,"Customer",1990,2',
    '900,"2020-02-01 10:00:00.0000","2020-02-01 10:15:00.0000",4,"st4",40.74,-74.04,1,"st1",40.71,-74.01,79,"Subscriber",,0',
]

WEATHER_HEADER = "STATION,NAME,DATE,PRCP,SNOW,TAVG,TMAX,TMIN,SNWD,WT01,WT08"
WEATHER_ROWS = [
    "US1,A,2020-01-05,0.10,0,40,45,35,0, 1 ,",
    "US1,A,2020-01-06,,0,30,33,27,0,,1",
]


@pytest.fixture()
def csv_inputs(tmp_path):
    trips = tmp_path / "trips.csv"
    trips.write_text("\n".join([TRIP_HEADER, *TRIP_ROWS]) + "\n")
    weather = tmp_path / "weather.csv"
    weather.write_text("\n".join([WEATHER_HEADER, *WEATHER_ROWS]) + "\n")
    return str(trips), str(weather), str(tmp_path / "warehouse")


def test_pipeline_end_to_end(spark, csv_inputs):
    trips, weather, out = csv_inputs
    results = pipeline.run(spark, trips, weather, out)
    assert all(r.passed for r in results), [r for r in results if not r.passed]

    fact = spark.read.parquet(f"{out}/trip_fact")
    # same-station short trip filtered out; partition columns present
    assert fact.count() == 2
    assert {r["month"] for r in fact.select("month").collect()} == {1, 2}

    stations = spark.read.parquet(f"{out}/dim_station")
    assert {r["station_id"] for r in stations.collect()} == {1, 2, 4}

    bridge = spark.read.parquet(f"{out}/date_with_weather_type")
    got = {(str(r["date_time"])[:10], r["weather_type_id"]) for r in bridge.collect()}
    assert got == {("2020-01-05", 1), ("2020-01-06", 8)}

    assert spark.read.parquet(f"{out}/dim_datetime").count() == 8760
    wf = spark.read.parquet(f"{out}/weather_fact")
    assert wf.count() == 2
    assert wf.filter("prcp IS NULL").count() == 1  # empty string -> null


def test_partition_layout_prunes(spark, csv_inputs):
    trips, weather, out = csv_inputs
    pipeline.run(spark, trips, weather, out)
    jan = spark.read.parquet(f"{out}/trip_fact").filter("year = 2020 AND month = 1")
    plan = jan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(year" in plan or "PartitionFilters: [" in plan
    assert jan.count() == 1


def test_gates_check_the_written_tables(spark, csv_inputs, monkeypatch):
    # the gates see what landed in out_dir, not the lazy CSV-backed plans
    import os
    from urllib.parse import urlparse

    trips, weather, out = csv_inputs
    seen = {}
    real_gates = pipeline.run_quality_gates

    def capture(tables):
        seen.update(tables)
        return real_gates(tables)

    monkeypatch.setattr(pipeline, "run_quality_gates", capture)
    results = pipeline.run(spark, trips, weather, out)
    assert all(r.passed for r in results)
    assert len(seen) == 6
    for name, df in seen.items():
        files = [urlparse(f).path for f in df.inputFiles()]
        root = os.path.abspath(f"{out}/{name}")
        assert files and all(f.startswith(root + os.sep) for f in files), name


def _run_main(monkeypatch, spark, trips, weather, out):
    """`pipeline.main` in-process on the shared test session; returns
    its exit code."""
    import sys

    from nyc_bikeshare_datawarehouse_spark import session

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(
        sys, "argv",
        ["pipeline", "--trips", trips, "--weather", weather, "--output", out],
    )
    with pytest.raises(SystemExit) as exc:
        pipeline.main()
    return exc.value.code


def test_main_exits_zero_when_every_gate_passes(spark, csv_inputs, monkeypatch, capsys):
    code = _run_main(monkeypatch, spark, *csv_inputs)
    lines = capsys.readouterr().out.splitlines()
    assert code == 0
    assert lines and all(line.startswith("PASS ") for line in lines)


def test_main_exits_one_when_a_gate_fails(spark, csv_inputs, monkeypatch, capsys, tmp_path):
    # two stations report DIFFERENT readings for one DATE: the rows are not
    # duplicates, so build_weather_fact keeps both and the weather_fact
    # unique_pk gate (on date_time) fails
    trips, _, out = csv_inputs
    weather = tmp_path / "weather_two_stations.csv"
    weather.write_text("\n".join([
        WEATHER_HEADER,
        *WEATHER_ROWS,
        "US2,B,2020-01-05,0.30,0,41,46,36,0,,",
    ]) + "\n")
    code = _run_main(monkeypatch, spark, trips, str(weather), out)
    lines = capsys.readouterr().out.splitlines()
    assert code == 1
    failed = [line for line in lines if line.startswith("FAIL ")]
    assert [line.split(":")[0] for line in failed] == ["FAIL weather_fact.unique_pk"]
