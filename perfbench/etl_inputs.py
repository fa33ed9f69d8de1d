"""Seeded inputs for the etl_lakehouse workload.

`write_trips` writes a Citi Bike 2020 trip CSV (the column set of
`sources/trips_datasource.py`, header spelled as in the source files) and
`write_weather` a one-station NOAA GHCN-Daily CSV.  The same seed gives
byte-identical files.  The trip file carries what the reference ETL has to
handle: same-station short trips (dropped), same-station long trips
(kept), exact duplicate rows, null bike ids and null birth years.  Start
times strictly increase, so the fact table's natural key is unique and
every quality gate is expected to pass.  One weather station keeps
`weather_fact.unique_pk` satisfiable (several stations per date fail it by
the reference's own semantics).

`expected_trip_counts` is the independent check: DuckDB applies the
reference's rules to the same CSV (bad-trip filter, EXCEPT DISTINCT,
`bikeid IS NOT NULL`) and counts the trip_fact rows per month.
"""

from __future__ import annotations

import csv
import datetime as dt
import random

TRIP_HEADER = [
    "tripduration", "starttime", "stoptime",
    "start station id", "start station name",
    "start station latitude", "start station longitude",
    "end station id", "end station name",
    "end station latitude", "end station longitude",
    "bikeid", "usertype", "birth year", "gender",
]

WEATHER_HEADER = [
    "STATION", "NAME", "DATE", "AWND", "PRCP", "SNOW", "SNWD",
    "TAVG", "TMAX", "TMIN",
    "WT01", "WT02", "WT03", "WT04", "WT05", "WT06", "WT08", "WT09", "WT11",
]

YEAR = 2020
_YEAR_START = dt.datetime(YEAR, 1, 1)
_YEAR_SECONDS = 366 * 86400
_N_STATIONS = 120


def _stamp(t: dt.datetime) -> str:
    """The source files' `yyyy-MM-dd HH:mm:ss.SSSS` form."""
    return t.strftime("%Y-%m-%d %H:%M:%S") + f".{t.microsecond // 100:04d}"


def write_trips(path: str, n_trips: int, seed: int) -> int:
    """Write `n_trips` generated trips (plus ~1% exact duplicate lines)
    and return the number of data lines written."""
    rng = random.Random(seed)
    stations = [
        (100 + 3 * k, f"Station {100 + 3 * k}",
         round(40.65 + rng.random() * 0.2, 6), round(-74.02 + rng.random() * 0.1, 6))
        for k in range(_N_STATIONS)
    ]
    step = _YEAR_SECONDS / n_trips
    lines = 0
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(TRIP_HEADER)
        for i in range(n_trips):
            start = _YEAR_START + dt.timedelta(seconds=i * step + rng.random() * step * 0.9)
            a = rng.choice(stations)
            kind = rng.random()
            if kind < 0.02:  # same-station short trip: the reference drops it
                b, dur = a, rng.randint(60, 299)
            elif kind < 0.04:  # same-station long trip: kept
                b, dur = a, rng.randint(300, 3600)
            else:
                b = rng.choice(stations)
                dur = 60 + min(int(rng.expovariate(1 / 900)), 10800)
            row = [
                dur, _stamp(start), _stamp(start + dt.timedelta(seconds=dur)),
                a[0], a[1], a[2], a[3],
                b[0], b[1], b[2], b[3],
                None if rng.random() < 0.005 else rng.randint(14000, 45000),
                "Subscriber" if rng.random() < 0.8 else "Customer",
                None if rng.random() < 0.1 else rng.randint(1940, 2004),
                rng.choice((0, 1, 1, 2)),
            ]
            w.writerow(row)
            lines += 1
            if rng.random() < 0.01:  # exact duplicate line
                w.writerow(row)
                lines += 1
    return lines


def write_weather(path: str, seed: int) -> int:
    """Write one station's daily 2020 observations; return the row count."""
    rng = random.Random(seed ^ 0x5EA7)
    days = 366
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(WEATHER_HEADER)
        for d in range(days):
            date = (_YEAR_START + dt.timedelta(days=d)).strftime("%Y-%m-%d")
            tmin = rng.randint(10, 70)
            flags = [
                rng.choice(("1", " 1 ")) if rng.random() < 0.15 else ""
                for _ in range(9)
            ]
            w.writerow([
                "USW00094728", "NY CITY CENTRAL PARK, NY US", date,
                f"{rng.uniform(0, 20):.2f}",  # AWND
                "" if rng.random() < 0.05 else f"{rng.expovariate(4):.2f}",  # PRCP
                f"{max(0.0, rng.gauss(-1, 1)):.1f}",  # SNOW
                "0.0",  # SNWD
                tmin + 8,  # TAVG
                tmin + rng.randint(10, 20),  # TMAX
                tmin,  # TMIN
                *flags,
            ])
    return days


def expected_trip_counts(trips_path: str) -> dict[int, int]:
    """trip_fact rows per start month, computed by DuckDB from the CSV."""
    import duckdb

    sql = """
        WITH raw AS (
            SELECT * FROM read_csv(?, header = true, all_varchar = true)
        ), bad AS (
            SELECT * FROM raw
            WHERE "start station id" = "end station id"
              AND CAST(tripduration AS INTEGER) < 300
        ), kept AS (
            SELECT * FROM raw EXCEPT SELECT * FROM bad
        )
        SELECT CAST(substr(starttime, 6, 2) AS INTEGER) AS month, count(*)
        FROM kept WHERE bikeid IS NOT NULL
        GROUP BY 1 ORDER BY 1
    """
    with duckdb.connect() as con:
        return dict(con.execute(sql, [trips_path]).fetchall())
