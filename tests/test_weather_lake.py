"""Weather lake layout + daily rollup queries: write hourly
snapshots, verify partition pruning appears in the plan, and check
the A1/A2/A3 rollups against a DuckDB oracle over the same files."""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from noaa_data_pipeline_spark.weather import api, lake, queries, streaming_ingest
from noaa_data_pipeline_spark.weather.schemas import FORECAST_SCHEMA, OBSERVATION_SCHEMA

T0 = dt.datetime(2024, 8, 11, 0, 0, 0)


def _forecast_rows():
    """Three hourly snapshots re-reporting overlapping 3h intervals,
    so the two-level rollup actually dedupes across files."""
    rows = []
    for snap in range(3):
        gen = T0 + dt.timedelta(hours=snap)
        for station in ["KMSP", "KSEA"]:
            for slot in range(8):
                begin = T0 + dt.timedelta(hours=3 * slot)
                rows.append(
                    (
                        station, f"{station} name", 44.9, -93.2, gen,
                        begin, begin + dt.timedelta(hours=3),
                        30 + slot + snap, 10 + slot - snap, "fahrenheit",
                        5 + ((slot * 7 + snap) % 11), "knots",
                        180, "degrees true", 80, 40, "percent",
                        0.1 * slot, "inches", 20, "percent",
                    )
                )
    return rows


def _observation_rows():
    rows = []
    for h in range(24):
        gen = T0 + dt.timedelta(hours=h)
        for station in ["KMSP", "KSEA"]:
            rows.append(
                (
                    station, f"{station} name", 44.9, -93.2, gen,
                    10.0 + (h * 3 % 17) + (0.4 if station == "KMSP" else 0.0),
                    "celcius", 180, "degrees true", (h * 5) % 13, "knots",
                    5.0, "celcius",
                )
            )
    return rows


@pytest.fixture(scope="module")
def weather_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("weather_lake"))
    fc = spark.createDataFrame(_forecast_rows(), FORECAST_SCHEMA)
    ob = spark.createDataFrame(_observation_rows(), OBSERVATION_SCHEMA)
    lake.write_snapshot(fc, root, lake.FORECASTS, T0)
    lake.write_snapshot(
        fc.withColumn("generated_at", F.col("generated_at") + F.expr("interval 1 day")),
        root, lake.FORECASTS, T0 + dt.timedelta(days=1),
    )
    lake.write_snapshot(ob, root, lake.OBSERVATIONS, T0)
    return root


def test_partition_pruning_in_plan(spark, weather_root):
    df = lake.read_lake(spark, weather_root, lake.FORECASTS, start=T0, end=T0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "file_type" in plan and "ingest_date" in plan
    # only the day-0 forecasts partition survives pruning
    assert df.select(F.count("*")).collect()[0][0] == len(_forecast_rows())


def test_forecasts_daily_matches_duckdb(spark, weather_root):
    fc = lake.read_lake(spark, weather_root, lake.FORECASTS, start=T0, end=T0)
    got = {
        (r.station_id, r.date): (r.temp_low, r.temp_high, r.wind_speed)
        for r in queries.forecasts_daily(fc, station_ids=["KMSP", "KSEA"]).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW fc AS SELECT * FROM read_parquet('{weather_root}/file_type=forecasts/ingest_date={T0.date()}/*.parquet')"
    )
    expected = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in con.execute(
            """
            WITH per_interval AS (
                SELECT station_id, begin_time,
                       strftime(date_trunc('day', begin_time), '%Y-%m-%d') AS date,
                       MIN(min_temp) AS temp_low, MAX(max_temp) AS temp_high,
                       MAX(wind_speed) AS wind_speed
                FROM fc GROUP BY station_id, begin_time
            )
            SELECT station_id, date, MIN(temp_low), MAX(temp_high), MAX(wind_speed)
            FROM per_interval GROUP BY station_id, date
            """
        ).fetchall()
    }
    assert got == expected


def test_observations_daily_and_stations(spark, weather_root):
    ob = lake.read_lake(spark, weather_root, lake.OBSERVATIONS)
    daily = {
        r.station_id: (r.temp_low, r.temp_high, r.wind_speed)
        for r in queries.observations_daily(
            ob, start=T0, end=T0 + dt.timedelta(days=1)
        ).collect()
    }
    assert daily["KMSP"] == (10.4, 26.4, 12)
    assert daily["KSEA"] == (10.0, 26.0, 12)
    st = queries.stations(ob).collect()
    assert {r.station_id for r in st} == {"KMSP", "KSEA"}
    assert len(st) == 2


def test_api_layer_round_trip(spark, weather_root):
    fc = api.forecasts(
        spark, weather_root, start=T0, end=T0, station_ids="KMSP, KSEA"
    )
    assert {r["station_id"] for r in fc} == {"KMSP", "KSEA"}
    assert all(set(r) >= {"date", "temp_low", "temp_high", "wind_speed"} for r in fc)
    ob = api.observations(spark, weather_root, start=T0, end=T0 + dt.timedelta(days=1))
    assert len(ob) == 2
    st = api.stations(spark, weather_root)
    assert {r["station_id"] for r in st} == {"KMSP", "KSEA"}


def test_reads_before_a_file_type_lands(spark, weather_root, tmp_path):
    """A file type with no files yet reads as an empty frame under
    the same schema, so every route answers with no rows."""
    root = str(tmp_path)
    assert api.forecasts(spark, root) == []
    assert api.observations(spark, root) == []
    assert api.stations(spark, root) == []
    empty = lake.read_lake(spark, root, lake.FORECASTS)
    assert empty.columns == lake.read_lake(spark, weather_root, lake.FORECASTS).columns

    ob = spark.createDataFrame(_observation_rows(), OBSERVATION_SCHEMA)
    lake.write_snapshot(ob, root, lake.OBSERVATIONS, T0)
    assert api.forecasts(spark, root, start=T0, end=T0, station_ids="KMSP") == []
    assert {r["station_id"] for r in api.stations(spark, root)} == {"KMSP", "KSEA"}


def _rows_per_snapshot(df):
    """ingested_at -> (rows, non-null dewpoints)."""
    return {
        r.ingested_at: (r.n, r.dew)
        for r in df.groupBy("ingested_at")
        .agg(F.count("*").alias("n"), F.count("dewpoint_value").alias("dew"))
        .collect()
    }


def test_snapshot_missing_a_nullable_column(spark, tmp_path):
    """Schema drift under declared schemas: a snapshot written without
    ``dewpoint_value`` next to full ones reads back with nulls, and
    compacting the partition keeps every declared column and row."""
    root = str(tmp_path)
    full = spark.createDataFrame(_observation_rows(), OBSERVATION_SCHEMA)
    t1, t2 = T0 + dt.timedelta(hours=1), T0 + dt.timedelta(hours=2)
    lake.write_snapshot(full, root, lake.OBSERVATIONS, T0)
    lake.write_snapshot(full.drop("dewpoint_value"), root, lake.OBSERVATIONS, t1)
    lake.write_snapshot(full, root, lake.OBSERVATIONS, t2)
    n = len(_observation_rows())
    expected = {T0: (n, n), t1: (n, 0), t2: (n, n)}
    assert _rows_per_snapshot(lake.read_lake(spark, root, lake.OBSERVATIONS)) == expected

    assert streaming_ingest.compact_partition(
        spark, root, lake.OBSERVATIONS, str(T0.date())
    ) == 3 * n
    part = os.path.join(root, "file_type=observations", f"ingest_date={T0.date()}")
    files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert len(files) == 1
    assert pq.read_schema(os.path.join(part, files[0])).names == (
        lake.file_schema(lake.OBSERVATIONS).names
    )
    assert _rows_per_snapshot(lake.read_lake(spark, root, lake.OBSERVATIONS)) == expected


def test_each_read_route_runs_one_spark_job(spark, weather_root):
    """Reads plan under the declared schema without a footer-merge job,
    so each route costs exactly the one job that executes it (with AQE
    off; AQE runs every shuffle stage as a job of its own)."""
    tracker = spark.sparkContext.statusTracker()

    def jobs(call):
        before = set(tracker.getJobIdsForGroup(None))
        call()
        return len(set(tracker.getJobIdsForGroup(None)) - before)

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert jobs(lambda: api.forecasts(spark, weather_root, T0, T0, "KMSP")) == 1
        assert jobs(lambda: api.observations(spark, weather_root, T0, T0)) == 1
        assert jobs(lambda: api.stations(spark, weather_root)) == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
