"""The dashboard read API skips fact files by ``time_bucket`` partition
alone: the X1/X2 pivots over a 6-month table schedule only the files of
the months their [start, end] spans, and return the rows a plain
filtered read returns."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.plans.read_api import (
    get_obs_timeseries_station_data,
    get_obs_timeseries_station_data_allparms,
)
from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.sources.zonemap import (
    list_parquet_files,
)


def _env(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    station = spark.createDataFrame(
        [(1, "ST_A", 34.1, -77.1, "gmt", "NOAA", "Alpha", "tidal",
          "us", "nc", "NH", "0101A")],
        "station_id long, station_name string, lat double, lon double, "
        "tz string, gauge_owner string, location_name string, "
        "location_type string, country string, state string, "
        "county string, geom string")
    source = spark.createDataFrame(
        [(10, 1, "tidal_gauge", "noaa", "noaa", "m")],
        "source_id long, station_id long, data_source string, "
        "source_name string, source_archive string, units string")
    catalog.overwrite(station, "gauge_station")
    catalog.overwrite(source, "gauge_source")
    # 6 months x 4 files per month of hourly-ish facts
    t0 = dt.datetime(2024, 1, 1)
    for chunk in range(4):
        rows = [(10, t0, t0 + dt.timedelta(days=d, hours=chunk),
                 0.1 * d + chunk, None, None, None, None, None)
                for d in range(0, 180, 3)]
        df = spark.createDataFrame(
            rows, "source_id long, timemark timestamp_ntz, "
            "time timestamp_ntz, water_level double, wave_height double, "
            "wind_speed double, air_pressure double, "
            "stream_elevation double, flow_volume double")
        catalog.append(
            df.withColumn("time_bucket", F.date_format("time", "yyyy-MM"))
            .coalesce(1),
            "gauge_data", partition_by=["time_bucket"])
    return catalog


def _fact_files(df) -> set[str]:
    return {os.path.basename(f) for f in df.inputFiles() if "/gauge_data/" in f}


def test_pivot_reads_only_the_window_partition(spark, tmp_path):
    catalog = _env(spark, tmp_path)
    lo, hi = "2024-02-03 00:00:00", "2024-02-20 00:00:00"

    got = get_obs_timeseries_station_data(catalog, "ST_A", lo, hi)
    got_rows = sorted((r.time_stamp, r.tidal_gauge_water_level)
                      for r in got.collect())
    plain = (catalog.read("gauge_data")
             .filter(F.col("time").between(F.lit(lo).cast("timestamp_ntz"),
                                           F.lit(hi).cast("timestamp_ntz")))
             .select(F.date_format("time", "yyyy-MM-dd HH:mm:ss"),
                     "water_level"))
    assert got_rows == sorted(map(tuple, plain.collect()))
    assert got_rows  # the window actually matched data

    feb = {os.path.basename(f) for f in list_parquet_files(
        os.path.join(catalog.path("gauge_data"), "time_bucket=2024-02"))}
    assert len(feb) == 4
    assert len(list_parquet_files(catalog.path("gauge_data"))) == 24
    assert _fact_files(got) == feb

    # allparms shares the fact scan
    ap = get_obs_timeseries_station_data_allparms(
        catalog, "ST_A", lo, hi, "nowcast.src")
    assert sorted((r.time_stamp, r.tidal_gauge_water_level)
                  for r in ap.collect()) == got_rows
    assert _fact_files(ap) == feb


def test_loose_date_bounds_prune_to_the_right_partition(spark, tmp_path):
    catalog = _env(spark, tmp_path)
    # '2024-2-3' is valid for the Spark cast (the reference's Postgres
    # accepts it): the bucket bound must come from the parsed timestamp,
    # not from slicing the string, or February matches no partition
    loose = get_obs_timeseries_station_data(
        catalog, "ST_A", "2024-2-3", "2024-2-20")
    strict = get_obs_timeseries_station_data(
        catalog, "ST_A", "2024-02-03 00:00:00", "2024-02-20 00:00:00")
    rows = sorted(map(tuple, loose.collect()))
    assert rows and rows == sorted(map(tuple, strict.collect()))
    assert _fact_files(loose) == _fact_files(strict)
