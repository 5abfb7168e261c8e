"""Declared-schema catalog: registered apsviz tables are read with their
declared schema (no Spark job), every write verb checks a registered
table against it, and ``merge_keep_latest`` evaluates its incoming plan
exactly once."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from apsviz_timeseriesdb_ingest_spark.schemas import GAUGE_DATA, GAUGE_SOURCE
from apsviz_timeseriesdb_ingest_spark.sources.catalog import TIME_BUCKET, Catalog

T0 = dt.datetime(2024, 1, 31, 22)


def _facts(spark, n: int = 6, value: float = 1.0, timemark: dt.datetime = T0):
    """``n`` hourly gauge_data rows of one source, straddling a month
    boundary (two ``time_bucket`` partitions)."""
    rows = [(10, timemark, T0 + dt.timedelta(hours=h), value + h,
             None, None, None, None, None) for h in range(n)]
    return spark.createDataFrame(rows, GAUGE_DATA)


def _jobs_in(spark, body) -> int:
    """Spark jobs started while ``body()`` runs, counted through a fresh
    job group."""
    sc = spark.sparkContext
    group = f"declared-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        body()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _merge(catalog, table, df):
    return catalog.merge_keep_latest(table, df, keys=["source_id", "time"],
                                     order_by=["timemark"], time_col="time")


def test_registered_read_runs_no_job(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    _merge(catalog, "gauge_data", _facts(spark))
    holder = {}

    def read():
        holder["df"] = catalog.read("gauge_data")
        holder["cols"] = holder["df"].columns

    assert _jobs_in(spark, read) == 0
    # declared columns in declared order, the partition column discovered
    assert holder["cols"] == [f.name for f in GAUGE_DATA.fields] + [TIME_BUCKET]
    got = holder["df"].filter(F.col(TIME_BUCKET) == "2024-02").count()
    assert got == 4  # 00:00-03:00 on Feb 1st


def test_unregistered_read_infers_its_schema(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    spark.range(3).selectExpr("id AS k", "CAST(id AS string) AS v").write.parquet(
        catalog.path("scratch_table"))
    holder = {}

    def read():
        holder["cols"] = catalog.read("scratch_table").columns

    assert _jobs_in(spark, read) >= 1  # footer inference
    assert holder["cols"] == ["k", "v"]


def test_registered_missing_table_reads_empty(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = catalog.read("gauge_source")
    assert df.schema == GAUGE_SOURCE
    assert df.count() == 0


def test_write_not_matching_declared_schema_raises(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    source = spark.createDataFrame(
        [(10, 1, "tidal_gauge", "noaa", "noaa")],
        "source_id long, station_id long, data_source string, "
        "source_name string, source_archive string")
    with pytest.raises(ValueError, match=r"missing \['units'\]"):
        catalog.append(source, "gauge_source")
    with pytest.raises(ValueError, match=r"undeclared \['extra'\]"):
        catalog.overwrite(source.withColumn("units", F.lit("m"))
                          .withColumn("extra", F.lit(1)), "gauge_source")
    retyped = _facts(spark).withColumn("water_level", F.col("water_level").cast("string"))
    with pytest.raises(ValueError, match="water_level is string, declared double"):
        _merge(catalog, "gauge_data", retyped)
    ledger = spark.createDataFrame([("a.csv",)], "file_name string")
    with pytest.raises(ValueError, match="harvest_obs_file_meta"):
        catalog.update("harvest_obs_file_meta", ledger)
    # nothing reached the disk
    assert not any(catalog.exists(t) for t in
                   ("gauge_source", "gauge_data", "harvest_obs_file_meta"))
    # column order is free: same columns, another order, passes
    catalog.append(source.withColumn("units", F.lit("m")).select(
        "units", *source.columns), "gauge_source")
    assert catalog.read("gauge_source").first().units == "m"


def _counted(df, acc):
    """``df`` behind a keep-every-row filter that adds 1 to ``acc`` per
    row each time the plan is evaluated, whichever columns are read."""
    def bump(_):
        acc.add(1)
        return True

    return df.filter(F.udf(bump, BooleanType()).asNondeterministic()("source_id"))


def test_merge_evaluates_incoming_once(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    sc = spark.sparkContext
    first = sc.accumulator(0)
    _merge(catalog, "gauge_data", _counted(_facts(spark), first))
    assert first.value == 6  # fresh table: the overwrite path

    second = sc.accumulator(0)
    batch = _merge(catalog, "gauge_data",
                   _counted(_facts(spark, n=3, value=5.0,
                                   timemark=T0 + dt.timedelta(hours=1)), second))
    assert second.value == 3  # existing table: read, union, rewrite
    # the returned batch is the materialised one: reading it re-runs nothing
    assert batch.count() == 3 and second.value == 3
    assert TIME_BUCKET in batch.columns

    stored = {str(r.time): r.water_level for r in catalog.read("gauge_data").collect()}
    assert len(stored) == 6
    assert stored["2024-01-31 22:00:00"] == 5.0  # newer timemark wins
    assert stored["2024-02-01 03:00:00"] == 6.0  # untouched key kept


def test_header_only_batch_writes_nothing(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    empty = spark.createDataFrame([], GAUGE_DATA)
    batch = _merge(catalog, "gauge_data", empty)
    assert batch.count() == 0
    assert not catalog.exists("gauge_data")
    # rows without a full key are not merged, and are returned as-is
    keyless = _facts(spark, n=2).withColumn("time", F.lit(None).cast("timestamp_ntz"))
    batch = _merge(catalog, "gauge_data", keyless)
    assert batch.count() == 2
    assert not catalog.exists("gauge_data")
