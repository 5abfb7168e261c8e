"""Loaders for the driver-generated TPC-H-ish testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf dir.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@lru_cache(maxsize=None)
def _nanos_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet timestamp[ns], which Spark cannot read
    natively (DuckDB silently truncates them to microseconds)."""
    import pyarrow.parquet as pq

    return tuple(f.name for f in pq.read_schema(path) if str(f.type) == "timestamp[ns]")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    ns_cols = _nanos_columns(path)
    if not ns_cols:
        return spark.read.parquet(path)
    # Read nanos as raw int64 then truncate to micros — identical to
    # DuckDB's ns->us truncation, so oracle comparisons stay exact.
    # Build TIMESTAMP_NTZ (epoch + micros as wall time) so the value is
    # independent of host/session timezone, matching how Spark reads the
    # other naive parquet timestamps (inferTimestampNTZ).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(
            f"timestampadd(MICROSECOND, CAST({c} DIV 1000 AS BIGINT), "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
    return df
