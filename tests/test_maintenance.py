"""Catalog maintenance: compaction heals small files without changing
data; streaming dedup-within-watermark drops cross-batch duplicates."""

from __future__ import annotations

import datetime as dt
import os
from glob import glob

from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog
from apsviz_timeseriesdb_ingest_spark.streaming.windowed import dedup_within_watermark
from pyspark.sql import functions as F


def _parquet_files(path: str) -> int:
    return len(glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def test_compact_preserves_data(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    rows = [(i, dt.datetime(2024, 1 + i % 2, 1), float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, time timestamp_ntz, v double")
    # many tiny appends -> many tiny files
    for chunk in range(5):
        part = df.filter(F.col("id") % 5 == chunk)
        catalog.append(part.withColumn("time_bucket",
                                       F.date_format("time", "yyyy-MM")),
                       "facts", partition_by=["time_bucket"])
    before_files = _parquet_files(catalog.path("facts"))
    before = sorted(map(tuple, catalog.read("facts").drop("time_bucket").collect()))
    catalog.compact("facts")
    after_files = _parquet_files(catalog.path("facts"))
    after = sorted(map(tuple, catalog.read("facts").drop("time_bucket").collect()))
    assert after == before
    assert after_files < before_files


def test_dedup_within_watermark_stream(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0 + dt.timedelta(minutes=m), eid, v) for m, eid, v in
            [(0, 1, 1.0), (1, 2, 2.0), (2, 1, 99.0), (3, 3, 3.0), (4, 2, 98.0)]]
    path = str(tmp_path / "ev")
    spark.createDataFrame(rows, "ts timestamp, event_id long, value double") \
        .write.parquet(path)
    stream = spark.readStream.schema("ts timestamp, event_id long, value double") \
        .parquet(path)
    q = (dedup_within_watermark(stream, ["event_id"], watermark="1 hour")
         .writeStream.format("memory").queryName("dedup_wm")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT event_id, count(*) AS n FROM dedup_wm GROUP BY event_id")
    assert {(r.event_id, r.n) for r in got.collect()} == {(1, 1), (2, 1), (3, 1)}


def test_catalog_drop_and_drop_prefix(spark, tmp_path):
    """The cleanup verb for transient state: drop removes one table
    (idempotently), drop_prefix clears a checkpoint family and reports
    what it removed."""
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    for t in ("pr_ranks_0", "pr_ranks_1", "pr_progress", "keepme"):
        cat.overwrite(spark.range(3), t)
    cat.drop("pr_ranks_0")
    assert not cat.exists("pr_ranks_0") and cat.exists("pr_ranks_1")
    cat.drop("pr_ranks_0")  # idempotent
    dropped = cat.drop_prefix("pr_")
    assert dropped == ["pr_progress", "pr_ranks_1"]
    assert cat.exists("keepme")
    assert cat.drop_prefix("nothing_") == []


def test_compact_preserves_partition_layout(spark, tmp_path):
    """Compacting a __batch/term_bucket-partitioned index must keep the
    Hive layout (r4: a flattened table would break the next
    transactional partitioned append) and the data; flat tables still
    compact to few files."""
    from pyspark.sql import functions as F

    from apsviz_timeseriesdb_ingest_spark.llm.retrieval import (
        append_bm25_increment_txn,
        bm25_topk_from_index,
        build_bm25_index,
    )
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [(i, f"shared tokens plus unique{i} filler words here")
         for i in range(30)], "doc_id long, text string")
    build_bm25_index(cat, docs.filter(F.col("doc_id") < 15), txn=True)
    append_bm25_increment_txn(
        cat, docs.filter(F.col("doc_id") >= 15), 1)
    assert cat.partition_columns("bm25_tf") == ["__batch", "__writer", "term_bucket"]
    queries = spark.createDataFrame([(0, "shared tokens filler")],
                                    "query_id long, text string")
    before = sorted(map(tuple,
                        bm25_topk_from_index(cat, queries).collect()))

    cat.compact("bm25_tf")
    # layout and rows survive
    assert cat.partition_columns("bm25_tf") == ["__batch", "__writer", "term_bucket"]
    after = sorted(map(tuple,
                       bm25_topk_from_index(cat, queries).collect()))
    assert after == before and after
    # and the txn append still works on the compacted table
    append_bm25_increment_txn(
        cat, spark.createDataFrame(
            [(100, "shared tokens brand new doc")],
            "doc_id long, text string"), 2)
    assert cat.read("bm25_tf").filter(F.col("__batch") == 2).count() > 0

    # flat table path unchanged
    cat.overwrite(spark.range(100).repartition(16), "flat")
    cat.compact("flat", partitions=8)
    assert cat.partition_columns("flat") == []
    assert cat.read("flat").count() == 100


def test_optimize_one_verb(spark, tmp_path):
    """Catalog.optimize = vacuum orphans (with a ledger) + compact
    preserving layout + sidecar refresh, one call."""
    from apsviz_timeseriesdb_ingest_spark.llm.incremental import (
        commits_table)
    from apsviz_timeseriesdb_ingest_spark.sources.skipping import (
        build_skipping, read_between, zm_table)
    from apsviz_timeseriesdb_ingest_spark.sources.zonemap import (
        list_parquet_files)

    catalog = Catalog(spark, str(tmp_path / "wh"))
    ledger = commits_table("idx")
    for batch, committed in [(0, True), (1, True), (2, False)]:
        df = spark.range(batch * 10, batch * 10 + 10).select(
            F.col("id").alias("k"),
            F.lit(batch).alias("__batch"), F.lit("w").alias("__writer"))
        catalog.append(df.repartition(4), "t",
                       partition_by=["__batch", "__writer"])
        if committed:
            catalog.commit_batch(ledger, batch, "w")
    build_skipping(catalog, "t", range_cols=["k"])
    before = len(list_parquet_files(catalog.path("t")))
    out = catalog.optimize("t", ledger=ledger, partitions=1,
                            grace_seconds=0.0)
    assert out["vacuumed_partitions"] == 1  # batch 2's orphan
    # files_before is the PRE-vacuum count (ADVICE r7: counting after
    # the vacuum understated reclaimed files), so the before→after
    # delta attributes both the vacuumed orphan files and compaction
    assert out["files_before"] == before
    assert out["files_after"] < out["files_before"]
    # layout preserved, sidecars current, committed reads correct
    assert catalog.partition_columns("t") == ["__batch", "__writer"]
    assert {r.file for r in catalog.read(zm_table("t"))
            .select("file").collect()} == \
        set(list_parquet_files(catalog.path("t")))
    assert catalog.read_committed("t", "idx").count() == 20
    assert read_between(catalog, "t", "k", 10, 19).count() == 10


def test_maintain_tables_and_committed_alerts(spark, tmp_path):
    """maintain_tables runs optimize over a family map (missing tables
    skipped); committed_alerts is the poll side of the in-stream drift
    alerts, empty-not-error before any alert exists and cursored by
    since_batch."""
    from apsviz_timeseriesdb_ingest_spark.llm.incremental import (
        build_dedup_index, commits_table)
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import (
        Catalog, maintain_tables)
    from apsviz_timeseriesdb_ingest_spark.streaming.corpus_stream import (
        apply_dedup_increment_txn, committed_alerts)

    catalog = Catalog(spark, str(tmp_path / "wh"))
    # polling before anything exists: empty, not an error
    assert committed_alerts(catalog).count() == 0

    docs = spark.createDataFrame(
        [(1, "seed words for the base corpus right here")],
        "doc_id long, text string")
    lsh = dict(k=2, num_hashes=8, bands=4)
    assert build_dedup_index(catalog, docs, stream_index=True,
                             **lsh) == 1
    kw = dict(stats_table="stats", alerts_table="alerts", **lsh)
    apply_dedup_increment_txn(catalog, spark.createDataFrame(
        [(2, "calm steady batch of ordinary words")],
        "doc_id long, text string"), 1, **kw)
    apply_dedup_increment_txn(catalog, spark.createDataFrame(
        [(3, "zap zap zap zap zap zap zap zap")],
        "doc_id long, text string"), 2, **kw)
    alerts = committed_alerts(catalog)
    assert alerts.count() == 1
    batch = alerts.collect()[0]["__batch"]
    assert batch == 2
    # cursor past the consumed batch: nothing pending
    assert committed_alerts(catalog, since_batch=batch).count() == 0
    # only_alerting=False returns every committed alert row
    assert committed_alerts(catalog, only_alerting=False).count() == 1

    got = maintain_tables(catalog, {
        "stream_corpus": commits_table("minhash_index"),
        "stats": commits_table("minhash_index"),
        "not_created_yet": None,
    })
    by = {r["table"]: r for r in got}
    assert by["not_created_yet"] == {"table": "not_created_yet",
                                     "skipped": True}
    assert by["stream_corpus"]["files_after"] <= \
        by["stream_corpus"]["files_before"]
    # the corpora still answer committed reads after maintenance
    assert catalog.read_committed("stream_corpus",
                                  "minhash_index").count() == 2
