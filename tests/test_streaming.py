"""Structured Streaming parity tests (SURVEY.md §2.10): each readStream
pipeline runs to completion (availableNow trigger → memory sink) and must
produce exactly the rows of its batch twin — the property that makes the
batch DuckDB oracles valid checks of the streaming logic."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.sources import load_table
from openmrs_patient_migration_script_spark.streaming.pipelines import (
    read_events_stream,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


def _run_to_memory(stream_df, output_mode: str) -> str:
    name = "mem_" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    return name


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


@pytest.mark.parametrize(
    "pipeline,mode",
    [(tumbling_counts, "complete")],
    ids=["tumbling"],
)
def test_windowed_stream_matches_batch(spark, pipeline, mode):
    stream = pipeline(read_events_stream(spark, SF))
    name = _run_to_memory(stream, mode)
    batch = pipeline(load_table(spark, SF, "events"))
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(spark.table(name), cols) == _rows(batch, cols)


@pytest.mark.slow
def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data contract: once the watermark (max event time - 10 min)
    passes a window's end, a straggler row for that window is dropped and
    the finalized window emits without it."""
    import os
    from datetime import datetime

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    d = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    src = str(tmp_path / "src")
    # Three micro-batches (maxFilesPerTrigger=1, file order pinned by
    # mtime). Spark ≥3.4 splits the watermark: late-row FILTERING uses the
    # previous batch's watermark while state EVICTION uses the current one,
    # so the straggler must arrive two batches after the row that advanced
    # the watermark:
    #   batch 0: three rows in window [10:00, 11:00) + 12:05 (max event
    #            time → watermark 11:55 from batch 1 on)
    #   batch 1: on-time 12:10 row; window 10:00 (end 11:00 < 11:55) is
    #            evicted + emitted with n=3
    #   batch 2: straggler at 10:15 < watermark → dropped, never re-opens
    #            the finalized window
    files = [
        [(1, d(10, 5), "view", 1.0), (2, d(10, 20), "view", 1.0),
         (3, d(10, 40), "view", 1.0), (4, d(12, 5), "view", 1.0)],
        [(6, d(12, 10), "view", 1.0)],
        [(5, d(10, 15), "view", 1.0)],
    ]
    for i, rows in enumerate(files):
        p = f"{src}/f{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(p)
        for f in os.listdir(p):  # file source orders batches by mtime
            os.utime(os.path.join(p, f), (1000 + i * 100, 1000 + i * 100))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    name = "mem_wm_drop"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    out = {r["window_start"]: r["n_events"] for r in spark.table(name).collect()}
    # the 10:00 window emitted WITHOUT the late straggler, which the
    # watermark filter discarded
    assert out.get(d(10, 0)) == 3, out
    assert dropped == 1


def test_restart_resumes_from_checkpoint_exactly_once(spark, tmp_path):
    """Kill-and-restart contract: a second run against the SAME checkpoint
    must process only files that arrived after the first run — offsets come
    from the checkpoint, not the source listing — so the append-mode sink
    sees every input row exactly once across restarts. This is the
    recovery half of the exactly-once story (the idempotent-sink half is
    the ``_batch_id``-per-directory writers' replay tests)."""
    src, ckpt, out = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
    schema = "id long"

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    spark.range(0, 100).write.mode("append").parquet(src)
    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 100
    spark.range(100, 150).write.mode("append").parquet(src)
    run_once()
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == list(range(150))  # b1 not reprocessed, b2 fully processed


def test_streaming_agg_on_rocksdb_state_store(spark, tmp_path):
    """The default (HDFS-backed in-memory) state store holds every key in
    executor heap — fine for fixtures, wrong for 100 TB keyspaces. The
    bundled RocksDB provider spills state to local disk with incremental
    checkpointing; this pins that the provider loads and produces the
    same aggregate as batch."""
    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = spark.createDataFrame(
            [(i, f"u{i % 5}") for i in range(100)], "id long, user string"
        )
        src.write.mode("overwrite").parquet(str(tmp_path / "in"))
        stream = spark.readStream.schema(src.schema).parquet(str(tmp_path / "in"))
        q = (
            stream.groupBy("user")
            .count()
            .writeStream.format("memory")
            .queryName("rocksdb_counts")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["user"]: r["count"]
            for r in spark.sql("SELECT * FROM rocksdb_counts").collect()
        }
        want = {
            r["user"]: r["count"]
            for r in src.groupBy("user").count().collect()
        }
        assert got == want
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)


def test_trending_topk_over_streamed_state_matches_batch(spark):
    """The trending split: the STREAM maintains per-window counts, the
    rank runs at read time over the sink state — ranked state must equal
    the batch composition exactly (integer counts, type tie-break)."""
    from openmrs_patient_migration_script_spark.streaming.pipelines import (
        rank_topk_windows,
    )

    stream = tumbling_counts(read_events_stream(spark, SF))
    name = _run_to_memory(stream, "complete")
    streamed = rank_topk_windows(
        spark.table(name).select("window_start", "event_type", "n_events"), k=3
    )
    batch = rank_topk_windows(
        tumbling_counts(load_table(spark, SF, "events")).select(
            "window_start", "event_type", "n_events"
        ),
        k=3,
    )
    cols = ["window_start", "rank", "event_type", "n_events"]
    assert _rows(streamed, cols) == _rows(batch, cols)


@pytest.mark.slow
def test_stream_ingest_dedup_admits_once_across_batches(spark, tmp_path):
    """Streaming ingest dedup: batch 1's admitted docs join the index for
    batch 2 (a cross-batch near-dup lands once); exact re-crawls and
    index near-dups are dropped; re-running on the same checkpoint is a
    no-op."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from openmrs_patient_migration_script_spark.streaming.pipelines import (
        stream_ingest_dedup,
    )

    base = ("the quick brown fox jumps over the lazy dog while the corpus "
            "grows daily with near duplicate boilerplate entries arriving")
    other = ("completely different material about adaptive query execution "
             "broadcast joins shuffle partitions and watermark state")
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    index = spark.createDataFrame([(100, base + " indexed")], schema)
    b0 = [
        (1, base + " v2"),     # near-dup of the INDEX -> dropped
        (2, other + " one"),   # novel -> admitted
    ]
    b1 = [
        (3, other + " two"),   # near-dup of ADMITTED doc 2 -> dropped
        (4, base + " indexed"),  # exact re-crawl of the index -> dropped
        (5, "entirely new words praising deterministic oracle checked "
            "engines with exact integer arithmetic everywhere today"),
    ]
    src = str(tmp_path / "src")
    for i, chunk in enumerate([b0, b1]):
        p = f"{src}/f{i}"
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (1000 + i * 100, 1000 + i * 100))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        q = stream_ingest_dedup(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*"),
            index,
            out,
            ckpt,
        )
        q.awaitTermination(120)

    run()
    admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert admitted == {2, 5}
    snapshot = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(out)
        for f in fs
    )
    run()  # same checkpoint: no new batches, nothing rewritten
    assert sorted(
        os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
    ) == snapshot
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {2, 5}


@pytest.mark.slow
def test_stream_ingest_dedup_collapses_intra_batch_dups(spark, tmp_path):
    """ADVICE r5: near/exact duplicates arriving within the SAME
    micro-batch must land once (deterministic min-key winner), not both
    — previously only cross-batch dups were caught."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from openmrs_patient_migration_script_spark.streaming.pipelines import (
        stream_ingest_dedup,
    )

    base = ("the quick brown fox jumps over the lazy dog while the corpus "
            "grows daily with near duplicate boilerplate entries arriving")
    other = ("completely different material about adaptive query execution "
             "broadcast joins shuffle partitions and watermark state")
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    index = spark.createDataFrame(
        [(100, "indexed corpus text with its own unrelated vocabulary about "
               "parquet footers row groups statistics and bloom filters")],
        schema,
    )
    batch = [
        (11, other + " alpha"),  # admitted: wins the exact pair with 14
        (12, base + " v1"),      # admitted: wins the near pair with 13
        (13, base + " v2"),      # dropped: intra-batch near-dup of 12
        (14, other + " alpha"),  # dropped: byte-identical copy of 11
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(batch, schema).coalesce(1).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_ingest_dedup(
        spark.readStream.schema(schema).parquet(src), index, out, ckpt
    )
    q.awaitTermination(120)
    admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert admitted == {11, 12}


