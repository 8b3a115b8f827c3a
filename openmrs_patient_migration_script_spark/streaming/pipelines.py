"""Structured Streaming surface (SURVEY.md §2.10).

The reference is a one-shot batch script (/root/reference/README.md:52);
this module is the engine's streaming extension. Two kinds of pipeline:

- ``read_events_stream`` + ``tumbling_counts`` (ST1): a `readStream` over
  the `events` table whose window expression is *identical* to its batch
  twin in plans/streaming_queries.py, which is what makes the batch DuckDB
  oracle a valid correctness check for the streaming logic. The watermark
  bounds window state, so Spark evicts it instead of holding every key.
- ``foreachBatch`` index maintenance for continuous dedup
  (``stream_ingest_dedup``, ST11 components, ST12 ANN buckets): each is a
  fold on `commit.batch_step`, which publishes every micro-batch in its
  own directory, so a replayed batch rewrites identical bytes and readers
  see only published batches. The admitted documents and the ANN buckets
  are deltas (read as a union); the cluster index is a snapshot (read
  the newest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.commit import (
    batch_step,
    read_newest,
    read_union,
)
from openmrs_patient_migration_script_spark.schemas import events_read_schema
from openmrs_patient_migration_script_spark.sources.parquet import parquet_ts_unit

WATERMARK = "10 minutes"

# The directory prefix of each maintainer's published batches.
INGEST_PREFIX = "_batch_id="
COMPONENTS_PREFIX = "_index_v="
ANN_PREFIX = "_ann_v="


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` as a file-source stream: the same on-disk ts-unit handling
    as the batch loader (sources/parquet.py) — µs files scan straight to
    TimestampType; NANOS files scan as long and convert."""
    import os

    unit = parquet_ts_unit(os.path.join(sf_dir, "events.parquet"))
    # the file stream source requires a directory: scan sf_dir but admit
    # only the events file
    raw = (
        spark.readStream.schema(events_read_schema(unit))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if unit == "ns":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def tumbling_counts(events: DataFrame) -> DataFrame:
    """ST1: 1-hour tumbling windows per event type."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def rank_topk_windows(window_counts: DataFrame, k: int = 3) -> DataFrame:
    """ST1b: trending top-k — rank `tumbling_counts` state down to each
    window's ``k`` busiest event types (ties broken by type name, so the
    ranking is a pure function of the counts). Rank runs AT READ TIME
    over the maintained aggregate, not inside the streaming plan: a rank
    over a streaming agg is unsupported for good reason (every new row
    can reshuffle a window's ranks — no append-mode contract), and the
    production trending pattern is exactly this split — the stream
    maintains per-window counts (incremental, watermark-bounded state),
    the serving read ranks whatever state exists. The same expression
    works on the batch twin, which is what the oracle grades; the
    streaming parity test ranks the memory-sink state and must match."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.col("event_type")
    )
    return (
        window_counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("window_start", "rank", "event_type", "n_events")
    )


def _start(stream: DataFrame, step, checkpoint_dir: str, available_now: bool):
    writer = stream.writeStream.foreachBatch(step).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_dedup(
    batch_docs: DataFrame,
    index_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = True,
):
    """Streaming corpus-ingest dedup (r5) — the continuous form of
    `examples/ingest_dedup.py`: a document feed is admitted micro-batch
    by micro-batch, each batch deduped against (a) the STATIC indexed
    corpus via exact content hash + `minhash_pairs_against` banding, and
    (b) everything this stream already ADMITTED in earlier batches, so
    a near-dup arriving twice across micro-batches lands once. Banding
    is `minhash_candidate_pairs`' default 16 MinHash rows in 4 bands.

    Each batch publishes its admitted docs as a delta under
    ``<out_dir>/_batch_id=<id>`` through `commit.batch_step`, which makes
    a replay rewrite identical bytes; `commit.read_union` with
    `INGEST_PREFIX` reads everything admitted so far.

    Per micro-batch cost: the STATIC index pays shingle→minhash and
    content-hashing exactly ONCE, at stream start (signatures are
    localCheckpointed and passed via `minhash_pairs_against`'s
    ``index_signatures`` fast path); each micro-batch signs only its
    own docs plus the previously-ADMITTED tail (delta-sized by
    construction — admitted docs are the survivors, a small fraction of
    the feed). Duplicates within the SAME micro-batch are removed by
    batch curation's rules (`prepare_corpus`): one doc per content hash,
    then one doc per connected component of candidate pairs, the
    smallest key winning both. Returns the started StreamingQuery.
    """
    return _start(
        batch_docs,
        _ingest_step(index_df, out_dir, key_col, text_col),
        checkpoint_dir,
        trigger_available_now,
    )


def _ingest_step(index_df: DataFrame, out_dir: str, key_col: str, text_col: str):
    from openmrs_patient_migration_script_spark.operators.corpus import (
        _keep_cluster_minimum,
    )
    from openmrs_patient_migration_script_spark.operators.dedup import (
        dedup_exact_keep_first,
        minhash_candidate_pairs,
        minhash_pairs_against,
        minhash_signatures,
    )

    # one-time static-index preparation (the whole point of the
    # index_signatures contract): signatures + content hashes are
    # computed here, at stream start, never again per micro-batch
    static_sigs = minhash_signatures(index_df, key_col, text_col).localCheckpoint(
        eager=True
    )
    static_hashes = (
        index_df.select(F.md5(F.col(text_col)).alias("_h"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def admit(batch_df: DataFrame, prior: list[str]) -> DataFrame:
        idx_hashes, idx_sigs = static_hashes, static_sigs
        if prior:
            admitted_prior = batch_df.sparkSession.read.parquet(*prior).select(
                F.col(key_col), F.col(text_col)
            )
            idx_hashes = idx_hashes.unionByName(
                admitted_prior.select(F.md5(F.col(text_col)).alias("_h"))
            ).distinct()
            idx_sigs = idx_sigs.unionByName(
                minhash_signatures(admitted_prior, key_col, text_col)
            )
        hashed = dedup_exact_keep_first(
            batch_df.withColumn("_h", F.md5(F.col(text_col))), ["_h"], key_col
        )
        # exact vs index: content-hash anti-join (byte-identical re-crawls)
        fresh = hashed.join(idx_hashes, "_h", "left_anti").drop("_h")
        fresh = _keep_cluster_minimum(
            fresh, minhash_candidate_pairs(fresh, key_col, text_col), key_col
        )
        # near-dup vs the (grown) index: signatures-fast-path band join
        pairs = minhash_pairs_against(
            None, fresh, key_col, text_col, index_signatures=idx_sigs
        )
        dup_keys = pairs.select(F.col("batch_key").alias(key_col)).distinct()
        return fresh.join(dup_keys, key_col, "left_anti")

    return batch_step(out_dir, INGEST_PREFIX, admit)


def stream_components_maintain(
    stream_edges: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    src: str = "key_a",
    dst: str = "key_b",
    trigger_available_now: bool = True,
):
    """ST11 (r10): streaming maintenance of the dedup CLUSTER INDEX —
    the stream twin `dedup_clusters_incremental` lacked (the one
    incremental operator without one, per the r9 verdict): each
    micro-batch of candidate PAIRS folds into the persisted
    (node, cluster) index via
    `operators/graph.py::connected_components_incremental` — index
    stars + today's pairs, |index| + |batch| edge rows, never the
    historical edge list.

    The fold is read-modify-write, so each batch publishes a full
    SNAPSHOT under ``<out_dir>/_index_v=<id>`` through
    `commit.batch_step`: batch i folds into the newest snapshot published
    before it, so a REPLAYED batch recomputes the identical labels (the
    incremental == full-recompute invariant the
    `dedup_clusters_incremental` oracle proves) and rewrites identical
    bytes. `stream_components_read` serves the newest snapshot.

    At 100 TB/day the snapshot is node-sized (one row per node ever
    seen in a pair), a sliver of the pair stream; a deployment that
    must bound snapshot history adds retention on old ``_index_v``
    dirs — the read only ever touches the newest."""
    return _start(
        stream_edges,
        _components_step(out_dir, src, dst),
        checkpoint_dir,
        trigger_available_now,
    )


def _components_step(out_dir: str, src: str, dst: str):
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
        connected_components_incremental,
    )

    def fold(batch_df: DataFrame, prior: list[str]) -> DataFrame:
        edges = batch_df.select(src, dst)
        if not prior:
            return connected_components(edges, src=src, dst=dst)
        index = batch_df.sparkSession.read.parquet(prior[-1])
        return connected_components_incremental(index, edges, src=src, dst=dst)

    return batch_step(out_dir, COMPONENTS_PREFIX, fold)


def stream_components_read(spark: SparkSession, out_dir: str) -> DataFrame:
    """The CURRENT maintained (node, cluster) index: the newest published
    ``_index_v`` snapshot."""
    return read_newest(
        spark, out_dir, COMPONENTS_PREFIX, "node BIGINT, cluster BIGINT"
    )


def stream_ann_buckets_maintain(
    stream_embeddings: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 4,
    num_tables: int = 8,
    hash_mode: str = "md5",
    trigger_available_now: bool = True,
):
    """ST12 (r11): streaming maintenance of the ANN SRP BUCKET INDEX —
    the bucket table the promoted ANN path (`dedup_embedding_lsh`,
    `sim_knn_graph_ann`, `ann_topk_lsh`) joins against stays current as
    embeddings stream in, without ever re-hashing the historical corpus.

    The fold is APPEND-SHAPED: SRP planes are a pure function of
    (dim, planes, tables, hash_mode) (`srp_weights` is content-addressed
    by construction), so an already-indexed vector's buckets NEVER
    change. Each micro-batch therefore publishes only its own
    `srp_hashed` rows, as a delta under ``<out_dir>/_ann_v=<id>``
    through `commit.batch_step`, and `stream_ann_buckets_read` serves the
    union of the deltas. A batch writes its own rows, never the history,
    and a replay rewrites identical bytes. Maintained == one-shot
    `srp_hashed` over the full corpus, the incremental == full
    invariant. The index is L rows per indexed vector (key, _tbl, _bkt
    ints) — a sliver of the embedding stream.
    """
    return _start(
        stream_embeddings,
        _ann_step(out_dir, id_col, vec_col, num_planes, num_tables, hash_mode),
        checkpoint_dir,
        trigger_available_now,
    )


def _ann_step(
    out_dir: str,
    id_col: str,
    vec_col: str,
    num_planes: int,
    num_tables: int,
    hash_mode: str,
):
    from openmrs_patient_migration_script_spark.operators.similarity import (
        srp_hashed,
    )

    def delta(batch_df: DataFrame, _prior: list[str]) -> DataFrame:
        return srp_hashed(batch_df, id_col, num_planes, num_tables, vec_col, hash_mode)

    return batch_step(out_dir, ANN_PREFIX, delta)


def stream_ann_buckets_read(spark: SparkSession, out_dir: str) -> DataFrame:
    """The CURRENT maintained (key, _tbl, _bkt) ANN bucket index: the
    union of every published ``_ann_v`` delta."""
    return read_union(spark, out_dir, ANN_PREFIX, "vec_id BIGINT, _tbl INT, _bkt INT")
