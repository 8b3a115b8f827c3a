"""Batch-parity forms of the streaming queries (SURVEY.md §2.10).

Each declared query applies a window/session/dedup expression to the batch
events table, so the DuckDB oracle checks its semantics exactly. The
tumbling window is also run as a `readStream` pipeline
(streaming/pipelines.py::tumbling_counts), and tests/test_streaming.py
proves it produces the same rows as the batch form.

Window-semantics notes pinned by the oracles:
- `F.window` buckets are epoch-aligned → `date_trunc` / `time_bucket` twins.
- sliding windows: an event at ts belongs to the 4 hour-long windows
  starting at time_bucket_15m(ts) - {0,1,2,3} x 15min.
- `F.session_window` merges half-open [ts, ts+gap) intervals: a gap of
  EXACTLY 30 minutes starts a new session → islands split on `>=`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.plans.registry import query
from openmrs_patient_migration_script_spark.plans.relational import (
    ASOF_INPUTS_SQL,
    asof_side,
)
from openmrs_patient_migration_script_spark.sources import load_table


@query(
    "stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 (batch form): 1-hour tumbling windows per event type — the agg
    `streaming/pipelines.py::tumbling_counts` runs under a watermark."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@query(
    "stream_trending_topk",
    oracle="""
    WITH counts AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, rank, event_type, n_events FROM (
      SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY n_events DESC, event_type) AS rank
      FROM counts
    ) WHERE rank <= 3
    """,
)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1b (batch form): each hour's top-3 event types — the trending /
    heavy-hitters serving pattern: the stream maintains watermark-bounded
    per-window counts (`tumbling_counts`), the rank runs at read time
    over that state (`rank_topk_windows` — a rank inside a streaming agg
    plan has no append-mode contract, so the split IS the production
    shape). WindowGroupLimit prunes the count state to k per partition
    before the rank shuffle; integer counts + type-name tie-break keep
    the ranking deterministic."""
    from openmrs_patient_migration_script_spark.streaming.pipelines import (
        rank_topk_windows,
        tumbling_counts,
    )

    e = load_table(spark, sf_dir, "events")
    counts = tumbling_counts(e).select("window_start", "event_type", "n_events")
    return rank_topk_windows(counts, k=3)


@query(
    "stream_sliding",
    oracle="""
    SELECT window_start, event_type,
           count(*) AS n_events, round(sum(value), 6) AS sum_value
    FROM (
      SELECT time_bucket(INTERVAL '15 minutes', ts)
               - to_minutes(15 * k.k) AS window_start,
             event_type, value
      FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k
    )
    GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 (batch form): 1-hour windows sliding every 15 minutes; each event
    contributes to 4 overlapping windows (explode happens inside Spark's
    window generator, not a manual cross join)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@query(
    "stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT min(ts) AS session_start, user_id,
           count(*) AS n_events, max(ts) AS last_ts
    FROM islands GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 (batch form): per-user 30-minute-gap sessions via
    `F.session_window`; the oracle is the classic gaps-and-islands SQL
    (lag + cumulative sum), proving the session-merge semantics."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.max("ts").alias("last_ts"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events", "last_ts")
    )


@query(
    "stream_dedup",
    oracle="""
    SELECT user_id, event_type, event_id, ts FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 (batch form): first event per (user, type) — deterministic
    survivor; a streaming form would bound its state with
    `dropDuplicatesWithinWatermark`."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        dedup_exact_keep_first,
    )

    e = load_table(spark, sf_dir, "events")
    return dedup_exact_keep_first(
        e, ["user_id", "event_type"], order_by=["ts", "event_id"]
    ).select("user_id", "event_type", "event_id", "ts")


@query(
    "stream_stateful",
    oracle="""
    SELECT user_id, event_id, ts,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 6) AS running_value
    FROM events
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 (batch form): per-user running totals via an Arrow-batched
    `applyInPandas` grouped map — the batch shape of a GroupState
    pipeline. Deliberately the engine's ONE Pandas-UDF
    declared query: it proves the escape-hatch surface (schema contract,
    grouped partitioning, Arrow batches) while the oracle pins its output
    to the exact SQL running-sum semantics."""
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("running_value", DoubleType()),
        ]
    )

    def running(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        out = pdf[["user_id", "event_id", "ts"]].copy()
        out["running_value"] = pdf["value"].cumsum().round(6)
        return out

    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    return e.groupBy("user_id").applyInPandas(running, schema=out_schema)


@query(
    "stream_interval_join",
    oracle=f"""
    WITH {ASOF_INPUTS_SQL}
    SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
           p.ts AS purchase_ts, v.ts AS view_ts
    FROM p JOIN v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL '1 hour'
     AND v.ts <= p.ts
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 (batch form): purchases joined to the views of the same user in
    the preceding hour — the stream-stream interval-join shape. In stream
    mode the same condition plus watermarks on BOTH sides lets Spark bound
    each side's join state to the interval width instead of buffering the
    streams forever."""
    e = load_table(spark, sf_dir, "events")
    p = asof_side(e, "purchase")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
    )
    joined = p.join(
        v,
        (p.user_id == v.v_user_id)
        & (v.view_ts >= p.purchase_ts - F.expr("INTERVAL 1 HOUR"))
        & (v.view_ts <= p.purchase_ts),
    )
    return joined.select("purchase_id", "view_id", "user_id", "purchase_ts", "view_ts")


@query(
    "stream_distinct_users",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           count(DISTINCT user_id) AS n_distinct_users
    FROM events GROUP BY 1
    """,
)
def stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST9 (batch form): exact distinct users per 1-hour window. A
    streaming form chains TWO stateful operators (watermarked
    dropDuplicates on (window, user) → windowed count), keeping state
    O(distinct keys in flight) instead of buffering events."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count_distinct("user_id").alias("n_distinct_users"))
        .select(F.col("w.start").alias("window_start"), "n_distinct_users")
    )
