"""Declared pipeline-analytics queries: deterministic corpus sampling,
event funnels, and cohort retention (builder-brief training-data /
product-analytics ops).

All are exact-SQL-expressible, so they carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.functions.numeric import dec_to_long

from openmrs_patient_migration_script_spark.operators.dedup import shingles_sql
from openmrs_patient_migration_script_spark.operators.sampling import (
    hash_bucket_sql,
    stratified_hash_sample,
)
from openmrs_patient_migration_script_spark.operators.timeseries import (
    seasonal_decompose_sql,
)
from openmrs_patient_migration_script_spark.plans.registry import query
from openmrs_patient_migration_script_spark.plans.relational import (
    ASOF_INPUTS_SQL,
    asof_side,
)
from openmrs_patient_migration_script_spark.sources import load_table

# per-language keep rates (per mille) for the declared sampling query — the
# language-rebalancing shape of an LLM data mix. Keep in sync with the
# oracle CASE below.
SAMPLE_RATES: dict[str, int] = {"en": 500, "de": 250, "es": 250, "fr": 250, "zh": 100}


# CTE ordered (user_id, event_id, v, rn): each user's events in time
# order, the sequence the recursive smoothing oracles step through
_ORDERED_EVENTS_SQL = """ordered AS (
      SELECT user_id, event_id, value::DOUBLE AS v,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )"""

# CTE s3: every event with its user's first view, first click after it and
# first purchase after that (NULL where the funnel stops)
_FUNNEL_STAGES_SQL = """s1 AS (
      SELECT user_id, event_type, ts,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS first_view
      FROM events
    ),
    s2 AS (
      SELECT *,
             min(CASE WHEN event_type = 'click' AND ts > first_view THEN ts END)
               OVER (PARTITION BY user_id) AS first_click
      FROM s1
    ),
    s3 AS (
      SELECT *,
             min(CASE WHEN event_type = 'purchase' AND ts > first_click
                      THEN ts END)
               OVER (PARTITION BY user_id) AS first_purchase
      FROM s2
    )"""

# CTE units (user_id, arm, y): the A/B experiment units, one per user, arm
# by user_id parity, y the user's total value in cents
_AB_UNITS_SQL = """units AS (
      SELECT user_id, user_id % 2 AS arm,
             coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0)::BIGINT AS y
      FROM events GROUP BY user_id
    )"""


@query(
    "sample_hash",
    oracle=f"""
    SELECT doc_id, lang, source, bucket
    FROM (
      SELECT doc_id, lang, source,
             {hash_bucket_sql("doc_id", 1000)} AS bucket
      FROM documents
    )
    WHERE bucket < CASE lang
                     WHEN 'en' THEN 500
                     WHEN 'de' THEN 250
                     WHEN 'es' THEN 250
                     WHEN 'fr' THEN 250
                     WHEN 'zh' THEN 100
                     ELSE 0
                   END
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by content hash
    (operators/sampling.py) — reproducible across runs, cluster sizes and
    partition layouts, unlike `DataFrame.sample`. Narrow scan + filter:
    zero shuffles at any scale."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_hash_sample(docs, "doc_id", "lang", SAMPLE_RATES)


@query(
    "funnel_events",
    oracle=f"""
    WITH {_FUNNEL_STAGES_SQL}
    SELECT count(DISTINCT user_id) AS n_users,
           count(DISTINCT CASE WHEN first_view IS NOT NULL THEN user_id END)
             AS n_viewed,
           count(DISTINCT CASE WHEN first_click IS NOT NULL THEN user_id END)
             AS n_clicked,
           count(DISTINCT CASE WHEN first_purchase IS NOT NULL THEN user_id END)
             AS n_purchased
    FROM s3
    """,
)
def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click after view → purchase after
    click) per user, reduced to stage counts. The three window mins share
    one `user_id` partitioning, so Spark plans a single Exchange with
    stacked Window nodes — one shuffle total before the tiny global agg.
    At 100 TB the exact countDistinct would swap to approx_count_distinct
    (HLL) per the engine's documented policy."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    is_ = lambda t: F.col("event_type") == t  # noqa: E731
    df = (
        e.withColumn("first_view", F.min(F.when(is_("view"), F.col("ts"))).over(w))
        .withColumn(
            "first_click",
            F.min(
                F.when(is_("click") & (F.col("ts") > F.col("first_view")), F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "first_purchase",
            F.min(
                F.when(
                    is_("purchase") & (F.col("ts") > F.col("first_click")), F.col("ts")
                )
            ).over(w),
        )
    )
    stage = lambda c: F.countDistinct(  # noqa: E731
        F.when(F.col(c).isNotNull(), F.col("user_id"))
    )
    return df.agg(
        F.countDistinct("user_id").alias("n_users"),
        stage("first_view").alias("n_viewed"),
        stage("first_click").alias("n_clicked"),
        stage("first_purchase").alias("n_purchased"),
    )


@query(
    "retention_cohort",
    oracle="""
    WITH signup AS (
      SELECT user_id, min(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    )
    SELECT CAST(date_trunc('week', signup_ts) AS DATE) AS cohort_week,
           CAST(floor(date_diff('day', signup_ts, ts) / 7) AS BIGINT) AS week_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN signup USING (user_id)
    WHERE e.ts >= signup_ts
    GROUP BY 1, 2
    """,
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by signup week, counted as active at
    each whole-week offset since their signup. The signup table is one row
    per user (tiny relative to the event log), so Spark broadcasts it and
    the event scan never shuffles before the aggregation — at 100 TB the
    only exchange is the (cohort, offset) agg, whose key space is weeks x
    offsets (small), with countDistinct -> approx_count_distinct as the
    documented swap."""
    e = load_table(spark, sf_dir, "events")
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    return (
        e.join(F.broadcast(signup), "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy(
            F.date_trunc("week", F.col("signup_ts"))
            .cast("date")
            .alias("cohort_week"),
            F.floor(F.datediff(F.col("ts"), F.col("signup_ts")) / 7).alias(
                "week_offset"
            ),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "sample_split",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN b < 900 THEN 'train'
                WHEN b < 950 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, lang,
             {hash_bucket_sql("doc_id", 1000)} AS b
      FROM documents
    )
    """,
)
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hash-bucket range
    (operators/sampling.py::hash_split) — the same key lands in the same
    split on every run and in every table, so separately-computed features
    and labels can never leak across the boundary. Zero shuffles."""
    from openmrs_patient_migration_script_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(docs, "doc_id", {"train": 900, "val": 50, "test": 50})


@query(
    "sample_cap_per_source",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                          % 1073741824,
                        doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
)
def sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping: at most 10 documents per source, chosen by hash
    order rather than input order so the kept set is stable across runs
    and partitionings (operators/sampling.py::cap_per_group). One shuffle
    on source; WindowGroupLimit prunes partitions to the cap pre-shuffle."""
    from openmrs_patient_migration_script_spark.operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, "source", "doc_id", 10)


@query(
    "sample_temperature",
    oracle=f"""
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    z AS (SELECT sum(pow(n, 0.5)) AS z, sum(n) AS total FROM counts),
    fr AS (
      SELECT lang,
             round(least(1.0, (0.5 * total * pow(n, 0.5) / z.z) / n), 6) AS f
      FROM counts, z
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN fr USING (lang)
    WHERE {hash_bucket_sql("d.doc_id", 1000000)}
          < CAST(round(f * 1000000, 0) AS BIGINT)
    """,
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: temperature-based mixture resampling (p ∝ n^alpha, alpha=0.5,
    half-corpus target) over the language strata — the multilingual
    rebalancing step of an LLM data mix
    (operators/sampling.py::temperature_resample). One count aggregation;
    the per-language keep fractions broadcast back; the keep filter is
    content-addressed and row-local, so the corpus never shuffles."""
    from openmrs_patient_migration_script_spark.operators.sampling import (
        temperature_resample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_resample(
        docs, "lang", "doc_id", alpha=0.5, target_frac=0.5
    )


@query(
    "sample_balance",
    oracle="""
    WITH m AS (
      SELECT min(n) AS target FROM (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang
      )
    )
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                          % 1073741824,
                        doc_id
             ) AS rn
      FROM documents
    ), m WHERE rn <= m.target
    """,
)
def sample_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10b: class balancing to the minority-language size
    (operators/sampling.py::balance_classes) — every language keeps
    exactly min(class sizes) documents, hash-ordered so the kept set is
    content-addressed. The minority size collects driver-side as ONE
    number (bounded metadata, the literal-cut-points pattern) so the
    cap stays a literal and WindowGroupLimit prunes partitions before
    the one label-keyed shuffle."""
    from openmrs_patient_migration_script_spark.operators.sampling import (
        balance_classes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return balance_classes(docs, "lang", "doc_id")


@query(
    "corpus_mixture",
    oracle=f"""
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT sum(n) AS total FROM counts),
    f AS (
      SELECT lang,
             round((CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 2.0
                              WHEN 'es' THEN 2.0 WHEN 'fr' THEN 2.0
                              WHEN 'zh' THEN 2.0 ELSE 0.0 END / 9.0)
                   * tot.total / n, 6) AS r
      FROM counts, tot
    ),
    fac AS (
      SELECT lang, CAST(floor(r) AS BIGINT) AS base,
             CAST(round((r - floor(r)) * 1000000, 0) AS BIGINT) AS thr
      FROM f
    ),
    d AS (
      SELECT doc_id, lang,
             {hash_bucket_sql("doc_id", 1000000)}
               AS bkt
      FROM documents
    ),
    c AS (
      SELECT d.doc_id, d.lang,
             fac.base + (CASE WHEN d.bkt < fac.thr THEN 1 ELSE 0 END)
               AS n_copies
      FROM d JOIN fac USING (lang)
    )
    SELECT doc_id, lang, unnest(generate_series(0, n_copies - 1)) AS epoch
    FROM c WHERE n_copies > 0
    """,
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17b: weighted data mixing WITH repetition
    (operators/sampling.py::mixture_repeat) — the DoReMi-style mixture
    application `sample_temperature` stops short of: target weights
    {en:1, de/es/fr/zh:2} over a corpus where English dominates, so
    low-resource languages repeat for multiple epochs (factor > 1) while
    English down-samples (factor < 1), both from one formula and both
    content-addressed. The emitted `epoch` column is the copy index a
    trainer interleaves on. One count agg; per-language factors
    broadcast back; the copy explosion is a row-local
    explode(sequence(..)) — the corpus never shuffles."""
    from openmrs_patient_migration_script_spark.operators.sampling import (
        mixture_repeat,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return mixture_repeat(
        docs,
        "lang",
        "doc_id",
        {"en": 1.0, "de": 2.0, "es": 2.0, "fr": 2.0, "zh": 2.0},
        total_multiplier=1.0,
    ).select("doc_id", "lang", "epoch")


@query(
    "text_decontaminate",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text,
             {hash_bucket_sql("doc_id", 1000)} AS bkt
      FROM documents
    ),
    {shingles_sql("b")},
    ev AS (
      SELECT DISTINCT shingle FROM sh JOIN b USING (doc_id) WHERE b.bkt >= 900
    )
    SELECT sh.doc_id, count(*) AS n_eval_shingles
    FROM sh JOIN b USING (doc_id) JOIN ev USING (shingle)
    WHERE b.bkt < 900
    GROUP BY sh.doc_id
    HAVING count(*) >= 2
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16: eval-set decontamination — training documents whose 3-gram
    shingles collide with the held-out split (operators/text.py::
    ngram_contamination). The split boundary is the SAME md5 hash-bucket
    rule as `sample_split`, so the probe composes with the published
    train/val/test assignment; val+test together form the eval side."""
    from openmrs_patient_migration_script_spark.operators.sampling import hash_split
    from openmrs_patient_migration_script_spark.operators.text import (
        ngram_contamination,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    split = hash_split(docs, "doc_id", {"train": 900, "val": 50, "test": 50})
    train = split.filter(F.col("split") == "train")
    evalset = split.filter(F.col("split") != "train")
    return ngram_contamination(
        train, evalset, "doc_id", "text", shingle_n=3, min_hits=2
    )


@query(
    "ts_ohlc",
    oracle="""
    WITH ranked AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT user_id, bucket,
           round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           count(*) AS n_obs
    FROM ranked
    GROUP BY 1, 2
    """,
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15b: OHLC downsampling bars — open/high/low/close per key and
    hour, the standard lossy compaction of a tick stream before charting
    or feature extraction. Pure reduction: ONE partial-combinable
    aggregation (min_by/max_by carry (value, orderkey) pairs map-side),
    no window — the window formulation would shuffle full rows and rank
    every partition. The struct tie-break key (ts, event_id) makes both
    engines pick the same row; it also makes Spark plan partial+final
    SortAggregate instead of a hash agg (struct comparisons are
    sort-based) — still one shuffle carrying only the per-bucket pairs."""
    e = load_table(spark, sf_dir, "events")
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.round(F.min_by("value", order_key), 6).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max_by("value", order_key), 6).alias("close"),
        F.count("*").alias("n_obs"),
    )


@query(
    "ts_resample",
    oracle="""
    WITH obs AS (
      SELECT user_id AS key, date_trunc('hour', ts) AS bucket,
             round(sum(value), 6) AS v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT key, min(bucket) AS mn, max(bucket) AS mx
               FROM obs GROUP BY key),
    grid AS (
      SELECT key, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
      FROM bounds
    )
    SELECT g.key, g.bucket,
           last_value(o.v IGNORE NULLS) OVER (
             PARTITION BY g.key ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_sum,
           o.v IS NOT NULL AS observed
    FROM grid g LEFT JOIN obs o ON g.key = o.key AND g.bucket = o.bucket
    """,
)
def ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling hourly resample with forward fill over the event log
    (operators/timeseries.py::resample_ffill) — irregular events → the
    dense per-user grid sequence models train on. Events aggregate before
    the grid explodes, so grid size is users × hours, independent of the
    event count."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        resample_ffill,
    )

    e = load_table(spark, sf_dir, "events")
    return resample_ffill(e, "user_id", "ts", "value")


@query(
    "ts_interpolate",
    oracle="""
    WITH obs AS (
      SELECT user_id AS key, date_trunc('hour', ts) AS bucket,
             sum(CAST(round(value * 1000000) AS BIGINT)) AS vs
      FROM events GROUP BY 1, 2
    ),
    nx AS (
      SELECT key, bucket, vs,
             lead(bucket) OVER (PARTITION BY key ORDER BY bucket) AS nb,
             lead(vs)     OVER (PARTITION BY key ORDER BY bucket) AS nvs
      FROM obs
    ),
    seg AS (
      SELECT key, bucket, vs, nvs,
             CASE WHEN nb IS NULL THEN 0
                  ELSE date_diff('hour', bucket, nb) END AS n
      FROM nx
    )
    SELECT key,
           bucket + to_hours(j) AS bucket,
           CASE WHEN n = 0 THEN CAST(vs AS DOUBLE) / 1000000.0
                ELSE CAST(vs * (n - j) + nvs * j AS DOUBLE)
                     / (CAST(n AS DOUBLE) * 1000000.0) END AS value_interp,
           j = 0 AS observed
    FROM seg,
         UNNEST(generate_series(0, CASE WHEN n = 0 THEN 0 ELSE n - 1 END)) AS t(j)
    """,
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling hourly resample with LINEAR interpolation
    (operators/timeseries.py::interpolate_linear) — `ts_resample`'s
    forward-fill twin for flow-like series. Identical grid (first to last
    observation per user), but unobserved buckets ramp between their
    neighbours instead of carrying the left one. Values are exact
    int64-scaled sums divided once, so the hash check needs no round()."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        interpolate_linear,
    )

    e = load_table(spark, sf_dir, "events")
    return interpolate_linear(e, "user_id", "ts", "value")


@query(
    "events_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             epoch_ms(ts) - lag(epoch_ms(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           count(*) AS n,
           round(sum(gap_ms) / (count(*) * 1000.0), 2) AS avg_gap_s
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over the event log: for each consecutive
    (prev → next) event-type pair per user, the occurrence count and mean
    inter-event gap — the next-action model / sequence-feature shape of
    product analytics. ONE shuffle on user_id feeds the lag window (ties
    broken on event_id for determinism); the (5x5-bounded) transition agg
    on top is partial-combinable, so the second exchange carries at most
    |types|^2 rows per partition. Gaps are computed in integer epoch-millis
    on both engines (unix_millis / epoch_ms) to dodge sub-second cast
    drift. The mean gap aggregates the EXACT integer sum first and divides
    once — a float avg() of per-row divisions is reassociative, so a group
    whose mean sits on a .005 rounding boundary would flip its 2dp digit
    with partial-agg order (reproduced at sf0.01); sum(long) is exact and
    one division is deterministic."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        (F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)).alias("gap_ms"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("gap_ms") / (F.count("*") * F.lit(1000.0)), 2).alias(
                "avg_gap_s"
            ),
        )
    )


@query(
    "events_pattern_match",
    oracle="""
    WITH coded AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                  WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                  WHEN 'error' THEN 'e' ELSE '.' END AS code
      FROM events
    ),
    seqs AS (
      SELECT user_id AS key,
             string_agg(code, '' ORDER BY ts, event_id) AS seq
      FROM coded GROUP BY user_id
    )
    SELECT key,
           CAST(length(seq) AS BIGINT) AS n_events,
           CAST((length(seq) - length(replace(seq, 'vcp', ''))) / 3 AS BIGINT)
             AS n_contig,
           seq LIKE '%v%c%p%' AS has_subseq
    FROM seqs
    """,
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite (operators/timeseries.py::sequence_pattern):
    per-user counts of the CONTIGUOUS view→click→purchase run plus the
    gap-tolerant subsequence flag, detected as string ops over the
    (ts, event_id)-ordered event-code sequence. One shuffle carrying one
    char + order key per event; detection is whole-stage-codegen'd
    row-local string arithmetic, no NFA interpreter."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        sequence_pattern,
    )

    e = load_table(spark, sf_dir, "events")
    return sequence_pattern(
        e,
        "user_id",
        "ts",
        "event_id",
        "event_type",
        {"view": "v", "click": "c", "purchase": "p", "signup": "s", "error": "e"},
        "vcp",
    )


@query(
    "events_top_paths",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, count(*) AS n_users FROM p GROUP BY path
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-prefix mining: each user's first three events as an ordered
    path string (view>click>purchase), counted across users — the common-
    journey report / sequence-model prefix distribution. The row_number
    predicate is pushed to a pre-shuffle WindowGroupLimit (each map task
    forwards at most 3 rows per user before the exchange), the per-user
    path is an ordered collect (array_sort on (rn, type) structs makes the
    collect_list order deterministic), and the final path count is a
    bounded partial-combinable agg."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        e.select(
            "user_id", "event_type", F.row_number().over(w).alias("rn")
        ).filter(F.col("rn") <= 3)
    )
    paths = firsts.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count("*").alias("n_users"))


@query(
    "ts_ewma",
    oracle=f"""
    WITH RECURSIVE {_ORDERED_EVENTS_SQL},
    rec AS (
      SELECT user_id, event_id, rn, v AS s FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.event_id, o.rn, 0.5 * o.v + 0.5 * r.s
      FROM ordered o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id, s AS ewma FROM rec
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15c: exponentially weighted moving average of event values per
    user (alpha=0.5, seeded at the first observation) — the smoothing
    recurrence no SQL window frame expresses, run as ONE key-shuffle plus
    a sequential in-row fold (operators/timeseries.py::ewma). The fold IS
    the recurrence, so both engines execute the identical IEEE operation
    sequence and the comparison is exact — no reassociative float-sum
    caveat (contrast the round() policy on SUM/AVG aggregates). The
    oracle replays the same recurrence as a DuckDB recursive CTE stepping
    row_number chains per user; bounded-group contract enforced in-plan
    (assert_true), the `agg_listagg` shape."""
    from openmrs_patient_migration_script_spark.operators.timeseries import ewma

    e = load_table(spark, sf_dir, "events")
    out = ewma(
        e, "user_id", ["ts", "event_id"], "value", alpha=0.5, max_group_size=100_000
    )
    return out.select("user_id", "event_id", "ewma")


@query(
    "ts_holt_linear",
    oracle=f"""
    WITH RECURSIVE {_ORDERED_EVENTS_SQL},
    rec AS (
      SELECT user_id, event_id, rn, v AS level, 0.0::DOUBLE AS trend
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.event_id, o.rn,
             0.5 * o.v + 0.5 * (r.level + r.trend),
             0.5 * ((0.5 * o.v + 0.5 * (r.level + r.trend)) - r.level)
               + 0.5 * r.trend
      FROM ordered o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id, level, trend, level + trend AS forecast
    FROM rec
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15f: Holt's linear-trend double exponential smoothing per user
    (alpha=beta=0.5, level seeded at the first observation, trend at 0)
    via operators/timeseries.py::holt_linear — the drift-following
    forecast baseline plain EWMA lags behind forever on a steady ramp.
    Same shape as `ts_ewma`: one key-shuffle + a sequential two-state
    in-row fold whose trend update inlines the level expression — the
    identical IEEE tree the recursive-CTE oracle replays — so the raw
    doubles compare exactly, no round()."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        holt_linear,
    )

    e = load_table(spark, sf_dir, "events")
    out = holt_linear(
        e, "user_id", ["ts", "event_id"], "value",
        alpha=0.5, beta=0.5, max_group_size=100_000,
    )
    return out.select("user_id", "event_id", "level", "trend", "forecast")


@query(
    "ts_twap",
    oracle="""
    WITH seg AS (
      SELECT user_id,
             CAST(round(value * 1000000) AS BIGINT) AS vs,
             lead(epoch_ms(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
               - epoch_ms(ts) AS dur
      FROM events
    ),
    agg AS (
      SELECT user_id, count(*)::BIGINT AS n_segments,
             sum(CAST(vs * dur AS DECIMAL(38,0))) AS num,
             sum(dur)::BIGINT AS den
      FROM seg WHERE dur IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_segments,
           num::DOUBLE / (den::DOUBLE * 1000000.0) AS twap
    FROM agg WHERE den > 0
    """,
)
def ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15e: per-user time-weighted average of the event value
    (operators/timeseries.py::time_weighted_avg) — the
    sampling-rate-robust mean: each value weighted by how long it held.
    Exact decimal/int64 sums with one closing division, so the raw
    double needs no round(); one Exchange total (the lead window and the
    agg share the user_id partitioning)."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        time_weighted_avg,
    )

    e = load_table(spark, sf_dir, "events")
    return time_weighted_avg(e, "user_id", "ts", "event_id", "value")


@query(
    "ts_seasonal",
    oracle=f"""
    WITH {seasonal_decompose_sql()}
    SELECT user_id, event_id,
           trend6 / 1000000.0 AS trend,
           seasonal6 / 1000000.0 AS seasonal,
           (d - seasonal6) / 1000000.0 AS resid
    FROM decomp
    """,
)
def ts_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15g: seasonal-means decomposition of the per-user event value
    (operators/timeseries.py::seasonal_decompose) — value = trend
    (centered ±12h time-RANGE mean) + seasonal (per-(user, hour-of-day)
    mean of the detrended series) + exact residual, the season-aware
    anomaly baseline. All-integer arithmetic end to end (scaled longs,
    HALF_UP integer divisions, sign-split where the detrended series
    goes negative), so additivity and the oracle comparison are exact by
    construction. One data-sized Exchange (the RANGE window); the
    user×24 seasonal profile broadcasts back."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        seasonal_decompose,
    )

    e = load_table(spark, sf_dir, "events")
    return seasonal_decompose(e, "user_id", "ts", "event_id", "value")


@query(
    "events_attribution_linear",
    oracle="""
    WITH conv AS (
      SELECT user_id, event_id AS conv_id, ts AS cts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_id AS touch_id, event_type AS channel, ts AS tts
      FROM events WHERE event_type IN ('view', 'click')
    ),
    j AS (
      SELECT c.conv_id, t.touch_id, t.channel, t.tts
      FROM touch t JOIN conv c
        ON t.user_id = c.user_id
       AND t.tts < c.cts
       AND t.tts >= c.cts - INTERVAL 7 DAY
    ),
    credited AS (
      SELECT channel,
             1000000 // n
             + CASE WHEN rn = 1 THEN 1000000 - n * (1000000 // n)
                    ELSE 0 END AS credit6
      FROM (
        SELECT conv_id, touch_id, channel,
               count(*) OVER (PARTITION BY conv_id) AS n,
               row_number() OVER (PARTITION BY conv_id
                                  ORDER BY tts DESC, touch_id DESC) AS rn
        FROM j
      )
    )
    SELECT channel, count(*) AS n_touches,
           sum(credit6) / 1000000.0 AS total_credit
    FROM credited GROUP BY channel
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11b: LINEAR multi-touch attribution — each purchase's credit
    splits equally over every view/click the same user made in the
    preceding 7 days, the fairer complement of
    `funnel_conversion_rate`'s last-touch rule. Credit is integer
    micro-units (1e6 div n per touch, remainder to the touch closest to
    conversion) so per-conversion credit sums to EXACTLY 1.0 and the
    channel rollup is reassociation-immune. The touch-conversion match
    is an EQUI join on user_id with the time window as a residual
    predicate (the `join_scd2_lookup` shape — per-user fan-out bounded
    by activity in the window, never a range-join explosion); one
    conv-keyed window then a channel-sized agg."""
    e = load_table(spark, sf_dir, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_cu"),
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("cts"),
    )
    touch = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("tts"),
    )
    j = touch.join(
        conv,
        (touch.user_id == conv._cu)
        & (F.col("tts") < F.col("cts"))
        & (F.col("tts") >= F.col("cts") - F.expr("INTERVAL 7 DAY")),
    )
    w = Window.partitionBy("conv_id")
    wo = w.orderBy(F.col("tts").desc(), F.col("touch_id").desc())
    n = F.count("*").over(w)
    rn = F.row_number().over(wo)
    credit6 = F.expr("1000000 div _n") + F.when(
        F.col("_rn") == 1, F.lit(1_000_000) - F.col("_n") * F.expr("1000000 div _n")
    ).otherwise(F.lit(0))
    credited = j.select(
        "channel", n.alias("_n"), rn.alias("_rn")
    ).withColumn("credit6", credit6)
    return credited.groupBy("channel").agg(
        F.count("*").alias("n_touches"),
        (F.sum("credit6") / F.lit(1_000_000.0)).alias("total_credit"),
    )


@query(
    "ts_autocorr",
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS x,
             lag(CAST(round(value * 100) AS BIGINT), 24) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS y
      FROM events
    ),
    p AS (SELECT user_id, x, y FROM s WHERE y IS NOT NULL),
    sums AS (
      SELECT user_id, count(*) AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(y * y AS DECIMAL(38,0))) AS syy,
             sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
      FROM p GROUP BY 1
    )
    SELECT user_id, n,
           round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                        * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
                 6) AS corr
    FROM sums
    WHERE n >= 2
      AND (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0.0
      AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0.0
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15i: lag-24 autocorrelation of the per-user value sequence — the
    is-there-a-daily-cycle detector that says whether `ts_seasonal`'s
    hour-of-day profile is even worth fitting: near-zero means no
    repeating structure at that lag. Pure composition of existing exact
    machinery: one lag window and `group_corr`'s decimal sufficient
    statistics SHARE the user_id Exchange, so the whole measure is one
    shuffle and the 6dp value is bit-stable."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        group_corr,
    )

    e = load_table(spark, sf_dir, "events")
    vs = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = e.select(
        "user_id", vs.alias("_x"), F.lag(vs, 24).over(w).alias("_y")
    ).filter(F.col("_y").isNotNull())
    return group_corr(lagged, ["user_id"], F.col("_x"), F.col("_y"))


@query(
    "ts_anomaly_seasonal",
    oracle=f"""
    WITH {seasonal_decompose_sql()},
    resid AS (SELECT user_id, event_id, (d - seasonal6) AS r6 FROM decomp),
    meds AS (
      SELECT user_id, quantile_disc(r6, 0.5) AS med FROM resid GROUP BY 1
    ),
    dev AS (
      SELECT r.user_id, r.event_id, r.r6, abs(r.r6 - m.med) AS dv
      FROM resid r JOIN meds m USING (user_id)
    ),
    mads AS (
      SELECT user_id, quantile_disc(dv, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT d.user_id, d.event_id,
           d.r6 / 1000000.0 AS resid,
           d.dv / 1000000.0 AS deviation,
           5 * m.mad / 1000000.0 AS threshold
    FROM dev d JOIN mads m USING (user_id)
    WHERE m.mad > 0 AND d.dv > 5 * m.mad
    """,
)
def ts_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15h: season-aware anomaly flags
    (operators/timeseries.py::seasonal_anomalies) — readings whose
    RESIDUAL after `ts_seasonal`'s trend+diurnal split exceeds 5 robust
    deviations of the user's typical residual: normal-for-3am never
    alarms, and the median/MAD threshold can't be dragged by the
    outliers it hunts. All-integer residuals and lower-middle integer
    medians make flag membership pure int64 comparison — the oracle
    replays the whole chain exactly."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        seasonal_anomalies,
    )

    e = load_table(spark, sf_dir, "events")
    return seasonal_anomalies(e, "user_id", "ts", "event_id", "value")


@query(
    "ts_cusum",
    oracle="""
    WITH RECURSIVE ordered AS (
      SELECT user_id, event_id,
             CAST(round(value * 1000000) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, event_id, rn,
             greatest(0, v - 60000000) AS sh,
             greatest(0, 40000000 - v) AS sl
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.event_id, o.rn,
             greatest(0, r.sh + o.v - 60000000),
             greatest(0, r.sl + 40000000 - o.v)
      FROM ordered o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id,
           sh::DOUBLE / 1000000.0 AS cusum_hi,
           sl::DOUBLE / 1000000.0 AS cusum_lo,
           sh > 200000000 OR sl > 200000000 AS alarm
    FROM rec
    """,
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15d: two-sided CUSUM drift detection per user (target 50, slack
    10, alarm threshold 200 cumulative units) via
    operators/timeseries.py::cusum — flags sustained mean shifts no
    per-row outlier audit can see. One key-shuffle + an all-int64
    sequential fold; the oracle replays the identical recurrence as a
    recursive CTE, and because the state arithmetic is pure integer
    (scaled 1e6), the comparison is exact by construction."""
    from openmrs_patient_migration_script_spark.operators.timeseries import cusum

    e = load_table(spark, sf_dir, "events")
    out = cusum(
        e, "user_id", ["ts", "event_id"], "value",
        target=50.0, slack=10.0, threshold=200.0,
    )
    return out.select("user_id", "event_id", "cusum_hi", "cusum_lo", "alarm")


@query(
    "affinity_basket_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def affinity_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: market-basket pair co-occurrence (the frequent-itemset /
    "bought together" recommendation primitive): parts sharing an order,
    counted across orders, kept above a support floor. The self-join
    shuffles on the BASKET key, so the quadratic blow-up is bounded by
    the largest basket, not the table — and that bound is enforced
    in-plan: a window count over the same orderkey partitioning (no extra
    Exchange) feeds an assert_true, so a degenerate mega-basket fails
    loudly instead of emitting |B|² pairs from one task. The same
    contract shape as `agg_listagg`/`ts_ewma`, applied to a join."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE shuffle gathers each basket's distinct sorted item array
    # (collect_set dedups in-agg); the mega-basket guard is then a
    # row-local size check, and the pair explosion is a row-local HOF
    # over the (guard-bounded) array — the self-join form pays three
    # more Exchanges (distinct agg keyed (basket, item) + a window
    # repartition) for the same pairs
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    guard = F.assert_true(
        F.size("parts") <= 10_000,
        F.concat(
            F.lit("basket "),
            F.col("l_orderkey").cast("string"),
            F.lit(" exceeds 10000 items — pair explosion"),
        ),
    )
    pairs = (
        baskets.where(guard.isNull())
        .select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(parts, (a, i) ->
                      transform(slice(parts, i + 2, size(parts) - i - 1),
                                b -> struct(a AS part_a, b AS part_b))))
                    """
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
    )


@query(
    "ab_welch_ttest",
    oracle="""
    WITH arms AS (
      SELECT event_type,
             count(*)::BIGINT AS n,
             avg(value::DOUBLE) AS m,
             var_samp(value::DOUBLE) AS s2
      FROM events WHERE event_type IN ('view', 'click')
      GROUP BY event_type
    )
    SELECT a.n AS n_a, b.n AS n_b,
           round(a.m - b.m, 6) AS mean_diff,
           round((a.m - b.m) / sqrt(a.s2 / a.n + b.s2 / b.n), 4) AS t_stat
    FROM arms a, arms b
    WHERE a.event_type = 'view' AND b.event_type = 'click'
    """,
)
def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18: Welch two-sample t statistic between event segments — the
    experimentation readout (unequal variances, unequal n). One
    conditional-aggregation pass computes both arms' (n, mean, variance)
    moments (partial-combinable; the A8/F3 shape), then the statistic is
    one row-local expression over the two-row result — no second scan, no
    per-row Python. The p-value lookup is a driver-side special function
    (documented, not a data-plane op). Floats are rounded per the
    registry policy: means/variances come from reassociative sums."""
    ev = load_table(spark, sf_dir, "events")
    arms = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg(F.col("value").cast("double")).alias("m"),
            F.var_samp(F.col("value").cast("double")).alias("s2"),
        )
    )
    a = arms.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_a"), F.col("m").alias("m_a"), F.col("s2").alias("s2_a")
    )
    b = arms.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_b"), F.col("m").alias("m_b"), F.col("s2").alias("s2_b")
    )
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        F.round(F.col("m_a") - F.col("m_b"), 6).alias("mean_diff"),
        F.round(
            (F.col("m_a") - F.col("m_b"))
            / F.sqrt(F.col("s2_a") / F.col("n_a") + F.col("s2_b") / F.col("n_b")),
            4,
        ).alias("t_stat"),
    )


@query(
    "agg_regression",
    oracle="""
    WITH pts AS (
      SELECT o_custkey,
             date_diff('day', DATE '1990-01-01', o_orderdate::DATE)::BIGINT AS x,
             cast(o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders
    ),
    s AS (
      SELECT o_custkey, count(*)::BIGINT AS n, sum(x) AS sx, sum(x * x) AS sxx,
             sum(y) AS sy, sum(x * y) AS sxy
      FROM pts GROUP BY o_custkey
    )
    SELECT o_custkey, n,
           round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6) AS slope,
           round((sy::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sxy::DOUBLE)
                 / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
             AS intercept
    FROM s
    WHERE n >= 2
      AND (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) <> 0
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19: per-customer spend trend — simple OLS of order value over
    order date (the `regr_slope`/`regr_intercept` surface) via
    operators/aggregates.py::group_ols. One hash aggregation carries
    exact long/decimal sufficient statistics; the closed forms evaluate
    row-locally on doubles cast from exact sums, so the 6dp rounding is
    partition-order independent (no float avg/covar chain anywhere)."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        group_ols,
    )

    o = load_table(spark, sf_dir, "orders")
    return group_ols(
        o,
        ["o_custkey"],
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        ).cast("long"),
        F.col("o_totalprice").cast("decimal(18,2)"),
    )


@query(
    "events_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT user_id, sum(c)::BIGINT AS n_events, count(*)::BIGINT AS n_types,
             list_sort(list(c)) AS cs
      FROM c GROUP BY user_id
    )
    SELECT user_id, n_events, n_types,
           round(ln(n_events)
                 - list_reduce(
                     list_prepend(0.0, list_transform(cs, x -> x * ln(x))),
                     (a, b) -> a + b
                   ) / n_events, 6) AS entropy
    FROM g
    """,
)
def events_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy (nats) of the event-type distribution —
    the behavioral-diversity feature (bots and single-purpose scripts
    score near 0, organic users near ln(n_types)). Exact integer counts
    feed the algebraic form H = ln(n) − Σc·ln(c)/n, and the Σc·ln(c)
    float sum folds over the SORTED count list on both engines — an
    unordered SUM would be partial-agg-order reassociative, the
    r3 `text_stats_by_lang` flake class; the sequential fold makes the
    IEEE operation sequence identical (the ewma argument), leaving only
    libm's last ulp for the 6dp round to absorb (the dq_drift_psi
    precedent). Two chained hash aggs; shuffle rows = distinct
    (user, type), then one small count array per user."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    g = c.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count("*").alias("n_types"),
        F.sort_array(F.collect_list("c")).alias("cs"),
    )
    fold = F.expr("aggregate(transform(cs, x -> x * ln(x)), 0.0D, (a, b) -> a + b)")
    return g.select(
        "user_id",
        "n_events",
        "n_types",
        F.round(F.log(F.col("n_events")) - fold / F.col("n_events"), 6).alias(
            "entropy"
        ),
    )


@query(
    "win_rolling_median",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS vs
      FROM events
    )
    SELECT user_id, event_id,
           quantile_disc(vs, 0.5) OVER w AS median_cents,
           quantile_disc(vs, 0.5) OVER w / 100.0 AS rolling_median
    FROM s
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2c: rolling MEDIAN filter over the trailing 7-row frame per user
    — the robust smoother a mean-based rolling baseline can't be: one
    outlier in the frame moves a trailing mean by outlier/7 but leaves
    the median untouched (50% breakdown inside every frame), which is
    why median filtering is the standard pre-despike for sensor/metric
    feeds. Exactness: values are scaled cents; the median is the LOWER
    middle of the sorted frame (`element_at(sorted, (n+1) div 2)` —
    integer selection, no interpolation), which is precisely DuckDB's
    `quantile_disc(0.5)` over the same frame, so the comparison is
    exact. ONE Exchange on user_id; the in-frame sort is row-local
    (frame width 7)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    vs = F.round(F.col("value") * 100).cast("long")
    frame = F.array_sort(F.collect_list(vs).over(w))
    med = F.element_at(frame, ((F.size(frame) + 1) / 2).cast("int"))
    return e.select(
        "user_id",
        "event_id",
        med.alias("median_cents"),
        (med / F.lit(100.0)).alias("rolling_median"),
    )


@query(
    "agg_gini",
    oracle="""
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY n_chars) AS i
      FROM documents
    ),
    sums AS (
      SELECT source, count(*) AS n,
             sum(CAST(n_chars AS DECIMAL(38,0))) AS s,
             sum(CAST(i * n_chars AS DECIMAL(38,0))) AS w
      FROM ranked GROUP BY 1
    )
    SELECT source, n,
           round((2.0 * w::DOUBLE - (n::DOUBLE + 1.0) * s::DOUBLE)
                 / (n::DOUBLE * s::DOUBLE), 6) AS gini
    FROM sums WHERE s > 0
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3d: per-source Gini of document lengths
    (operators/aggregates.py::group_gini) — the concentration dial for
    a data mix: is one source's character budget held by a few huge
    documents? Exact integer rank-weighted sums (row_number ties
    contribute symmetrically, so the aggregate is order-invariant),
    one closing division; the ranking window and the aggregation share
    ONE group-keyed Exchange."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        group_gini,
    )

    docs = load_table(spark, sf_dir, "documents")
    return group_gini(docs, ["source"], F.col("n_chars").cast("long"))


@query(
    "agg_skew_kurtosis",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x FROM events
    ),
    sums AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS s1,
             sum(CAST(x * x AS DECIMAL(38,0))) AS s2,
             sum(CAST(x * x AS DECIMAL(38,0))
                 * CAST(x AS DECIMAL(38,0))) AS s3,
             sum(CAST(x * x AS DECIMAL(38,0))
                 * CAST(x * x AS DECIMAL(38,0))) AS s4
      FROM s GROUP BY 1
    ),
    d AS (
      SELECT event_type, n,
             n::DOUBLE AS nd, s1::DOUBLE AS s1d, s2::DOUBLE AS s2d,
             s3::DOUBLE AS s3d, s4::DOUBLE AS s4d
      FROM sums
    )
    SELECT event_type, n,
           round((nd * nd * s3d - 3.0 * nd * s1d * s2d
                  + 2.0 * s1d * s1d * s1d)
                 / ((nd * s2d - s1d * s1d)
                    * sqrt(nd * s2d - s1d * s1d)), 6) AS skewness,
           round((nd * nd * nd * s4d - 4.0 * nd * nd * s1d * s3d
                  + 6.0 * nd * s1d * s1d * s2d
                  - 3.0 * s1d * s1d * s1d * s1d)
                 / ((nd * s2d - s1d * s1d) * (nd * s2d - s1d * s1d))
                 - 3.0, 6) AS kurtosis
    FROM d
    WHERE n >= 3 AND (nd * s2d - s1d * s1d) > 0.0
    """,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3c: per-type skewness + excess kurtosis of event values
    (operators/aggregates.py::group_skew_kurtosis) — the tail-shape
    moments that tell a monitoring pipeline WHETHER a distribution is
    long-tailed before it picks thresholds. Exact decimal power sums
    (one hash agg) with the closed forms evaluated row-locally — unlike
    the built-in streaming skewness/kurtosis, partition-merge-order
    free by construction, so the 6dp values are bit-stable."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        group_skew_kurtosis,
    )

    e = load_table(spark, sf_dir, "events")
    return group_skew_kurtosis(
        e, ["event_type"], F.round(F.col("value") * 100).cast("long")
    )


@query(
    "agg_correlation",
    oracle="""
    WITH pts AS (
      SELECT l_suppkey,
             CAST(round(l_quantity * 100) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT l_suppkey, count(*)::BIGINT AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(y * y AS DECIMAL(38,0))) AS syy,
             sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
      FROM pts GROUP BY l_suppkey
    )
    SELECT l_suppkey, n,
           round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                        * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
                 6) AS corr
    FROM s
    WHERE n >= 2
      AND (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
      AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
    """,
)
def agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier Pearson correlation of quantity vs extended price —
    the `corr()` surface rebuilt on exact decimal sufficient statistics
    (operators/aggregates.py::group_corr) so the result is bit-stable
    across partition orders (Spark's built-in corr is a float covariance
    chain, reassociative and oracle-unfriendly). One hash agg carrying
    six exact numbers per group; IEEE sqrt/divide of exact casts makes
    the 6dp round deterministic."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        group_corr,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return group_corr(
        li,
        ["l_suppkey"],
        F.round(F.col("l_quantity") * 100).cast("long"),
        F.round(F.col("l_extendedprice") * 100).cast("long"),
    )


@query(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                    OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts,
           (sum(new_s) OVER w2)::BIGINT AS session_seq,
           max(CASE WHEN new_s = 1 THEN ts END) OVER w2 AS session_start
    FROM flagged
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING)
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12b: row-level session labeling (gaps-and-islands) — every event
    tagged with its 30-minute-gap session_seq and session_start via
    operators/timeseries.py::sessionize. One Exchange + one sort per the
    plan audit; the lag flag and both running carries chain over the
    same (user_id | ts, event_id) sort. Integer-ms gap arithmetic on
    both engines; the oracle's `max(CASE WHEN new THEN ts END)` running
    carry is the same last-non-null trick (ts is monotone in the
    frame, so max == last non-null)."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        sessionize,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return sessionize(e, "user_id", "ts", "event_id", gap_minutes=30)


@query(
    "events_rfm",
    oracle="""
    WITH now_ref AS (SELECT max(ts) AS now_ts FROM events),
    per_user AS (
      SELECT user_id,
             (epoch_ms(now_ts) - epoch_ms(max(ts))) // 60000 AS recency_minutes,
             count(*) AS frequency,
             sum(cast(round(value * 100, 0) AS BIGINT)) AS monetary_cents
      FROM events, now_ref GROUP BY user_id, now_ts
    ),
    cuts AS (
      SELECT quantile_cont(recency_minutes, [0.25, 0.5, 0.75]) AS rc,
             quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fc,
             quantile_cont(monetary_cents, [0.25, 0.5, 0.75]) AS mc
      FROM per_user
    )
    SELECT user_id, recency_minutes, frequency,
           monetary_cents / 100.0 AS monetary,
           r_q, f_q, m_q,
           r_q::VARCHAR || f_q::VARCHAR || m_q::VARCHAR AS segment
    FROM (
      SELECT p.*,
             4 - ((p.recency_minutes > rc[1])::INT
                  + (p.recency_minutes > rc[2])::INT
                  + (p.recency_minutes > rc[3])::INT) AS r_q,
             1 + (p.frequency > fc[1])::INT + (p.frequency > fc[2])::INT
               + (p.frequency > fc[3])::INT AS f_q,
             1 + (p.monetary_cents > mc[1])::INT + (p.monetary_cents > mc[2])::INT
               + (p.monetary_cents > mc[3])::INT AS m_q
      FROM per_user p CROSS JOIN cuts
    )
    """,
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12d (r4): RFM segmentation — per-user Recency / Frequency /
    Monetary quartile scores and the concatenated segment label, the
    classic customer-value rollup of product analytics. Deliberately
    NOT the textbook global-ntile plan (a single-partition window over
    every user — the shape this repo excised in r2): quartile CUT POINTS
    come from one exact-percentile aggregate over the per-user frame
    and broadcast back, so the plan is one user-keyed agg + a one-row
    broadcast + row-local bucketing at any scale. Tie semantics improve
    too: equal values always share a bucket (ntile splits them by
    arbitrary rank). Monetary sums are exact scaled-long cents
    (events.value is 2dp); the cut comparison is long-vs-interpolated-
    double, identical on both engines."""
    e = load_table(spark, sf_dir, "events")
    now = e.agg(F.max("ts").alias("now_ts"))
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max("ts").alias("_last"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "monetary_cents"
            ),
        )
        .crossJoin(F.broadcast(now))
        .select(
            "user_id",
            F.expr(
                "(unix_millis(now_ts) - unix_millis(_last)) div 60000"
            ).alias("recency_minutes"),
            "frequency",
            "monetary_cents",
        )
    )
    cuts = per_user.agg(
        F.expr("percentile(recency_minutes, array(0.25, 0.5, 0.75))").alias("rc"),
        F.expr("percentile(frequency, array(0.25, 0.5, 0.75))").alias("fc"),
        F.expr("percentile(monetary_cents, array(0.25, 0.5, 0.75))").alias("mc"),
    )
    scored = per_user.crossJoin(F.broadcast(cuts))
    above = lambda col, arr, i: (  # noqa: E731
        F.col(col) > F.element_at(F.col(arr), i)
    ).cast("int")
    r_q = F.lit(4) - (
        above("recency_minutes", "rc", 1)
        + above("recency_minutes", "rc", 2)
        + above("recency_minutes", "rc", 3)
    )
    f_q = F.lit(1) + (
        above("frequency", "fc", 1)
        + above("frequency", "fc", 2)
        + above("frequency", "fc", 3)
    )
    m_q = F.lit(1) + (
        above("monetary_cents", "mc", 1)
        + above("monetary_cents", "mc", 2)
        + above("monetary_cents", "mc", 3)
    )
    return scored.select(
        "user_id",
        "recency_minutes",
        "frequency",
        (F.col("monetary_cents") / F.lit(100.0)).alias("monetary"),
        r_q.alias("r_q"),
        f_q.alias("f_q"),
        m_q.alias("m_q"),
        F.concat(
            r_q.cast("string"), f_q.cast("string"), m_q.cast("string")
        ).alias("segment"),
    )


@query(
    "funnel_conversion_rate",
    oracle=f"""
    WITH {ASOF_INPUTS_SQL},
    attributed AS (
      SELECT view_id, view_hour, purchase_id FROM (
        SELECT v.event_id AS view_id, hour(v.ts) AS view_hour,
               p.event_id AS purchase_id,
               row_number() OVER (PARTITION BY v.event_id
                                  ORDER BY p.ts ASC, p.event_id ASC) AS rn
        FROM v LEFT JOIN p ON v.user_id = p.user_id AND p.ts >= v.ts
                          AND p.ts <= v.ts + INTERVAL 1 HOUR
      ) WHERE rn = 1
    )
    SELECT view_hour, count(*) AS n_views,
           count(purchase_id) AS n_converted,
           ((2 * 10000 * count(purchase_id) + count(*)) // (2 * count(*)))
             / 10000.0 AS conversion_rate
    FROM attributed GROUP BY view_hour
    """,
)
def funnel_conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11b (r4): attribution conversion rate — for every view, the next
    purchase of the same user within ONE HOUR (the forward as-of join
    with tolerance, operators/joins.py::asof_join), rolled up to
    conversion rate by hour-of-day. The composition the tolerance knob
    exists for: the attribution step stays one shuffle + one window
    regardless of window width, and the rate is exact integer HALF_UP at
    4dp (counts only — no float aggregation)."""
    from openmrs_patient_migration_script_spark.operators.joins import asof_join

    e = load_table(spark, sf_dir, "events")
    views = asof_side(e, "view")
    purchases = asof_side(e, "purchase")
    attributed = asof_join(
        views,
        purchases,
        on=["user_id"],
        left_ts="view_ts",
        right_ts="purchase_ts",
        right_payload=["purchase_id", "purchase_ts"],
        right_id="purchase_id",
        direction="forward",
        tolerance_seconds=3600,
    )
    agg = attributed.groupBy(
        F.hour("view_ts").cast("long").alias("view_hour")
    ).agg(
        F.count("*").alias("n_views"),
        F.count("purchase_id").alias("_nc"),
    )
    return agg.select(
        "view_hour",
        "n_views",
        F.col("_nc").alias("n_converted"),
        (
            F.expr("(2 * 10000 * _nc + n_views) div (2 * n_views)")
            / F.lit(10000.0)
        ).alias("conversion_rate"),
    )


@query(
    "events_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
    cal AS (SELECT DISTINCT day FROM ud),
    wau AS (
      SELECT c.day, count(DISTINCT u.user_id) AS wau
      FROM cal c JOIN ud u
        ON u.day BETWEEN c.day - INTERVAL 6 DAY AND c.day
      GROUP BY c.day
    )
    SELECT dau.day, dau.dau, wau.wau
    FROM dau JOIN wau USING (day)
    """,
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12e (r4): DAU / rolling 7-day WAU — the engagement counters every
    product dashboard leads with, and a genuinely hard exact shape:
    rolling DISTINCT does not decompose into daily sums (a user active
    twice in one window counts once). The plan avoids the oracle's
    range join (every (window, user-day) pair materialized): each
    user-day row EXPLODES into the <= 7 window-ends it can serve,
    dedups per (user, window), and counts — shuffle is user-days × 7,
    linear in actives, and every stage partial-combines. At extreme
    scale the same query runs on the mergeable exact-bitmap family
    (operators/sketches.py::rollup_bitmap_distinct: per-day bitmaps
    OR-merged across the window) or HLL for approximate counters —
    documented swaps, same declared semantics."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date(F.col("ts")).alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"),
            "day",
        )
        .select(
            "user_id", F.expr("date_add(day, k)").alias("wday")
        )
        .distinct()
    )
    wau = contrib.groupBy("wday").agg(F.count("*").alias("wau"))
    return (
        dau.join(wau, dau["day"] == wau["wday"])
        .select("day", "dau", "wau")
    )


@query(
    "ab_chisq",
    oracle=f"""
    WITH t AS (
      SELECT event_type,
             {hash_bucket_sql("user_id", 2)} AS arm
      FROM events
    ),
    cells AS (SELECT event_type, arm, count(*) AS o FROM t GROUP BY 1, 2),
    rt AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1),
    ct AS (SELECT arm, sum(o) AS c FROM cells GROUP BY 1),
    tot AS (SELECT sum(o)::DOUBLE AS n FROM cells),
    terms AS (
      SELECT CAST(round(((o - r * c / n) * (o - r * c / n)) / (r * c / n)
                        * 1000000, 0) AS BIGINT) AS t6
      FROM cells JOIN rt USING (event_type) JOIN ct USING (arm), tot
    )
    SELECT (SELECT count(*) FROM cells) AS n_cells,
           (SELECT (count(DISTINCT event_type) - 1) FROM t)
             * (SELECT (count(DISTINCT arm) - 1) FROM t) AS dof,
           sum(t6) / 1000000.0 AS chi2
    FROM terms
    """,
)
def ab_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18b (r4): chi-squared independence test — does a deterministic
    md5 arm split shift the event-type mix? The categorical sibling of
    `ab_welch_ttest` (that one compares means; this one compares
    distributions). One contingency aggregation (|types|x|arms| cells),
    row/column totals broadcast back as tiny frames, per-cell terms
    rounded once at 6dp (identical doubles on both engines — the BM25
    per-term recipe) and summed as exact longs, so the statistic is
    reassociation-immune. The p-value lookup is a driver-side special
    function, not a data-plane op."""
    e = load_table(spark, sf_dir, "events")
    from openmrs_patient_migration_script_spark.operators.sampling import hash_bucket

    t = e.select(
        "event_type", (hash_bucket(F.col("user_id")) % 2).alias("arm")
    )
    # cells feeds FOUR consumers (row totals, column totals, grand total,
    # the term join) and the dof probe below — without a checkpoint each
    # replays the full contingency aggregation over the event scan
    # (observed: a 10-shuffle, 5-scan plan). The table is |types|x|arms|
    # rows; materializing it is free.
    cells = (
        t.groupBy("event_type", "arm").agg(F.count("*").alias("o"))
        .localCheckpoint(eager=True)
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("arm").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").cast("double").alias("n"))
    expected = F.col("r") * F.col("c") / F.col("n")
    d = F.col("o") - expected
    terms = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "arm")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round((d * d) / expected * 1e6, 0).cast("long").alias("t6")
        )
    )
    # dof off the checkpointed cells (types x arms rows), not the raw
    # event stream — the multi-distinct Expand over 600k rows becomes one
    # over a dozen
    dims = cells.agg(
        ((F.countDistinct("event_type") - 1) * (F.countDistinct("arm") - 1)).alias(
            "dof"
        )
    )
    return (
        terms.agg(
            F.count("*").alias("n_cells"),
            (F.sum("t6") / F.lit(1e6)).alias("chi2"),
        )
        .crossJoin(F.broadcast(dims))
        .select("n_cells", "dof", "chi2")
    )


@query(
    "win_trailing_time",
    oracle="""
    SELECT event_id, user_id, ts,
           count(*) OVER w AS n_1h,
           (sum((2 * CAST(round(value * 1000000) AS BIGINT) + 10000)
                // 20000) OVER w)::BIGINT AS sum_cents_1h
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_ms(ts)
      RANGE BETWEEN 3599999 PRECEDING AND CURRENT ROW
    )
    """,
)
def win_trailing_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2b: trailing TIME-range frame — per event, the count and exact
    scaled-cents sum of the same user's events in the preceding hour
    (inclusive): the rate-limit / burst-detection / rolling-feature shape
    that needs a RANGE frame over event time, not a row frame (rows
    ignore gaps) and not a tumbling grid (grids quantize the boundary).
    Ordering on integer epoch-millis makes the frame bound exact on both
    engines; peers at the same millisecond share frames by RANGE
    semantics, so no tiebreak column is needed for determinism. ONE
    Exchange on user_id; the frame scan is the classic two-pointer walk
    per partition."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis("ts"))
        .rangeBetween(-3_599_999, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_1h"),
        F.sum(
            F.expr("(2 * cast(round(value * 1000000) as long) + 10000) div 20000")
        )
        .over(w)
        .alias("sum_cents_1h"),
    )


@query(
    "events_coverage_gaps",
    oracle="""
    WITH b AS (
      SELECT min(CAST(ts AS DATE)) AS dmin, max(CAST(ts AS DATE)) AS dmax
      FROM events
    ),
    u AS (SELECT DISTINCT user_id FROM events),
    spine AS (
      SELECT user_id,
             unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))::DATE AS day
      FROM u, b
    ),
    present AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT s.user_id, s.day AS missing_day
    FROM spine s
    LEFT JOIN present p ON s.user_id = p.user_id AND s.day = p.day
    WHERE p.user_id IS NULL
    """,
)
def events_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12b: calendar-spine coverage audit — for every user, the days in
    the feed's global date range with NO events: the silent-pipeline /
    dropped-partition detector (an ingestion gap looks like healthy low
    volume to every aggregate that only sees rows that EXIST; only a
    generated spine sees the rows that don't). The spine is a row-local
    explode off the distinct-user list against a one-row broadcast of
    the global bounds; presence dedups to user-days (map-side combine)
    and the gap set is one anti join. At 100 TB the date-partitioned
    layout turns `present` into a metadata-only listing per
    partition."""
    e = load_table(spark, sf_dir, "events")
    # ONE event scan: bounds and the user list both derive from the
    # deduped user-day set (min/max calendar day == min/max event date),
    # so the checkpoint replaces three full scans of the feed
    present = (
        e.select("user_id", F.to_date("ts").alias("missing_day"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    bounds = present.agg(
        F.min("missing_day").alias("_dmin"), F.max("missing_day").alias("_dmax")
    )
    users = present.select("user_id").distinct()
    spine = (
        users.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.expr("sequence(_dmin, _dmax, interval 1 day)")).alias(
                "missing_day"
            ),
        )
    )
    return spine.join(present, ["user_id", "missing_day"], "left_anti")


@query(
    "ts_downsample_minmax",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts, date_trunc('hour', ts) AS bucket,
             CAST(round(value * 100) AS BIGINT) AS vs
      FROM events
    )
    , m AS (
      SELECT user_id, bucket, vs, event_id,
             min(vs) OVER w AS mn, max(vs) OVER w AS mx
      FROM s WINDOW w AS (PARTITION BY user_id, bucket)
    )
    SELECT user_id, bucket,
           min(vs) / 100.0 AS lo,
           max(vs) / 100.0 AS hi,
           min(CASE WHEN vs = mn THEN event_id END) AS lo_event_id,
           min(CASE WHEN vs = mx THEN event_id END) AS hi_event_id,
           count(*) AS n_compressed
    FROM m GROUP BY 1, 2
    """,
)
def ts_downsample_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15j: min/max envelope downsampling — per (user, hour) keep the
    extreme readings AND their row identities: the monitoring compaction
    that, unlike a mean bar, can never hide a spike inside the bucket
    (the envelope is preserved exactly; `ts_ohlc` keeps the
    boundary points, this keeps the extremes). Ties resolve to the
    smallest event id on both extremes via min_by/max_by struct
    ordering — integer-exact, so the oracle matches byte-for-byte. One
    partial-combined hash agg; shuffle carries one envelope row per
    bucket."""
    e = load_table(spark, sf_dir, "events")
    vs = F.round(F.col("value") * 100).cast("long")
    s = e.select(
        "user_id",
        "event_id",
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        vs.alias("_vs"),
    )
    return s.groupBy("user_id", "bucket").agg(
        (F.min("_vs") / F.lit(100.0)).alias("lo"),
        (F.max("_vs") / F.lit(100.0)).alias("hi"),
        F.min_by(
            "event_id", F.struct(F.col("_vs"), F.col("event_id"))
        ).alias("lo_event_id"),
        F.max_by(
            "event_id", F.struct(F.col("_vs"), (-F.col("event_id")).alias("_n"))
        ).alias("hi_event_id"),
        F.count("*").alias("n_compressed"),
    )


@query(
    "events_cumulative_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY 1
    ),
    per_day AS (
      SELECT d, count(*) AS new_users FROM first_seen GROUP BY 1
    )
    SELECT d AS day, new_users,
           (sum(new_users) OVER (ORDER BY d
                                 ROWS UNBOUNDED PRECEDING))::BIGINT
             AS cumulative_users
    FROM per_day
    """,
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12c: the user growth curve — per day, how many users appeared
    for the FIRST time and the cumulative distinct total to date. A
    naive distinct-count-over-window re-scans every prefix (and Spark
    rightly refuses DISTINCT window aggregates); the first-seen rewrite
    makes it two tiny exact aggregations — each user collapses to one
    (user, first day) row, days collapse to (day, new_users), and the
    running sum is a day-count window. The final global window runs
    over #days rows (a calendar, not the data), so the single
    partition-less sort is bounded metadata at any corpus scale."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    per_day = first_seen.groupBy("day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cumulative_users")
    )


@query(
    "sample_weighted",
    oracle="""
    WITH w AS (
      SELECT doc_id AS key, CAST(1 + n_chars % 5 AS BIGINT) AS weight
      FROM documents
    ),
    t AS (
      SELECT key, weight,
             unnest(generate_series(1, weight)) AS tick
      FROM w
    ),
    u AS (
      SELECT key, weight,
             ('0x' || substr(md5(CAST(key * 16 + tick AS VARCHAR)), 1, 8))
               ::BIGINT % 1000000000 AS uval
      FROM t
    ),
    best AS (
      SELECT key, weight, max(uval) AS ticket
      FROM u GROUP BY key, weight
    )
    SELECT key, weight, ticket FROM best
    ORDER BY ticket DESC, key LIMIT 100
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10f: weighted sampling without replacement (Efraimidis-Spirakis
    A-ES) — quality-weighted corpus subsampling: longer documents get
    proportionally more chance without ever sorting on float pow. The
    u^(1/w) key is drawn as the max of w integer ticket hashes (the
    exact same distribution for integer weights), so the winning set is
    engine-reproducible and the oracle replays it byte-exact
    (operators/sampling.py::weighted_sample). Row-local bounded explode
    + one map-side-combining max agg + TakeOrdered top-k."""
    from openmrs_patient_migration_script_spark.operators.sampling import (
        weighted_sample,
    )

    d = load_table(spark, sf_dir, "documents")
    return weighted_sample(
        d, "doc_id", F.lit(1) + F.col("n_chars") % 5, k=100
    )


@query(
    "agg_spearman",
    oracle="""
    WITH r AS (
      SELECT l_suppkey,
             (2 * rank() OVER (PARTITION BY l_suppkey ORDER BY l_quantity)
              + count(*) OVER (PARTITION BY l_suppkey, l_quantity)
              - 1)::BIGINT AS rx,
             (2 * rank() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice)
              + count(*) OVER (PARTITION BY l_suppkey, l_extendedprice)
              - 1)::BIGINT AS ry
      FROM lineitem
    ),
    s AS (
      SELECT l_suppkey, count(*)::BIGINT AS n,
             sum(rx)::DECIMAL(38,0) AS sx, sum(ry)::DECIMAL(38,0) AS sy,
             sum(rx * rx)::DECIMAL(38,0) AS sxx,
             sum(ry * ry)::DECIMAL(38,0) AS syy,
             sum(rx * ry)::DECIMAL(38,0) AS sxy
      FROM r GROUP BY l_suppkey
    )
    SELECT l_suppkey, n,
           round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                        * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
                 6) AS spearman
    FROM s
    WHERE n >= 2
      AND n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0.0
      AND n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0.0
    """,
)
def agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3e (r6): per-supplier Spearman rank correlation between quantity
    and extended price (operators/aggregates.py::group_spearman) — the
    monotone-association readout robust to outliers and float-valued
    metrics: only RANKS (tie-averaged, carried as exact 2x integers)
    enter the arithmetic, then `group_corr`'s exact-decimal Pearson
    closes the form. Two same-key rank windows (one Exchange) + one
    six-number-per-group hash agg."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        group_spearman,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return group_spearman(
        li, ["l_suppkey"], F.col("l_quantity"), F.col("l_extendedprice")
    )


@query(
    "ab_mann_whitney",
    oracle="""
    WITH ev AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('view', 'click')
    ),
    vc AS (
      SELECT value, count(*)::BIGINT AS t,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
               AS cnt_a
      FROM ev GROUP BY value
    ),
    ranked AS (
      SELECT value, t, cnt_a,
             (2 * (1 + sum(t) OVER (ORDER BY value
                                    ROWS UNBOUNDED PRECEDING) - t)
              + t - 1)::BIGINT AS rank2
      FROM vc
    ),
    s AS (
      SELECT sum(cnt_a * rank2)::BIGINT AS r2_a,
             sum(cnt_a)::BIGINT AS n_a,
             sum(t - cnt_a)::BIGINT AS n_b,
             sum(t::HUGEINT * t * t - t)::HUGEINT AS tie_term,
             sum(t)::BIGINT AS n
      FROM ranked
    )
    SELECT n_a, n_b,
           (r2_a - n_a * (n_a + 1)) AS u2_a,
           CASE WHEN coalesce(n_a, 0) * coalesce(n_b, 0) = 0
                  OR tie_term = n::HUGEINT * n * n - n
                THEN 0.0
                ELSE round(((r2_a - n_a * (n_a + 1))::DOUBLE / 2.0
                            - n_a::DOUBLE * n_b::DOUBLE / 2.0)
                           / sqrt(n_a::DOUBLE * n_b::DOUBLE / 12.0
                                  * ((n::DOUBLE + 1.0)
                                     - tie_term::DOUBLE
                                       / (n::DOUBLE * (n::DOUBLE - 1.0)))),
                           4)
           END AS z_stat
    FROM s
    """,
)
def ab_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18b (r6): Mann-Whitney U between event arms — the
    nonparametric two-sample test completing the experimentation
    family (Welch t: mean shift under normality; chi-squared: rates;
    U: stochastic dominance with no distribution assumption — the
    robust default for skewed revenue-like metrics).

    Scale design: ranks are NEVER assigned per event row (a global row
    window is a single-partition sort). The arms aggregate to the
    DISTINCT-VALUE table first (vocabulary-sized), the tie-averaged
    rank of each distinct value derives from a running sum over that
    small table, and the rank-sum R_a recomposes as Σ cnt_a(v)·rank2(v)
    — exact integers throughout (rank2 = 2·avg rank; u2_a = 2·U_a).
    The tie-corrected z evaluates row-locally on doubles cast from the
    exact sums (IEEE-correctly-rounded ops → 4dp is engine-stable)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click"))
        .select("event_type", "value")
    )
    vc = ev.groupBy("value").agg(
        F.count(F.lit(1)).alias("t"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "cnt_a"
        ),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    ranked = vc.select(
        "t",
        "cnt_a",
        (2 * (1 + F.sum("t").over(w) - F.col("t")) + F.col("t") - 1)
        .cast("long")
        .alias("rank2"),
    )
    # tie_term and the n³−n guard run in DECIMAL(38,0) (oracle: HUGEINT):
    # past n ≈ 2.1M rows n³ overflows int64, where DuckDB raises but
    # non-ANSI Spark silently wraps — the same overflow rule this file
    # applies to sum_d2 in ab_paired_ttest. Neither column is emitted,
    # so the no-decimal-output rule (functions/numeric.py) is not
    # violated: z_stat leaves as a rounded double.
    dec = "decimal(19,0)"
    s = ranked.agg(
        F.sum(F.col("cnt_a") * F.col("rank2")).alias("r2_a"),
        F.sum("cnt_a").alias("n_a"),
        F.sum(F.col("t") - F.col("cnt_a")).alias("n_b"),
        F.sum(
            F.col("t").cast(dec) * F.col("t").cast(dec) * F.col("t").cast(dec)
            - F.col("t").cast(dec)
        )
        .cast("decimal(38,0)")
        .alias("tie_term"),
        F.sum("t").alias("n"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = F.col("n").cast("double")
    u2 = F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)
    # degenerate designs pin z to 0.0 instead of an engine-dependent
    # NULL/NaN 0/0 (the ks_drift rule): an empty arm (n_a·n_b = 0) or a
    # single shared value (tie_term = n³−n makes the tie-corrected
    # variance exactly 0 — an INTEGER-decidable condition, no float
    # threshold). Both conditions are mirrored verbatim in the oracle.
    degenerate = (
        (F.coalesce(F.col("n_a"), F.lit(0)) * F.coalesce(F.col("n_b"), F.lit(0)) == 0)
        | (
            F.col("tie_term")
            == (
                F.col("n").cast(dec) * F.col("n").cast(dec) * F.col("n").cast(dec)
                - F.col("n").cast(dec)
            ).cast("decimal(38,0)")
        )
    )
    return s.select(
        "n_a",
        "n_b",
        u2.alias("u2_a"),
        F.when(degenerate, F.lit(0.0))
        .otherwise(
            F.round(
                (u2.cast("double") / 2.0 - na * nb / 2.0)
                / F.sqrt(
                    na * nb / 12.0
                    * (
                        (n + 1.0)
                        - F.col("tie_term").cast("double") / (n * (n - 1.0))
                    )
                ),
                4,
            )
        )
        .alias("z_stat"),
    )


@query(
    "agg_mutual_info",
    oracle="""
    WITH cells AS (
      SELECT lang AS val_a, source AS val_b, count(*)::BIGINT AS n_ab
      FROM documents GROUP BY lang, source
    ),
    ma AS (SELECT val_a, sum(n_ab)::BIGINT AS n_a FROM cells GROUP BY val_a),
    mb AS (SELECT val_b, sum(n_ab)::BIGINT AS n_b FROM cells GROUP BY val_b),
    t AS (SELECT sum(n_ab)::BIGINT AS n_total FROM cells)
    SELECT cells.val_a, cells.val_b, n_ab, n_a, n_b, n_total,
           round((n_ab / n_total::DOUBLE)
                 * ln((n_ab::DOUBLE * n_total) / (n_a::DOUBLE * n_b)),
                 6) AS mi_term
    FROM cells JOIN ma USING (val_a) JOIN mb USING (val_b), t
    """,
)
def agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3d (r6): mutual information between `lang` and `source` on the
    corpus, decomposed per occupied cell
    (operators/aggregates.py::mutual_information) — the data-mix
    dependence audit: MI ≈ 0 means the language mix factorizes across
    sources (sample sources independently); high MI means per-source
    language skew that `corpus_mixture` / `sample_balance` must
    stratify over. Exact BIGINT joint/marginal counts; the one float
    chain per cell is fixed row-local IEEE ops rounded at 6dp (the
    `text_pmi` rule). One data-sized hash agg; marginals re-aggregate
    the bounded cell table and broadcast back."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        mutual_information,
    )

    d = load_table(spark, sf_dir, "documents")
    return mutual_information(d, "lang", "source")


@query(
    "ab_cuped",
    oracle="""
    WITH units AS (
      SELECT user_id % 2 AS arm,
             coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                               THEN CAST(round(value * 100) AS BIGINT) END),
                      0)::BIGINT AS x,
             coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                               THEN CAST(round(value * 100) AS BIGINT) END),
                      0)::BIGINT AS y
      FROM events GROUP BY user_id
    ),
    gstats AS (
      SELECT count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(x::HUGEINT * y)::HUGEINT AS sxy,
             sum(x::HUGEINT * x)::HUGEINT AS sxx
      FROM units
    ),
    arms AS (
      SELECT arm, count(*)::BIGINT AS n_units,
             sum(x)::BIGINT AS sx_a, sum(y)::BIGINT AS sy_a
      FROM units GROUP BY arm
    )
    SELECT arm, n_units,
           round(sy_a::DOUBLE / n_units, 6) AS mean_y,
           round(theta, 6) AS theta,
           round(sy_a::DOUBLE / n_units
                 - theta * (sx_a::DOUBLE / n_units - sx::DOUBLE / n),
                 6) AS adj_mean_y
    FROM (
      SELECT arm, n_units, sx_a, sy_a, sx, n,
             CASE WHEN (n::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE = 0.0
                  THEN 0.0
                  ELSE (n::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE
                       / (n::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE
             END AS theta
      FROM arms, gstats
    )
    """,
)
def ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18c (r6): CUPED variance-reduced experiment readout
    (operators/aggregates.py::cuped) — the industry-standard A/B
    adjustment (Deng et al., WSDM 2013): each user's PRE-period spend
    (Jan 1-15, exact cents) is the covariate for their post-period
    metric (Jan 16+), arms assigned by user_id parity; the adjusted
    per-arm mean subtracts θ·(arm's covariate mean − global covariate
    mean), with θ = cov(x,y)/var(x) from exact DECIMAL power sums —
    zero reassociative float summation, the `agg_regression` rule, so
    6dp rounding is partition-order free. One user-keyed agg to unit
    rows, one arm-keyed agg + a one-row broadcast; var(x) = 0
    degenerates to θ = 0, pinned in tests."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        cuped,
    )

    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    units = e.groupBy("user_id").agg(
        (F.col("user_id") % 2).alias("arm"),
        F.coalesce(F.sum(F.when(F.col("ts") < cutoff, cents)), F.lit(0))
        .cast("long")
        .alias("x"),
        F.coalesce(F.sum(F.when(F.col("ts") >= cutoff, cents)), F.lit(0))
        .cast("long")
        .alias("y"),
    )
    return cuped(units)


@query(
    "sample_stratified",
    oracle="""
    WITH counts AS (
      SELECT lang, count(*)::BIGINT AS n_stratum FROM documents GROUP BY lang
    ),
    ranked AS (
      SELECT lang AS stratum, doc_id AS key,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             )::BIGINT AS rn
      FROM documents
    )
    SELECT r.stratum, r.key, r.rn, c.n_stratum
    FROM ranked r JOIN counts c ON r.stratum = c.lang
    WHERE r.rn <= (c.n_stratum * 10 + 99) // 100
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10g (r6): exact proportional-allocation stratified sample —
    exactly ceil(10% of each language) of the corpus, smallest-md5
    first (operators/sampling.py::proportional_stratified_sample): the
    eval-set-construction contract where per-stratum sizes must be
    EXACT, complementing `sample_hash`'s rate-based Bernoulli form
    (noisy sizes, zero extra cost) — ceil guarantees tiny strata are
    never rounded away. Content-addressed selection makes the kept
    row-set engine-exact. One bounded count agg broadcast + one
    per-stratum rank window (data-dependent threshold, so no
    WindowGroupLimit prune — the documented cost of exactness)."""
    from openmrs_patient_migration_script_spark.operators.sampling import (
        proportional_stratified_sample,
    )

    d = load_table(spark, sf_dir, "documents")
    return proportional_stratified_sample(d, "doc_id", "lang", pct=10)


@query(
    "ts_holt_winters",
    oracle=f"""
    WITH RECURSIVE {_ORDERED_EVENTS_SQL},
    seed AS (
      SELECT user_id,
             (((max(CASE WHEN rn = 1 THEN v END)
                + max(CASE WHEN rn = 2 THEN v END))
               + max(CASE WHEN rn = 3 THEN v END))
              + max(CASE WHEN rn = 4 THEN v END)) / 4.0 AS lv,
             max(CASE WHEN rn = 1 THEN v END) AS v1,
             max(CASE WHEN rn = 2 THEN v END) AS v2,
             max(CASE WHEN rn = 3 THEN v END) AS v3,
             max(CASE WHEN rn = 4 THEN v END) AS v4
      FROM ordered WHERE rn <= 4
      GROUP BY user_id
      HAVING count(*) = 4
    ),
    rec AS (
      SELECT user_id, CAST(NULL AS BIGINT) AS event_id, 4::BIGINT AS rn,
             lv AS level, 0.0::DOUBLE AS trend,
             CAST(NULL AS DOUBLE) AS season, CAST(NULL AS DOUBLE) AS fcst,
             v1 - lv AS s1, v2 - lv AS s2, v3 - lv AS s3, v4 - lv AS s4
      FROM seed
      UNION ALL
      SELECT o.user_id, o.event_id, o.rn,
             0.5 * (o.v - r.s1) + 0.5 * (r.level + r.trend),
             0.5 * ((0.5 * (o.v - r.s1) + 0.5 * (r.level + r.trend))
                    - r.level) + 0.5 * r.trend,
             0.5 * (o.v - (0.5 * (o.v - r.s1)
                           + 0.5 * (r.level + r.trend))) + 0.5 * r.s1,
             (0.5 * (o.v - r.s1) + 0.5 * (r.level + r.trend))
               + (0.5 * ((0.5 * (o.v - r.s1) + 0.5 * (r.level + r.trend))
                         - r.level) + 0.5 * r.trend)
               + r.s2,
             r.s2, r.s3, r.s4,
             0.5 * (o.v - (0.5 * (o.v - r.s1)
                           + 0.5 * (r.level + r.trend))) + 0.5 * r.s1
      FROM ordered o
      JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id, level, trend, season, fcst AS forecast
    FROM rec WHERE rn > 4
    """,
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15l (r6): additive Holt-Winters triple exponential smoothing per
    user (alpha=beta=gamma=0.5, period 4, level seeded at the first-4
    mean, trend at 0, seasonals at the first-4 residuals) via
    operators/timeseries.py::holt_winters_additive — the seasonal
    upgrade `ts_holt_linear` is blind to: under a repeating pattern the
    double smoother chases the season forever, the seasonal state
    absorbs it (pinned: a planted exactly-periodic series recovers
    level/trend/season/next-actual-forecast exactly). Same execution
    contract as holt/ewma — one key shuffle, one sequential in-row fold
    carrying (level, trend, last-m seasonals), every update inlining
    the new-level tree — so the recursive-CTE oracle (seasonal state as
    m rotating columns, one working-table reference per step) replays
    the raw doubles bit-exactly, no round()."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        holt_winters_additive,
    )

    e = load_table(spark, sf_dir, "events")
    out = holt_winters_additive(
        e, "user_id", ["ts", "event_id"], "value",
        alpha=0.5, beta=0.5, gamma=0.5, period=4, max_group_size=100_000,
    )
    return out.select(
        "user_id", "event_id", "level", "trend", "season", "forecast"
    )


_MARKOV_ROUNDS = 4  # events_markov_stationary's power iterations


def _markov_oracle() -> str:
    """Unrolled integer fixed-point power iteration (the `graph_pagerank`
    recipe): the transition matrix normalizes to 1e9-unit integer
    probabilities, the stationary vector iterates in exact integer
    arithmetic — each round references the previous exactly once."""
    sql = """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    m0 AS (
      SELECT prev_type AS src, event_type AS dst, count(*)::BIGINT AS cnt
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    outc AS (SELECT src, sum(cnt)::BIGINT AS out_cnt FROM m0 GROUP BY src),
    m AS (
      SELECT m0.src, m0.dst,
             (m0.cnt * 1000000000) // outc.out_cnt AS prob_u
      FROM m0 JOIN outc USING (src)
    ),
    ns AS (SELECT count(DISTINCT src)::BIGINT AS n_states FROM m),
    p0 AS (
      SELECT DISTINCT src AS state, 1000000000 // ns.n_states AS pu
      FROM m, ns
    )"""
    for i in range(1, _MARKOV_ROUNDS + 1):
        sql += f""",
    p{i} AS (
      SELECT m.dst AS state,
             sum((p.pu * m.prob_u) // 1000000000)::BIGINT AS pu
      FROM p{i - 1} p JOIN m ON m.src = p.state
      GROUP BY m.dst
    )"""
    sql += f"""
    SELECT state AS event_type, pu AS pi_units,
           round(pu / 1000000000.0, 6) AS pi
    FROM p{_MARKOV_ROUNDS}
    """
    return sql


@query("events_markov_stationary", oracle=_markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11g (r6): steady-state event mix — the stationary distribution of
    the per-user event-type Markov chain (`events_transitions` IS the
    chain estimate; this is where it converges: the long-run share of
    each event type under the observed dynamics, vs the raw frequency
    mix that new-user cold starts bias). Four power-iteration rounds in
    EXACT integer fixed-point (probabilities and the vector in 1e9
    units, per-term floor division — the `graph_pagerank` recipe), so
    the unrolled CTE oracle replays every iteration bit-exactly, each
    round referencing the previous once. One data-sized lag window +
    pair agg builds the matrix; every iteration is a join + agg over
    the BOUNDED #event-types² matrix (metadata, not data)."""
    U = 1_000_000_000
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("dst"),
        F.lag("event_type").over(w).alias("src"),
    ).filter(F.col("src").isNotNull())
    m0 = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    outc = m0.groupBy(F.col("src").alias("_s")).agg(
        F.sum("cnt").cast("long").alias("out_cnt")
    )
    m = (
        m0.join(outc, m0["src"] == outc["_s"])
        .select(
            "src",
            "dst",
            F.expr(f"(cnt * {U}) div out_cnt").cast("long").alias("prob_u"),
        )
        .localCheckpoint(eager=True)  # feeds n_states, p0, and every round
    )
    ns = m.agg(F.count_distinct("src").cast("long").alias("n_states"))
    pi = (
        m.select(F.col("src").alias("state"))
        .distinct()
        .crossJoin(F.broadcast(ns))
        .select("state", F.expr(f"{U} div n_states").cast("long").alias("pu"))
    )
    for _ in range(_MARKOV_ROUNDS):
        pi = (
            pi.join(m, pi["state"] == m["src"])
            .select(
                F.col("dst").alias("state"),
                F.expr(f"(pu * prob_u) div {U}").cast("long").alias("pu"),
            )
            .groupBy("state")
            .agg(F.sum("pu").cast("long").alias("pu"))
        )
    return pi.select(
        F.col("state").alias("event_type"),
        F.col("pu").alias("pi_units"),
        F.round(F.col("pu") / float(U), 6).alias("pi"),
    )


@query(
    "ts_changepoint",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts)::TIMESTAMP AS day,
             count(*)::BIGINT AS n_day,
             sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS s_day
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT day, n_day, s_day,
             sum(n_day) OVER (ORDER BY day
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS n_left,
             sum(s_day) OVER (ORDER BY day
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS s_left
      FROM daily
    ),
    t AS (SELECT sum(n_day)::BIGINT AS n, sum(s_day)::BIGINT AS s FROM daily)
    SELECT day, n_left, (n - n_left)::BIGINT AS n_right, s_left,
           (s_left::HUGEINT * n - s::HUGEINT * n_left)::BIGINT AS d_num,
           (n_left::HUGEINT * (n - n_left))::BIGINT AS gain_den
    FROM cum, t
    WHERE n_left < n
    """,
)
def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15k (r7): exact single change-point decomposition of the daily
    event-value series — the level-shift LOCATOR completing the drift
    family (`ts_cusum` raises the per-key alarm, `dq_drift_ks`/`_psi`
    compare two known periods; this finds WHERE the mean moved with no
    period given). For every interior day boundary, the between-segment
    sum of squares decomposes as BSS(t) = D(t)² / (n·n_L·n_R) with
    D(t) = S_L·n − S·n_L — so the argmax of d_num²/gain_den IS the
    least-squares change point (binary-segmentation step 1, public
    literature), and every term is exact integer arithmetic on ×100
    scaled values — computed in DECIMAL(38,0) for overflow safety, then
    final-cast to BIGINT with the `dec_to_long` range guard (decimal
    output columns never hash-match the driver, r7 verdict; measured
    max |d_num| ~9.6e10 at sf0.1 vs the 2^62 band). The per-boundary
    decomposition (not just the argmax) is emitted — the
    `dq_drift_ks` certification-table shape, fully integer rows.

    Scale: one conditional-agg scan to the BOUNDED per-day table; the
    cumulative window orders those ~365 metadata rows only (the
    `events_cumulative_users` rule); totals broadcast back. At 100 TB
    the plan is unchanged — day count, not row count, sizes every
    post-scan stage."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    daily = (
        ev.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_day"),
            F.sum("x").cast("long").alias("s_day"),
        )
        # feeds the cumulative window AND the totals: one scan of the
        # data, the bounded day table re-reads locally
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("n_day").over(w).cast("long").alias("n_left"),
        F.sum("s_day").over(w).cast("long").alias("s_left"),
    )
    tot = daily.agg(
        F.sum("n_day").cast("long").alias("n"),
        F.sum("s_day").cast("long").alias("s"),
    )
    dec = "decimal(19,0)"
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("n_left") < F.col("n"))
        .select(
            "day",
            "n_left",
            (F.col("n") - F.col("n_left")).cast("long").alias("n_right"),
            "s_left",
            dec_to_long(
                (
                    F.col("s_left").cast(dec) * F.col("n").cast(dec)
                    - F.col("s").cast(dec) * F.col("n_left").cast(dec)
                ).cast("decimal(38,0)"),
                "d_num",
            ).alias("d_num"),
            dec_to_long(
                (
                    F.col("n_left").cast(dec)
                    * (F.col("n") - F.col("n_left")).cast(dec)
                ).cast("decimal(38,0)"),
                "gain_den",
            ).alias("gain_den"),
        )
    )


@query(
    "agg_woe_iv",
    oracle="""
    WITH b AS (
      SELECT least(greatest(CAST(floor(o_totalprice / 60000.0) AS BIGINT),
                            0), 9) AS bucket,
             (o_orderstatus = 'F') AS is_event
      FROM orders
    ),
    g AS (
      SELECT bucket,
             count(*) FILTER (WHERE is_event)::BIGINT AS n_event,
             count(*) FILTER (WHERE NOT is_event)::BIGINT AS n_non
      FROM b GROUP BY bucket
    ),
    t AS (
      SELECT sum(n_event)::BIGINT AS te, sum(n_non)::BIGINT AS tn FROM g
    )
    SELECT bucket, n_event, n_non,
           round(ln(((n_event + 0.5) / (te::DOUBLE + 0.5))
                    / ((n_non + 0.5) / (tn::DOUBLE + 0.5))), 6) AS woe,
           round((n_event / te::DOUBLE - n_non / tn::DOUBLE)
                 * ln(((n_event + 0.5) / (te::DOUBLE + 0.5))
                      / ((n_non + 0.5) / (tn::DOUBLE + 0.5))), 6) AS iv_term
    FROM g, t
    """,
)
def agg_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3g (r7): Weight-of-Evidence / Information-Value decomposition of
    a bucketed feature against a binary outcome (order value vs final
    status) — the classic scorecard feature audit (Siddiqi, public
    literature) and the label-aware counterpart of `agg_mutual_info`:
    MI asks "are these columns dependent at all", WOE/IV asks "how much
    does each BUCKET of this feature separate the two outcome classes",
    which is the per-feature triage a training pipeline runs before
    fitting anything. Per bucket: exact BIGINT event/non-event counts,
    the +0.5-smoothed WOE (defined on empty cells — no ±inf, the
    Laplace move `dq_drift_psi` uses), and the IV term whose sum is the
    feature's IV. The float chain is fixed row-local IEEE ops over
    exact longs rounded at 6dp (the `text_pmi` partition-order-free
    rule). One conditional-agg scan to ≤10 bucket rows; totals are a
    one-row broadcast."""
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        F.least(
            F.greatest(
                F.floor(F.col("o_totalprice") / 60000.0).cast("long"),
                F.lit(0).cast("long"),
            ),
            F.lit(9).cast("long"),
        ).alias("bucket"),
        (F.col("o_orderstatus") == "F").alias("is_event"),
    )
    g = b.groupBy("bucket").agg(
        F.count(F.when(F.col("is_event"), 1)).cast("long").alias("n_event"),
        F.count(F.when(~F.col("is_event"), 1)).cast("long").alias("n_non"),
    ).localCheckpoint(eager=True)  # feeds totals AND the per-bucket rows
    t = g.agg(
        F.sum("n_event").cast("long").alias("te"),
        F.sum("n_non").cast("long").alias("tn"),
    )
    ne, nn = F.col("n_event").cast("double"), F.col("n_non").cast("double")
    te, tn = F.col("te").cast("double"), F.col("tn").cast("double")
    woe = F.log(
        ((ne + 0.5) / (te + 0.5)) / ((nn + 0.5) / (tn + 0.5))
    )
    return g.crossJoin(F.broadcast(t)).select(
        "bucket",
        "n_event",
        "n_non",
        F.round(woe, 6).alias("woe"),
        F.round((ne / te - nn / tn) * woe, 6).alias("iv_term"),
    )


@query(
    "ab_paired_ttest",
    oracle="""
    WITH units AS (
      SELECT user_id,
             coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                               THEN CAST(round(value * 100) AS BIGINT) END),
                      0)::BIGINT
             - coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                 THEN CAST(round(value * 100) AS BIGINT) END),
                        0)::BIGINT AS d
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT count(*)::BIGINT AS n,
             sum(d)::BIGINT AS sum_d,
             sum(d::HUGEINT * d)::BIGINT AS sum_d2
      FROM units
    )
    SELECT n, sum_d, sum_d2,
           CASE WHEN n < 2
                  OR n::HUGEINT * sum_d2::HUGEINT
                     = sum_d::HUGEINT * sum_d
                THEN 0.0
                ELSE round((sum_d::DOUBLE / n)
                           / sqrt(((sum_d2::DOUBLE
                                    - sum_d::DOUBLE * sum_d / n)
                                   / (n - 1.0)) / n), 6)
           END AS t_stat
    FROM s
    """,
)
def ab_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18e (r7): paired (within-subject) t-test on per-user post-minus-
    pre spend — the experimentation family's within-subject member
    (Welch: independent arms; CUPED: covariate adjustment; paired t:
    each user is their own control, the highest-power design when the
    same units are observed both periods). Per-user diffs in exact
    cents; n, Σd, Σd² carried exactly (Σd² summed in DECIMAL(38,0) —
    the `ab_cuped` power-sum rule, zero reassociative float summation —
    then final-cast to BIGINT with the `dec_to_long` range guard: the
    driver's value-hash never matches a decimal OUTPUT column, r7
    verdict; measured Σd² ~5.0e12 at sf0.1 vs the 2^62 band), the
    t statistic one fixed row-local double chain rounded at 6dp.
    Degenerate designs pin t to 0.0 via the INTEGER-decidable condition
    n·Σd² = (Σd)² (all diffs equal — zero variance) or n < 2, mirrored
    verbatim in the oracle (the `ab_mann_whitney` rule). One user-keyed
    conditional agg to unit rows, one one-row reduction."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    units = (
        e.groupBy("user_id")
        .agg(
            (
                F.coalesce(
                    F.sum(F.when(F.col("ts") >= cutoff, cents)), F.lit(0)
                )
                - F.coalesce(
                    F.sum(F.when(F.col("ts") < cutoff, cents)), F.lit(0)
                )
            )
            .cast("long")
            .alias("d")
        )
    )
    dec = "decimal(19,0)"
    s = units.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sum_d"),
        F.sum(F.col("d").cast(dec) * F.col("d").cast(dec))
        .cast("decimal(38,0)")
        .alias("sum_d2"),
    )
    n = F.col("n").cast("double")
    sd, sd2 = F.col("sum_d").cast("double"), F.col("sum_d2").cast("double")
    degenerate = (F.col("n") < 2) | (
        F.col("n").cast(dec) * F.col("sum_d2")
        == F.col("sum_d").cast(dec) * F.col("sum_d").cast(dec)
    )
    return s.select(
        "n",
        "sum_d",
        dec_to_long(F.col("sum_d2"), "sum_d2").alias("sum_d2"),
        F.when(degenerate, F.lit(0.0))
        .otherwise(
            F.round(
                (sd / n)
                / F.sqrt(((sd2 - sd * sd / n) / (n - 1.0)) / n),
                6,
            )
        )
        .alias("t_stat"),
    )


_BOOT_R = 200  # replicates; bounded-domain window (the dq_drift_ks rule)


@query(
    "ab_bootstrap_ci",
    oracle=f"""
    WITH {_AB_UNITS_SQL},
    reps AS (
      SELECT u.user_id, u.arm, u.y, r.r,
             ('0x' || substr(md5(u.user_id::VARCHAR || ':' || r.r::VARCHAR),
                             1, 8))::BIGINT % 1000 AS b
      FROM units u, (SELECT unnest(generate_series(0, {_BOOT_R - 1})) AS r) r
    ),
    weighted AS (
      SELECT user_id, arm, y, r,
             CASE WHEN b < 368 THEN 0 WHEN b < 736 THEN 1
                  WHEN b < 920 THEN 2 WHEN b < 981 THEN 3 ELSE 4 END AS w
      FROM reps
    ),
    g AS (
      SELECT r,
             coalesce(sum(CASE WHEN arm = 0 THEN w * y END), 0)::BIGINT AS s_a,
             coalesce(sum(CASE WHEN arm = 0 THEN w END), 0)::BIGINT AS n_a,
             coalesce(sum(CASE WHEN arm = 1 THEN w * y END), 0)::BIGINT AS s_b,
             coalesce(sum(CASE WHEN arm = 1 THEN w END), 0)::BIGINT AS n_b
      FROM weighted GROUP BY r
    ),
    ranked AS (
      SELECT g.*,
             row_number() OVER (
               ORDER BY CASE WHEN n_a = 0 OR n_b = 0 THEN 0.0
                             ELSE s_a::DOUBLE / n_a - s_b::DOUBLE / n_b
                        END, r
             ) AS rn
      FROM g
    )
    SELECT 'lo' AS bound, CAST(r AS INTEGER) AS r, s_a, n_a, s_b, n_b
    FROM ranked WHERE rn = 5
    UNION ALL
    SELECT 'hi', CAST(r AS INTEGER), s_a, n_a, s_b, n_b
    FROM ranked WHERE rn = 196
    """,
)
def ab_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18f (r7): content-addressed BOOTSTRAP confidence interval for the
    between-arm mean difference — the distribution-free CI completing
    the experimentation family (Welch/paired assume a variance model;
    the percentile bootstrap assumes nothing). Each of the 200
    replicates resamples units with a DETERMINISTIC Poisson(1)-ish
    multiplicity (md5(user:replicate) mod 1000 against the cumulative
    pmf thresholds 368/736/920/981 — the content-addressed-randomness
    move every approximate path here uses, so the oracle replays the
    entire resampling exactly). Output rows are FULLY INTEGER — the
    2.5th/97.5th-percentile replicates' exact per-arm (Σw·y, Σw) sums;
    the CI bounds derive as s_a/n_a − s_b/n_b downstream. The one float
    in the plan (the replicate ORDERING key) never leaves the query:
    both engines compute the identical IEEE double from identical
    integer sums and break exact ties by replicate id, so the selected
    ranks 5 and 196 (of 200) match by construction; an empty resampled
    arm orders as 0.0 (defined, the `ab_mann_whitney` rule).

    Scale: one user-keyed agg to units, a ×200 in-task explode whose
    (replicate, arm) partial aggregation combines map-side to ≤400 rows
    per task, one 200-row bounded window (the `dq_drift_ks` metadata
    rule). The explode is the honest bootstrap cost — 200× the UNIT
    table, never the event table."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    units = e.groupBy("user_id").agg(
        (F.col("user_id") % 2).alias("arm"),
        F.coalesce(F.sum(cents), F.lit(0)).cast("long").alias("y"),
    )
    reps = units.select(
        "user_id",
        "arm",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("r"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit(":"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    w = (
        F.when(bucket < 368, 0)
        .when(bucket < 736, 1)
        .when(bucket < 920, 2)
        .when(bucket < 981, 3)
        .otherwise(4)
    ).cast("long")
    g = reps.select("arm", "y", "r", w.alias("w")).groupBy("r").agg(
        F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("w") * F.col("y"))), F.lit(0))
        .cast("long")
        .alias("s_a"),
        F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("w"))), F.lit(0))
        .cast("long")
        .alias("n_a"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("w") * F.col("y"))), F.lit(0))
        .cast("long")
        .alias("s_b"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("w"))), F.lit(0))
        .cast("long")
        .alias("n_b"),
    )
    diff = F.when((F.col("n_a") == 0) | (F.col("n_b") == 0), F.lit(0.0)).otherwise(
        F.col("s_a").cast("double") / F.col("n_a")
        - F.col("s_b").cast("double") / F.col("n_b")
    )
    ranked = g.select(
        "*", F.row_number().over(Window.orderBy(diff, F.col("r"))).alias("rn")
    )
    out_cols = [
        F.col("r").cast("int").alias("r"),
        "s_a",
        "n_a",
        "s_b",
        "n_b",
    ]
    return (
        ranked.filter(F.col("rn") == 5)
        .select(F.lit("lo").alias("bound"), *out_cols)
        .unionByName(
            ranked.filter(F.col("rn") == 196).select(
                F.lit("hi").alias("bound"), *out_cols
            )
        )
    )


@query(
    "ts_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             count(*)::BIGINT AS n,
             sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS s
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT (b.s::HUGEINT * a.n - a.s::HUGEINT * b.n)::BIGINT AS slope_num,
             (a.n::HUGEINT * b.n * (b.d - a.d))::BIGINT AS slope_den
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    ranked AS (
      SELECT slope_num, slope_den,
             row_number() OVER (
               ORDER BY slope_num::DOUBLE / slope_den, slope_num, slope_den
             ) AS rn,
             count(*) OVER () AS n_pairs
      FROM pairs
    )
    SELECT n_pairs::BIGINT AS n_pairs, slope_num, slope_den,
           round(slope_num::DOUBLE / slope_den, 6) AS slope
    FROM ranked WHERE rn = (n_pairs + 1) // 2
    """,
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15n (r8): Theil-Sen robust trend slope of the daily mean event
    value — the estimator the monitoring family still lacked:
    `ts_holt_linear` fits a least-squares-style level+trend (one outlier
    day drags it), `ts_cusum`/`ts_changepoint` LOCATE shifts; Theil-Sen
    answers "what is the trend?" with a 29.3% breakdown point (median
    of all pairwise slopes — Sen 1968, public literature). The pairwise
    slope between days i<j on exact cent sums is the exact fraction
      slope_num = s_j·n_i − s_i·n_j,  slope_den = n_i·n_j·(d_j−d_i)
    (means never materialize as floats); the median element is picked
    by rank over (slope value, num, den) — a total order both engines
    replay — and emitted as the exact pair (range-guarded BIGINT, the
    functions/numeric.py rule) plus the 6dp readout.

    Scale: one conditional-agg scan of events to the BOUNDED per-day
    table (~365 rows/year); the O(days²) pair join and the rank window
    run on that metadata table (~66k pair rows/year), never on events —
    at 100 TB the plan is unchanged, day count sizes every post-scan
    stage (the `ts_changepoint` rule)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    daily = (
        ev.groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("s"),
        )
        .localCheckpoint(eager=True)  # bounded; feeds both join sides
    )
    dec = "decimal(19,0)"
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(
        dec_to_long(
            (
                F.col("b.s").cast(dec) * F.col("a.n").cast(dec)
                - F.col("a.s").cast(dec) * F.col("b.n").cast(dec)
            ).cast("decimal(38,0)"),
            "slope_num",
        ).alias("slope_num"),
        dec_to_long(
            (
                F.col("a.n").cast(dec)
                * F.col("b.n").cast(dec)
                * (F.col("b.d") - F.col("a.d")).cast(dec)
            ).cast("decimal(38,0)"),
            "slope_den",
        ).alias("slope_den"),
    )
    w = Window.orderBy(
        F.col("slope_num").cast("double") / F.col("slope_den"),
        "slope_num",
        "slope_den",
    )
    ranked = pairs.select(
        "slope_num",
        "slope_den",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n_pairs"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n_pairs + 1) div 2")
    ).select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        "slope_num",
        "slope_den",
        F.round(
            F.col("slope_num").cast("double") / F.col("slope_den"), 6
        ).alias("slope"),
    )


@query(
    "events_survival_km",
    oracle="""
    WITH users AS (
      SELECT user_id,
             date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
               AS lifetime
      FROM events GROUP BY user_id
    ),
    hist AS (SELECT lifetime, count(*)::BIGINT AS n_users FROM users GROUP BY 1),
    t AS (SELECT sum(n_users)::BIGINT AS n_total FROM hist),
    ladder AS (SELECT CAST(range AS BIGINT) AS d FROM range(0, 15))
    SELECT ladder.d,
           coalesce(sum(CASE WHEN hist.lifetime >= ladder.d
                             THEN hist.n_users END), 0)::BIGINT AS n_at_risk,
           t.n_total,
           round(coalesce(sum(CASE WHEN hist.lifetime >= ladder.d
                                   THEN hist.n_users END), 0)::DOUBLE
                 / t.n_total, 6) AS survival
    FROM ladder CROSS JOIN t LEFT JOIN hist ON TRUE
    GROUP BY ladder.d, t.n_total
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12k (r8): user-lifetime survival curve S(d) = P(lifetime ≥ d
    days) over a 0..14-day ladder — the Kaplan-Meier-shaped complement
    of `retention_cohort`: retention asks "did the cohort return in
    week w?", the survival curve asks "how long do users stay active
    at all?" (lifetime = last-seen − first-seen). With every user
    observed over the full fixture window the estimator reduces to the
    empirical survival function — exact integer at-risk counts over an
    exact lifetime histogram, one 6dp row-local readout.

    Scale: ONE user-keyed agg of events (the only data-sized shuffle)
    collapses to a lifetime histogram bounded by the observation span
    in days; the 15-row ladder cross-joins that bounded histogram
    (metadata × metadata, the `dq_drift_ks` domain-table rule). At
    100 TB only the user agg grows."""
    users = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias(
                "lifetime"
            )
        )
    )
    hist = (
        users.groupBy("lifetime")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .localCheckpoint(eager=True)  # bounded; feeds total AND ladder join
    )
    total = hist.agg(F.sum("n_users").cast("long").alias("n_total"))
    ladder = users.sparkSession.range(0, 15).select(F.col("id").alias("d"))
    joined = (
        # LEFT join on TRUE, not crossJoin: the oracle's ladder survives
        # an empty histogram (15 rows of n_at_risk = 0), and an inner
        # cross join would collapse to 0 rows — a plan/oracle row-count
        # divergence on empty input
        ladder.join(F.broadcast(hist), F.lit(True), "left")
        .groupBy("d")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("lifetime") >= F.col("d"), F.col("n_users"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_at_risk")
        )
    )
    return joined.crossJoin(F.broadcast(total)).select(
        "d",
        "n_at_risk",
        "n_total",
        F.round(
            F.col("n_at_risk").cast("double") / F.col("n_total"), 6
        ).alias("survival"),
    )


@query(
    "agg_concentration_hhi",
    oracle="""
    WITH cells AS (
      SELECT lang, source, count(*)::BIGINT AS n
      FROM documents GROUP BY lang, source
    )
    SELECT lang,
           sum(n)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_sources,
           sum(n::HUGEINT * n)::BIGINT AS hhi_num,
           (sum(n)::HUGEINT * sum(n))::BIGINT AS hhi_den,
           round(sum(n::HUGEINT * n)::DOUBLE
                 / (sum(n)::HUGEINT * sum(n))::DOUBLE, 6) AS hhi
    FROM cells GROUP BY lang
    """,
)
def agg_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7b (r8): Herfindahl-Hirschman source-concentration index per
    language slice — the corpus-mixture diagnostic the slice-stats
    family lacked: `agg_group`/`text_stats_by_lang` report sizes,
    `agg_mutual_info` the lang↔source association; HHI answers "is this
    language's data dominated by one source?" (HHI = Σ share², 1/n_src
    = perfectly even, 1.0 = single-source — the diversity number a
    training-mix curator checks before upweighting a language). Emitted
    as the exact integer fraction hhi_num = Σ n_s², hhi_den = N²
    (DECIMAL intermediates, range-guarded BIGINT out — the
    functions/numeric.py rule) plus the 6dp readout.

    Scale: one scan to (lang, source) cells (map-side combine; the
    shuffle carries the bounded slice vocabulary), then a lang-keyed
    re-agg of those cells. Nothing data-sized past the first agg."""
    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    dec = "decimal(19,0)"
    return cells.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        dec_to_long(
            F.sum(F.col("n").cast(dec) * F.col("n").cast(dec)).cast(
                "decimal(38,0)"
            ),
            "hhi_num",
        ).alias("hhi_num"),
        dec_to_long(
            (F.sum("n").cast(dec) * F.sum("n").cast(dec)).cast("decimal(38,0)"),
            "hhi_den",
        ).alias("hhi_den"),
        F.round(
            F.sum(F.col("n").cast(dec) * F.col("n").cast(dec))
            .cast("double")
            / (F.sum("n").cast(dec) * F.sum("n").cast(dec)).cast("double"),
            6,
        ).alias("hhi"),
    )


@query(
    "funnel_time_to_convert",
    oracle=f"""
    WITH {_FUNNEL_STAGES_SQL},
    per_user AS (
      SELECT user_id, max(first_view) AS fv, max(first_click) AS fc,
             max(first_purchase) AS fp
      FROM s3 GROUP BY user_id
    ),
    gaps AS (
      SELECT 'view_to_click' AS stage,
             epoch_ms(fc) - epoch_ms(fv) AS gap_ms
      FROM per_user WHERE fc IS NOT NULL
      UNION ALL
      SELECT 'click_to_purchase',
             epoch_ms(fp) - epoch_ms(fc)
      FROM per_user WHERE fp IS NOT NULL
    ),
    cum AS (
      SELECT stage, gap_ms,
             sum(1) OVER (PARTITION BY stage ORDER BY gap_ms
                          RANGE BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c,
             count(*) OVER (PARTITION BY stage) AS t
      FROM gaps
    )
    SELECT stage, max(t)::BIGINT AS n_converted,
           min(CASE WHEN c * 100 >= t * 25 THEN gap_ms END)::BIGINT AS p25_ms,
           min(CASE WHEN c * 100 >= t * 50 THEN gap_ms END)::BIGINT AS p50_ms,
           min(CASE WHEN c * 100 >= t * 90 THEN gap_ms END)::BIGINT AS p90_ms
    FROM cum GROUP BY stage
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11e (r8): conversion LATENCY percentiles per funnel stage — the
    time dimension the funnel family lacked (`funnel_events` counts who
    converts, `funnel_conversion_rate` at what rate; this says how
    LONG view→click and click→purchase take at p25/p50/p90, the number
    that sizes attribution windows and detects a slowing funnel).
    First-touch timestamps reuse `funnel_events`' stacked single-
    Exchange window chain; per-user gaps are exact integer milliseconds
    and the percentiles are the exact all-integer rank selection of
    `agg_weighted_percentile` (100·cum >= p·total on a RANGE frame —
    tie-order free, no interpolation).

    Scale: one user-keyed Exchange for the windows + user agg, then one
    stage-keyed percentile sort over CONVERTED users (≤ one row per
    user; 2 stage partitions)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    is_ = lambda t: F.col("event_type") == t  # noqa: E731
    df = (
        e.withColumn(
            "first_view", F.min(F.when(is_("view"), F.col("ts"))).over(w)
        )
        .withColumn(
            "first_click",
            F.min(
                F.when(
                    is_("click") & (F.col("ts") > F.col("first_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "first_purchase",
            F.min(
                F.when(
                    is_("purchase") & (F.col("ts") > F.col("first_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = df.groupBy("user_id").agg(
        F.max("first_view").alias("fv"),
        F.max("first_click").alias("fc"),
        F.max("first_purchase").alias("fp"),
    )
    gaps = (
        per_user.filter(F.col("fc").isNotNull())
        .select(
            F.lit("view_to_click").alias("stage"),
            (F.unix_millis("fc") - F.unix_millis("fv")).alias("gap_ms"),
        )
        .unionByName(
            per_user.filter(F.col("fp").isNotNull()).select(
                F.lit("click_to_purchase").alias("stage"),
                (F.unix_millis("fp") - F.unix_millis("fc")).alias("gap_ms"),
            )
        )
    )
    cw = (
        Window.partitionBy("stage")
        .orderBy("gap_ms")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    tw = Window.partitionBy("stage")
    cum = gaps.select(
        "stage",
        "gap_ms",
        F.sum(F.lit(1)).over(cw).alias("c"),
        F.count(F.lit(1)).over(tw).alias("t"),
    )
    pick = lambda p: F.min(  # noqa: E731
        F.when(F.col("c") * 100 >= F.col("t") * p, F.col("gap_ms"))
    ).cast("long")
    return cum.groupBy("stage").agg(
        F.max("t").cast("long").alias("n_converted"),
        pick(25).alias("p25_ms"),
        pick(50).alias("p50_ms"),
        pick(90).alias("p90_ms"),
    )


@query(
    "ab_ratio_delta",
    oracle="""
    WITH units AS (
      SELECT user_id, user_id % 2 AS arm,
             count(CASE WHEN event_type = 'click' THEN 1 END)::BIGINT AS x,
             count(CASE WHEN event_type = 'view' THEN 1 END)::BIGINT AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT arm,
             count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sum_x, sum(y)::BIGINT AS sum_y,
             sum(x::HUGEINT * x)::BIGINT AS sum_xx,
             sum(x::HUGEINT * y)::BIGINT AS sum_xy,
             sum(y::HUGEINT * y)::BIGINT AS sum_yy
      FROM units GROUP BY arm
    )
    SELECT arm, n, sum_x, sum_y, sum_xx, sum_xy, sum_yy,
           CASE WHEN sum_y = 0 THEN 0.0
                ELSE round(sum_x::DOUBLE / sum_y, 6) END AS ratio,
           CASE WHEN sum_y = 0 OR n < 2 THEN 0.0
                ELSE round(
                  sqrt(((sum_xx::DOUBLE
                         - 2 * (sum_x::DOUBLE / sum_y) * sum_xy)
                        + (sum_x::DOUBLE / sum_y) * (sum_x::DOUBLE / sum_y)
                          * sum_yy)
                       / (n - 1.0) / n)
                  / (sum_y::DOUBLE / n), 6)
           END AS se_ratio
    FROM s
    """,
)
def ab_ratio_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18g (r8): delta-method standard error for a RATIO metric
    (clicks per view) per arm — the experimentation family's missing
    member for the most common real metric shape: `ab_welch_ttest`
    assumes i.i.d. per-user means, but clicks/views is a ratio of SUMS
    whose denominator varies per user — treating it as a mean biases
    the variance (Deng et al., KDD 2018 practice; Taylor linearization,
    public literature). Per arm: exact per-user (x, y) power sums
    (the `ab_cuped` rule — n, Σx, Σy, Σx², Σxy, Σy², all integer),
    ratio R = Σx/Σy, and se(R) = sqrt(Σ(x−Ry)² / (n−1) / n) / ȳ where
    Σ(x−Ry)² expands to the power sums — one fixed row-local double
    chain rounded 6dp, identical token-for-token in the oracle.
    Degenerate arms (Σy = 0, n < 2) pin to 0.0.

    Scale: one user-keyed conditional agg, one 2-row arm agg. Nothing
    else."""
    e = load_table(spark, sf_dir, "events")
    units = e.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("long")
        .alias("x"),
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("long")
        .alias("y"),
    )
    dec = "decimal(19,0)"
    s = units.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        dec_to_long(
            F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).cast(
                "decimal(38,0)"
            ),
            "sum_xx",
        ).alias("sum_xx"),
        dec_to_long(
            F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).cast(
                "decimal(38,0)"
            ),
            "sum_xy",
        ).alias("sum_xy"),
        dec_to_long(
            F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).cast(
                "decimal(38,0)"
            ),
            "sum_yy",
        ).alias("sum_yy"),
    )
    r = F.col("sum_x").cast("double") / F.col("sum_y")
    se = F.sqrt(
        (
            (
                F.col("sum_xx").cast("double")
                - 2 * r * F.col("sum_xy").cast("double")
            )
            + r * r * F.col("sum_yy").cast("double")
        )
        / (F.col("n") - F.lit(1.0))
        / F.col("n")
    ) / (F.col("sum_y").cast("double") / F.col("n"))
    return s.select(
        "arm",
        "n",
        "sum_x",
        "sum_y",
        "sum_xx",
        "sum_xy",
        "sum_yy",
        F.when(F.col("sum_y") == 0, F.lit(0.0))
        .otherwise(F.round(r, 6))
        .alias("ratio"),
        F.when((F.col("sum_y") == 0) | (F.col("n") < 2), F.lit(0.0))
        .otherwise(F.round(se, 6))
        .alias("se_ratio"),
    )


@query(
    "ts_seasonal_strength",
    oracle=f"""
    WITH {seasonal_decompose_sql()},
    s AS (
      SELECT user_id,
             count(*)::BIGINT AS n_events,
             sum(d::HUGEINT) AS sd,
             sum(d::HUGEINT * d) AS sdd,
             sum((d - seasonal6)::HUGEINT) AS sr,
             sum((d - seasonal6)::HUGEINT * (d - seasonal6)) AS srr
      FROM decomp
      GROUP BY user_id
    )
    SELECT user_id, n_events,
           CASE WHEN n_events::HUGEINT * sdd - sd * sd = 0 THEN 0.0
                ELSE round(greatest(0.0,
                  1.0 - (n_events::HUGEINT * srr - sr * sr)::DOUBLE
                        / (n_events::HUGEINT * sdd - sd * sd)::DOUBLE), 6)
           END AS strength
    FROM s
    """,
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15o (r8): per-key seasonal STRENGTH F_s = max(0, 1 −
    Var(resid)/Var(detrended)) over the `ts_seasonal` decomposition
    (operators/timeseries.py::seasonal_strength) — the certification
    number for the decomposition family, the `graph_modularity` pattern
    applied to forecasting: the fitted hour-of-day profile ships with
    how much variance it actually explains, which is the deploy/skip
    decision for season-aware anomaly thresholds per key. Exact integer
    power sums (DECIMAL internals — Σd² can pass int64, so they stay
    internal per the functions/numeric.py rule), one 6dp row-local
    chain, Var(detrended)=0 pinned 0.0 by an integer-decidable compare.

    Scale: `ts_seasonal`'s plan (one data-sized RANGE-window Exchange,
    broadcast seasonal profile) + one user-keyed power-sum agg."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        seasonal_strength,
    )

    e = load_table(spark, sf_dir, "events")
    return seasonal_strength(e, "user_id", "ts", "event_id", "value")


# z_{0.975} + z_{0.80}: the 5%-two-sided / 80%-power constant, injected as
# ONE literal on both engines (no special-function lookup in the plan)
_POWER_Z = 2.801585


@query(
    "ab_power_mde",
    oracle=f"""
    WITH {_AB_UNITS_SQL},
    s AS (
      SELECT arm, count(*)::BIGINT AS n, sum(y)::BIGINT AS sum_y,
             sum(y::HUGEINT * y)::BIGINT AS sum_yy
      FROM units GROUP BY arm
    ),
    w AS (
      SELECT a.n AS n_a, a.sum_y AS sum_y_a, a.sum_yy AS sum_yy_a,
             b.n AS n_b, b.sum_y AS sum_y_b, b.sum_yy AS sum_yy_b
      FROM s a, s b WHERE a.arm = 0 AND b.arm = 1
    )
    SELECT n_a, n_b, sum_y_a, sum_y_b, sum_yy_a, sum_yy_b,
           CASE WHEN n_a < 2 OR n_b < 2 THEN 0.0
                ELSE round(sqrt(
                  (sum_yy_a::DOUBLE - sum_y_a::DOUBLE * sum_y_a / n_a)
                    / (n_a - 1.0) / n_a
                  + (sum_yy_b::DOUBLE - sum_y_b::DOUBLE * sum_y_b / n_b)
                    / (n_b - 1.0) / n_b), 6)
           END AS se_diff,
           CASE WHEN n_a < 2 OR n_b < 2 THEN 0.0
                ELSE round({_POWER_Z} * sqrt(
                  (sum_yy_a::DOUBLE - sum_y_a::DOUBLE * sum_y_a / n_a)
                    / (n_a - 1.0) / n_a
                  + (sum_yy_b::DOUBLE - sum_y_b::DOUBLE * sum_y_b / n_b)
                    / (n_b - 1.0) / n_b), 6)
           END AS mde_cents
    FROM w
    """,
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18i (r8): minimum detectable effect at 80% power / 5% two-sided
    — the experiment-DESIGN number the readout family lacked: every
    test here answers "did it move?", this answers "how small a move
    could this experiment even see?" (run/don't-run and how-long-to-run
    decisions). MDE = (z_{{0.975}} + z_{{0.80}})·se(diff) with the z-sum
    injected as ONE precomputed literal on both engines (the
    `dedup_minhash_band_sweep` rule — no special-function lookup in the
    plan); se from exact per-user cent power sums (n, Σy, Σy² per arm —
    the `ab_cuped` rule), one fixed row-local 6dp chain mirrored
    token-for-token; degenerate arms (n < 2) pin 0.0.

    Scale: one user-keyed agg, one 2-row arm agg, one broadcast cross
    of the two arm rows."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    units = e.groupBy("user_id").agg(
        F.coalesce(F.sum(cents), F.lit(0)).cast("long").alias("y")
    )
    dec = "decimal(19,0)"
    s = units.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sum_y"),
        dec_to_long(
            F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).cast(
                "decimal(38,0)"
            ),
            "sum_yy",
        ).alias("sum_yy"),
    )
    a = s.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"),
        F.col("sum_y").alias("sum_y_a"),
        F.col("sum_yy").alias("sum_yy_a"),
    )
    b = s.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"),
        F.col("sum_y").alias("sum_y_b"),
        F.col("sum_yy").alias("sum_yy_b"),
    )
    w = a.crossJoin(F.broadcast(b))
    var_term = lambda sy, syy, n: (  # noqa: E731
        F.col(syy).cast("double")
        - F.col(sy).cast("double") * F.col(sy) / F.col(n)
    ) / (F.col(n) - F.lit(1.0)) / F.col(n)
    se = F.sqrt(
        var_term("sum_y_a", "sum_yy_a", "n_a")
        + var_term("sum_y_b", "sum_yy_b", "n_b")
    )
    degenerate = (F.col("n_a") < 2) | (F.col("n_b") < 2)
    return w.select(
        "n_a",
        "n_b",
        "sum_y_a",
        "sum_y_b",
        "sum_yy_a",
        "sum_yy_b",
        F.when(degenerate, F.lit(0.0)).otherwise(F.round(se, 6)).alias("se_diff"),
        F.when(degenerate, F.lit(0.0))
        .otherwise(F.round(F.lit(_POWER_Z) * se, 6))
        .alias("mde_cents"),
    )


# Wald SPRT constants for ab_sequential_sprt, nano-scaled integers so both
# engines accumulate EXACTLY the same values: testing H1: p=0.25 against
# H0: p=0.15 at alpha = beta = 0.05. Computed once driver-side
# (math.log) and embedded as the SAME literals in the plan and the
# oracle — no engine ln() in the data plane.
_SPRT_P0, _SPRT_P1 = 0.15, 0.25
_SPRT_A = 510825624  # round(ln(p1/p0) * 1e9): increment per success
_SPRT_B = -125163143  # round(ln((1-p1)/(1-p0)) * 1e9): per failure
_SPRT_UP = 2944438979  # round(ln((1-beta)/alpha) * 1e9): accept H1
_SPRT_LO = -2944438979  # round(ln(beta/(1-alpha)) * 1e9): accept H0


@query(
    "ab_sequential_sprt",
    oracle=f"""
    WITH t AS (
      SELECT {hash_bucket_sql("user_id", 2)} AS arm,
             ts, event_id,
             (event_type = 'purchase')::INT AS succ
      FROM events
    ),
    scan AS (
      SELECT arm, succ,
             row_number() OVER w AS rn,
             sum(CASE WHEN succ = 1 THEN {_SPRT_A}
                      ELSE {_SPRT_B} END) OVER w AS llr
      FROM t
      WINDOW w AS (PARTITION BY arm ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    totals AS (
      SELECT arm, count(*)::BIGINT AS n_total, sum(succ)::BIGINT AS s_total,
             max_by(llr, rn)::BIGINT AS llr_final_nano
      FROM scan GROUP BY arm
    ),
    crossing AS (
      SELECT arm, min(rn)::BIGINT AS n_at_decision,
             min_by(llr, rn)::BIGINT AS llr_at_decision_nano
      FROM scan WHERE llr >= {_SPRT_UP} OR llr <= {_SPRT_LO}
      GROUP BY arm
    )
    SELECT t.arm, t.n_total, t.s_total, t.llr_final_nano,
           coalesce(c.n_at_decision, 0)::BIGINT AS n_at_decision,
           coalesce(c.llr_at_decision_nano, 0)::BIGINT
             AS llr_at_decision_nano,
           CASE WHEN c.arm IS NULL THEN 'continue'
                WHEN c.llr_at_decision_nano >= {_SPRT_UP} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision
    FROM totals t LEFT JOIN crossing c ON t.arm = c.arm
    """,
)
def ab_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18h (r8): Wald sequential probability ratio test — the
    always-on form of A/B testing: instead of fixing n up front
    (`ab_power_mde`) and testing once (`ab_welch_ttest`), the
    log-likelihood ratio accumulates per event and the experiment STOPS
    ITSELF at the first boundary crossing (accept H1: p=0.25 / accept
    H0: p=0.15 at α=β=0.05), with the guarantee that peeking is the
    design, not a sin. Per arm: totals, the final LLR, and the first
    crossing (n, LLR, decision); an arm still inside the boundaries
    reports 'continue'.

    Exactness: the two per-event increments and both boundaries are
    nano-scaled integer literals computed ONCE driver-side and embedded
    in both plans — the cumulative sum is pure BIGINT (no engine ln(),
    no float accumulation), so the crossing index is engine-exact.
    |increment| < 6e8 means int64 holds ~1.5e10 events per arm before
    the sum could near the band edge.

    Scale: the cumulative window is per-arm SEQUENTIAL by definition
    (each arm's stream moves to one partition — the test statistic IS a
    prefix sum). Production form at 100 TB: keep the per-arm running
    LLR as streaming state (`stream_stateful`'s GroupState shape) or
    carry per-day partial sums + offsets, exactly like the two-phase
    prefix-sum the docstring of `ts_cusum` describes; the batch query
    here is the audit/replay form."""
    e = load_table(spark, sf_dir, "events")
    from openmrs_patient_migration_script_spark.operators.sampling import (
        hash_bucket,
    )

    t = e.select(
        (hash_bucket(F.col("user_id")) % 2).alias("arm"),
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("succ"),
    )
    w = Window.partitionBy("arm").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    scan = t.select(
        "arm",
        "succ",
        F.row_number().over(w).alias("rn"),
        F.sum(
            F.when(F.col("succ") == 1, F.lit(_SPRT_A)).otherwise(
                F.lit(_SPRT_B)
            )
        )
        .over(wc)
        .alias("llr"),
    ).localCheckpoint(eager=True)  # feeds totals AND crossing: scan once
    totals = scan.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("succ").cast("long").alias("s_total"),
        F.max_by("llr", "rn").cast("long").alias("llr_final_nano"),
    )
    crossing = (
        scan.filter(
            (F.col("llr") >= _SPRT_UP) | (F.col("llr") <= _SPRT_LO)
        )
        .groupBy("arm")
        .agg(
            F.min("rn").cast("long").alias("n_at_decision"),
            F.min_by("llr", "rn").cast("long").alias("llr_at_decision_nano"),
        )
    )
    c = crossing.withColumnRenamed("arm", "c_arm")
    return (
        totals.join(c, totals["arm"] == c["c_arm"], "left")
        .select(
            "arm",
            "n_total",
            "s_total",
            "llr_final_nano",
            F.coalesce(F.col("n_at_decision"), F.lit(0))
            .cast("long")
            .alias("n_at_decision"),
            F.coalesce(F.col("llr_at_decision_nano"), F.lit(0))
            .cast("long")
            .alias("llr_at_decision_nano"),
            F.when(F.col("c_arm").isNull(), F.lit("continue"))
            .when(
                F.col("llr_at_decision_nano") >= _SPRT_UP,
                F.lit("accept_h1"),
            )
            .otherwise(F.lit("accept_h0"))
            .alias("decision"),
        )
    )


@query(
    "ts_cross_corr",
    oracle="""
    WITH daily AS (
      SELECT ts::DATE AS d,
             count(CASE WHEN event_type = 'view' THEN 1 END)::BIGINT AS a,
             count(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT AS b
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(generate_series(-7, 7)) AS lag),
    pairs AS (
      SELECT l.lag, x.a, y.b
      FROM lags l
      JOIN daily x ON true
      JOIN daily y ON y.d = x.d + to_days(l.lag::INT)
    ),
    sums AS (
      SELECT lag, count(*)::BIGINT AS n_days,
             sum(a)::BIGINT AS sa, sum(b)::BIGINT AS sb,
             sum(a * b)::BIGINT AS sab,
             sum(a * a)::BIGINT AS saa, sum(b * b)::BIGINT AS sbb
      FROM pairs GROUP BY lag
    )
    SELECT lag::BIGINT AS lag, n_days,
           CASE WHEN n_days * saa = sa * sa OR n_days * sbb = sb * sb
                THEN 0.0
                ELSE round((n_days * sab - sa * sb)
                           / sqrt((n_days * saa - sa * sa)::DOUBLE
                                  * (n_days * sbb - sb * sb)::DOUBLE), 6)
           END AS xcorr
    FROM sums
    """,
)
def ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15n (r8): lagged cross-correlation between two event streams —
    does the view series LEAD the purchase series, and by how many days?
    (`ts_autocorr` correlates a series with itself; campaigns/funnels
    need the cross-stream lag: corr(views_t, purchases_{t+k}) for
    k = −7..+7, the classic lead-lag discovery before claiming
    attribution.) Per lag: overlap day count and the 6dp Pearson r,
    from exact integer power sums (daily counts are BIGINT; the only
    float is the final row-local quotient, degenerate constant series
    pin 0.0).

    Scale: ONE day-keyed agg is the data-sized work (map-side combined
    counts); the lag expansion and correlation run on the bounded
    day table (days × 15 lag copies). The shape scales with calendar
    length, not event volume."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("long")
        .alias("a"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("b"),
    ).localCheckpoint(eager=True)  # bounded day table feeds both join sides
    lags = spark.range(-7, 8).select(F.col("id").alias("lag"))
    x = daily.select(F.col("d").alias("xd"), "a")
    y = daily.select(F.col("d").alias("yd"), "b")
    pairs = (
        F.broadcast(lags)
        .crossJoin(x)
        .join(
            y,
            F.col("yd")
            == F.date_add(F.col("xd"), F.col("lag").cast("int")),
        )
    )
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("sab"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("sbb"),
    )
    var_a = F.col("n_days") * F.col("saa") - F.col("sa") * F.col("sa")
    var_b = F.col("n_days") * F.col("sbb") - F.col("sb") * F.col("sb")
    return sums.select(
        F.col("lag").cast("long").alias("lag"),
        "n_days",
        F.when((var_a == 0) | (var_b == 0), F.lit(0.0))
        .otherwise(
            F.round(
                (
                    F.col("n_days") * F.col("sab")
                    - F.col("sa") * F.col("sb")
                )
                / F.sqrt(
                    var_a.cast("double") * var_b.cast("double")
                ),
                6,
            )
        )
        .alias("xcorr"),
    )
