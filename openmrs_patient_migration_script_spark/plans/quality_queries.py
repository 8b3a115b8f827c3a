"""Declared data-quality audit queries (SURVEY.md §2.11 E6-E8) — the
assessment/verification passes around the migration itself: profile the
source before mapping it, audit FK integrity, extract incrementally on
re-runs (reference's idempotent-rerun concern, /root/reference/README.md:17).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.operators.quality import (
    incremental_extract,
    profile_columns,
    referential_orphans,
    validate_rules,
)
from openmrs_patient_migration_script_spark.operators.sampling import hash_bucket_sql
from openmrs_patient_migration_script_spark.plans.dedup_queries import (
    NAMED_SQL,
    named_customers,
)
from openmrs_patient_migration_script_spark.plans.registry import query
from openmrs_patient_migration_script_spark.sources import load_table

_PROFILE_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _profile_oracle_branch(col: str, numeric: bool) -> str:
    mn = (
        f"CAST(CAST(min({col}) AS DECIMAL(18,2)) AS VARCHAR)"
        if numeric
        else f"CAST(min({col}) AS VARCHAR)"
    )
    mx = (
        f"CAST(CAST(max({col}) AS DECIMAL(18,2)) AS VARCHAR)"
        if numeric
        else f"CAST(max({col}) AS VARCHAR)"
    )
    return f"""
    SELECT '{col}' AS column_name,
           count(*) - count({col}) AS null_count,
           count(DISTINCT {col}) AS distinct_count,
           {mn} AS min_value,
           {mx} AS max_value
    FROM customer"""


# the order-value histogram of the drift audits, pre-1998 reference vs
# the rest: CTE g (bin, c_ref, c_cur) over the fixed bin domain -1..10
_DRIFT_BINS_SQL = """binned AS (
      SELECT least(greatest(CAST(floor((o_totalprice - 0.0) / 60000.0) AS BIGINT),
                            -1), 10) AS bin,
             o_orderdate < TIMESTAMP '1998-01-01' AS is_ref
      FROM orders
    ),
    g0 AS (
      SELECT bin,
             count(*) FILTER (WHERE is_ref) AS c_ref,
             count(*) FILTER (WHERE NOT is_ref) AS c_cur
      FROM binned GROUP BY bin
    ),
    dom AS (SELECT CAST(range AS BIGINT) AS bin FROM range(-1, 11)),
    g AS (
      SELECT dom.bin, coalesce(g0.c_ref, 0)::BIGINT AS c_ref,
             coalesce(g0.c_cur, 0)::BIGINT AS c_cur
      FROM dom LEFT JOIN g0 USING (bin)
    )"""


def _diff_fixture_sql(dup_keys: bool) -> str:
    """The reconciliation fixture: CTE b (the orders as the source, with
    their hash bucket bk) and CTE tgt (the target: ~1% rows dropped, ~1%
    price-shifted, ~1% extra shifted-key rows and, with ``dup_keys``, ~1%
    duplicated keys)."""
    dups = """
      UNION ALL
      SELECT o_orderkey, o_orderstatus, price, o_orderdate
      FROM b WHERE bk % 101 = 3 AND bk % 97 <> 0""" if dup_keys else ""
    return f"""b AS (
      SELECT o_orderkey, o_orderstatus,
             cast(o_totalprice AS DECIMAL(18,2)) AS price, o_orderdate,
             {hash_bucket_sql("o_orderkey", 1000)}
               AS bk
      FROM orders
    ),
    tgt AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN bk % 89 = 1 THEN price + 1 ELSE price END AS price,
             o_orderdate
      FROM b WHERE bk % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000, o_orderstatus, price, o_orderdate
      FROM b WHERE bk % 83 = 2{dups}
    )"""


@query(
    "dq_profile",
    oracle=" UNION ALL ".join(
        _profile_oracle_branch(c, numeric=(c == "c_acctbal")) for c in _PROFILE_COLS
    ),
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: pre-migration source profile — null/distinct/min/max per column
    of the enrollment source, one aggregation pass (operators/quality.py).
    Exact distincts here (audit precision) — but this is the WORST scaling
    shape measured in SCALING.md (Expand multiplies input rows by the
    profiled-column count before partial aggregation, growth exponent
    0.94): **at 100 TB run `dq_profile_hll` instead**, which swaps
    `exact_distinct=False` into the same operator and partial-aggregates
    HLL sketches with no Expand."""
    customer = load_table(spark, sf_dir, "customer")
    return profile_columns(customer, _PROFILE_COLS)


@query("dq_profile_hll")
def dq_profile_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 at-scale form: the same one-pass profile with
    `exact_distinct=False` — approx_count_distinct partial-aggregates
    fixed-size HLL sketches, so the plan is a single narrow scan + one
    tiny agg row at ANY scale (no Expand; plan-pinned by
    tests/test_quality.py::test_profile_approx_mode_has_no_expand, and the
    exact-vs-HLL wall-clock delta is a bench headline pair). Rows-only at
    the driver gate PERMANENTLY and by necessity: Spark's HLL++ and
    DuckDB's sketch differ by construction, so the raw estimate column
    can never hash-match a cross-engine oracle. The accuracy contract is
    certified instead by `dq_profile_hll_audit` (hash-checked: the
    within-band verdict per column) and pinned against exact counts in
    tests."""
    customer = load_table(spark, sf_dir, "customer")
    return profile_columns(customer, _PROFILE_COLS, exact_distinct=False)


@query(
    "dq_profile_hll_audit",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{c}' AS column_name,
           count(DISTINCT {c})::BIGINT AS exact_distinct,
           TRUE AS hll_within_band
    FROM customer"""
        for c in _PROFILE_COLS
    ),
)
def dq_profile_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 certification (r7): the exact-vs-HLL distinct audit that lets
    the sketch path ship with an auditable number — the same
    certification-table pattern as `sim_ann_recall` / `graph_modularity`
    / `dq_blocking_quality`: every approximate path in the repo pairs
    with an exact check. Per profiled column: the EXACT distinct count
    (oracle-replayable) and a genuinely computed within-band verdict
    ``abs(hll − exact) ≤ max(1, 10%·exact)`` (the 3-sigma-with-slack
    band for rsd 0.05 that tests/test_quality.py pins). The oracle
    asserts the verdict TRUE — a broken or drifting sketch flips the
    boolean on the Spark side and fails the hash gate, which makes this
    a real differential check on `approx_count_distinct` even though
    the raw estimate itself can never cross-engine-match. Cost is two
    aggregation passes (one Expand exact pass + one HLL pass) — the
    audit pays what the daily `dq_profile_hll` path saves, run it on
    samples or at onboarding, not per-ingest."""
    customer = load_table(spark, sf_dir, "customer")
    exact = profile_columns(customer, _PROFILE_COLS).select(
        "column_name", F.col("distinct_count").alias("exact_distinct")
    )
    hll = profile_columns(
        customer, _PROFILE_COLS, exact_distinct=False
    ).select("column_name", F.col("distinct_count").alias("_hll"))
    return exact.join(F.broadcast(hll), "column_name").select(
        "column_name",
        "exact_distinct",
        (
            F.abs(F.col("_hll") - F.col("exact_distinct")).cast("double")
            <= F.greatest(
                F.lit(1.0), F.lit(0.10) * F.col("exact_distinct").cast("double")
            )
        ).alias("hll_within_band"),
    )


@query(
    "dq_referential",
    oracle="""
    SELECT 'orders->customer' AS relation,
           count(*) AS child_rows,
           count(*) FILTER (WHERE p._pk IS NULL) AS orphan_rows
    FROM orders LEFT JOIN (SELECT DISTINCT c_custkey AS _pk FROM customer) p
      ON o_custkey = p._pk
    UNION ALL
    SELECT 'lineitem->orders',
           count(*),
           count(*) FILTER (WHERE p._pk IS NULL)
    FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey AS _pk FROM orders) p
      ON l_orderkey = p._pk
    UNION ALL
    SELECT 'customer->nation',
           count(*),
           count(*) FILTER (WHERE p._pk IS NULL)
    FROM customer LEFT JOIN (SELECT DISTINCT n_nationkey AS _pk FROM nation) p
      ON c_nationkey = p._pk
    """,
)
def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7: FK-integrity audit over the star schema's three edges — each a
    LEFT JOIN + conditional count in one pass (operators/quality.py).
    nation broadcasts; the fact→fact edges shuffle on their keys, which is
    the honest cost of verifying every edge at 100 TB (AQE handles the
    skewed-key case)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        referential_orphans(orders, customer, "o_custkey", "c_custkey", "orders->customer")
        .unionByName(
            referential_orphans(lineitem, orders, "l_orderkey", "o_orderkey", "lineitem->orders")
        )
        .unionByName(
            referential_orphans(
                customer, nation, "c_nationkey", "n_nationkey", "customer->nation",
                broadcast_parent=True,
            )
        )
    )


_SEGMENTS = "('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')"


@query(
    "dq_rules",
    oracle=f"""
    WITH t AS (
      SELECT count(*) AS total,
             count(*) FILTER (WHERE NOT coalesce(c_custkey > 0, FALSE)) AS v0,
             count(*) FILTER (WHERE NOT coalesce(c_acctbal >= 0, FALSE)) AS v1,
             count(*) FILTER (WHERE NOT coalesce(c_mktsegment IN {_SEGMENTS}, FALSE)) AS v2,
             count(*) FILTER (WHERE NOT coalesce(c_name LIKE 'Customer#%', FALSE)) AS v3
      FROM customer
    )
    SELECT 'custkey_positive' AS rule, total AS total_rows, v0 AS violations FROM t
    UNION ALL SELECT 'acctbal_nonnegative', total, v1 FROM t
    UNION ALL SELECT 'mktsegment_known', total, v2 FROM t
    UNION ALL SELECT 'name_format', total, v3 FROM t
    """,
)
def dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9: validation-rule audit — named row-level predicates, all counted
    in ONE conditional-count aggregate pass (operators/quality.py); rules
    that evaluate to NULL count as violations. The pre-flight check the
    reference's precedence rules (README.md:13-15) presuppose."""
    customer = load_table(spark, sf_dir, "customer")
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return validate_rules(
        customer,
        {
            "custkey_positive": F.col("c_custkey") > 0,
            "acctbal_nonnegative": F.col("c_acctbal") >= 0,
            "mktsegment_known": F.col("c_mktsegment").isin(segments),
            "name_format": F.col("c_name").like("Customer#%"),
        },
    )


@query(
    "etl_incremental_watermark",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    WHERE (SELECT max(o_orderdate) FROM orders
           WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00') IS NULL
       OR o_orderdate > (SELECT max(o_orderdate) FROM orders
                         WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
    """,
)
def etl_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: high-watermark incremental extract — the idempotent re-run path
    (README.md:17) when the destination already holds a prior load
    (simulated: everything before 1996). One-row watermark aggregate
    broadcast into a narrow filtered scan (operators/quality.py); with the
    cursor as the partition column the filter prunes partitions outright."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    return incremental_extract(
        orders, F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"), "o_orderdate"
    )


@query(
    "dq_anomaly",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           round((o_totalprice - avg_p) / std_p, 4) AS z_score
    FROM (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             avg(o_totalprice) OVER (PARTITION BY o_orderpriority) AS avg_p,
             stddev_samp(o_totalprice) OVER (PARTITION BY o_orderpriority)
               AS std_p
      FROM orders
    )
    WHERE std_p > 0 AND abs((o_totalprice - avg_p) / std_p) > 1.5
    """,
)
def dq_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10: z-score outlier audit — rows whose value sits more than
    1.5 group standard deviations from the group mean (the numeric-anomaly
    pass of a pre-migration audit; the threshold is a parameter — 1.5
    exercises the tail here because the synthetic uniform-ish prices cap
    |z| at sqrt(3), where real heavy-tailed data would use 3). One shuffle on the group key; both
    moments come from the same unbounded window, so the fact table is
    scanned once. At 100 TB swap the window for a tiny agg + broadcast
    join when group cardinality is low (identical except the moments ride
    a broadcast instead of a partition sort)."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority")
    z = (F.col("o_totalprice") - F.avg("o_totalprice").over(w)) / F.stddev_samp(
        "o_totalprice"
    ).over(w)
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            F.round(z, 4).alias("z_score"),
            F.stddev_samp("o_totalprice").over(w).alias("_std"),
            z.alias("_z"),
        )
        .filter((F.col("_std") > 0) & (F.abs(F.col("_z")) > 1.5))
        .drop("_std", "_z")
    )


@query(
    "dq_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT user_id, median(value) AS med FROM events GROUP BY user_id
    ),
    j AS (
      SELECT e.event_id, e.user_id, e.value, m.med
      FROM events e JOIN med m USING (user_id)
    ),
    mad AS (
      SELECT user_id, median(abs(value - med)) AS mad FROM j GROUP BY user_id
    )
    SELECT j.event_id, j.user_id, j.value,
           round((j.value - j.med) / (1.4826 * mad.mad), 4) AS robust_z
    FROM j JOIN mad USING (user_id)
    WHERE mad.mad > 0
      AND abs(j.value - j.med) > 3.0 * 1.4826 * mad.mad
    """,
)
def dq_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10b (r4): MAD robust outlier audit over per-user event values
    (operators/quality.py::robust_anomalies) — the complement to
    `dq_anomaly`'s z-score: mean/stddev are corrupted by the very
    outliers they hunt (the events table's heavy value tail caps
    robust_z at ~16 where the z-score saturates), median/MAD have a 50%
    breakdown point. Two exact-median sort-aggs + two joins, all on
    user_id — one partitioning reused end-to-end; approx_percentile is
    the documented at-scale swap."""
    from openmrs_patient_migration_script_spark.operators.quality import (
        robust_anomalies,
    )

    e = load_table(spark, sf_dir, "events")
    return robust_anomalies(
        e, key_col="user_id", value_col="value", id_cols=["event_id"]
    )


@query(
    "dq_freshness",
    oracle="""
    WITH now_ref AS (SELECT max(ts) AS now_ts FROM events)
    SELECT event_type, max(ts) AS last_seen,
           (epoch_ms(now_ts) - epoch_ms(max(ts))) // 60000 AS minutes_stale,
           count(*) AS n_events
    FROM events, now_ref
    GROUP BY event_type, now_ts
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11: per-slice freshness audit — how stale is each event stream
    relative to the newest datum anywhere (the deterministic stand-in for
    wall-clock "now", so the oracle replays exactly). Integer millisecond
    arithmetic both sides; one partial-combined agg plus a one-row
    broadcast, the same scalar-subquery shape as the watermark extract."""
    e = load_table(spark, sf_dir, "events")
    now_ref = e.agg(F.max("ts").alias("now_ts"))
    return (
        e.crossJoin(F.broadcast(now_ref))
        .groupBy("event_type", "now_ts")
        .agg(
            F.max("ts").alias("last_seen"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            "last_seen",
            (
                (F.unix_millis("now_ts") - F.unix_millis("last_seen")) / 60000
            ).cast("long").alias("minutes_stale"),
            "n_events",
        )
    )


@query(
    "dq_drift_psi",
    oracle=f"""
    WITH {_DRIFT_BINS_SQL},
    t AS (SELECT sum(c_ref) AS t_ref, sum(c_cur) AS t_cur FROM g)
    SELECT bin, c_ref, c_cur,
           round((p - q) * ln(p / q), 6) AS psi_term
    FROM (
      SELECT bin, c_ref, c_cur,
             (c_ref + 0.5) / (t_ref + 0.5 * 12) AS p,
             (c_cur + 0.5) / (t_cur + 0.5 * 12) AS q
      FROM g, t
    )
    """,
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13: distribution-drift audit — Population Stability Index of the
    order-value histogram, pre-1998 reference vs the rest
    (operators/quality.py::distribution_psi). Both periods' bin counts
    come from ONE conditional-aggregation scan (the E9/A8 FILTER shape);
    totals broadcast back as a one-row frame (the dq_freshness
    scalar-subquery shape); the smoothed PSI term is row-local arithmetic
    over exactly n_bins+2 rows — every bin of the fixed domain is emitted
    (empty bins carry their nonzero smoothed term; dropping them would
    understate total PSI, round-3 advisor finding). The drift monitor a
    100 TB daily pipeline runs on every numeric feature."""
    from openmrs_patient_migration_script_spark.operators.quality import (
        distribution_psi,
    )

    o = load_table(spark, sf_dir, "orders")
    return distribution_psi(
        o,
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
        lo=0.0,
        width=60000.0,
        n_bins=10,
    )


@query(
    "dq_table_diff",
    oracle=f"""
    WITH {_diff_fixture_sql(dup_keys=False)}
    SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NULL THEN 'extra_in_target'
                WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
                WHEN s.o_orderstatus IS DISTINCT FROM t.o_orderstatus
                  OR s.price IS DISTINCT FROM t.price
                  OR s.o_orderdate IS DISTINCT FROM t.o_orderdate
                  THEN 'mismatch'
           END AS status
    FROM b s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
    WHERE (CASE WHEN s.o_orderkey IS NULL THEN 'extra_in_target'
                WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
                WHEN s.o_orderstatus IS DISTINCT FROM t.o_orderstatus
                  OR s.price IS DISTINCT FROM t.price
                  OR s.o_orderdate IS DISTINCT FROM t.o_orderdate
                  THEN 'mismatch'
           END) IS NOT NULL
    """,
)
def dq_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13: keyed source↔target reconciliation
    (operators/quality.py::table_diff) — the verification step the
    reference's migration story implies. The target here is the source
    with deterministic planted drift (md5-bucketed: ~1% rows dropped,
    ~1% price-shifted, ~1% extra shifted-key rows), so the diff's three
    exception classes are all exercised; typed decimal/timestamp
    comparison, no float or string-format hashing anywhere."""
    from openmrs_patient_migration_script_spark.operators.quality import table_diff
    from openmrs_patient_migration_script_spark.operators.sampling import hash_bucket

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        "o_orderdate",
        hash_bucket(F.col("o_orderkey")).alias("_bk"),
    )
    tgt = (
        base.filter(F.col("_bk") % 97 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(F.col("_bk") % 89 == 1, F.col("price") + 1)
            .otherwise(F.col("price"))
            .alias("price"),
            "o_orderdate",
        )
        .unionByName(
            base.filter(F.col("_bk") % 83 == 2).select(
                (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
                "o_orderstatus",
                F.col("price"),
                "o_orderdate",
            )
        )
    )
    src = base.select("o_orderkey", "o_orderstatus", "price", "o_orderdate")
    return table_diff(src, tgt, "o_orderkey", ["o_orderstatus", "price", "o_orderdate"])


@query(
    "etl_winsorize",
    oracle="""
    WITH scaled AS (
      SELECT l_orderkey, l_linenumber,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS vs
      FROM lineitem
    ),
    cuts AS (
      SELECT quantile_disc(vs, 0.01) AS lo, quantile_disc(vs, 0.99) AS hi
      FROM scaled
    )
    SELECT l_orderkey, l_linenumber,
           least(greatest(vs, lo), hi)::DOUBLE / 100.0
             AS l_extendedprice_winsorized,
           CASE WHEN vs < lo THEN -1 WHEN vs > hi THEN 1 ELSE 0 END AS clipped
    FROM scaled CROSS JOIN cuts
    """,
)
def etl_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier capping of line-item prices at the exact 1st/99th
    DISCRETE percentiles (operators/quality.py::winsorize) — heavy-tail
    rows keep their rank but lose their leverage, the standard numeric
    cleaning step before training. Disc cuts are actual data values, so
    the clamp is pure int64 math (no interpolation ulps); the one-row
    cuts frame broadcasts back over the scan — no global sort anywhere."""
    from openmrs_patient_migration_script_spark.operators.quality import winsorize

    li = load_table(spark, sf_dir, "lineitem")
    return winsorize(
        li, "l_extendedprice", ["l_orderkey", "l_linenumber"], 0.01, 0.99
    )


@query(
    "dq_benford",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM lineitem WHERE l_extendedprice > 0
    ),
    counts AS (SELECT digit, count(*)::BIGINT AS n FROM digits GROUP BY digit),
    total AS (SELECT sum(n)::BIGINT AS t FROM counts)
    SELECT digit, n,
           round(n::DOUBLE / t::DOUBLE, 6) AS obs_frac,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_frac,
           round(n::DOUBLE / t::DOUBLE - log10(1.0 + 1.0 / digit), 6)
             AS deviation
    FROM counts CROSS JOIN total
    """,
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit audit against Benford's law — the classic
    fabricated-data / unit-mixing tripwire for financial columns: organic
    multi-scale amounts follow P(d) = log10(1 + 1/d); capped, invented or
    re-scaled values visibly don't. The digit comes from the scaled-cents
    string head (robust down to 0.01), so binning is pure integer work;
    one 9-row hash agg + a one-row total broadcast (the dq_freshness
    shape), with single IEEE divisions and a 6dp round on the only float
    outputs. Interpretation, not a gate: the fixture's uniform-ish prices
    will deviate — the query reports the profile, thresholds belong to
    the caller."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") > 0
    )
    digits = li.select(
        F.substring(
            F.round(F.col("l_extendedprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    obs = F.col("n").cast("double") / F.col("t").cast("double")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("obs_frac"),
        F.round(expected, 6).alias("benford_frac"),
        F.round(obs - expected, 6).alias("deviation"),
    )


@query(
    "dq_checksum",
    oracle="""
    WITH t AS (
      SELECT c_nationkey,
             concat_ws(':',
               coalesce(len(c_custkey::VARCHAR)::VARCHAR || ':'
                        || c_custkey::VARCHAR, 'N'),
               coalesce(len(c_name)::VARCHAR || ':' || c_name, 'N'),
               coalesce(len(c_mktsegment)::VARCHAR || ':' || c_mktsegment, 'N'),
               coalesce(len(CAST(round(c_acctbal * 100) AS BIGINT)::VARCHAR)
                        ::VARCHAR || ':'
                        || CAST(round(c_acctbal * 100) AS BIGINT)::VARCHAR,
                        'N')) AS rs
      FROM customer
    )
    SELECT c_nationkey, count(*) AS n_rows,
           bit_xor(('0x' || substr(md5(rs), 1, 15))::BIGINT) AS xor_hash,
           CAST(sum(CAST(('0x' || substr(md5(rs), 1, 15))::BIGINT
                         AS DECIMAL(38,0))) % 4611686018427387904
                AS BIGINT) AS sum_hash
    FROM t GROUP BY 1
    """,
)
def dq_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation order-free content checksum of the customer table
    (operators/quality.py::table_checksum) — the cheap first pass of
    migration verification: source and target digests compare as
    #slices rows, and only a disagreeing slice pays for the row-level
    `dq_table_diff`. Doubles ride as scaled-cents longs (double→string
    formatting differs across engines; integer strings don't); all
    three digest aggregates are commutative-exact, so the digest is
    partition-order free by construction. One hash agg."""
    from openmrs_patient_migration_script_spark.operators.quality import (
        table_checksum,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    return table_checksum(
        c,
        ["c_custkey", "c_name", "c_mktsegment", "bal_cents"],
        group_cols=["c_nationkey"],
    )


@query(
    "etl_quarantine",
    oracle="""
    WITH t AS (
      SELECT event_id, user_id, event_type, value,
             concat_ws(',',
               CASE WHEN NOT coalesce(value <= 400.0, FALSE)
                    THEN 'value_in_range' END,
               CASE WHEN NOT coalesce(event_type <> 'error', FALSE)
                    THEN 'type_known' END,
               CASE WHEN NOT coalesce(user_id < 140, FALSE)
                    THEN 'user_known' END) AS failed_rules,
             (CASE WHEN NOT coalesce(value <= 400.0, FALSE)
                   THEN 1 ELSE 0 END
              + CASE WHEN NOT coalesce(event_type <> 'error', FALSE)
                     THEN 1 ELSE 0 END
              + CASE WHEN NOT coalesce(user_id < 140, FALSE)
                     THEN 1 ELSE 0 END) AS n_failed
      FROM events
    )
    SELECT * FROM t WHERE n_failed > 0
    """,
)
def etl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9b: the ROW-level load split `dq_rules` implies
    (operators/quality.py::quarantine_rows) — dirty rows emitted with
    every failed rule named (comma-joined in declaration order), clean
    rows implied by the complement; nothing silently dropped, the
    standard reject-sink contract. Row-local CASE chain over the scan —
    zero shuffles, rules add expressions, never passes."""
    from openmrs_patient_migration_script_spark.operators.quality import (
        quarantine_rows,
    )

    e = load_table(spark, sf_dir, "events")
    return quarantine_rows(
        e,
        {
            "value_in_range": F.col("value") <= 400.0,
            "type_known": F.col("event_type") != "error",
            "user_known": F.col("user_id") < 140,
        },
        ["event_id", "user_id", "event_type", "value"],
    )


@query(
    "dq_pk_violations",
    oracle="""
    WITH d AS (
      SELECT l_orderkey, l_linenumber, count(*) AS n_rows
      FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1
    )
    SELECT * FROM d
    UNION ALL
    SELECT NULL AS l_orderkey, NULL AS l_linenumber, count(*) AS n_rows
    FROM lineitem WHERE l_orderkey IS NULL OR l_linenumber IS NULL
    HAVING count(*) > 0
    """,
)
def dq_pk_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key integrity audit for the migration target contract:
    (orderkey, linenumber) tuples that occur more than once, plus one
    summary row (NULL key) counting rows with a NULL key part — the two
    ways a 'unique not null' constraint fails when the engine has no
    constraints to enforce it. A real finding here: the synthetic
    lineitem does NOT honor TPC-H's composite key (11k+ duplicate
    tuples at sf0.01) — exactly the class of source-data surprise
    this audit exists to surface before a migration assumes the key.
    One hash agg + a conditional count, both partial-combined."""
    li = load_table(spark, sf_dir, "lineitem")
    dups = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )
    nulls = (
        li.filter(F.col("l_orderkey").isNull() | F.col("l_linenumber").isNull())
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > 0)
        .select(
            F.lit(None).cast("long").alias("l_orderkey"),
            F.lit(None).cast("int").alias("l_linenumber"),
            "n_rows",
        )
    )
    return dups.unionByName(nulls)


@query(
    "dq_sequence_gaps",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_linenumber FROM lineitem
      WHERE NOT (l_linenumber = 3 AND l_orderkey % 7 = 0)
    ),
    seq AS (
      SELECT l_orderkey, l_linenumber,
             lag(l_linenumber) OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber) AS prev
      FROM li
    )
    SELECT l_orderkey AS key,
           CAST(coalesce(prev, 0) + 1 AS BIGINT) AS gap_start,
           CAST(l_linenumber - 1 AS BIGINT) AS gap_end,
           CAST(l_linenumber - coalesce(prev, 0) - 1 AS BIGINT) AS n_missing
    FROM seq
    WHERE l_linenumber - coalesce(prev, 0) > 1
    """,
)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18: per-key sequence-gap audit — "did every child row survive
    the migration?" for 1..n child sequences (line numbers, visit
    numbers, page numbers): emits each missing run as (key, gap_start,
    gap_end, n_missing), including leading gaps (sequence must start at
    1). Gaps are planted deterministically (line 3 of every 7th order
    dropped) so the audit fires at every scale factor. ONE key-window
    lag pass — integer arithmetic, no join against a generated full
    sequence (the generate-and-anti-join form shuffles the synthetic
    rows too; this shuffles only what exists)."""
    from pyspark.sql import Window

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .filter(~((F.col("l_linenumber") == 3) & (F.col("l_orderkey") % 7 == 0)))
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    prev = F.coalesce(F.lag("l_linenumber").over(w), F.lit(0))
    return (
        li.withColumn("prev", prev)
        .filter(F.col("l_linenumber") - F.col("prev") > 1)
        .select(
            F.col("l_orderkey").alias("key"),
            (F.col("prev") + 1).cast("long").alias("gap_start"),
            (F.col("l_linenumber") - 1).cast("long").alias("gap_end"),
            (F.col("l_linenumber") - F.col("prev") - 1)
            .cast("long")
            .alias("n_missing"),
        )
    )


@query(
    "dq_migration_certificate",
    oracle=f"""
    WITH {_diff_fixture_sql(dup_keys=True)},
    d AS (
      SELECT CASE WHEN s.o_orderkey IS NULL AND s_tag IS NULL
                    THEN 'extra_in_target'
                  WHEN t.o_orderkey IS NULL AND t_tag IS NULL
                    THEN 'missing_in_target'
                  WHEN s.o_orderstatus IS DISTINCT FROM t.o_orderstatus
                    OR s.price IS DISTINCT FROM t.price
                    OR s.o_orderdate IS DISTINCT FROM t.o_orderdate
                    THEN 'mismatch' END AS status
      FROM (SELECT *, 1 AS s_tag FROM b) s
      FULL OUTER JOIN (SELECT *, 1 AS t_tag FROM tgt) t
        ON s.o_orderkey = t.o_orderkey
    ),
    counts AS (
      SELECT count(*) FILTER (WHERE status = 'missing_in_target')
               AS n_missing,
             count(*) FILTER (WHERE status = 'extra_in_target') AS n_extra,
             count(*) FILTER (WHERE status = 'mismatch') AS n_mismatch
      FROM d
    ),
    dups AS (
      SELECT count(*) AS n_dup_keys FROM (
        SELECT o_orderkey FROM tgt GROUP BY 1 HAVING count(*) > 1
      )
    ),
    sizes AS (
      SELECT (SELECT count(*) FROM b) AS n_source,
             (SELECT count(*) FROM tgt) AS n_target
    )
    SELECT n_source, n_target, n_missing, n_extra, n_mismatch, n_dup_keys,
           (n_missing = 0 AND n_extra = 0 AND n_mismatch = 0
            AND n_dup_keys = 0 AND n_source = n_target) AS certified
    FROM sizes, counts, dups
    """,
)
def dq_migration_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19: the migration CERTIFICATE — the reference's end-state
    deliverable ("did the migration move everything, exactly once,
    unchanged?") as ONE row: source/target sizes, the three diff
    exception counts, duplicate-key count, and the certified verdict
    their conjunction implies. Composes `table_diff` + a PK-duplicate
    agg over the dq_table_diff defect fixture extended with planted
    duplicate keys, so every counter fires. All component aggregates are
    one-row frames cross-joined as broadcast scalars; the only
    fact-sized work is the diff's co-partitioned full outer join."""
    from openmrs_patient_migration_script_spark.operators.quality import (
        table_diff,
    )
    from openmrs_patient_migration_script_spark.operators.sampling import (
        hash_bucket,
    )

    o = load_table(spark, sf_dir, "orders")
    # b feeds ELEVEN scan sites (tgt's 3 branches consumed by the diff,
    # the dup agg and the size agg, plus src twice) — without a
    # materialization the physical plan re-reads the orders parquet 11
    # times (measured: the whole query is scan-bound at sf0.1). One
    # eager localCheckpoint = one scan + 10 cheap block-local re-reads
    # (the multi-consumer rule).
    b = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        "o_orderdate",
        hash_bucket(F.col("o_orderkey"), 1000).alias("bk"),
    ).localCheckpoint(eager=True)
    cols = ["o_orderkey", "o_orderstatus", "price", "o_orderdate"]
    tgt = (
        b.filter(F.col("bk") % 97 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(F.col("bk") % 89 == 1, F.col("price") + 1)
            .otherwise(F.col("price"))
            .alias("price"),
            "o_orderdate",
        )
        .unionByName(
            b.filter(F.col("bk") % 83 == 2).select(
                (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
                "o_orderstatus",
                "price",
                "o_orderdate",
            )
        )
        .unionByName(
            b.filter((F.col("bk") % 101 == 3) & (F.col("bk") % 97 != 0))
            .select(*cols)
        )
    )
    src = b.select(*cols)
    diff = table_diff(src, tgt, "o_orderkey", cols[1:])
    counts = diff.agg(
        F.coalesce(
            F.sum(F.when(F.col("status") == "missing_in_target", 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_missing"),
        F.coalesce(
            F.sum(F.when(F.col("status") == "extra_in_target", 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_extra"),
        F.coalesce(
            F.sum(F.when(F.col("status") == "mismatch", 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_mismatch"),
    )
    dups = (
        tgt.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_keys"))
    )
    sizes = src.agg(F.count(F.lit(1)).cast("long").alias("n_source")).crossJoin(
        tgt.agg(F.count(F.lit(1)).cast("long").alias("n_target"))
    )
    row = sizes.crossJoin(F.broadcast(counts)).crossJoin(F.broadcast(dups))
    return row.select(
        "n_source",
        "n_target",
        "n_missing",
        "n_extra",
        "n_mismatch",
        "n_dup_keys",
        (
            (F.col("n_missing") == 0)
            & (F.col("n_extra") == 0)
            & (F.col("n_mismatch") == 0)
            & (F.col("n_dup_keys") == 0)
            & (F.col("n_source") == F.col("n_target"))
        ).alias("certified"),
    )


@query(
    "dq_blocking_quality",
    oracle=f"""
    WITH {NAMED_SQL},
    a AS (SELECT key, name, substring(name, 1, 7) AS blk FROM named),
    b AS (
      SELECT key + 1000000 AS key,
             CASE WHEN key % 10 = 0
                  THEN 'z' || substring(name, 2) ELSE name END AS name2,
             substring(CASE WHEN key % 10 = 0
                            THEN 'z' || substring(name, 2) ELSE name END,
                       1, 7) AS blk
      FROM named
    ),
    ha AS (SELECT blk, count(*)::BIGINT AS ca FROM a GROUP BY blk),
    hb AS (SELECT blk, count(*)::BIGINT AS cb FROM b GROUP BY blk),
    cand AS (
      SELECT coalesce(sum(ca * cb), 0)::BIGINT AS n_candidates
      FROM ha JOIN hb USING (blk)
    ),
    sizes AS (
      SELECT (SELECT count(*)::BIGINT FROM a) AS n_a,
             (SELECT count(*)::BIGINT FROM b) AS n_b
    ),
    truth AS (
      SELECT count(*)::BIGINT AS n_true,
             sum(CASE WHEN a.blk = b.blk THEN 1 ELSE 0 END)::BIGINT
               AS n_true_found
      FROM a JOIN b ON b.key = a.key + 1000000
    )
    SELECT n_a, n_b, n_candidates, n_true, n_true_found,
           round(1.0 - n_candidates::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE), 6)
             AS reduction_ratio,
           round(n_true_found::DOUBLE / n_true::DOUBLE, 6)
             AS pairs_completeness
    FROM sizes CROSS JOIN cand CROSS JOIN truth
    """,
)
def dq_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 (r6): blocking-scheme certification
    (operators/quality.py::blocking_quality) — reduction ratio and
    pairs completeness of the 7-char name-prefix block BEFORE the
    Fellegi-Sunter comparator pays for it. Ground truth is the planted
    re-ingest (every customer id-shifted; every 10th with a corrupted
    leading character — the records a prefix block MUST lose), so the
    expected PC is exactly 0.9 and the metric provably detects blocking
    recall loss. |candidates| is computed from the two block HISTOGRAMS
    (Σ ca·cb — vocabulary-sized shuffles), never by materializing the
    pair join the metric warns about."""
    from openmrs_patient_migration_script_spark.operators.quality import (
        blocking_quality,
    )

    a = named_customers(spark, sf_dir)
    b = a.select(
        (F.col("key") + 1000000).alias("key"),
        F.when(
            F.col("key") % 10 == 0,
            F.concat(F.lit("z"), F.substring("name", 2, 1000)),
        )
        .otherwise(F.col("name"))
        .alias("name"),
    )
    truth = a.select(
        F.col("key").alias("key_a"), (F.col("key") + 1000000).alias("key_b")
    )
    return blocking_quality(
        a,
        b,
        truth,
        a_key="key",
        b_key="key",
        block_expr_a=F.substring("name", 1, 7),
        block_expr_b=F.substring("name", 1, 7),
    )


@query(
    "dq_drift_ks",
    oracle=f"""
    WITH {_DRIFT_BINS_SQL},
    cum AS (
      SELECT bin, c_ref, c_cur,
             sum(c_ref) OVER (ORDER BY bin
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_ref,
             sum(c_cur) OVER (ORDER BY bin
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cur
      FROM g
    ),
    t AS (SELECT sum(c_ref)::BIGINT AS t_ref, sum(c_cur)::BIGINT AS t_cur FROM g)
    SELECT bin, c_ref, c_cur, cum_ref, cum_cur,
           abs(cum_ref::HUGEINT * t_cur
               - cum_cur::HUGEINT * t_ref)::BIGINT AS gap_num,
           (t_ref::HUGEINT * t_cur)::BIGINT AS gap_den
    FROM cum, t
    """,
)
def dq_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13c (r6): exact two-sample Kolmogorov-Smirnov drift audit on the
    binned order-value ECDF, pre-1998 reference vs the rest
    (operators/quality.py::ks_drift) — `dq_drift_psi`'s rank-based
    twin on the identical slice/grid, so the two monitors are directly
    comparable: PSI sums per-bin log-ratio mass (sensitive to reshaping),
    KS takes the max ECDF gap (sensitive to location shift spread
    thinly over many bins). The gap fraction |cum_ref·t_cur −
    cum_cur·t_ref| / (t_ref·t_cur) is carried as its exact integer
    numerator/denominator pair — DECIMAL(38,0) intermediates, range-
    guarded BIGINT out (no float in the row and no decimal output
    column either: the r8 dtype rule, functions/numeric.py).
    One conditional-agg scan; the cumulative window runs over
    the FIXED n_bins+2 domain rows (metadata, not data); KS statistic
    = max(gap_num / gap_den)."""
    from openmrs_patient_migration_script_spark.operators.quality import (
        ks_drift,
    )

    o = load_table(spark, sf_dir, "orders")
    return ks_drift(
        o,
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
        lo=0.0,
        width=60000.0,
        n_bins=10,
    )


@query(
    "dq_fk_inference",
    oracle="""
    WITH cand(candidate, n_child_distinct, n_parent_distinct, n_contained) AS (
      SELECT 'orders.o_custkey->customer.c_custkey',
             (SELECT count(DISTINCT o_custkey) FROM orders),
             (SELECT count(DISTINCT c_custkey) FROM customer),
             (SELECT count(*) FROM (SELECT DISTINCT o_custkey AS k FROM orders
                                    WHERE o_custkey IS NOT NULL) c
              WHERE EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.k))
      UNION ALL
      SELECT 'lineitem.l_orderkey->orders.o_orderkey',
             (SELECT count(DISTINCT l_orderkey) FROM lineitem),
             (SELECT count(DISTINCT o_orderkey) FROM orders),
             (SELECT count(*) FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem
                                    WHERE l_orderkey IS NOT NULL) c
              WHERE EXISTS (SELECT 1 FROM orders p WHERE p.o_orderkey = c.k))
      UNION ALL
      SELECT 'customer.c_nationkey->nation.n_nationkey',
             (SELECT count(DISTINCT c_nationkey) FROM customer),
             (SELECT count(DISTINCT n_nationkey) FROM nation),
             (SELECT count(*) FROM (SELECT DISTINCT c_nationkey AS k FROM customer
                                    WHERE c_nationkey IS NOT NULL) c
              WHERE EXISTS (SELECT 1 FROM nation p WHERE p.n_nationkey = c.k))
      UNION ALL
      SELECT 'customer.c_custkey->orders.o_custkey',
             (SELECT count(DISTINCT c_custkey) FROM customer),
             (SELECT count(DISTINCT o_custkey) FROM orders),
             (SELECT count(*) FROM (SELECT DISTINCT c_custkey AS k FROM customer
                                    WHERE c_custkey IS NOT NULL) c
              WHERE EXISTS (SELECT 1 FROM orders p WHERE p.o_custkey = c.k))
    )
    SELECT candidate,
           n_child_distinct::BIGINT AS n_child_distinct,
           n_parent_distinct::BIGINT AS n_parent_distinct,
           n_contained::BIGINT AS n_contained,
           n_contained = n_child_distinct AS is_inclusion
    FROM cand
    """,
)
def dq_fk_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 (r7): inclusion-dependency (FK candidate) DISCOVERY over four
    schema edges (operators/quality.py::inclusion_audit) — the profiling
    step before `dq_referential` starts enforcing: three true FK edges
    plus one deliberate reverse-direction control
    (customer.c_custkey → orders.o_custkey), which fails inclusion
    whenever any customer has no orders — so the audit demonstrably
    DISCRIMINATES rather than rubber-stamping. Per edge: exact distinct
    counts of both sides and the contained-distinct count, all longs,
    plus the is_inclusion verdict their equality implies (the
    Metanome-style IND criterion). Scale: each side distinct-projects
    to bare keys before the semi join — the shuffle carries each
    distinct key once, never fact rows; counts are one-row broadcast
    scalars."""
    from openmrs_patient_migration_script_spark.operators.quality import (
        inclusion_audit,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    edges = [
        (o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer.c_custkey"),
        (li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders.o_orderkey"),
        (c, "c_nationkey", n, "n_nationkey", "customer.c_nationkey->nation.n_nationkey"),
        (c, "c_custkey", o, "o_custkey", "customer.c_custkey->orders.o_custkey"),
    ]
    out = None
    for child, ck, parent, pk, name in edges:
        row = inclusion_audit(child, ck, parent, pk, name)
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "dq_fd_violations",
    oracle="""
    WITH fd1 AS (
      SELECT count(*)::BIGINT AS n_groups,
             count(*) FILTER (WHERE nd > 1)::BIGINT AS n_violating
      FROM (SELECT c_custkey, count(DISTINCT c_name) AS nd
            FROM customer GROUP BY c_custkey)
    ),
    fd2 AS (
      SELECT count(*)::BIGINT AS n_groups,
             count(*) FILTER (WHERE nd > 1)::BIGINT AS n_violating
      FROM (SELECT o_orderkey, count(DISTINCT o_orderstatus) AS nd
            FROM orders GROUP BY o_orderkey)
    ),
    fd3 AS (
      SELECT count(*)::BIGINT AS n_groups,
             count(*) FILTER (WHERE nd > 1)::BIGINT AS n_violating
      FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS nd
            FROM customer GROUP BY c_nationkey)
    )
    SELECT 'customer.c_custkey->c_name' AS fd, n_groups, n_violating,
           n_violating = 0 AS holds
    FROM fd1
    UNION ALL
    SELECT 'orders.o_orderkey->o_orderstatus', n_groups, n_violating,
           n_violating = 0
    FROM fd2
    UNION ALL
    SELECT 'customer.c_nationkey->c_mktsegment', n_groups, n_violating,
           n_violating = 0
    FROM fd3
    """,
)
def dq_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23 (r7): functional-dependency audit — `dq_fk_inference`'s
    within-table sibling (IND discovers edges BETWEEN tables; FD checks
    determinations INSIDE one): does column A determine column B? Three
    declared candidates — two that must hold (a key determines its
    attributes) and one deliberate non-FD control
    (c_nationkey → c_mktsegment: nations span segments), so the audit
    discriminates. Per candidate: exact group and violating-group
    counts plus the holds verdict (n_violating = 0). The FD check is
    the mapping-table precondition (README.md:13-15's precedence rules
    presume identifier → person is functional) — a violated FD there
    means the migration mapping is ambiguous BEFORE any row moves.
    Scale: per candidate one two-level agg (groupBy A, count_distinct
    B — partial-combined both levels), then a one-row count; nothing
    carries fact rows past the first agg."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cands = [
        (c, "c_custkey", "c_name", "customer.c_custkey->c_name"),
        (o, "o_orderkey", "o_orderstatus", "orders.o_orderkey->o_orderstatus"),
        (c, "c_nationkey", "c_mktsegment", "customer.c_nationkey->c_mktsegment"),
    ]
    out = None
    for df, a, bcol, name in cands:
        g = df.groupBy(a).agg(F.count_distinct(F.col(bcol)).alias("_nd"))
        row = g.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.count(F.when(F.col("_nd") > 1, 1)).cast("long").alias(
                "n_violating"
            ),
        ).select(
            "fd",
            "n_groups",
            "n_violating",
            (F.col("n_violating") == 0).alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "dq_header_detail_reconcile",
    oracle="""
    WITH det AS (
      SELECT l_orderkey AS okey,
             sum(CAST(round(((l_extendedprice * (1 - l_discount))
                             * (1 + l_tax)) * 100) AS BIGINT))::BIGINT
               AS detail_cents,
             count(*)::BIGINT AS n_lines
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS header_cents,
             d.detail_cents, d.n_lines
      FROM orders o LEFT JOIN det d ON d.okey = o.o_orderkey
    )
    SELECT count(*)::BIGINT AS n_orders,
           count(CASE WHEN n_lines IS NULL THEN 1 END)::BIGINT
             AS n_orders_no_lines,
           count(CASE WHEN detail_cents = header_cents THEN 1 END)::BIGINT
             AS n_exact_match,
           count(CASE WHEN detail_cents IS NOT NULL
                       AND detail_cents <> header_cents THEN 1 END)::BIGINT
             AS n_mismatch,
           coalesce(max(abs(header_cents - detail_cents)), 0)::BIGINT
             AS max_abs_diff_cents,
           coalesce(sum(abs(header_cents - detail_cents)), 0)::BIGINT
             AS total_abs_diff_cents
    FROM j
    """,
)
def dq_header_detail_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13d (r8): header-vs-detail financial reconciliation — the audit
    every header/detail migration runs before sign-off (the reference's
    own domain: did the per-order total survive the fan-out to line
    rows?): each order's header total is compared in EXACT CENTS
    against the sum of its lines' extended amounts (price × (1−disc) ×
    (1+tax), rounded to cents per line with the identical row-local
    expression on both engines). `dq_table_diff` compares two copies of
    the SAME table; `dq_referential` checks keys exist — this is the
    missing cross-GRAIN value check, reduced to one certification row:
    exact-match / mismatch / orphan-header counts plus max and total
    absolute drift in cents (all BIGINT).

    Scale: one order-keyed detail agg (map-side combine), one key join,
    one global reduce — the `dq_checksum` shape across two tables."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    det = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.sum(
            F.round(
                (
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    * (1 + F.col("l_tax"))
                )
                * 100
            ).cast("long")
        )
        .cast("long")
        .alias("detail_cents"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    j = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("header_cents"),
    ).join(det, o["o_orderkey"] == det["okey"], "left")
    diff = F.col("header_cents") - F.col("detail_cents")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count(F.when(F.col("n_lines").isNull(), 1))
        .cast("long")
        .alias("n_orders_no_lines"),
        F.count(F.when(F.col("detail_cents") == F.col("header_cents"), 1))
        .cast("long")
        .alias("n_exact_match"),
        F.count(
            F.when(
                F.col("detail_cents").isNotNull()
                & (F.col("detail_cents") != F.col("header_cents")),
                1,
            )
        )
        .cast("long")
        .alias("n_mismatch"),
        F.coalesce(F.max(F.abs(diff)), F.lit(0))
        .cast("long")
        .alias("max_abs_diff_cents"),
        F.coalesce(F.sum(F.abs(diff)), F.lit(0))
        .cast("long")
        .alias("total_abs_diff_cents"),
    )


@query(
    "dq_new_categories",
    oracle="""
    WITH ref AS (
      SELECT DISTINCT event_type AS cat FROM events
      WHERE ts < TIMESTAMP '2024-01-16'
    ),
    cur AS (
      SELECT event_type AS cat, count(*)::BIGINT AS n FROM events
      WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1
    ),
    novel AS (
      SELECT cur.cat, cur.n FROM cur LEFT JOIN ref USING (cat)
      WHERE ref.cat IS NULL
    ),
    vanished AS (
      SELECT count(*)::BIGINT AS n_vanished
      FROM ref LEFT JOIN cur USING (cat) WHERE cur.cat IS NULL
    )
    SELECT 'event_type' AS column_name,
           (SELECT count(*) FROM ref)::BIGINT AS n_ref_categories,
           (SELECT count(*) FROM cur)::BIGINT AS n_cur_categories,
           (SELECT count(*) FROM novel)::BIGINT AS n_new,
           (SELECT coalesce(sum(n), 0) FROM novel)::BIGINT AS n_new_rows,
           (SELECT n_vanished FROM vanished) AS n_vanished,
           coalesce((SELECT string_agg(cat, ',' ORDER BY cat) FROM novel),
                    '') AS new_categories
    """,
)
def dq_new_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13e (r8): categorical-domain drift audit — categories present
    after the cutoff that the reference period never saw (and the ones
    that vanished): the failure `dq_drift_psi`/`dq_drift_ks` are
    structurally blind to (a NEW enum value lands in no reference bin;
    a renamed upstream code silently splits a series). One summary row
    per audited column (never empty, so the gate grades real rows even
    with zero drift): ref/cur domain sizes, new-category count and row
    mass, vanished count, and the sorted new-category sample.

    Scale: two conditional DISTINCT aggs to category tables
    (vocabulary-sized after map-side combine), one anti-join each way on
    the bounded domain, one-row reduce."""
    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    ref = (
        e.filter(F.col("ts") < cutoff)
        .select(F.col("event_type").alias("cat"))
        .distinct()
        .localCheckpoint(eager=True)  # bounded domain; feeds both joins
    )
    cur = (
        e.filter(F.col("ts") >= cutoff)
        .groupBy(F.col("event_type").alias("cat"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    novel = cur.join(ref, "cat", "left_anti")
    vanished = ref.join(cur.select("cat"), "cat", "left_anti")
    n_ref = ref.agg(F.count(F.lit(1)).cast("long").alias("n_ref_categories"))
    n_cur = cur.agg(F.count(F.lit(1)).cast("long").alias("n_cur_categories"))
    nov = novel.agg(
        F.count(F.lit(1)).cast("long").alias("n_new"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_new_rows"),
        F.coalesce(
            F.concat_ws(",", F.array_sort(F.collect_list("cat"))), F.lit("")
        ).alias("new_categories"),
    )
    van = vanished.agg(F.count(F.lit(1)).cast("long").alias("n_vanished"))
    return (
        n_ref.crossJoin(F.broadcast(n_cur))
        .crossJoin(F.broadcast(nov))
        .crossJoin(F.broadcast(van))
        .select(
            F.lit("event_type").alias("column_name"),
            "n_ref_categories",
            "n_cur_categories",
            "n_new",
            "n_new_rows",
            "n_vanished",
            "new_categories",
        )
    )


# candidate key sets probed by dq_candidate_keys — (display name, columns).
# Bounded and explicit: candidate-key discovery over all 2^n column
# subsets is exponential; a curated shortlist is the production form.
_KEY_CANDIDATES: list[tuple[str, list[str]]] = [
    ("o_orderkey", ["o_orderkey"]),
    ("o_custkey", ["o_custkey"]),
    ("o_orderdate", ["o_orderdate"]),
    ("o_orderpriority", ["o_orderpriority"]),
    ("o_custkey+o_orderdate", ["o_custkey", "o_orderdate"]),
    (
        "o_custkey+o_orderdate+o_totalprice",
        ["o_custkey", "o_orderdate", "o_totalprice"],
    ),
]


def _candidate_keys_oracle() -> str:
    parts = []
    for name, cols in _KEY_CANDIDATES:
        tup = ", ".join(cols)
        parts.append(
            f"""
    SELECT '{name}' AS candidate, {len(cols)}::BIGINT AS n_cols,
           count(*)::BIGINT AS n_rows,
           count(DISTINCT ({tup}))::BIGINT AS n_distinct
    FROM orders"""
        )
    union = "\n    UNION ALL".join(parts)
    return f"""
    SELECT candidate, n_cols, n_rows, n_distinct,
           (n_rows - n_distinct)::BIGINT AS n_dupes,
           n_rows = n_distinct AS is_key
    FROM ({union})
    """


@query("dq_candidate_keys", oracle=_candidate_keys_oracle())
def dq_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7c (r8): candidate-key certification — for each declared column
    set, exact row vs distinct counts and the is-key verdict: the audit
    a migration runs BEFORE trusting a "primary key" (`dq_pk_violations`
    lists the offending rows of one known key; this grades a SHORTLIST
    of candidate sets in one pass, the schema-discovery half of the
    E7 family next to FK inference and FD violations).

    One aggregate carries all the COUNT(DISTINCT ...) measures —
    Catalyst rewrites multi-distinct via Expand (one pass over the
    scan, |candidates|× row replication into a single shuffle), then a
    6-literal stack unpivots the one-row result. No-null columns make
    tuple-distinct and struct-distinct semantics identical on both
    engines (TPC-H orders has no nulls; a nullable shortlist would use
    coalesce sentinels). 100 TB form: swap exact distinct for HLL
    sketches (`dq_profile_hll`) to collapse the Expand."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for i, (_, cols) in enumerate(_KEY_CANDIDATES):
        aggs.append(
            F.countDistinct(*[F.col(c) for c in cols])
            .cast("long")
            .alias(f"d{i}")
        )
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', {len(cols)}L, d{i}"
        for i, (name, cols) in enumerate(_KEY_CANDIDATES)
    )
    return one.select(
        F.expr(
            f"stack({len(_KEY_CANDIDATES)}, {stack_args}) "
            "as (candidate, n_cols, n_distinct)"
        ),
        "n_rows",
    ).select(
        "candidate",
        F.col("n_cols").cast("long").alias("n_cols"),
        "n_rows",
        "n_distinct",
        (F.col("n_rows") - F.col("n_distinct")).cast("long").alias("n_dupes"),
        (F.col("n_rows") == F.col("n_distinct")).alias("is_key"),
    )


@query(
    "dq_key_skew",
    oracle="""
    WITH per_key AS (
      SELECT l_orderkey AS key, count(*)::BIGINT AS n
      FROM lineitem GROUP BY l_orderkey
    ),
    stats AS (
      SELECT count(*)::BIGINT AS n_keys, sum(n)::BIGINT AS n_rows,
             max(n)::BIGINT AS max_rows
      FROM per_key
    ),
    top AS (
      SELECT key, n FROM (
        SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rn
        FROM per_key
      ) WHERE rn <= 5
    )
    SELECT t.key, t.n, s.n_keys, s.n_rows, s.max_rows,
           -- skew ratio x1000: max partition load vs perfectly even
           (s.max_rows * 1000 * s.n_keys) // s.n_rows AS skew_ratio_milli,
           -- salting factor that would level the heaviest key to ~avg
           (s.max_rows * s.n_keys + s.n_rows - 1) // s.n_rows
             AS suggested_salt
    FROM top t CROSS JOIN stats s
    """,
)
def dq_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24 (r8): join/group-key skew audit — the measurement that
    decides WHETHER to salt before anyone pays for it (`join_salted`
    is the cure; this is the diagnosis): per join key the exact row
    count for the top-5 heaviest keys, plus the global skew ratio
    (max key load vs perfectly-even, milli-units) and the salting
    factor that would level the heaviest key to about average —
    ceil(max·n_keys / n_rows), exactly the bucket count
    `operators/skew.py` needs. At 1000 executors the heaviest key IS
    the stage's critical path, so this number is the predicted
    speedup ceiling of salting.

    One key agg is the data-sized work (map-side combined); the stats
    re-agg and the top-5 rank run on the per-key table (TakeOrdered
    for the top slice, one-row broadcast for stats). All integers:
    the ratio ships ×1000, division is floor-div on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=True)  # feeds stats AND the top-5 rank
    stats = per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_rows"),
    )
    # orderBy().limit() executes as TakeOrderedAndProject — per-partition
    # top-5 heaps merged on the driver — NOT a global sort; a rank
    # window with no partitionBy would drag the whole per-key table
    # through one task (the single-partition shape this repo bans)
    top = per_key.orderBy(F.desc("n"), "key").limit(5)
    return top.crossJoin(F.broadcast(stats)).select(
        "key",
        "n",
        "n_keys",
        "n_rows",
        "max_rows",
        F.expr("(max_rows * 1000 * n_keys) div n_rows").alias(
            "skew_ratio_milli"
        ),
        F.expr("(max_rows * n_keys + n_rows - 1) div n_rows").alias(
            "suggested_salt"
        ),
    )


@query(
    "dq_volume_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, count(*)::BIGINT AS days,
             sum(n)::BIGINT AS s, sum(n * n)::BIGINT AS s2
      FROM daily GROUP BY event_type
    )
    SELECT da.event_type, da.d, da.n, st.days, st.s,
           -- integer-decidable |z| > 2: (n*days - s)^2 > 4*(days*s2 - s^2)
           (da.n * st.days - st.s) * (da.n * st.days - st.s)
             > 4 * (st.days * st.s2 - st.s * st.s) AS is_anomaly
    FROM daily da JOIN stats st USING (event_type)
    """,
)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E25 (r8): ingest-volume anomaly audit — the monitor every feed
    needs next to `dq_freshness` (that one asks "did data ARRIVE on
    time", this one asks "did the RIGHT AMOUNT arrive"): per
    (stream, day) the row count, flagged when it sits more than 2
    standard deviations from the stream's own daily mean. A silent
    half-volume day — upstream partial outage, a dropped partition —
    passes every schema and freshness check and shows up ONLY here.

    The z-test is integer-decidable with no sqrt and no float:
    |z| > 2 ⇔ (n·days − S)² > 4·(days·S2 − S²), all exact BIGINT (day
    counts ≤ 1e9 keep every term far inside int64). The threshold is
    2σ, not 3: a ~30-day window gives 3σ almost no power (this
    fixture's worst day sits at 2.7σ), and one expected false alarm a
    month is the standard pager budget. One (stream, day) agg is the
    data-sized work; the per-stream moment table is bounded (#streams
    rows) and joins back broadcast-sized; the output ledger carries
    EVERY day with its verdict (the production alert filters
    is_anomaly — kept unfiltered here so quiet months still grade
    non-vacuously)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=True)  # feeds the moment agg AND the join
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("days"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    dev = F.col("n") * F.col("days") - F.col("s")
    var4 = 4 * (F.col("days") * F.col("s2") - F.col("s") * F.col("s"))
    return j.select(
        "event_type",
        "d",
        "n",
        "days",
        "s",
        (dev * dev > var4).alias("is_anomaly"),
    )
