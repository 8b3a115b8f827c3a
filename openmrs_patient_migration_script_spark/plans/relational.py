"""Core relational declared queries (SURVEY.md §2.1-§2.8).

Each function is the Spark-first expression of one operator row; the oracle
string is the ANSI-SQL twin DuckDB runs on the same parquet views. Aliases
match exactly on both sides (driver hashes columns by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.functions.ids import (
    deterministic_uuid,
    deterministic_uuid_sql,
)
from openmrs_patient_migration_script_spark.plans.registry import query
from openmrs_patient_migration_script_spark.sources import load_table


# --- §2.1/2.2 scans, projections, filters, conditionals -------------------


@query(
    "scan_project",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name,
           c_mktsegment AS segment, c_acctbal AS acctbal
    FROM customer
    """,
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+P1: parquet scan with column pruning + rename (the reference's
    legacy→OpenMRS column mapping, /root/reference/README.md:9)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        c.c_custkey.alias("custkey"),
        c.c_name.alias("name"),
        c.c_mktsegment.alias("segment"),
        c.c_acctbal.alias("acctbal"),
    )


@query(
    "filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 30
      AND l_returnflag IN ('A', 'R')
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_discount > 0.02
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: conjunctive predicate with BETWEEN / IN / comparison — all pushed
    to the parquet scan by Catalyst (PushedFilters in .explain())."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(
        F.col("l_quantity").between(10, 30)
        & F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_discount") > 0.02)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_returnflag",
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )


@query(
    "cond_identifier_fallback",
    oracle="""
    WITH e AS (
      SELECT c_custkey AS client_id,
             CASE WHEN c_custkey % 3 <> 0
                  THEN 'NAT-' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') END AS national_id,
             CASE WHEN c_custkey % 2 <> 0
                  THEN 'BC-' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') END AS birth_cert_no
      FROM customer
    )
    SELECT client_id,
           coalesce(national_id, birth_cert_no,
                    'GEN-' || lpad(CAST(client_id AS VARCHAR), 9, '0')) AS identifier,
           CASE WHEN national_id IS NOT NULL THEN 'NATIONAL_ID'
                WHEN birth_cert_no IS NOT NULL THEN 'BIRTH_CERTIFICATE'
                ELSE 'GENERATED' END AS identifier_type
    FROM e
    """,
)
def cond_identifier_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: the reference's identifier precedence — National ID, else Birth
    Certificate, else generated ID (/root/reference/README.md:13-15)."""
    from openmrs_patient_migration_script_spark.operators.etl import identifier_with_fallback

    c = load_table(spark, sf_dir, "customer")
    e = c.select(
        c.c_custkey.alias("client_id"),
        F.when(
            c.c_custkey % 3 != 0, F.concat(F.lit("NAT-"), F.lpad(c.c_custkey, 9, "0"))
        ).alias("national_id"),
        F.when(
            c.c_custkey % 2 != 0, F.concat(F.lit("BC-"), F.lpad(c.c_custkey, 9, "0"))
        ).alias("birth_cert_no"),
    )
    ident, id_type = identifier_with_fallback(
        F.col("national_id"),
        F.col("birth_cert_no"),
        F.concat(F.lit("GEN-"), F.lpad(F.col("client_id"), 9, "0")),
    )
    return e.select("client_id", ident.alias("identifier"), id_type.alias("identifier_type"))


# --- §2.3 joins -------------------------------------------------------------


@query(
    "join_inner_equi",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: inner equi join (client→patient key attach,
    /root/reference/README.md:17). AQE picks broadcast vs sort-merge."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name"
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT p_brand, count(*) AS cnt, round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: explicit map-side broadcast of the small dimension (the
    reference's attribute/identifier type lookups, README.md:11,13). No
    shuffle for the join; only the final partial+final agg exchanges."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS order_cnt
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left outer join keeping clients with no optional rows
    (README.md:11 — missing address/attributes must not drop the person)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left-semi existence probe ('already migrated?'), README.md:17."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: left-anti = migrate only NOT-yet-registered clients — the
    idempotent re-run core (README.md:17; SURVEY §5 invariant 4). The
    build side is the recent-order slice (every customer in the fixture
    has SOME order, so the unfiltered form returned 0 rows r2–r5 and its
    oracle grade was vacuous; 'lapsed since 2000' keeps the anti
    semantics and emits real rows at every SF — 14 at sf0.001)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_multiway",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: star-schema chain (TPC-H Q5 shape). Facts shuffle on join keys;
    nation/region are broadcast (tiny dims); AQE reorders/skew-splits."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "join_range",
    oracle="""
    SELECT s_suppkey, count(*) AS n_close
    FROM supplier JOIN customer
      ON s_nationkey = c_nationkey
     AND c_acctbal BETWEEN s_acctbal - 1000 AND s_acctbal + 1000
    GROUP BY s_suppkey
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: theta/range join — equi key narrows the space, the band predicate
    filters inside it; small side broadcast so no cartesian shuffle."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    cond = (
        (s.s_nationkey == c.c_nationkey)
        & (c.c_acctbal >= s.s_acctbal - 1000)
        & (c.c_acctbal <= s.s_acctbal + 1000)
    )
    return (
        F.broadcast(s).join(c, cond).groupBy("s_suppkey").agg(F.count("*").alias("n_close"))
    )


# --- §2.4 aggregations -------------------------------------------------------


@query(
    "agg_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)      AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2)      AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 4)      AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: hash group-by aggregation (TPC-H Q1 shape) — map-side partial agg
    + final agg; the reconciliation-report workhorse (SURVEY §2.4)."""
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS supp_cnt,
           count(DISTINCT l_partkey) AS part_cnt,
           count(*) AS row_cnt
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: distinct aggregation (duplicate detection). At 100 TB prefer
    approx_count_distinct (HLL) — exact distinct shown here for the oracle."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("supp_cnt"),
        F.countDistinct("l_partkey").alias("part_cnt"),
        F.count("*").alias("row_cnt"),
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS order_cnt,
           round(sum(o_totalprice), 2) AS spend
    FROM orders GROUP BY o_custkey HAVING count(*) >= 3
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: post-aggregation filter (duplicate-identifier audits)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
        )
        .filter(F.col("order_cnt") >= 3)
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: hierarchical rollup for multi-level reconciliation reports
    (SURVEY §2.4 / E5)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


# --- §2.6 sorts / top-k ------------------------------------------------------


@query(
    "topk_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: top-k — Spark plans TakeOrderedAndProject (per-partition heap +
    driver merge), never a global sort. Tie-broken for determinism."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "sort_global",
    oracle="""
    SELECT n_name, o_orderdate, o_orderkey, o_totalprice
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_totalprice > 300000
    ORDER BY n_name, o_orderdate DESC, o_orderkey
    """,
)
def sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: totally-ordered output without a LIMIT — Spark range-partitions
    on a sampled key distribution (Exchange rangepartitioning) then sorts
    partitions independently, so no single node ever holds the full
    dataset; concatenating partitions in order IS the total order. The
    filter halves the sorted volume before the exchange."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.filter(F.col("o_totalprice") > 300000)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "o_orderdate", "o_orderkey", "o_totalprice")
        .orderBy("n_name", F.desc("o_orderdate"), "o_orderkey")
    )


# --- §2.7 set operations -----------------------------------------------------


@query(
    "set_union_all",
    oracle="""
    SELECT 'NATIONAL_ID' AS id_source, c_custkey AS client_id FROM customer
      WHERE c_custkey % 3 <> 0
    UNION ALL
    SELECT 'BIRTH_CERTIFICATE' AS id_source, c_custkey AS client_id FROM customer
      WHERE c_custkey % 2 <> 0
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union-all of the identifier feeds (README.md:13-15 ladder)."""
    c = load_table(spark, sf_dir, "customer")
    nat = c.filter(c.c_custkey % 3 != 0).select(
        F.lit("NATIONAL_ID").alias("id_source"), c.c_custkey.alias("client_id")
    )
    bc = c.filter(c.c_custkey % 2 != 0).select(
        F.lit("BIRTH_CERTIFICATE").alias("id_source"), c.c_custkey.alias("client_id")
    )
    return nat.unionByName(bc)


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: set intersection (source∩destination key-overlap audit)."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(o.o_orderstatus == "F").select("o_custkey")
    op = o.filter(o.o_orderstatus == "O").select("o_custkey")
    return f.intersect(op)


@query(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: set difference — the set form of the J5 not-yet-migrated probe."""
    o = load_table(spark, sf_dir, "orders")
    op = o.filter(o.o_orderstatus == "O").select("o_custkey")
    f = o.filter(o.o_orderstatus == "F").select("o_custkey")
    return op.subtract(f)


@query(
    "set_except_all",
    oracle="""
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
    EXCEPT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3b: multiset difference (EXCEPT ALL) — keeps surplus multiplicity
    per key instead of collapsing to a set, the form a row-conservation
    audit needs (how many MORE 'N' lineitems than 'R' per part). Spark's
    exceptAll plans this as a single shuffle carrying per-key counts, not
    row pairs."""
    l = load_table(spark, sf_dir, "lineitem")
    n = l.filter(l.l_returnflag == "N").select("l_partkey")
    r = l.filter(l.l_returnflag == "R").select("l_partkey")
    return n.exceptAll(r)


# --- §2.5 window functions ---------------------------------------------------


@query(
    "win_rank",
    oracle="""
    SELECT * FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER w AS rn,
             rank()       OVER w AS rnk,
             dense_rank() OVER w AS drnk
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    ) WHERE rn <= 3
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: ranking windows — the surrogate-key primitive (E2) and top-N per
    group. One shuffle on the partition key."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "win_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    """,
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: running frame aggregate per key (deterministic total order)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT user_id, event_id, value,
           round(value - lag(value) OVER w, 2) AS value_delta,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: lag/lead — inter-event deltas, the sessionization feeder (ST3)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "value",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("value_delta"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# --- §2.8 scalar functions ---------------------------------------------------


@query(
    "str_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name)                            AS uname,
           lower(c_mktsegment)                      AS lseg,
           substring(c_name, 1, 8)                  AS prefix,
           length(c_name)                           AS name_len,
           concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
           regexp_extract(c_name, '#(\\d+)', 1)     AS digits,
           (c_name LIKE '%1')                       AS ends_one
    FROM customer
    """,
)
def str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: string cleanup functions (the reference's name normalization,
    README.md:9) — all JVM built-ins inside whole-stage codegen."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.lower("c_mktsegment").alias("lseg"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_custkey")).alias("seg_key"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded"),
        F.regexp_extract("c_name", "#(\\d+)", 1).alias("digits"),
        F.col("c_name").like("%1").alias("ends_one"),
    )


@query(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE)                         AS odate,
           CAST(year(o_orderdate) AS BIGINT)                 AS oyear,
           CAST(month(o_orderdate) AS BIGINT)                AS omonth,
           CAST(quarter(o_orderdate) AS BIGINT)              AS oquarter,
           CAST(date_trunc('month', o_orderdate) AS DATE)    AS month_start,
           CAST(datediff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_epoch95
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: date functions (birthdate parse/derive, README.md:9)."""
    o = load_table(spark, sf_dir, "orders")
    odate = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        odate.alias("odate"),
        F.year("o_orderdate").cast("long").alias("oyear"),
        F.month("o_orderdate").cast("long").alias("omonth"),
        F.quarter("o_orderdate").cast("long").alias("oquarter"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
        F.datediff(odate, F.lit("1995-01-01").cast("date")).cast("long").alias(
            "days_since_epoch95"
        ),
    )


@query(
    "json_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           event_type
    FROM events
    """,
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: JSON property extraction from the event payload column."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        "event_type",
    )


@query(
    "json_variant",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(avg(CAST(json_extract(props, '$.k') AS INT)), 6) AS avg_k,
           max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5b: semi-structured access through Spark 4's VariantType —
    `parse_json` decodes the payload ONCE into a binary variant, then any
    number of `variant_get` extractions are offset lookups into that
    encoding. `get_json_object` (json_funcs) re-parses the raw string per
    extraction, so variant wins as soon as a payload is probed twice; at
    100 TB the parse happens at ingest and the stored variant column
    amortizes it to zero per query. The variant itself never crosses the
    driver boundary — outputs are plain ints, so the DuckDB JSON oracle
    compares exact.

    avg_k is a float avg over INTEGER-valued doubles, which is immune to
    the `text_stats_by_lang` reassociation flake: integer-valued doubles
    sum exactly in any order (no rounding error until 2^53), so both
    engines divide the identical exact sum once, and with k in 0..99 and
    group sizes in the thousands the quotient never sits on a shortest-
    repr .5-at-6dp boundary. No scaled-long rewrite needed — documented
    so the sweep doesn't re-flag it."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "int")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.col("k").cast("double")), 6).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


@query(
    "etl_uuid",
    oracle=f"""
    SELECT c_custkey AS client_id,
           {deterministic_uuid_sql("c_custkey", namespace="person")} AS person_uuid
    FROM customer
    """,
)
def etl_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: deterministic UUID policy — same bytes on every run, unlike the
    reference's per-row random uuid (README.md:19; SURVEY §1.2 decision)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        c.c_custkey.alias("client_id"),
        deterministic_uuid("c_custkey", namespace="person").alias("person_uuid"),
    )


# --- §2.4 A6 pivot / §2.5 W4 ntile / §2.3 J8 as-of join -------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@query(
    "agg_pivot",
    oracle="""
    SELECT n_name,
           count(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS automobile,
           count(CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 END) AS building,
           count(CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 END) AS furniture,
           count(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 END) AS household,
           count(CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 END) AS machinery
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: attribute rows → columns (inverse of the E3 unpivot) — the
    person_attribute-to-wide shape. Explicit pivot values keep the plan a
    single pass (no extra distinct-values job) and pin the output schema —
    both required at 100 TB. Missing cells coalesce to 0 to match SQL
    conditional-count semantics."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    wide = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .pivot("c_mktsegment", _SEGMENTS)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "n_name",
        *[F.coalesce(F.col(s), F.lit(0)).cast("long").alias(s.lower()) for s in _SEGMENTS],
    )


@query(
    "win_first_last",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           first_value(c_acctbal) OVER w AS seg_min_bal,
           last_value(c_acctbal) OVER w AS seg_max_bal,
           nth_value(c_acctbal, 2) OVER w AS seg_second_bal
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3b: first/last/nth_value over an explicit full-partition frame —
    the frame matters: the default frame ends at CURRENT ROW, which makes
    last_value a row-identity (the classic window bug); UNBOUNDED
    FOLLOWING gives the per-segment extreme every row sees. One shuffle on
    the segment; ties broken on c_custkey for determinism."""
    c = load_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal", "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.first("c_acctbal").over(w).alias("seg_min_bal"),
        F.last("c_acctbal").over(w).alias("seg_max_bal"),
        F.nth_value("c_acctbal", 2).over(w).alias("seg_second_bal"),
    )


@query(
    "win_ntile",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ntile(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal, c_custkey) AS balance_quartile
    FROM customer
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: ntile quartiles per segment — value-distribution bucketing.
    The extra c_custkey sort key makes bucket assignment deterministic
    under acctbal ties (ntile order-dependence is the classic flaky-test
    trap)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        # long: ntile() emits int32; the oracle's is int64
        F.ntile(4).over(w).cast("long").alias("balance_quartile"),
    )


_MOD30 = "0123456789ACDEFGHJKLMNPRTUVWXY"


@query(
    "etl_check_digit",
    oracle=f"""
    WITH ids AS (
      SELECT c_custkey AS client_id,
             lpad(c_custkey::VARCHAR, 8, '0') AS bare
      FROM customer
    ),
    chars AS (
      SELECT client_id, bare,
             unnest(string_split(bare, '')) AS ch,
             generate_subscripts(string_split(bare, ''), 1) AS pos
      FROM ids
    ),
    terms AS (
      SELECT client_id, bare,
             sum(CASE WHEN (len(bare) - pos) % 2 = 0
                      THEN (2 * (instr('{_MOD30}', ch) - 1)) // 30
                           + (2 * (instr('{_MOD30}', ch) - 1)) % 30
                      ELSE instr('{_MOD30}', ch) - 1 END) AS total
      FROM chars
      WHERE ch <> ''
      GROUP BY client_id, bare
    ),
    cd AS (
      SELECT client_id, bare,
             CAST((30 - total % 30) % 30 AS BIGINT) AS check_val
      FROM terms
    )
    SELECT client_id,
           bare || substr('{_MOD30}', CAST(check_val AS INT) + 1, 1)
             AS identifier,
           TRUE AS valid,
           FALSE AS valid_tampered
    FROM cd
    """,
)
def etl_check_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4b (r4): Luhn mod-30 check-digited identifiers
    (functions/ids.py::luhn_check_digit / luhn_valid) — the public
    OpenMRS patient-identifier scheme behind the reference's generated-ID
    fallback (/root/reference/README.md:13-15). Generates the check
    character for a zero-padded client id, then runs the VALIDATION gate
    on both the correct identifier and a tampered one (check char
    rotated +1), so both verdict branches execute; the oracle replays
    the digit arithmetic and asserts the verdicts by construction. All
    row-local integer HOF arithmetic — zero shuffles, exact oracle."""
    from openmrs_patient_migration_script_spark.functions.ids import (
        MOD30_CHARSET,
        luhn_check_digit,
        luhn_valid,
    )

    c = load_table(spark, sf_dir, "customer")
    bare = F.lpad(F.col("c_custkey").cast("string"), 8, "0")
    cd = luhn_check_digit(bare)
    rotated = F.substring(
        F.lit(MOD30_CHARSET),
        ((F.instr(F.lit(MOD30_CHARSET), cd) % 30) + 1).cast("int"),
        1,
    )
    return c.select(
        F.col("c_custkey").alias("client_id"),
        F.concat(bare, cd).alias("identifier"),
        luhn_valid(F.concat(bare, cd)).alias("valid"),
        luhn_valid(F.concat(bare, rotated)).alias("valid_tampered"),
    )


@query(
    "win_cume_dist",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(cume_dist() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal), 6) AS bal_cume
    FROM customer
    """,
)
def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4d (r4): cumulative distribution per segment — the last W4
    ranking primitive not yet declared (ntile/percent_rank/percentile
    are). No tiebreak column needed, unlike ntile: cume_dist is a pure
    function of the VALUE (rows <= current value / partition rows), so
    ties share a result by definition and the 6dp round only guards the
    count/count division's display."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.cume_dist().over(w), 6).alias("bal_cume"),
    )


@query(
    "agg_boolean",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_quantity < 50)  AS all_small,
           bool_or(l_discount > 0.09) AS any_deep_discount,
           count(*) FILTER (WHERE l_tax > 0.04) AS n_high_tax,
           any_value(l_linestatus ORDER BY l_orderkey, l_linenumber)
             AS first_status
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8b (r4): boolean/conditional aggregate surface — bool_and /
    bool_or / count_if / a DETERMINISTIC any_value (min_by on the
    table's unique sort key; a bare any_value is partial-agg-order
    nondeterministic and could never hash-match). One partial-combinable
    hash agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") < 50).alias("all_small"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.count_if(F.col("l_tax") > 0.04).alias("n_high_tax"),
        F.min_by(
            "l_linestatus",
            F.struct(F.col("l_orderkey"), F.col("l_linenumber")),
        ).alias("first_status"),
    )


# the purchase (p) and view (v) events the as-of oracles attribute
ASOF_INPUTS_SQL = """p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'
    )"""


def asof_side(e: DataFrame, kind: str, value: bool = False) -> DataFrame:
    """The ``kind`` events of ``e`` as ({kind}_id, user_id, {kind}_ts, and
    {kind}_value when ``value``): one side of an as-of join."""
    cols = [
        F.col("event_id").alias(f"{kind}_id"),
        "user_id",
        F.col("ts").alias(f"{kind}_ts"),
    ]
    if value:
        cols.append(F.col("value").alias(f"{kind}_value"))
    return e.filter(F.col("event_type") == kind).select(*cols)


def _asof_oracle(tolerance: str) -> str:
    """Oracle of the backward as-of join of each purchase to the latest
    view of its user at or before it; ``tolerance`` is an extra join
    predicate on the view's ts ('' for none)."""
    return f"""
    WITH {ASOF_INPUTS_SQL}
    SELECT purchase_id, user_id, purchase_ts, view_id, view_ts, view_value
    FROM (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             v.event_id AS view_id, CAST(v.ts AS TIMESTAMP) AS view_ts,
             v.value AS view_value,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY v.ts DESC, v.event_id DESC) AS rn
      FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
                        {tolerance}
    ) WHERE rn = 1
    """


def _asof_backward(
    spark: SparkSession, sf_dir: str, tolerance_seconds: float | None
) -> DataFrame:
    """The Spark side of `_asof_oracle`: `asof_join` of the purchases to
    the views, with ``tolerance_seconds`` as its tolerance."""
    from openmrs_patient_migration_script_spark.operators.joins import asof_join

    e = load_table(spark, sf_dir, "events")
    out = asof_join(
        asof_side(e, "purchase"),
        asof_side(e, "view", value=True),
        on=["user_id"],
        left_ts="purchase_ts",
        right_ts="view_ts",
        right_payload=["view_id", "view_ts", "view_value"],
        right_id="view_id",
        tolerance_seconds=tolerance_seconds,
    )
    return out.select(
        "purchase_id", "user_id", "purchase_ts", "view_id", "view_ts", "view_value"
    )


@query("join_asof", oracle=_asof_oracle(""))
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: as-of join — for each purchase event, the latest 'view' event of
    the same user at-or-before the purchase (event attribution; the
    trades/quotes shape). Runs the union + ordered-carry-forward plan
    (operators/joins.py::asof_join): ONE shuffle on user_id, linear in
    |purchases|+|views| — the equi+range+row_number oracle form would
    materialize every (purchase, earlier-view) pair first."""
    return _asof_backward(spark, sf_dir, None)


@query(
    "join_asof_tolerance",
    oracle=_asof_oracle("AND v.ts >= p.ts - INTERVAL 1 HOUR"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8c (r4): as-of join with a staleness tolerance (pandas
    merge_asof parity) — the latest view within ONE HOUR before each
    purchase; an older view is attribution noise, not a match. The carry
    plan is unchanged (one shuffle + one window — the nearest match is
    the only candidate any tolerance window can contain); the gate is a
    row-local null-out after the carry. The oracle restricts the
    candidate pool instead — equivalent because if the NEAREST match is
    stale, every match is."""
    return _asof_backward(spark, sf_dir, 3600)


@query(
    "join_asof_forward",
    oracle=f"""
    WITH {ASOF_INPUTS_SQL}
    SELECT view_id, user_id, view_ts, purchase_id, purchase_ts, purchase_value
    FROM (
      SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts,
             p.event_id AS purchase_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
             p.value AS purchase_value,
             row_number() OVER (PARTITION BY v.event_id
                                ORDER BY p.ts ASC, p.event_id ASC) AS rn
      FROM v LEFT JOIN p ON v.user_id = p.user_id AND p.ts >= v.ts
    ) WHERE rn = 1
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8b: FORWARD as-of join — for each view, the next purchase of the
    same user at-or-after it ("did this impression convert, and to
    what?"). Same union + single-shuffle carry plan as `join_asof`,
    traversed in reverse time order (operators/joins.py::asof_join
    direction="forward"); the oracle is the pair-materializing
    row_number form ordered ASC."""
    from openmrs_patient_migration_script_spark.operators.joins import asof_join

    e = load_table(spark, sf_dir, "events")
    views = asof_side(e, "view")
    purchases = asof_side(e, "purchase", value=True)
    out = asof_join(
        views,
        purchases,
        on=["user_id"],
        left_ts="view_ts",
        right_ts="purchase_ts",
        right_payload=["purchase_id", "purchase_ts", "purchase_value"],
        right_id="purchase_id",
        direction="forward",
    )
    return out.select(
        "view_id", "user_id", "view_ts", "purchase_id", "purchase_ts",
        "purchase_value",
    )


@query(
    "join_range_binned",
    oracle="""
    SELECT s.s_suppkey,
           count(*) AS n_close,
           round(min(abs(c.c_acctbal - s.s_acctbal)), 2) AS min_gap
    FROM supplier s, customer c
    WHERE abs(c.c_acctbal - s.s_acctbal) <= 5.0
    GROUP BY s.s_suppkey
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7b: PURE band join (no equi key) — customers whose account balance is
    within ±5 of each supplier's. Unlike `join_range` (which has a nationkey
    equi predicate to hang a hash join on), the only predicate here is the
    band, which Spark plans as a BroadcastNestedLoopJoin — O(|L|x|R|) and a
    cartesian shuffle once neither side fits a broadcast. Runs the binned
    rewrite (operators/joins.py::banded_join): quantize balances into
    band-width bins, supplier explodes to its 3 overlappable bins, equi-join
    on the bin, re-check the exact band — a hash join that scales linearly
    and leaves skewed bins to AQE."""
    from openmrs_patient_migration_script_spark.operators.joins import banded_join

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    c = load_table(spark, sf_dir, "customer").select("c_acctbal")
    pairs = banded_join(s, c, "s_acctbal", "c_acctbal", 5.0)
    return pairs.groupBy("s_suppkey").agg(
        F.count("*").alias("n_close"),
        F.round(F.min(F.abs(F.col("c_acctbal") - F.col("s_acctbal"))), 2).alias(
            "min_gap"
        ),
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH w AS (
      SELECT o_custkey, o_orderkey,
             date_diff('day', DATE '1990-01-01', o_orderdate::DATE) AS s,
             date_diff('day', DATE '1990-01-01', o_orderdate::DATE) + 14 AS e
      FROM orders
    )
    SELECT a.o_custkey, a.o_orderkey AS okey_a, b.o_orderkey AS okey_b,
           least(a.e, b.e) - greatest(a.s, b.s) AS overlap_days
    FROM w a JOIN w b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13: interval × interval overlap join — same-customer orders whose
    14-day fulfilment windows intersect ("order bursts"), with the overlap
    length. The bare overlap predicate would plan as a nested loop; the
    binned rewrite (operators/joins.py::interval_overlap_join) explodes
    each interval over the bins it spans (2 here: span = bin width),
    hash-joins on (custkey, bin), and keeps each pair only in its
    canonical bin — the overlap's left edge — so no dedup pass exists in
    the plan. The generalization of `join_range_binned` from points to
    intervals; time-range joins (sessions × incidents, visits × stays)
    are this exact shape."""
    from openmrs_patient_migration_script_spark.operators.joins import (
        interval_overlap_join,
    )

    o = load_table(spark, sf_dir, "orders")
    days = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
    )
    w = o.select(
        "o_custkey",
        "o_orderkey",
        days.cast("long").alias("s"),
        (days + 14).cast("long").alias("e"),
    )
    a = w.select(
        "o_custkey",
        F.col("o_orderkey").alias("okey_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
    )
    b = w.select(
        "o_custkey",
        F.col("o_orderkey").alias("okey_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    pairs = interval_overlap_join(
        a, b, "s_a", "e_a", "s_b", "e_b", bin_width=14.0, on=["o_custkey"]
    ).filter(F.col("okey_a") < F.col("okey_b"))
    return pairs.select(
        "o_custkey",
        "okey_a",
        "okey_b",
        (
            F.least(F.col("e_a"), F.col("e_b"))
            - F.greatest(F.col("s_a"), F.col("s_b"))
        ).alias("overlap_days"),
    )


@query(
    "join_spatial_grid",
    oracle="""
    WITH p AS (
      SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS dist
    FROM p a JOIN p b
      ON a.vec_id < b.vec_id
     AND sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 0.02
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14: 2D Euclidean distance self-join — all point pairs within
    radius 0.02 in the first two embedding dimensions (the geo /
    scatter-plot "nearby points" shape). The bare distance predicate
    would plan as a nested loop; the grid rewrite
    (operators/joins.py::grid_distance_join) bins points into
    radius-sized cells, explodes one side over the 3×3 reachable block,
    hash-joins on the cell, and re-checks the exact distance row-locally
    — each true pair meets exactly once in the right point's home cell.
    Distances are emitted RAW: sqrt is correctly rounded in both engines,
    so the comparison is exact without a rounding step."""
    from openmrs_patient_migration_script_spark.operators.joins import (
        grid_distance_join,
    )

    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    a = pts.select(
        F.col("vec_id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = pts.select(
        F.col("vec_id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    pairs = grid_distance_join(a, b, ("xa", "ya"), ("xb", "yb"), radius=0.02)
    # dx*dx, not pow(dx, 2): multiplication is exactly rounded in both
    # engines, Math.pow vs ^ is not (measured 1.7e-18 drift)
    dx, dy = F.col("xa") - F.col("xb"), F.col("ya") - F.col("yb")
    dist = F.sqrt(dx * dx + dy * dy)
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("dist"))
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6)::DOUBLE AS p50_price,
           round(quantile_cont(l_extendedprice, 0.9), 6)::DOUBLE AS p90_price,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4b/F3: exact interpolated percentiles per group (`percentile` is
    Spark's exact linear-interpolation aggregate = DuckDB quantile_cont;
    round(6) absorbs interpolation ulps). At 100 TB the exact form holds
    a per-group value buffer — the docstring-documented scale swap is
    `percentile_approx` (bounded-memory t-digest sketch, mergeable across
    partitions), traded for its approximation error."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
        F.count("*").alias("n"),
    )


@query(
    "topk_salted",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_suppkey
                                ORDER BY l_extendedprice DESC,
                                         l_orderkey, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn <= 3
    """,
)
def topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2b: skew-safe top-k per key (operators/skew.py) — partial top-k per
    (key, salt) bounds the hot key's window task, then a k×salts-row merge
    re-ranks per key. Result is byte-identical to the single-window oracle
    form; only the physical shuffle shape differs."""
    from openmrs_patient_migration_script_spark.operators.skew import (
        salted_topk_per_key,
    )

    l = load_table(spark, sf_dir, "lineitem")
    out = salted_topk_per_key(
        l.select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"),
        key_cols=["l_suppkey"],
        order_cols=[
            F.desc("l_extendedprice"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        k=3,
    )
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")


@query(
    "agg_cube",
    oracle="""
    SELECT n_name, c_mktsegment, count(*) AS n_cust,
           round(sum(c_acctbal), 4) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY CUBE (n_name, c_mktsegment)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5b: CUBE — all 2^k grouping-set combinations in one pass (Spark
    expands the sets at the partial-agg stage; the shuffle carries one
    partial row per set x group, not k passes over the data)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .cube("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5c: explicit GROUPING SETS — the general form of rollup/cube; Spark
    expands the sets before the partial aggregation, so the shuffle carries
    one partial row per (set x group), a single pass over the fact table
    regardless of how many report levels are requested."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(CASE WHEN GROUPING(l_returnflag) = 1
                          AND GROUPING(l_linestatus) = 1 THEN 3
                     WHEN GROUPING(l_linestatus) = 1 THEN 1
                     ELSE 0 END AS BIGINT) AS gid,
           (GROUPING(l_returnflag) = 0 AND GROUPING(l_linestatus) = 0)
             AS is_leaf,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5d (r4): GROUPING / GROUPING_ID diagnostics — the companion every
    rollup/cube report needs to tell a REAL NULL group from a subtotal
    row (a NULL l_linestatus leaf is indistinguishable from the
    per-returnflag subtotal without it). Spark's grouping_id() bitmask
    matches the CASE-reconstructed form in the oracle (DuckDB's
    GROUPING_ID argument convention differs, so the oracle derives the
    id from the per-column GROUPING bits — same values, portable
    spelling). Same single-pass Expand plan as every grouping-sets
    query."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            # grouping()/grouping_id() are only resolvable INSIDE the
            # grouping aggregation, not in a later select
            F.grouping_id().alias("gid"),
            (
                (F.grouping("l_returnflag") == 0)
                & (F.grouping("l_linestatus") == 0)
            ).alias("is_leaf"),
            F.count("*").alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "is_leaf", "n_rows")
    )


@query(
    "sql_try_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN cnt = 0 THEN NULL ELSE o_totalprice / cnt END
             AS price_per_item,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE CAST(o_orderkey AS BIGINT) * 1000000 END AS scaled_key,
           try_cast(o_orderpriority AS BIGINT) AS prio_num,
           try_cast(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio_rank
    FROM (
      SELECT o_orderkey, o_totalprice, o_orderpriority,
             o_orderkey % 5 AS cnt
      FROM orders
    )
    """,
)
def sql_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 (r4): the try_* error-safe function family — the idioms that
    keep a plan VALID under the verification gate's ANSI session where
    permissive expressions become runtime errors (the exact failure
    class tests/test_ansi_parity.py exists for): try_divide (NULL on
    /0 instead of DIVIDE_BY_ZERO), try_multiply (NULL on overflow
    paths), try_cast (NULL on unparseable strings — '1-URGENT' is not a
    number; its leading digit is). The oracle spells the same semantics
    with CASE/try_cast. Row-local projection, zero shuffles; identical
    results under ANSI on AND off by construction."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), F.col("o_orderkey") % 5
        ).alias("price_per_item"),
        F.when(
            F.col("o_orderkey") % 7 == 0, F.lit(None).cast("long")
        ).otherwise(
            F.try_multiply(F.col("o_orderkey").cast("long"), F.lit(1000000).cast("long"))
        ).alias("scaled_key"),
        F.col("o_orderpriority").try_cast("bigint").alias("prio_num"),
        F.substring(F.col("o_orderpriority"), 1, 1).try_cast("bigint").alias(
            "prio_rank"
        ),
    )


@query(
    "array_funcs",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           round(list_sum(list_transform(embedding[1:4],
                 x -> CAST(x AS DOUBLE) * 2.0)), 6) AS head4_x2_sum,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val
    FROM embeddings
    """,
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: array higher-order functions (transform/slice/aggregate/filter/
    array_max) over the embedding column — row-local lambda evaluation, so
    the whole query is a narrow scan-projection with zero shuffles at any
    scale. Outputs are scalars (the fold results), keeping the oracle
    compare exact; map-typed access is exercised by `json_funcs`."""
    e = load_table(spark, sf_dir, "embeddings")
    vec_d = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(
            F.aggregate(
                F.slice(vec_d, 1, 4), F.lit(0.0), lambda acc, x: acc + x * 2.0
            ),
            6,
        ).alias("head4_x2_sum"),
        F.round(
            F.sqrt(F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x)), 6
        ).alias("l2_norm"),
        F.size(F.filter("embedding", lambda x: x > F.lit(0.0))).cast("long").alias("n_pos"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(var_samp(l_discount), 8) AS var_disc,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3b: statistical aggregates (stddev/variance/correlation/covariance)
    — single-pass mergeable moment sketches in both engines, so partial
    aggregation works and the shuffle carries one moment tuple per group;
    round() absorbs the cross-engine update-order ulps."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_discount"), 8).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ), 4) AS sum_30d
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2b: value-based window frame — per-customer rolling 30-day order
    total via RANGE BETWEEN (frame bounded by the ORDER BY *value*, not
    row offsets: all same-timestamp rows enter the frame together, which
    rows-frames get wrong). Spark's rangeBetween needs a numeric order
    key, so the timestamp is cast to epoch seconds and the bound is
    30*86400 — exactly DuckDB's INTERVAL 30 DAYS under UTC. Same single
    per-key Exchange as every other window query."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.round(F.sum("o_totalprice").over(w), 4).alias("sum_30d"),
    )


@query(
    "map_funcs",
    oracle="""
    SELECT event_id,
           len(json_keys(props)) AS n_keys,
           array_to_string(json_keys(props), ',') AS key_list,
           json_extract(props, '$.k')::INTEGER AS k_value
    FROM events
    """,
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6b: map-typed access — JSON props parsed to map<string,int> once,
    then size/map_keys/element_at (the map family of F6). Narrow
    scan-projection, zero shuffles; the parse happens inside codegen."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        F.size(m).cast("long").alias("n_keys"),
        F.array_join(F.map_keys(m), ",").alias("key_list"),
        F.element_at(m, "k").alias("k_value"),
    )


# --- §2 SQL surface: correlated subqueries (Catalyst decorrelation) ----------


def _sql_query(spark: SparkSession, sf_dir: str, stmt: str, tables: list[str]) -> DataFrame:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(stmt)


_EXISTS_SQL = """
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 400000
    )
"""

_SCALAR_SQL = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (
      SELECT avg(o2.o_totalprice) FROM orders o2
      WHERE o2.o_custkey = o.o_custkey
    )
"""


@query("sql_exists_subquery", oracle=_EXISTS_SQL)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the ANSI SQL surface — Catalyst
    decorrelates it into a left-semi hash join (never a per-row probe);
    the plan pin asserts the rewrite. Same statement doubles as the
    oracle: the point is that Spark's decorrelated plan and DuckDB's
    evaluation agree value-for-value."""
    return _sql_query(spark, sf_dir, _EXISTS_SQL, ["customer", "orders"])


@query("sql_scalar_subquery", oracle=_SCALAR_SQL)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (rows above 2x their group's average) —
    decorrelated into one aggregation + one equi-join instead of a
    per-row rescan; the O(n^2) naive evaluation would never survive
    100 TB, the rewritten plan is two shuffles."""
    return _sql_query(spark, sf_dir, _SCALAR_SQL, ["orders"])


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice >= 600000 THEN 13
                ELSE floor(o_totalprice / 50000) + 1 END AS BIGINT) AS bucket,
           count(*) AS cnt,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned value distribution (fixed-width buckets) — the profiling
    pass before choosing filter/banding thresholds at scale. Bucketing is
    floor arithmetic with an upper overflow bucket (the SQL width_bucket
    convention, spelled out on both sides since DuckDB 1.x lacks the
    function); one partial-combined hash agg, shuffle carries only the
    bucket count."""
    o = load_table(spark, sf_dir, "orders")
    n, lo, hi = 12, 0.0, 600000.0
    bucket = F.when(F.col("o_totalprice") >= hi, n + 1).otherwise(
        F.floor((F.col("o_totalprice") - lo) / ((hi - lo) / n)) + 1
    )
    return (
        o.select(bucket.cast("long").alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "agg_histogram_equidepth",
    oracle="""
    WITH scaled AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS vs FROM orders
    ),
    cuts AS (
      SELECT list_value(
        quantile_disc(vs, 0.1), quantile_disc(vs, 0.2),
        quantile_disc(vs, 0.3), quantile_disc(vs, 0.4),
        quantile_disc(vs, 0.5), quantile_disc(vs, 0.6),
        quantile_disc(vs, 0.7), quantile_disc(vs, 0.8),
        quantile_disc(vs, 0.9)
      ) AS cs
      FROM scaled
    ),
    assigned AS (
      SELECT vs, CAST(len(list_filter(cs, c -> vs > c)) AS BIGINT) AS bucket
      FROM scaled CROSS JOIN cuts
    )
    SELECT bucket, count(*) AS n_rows,
           min(vs) / 100.0 AS lo, max(vs) / 100.0 AS hi
    FROM assigned GROUP BY bucket
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order totals
    (operators/aggregates.py::histogram_equidepth) — ~equal rows per
    bucket via exact discrete-percentile cuts, the skew-proof complement
    of `agg_histogram`'s fixed widths and the optimizer-statistics
    shape. Cuts are actual data values (`etl_winsorize`'s
    percentile_disc rule) and assignment counts cuts strictly below the
    scaled value with an integer array HOF, so the whole summary is
    exact on both engines. One-row cuts broadcast; two column passes;
    shuffle carries n_buckets rows."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        histogram_equidepth,
    )

    o = load_table(spark, sf_dir, "orders")
    out = histogram_equidepth(o, "o_totalprice", n_buckets=10, scale=100)
    return out.select(
        F.col("bucket").cast("long").alias("bucket"), "n_rows", "lo", "hi"
    )


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS seg
      FROM customer
    ),
    b AS (
      SELECT DISTINCT
             CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE 'BUILDING' END AS seg
      FROM nation
    )
    SELECT a.c_custkey, a.seg
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    NULL keys — the semantics plain equi joins silently drop. Stays a hash
    join (null-safe equality is still an equi-key for partitioning);
    at scale a hot NULL key is the classic skew cell — salt it or filter
    nulls into a separate union branch."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    a = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    b = n.select(
        F.when(F.col("n_nationkey") % 5 == 0, None)
        .otherwise(F.lit("BUILDING"))
        .alias("seg")
    ).distinct()
    return a.join(F.broadcast(b), a.seg.eqNullSafe(b.seg)).select("c_custkey", a.seg)


@query(
    "join_cross",
    oracle="""
    SELECT r_name, seg
    FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer)
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product of two dims — the (region × segment)
    reporting scaffold every cell-complete rollup starts from. Declared
    only for dim×dim shapes: a cross join is O(|L|·|R|) by definition, so
    at 100 TB either side must be broadcast-tiny; Spark refuses implicit
    cartesians unless the API states intent (``crossJoin``)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    seg = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("seg"))
        .distinct()
    )
    return r.crossJoin(F.broadcast(seg))


@query(
    "set_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 multiset variant: INTERSECT ALL keeps min(countL, countR) copies
    per key instead of collapsing to distinct — the semantics that matter
    when rows are observations (e.g. per-order audit events), not keys.
    Same single shuffle as distinct intersect; Spark tracks per-key counts
    in the aggregate instead of a boolean."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(o.o_orderstatus == "F").select("o_custkey")
    op = o.filter(o.o_orderstatus == "O").select("o_custkey")
    return f.intersectAll(op)


@query(
    "win_percent_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 companion to ntile: continuous relative position (percent_rank)
    and inclusive CDF (cume_dist) per segment. c_custkey tiebreak keeps
    both deterministic; rounded on both sides because the rank ratio is a
    float division."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


_CTE_SQL = """
WITH nation_orders AS (
  SELECT n.n_name, o.o_totalprice
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
nation_totals AS (
  SELECT n_name, round(sum(o_totalprice), 2) AS total, count(*) AS n_orders
  FROM nation_orders GROUP BY n_name
)
SELECT n_name, total, n_orders
FROM nation_totals
WHERE total > (SELECT avg(total) FROM nation_totals)
"""


@query("sql_cte", oracle=_CTE_SQL)
def sql_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-adjacent SQL-surface depth: chained CTEs where the second CTE is
    consumed twice (rows + scalar-subquery average). The identical
    statement is the oracle. Catalyst plans the reused CTE once per
    consumer (inline) — correct either way; at scale a hand-tuned pipeline
    would localCheckpoint a reused intermediate exactly like
    operators/corpus.py does."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_CTE_SQL)


@query(
    "join_salted",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: statically salted equi-join (operators/skew.py::salted_join) —
    the pre-AQE skew lever: the big side's rows scatter over (key, salt)
    so one hot customer can't pin a whole task, the small side replicates
    once per salt. The oracle is the PLAIN join: the hash check is the
    proof that salting is row-identical to the unsalted join. Use only
    when AQE's runtime skew split can't apply (shuffled-hash stage, AQE
    off, or the salted partitioning feeds the next stage)."""
    from openmrs_patient_migration_script_spark.operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    )
    return salted_join(o, c, on=["o_custkey"], how="inner", salts=8)


@query(
    "agg_listagg",
    oracle="""
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: ordered string aggregation (SQL:2016 LISTAGG, new in Spark 4)
    — each region's nation names joined in deterministic order. Listagg
    buffers and sorts the whole group, so it belongs ONLY on
    bounded-cardinality groups like this dimension rollup; r3 makes that
    contract ENFORCED, not advisory: the bounded form
    (operators/aggregates.py::listagg_bounded) carries an in-plan
    assert_true on the group size inside the same hash aggregate, so an
    unbounded group fails loud instead of OOMing a task. Unbounded groups
    go top-k first (O2/O3), then concat the bounded survivors."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        listagg_bounded,
    )

    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return listagg_bounded(
        j, ["r_name"], "n_name", sep=",", max_group_size=10_000, out_col="nations"
    )


@query(
    "agg_approx_topk",
    oracle="""
    SELECT event_type AS item, count(*) AS cnt
    FROM events GROUP BY event_type
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: heavy hitters via the approx_top_k sketch (Spark 4.1) —
    ONE bounded-memory, partial-combinable sketch per partition instead
    of a full-cardinality groupBy: the shuffle carries fixed-size sketch
    state however many distinct items exist, which is the point at 100 TB
    (a trending-items pass over a high-cardinality column). At the
    fixture's 5-type cardinality the sketch tracks every item exactly, so
    the exact GROUP BY oracle hash-matches; past maxItemsTracked the
    counts become approximate (documented trade)."""
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("events_topk_src")
    return spark.sql(
        """
        SELECT t.item AS item, t.count AS cnt
        FROM (SELECT explode(approx_top_k(event_type, 10)) AS t
              FROM events_topk_src)
        """
    )


_RECURSIVE_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT CAST('1992-01-01 00:00:00' AS TIMESTAMP) AS m
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months
  WHERE m < CAST('1998-12-01 00:00:00' AS TIMESTAMP)
),
per_month AS (
  SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total
  FROM orders GROUP BY 1
)
SELECT months.m AS month_start,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(total, 0.0) AS total
FROM months LEFT JOIN per_month ON months.m = per_month.m
"""


@query("sql_recursive_cte", oracle=_RECURSIVE_SQL)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.x `WITH RECURSIVE`): generate a monthly
    calendar spine, then left-join per-month order aggregates so empty
    months surface as zero rows — the gap-aware report shape `ts_resample`
    solves for event data, here expressed purely in SQL. The identical
    statement is the oracle.

    Scale notes: the spine is 84 rows built driver-side by the recursion
    (bounded by spark.sql.cteRecursionLevelLimit, default 100 — a runaway
    anchor/step fails loudly instead of spinning); the month aggregate is
    one partial-combined hash agg of the fact table, and the spine side of
    the join is broadcast. Recursion here generates a DIMENSION, never
    iterates over the fact table — the iterative-over-facts pattern
    (connected components) stays in operators/graph.py where each round is
    checkpoint-bounded."""
    return _sql_query(spark, sf_dir, _RECURSIVE_SQL, ["orders"])


_LATERAL_SQL = """
SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey, l.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
"""


@query("sql_lateral_topk", oracle=_LATERAL_SQL)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL
    spelling of per-key top-k. Catalyst decorrelates the per-customer
    probe into a pre-shuffle `WindowGroupLimit` (each input partition
    prunes to k rows BEFORE the exchange) feeding one hash join — never
    the naive per-row rescan of orders. tests/test_plan_quality.py pins
    the rewrite (no nested-loop join in the plan). Ties break on
    o_orderkey so the result is deterministic. The identical statement is
    the oracle."""
    return _sql_query(spark, sf_dir, _LATERAL_SQL, ["customer", "orders"])


@query(
    "agg_conditional",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           round(sum(o_totalprice) FILTER (WHERE o_totalprice > 100000), 2)
             AS big_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (SQL FILTER clause): several differently-
    filtered measures in ONE pass over the fact table — the reconciliation-
    report shape that would otherwise be N scans + N joins. Pure partial-
    combinable hash agg; the WHEN guards run map-side."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.round(
            F.sum(F.when(F.col("o_totalprice") > 100000, F.col("o_totalprice"))), 2
        ).alias("big_total"),
    )


@query(
    "agg_minmax_by",
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice) AS top_order,
           arg_min(o_orderkey, o_totalprice) AS bottom_order,
           round(max(o_totalprice), 2) AS top_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extrema aggregation (``max_by``/``min_by`` = DuckDB arg_max/
    arg_min): the key of the extreme row per group WITHOUT a self-join or
    window — one partial-combinable hash agg carrying (value, arg) pairs.
    The window form (`row_number()==1`) costs a per-group sort; this is
    the reduction form. Ties broken identically on both engines by the
    orderkey-unique fixture (o_totalprice ties don't occur per group)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("top_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("bottom_order"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
    )


@query(
    "agg_mode",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment, c_nationkey AS v, count(*) AS n
      FROM customer GROUP BY c_mktsegment, c_nationkey
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY n DESC, v DESC) AS rn
      FROM c
    )
    SELECT c_mktsegment, v AS mode_nation, n AS mode_count
    FROM r WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode (most frequent nation per market segment) as
    TWO partial-combinable hash aggregations — (group, value) counts, then
    max_by over the (count, value) pair — with no per-group sort and no
    window. Spark's built-in `mode()` buffers every value per group and
    breaks ties arbitrarily; this form shuffles only distinct (group,
    value) pairs and pins the tie deterministically to the largest value,
    which is what lets the result hash-match a serial engine. At 100 TB
    the first agg is the only data-sized pass; the second sees at most
    |groups| x |distinct values| rows."""
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment", F.col("c_nationkey").alias("v")).agg(
        F.count("*").alias("n")
    )
    return counts.groupBy("c_mktsegment").agg(
        F.max_by(F.col("v"), F.struct("n", "v")).alias("mode_nation"),
        F.max("n").alias("mode_count"),
    )


@query(
    "join_asof_nearest",
    oracle=f"""
    WITH {ASOF_INPUTS_SQL}
    SELECT purchase_id, user_id, purchase_ts, view_id, view_ts, view_value,
           matched_dir
    FROM (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             v.event_id AS view_id, CAST(v.ts AS TIMESTAMP) AS view_ts,
             v.value AS view_value,
             CASE WHEN v.event_id IS NULL THEN NULL
                  WHEN v.ts <= p.ts THEN 'backward' ELSE 'forward' END
               AS matched_dir,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_ms(v.ts) - epoch_ms(p.ts)) ASC,
                        (v.ts > p.ts)::INT ASC,
                        CASE WHEN v.ts <= p.ts THEN -v.event_id
                             ELSE v.event_id END ASC
             ) AS rn
      FROM p LEFT JOIN v ON p.user_id = v.user_id
    ) WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8c: nearest-direction as-of join — each purchase attributed to the
    time-CLOSEST view of the same user, before or after, equal gaps
    preferring backward (operators/joins.py::asof_join_nearest). Both
    direction carries share ONE key-shuffle + sort (preceding-frame last
    + following-frame first over the same ordering); the oracle is the
    pair-join + abs-gap rank form that would materialize every
    (purchase, view) pair at scale."""
    from openmrs_patient_migration_script_spark.operators.joins import (
        asof_join_nearest,
    )

    e = load_table(spark, sf_dir, "events")
    purchases = asof_side(e, "purchase")
    views = asof_side(e, "view", value=True)
    return asof_join_nearest(
        purchases,
        views,
        on=["user_id"],
        left_ts="purchase_ts",
        right_ts="view_ts",
        right_payload=["view_id", "view_ts", "view_value"],
        right_id="view_id",
    )


@query(
    "join_bloom_semi",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
    )
    """,
)
def join_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J15: semi join behind an explicit bloom-filter pre-filter — the
    selective-dimension fact join at 100 TB: the filter drops
    non-candidate fact rows INSIDE the scan stage (row-local literal
    bitmap test, whole-stage codegen), so the exchange carries ~10% of
    the fact table here instead of all of it; the real semi join then
    removes the bloom's false positives, making the result exactly the
    IN-subquery the oracle runs
    (operators/joins.py::bloom_semi_join)."""
    from openmrs_patient_migration_script_spark.operators.joins import (
        bloom_semi_join,
    )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 250000)
    )
    return bloom_semi_join(li, o, "l_orderkey", "o_orderkey").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "agg_weighted_percentile",
    oracle="""
    WITH base AS (
      SELECT l_returnflag, l_linestatus,
             l_extendedprice AS v, CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    cum AS (
      SELECT l_returnflag, l_linestatus, v,
             sum(w) OVER (PARTITION BY l_returnflag, l_linestatus
                          ORDER BY v
                          RANGE BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c,
             sum(w) OVER (PARTITION BY l_returnflag, l_linestatus) AS t
      FROM base
    )
    SELECT l_returnflag, l_linestatus,
           min(CASE WHEN c * 100 >= t * 25 THEN v END) AS p25,
           min(CASE WHEN c * 100 >= t * 50 THEN v END) AS p50,
           min(CASE WHEN c * 100 >= t * 75 THEN v END) AS p75
    FROM cum GROUP BY 1, 2
    """,
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: exact weighted percentiles (quantity-weighted price quartiles
    per flag/status) — Spark's native `percentile` weighs rows equally;
    this is the importance-weighted estimator (a row stands for w
    originals). RANGE-frame cumulative weights make the answer
    independent of intra-tie order, and the 100·cum >= p·total compare
    is all-integer (operators/aggregates.py::weighted_percentiles). One
    group-keyed Exchange; extra percentiles are extra expressions, not
    extra passes."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        weighted_percentiles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_percentiles(
        li,
        ["l_returnflag", "l_linestatus"],
        "l_extendedprice",
        "l_quantity",
        pcts=[25, 50, 75],
    )


@query(
    "agg_corr_matrix",
    oracle="""
    WITH sc AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
             CAST(round(l_tax * 100) AS BIGINT) AS tax_c
      FROM lineitem
    ),
    s AS (
      SELECT count(*)::BIGINT AS n,
             sum(disc_c)::BIGINT AS s_d, sum(price_c)::BIGINT AS s_p,
             sum(qty)::BIGINT AS s_q, sum(tax_c)::BIGINT AS s_t,
             sum(disc_c::HUGEINT * disc_c) AS p_dd,
             sum(disc_c::HUGEINT * price_c) AS p_dp,
             sum(disc_c::HUGEINT * qty) AS p_dq,
             sum(disc_c::HUGEINT * tax_c) AS p_dt,
             sum(price_c::HUGEINT * price_c) AS p_pp,
             sum(price_c::HUGEINT * qty) AS p_pq,
             sum(price_c::HUGEINT * tax_c) AS p_pt,
             sum(qty::HUGEINT * qty) AS p_qq,
             sum(qty::HUGEINT * tax_c) AS p_qt,
             sum(tax_c::HUGEINT * tax_c) AS p_tt
      FROM sc
    )
    SELECT col_a, col_b, n,
           round(cov_num / (n::DOUBLE * (n - 1)), 6) AS cov,
           round(cov_num / (sqrt(var_a) * sqrt(var_b)), 6) AS corr
    FROM (
      SELECT n, pair.col_a, pair.col_b,
             (n::HUGEINT * pair.pij - pair.si::HUGEINT * pair.sj)::DOUBLE
               AS cov_num,
             (n::HUGEINT * pair.pii - pair.si::HUGEINT * pair.si)::DOUBLE
               AS var_a,
             (n::HUGEINT * pair.pjj - pair.sj::HUGEINT * pair.sj)::DOUBLE
               AS var_b
      FROM s, unnest([
        {'col_a': 'disc_c', 'col_b': 'price_c', 'si': s_d, 'sj': s_p,
         'pij': p_dp, 'pii': p_dd, 'pjj': p_pp},
        {'col_a': 'disc_c', 'col_b': 'qty', 'si': s_d, 'sj': s_q,
         'pij': p_dq, 'pii': p_dd, 'pjj': p_qq},
        {'col_a': 'disc_c', 'col_b': 'tax_c', 'si': s_d, 'sj': s_t,
         'pij': p_dt, 'pii': p_dd, 'pjj': p_tt},
        {'col_a': 'price_c', 'col_b': 'qty', 'si': s_p, 'sj': s_q,
         'pij': p_pq, 'pii': p_pp, 'pjj': p_qq},
        {'col_a': 'price_c', 'col_b': 'tax_c', 'si': s_p, 'sj': s_t,
         'pij': p_pt, 'pii': p_pp, 'pjj': p_tt},
        {'col_a': 'qty', 'col_b': 'tax_c', 'si': s_q, 'sj': s_t,
         'pij': p_qt, 'pii': p_qq, 'pjj': p_tt}
      ]) AS t(pair)
    )
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3e (r6): pairwise covariance/correlation matrix of the lineitem
    numeric features in long form
    (operators/aggregates.py::corr_matrix) — the feature-audit / PCA
    prep primitive (price≈qty·unit-cost shows up as a strong pair;
    discount/tax should be near-independent). All four columns scale to
    exact integers (cents), every sufficient statistic is an exact
    long/DECIMAL(38,0) sum from ONE aggregation pass (4 + 10 counters
    in one scan — the `profile_columns` wide-agg shape, adding a column
    adds counters, never a scan), the wide→long reshape is a row-local
    explode, and the only float ops are the fixed final division/sqrt
    chain rounded 6dp."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        corr_matrix,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return corr_matrix(
        li,
        {
            "qty": F.round(F.col("l_quantity")),
            "price_c": F.round(F.col("l_extendedprice") * 100),
            "disc_c": F.round(F.col("l_discount") * 100),
            "tax_c": F.round(F.col("l_tax") * 100),
        },
    )


@query(
    "agg_histogram2d",
    oracle="""
    WITH cells AS (
      SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
             least(CAST(floor(value / 100.0) AS BIGINT), 10) AS value_bin,
             count(*)::BIGINT AS cnt
      FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT hour_of_day, sum(cnt)::BIGINT AS n_x FROM cells GROUP BY 1),
    my AS (SELECT value_bin, sum(cnt)::BIGINT AS n_y FROM cells GROUP BY 1),
    t AS (SELECT sum(cnt)::BIGINT AS n_total FROM cells)
    SELECT cells.hour_of_day, cells.value_bin, cnt, n_x, n_y, n_total,
           round((cnt::DOUBLE * n_total) / (n_x::DOUBLE * n_y), 6) AS lift
    FROM cells JOIN mx USING (hour_of_day) JOIN my USING (value_bin), t
    """,
)
def agg_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7c (r6): 2D fixed-grid joint histogram of (hour-of-day, binned
    event value) with the independence LIFT per cell — the heatmap
    primitive plus the audit number that makes it actionable:
    lift = observed / expected-under-independence, so lift >> 1 cells
    are the (time, size) pockets a sampler or anomaly rule must know
    about (`agg_mutual_info` summarizes the same dependence in one
    number; this localizes it). Exact BIGINT cell/marginal counts from
    ONE data-sized hash agg (marginals re-aggregate the bounded
    24×12-cell table and broadcast back — the mutual_information
    layout); the lift is one fixed row-local double chain rounded 6dp."""
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.groupBy(
            F.hour("ts").cast("long").alias("hour_of_day"),
            F.least(
                F.floor(F.col("value") / 100.0).cast("long"), F.lit(10).cast("long")
            ).alias("value_bin"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    mx = cells.groupBy("hour_of_day").agg(F.sum("cnt").cast("long").alias("n_x"))
    my = cells.groupBy("value_bin").agg(F.sum("cnt").cast("long").alias("n_y"))
    t = cells.agg(F.sum("cnt").cast("long").alias("n_total"))
    lift = F.round(
        (F.col("cnt").cast("double") * F.col("n_total"))
        / (F.col("n_x").cast("double") * F.col("n_y")),
        6,
    )
    return (
        cells.join(F.broadcast(mx), "hour_of_day")
        .join(F.broadcast(my), "value_bin")
        .crossJoin(F.broadcast(t))
        .select(
            "hour_of_day", "value_bin", "cnt", "n_x", "n_y", "n_total",
            lift.alias("lift"),
        )
    )


@query(
    "agg_boxplot",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    ),
    cum AS (
      SELECT grp, v,
             sum(1) OVER (PARTITION BY grp ORDER BY v
                          RANGE BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c,
             count(*) OVER (PARTITION BY grp) AS t
      FROM base
    ),
    q AS (
      SELECT grp, max(t)::BIGINT AS n,
             min(CASE WHEN c * 100 >= t * 25 THEN v END)::BIGINT AS p25,
             min(CASE WHEN c * 100 >= t * 50 THEN v END)::BIGINT AS p50,
             min(CASE WHEN c * 100 >= t * 75 THEN v END)::BIGINT AS p75
      FROM cum GROUP BY grp
    )
    SELECT q.grp, q.n, q.p25, q.p50, q.p75,
           (q.p75 - q.p25)::BIGINT AS iqr,
           count(CASE WHEN 2 * b.v < 2 * q.p25 - 3 * (q.p75 - q.p25)
                      THEN 1 END)::BIGINT AS n_outliers_lo,
           count(CASE WHEN 2 * b.v > 2 * q.p75 + 3 * (q.p75 - q.p25)
                      THEN 1 END)::BIGINT AS n_outliers_hi
    FROM base b JOIN q ON b.grp = q.grp
    GROUP BY q.grp, q.n, q.p25, q.p50, q.p75
    """,
)
def agg_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16b (r8): per-group boxplot report — exact quartiles, IQR, and
    Tukey-fence outlier counts of order value (cents) per priority, the
    one-table summary a distribution monitor renders: `agg_percentile`
    gives the cut points, `dq_anomaly` flags rows; this closes the loop
    with the whisker counts (how much mass sits OUTSIDE 1.5·IQR). All
    integer-decidable: cents values, the exact rank-selection quartile
    rule (100·cum >= p·total on a RANGE frame — the
    `agg_weighted_percentile` convention), and the 1.5·IQR fences
    doubled into 2·v < 2·p25 − 3·IQR so the half-cent never becomes a
    float boundary.

    Scale: one group-keyed percentile sort + one broadcast-join
    re-scan for the fence counts (quartile table is #groups rows); at
    100 TB swap the first pass to approx_percentile like
    `etl_winsorize`'s documented switch."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    cw = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    tw = Window.partitionBy("grp")
    cum = base.select(
        "grp",
        "v",
        F.sum(F.lit(1)).over(cw).alias("c"),
        F.count(F.lit(1)).over(tw).alias("t"),
    )
    pick = lambda p: F.min(  # noqa: E731
        F.when(F.col("c") * 100 >= F.col("t") * p, F.col("v"))
    ).cast("long")
    q = cum.groupBy("grp").agg(
        F.max("t").cast("long").alias("n"),
        pick(25).alias("p25"),
        pick(50).alias("p50"),
        pick(75).alias("p75"),
    )
    iqr = F.col("p75") - F.col("p25")
    return (
        base.join(F.broadcast(q), "grp")
        .groupBy("grp", "n", "p25", "p50", "p75")
        .agg(
            F.count(
                F.when(2 * F.col("v") < 2 * F.col("p25") - 3 * iqr, 1)
            )
            .cast("long")
            .alias("n_outliers_lo"),
            F.count(
                F.when(2 * F.col("v") > 2 * F.col("p75") + 3 * iqr, 1)
            )
            .cast("long")
            .alias("n_outliers_hi"),
        )
        .select(
            "grp",
            "n",
            "p25",
            "p50",
            "p75",
            iqr.cast("long").alias("iqr"),
            "n_outliers_lo",
            "n_outliers_hi",
        )
    )


@query(
    "agg_pareto_share",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS r
      FROM orders GROUP BY o_custkey
    ),
    cum AS (
      SELECT r,
             sum(1) OVER (ORDER BY r RANGE BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS c,
             count(*) OVER () AS t
      FROM rev
    ),
    v AS (SELECT min(CASE WHEN c * 100 >= t * 90 THEN r END) AS v_star FROM cum)
    SELECT (SELECT count(*) FROM rev)::BIGINT AS n_customers,
           v.v_star::BIGINT AS p90_cents,
           count(CASE WHEN rev.r >= v.v_star THEN 1 END)::BIGINT AS n_top,
           coalesce(sum(CASE WHEN rev.r >= v.v_star THEN rev.r END), 0)::BIGINT
             AS top_revenue_cents,
           sum(rev.r)::BIGINT AS total_revenue_cents,
           round(coalesce(sum(CASE WHEN rev.r >= v.v_star THEN rev.r END), 0)
                   ::DOUBLE / sum(rev.r), 6) AS top_share
    FROM rev, v
    GROUP BY v.v_star
    """,
)
def agg_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16c (r8): Pareto concentration — the revenue share of customers
    at or above the exact 90th percentile of per-customer revenue (the
    80/20 readout every mix/risk review asks for). The quantile itself
    comes from `exact_global_quantile` (operators/aggregates.py):
    multi-level histogram SELECTION — ~3 aggregation scans at B = 4096
    — because the textbook exact form is a global ORDER BY window (a
    single-partition sort, the one shape this engine bans at scale) and
    approx_percentile changes the contract. The selected threshold
    folds back as a LITERAL, so the share pass is one conditional agg;
    every output is exact cents/counts plus the one 6dp share readout.
    The oracle replays the same min{v : 100·cum ≥ 90·n} rank rule in
    window form (fine on DuckDB's single node).

    Scale: one customer-keyed agg (the only data-sized shuffle, feeds
    the selection scans and the share pass via one checkpoint), ~3
    histogram scans of the checkpointed per-customer table, one final
    conditional agg."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        exact_global_quantile,
    )

    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("r")
        )
        .localCheckpoint(eager=True)  # feeds the selection scans + share agg
    )
    v_star = exact_global_quantile(rev, "r", 90)
    if v_star is None:
        # empty input: a typed empty frame keeps the schema contract
        return rev.select(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.lit(None).cast("long").alias("p90_cents"),
            F.lit(0).cast("long").alias("n_top"),
            F.lit(0).cast("long").alias("top_revenue_cents"),
            F.lit(0).cast("long").alias("total_revenue_cents"),
            F.lit(0.0).alias("top_share"),
        ).limit(0)
    top = F.col("r") >= F.lit(v_star)
    return rev.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.lit(v_star).cast("long").alias("p90_cents"),
        F.count(F.when(top, 1)).cast("long").alias("n_top"),
        F.coalesce(F.sum(F.when(top, F.col("r"))), F.lit(0))
        .cast("long")
        .alias("top_revenue_cents"),
        F.sum("r").cast("long").alias("total_revenue_cents"),
        F.round(
            F.coalesce(F.sum(F.when(top, F.col("r"))), F.lit(0)).cast("double")
            / F.sum("r"),
            6,
        ).alias("top_share"),
    )
