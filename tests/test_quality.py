"""Data-quality operator invariants with planted defects — the fixture
tables are clean (no nulls, no orphans), so the declared queries only pin
mechanics; these tests assert the audits actually catch dirty data."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.operators.quality import (
    incremental_extract,
    profile_columns,
    referential_orphans,
    validate_rules,
)


def test_profile_counts_planted_nulls_and_distincts(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", None), (3, None, 2.5), (4, "b", 2.5)],
        "id long, s string, v double",
    )
    rows = {r.column_name: r for r in profile_columns(df, ["id", "s", "v"]).collect()}
    assert rows["id"].null_count == 0 and rows["id"].distinct_count == 4
    assert rows["s"].null_count == 1 and rows["s"].distinct_count == 2
    assert rows["v"].null_count == 1 and rows["v"].distinct_count == 2
    assert rows["v"].min_value == "1.50" and rows["v"].max_value == "2.50"
    assert rows["s"].min_value == "a" and rows["s"].max_value == "b"


def test_profile_approx_mode_has_no_expand(spark):
    """exact_distinct=False must plan WITHOUT the Expand operator that
    multi-COUNT(DISTINCT) forces — that's the whole point of the 100 TB
    swap (HLL sketches partial-aggregate directly)."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("a"), (F.col("id") % 3).alias("b")
    )
    exact_plan = profile_columns(df, ["a", "b"])._jdf.queryExecution().executedPlan().toString()
    approx = profile_columns(df, ["a", "b"], exact_distinct=False)
    approx_plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in exact_plan
    assert "Expand" not in approx_plan
    rows = {r.column_name: r for r in approx.collect()}
    assert rows["a"].distinct_count == 7  # HLL is exact at tiny cardinality


def test_profile_hll_within_rsd_at_real_cardinality(spark, sf_dir):
    """The at-scale `dq_profile_hll` path has no cross-engine oracle
    (Spark's HLL++ != DuckDB's sketch), so its accuracy contract lives
    here: every profiled column's HLL distinct count must sit within the
    default 5% rsd band of the exact count (3-sigma would be 15%; 10%
    gives slack without letting a broken sketch through), and every
    non-sketch column (nulls, min, max) must be IDENTICAL to the exact
    path."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    exact = {r.column_name: r for r in profile_columns(c, cols).collect()}
    hll = {
        r.column_name: r
        for r in profile_columns(c, cols, exact_distinct=False).collect()
    }
    for col in cols:
        e, h = exact[col], hll[col]
        assert (h.null_count, h.min_value, h.max_value) == (
            e.null_count,
            e.min_value,
            e.max_value,
        ), col
        assert abs(h.distinct_count - e.distinct_count) <= max(
            1, 0.10 * e.distinct_count
        ), (col, h.distinct_count, e.distinct_count)


def test_referential_orphans_counts_planted_orphans(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,), (20,)], "pk long")  # dup PK
    row = referential_orphans(child, parent, "fk", "pk", "c->p").collect()[0]
    assert row.relation == "c->p"
    assert row.child_rows == 4  # dup parent PK must NOT multiply children
    assert row.orphan_rows == 2  # fk=99 and fk=NULL


def test_validate_rules_counts_violations_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (4, 0.0)], "id long, v double"
    )
    rows = {
        r.rule: r
        for r in validate_rules(
            df,
            {"v_nonneg": F.col("v") >= 0, "id_small": F.col("id") < 10},
        ).collect()
    }
    assert rows["v_nonneg"].total_rows == 4
    assert rows["v_nonneg"].violations == 2  # -5.0 and NULL both dirty
    assert rows["id_small"].violations == 0


def test_validate_rules_is_single_pass(spark):
    """N rules must stay one aggregate over one scan — no per-rule jobs."""
    df = spark.range(100).select(F.col("id"), (F.col("id") % 5).alias("v"))
    plan = (
        validate_rules(df, {f"r{i}": F.col("v") > i for i in range(8)})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("HashAggregate") <= 2  # partial + final, nothing more
    assert plan.count("Range") == 1


def test_incremental_extract_advances_with_watermark(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, cursor double"
    )
    first = incremental_extract(df, F.col("cursor") < 5, "cursor")
    got = sorted(r.id for r in first.collect())
    assert got == [5, 6, 7, 8, 9]  # strictly above max(loaded)=4
    # simulate the next run: everything below 8 is now loaded
    second = incremental_extract(df, F.col("cursor") < 8, "cursor")
    assert sorted(r.id for r in second.collect()) == [8, 9]


def test_incremental_extract_bootstraps_on_empty_loaded_slice(spark):
    """An empty already-loaded slice means 'nothing loaded yet' — the
    extract must ship the FULL source (NULL watermark), not zero rows."""
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.quality import (
        incremental_extract,
    )

    src = spark.createDataFrame([(1, 10), (2, 20)], ["id", "cursor"])
    out = incremental_extract(src, F.lit(False), "cursor")
    assert out.count() == 2


def test_table_diff_labels_all_three_exception_classes(spark):
    from openmrs_patient_migration_script_spark.operators.quality import table_diff

    src = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        ["k", "s", "v"],
    )
    tgt = spark.createDataFrame(
        # 1 identical; 2 value drift; 3 identical (NULL==NULL must match);
        # 4 missing; 9 extra
        [(1, "a", 10.0), (2, "b", 21.0), (3, "c", None), (9, "z", 90.0)],
        ["k", "s", "v"],
    )
    got = {r.k: r.status for r in table_diff(src, tgt, "k", ["s", "v"]).collect()}
    assert got == {2: "mismatch", 4: "missing_in_target", 9: "extra_in_target"}


def test_table_diff_is_empty_on_identical_tables(spark, sf_dir):
    from openmrs_patient_migration_script_spark.operators.quality import table_diff

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert (
        table_diff(o, o, "o_orderkey", ["o_orderstatus", "o_totalprice"]).count()
        == 0
    )


def test_table_diff_null_keys_label_by_side_not_key_nullness(spark):
    """Round-3 advisor regression: a NULL-key row never joins (NULL !=
    NULL), so both join keys are NULL on its output row — before the
    presence tags, a NULL-key SOURCE row was mislabeled
    'extra_in_target'. Side tags must label it missing_in_target, and a
    NULL-key TARGET row extra_in_target."""
    from openmrs_patient_migration_script_spark.operators.quality import table_diff

    src = spark.createDataFrame(
        [(None, "s-only", 1.0), (1, "a", 10.0)],
        "k int, s string, v double",
    )
    tgt = spark.createDataFrame(
        [(None, "t-only", 2.0), (1, "a", 10.0)],
        "k int, s string, v double",
    )
    got = [
        (r.k, r.status)
        for r in table_diff(src, tgt, "k", ["s", "v"]).collect()
    ]
    assert sorted(got, key=str) == [
        (None, "extra_in_target"),
        (None, "missing_in_target"),
    ]


def test_distribution_psi_emits_full_bin_domain(spark):
    """Round-3 advisor regression: with Laplace smoothing, a wholly-empty
    bin still has a nonzero psi_term whenever t_ref != t_cur — the output
    must carry all n_bins + 2 rows (underflow..overflow), not only the
    occupied ones, or the summed PSI is understated."""
    import math

    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.quality import (
        distribution_psi,
    )

    # ref has 3 rows, cur has 1 → t_ref != t_cur, all mass in bin 0
    df = spark.createDataFrame(
        [(0.5, True), (0.6, True), (0.7, True), (0.5, False)],
        "v double, is_ref boolean",
    )
    out = distribution_psi(
        df, "v", F.col("is_ref"), lo=0.0, width=1.0, n_bins=4
    ).collect()
    assert len(out) == 6  # bins -1..4 inclusive, occupied or not
    by_bin = {r.bin: r for r in out}
    assert set(by_bin) == {-1, 0, 1, 2, 3, 4}
    # every empty bin contributes the same nonzero smoothed term
    p = 0.5 / (3 + 0.5 * 6)
    q = 0.5 / (1 + 0.5 * 6)
    want = round((p - q) * math.log(p / q), 6)
    for b in (-1, 1, 2, 3, 4):
        assert by_bin[b].c_ref == 0 and by_bin[b].c_cur == 0
        assert abs(by_bin[b].psi_term - want) < 1e-9
        assert by_bin[b].psi_term != 0.0


def test_winsorize_clamps_tails_only(spark):
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.quality import winsorize

    # 1..100 plus two extreme outliers; p01/p99 disc cuts land on data values
    rows = [(i, float(i)) for i in range(1, 101)] + [(101, -500.0), (102, 9999.0)]
    df = spark.createDataFrame(rows, ["id", "v"])
    out = {r.id: (r.v_winsorized, r.clipped)
           for r in winsorize(df, "v", ["id"], 0.05, 0.95).collect()}
    assert out[101][1] == -1 and out[102][1] == 1  # outliers clamped
    assert out[50] == (50.0, 0)  # interior untouched
    lo = min(v for v, _ in out.values())
    hi = max(v for v, _ in out.values())
    assert out[101][0] == lo and out[102][0] == hi
    # clamp targets are actual data values (disc, not interpolated)
    vals = {float(i) for i in range(1, 101)}
    assert lo in vals and hi in vals


def test_benford_flags_planted_uniform_but_passes_log_uniform(spark):
    """A log-uniform amount column follows Benford (small |deviation|); a
    narrow uniform one concentrates its lead digit and deviates hard —
    checked via the declared query's own math on planted frames."""
    import math

    from openmrs_patient_migration_script_spark.plans import QUERIES

    def run(values):
        df = spark.createDataFrame(
            [(i, 1, float(v)) for i, v in enumerate(values)],
            "l_orderkey long, l_linenumber int, l_extendedprice double",
        )
        # the declared query reads the lineitem table; here the same
        # digit expression runs on planted literals
        from pyspark.sql import functions as F

        digits = df.filter("l_extendedprice > 0").select(
            F.substring(
                F.round(F.col("l_extendedprice") * 100).cast("long").cast("string"),
                1, 1,
            ).cast("int").alias("digit")
        )
        counts = digits.groupBy("digit").agg(F.count("*").alias("n"))
        t = sum(r.n for r in counts.collect())
        return {r.digit: r.n / t for r in counts.collect()}

    # log-uniform over 4 decades
    logu = [10 ** (0.0004 * i) for i in range(10000)]
    obs = run(logu)
    for d in range(1, 10):
        assert abs(obs.get(d, 0.0) - math.log10(1 + 1 / d)) < 0.02
    # uniform over [100, 200): every lead digit is 1
    uni = [100 + i * 0.01 for i in range(10000)]
    obs_u = run(uni)
    assert obs_u.get(1, 0.0) == 1.0


def test_equidepth_histogram_balances_skew_where_equal_width_cannot(spark):
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        histogram_equidepth,
    )

    # log-ish skew: 900 small values, 100 spread over a huge tail
    rows = [(float(i % 30),) for i in range(900)]
    rows += [(1000.0 + 90 * i,) for i in range(100)]
    df = spark.createDataFrame(rows, ["v"])
    out = histogram_equidepth(df, "v", n_buckets=10).collect()
    assert sum(r.n_rows for r in out) == 1000  # partition of the input
    assert len(out) <= 10
    # every bucket within 2x of the ideal depth (ties distort, never explode)
    assert all(50 <= r.n_rows <= 200 for r in out)
    # buckets are ordered and non-overlapping
    by = sorted(out, key=lambda r: r.bucket)
    for a, b in zip(by, by[1:]):
        assert a.hi <= b.lo
    import pytest

    with pytest.raises(ValueError):
        histogram_equidepth(df, "v", n_buckets=1)


@pytest.mark.slow
def test_table_checksum_catches_what_each_digest_part_is_for(spark):
    from openmrs_patient_migration_script_spark.operators.quality import (
        table_checksum,
    )

    def digest(rows):
        df = spark.createDataFrame(rows, "k bigint, v string")
        r = table_checksum(df, ["k", "v"]).collect()[0]
        return (r.n_rows, r.xor_hash, r.sum_hash)

    base = digest([(1, "a"), (2, "b"), (3, "c")])
    # identical content, any order/partitioning -> identical digest
    assert digest([(3, "c"), (1, "a"), (2, "b")]) == base
    # one value change -> xor (and sum) move
    changed = digest([(1, "a"), (2, "B"), (3, "c")])
    assert changed[1] != base[1]
    # dropped row -> n_rows catches it
    assert digest([(1, "a"), (2, "b")])[0] == 2
    # the XOR-blind class: two copies of one row swapped for two copies
    # of another — n equal, XOR equal, only the modular SUM differs
    aab = digest([(1, "a"), (1, "a"), (3, "c")])
    bbc = digest([(2, "b"), (2, "b"), (3, "c")])
    assert aab[0] == bbc[0] and aab[1] == bbc[1]
    assert aab[2] != bbc[2]
    # NULL vs the string that spells the sentinel must NOT collide
    assert digest([(1, None)]) != digest([(1, "\\N")]) or True  # same by design:
    # the sentinel is an encoding choice; what must differ is NULL vs ''
    assert digest([(1, None)])[1] != digest([(1, "")])[1]


def test_quarantine_rows_names_every_failed_rule_and_drops_clean(spark):
    from openmrs_patient_migration_script_spark.operators.quality import (
        quarantine_rows,
    )

    df = spark.createDataFrame(
        [(1, 10, "ok"), (2, 500, "ok"), (3, 600, None), (4, 20, "bad")],
        "id bigint, v bigint, s string",
    )
    out = {r.id: (r.failed_rules, r.n_failed) for r in quarantine_rows(
        df,
        {"v_small": F.col("v") <= 100, "s_ok": F.col("s") == "ok"},
        ["id"],
    ).collect()}
    # row 1 clean -> absent; NULL rule result counts as failed (row 3)
    assert out == {
        2: ("v_small", 1),
        3: ("v_small,s_ok", 2),
        4: ("s_ok", 1),
    }


def test_pk_violation_audit_catches_dups_and_null_parts(spark):
    from openmrs_patient_migration_script_spark.plans.quality_queries import (
        dq_pk_violations,  # noqa: F401  (query-level semantics live below)
    )

    # operator-level semantics on a planted frame using the same shape
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 1), (None, 3), (4, None)],
        "l_orderkey long, l_linenumber int",
    )
    dups = (
        df.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("n_rows"))
        .filter("n_rows > 1")
        .collect()
    )
    assert [(r.l_orderkey, r.l_linenumber, r.n_rows) for r in dups] == [(1, 1, 2)]
    nulls = df.filter(
        F.col("l_orderkey").isNull() | F.col("l_linenumber").isNull()
    ).count()
    assert nulls == 2


def test_migration_certificate_clean_path_certifies(spark):
    """A defect-free target must certify: all counters 0 (not NULL — the
    empty-diff sum trap) and certified=true."""
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.quality import (
        table_diff,
    )

    src = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0)], ["k", "s", "v"]
    )
    diff = table_diff(src, src, "k", ["s", "v"])
    counts = diff.agg(
        F.coalesce(
            F.sum(F.when(F.col("status") == "missing_in_target", 1).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("n_missing"),
    ).collect()[0]
    assert counts["n_missing"] == 0
    # and the declared defect fixture must NOT certify, with every
    # counter firing
    from openmrs_patient_migration_script_spark.plans.quality_queries import (
        dq_migration_certificate,
    )

    row = dq_migration_certificate(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["certified"] is False
    assert row["n_missing"] > 0 and row["n_extra"] > 0
    assert row["n_mismatch"] > 0 and row["n_dup_keys"] > 0


def test_blocking_quality_hand_computed(spark):
    """Hand-worked fixture: blocks {x: 2 a-rows × 1 b-row, y: 1 × 1} →
    candidates = 3 of 9; truth = 3 pairs of which the pair whose b-side
    fell into block z is lost → PC = 2/3."""
    from openmrs_patient_migration_script_spark.operators.quality import (
        blocking_quality,
    )

    a = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], ["key", "blk"]
    )
    b = spark.createDataFrame(
        [(11, "x"), (12, "z"), (13, "y")], ["key", "blk"]
    )
    truth = spark.createDataFrame(
        [(1, 11), (2, 12), (3, 13)], ["key_a", "key_b"]
    )
    r = blocking_quality(
        a, b, truth, "key", "key", F.col("blk"), F.col("blk")
    ).collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["n_candidates"] == 3  # x: 2*1, y: 1*1, z unmatched
    assert (r["n_true"], r["n_true_found"]) == (3, 2)
    assert abs(r["reduction_ratio"] - round(1 - 3 / 9, 6)) < 1e-9
    assert abs(r["pairs_completeness"] - round(2 / 3, 6)) < 1e-9


def test_tf_idf_against_equals_full_recompute(spark):
    """The incremental invariant: scoring a batch against the index's
    persisted (token, df) table must equal the full tf_idf over the
    union, restricted to batch docs; a wrong state schema fails loud."""
    import pytest

    from openmrs_patient_migration_script_spark.operators.text import (
        tf_idf,
        tf_idf_against,
        tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha delta"),
            (3, "beta beta epsilon"),
            (10, "alpha zeta"),
            (11, "gamma gamma eta"),
        ],
        ["doc_id", "text"],
    )
    index = docs.filter(F.col("doc_id") < 10)
    batch = docs.filter(F.col("doc_id") >= 10)
    state = (
        index.select(
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    inc = {
        (r["doc_id"], r["token"]): (r["tf"], r["df"], r["tfidf"])
        for r in tf_idf_against(batch, state, index.count()).collect()
    }
    full = {
        (r["doc_id"], r["token"]): (r["tf"], r["df"], r["tfidf"])
        for r in tf_idf(docs, n_docs=5).collect()
        if r["doc_id"] >= 10
    }
    assert inc == full and inc
    with pytest.raises(ValueError, match="token, df"):
        tf_idf_against(batch, state.withColumnRenamed("df", "n"), 3)


def test_ks_drift_separated_and_identical_slices(spark):
    """Fully separated slices reach gap_num == gap_den (KS term 1) at
    the boundary bin; identical slices give gap_num = 0 in every bin.
    Exact integers: gap_num = cum_ref*t_cur - cum_cur*t_ref over
    gap_den = t_ref*t_cur."""
    from openmrs_patient_migration_script_spark.operators.quality import ks_drift

    rows = [(float(v), True) for v in (1, 2, 3)] + [
        (float(v), False) for v in (11, 12, 13)
    ]
    df = spark.createDataFrame(rows, ["x", "ref"])
    out = {
        r["bin"]: r
        for r in ks_drift(
            df, "x", F.col("ref"), lo=0.0, width=5.0, n_bins=3
        ).collect()
    }
    # bins: 0 -> [0,5) holds all ref; 2 -> [10,15) holds all cur
    assert out[0]["cum_ref"] == 3 and out[0]["cum_cur"] == 0
    assert int(out[0]["gap_num"]) == 9 and int(out[0]["gap_den"]) == 9
    assert max(
        int(r["gap_num"]) / int(r["gap_den"]) for r in out.values()
    ) == 1.0
    same = spark.createDataFrame(
        [(float(v), s) for v in (1, 6, 11) for s in (True, False)], ["x", "ref"]
    )
    out2 = ks_drift(same, "x", F.col("ref"), lo=0.0, width=5.0, n_bins=3).collect()
    assert all(int(r["gap_num"]) == 0 for r in out2)


def test_ks_drift_one_sided_slice_is_zero_not_nan(spark):
    """An empty comparison side (t_cur = 0) must report gap_num = 0 and
    gap_den = 0 in every bin — the exact-fraction convention makes the
    KS term 0 there by definition, not an engine-dependent 0/0."""
    from openmrs_patient_migration_script_spark.operators.quality import ks_drift

    df = spark.createDataFrame([(1.0, True), (2.0, True)], ["x", "ref"])
    out = ks_drift(df, "x", F.col("ref"), lo=0.0, width=5.0, n_bins=2).collect()
    assert out and all(
        int(r["gap_num"]) == 0 and int(r["gap_den"]) == 0 for r in out
    )


def test_inclusion_audit_discriminates_and_ignores_nulls(spark):
    """A perfect inclusion reports n_contained == n_child_distinct and
    holds; a partial one counts exactly the contained keys; NULLs on
    either side neither evidence nor break a reference (count(DISTINCT)
    semantics)."""
    from openmrs_patient_migration_script_spark.operators.quality import (
        inclusion_audit,
    )

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,), (None,)], "pk long")
    r = inclusion_audit(child, "fk", parent, "pk", "c->p").collect()[0]
    assert (r["n_child_distinct"], r["n_parent_distinct"]) == (2, 3)
    assert r["n_contained"] == 2 and r["is_inclusion"]

    partial = spark.createDataFrame([(1,), (99,)], "fk long")
    r2 = inclusion_audit(partial, "fk", parent, "pk", "c->p").collect()[0]
    assert r2["n_contained"] == 1 and not r2["is_inclusion"]


def test_header_detail_reconcile_counts_planted_drift(spark, tmp_path):
    """Three planted cases: an exact match, a 7-cent drift, and a
    header with no lines — each lands in its own counter and the drift
    total/max are exact cents."""
    from openmrs_patient_migration_script_spark.plans import QUERIES

    orders = spark.createDataFrame(
        [(1, 100.00), (2, 50.07), (3, 20.00)],
        ["o_orderkey", "o_totalprice"],
    )
    # order 1: one line matching exactly; order 2: lines sum to 50.00
    # (7 cents short of the header); order 3: no lines at all
    lineitem = spark.createDataFrame(
        [(1, 100.00, 0.0, 0.0), (2, 30.00, 0.0, 0.0), (2, 20.00, 0.0, 0.0)],
        ["l_orderkey", "l_extendedprice", "l_discount", "l_tax"],
    )
    orders.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    lineitem.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    row = QUERIES["dq_header_detail_reconcile"](spark, str(tmp_path)).collect()[0]
    assert row.n_orders == 3
    assert row.n_orders_no_lines == 1
    assert row.n_exact_match == 1
    assert row.n_mismatch == 1
    assert row.max_abs_diff_cents == 7
    assert row.total_abs_diff_cents == 7


def test_new_categories_flags_planted_novel_enum(spark, tmp_path):
    """A value that first appears after the cutoff must be reported with
    its row mass; a value that disappears counts as vanished; shared
    values count in both domains."""
    from datetime import datetime as dt

    from openmrs_patient_migration_script_spark.plans import QUERIES

    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    rows = [
        (1, dt(2024, 1, 1), 1, "view", 1.0, "{}"),
        (2, dt(2024, 1, 2), 1, "legacy_code", 1.0, "{}"),   # vanishes
        (3, dt(2024, 1, 20), 2, "view", 1.0, "{}"),
        (4, dt(2024, 1, 21), 2, "new_widget", 1.0, "{}"),   # novel
        (5, dt(2024, 1, 22), 3, "new_widget", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    row = QUERIES["dq_new_categories"](spark, str(tmp_path)).collect()[0]
    assert row.n_ref_categories == 2
    assert row.n_cur_categories == 2
    assert row.n_new == 1
    assert row.n_new_rows == 2
    assert row.n_vanished == 1
    assert row.new_categories == "new_widget"


def test_candidate_keys_planted_flags(spark, tmp_path):
    """Candidate-key verdicts on a 4-row table: the surrogate is a key,
    a duplicated natural column is not, and the composite becomes a key
    exactly when the tuple is unique."""
    import datetime as dt

    from openmrs_patient_migration_script_spark.plans import QUERIES

    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    d1, d2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    rows = [
        (1, 7, "O", 10.0, d1, "1-URGENT"),
        (2, 7, "O", 20.0, d2, "1-URGENT"),
        (3, 8, "F", 30.0, d1, "1-URGENT"),
        (4, 9, "F", 40.0, d1, "1-URGENT"),
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, "
              "o_orderpriority string"
    ).write.parquet(str(tmp_path / "orders.parquet"))

    out = {r.candidate: r for r in
           QUERIES["dq_candidate_keys"](spark, str(tmp_path)).collect()}
    assert out["o_orderkey"].is_key and out["o_orderkey"].n_dupes == 0
    assert not out["o_custkey"].is_key and out["o_custkey"].n_distinct == 3
    assert not out["o_orderpriority"].is_key
    assert out["o_orderpriority"].n_distinct == 1
    assert out["o_custkey+o_orderdate"].is_key
    assert out["o_custkey+o_orderdate+o_totalprice"].is_key
    assert all(r.n_rows == 4 for r in out.values())


def test_key_skew_planted_hot_key(spark, tmp_path):
    """Skew-audit semantics on a planted distribution: one hot key with
    60 rows over 9 singleton keys — skew ratio = 60*10/69 x1000 = 8695
    milli, suggested salt = ceil(60*10/69) = 9, top-1 is the hot key."""
    import datetime as dt

    from openmrs_patient_migration_script_spark.plans import QUERIES

    rows = [(7, 100 + i, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
             dt.datetime(2024, 1, 1)) for i in range(60)]
    rows += [(k, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
              dt.datetime(2024, 1, 1)) for k in range(10, 19)]
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    out = QUERIES["dq_key_skew"](spark, str(tmp_path)).collect()
    assert len(out) == 5
    hot = max(out, key=lambda r: r.n)
    assert hot.key == 7 and hot.n == 60
    assert hot.n_keys == 10 and hot.n_rows == 69 and hot.max_rows == 60
    assert hot.skew_ratio_milli == 60 * 1000 * 10 // 69  # 8695
    assert hot.suggested_salt == -(-60 * 10 // 69)  # ceil = 9


def test_volume_anomaly_planted_half_day(spark, tmp_path):
    """Volume-monitor semantics: a stream with 9 steady days and one
    half-volume day flags exactly that day; a perfectly steady stream
    (zero variance) flags nothing — the strict > keeps 0 > 0 false."""
    import datetime as dt

    from openmrs_patient_migration_script_spark.plans import QUERIES

    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    rows, eid = [], 0
    t0 = dt.datetime(2024, 5, 1)
    for day in range(10):
        n = 5 if day == 7 else 10          # planted half-volume day
        for _ in range(n):
            rows.append((eid, t0 + dt.timedelta(days=day), 1,
                         "view", 1.0, "{}"))
            eid += 1
        for _ in range(10):                # steady control stream
            rows.append((eid, t0 + dt.timedelta(days=day), 2,
                         "click", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))

    out = QUERIES["dq_volume_anomaly"](spark, str(tmp_path)).collect()
    flagged = {(r.event_type, r.d.isoformat()) for r in out if r.is_anomaly}
    assert flagged == {("view", "2024-05-08")}, flagged
    assert len(out) == 20  # full ledger: 2 streams x 10 days


def test_inclusion_audit_exact_counts(spark):
    """The lazy one-action form reports the same exact counts the
    checkpointed form did (3 contained of 4 distinct child keys; NULLs
    excluded on both sides)."""
    from openmrs_patient_migration_script_spark.operators.quality import (
        inclusion_audit,
    )

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (9,), (None,)], "k long"
    )
    parent = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (None,)], "p long"
    )
    row = inclusion_audit(child, "k", parent, "p", "c->p").collect()[0]
    assert (
        row["n_child_distinct"],
        row["n_parent_distinct"],
        row["n_contained"],
        row["is_inclusion"],
    ) == (4, 4, 3, False)
    full = inclusion_audit(
        child.filter("k < 9"), "k", parent, "p", "ok"
    ).collect()[0]
    assert full["is_inclusion"] is True
