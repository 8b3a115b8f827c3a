"""Tests for the pipeline-analytics surface: deterministic hash sampling,
event funnels, n-grams, grouping sets, array HOFs (plans/analytics_queries,
operators/sampling, operators/text::ngram_counts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.operators.sampling import (
    hash_bucket,
    stratified_hash_sample,
)
from openmrs_patient_migration_script_spark.operators.text import ngram_counts
from openmrs_patient_migration_script_spark.plans import QUERIES
import pytest


def test_hash_sample_is_deterministic_and_partition_invariant(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    rates = {"en": 500, "de": 250, "es": 250, "fr": 250, "zh": 100}
    a = {r.doc_id for r in stratified_hash_sample(docs, "doc_id", "lang", rates).collect()}
    # same input repartitioned arbitrarily -> identical selection
    b = {
        r.doc_id
        for r in stratified_hash_sample(
            docs.repartition(13), "doc_id", "lang", rates
        ).collect()
    }
    assert a == b and a, "hash sample must be independent of partition layout"


def test_hash_sample_rate_is_close_to_nominal(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    kept = stratified_hash_sample(docs, "doc_id", "lang", {"en": 500}).count()
    total_en = docs.filter(F.col("lang") == "en").count()
    assert total_en > 0
    # md5 buckets are uniform; at n~100 the binomial spread is wide, so
    # assert a loose band around 50%
    assert 0.25 <= kept / total_en <= 0.75


def test_unknown_stratum_defaults_to_dropped(spark):
    df = spark.createDataFrame([(1, "xx"), (2, "xx")], "k long, lang string")
    assert stratified_hash_sample(df, "k", "lang", {"en": 500}).count() == 0


def test_funnel_stage_counts_are_monotonic(spark, sf_dir):
    row = QUERIES["funnel_events"](spark, sf_dir).collect()[0]
    assert row.n_users >= row.n_viewed >= row.n_clicked >= row.n_purchased
    assert row.n_users > 0


def test_ngram_counts_on_planted_corpus(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "solo")], "doc_id long, text string"
    )
    got = {r.ngram: r.cnt for r in ngram_counts(df, n=2).collect()}
    assert got == {"a b": 2, "b c": 1}
    tri = {r.ngram: r.cnt for r in ngram_counts(df, n=3).collect()}
    assert tri == {"a b c": 1}


def test_hash_bucket_matches_duckdb(spark, duck):
    df = spark.range(50).select(
        F.col("id"), hash_bucket(F.col("id")).alias("bucket")
    )
    got = {r.id: r.bucket for r in df.collect()}
    want = dict(
        duck.sql(
            "SELECT r AS id, ('0x' || substr(md5(r::VARCHAR), 1, 8))::BIGINT % 1000 "
            "FROM range(50) t(r)"
        ).fetchall()
    )
    assert got == want


def test_retention_cohort_shape(spark, sf_dir):
    rows = QUERIES["retention_cohort"](spark, sf_dir).collect()
    assert rows, "fixture has signup events, so cohorts must exist"
    assert all(r.week_offset >= 0 and r.n_active > 0 for r in rows)
    # week-0 activity exists for at least one cohort (the signup event itself)
    assert any(r.week_offset == 0 for r in rows)


def test_hash_split_partitions_every_row_once(spark, sf_dir):
    from openmrs_patient_migration_script_spark.operators.sampling import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    out = hash_split(docs, "doc_id", {"train": 900, "val": 50, "test": 50})
    counts = {r.split: r.cnt for r in out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert sum(counts.values()) == docs.count(), "every row in exactly one split"
    assert counts.get("train", 0) > counts.get("val", 0)


def test_cap_per_group_is_deterministic_and_bounded(spark, sf_dir):
    from openmrs_patient_migration_script_spark.operators.sampling import cap_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    a = {tuple(r) for r in cap_per_group(docs, "source", "doc_id", 5).collect()}
    b = {tuple(r) for r in cap_per_group(docs.repartition(7), "source", "doc_id", 5).collect()}
    assert a == b, "kept set must not depend on partitioning"
    per_src = {}
    for _, src in a:
        per_src[src] = per_src.get(src, 0) + 1
    assert max(per_src.values()) <= 5


def test_temperature_resample_rebalances_toward_uniform(spark):
    from openmrs_patient_migration_script_spark.operators.sampling import (
        temperature_resample,
    )

    # dominant stratum 'en' (900 rows) vs low-resource 'sw' (100 rows)
    rows = [(i, "en" if i < 900 else "sw") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = temperature_resample(df, "lang", "doc_id", alpha=0.5, target_frac=0.5)
    kept = out.groupBy("lang").count().collect()
    frac = {r.lang: r["count"] / (900 if r.lang == "en" else 100) for r in kept}
    # alpha<1 must keep a LARGER fraction of the low-resource stratum
    assert frac["sw"] > frac["en"]
    # never up-sample: kept <= stratum size, and fractions <= 1
    assert all(f <= 1.0 for f in frac.values())
    # content-addressed: re-running yields the identical kept set
    again = temperature_resample(df, "lang", "doc_id", alpha=0.5, target_frac=0.5)
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in again.collect()}
    # target scale: total kept within a few % of half the corpus
    total = sum(r["count"] for r in kept)
    assert 400 <= total <= 600


def test_hash_split_remainder_goes_to_holdout_not_null(spark):
    from openmrs_patient_migration_script_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(500)], ["k"])
    out = hash_split(df, "k", {"train": 500, "val": 100})  # 400 buckets spare
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert None not in counts
    assert counts.get("holdout", 0) > 0
    assert sum(counts.values()) == 500


def test_kll_quantile_rollup_bounds_rank_error_and_roundtrips(spark, sf_dir):
    """Per-slice KLL sketches merged to a coarser slice must produce
    quantiles whose RANK (position in the exact sorted data) is within
    the k=200 sketch's rank-error bound of the requested rank — KLL
    guarantees rank accuracy, not value accuracy. Sketches must survive
    a parquet roundtrip (the persist-then-merge pattern)."""
    import tempfile

    from openmrs_patient_migration_script_spark.operators.sketches import (
        quantile_sketch_slices,
        rollup_quantiles,
    )
    from openmrs_patient_migration_script_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    per_slice = quantile_sketch_slices(
        li, ["l_returnflag", "l_linestatus"], "l_extendedprice"
    )
    rolled = rollup_quantiles(per_slice, ["l_returnflag"], [0.5, 0.95])

    vals_by_flag = {}
    for r in li.select("l_returnflag", "l_extendedprice").collect():
        vals_by_flag.setdefault(r["l_returnflag"], []).append(
            float(r["l_extendedprice"])
        )
    rows = rolled.collect()
    assert len(rows) >= 2
    import bisect

    for r in rows:
        vals = sorted(vals_by_flag[r["l_returnflag"]])
        n = len(vals)
        for p, col in [(0.5, "q_0_5"), (0.95, "q_0_95")]:
            got = r[col]
            rank = bisect.bisect_right(vals, got) / n
            assert abs(rank - p) <= 0.05, (r["l_returnflag"], p, got, rank)

    # roundtripped sketches must still answer within the rank bound —
    # NOT bit-identically: KLL compaction is randomized, so a re-merge
    # after the roundtrip may legally pick different retained values
    with tempfile.TemporaryDirectory() as d:
        per_slice.write.mode("overwrite").parquet(d)
        reread = rollup_quantiles(
            spark.read.parquet(d), ["l_returnflag"], [0.5, 0.95]
        ).collect()
        for r in reread:
            vals = sorted(vals_by_flag[r["l_returnflag"]])
            n = len(vals)
            for p, col in [(0.5, "q_0_5"), (0.95, "q_0_95")]:
                rank = bisect.bisect_right(vals, r[col]) / n
                assert abs(rank - p) <= 0.05, (r["l_returnflag"], p, rank)


def test_theta_sketch_set_algebra(spark, sf_dir):
    """Theta sketches answer the audience-overlap algebra HLL cannot:
    |A|, |B|, union, intersection, difference — checked against exact
    set arithmetic on the fixture (user ids per event type)."""
    from openmrs_patient_migration_script_spark.operators.sketches import (
        theta_algebra,
        theta_sketch_slices,
    )
    from openmrs_patient_migration_script_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    sk = theta_sketch_slices(ev, ["event_type"], "user_id")
    got = theta_algebra(sk, "event_type", "view", "purchase").first().asDict()

    rows = ev.select("event_type", "user_id").collect()
    A = {r["user_id"] for r in rows if r["event_type"] == "view"}
    B = {r["user_id"] for r in rows if r["event_type"] == "purchase"}
    want = {
        "n_a": len(A),
        "n_b": len(B),
        "n_union": len(A | B),
        "n_intersection": len(A & B),
        "n_difference": len(A - B),
    }
    for k, exact in want.items():
        assert abs(got[k] - exact) <= max(2, 0.05 * exact), (k, got[k], exact)


def test_theta_rollup_union_preserves_resolution(spark):
    """Regression for the union-gadget downsampling trap: merging
    exact-mode lg_k=16 theta sketches through a DEFAULT-sized union
    (lg_k=12) silently samples 20k distinct keys back to ~4096 entries.
    rollup_theta must size the union to the input sketches' lg_k so the
    rolled-up count stays exact below 2^16; the bitmap rollup must be
    exact at ANY cardinality by construction."""
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.sketches import (
        bitmap_slices,
        rollup_bitmap_distinct,
        rollup_theta,
        theta_sketch_slices,
    )

    n = 20_000  # > 2^12 union default, < 2^16 sketch capacity
    df = spark.range(n).select(
        (F.col("id") % 4).alias("fine"),
        F.lit("all").alias("coarse"),
        F.col("id").alias("k"),
    )
    fine = theta_sketch_slices(df, ["coarse", "fine"], "k", lg_k=16)
    rolled = rollup_theta(fine, ["coarse"], lg_k=16).collect()
    assert rolled[0]["distinct_estimate"] == n

    bm = bitmap_slices(df, ["coarse", "fine"], "k")
    exact = rollup_bitmap_distinct(bm, ["coarse"]).collect()
    assert exact[0]["distinct_exact"] == n


def test_kll_rollup_merge_stays_exact_below_capacity(spark):
    """Merging uncompacted KLL sketches whose combined size stays below k
    yields EXACT order statistics (the declared sketch_quantile_rollup
    contract at harness scale): p50/p95 equal the sorted-list answers."""
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.sketches import (
        quantile_sketch_slices,
        rollup_quantiles,
    )

    vals = [float(v) for v in range(1, 1202)]  # 1..1201
    df = spark.createDataFrame(
        [(i % 3, v) for i, v in enumerate(vals)], "fine int, v double"
    ).withColumn("coarse", F.lit(0))
    fine = quantile_sketch_slices(df, ["coarse", "fine"], "v", k=4096)
    out = rollup_quantiles(fine, ["coarse"], [0.5, 0.95]).collect()[0]
    s = sorted(vals)
    import math

    def disc(q):  # smallest item whose inclusive rank >= q*n
        return s[max(0, math.ceil(q * len(s)) - 1)]

    assert out["q_0_5"] == disc(0.5)
    assert out["q_0_95"] == disc(0.95)


def test_group_ols_recovers_planted_line_and_drops_degenerates(spark):
    from openmrs_patient_migration_script_spark.operators.aggregates import group_ols

    rows = (
        # group "a": exactly y = 2.5x + 3 at x = 0..4 -> slope/intercept exact
        [("a", x, 2.5 * x + 3.0) for x in range(5)]
        # group "b": single point -> dropped (n < 2)
        + [("b", 7, 1.0)]
        # group "c": zero x-variance -> dropped (denominator exactly 0)
        + [("c", 4, 1.0), ("c", 4, 9.0)]
    )
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    out = {
        r.g: r
        for r in group_ols(
            df, ["g"], F.col("x").cast("long"), F.col("y").cast("decimal(18,2)")
        ).collect()
    }
    assert set(out) == {"a"}, "degenerate groups must be dropped in-plan"
    assert out["a"].n == 5
    assert out["a"].slope == 2.5
    assert out["a"].intercept == 3.0


def test_group_ols_is_partition_order_invariant(spark, sf_dir):
    from openmrs_patient_migration_script_spark.operators.aggregates import group_ols

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    args = (
        ["o_custkey"],
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        ).cast("long"),
        F.col("o_totalprice").cast("decimal(18,2)"),
    )
    base = sorted(map(tuple, group_ols(o, *args).collect()))
    shuffled = sorted(map(tuple, group_ols(o.repartition(17), *args).collect()))
    assert base == shuffled and base, (
        "exact sufficient statistics must make OLS partition-order free"
    )


def test_group_corr_recovers_planted_correlations(spark):
    from openmrs_patient_migration_script_spark.operators.aggregates import group_corr

    rows = (
        # "pos": y = 3x exactly -> corr 1.0; "neg": y = -2x -> corr -1.0
        [("pos", x, 3 * x) for x in range(6)]
        + [("neg", x, -2 * x) for x in range(6)]
        # "flat": zero y-variance -> dropped
        + [("flat", x, 5) for x in range(4)]
        # "one": single point -> dropped
        + [("one", 1, 1)]
    )
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    out = {
        r.g: r.corr
        for r in group_corr(
            df, ["g"], F.col("x").cast("long"), F.col("y").cast("long")
        ).collect()
    }
    assert out == {"pos": 1.0, "neg": -1.0}


def test_group_corr_is_partition_order_invariant(spark, sf_dir):
    from openmrs_patient_migration_script_spark.operators.aggregates import group_corr

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    args = (
        ["l_suppkey"],
        F.round(F.col("l_quantity") * 100).cast("long"),
        F.round(F.col("l_extendedprice") * 100).cast("long"),
    )
    base = sorted(map(tuple, group_corr(li, *args).collect()))
    shuffled = sorted(map(tuple, group_corr(li.repartition(17), *args).collect()))
    assert base == shuffled and base


def test_pmi_ranks_planted_collocation_highest(spark):
    from openmrs_patient_migration_script_spark.operators.text import pmi_collocations

    # "new york" always co-occurs; filler tokens pair randomly
    docs = spark.createDataFrame(
        [(i, f"new york t{i % 3} t{(i + 1) % 3} u{i % 2}") for i in range(30)],
        ["doc_id", "text"],
    )
    out = pmi_collocations(docs, min_count=5).collect()
    assert out, "planted corpus must produce collocations"
    top = max(out, key=lambda r: r.pmi)
    assert (top.w1, top.w2) == ("new", "york")


def test_bm25_rewards_matching_terms_and_shorter_docs(spark):
    from openmrs_patient_migration_script_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark join"),                       # 1 query term, short
            (2, "spark shuffle spark join"),         # both terms, more hits
            (3, "spark " + "filler " * 50),          # 1 hit, long doc
            (4, "nothing relevant here"),            # no hits -> absent
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in bm25_scores(docs, ["spark", "shuffle"]).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2].bm25 > out[1].bm25, "more matching terms must score higher"
    assert out[1].bm25 > out[3].bm25, "length normalization must penalize padding"
    assert out[2].n_terms == 2 and out[1].n_terms == 1 and out[3].n_terms == 1


def test_events_entropy_bounds(spark, sf_dir):
    """H = 0 for single-type users, ln(n_types) for uniform ones — checked
    on the declared query's own output plus a planted-literal frame."""
    import math

    from openmrs_patient_migration_script_spark.plans import QUERIES

    out = QUERIES["events_entropy"](spark, sf_dir).collect()
    assert out
    for r in out:
        assert -1e-9 <= r.entropy <= math.log(r.n_types) + 1e-9
        if r.n_types == 1:
            assert r.entropy == 0.0


def test_bigram_surprisal_flags_word_salad(spark):
    """Tokens that are all individually common but shuffled into unseen
    pairings must out-score the documents whose bigrams repeat — the
    signal the unigram filter cannot see."""
    from openmrs_patient_migration_script_spark.operators.text import (
        bigram_surprisal,
        unigram_surprisal,
    )

    normal = "the cat sat on the mat"
    rows = [(i, normal) for i in range(9)]
    rows.append((99, "mat the on sat cat the"))  # same unigrams, novel bigrams
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    bi = {r.doc_id: r.avg_surprisal for r in bigram_surprisal(df).collect()}
    un = {r.doc_id: r.avg_surprisal for r in unigram_surprisal(df).collect()}
    assert bi[99] > bi[0] * 1.5, (bi[99], bi[0])
    assert abs(un[99] - un[0]) < 1e-9  # unigram filter is blind to the scramble


def test_mixture_repeat_hits_target_mix_and_is_content_addressed(spark):
    from openmrs_patient_migration_script_spark.operators.sampling import (
        mixture_repeat,
    )

    rows = [(i, "big" if i < 800 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    # equal target weights: big (800 rows) downsamples to ~500,
    # small (200 rows) repeats ~2.5x to ~500
    out = mixture_repeat(df, "lang", "doc_id", {"big": 1.0, "small": 1.0})
    counts = {r.lang: r.n for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["big"] - 500) < 50
    assert abs(counts["small"] - 500) < 50
    # the small stratum actually repeats: epochs 0,1 complete, epoch 2 partial
    epochs = {r.epoch for r in out.filter(F.col("lang") == "small").collect()}
    assert {0, 1} <= epochs <= {0, 1, 2}
    # a zero-weight / unlisted stratum is dropped entirely
    df2 = df.union(spark.createDataFrame([(9999, "other")], ["doc_id", "lang"]))
    out2 = mixture_repeat(df2, "lang", "doc_id", {"big": 1.0, "small": 1.0})
    assert out2.filter(F.col("lang") == "other").count() == 0
    # content-addressed: identical output under repartitioning
    a = sorted(map(tuple, out.collect()))
    b = sorted(
        map(
            tuple,
            mixture_repeat(
                df.repartition(13), "lang", "doc_id", {"big": 1.0, "small": 1.0}
            ).collect(),
        )
    )
    assert a == b


def test_keywords_topk_surfaces_planted_distinctive_terms(spark):
    from openmrs_patient_migration_script_spark.operators.text import keywords_topk

    common = "the quick brown fox"
    rows = [
        (1, common + " zebra zebra zebra"),
        (2, common + " quark quark"),
        (3, common),
        (4, common),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = keywords_topk(df, k=2)
    top1 = {r.doc_id: r.token for r in out.filter(F.col("kw_rank") == 1).collect()}
    # the repeated rare term wins over the ubiquitous ones (tf desc, df asc)
    assert top1[1] == "zebra"
    assert top1[2] == "quark"
    # never more than k rows per doc, ranks contiguous from 1
    per_doc = out.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("kw_rank").alias("mx")
    )
    assert all(r.n <= 2 and r.mx == r.n for r in per_doc.collect())


def test_skew_kurtosis_signs_match_planted_shapes(spark):
    """Right-tailed data -> positive skew; symmetric two-point mass ->
    zero skew and minimal (-2) excess kurtosis; results partition-order
    invariant (the reason the exact-sufficient-statistics form exists)."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        group_skew_kurtosis,
    )

    rows = []
    # group 'tail': 99 values at 1.0, one at 1000.0 -> strong right skew
    rows += [("tail", 1.0)] * 99 + [("tail", 1000.0)]
    # group 'flat': half 0, half 100 -> skew 0, excess kurtosis -2
    rows += [("flat", 0.0)] * 50 + [("flat", 100.0)] * 50
    df = spark.createDataFrame(rows, ["g", "v"])
    x = F.round(F.col("v") * 100).cast("long")
    out = {r.g: r for r in group_skew_kurtosis(df, ["g"], x).collect()}
    assert out["tail"].skewness > 5.0
    assert out["flat"].skewness == 0.0
    assert out["flat"].kurtosis == -2.0
    again = {
        r.g: r
        for r in group_skew_kurtosis(df.repartition(13), ["g"], x).collect()
    }
    assert all(
        (out[g].skewness, out[g].kurtosis) == (again[g].skewness, again[g].kurtosis)
        for g in out
    )


def test_balance_classes_levels_every_label_to_the_minority(spark):
    from openmrs_patient_migration_script_spark.operators.sampling import (
        balance_classes,
    )

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(7)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = balance_classes(df, "lang", "doc_id")
    counts = {r.lang: r.n for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 7, "small": 7}
    # content-addressed: same kept set under repartitioning
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, balance_classes(df.repartition(9), "lang", "doc_id").collect()))
    assert a == b
    # zero-row input yields an empty typed frame
    assert balance_classes(df.limit(0), "lang", "doc_id").count() == 0


def test_gini_hits_the_known_poles_and_is_tie_order_invariant(spark):
    from openmrs_patient_migration_script_spark.operators.aggregates import group_gini

    rows = (
        [("even", 10)] * 10                       # perfectly even -> 0
        + [("mono", 0)] * 9 + [("mono", 90)]      # one row holds all -> 0.9
        + [("ties", 5)] * 6 + [("ties", 20)] * 2  # heavy ties
    )
    df = spark.createDataFrame(rows, ["g", "x"])
    out = {r.g: r.gini for r in group_gini(df, ["g"], F.col("x").cast("long")).collect()}
    assert out["even"] == 0.0
    # n=10, all mass in one row: G = (n-1)/n = 0.9
    assert out["mono"] == 0.9
    # tied blocks must not wobble with partitioning (rank sums symmetric)
    again = {r.g: r.gini for r in group_gini(
        df.repartition(7), ["g"], F.col("x").cast("long")).collect()}
    assert out == again


def test_linear_attribution_credit_sums_to_conversions(spark, sf_dir):
    """Conservation law: total credit across channels == number of
    conversions that had at least one touch in the window (each splits
    exactly 1.0), and the remainder rule makes that exact, not ~1e-9."""
    from openmrs_patient_migration_script_spark.plans.analytics_queries import (
        events_attribution_linear,
    )
    from openmrs_patient_migration_script_spark.sources import load_table

    out = events_attribution_linear(spark, sf_dir).collect()
    total_credit = sum(r.total_credit for r in out)
    e = load_table(spark, sf_dir, "events")
    conv = e.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"),
        F.col("ts").alias("cts"),
    )
    touch = e.filter("event_type in ('view','click')").select(
        "user_id", F.col("ts").alias("tts")
    )
    attributed = (
        touch.join(
            conv,
            (touch.user_id == conv.cu)
            & (F.col("tts") < F.col("cts"))
            & (F.col("tts") >= F.col("cts") - F.expr("INTERVAL 7 DAY")),
        )
        .select("cid").distinct().count()
    )
    assert round(total_credit * 1e6) == attributed * 1_000_000


def test_coverage_gaps_sees_the_day_with_no_rows(spark):
    """The aggregate-blind failure: a user silent on one mid-range day
    produces NO row anywhere — only the generated spine exposes it."""
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 5)), (1, datetime(2024, 1, 2, 5)),
        (1, datetime(2024, 1, 4, 5)),                 # Jan 3 silent
        (2, datetime(2024, 1, 1, 5)), (2, datetime(2024, 1, 2, 5)),
        (2, datetime(2024, 1, 3, 5)), (2, datetime(2024, 1, 4, 5)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    bounds = df.agg(F.min(F.to_date("ts")).alias("_dmin"),
                    F.max(F.to_date("ts")).alias("_dmax"))
    spine = (
        df.select("user_id").distinct()
        .crossJoin(F.broadcast(bounds))
        .select("user_id",
                F.explode(F.expr("sequence(_dmin, _dmax, interval 1 day)"))
                .alias("missing_day"))
    )
    present = df.select("user_id", F.to_date("ts").alias("missing_day")).distinct()
    gaps = spine.join(present, ["user_id", "missing_day"], "left_anti").collect()
    assert [(r.user_id, str(r.missing_day)) for r in gaps] == [(1, "2024-01-03")]


def test_skew_kurtosis_survives_values_past_the_int64_quartic_bound(spark):
    """sf0.1 regression: cents of a ~550-unit value put x^4 past int64 —
    the old int64 product silently wrapped in non-ANSI Spark and
    hard-errored in DuckDB/ANSI. The decimal products must return the
    same (scale-invariant) moments as a rescaled copy of the data."""
    rows = [("g", float(v)) for v in [560.21, 100.0, 200.0, 300.0, 450.5, 12.25]]
    df = spark.createDataFrame(rows, ["g", "v"])
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        group_skew_kurtosis,
    )

    cents = group_skew_kurtosis(
        df, ["g"], F.round(F.col("v") * 100).cast("long")
    ).collect()[0]
    # standardized moments are scale-invariant: the exact same values in
    # 1e4-scaled units must agree to the shared 6dp rounding
    tenk = group_skew_kurtosis(
        df, ["g"], F.round(F.col("v") * 10000).cast("long")
    ).collect()[0]
    assert abs(cents.skewness - tenk.skewness) <= 2e-6
    assert abs(cents.kurtosis - tenk.kurtosis) <= 2e-6


def test_cumulative_users_counts_each_user_once(spark, sf_dir):
    """Growth-curve invariants: the final cumulative value equals the
    exact distinct-user count, and the curve is the running sum of
    first appearances (monotone non-decreasing)."""
    from openmrs_patient_migration_script_spark.plans.analytics_queries import (
        events_cumulative_users,
    )
    from openmrs_patient_migration_script_spark.sources import load_table

    rows = events_cumulative_users(spark, sf_dir).orderBy("day").collect()
    total_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert rows[-1].cumulative_users == total_users
    assert sum(r.new_users for r in rows) == total_users
    assert all(a.cumulative_users <= b.cumulative_users
               for a, b in zip(rows, rows[1:]))


def test_weighted_sample_enriches_heavy_items_and_guards(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.sampling import (
        weighted_sample,
    )

    # 900 weight-1 rows vs 100 weight-8 rows: A-ES gives the heavy group
    # ~8x the per-item odds, so its share of a 100-row sample must be
    # far above its 10% population share (deterministic given the hash)
    rows = [(i, 1) for i in range(900)] + [(i, 8) for i in range(900, 1000)]
    df = spark.createDataFrame(rows, ["key", "w"])
    out = weighted_sample(df, "key", F.col("w"), k=100).collect()
    assert len(out) == 100
    heavy = sum(1 for r in out if r["key"] >= 900)
    assert heavy > 25
    # every row keeps its weight and an in-range ticket
    assert all(1 <= r["weight"] <= 8 and 0 <= r["ticket"] < 10**9 for r in out)
    # out-of-range weights fail loudly in-plan, not silently sample
    bad = spark.createDataFrame([(1, 0)], ["key", "w"])
    with _pytest.raises(Exception, match="weight outside"):
        weighted_sample(bad, "key", F.col("w"), k=10).collect()


def test_weighted_percentiles_tie_runs_and_weights(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.aggregates import (
        weighted_percentiles,
    )

    # group g: values 1(w=1), 2(w=1), 2(w=1), 10(w=7): total 10
    #   p50 -> cumulative reaches 5 only at 10 -> weighted median 10
    #   p25 -> weight(<=2) = 3 >= 2.5 -> 2
    rows = [("g", 1.0, 1), ("g", 2.0, 1), ("g", 2.0, 1), ("g", 10.0, 7)]
    df = spark.createDataFrame(rows, ["k", "v", "w"])
    out = weighted_percentiles(df, ["k"], "v", "w", pcts=[25, 50]).collect()[0]
    assert out["p25"] == 2.0 and out["p50"] == 10.0
    # unweighted twin: equal weights reduce to the plain lower-bound
    # percentile (median of 1,2,2,10 -> 2)
    eq = df.withColumn("w", F.lit(1))
    out2 = weighted_percentiles(eq, ["k"], "v", "w", pcts=[50]).collect()[0]
    assert out2["p50"] == 2.0
    bad = spark.createDataFrame([("g", 1.0, -1)], ["k", "v", "w"])
    with _pytest.raises(Exception, match="negative weight"):
        weighted_percentiles(bad, ["k"], "v", "w", pcts=[50]).collect()


def test_count_min_overcounts_only_and_merges_by_addition(spark):
    """CMS contract (r6): every point estimate >= the true count (min
    over rows can only overcount via collisions), exact for items whose
    cells collide with nothing, and the sketch of a union equals the
    cell-wise SUM of the parts' sketches (mergeability IS addition)."""
    from openmrs_patient_migration_script_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    rows = [(f"tok{i % 7}",) for i in range(700)] + [("rare",)] * 3
    df = spark.createDataFrame(rows, ["item"])
    cms = cms_build(df, "item", depth=4, width=256)
    probes = spark.createDataFrame(
        [(f"tok{i}",) for i in range(7)] + [("rare",), ("absent",)], ["item"]
    )
    est = {
        r["item"]: r["cms_est"]
        for r in cms_estimate(cms, probes, "item", depth=4, width=256).collect()
    }
    true = {f"tok{i}": 100 for i in range(7)} | {"rare": 3, "absent": 0}
    for k, t in true.items():
        assert est[k] >= t, f"{k}: est {est[k]} < true {t}"
    # 703 items into 4x256 cells: collisions are rare; the heavy items
    # must estimate exactly here (no other item shares all 4 cells)
    assert est["tok0"] == 100 and est["rare"] == 3 and est["absent"] == 0
    # mergeability: sum of the halves' cells == cells of the whole
    h1 = spark.createDataFrame(rows[:350], ["item"])
    h2 = spark.createDataFrame(rows[350:], ["item"])
    merged = (
        cms_build(h1, "item", depth=4, width=256)
        .unionByName(cms_build(h2, "item", depth=4, width=256))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r["row"], r["bucket"]): r["cnt"] for r in cms.collect()}
    assert {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()} == whole


def test_tfidf_cosine_pairs_exact_on_planted_docs(spark):
    """Planted fixture: two docs sharing their rare vocabulary must pair
    with cosine ~1; a doc with disjoint rare terms pairs with nobody.
    The integer threshold decision must agree with the float cosine."""
    import math

    from openmrs_patient_migration_script_spark.operators.text import (
        tfidf_cosine_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon"),
            (3, "zeta eta theta iota"),
            (4, "common common common common"),
            (5, "common common common common"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["key_a"], r["key_b"]): r
        for r in tfidf_cosine_pairs(docs, max_df=10).collect()
    }
    assert (1, 2) in out  # 3 of 4 terms shared at equal weights
    assert (4, 5) in out  # identical docs -> cosine 1.0
    assert abs(out[(4, 5)]["cos_sim"] - 1.0) < 1e-6
    assert all(3 not in k for k in out)  # disjoint vocabulary
    # hand-check (1,2): idf of the 3 shared terms (df=2) and the two
    # uniques (df=1) with N=5; cos = 3*w2^2 / (3*w2^2 + w1^2)
    w2 = round(round(1 * math.log(6.0 / 3.0), 6) * 1e6)
    w1 = round(round(1 * math.log(6.0 / 2.0), 6) * 1e6)
    want = 3 * w2 * w2 / (3 * w2 * w2 + w1 * w1)
    assert abs(out[(1, 2)]["cos_sim"] - round(want, 6)) < 1e-6


def test_bfs_hops_min_distance_cycle_and_bound(spark):
    """bfs_hops: min-hop from the seed set, cycles terminate, nodes past
    max_hops are absent, isolated seeds emit hop 0."""
    from openmrs_patient_migration_script_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5),     # chain off seed 1
            (2, 1),                             # cycle back
            (10, 11), (11, 10),                 # 2-cycle off seed 10
            (20, 21),                           # unreachable island
        ],
        ["key_a", "key_b"],
    )
    seeds = spark.createDataFrame([(1,), (10,), (99,)], ["node"])
    got = {
        r["node"]: r["hop"]
        for r in bfs_hops(edges, seeds, max_hops=2).collect()
    }
    assert got == {1: 0, 10: 0, 99: 0, 2: 1, 11: 1, 3: 2}
    # node 4 is 3 hops out -> absent at max_hops=2; island absent
    assert 4 not in got and 20 not in got and 21 not in got


def test_group_spearman_monotone_ties_and_outlier_robustness(spark):
    """Spearman pins: any monotone transform gives exactly 1.0 (where
    Pearson would not), reversal gives -1.0, and tie-averaged ranks
    match the hand formula."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        group_spearman,
    )

    rows = (
        # g=1: y = exp(x) — monotone, wildly non-linear -> rho = 1
        [(1, float(i), float(10 ** i)) for i in range(1, 7)]
        # g=2: y reversed -> rho = -1
        + [(2, float(i), float(-i)) for i in range(1, 7)]
        # g=3: x has a tie pair; hand-computed below
        + [(3, 1.0, 1.0), (3, 2.0, 2.0), (3, 2.0, 3.0), (3, 4.0, 4.0)]
    )
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    out = {
        r["g"]: r["spearman"]
        for r in group_spearman(df, ["g"], F.col("x"), F.col("y")).collect()
    }
    assert out[1] == 1.0
    assert out[2] == -1.0
    # g=3: x ranks (1, 2.5, 2.5, 4), y ranks (1, 2, 3, 4);
    # rho = cov/sd ratio on those ranks = 3.9/sqrt(3.8*4.2... compute:
    # mean 2.5 both; cov*4 = (-1.5)(-1.5)+0*(-.5)+0*.5+1.5*1.5 = 4.5;
    # varx*4 = 2.25+0+0+2.25 = 4.5; vary*4 = 2.25+.25+.25+2.25 = 5;
    # rho = 4.5/sqrt(4.5*5) = 0.948683
    assert abs(out[3] - 0.948683) < 1e-6


def test_mann_whitney_hand_computed_u(spark):
    """MWU against a hand-worked example with a cross-arm tie:
    view = [1, 3, 5], click = [2, 3, 4]."""
    from openmrs_patient_migration_script_spark.plans.analytics_queries import (
        ab_mann_whitney,
    )
    from openmrs_patient_migration_script_spark.sources import load_table as _lt

    # drive the declared query through a temp fixture dir
    import os

    rows = [
        (1, "view", 1.0), (2, "view", 3.0), (3, "view", 5.0),
        (4, "click", 2.0), (5, "click", 3.0), (6, "click", 4.0),
    ]
    # ranks: 1->1, 2->2, 3s->3.5 avg, 4->5, 5->6
    # R_view = 1 + 3.5 + 6 = 10.5 ; U_view = 10.5 - 3*4/2 = 4.5 ; u2 = 9
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    with tempfile.TemporaryDirectory() as d:
        ev = spark.createDataFrame(
            [(i, None, i, t, v, None) for (i, t, v) in rows],
            StructType([
                StructField("event_id", LongType()),
                StructField("ts", TimestampType()),
                StructField("user_id", LongType()),
                StructField("event_type", StringType()),
                StructField("value", DoubleType()),
                StructField("props", StringType()),
            ]),
        )
        ev.write.parquet(os.path.join(d, "events.parquet"))
        r = ab_mann_whitney(spark, d).collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["u2_a"] == 9  # 2*U_view = 2*4.5


def test_modularity_two_triangles_with_bridge(spark):
    """Exact Newman-Girvan decomposition on the textbook fixture: two
    triangles joined by one bridge edge, perfectly partitioned. m = 7,
    each community: e_c = 3, d_c = 7 -> q_num = 4*7*3 - 49 = 35 over
    q_den = 4*49 = 196; Q = sum(q_num)/q_den = 70/196 = 5/14. Duplicate
    + reversed edge rows must canonicalize away."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        modularity,
    )

    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (1, 3),          # triangle A
            (4, 5), (5, 6), (4, 6),          # triangle B
            (3, 4),                          # bridge
            (2, 1), (3, 1), (4, 4),          # reversed dups + self-loop
        ],
        ["key_a", "key_b"],
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)],
        ["node", "community"],
    )
    rows = {r["community"]: r for r in modularity(edges, labels).collect()}
    for c in (1, 4):
        assert rows[c]["n_nodes"] == 3
        assert rows[c]["intra_edges"] == 3
        assert rows[c]["degree_sum"] == 7
        assert int(rows[c]["q_num"]) == 35
        assert int(rows[c]["q_den"]) == 196
    q = sum(int(r["q_num"]) for r in rows.values()) / 196
    assert abs(q - 5 / 14) < 1e-12


def test_modularity_single_community_is_zero_and_isolated_nodes(spark):
    """Everything in one community => Q = 0 exactly (q_num = 4m^2-(2m)^2);
    a labeled node with no edges contributes degree 0 via the left join."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        modularity,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["key_a", "key_b"])
    labels = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9), (42, 9)], ["node", "community"]
    )
    (r,) = modularity(edges, labels).collect()
    assert r["n_nodes"] == 4 and r["intra_edges"] == 2 and r["degree_sum"] == 4
    assert int(r["q_num"]) == 0 and int(r["q_den"]) == 16


def test_sssp_bounded_relaxation_beats_direct_edge(spark):
    """A 3-hop unit-weight path (cost 3) must beat the direct weight-10
    edge once max_hops admits it; at max_hops=1 the direct edge wins.
    Parallel edges keep the cheapest; nodes past the bound are absent."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        sssp_bounded,
    )

    edges = spark.createDataFrame(
        [
            (1, 2, 1), (2, 3, 1), (3, 4, 1),   # cheap chain
            (1, 4, 10),                         # expensive direct edge
            (1, 2, 5),                          # parallel edge, pricier
            (4, 5, 1),                          # reached via the pricey edge
        ],
        ["key_a", "key_b", "w"],
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    d3 = {r["node"]: r["dist"] for r in sssp_bounded(edges, seeds, 3).collect()}
    # node 5: 1-4-5 (2 hops, cost 11); the cheap 4-hop route 1-2-3-4-5
    # (cost 4) exceeds the bound, so 11 stands
    assert d3 == {1: 0, 2: 1, 3: 2, 4: 3, 5: 11}
    d1 = {r["node"]: r["dist"] for r in sssp_bounded(edges, seeds, 1).collect()}
    assert d1 == {1: 0, 2: 1, 4: 10}


def test_mutual_information_independent_and_dependent(spark):
    """A product-form (independent) table has mi_term == 0 in every cell;
    a perfectly diagonal 2-class table sums to MI = ln 2."""
    import math

    from openmrs_patient_migration_script_spark.operators.aggregates import (
        mutual_information,
    )

    indep = spark.createDataFrame(
        [("en", "web")] * 4 + [("en", "book")] * 4
        + [("de", "web")] * 2 + [("de", "book")] * 2,
        ["lang", "source"],
    )
    out = mutual_information(indep, "lang", "source").collect()
    assert len(out) == 4 and all(r["mi_term"] == 0.0 for r in out)
    diag = spark.createDataFrame(
        [("en", "web")] * 3 + [("de", "book")] * 3, ["lang", "source"]
    )
    out2 = mutual_information(diag, "lang", "source").collect()
    assert abs(sum(r["mi_term"] for r in out2) - math.log(2)) < 1e-5
    assert all(r["n_total"] == 6 for r in out2)


def test_cuped_recovers_pure_arm_effect_and_degenerates_safely(spark):
    """With y = 2x + effect(arm), theta must come out exactly 2 and the
    adjusted means must recover the pure arm effect (30 vs 35). All-equal
    covariate (var(x) = 0) degrades to theta = 0, adj == raw mean."""
    from openmrs_patient_migration_script_spark.operators.aggregates import cuped

    units = spark.createDataFrame(
        [(0, 10, 20), (0, 20, 40), (1, 10, 25), (1, 20, 45)],
        ["arm", "x", "y"],
    )
    out = {r["arm"]: r for r in cuped(units).collect()}
    assert out[0]["theta"] == 2.0 and out[1]["theta"] == 2.0
    assert out[0]["adj_mean_y"] == 30.0 and out[1]["adj_mean_y"] == 35.0
    flat = spark.createDataFrame(
        [(0, 7, 20), (0, 7, 40), (1, 7, 31)], ["arm", "x", "y"]
    )
    out2 = {r["arm"]: r for r in cuped(flat).collect()}
    assert out2[0]["theta"] == 0.0
    assert out2[0]["adj_mean_y"] == out2[0]["mean_y"] == 30.0
    assert out2[1]["adj_mean_y"] == 31.0


def test_corr_matrix_perfect_and_anti_correlation(spark):
    """Hand fixture: b = 2a (corr +1), c = -a (corr -1 with a, -1 with b);
    covariances match the sample formula exactly."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        corr_matrix,
    )

    df = spark.createDataFrame(
        [(1, 2, -1), (2, 4, -2), (3, 6, -3), (4, 8, -4)], ["a", "b", "c"]
    )
    out = {
        (r["col_a"], r["col_b"]): r
        for r in corr_matrix(
            df, {"a": F.col("a"), "b": F.col("b"), "c": F.col("c")}
        ).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert out[("a", "b")]["corr"] == 1.0 and out[("a", "c")]["corr"] == -1.0
    assert out[("b", "c")]["corr"] == -1.0
    # var(a) = 5/3; cov(a,b) = 2*var(a) = 10/3; cov(a,c) = -5/3
    assert abs(out[("a", "b")]["cov"] - round(10 / 3, 6)) < 1e-9
    assert abs(out[("a", "c")]["cov"] + round(5 / 3, 6)) < 1e-9
    assert all(r["n"] == 4 for r in out.values())


def test_proportional_stratified_sample_exact_sizes(spark):
    """Every stratum keeps exactly ceil(n_s * pct / 100) rows; a 1-row
    stratum survives (ceil); selection is partition-layout invariant."""
    import pytest

    from openmrs_patient_migration_script_spark.operators.sampling import (
        proportional_stratified_sample,
    )

    rows = [(i, "big") for i in range(95)] + [(100 + i, "mid") for i in range(14)]
    rows += [(900, "tiny")]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = proportional_stratified_sample(df, "doc_id", "lang", pct=10)
    sizes = {r["stratum"]: r["cnt"] for r in
             out.groupBy("stratum").agg(F.count("*").alias("cnt")).collect()}
    assert sizes == {"big": 10, "mid": 2, "tiny": 1}  # ceil(9.5), ceil(1.4), ceil(0.1)
    a = {tuple(r) for r in out.collect()}
    b = {
        tuple(r)
        for r in proportional_stratified_sample(
            df.repartition(7), "doc_id", "lang", pct=10
        ).collect()
    }
    assert a == b
    with pytest.raises(ValueError):
        proportional_stratified_sample(df, "doc_id", "lang", pct=0)


def test_histogram2d_lift_recomputes_from_counts(spark):
    """Marginals must sum to the total, every cell's lift must equal the
    direct recomputation cnt*N/(n_x*n_y), and the cnt-weighted mean lift
    is 1 by construction (sum over cells of cnt*expected/N == N)."""
    rows = QUERIES["agg_histogram2d"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    n_total = rows[0]["n_total"]
    assert sum(r["cnt"] for r in rows) == n_total
    for r in rows:
        want = round(r["cnt"] * n_total / (r["n_x"] * r["n_y"]), 6)
        assert abs(r["lift"] - want) < 1e-9
    x_marg = {}
    for r in rows:
        x_marg.setdefault(r["hour_of_day"], set()).add(r["n_x"])
    assert all(len(v) == 1 for v in x_marg.values())
    assert sum(next(iter(v)) for v in x_marg.values()) == n_total


def test_markov_stationary_matches_integer_replay(spark):
    """The declared query's integer fixed-point iteration must equal an
    independent Python replay of the same floor arithmetic built from
    the transition counts; mass stays within the bounded floor loss."""
    sf = "/root/testdata/sf0.001"
    U = 1_000_000_000
    trans = {}
    for r in QUERIES["events_transitions"](spark, sf).collect():
        trans[(r["prev_type"], r["next_type"])] = r["n"]
    out = {}
    for (s, _), n in trans.items():
        out[s] = out.get(s, 0) + n
    prob = {(s, d): (n * U) // out[s] for (s, d), n in trans.items()}
    states = sorted(out)
    pi = {s: U // len(states) for s in states}
    for _ in range(4):
        nxt = {}
        for (s, d), p in prob.items():
            nxt[d] = nxt.get(d, 0) + (pi.get(s, 0) * p) // U
        pi = nxt
    got = {
        r["event_type"]: r["pi_units"]
        for r in QUERIES["events_markov_stationary"](spark, sf).collect()
    }
    assert got == pi
    assert 0 < sum(got.values()) <= U


def test_proportional_sample_pct_100_keeps_everything(spark):
    from openmrs_patient_migration_script_spark.operators.sampling import (
        proportional_stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(20)], ["doc_id", "lang"]
    )
    assert proportional_stratified_sample(df, "doc_id", "lang", pct=100).count() == 20


def test_markov_stationary_absorbing_state_collects_mass(spark, sf_dir):
    """States are only those observed as transition SOURCES; the iterated
    mass never exceeds the unit and every reported state is a dst of the
    chain. (An absorbing dst-only state would drain mass — deterministic
    and replayed by the oracle, pinned here as defined behavior.)"""
    rows = QUERIES["events_markov_stationary"](spark, sf_dir).collect()
    assert rows
    assert sum(r["pi_units"] for r in rows) <= 1_000_000_000
    assert all(r["pi_units"] >= 0 for r in rows)


def test_mann_whitney_degenerate_designs_pin_z_zero(spark):
    """A single shared value (tie-corrected variance exactly 0) and an
    empty arm must both pin z_stat to 0.0 — defined behavior, not an
    engine-dependent 0/0 (the ks_drift rule). Both conditions are
    integer-decidable (tie_term = n³−n; n_a·n_b = 0) and mirrored in
    the oracle."""
    import os
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])

    def run(rows):
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                [(i, None, i, t, v, None) for i, (t, v) in enumerate(rows)],
                schema,
            ).write.parquet(os.path.join(d, "events.parquet"))
            return QUERIES["ab_mann_whitney"](spark, d).collect()[0]

    tied = run([("view", 7.0)] * 3 + [("click", 7.0)] * 2)
    assert (tied["n_a"], tied["n_b"], tied["z_stat"]) == (3, 2, 0.0)
    one_armed = run([("view", v) for v in (1.0, 2.0, 3.0)])
    assert (one_armed["n_b"], one_armed["z_stat"]) == (0, 0.0)


def test_sssp_rejects_fractional_weights(spark):
    """A double weight column must fail loud (distances accumulate in
    exact long arithmetic — a silent floor would corrupt every path
    cost), the require_integral_key rule."""
    import pytest as _pytest

    from openmrs_patient_migration_script_spark.operators.graph import (
        sssp_bounded,
    )

    edges = spark.createDataFrame([(1, 2, 1.5)], ["key_a", "key_b", "w"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    with _pytest.raises(ValueError, match="integral"):
        sssp_bounded(edges, seeds, 2)


def test_changepoint_locates_planted_level_shift(spark):
    """A series that jumps from level 100 to level 700 between day 3 and
    day 4 must maximize d_num^2/gain_den exactly at the day-3 boundary,
    and the fraction reconstructs the between-segment sum of squares
    BSS = D^2/(n*n_L*n_R)."""
    import datetime
    import os
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    rows = []
    for day in range(6):
        level = 1.0 if day < 3 else 7.0  # scaled x100 -> 100 vs 700
        for j in range(4):
            rows.append(
                (
                    day * 10 + j,
                    datetime.datetime(2024, 1, day + 1, j),
                    j,
                    "view",
                    level,
                    None,
                )
            )
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    # load_table's footer probe expects MICROS/NANOS; Spark's default
    # INT96 output would mis-probe as ns and fail the pinned read schema
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(rows, schema).write.parquet(
                os.path.join(d, "events.parquet")
            )
            out = QUERIES["ts_changepoint"](spark, d).collect()
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    assert len(out) == 5  # 6 days -> 5 interior boundaries
    best = max(out, key=lambda r: int(r["d_num"]) ** 2 / int(r["gain_den"]))
    assert best["day"].day == 3 and best["n_left"] == 12
    # D at the true split: S_L*n - S*n_L = 1200*24 - 9600*12 = -86400
    assert int(best["d_num"]) == -86400 and int(best["gain_den"]) == 144


def test_woe_iv_separating_and_uniform_buckets(spark):
    """A bucket holding only events gets a large positive WOE (the
    smoothing keeps it finite despite the empty non-event cell); the
    mixed bucket's magnitude is strictly smaller and its sign negative
    (it holds ALL the non-events, so it under-represents events
    relative to the global mix). Hand-computed: WOE(b0) =
    ln((8.5/12.5)/(0.5/4.5)) ≈ 1.8116, WOE(b1) = ln((4.5/12.5)/(4.5/4.5))
    ≈ −1.02."""
    import os
    import tempfile

    # bucket 0 (price < 60000): all 'F'; bucket 1: 50/50 mix
    rows = [(i, "F", 30000.0) for i in range(8)] + [
        (100 + i, "F" if i % 2 == 0 else "O", 90000.0) for i in range(8)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
        ).write.parquet(os.path.join(d, "orders.parquet"))
        out = {r["bucket"]: r for r in QUERIES["agg_woe_iv"](spark, d).collect()}
    assert out[0]["n_event"] == 8 and out[0]["n_non"] == 0
    assert abs(out[0]["woe"] - 1.811562) < 1e-4  # pure-event bucket, finite
    assert abs(out[1]["woe"] - (-1.021651)) < 1e-4
    assert abs(out[1]["woe"]) < out[0]["woe"]  # mixed bucket separates less
    assert all(r["iv_term"] is not None for r in out.values())


def test_bootstrap_ci_constant_effect_collapses_to_point(spark):
    """With y constant per arm (arm 0 = 300 cents, arm 1 = 100), every
    resample's mean difference is exactly 200 unless an arm resamples
    empty — so both percentile bounds must reconstruct diff = 200 from
    their integer sums, and the output carries no float at all."""
    import os
    import tempfile

    rows = [(u, None, u, "view", 3.0 if u % 2 == 0 else 1.0, None)
            for u in range(40)]
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(d, "events.parquet")
        )
        out = {r["bound"]: r for r in QUERIES["ab_bootstrap_ci"](spark, d).collect()}
    assert set(out) == {"lo", "hi"}
    for r in out.values():
        assert r["n_a"] > 0 and r["n_b"] > 0
        assert r["s_a"] / r["n_a"] - r["s_b"] / r["n_b"] == 200.0


def test_survival_km_hand_computed_curve(spark, tmp_path):
    """Three users with lifetimes 0, 2 and 5 days: S(0)=1, S(1)=2/3,
    S(3)=1/3, S(6)=0 — exact at-risk counts on the hand-built curve."""
    from datetime import datetime as dt

    from openmrs_patient_migration_script_spark.plans import QUERIES

    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    rows = [
        (1, dt(2024, 1, 1), 1, "view", 1.0, "{}"),     # lifetime 0
        (2, dt(2024, 1, 1), 2, "view", 1.0, "{}"),
        (3, dt(2024, 1, 3), 2, "view", 1.0, "{}"),     # lifetime 2
        (4, dt(2024, 1, 1), 3, "view", 1.0, "{}"),
        (5, dt(2024, 1, 6), 3, "view", 1.0, "{}"),     # lifetime 5
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.d: r for r in
           QUERIES["events_survival_km"](spark, str(tmp_path)).collect()}
    assert len(out) == 15 and out[0].n_total == 3
    assert out[0].n_at_risk == 3 and out[0].survival == 1.0
    assert out[1].n_at_risk == 2
    assert out[3].n_at_risk == 1
    assert out[6].n_at_risk == 0 and out[6].survival == 0.0


def test_concentration_hhi_bounds(spark, tmp_path):
    """HHI = 1 for a single-source language, 1/n for a perfectly even
    n-source split — the two analytic anchors, exact fractions."""
    from openmrs_patient_migration_script_spark.plans import QUERIES

    rows = (
        [(i, "t", "mono", "only_src", 1) for i in range(10)]
        + [(100 + i, "t", "even", f"src_{i % 4}", 1) for i in range(40)]
    )
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.lang: r for r in
           QUERIES["agg_concentration_hhi"](spark, str(tmp_path)).collect()}
    mono, even = out["mono"], out["even"]
    assert mono.n_sources == 1 and mono.hhi == 1.0
    assert mono.hhi_num == mono.hhi_den == 100
    assert even.n_sources == 4 and even.hhi == 0.25
    assert even.hhi_num * 4 == even.hhi_den


def test_power_mde_hand_computed(spark, tmp_path):
    """Two users per arm with known per-user cents: se and MDE follow
    the closed form exactly (6dp) — and a 1-user arm pins 0.0."""
    import math
    from datetime import datetime as dt

    from openmrs_patient_migration_script_spark.plans import QUERIES

    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    # arm 0 (even user ids): totals 100 and 200 cents; arm 1: 50 and 350
    rows = [
        (1, dt(2024, 1, 1), 2, "view", 1.00, "{}"),
        (2, dt(2024, 1, 1), 4, "view", 2.00, "{}"),
        (3, dt(2024, 1, 1), 1, "view", 0.50, "{}"),
        (4, dt(2024, 1, 1), 3, "view", 3.50, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    row = QUERIES["ab_power_mde"](spark, str(tmp_path)).collect()[0]
    assert (row.n_a, row.n_b) == (2, 2)
    var_a = ((100 - 150) ** 2 + (200 - 150) ** 2) / 1.0   # sample var
    var_b = ((50 - 200) ** 2 + (350 - 200) ** 2) / 1.0
    se = math.sqrt(var_a / 2 + var_b / 2)
    assert abs(row.se_diff - round(se, 6)) < 1e-9
    assert abs(row.mde_cents - round(2.801585 * se, 6)) < 1e-6


@pytest.mark.slow
def test_exact_global_quantile_matches_sorted_reference(spark):
    """The histogram-selection path must reproduce the rank rule
    min{v : 100·cum ≥ p·n} of a driver-side sort, across percentiles,
    duplicates, negatives, and a wide value range (forces 2+ levels at
    the tiny bucket count used here)."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        exact_global_quantile,
    )

    vals = (
        [x * 97 for x in range(200)]
        + [5] * 50                       # heavy duplicate
        + [-1_000_003, 10_000_019]       # wide range + negative
    )
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    s = sorted(vals)
    n = len(s)
    for pct in (1, 10, 50, 90, 99, 100):
        want = next(
            v for i, v in enumerate(s, start=1) if 100 * i >= pct * n
        )
        got = exact_global_quantile(df, "v", pct, n_buckets=16)
        assert got == want, f"p{pct}: got {got}, want {want}"
    # empty input returns None
    assert exact_global_quantile(df.limit(0), "v", 50) is None


@pytest.mark.slow
def test_exact_global_quantile_target_rank_mode(spark):
    """Exact-rank mode must hit the r-th smallest with no pct rounding —
    the k-th-largest use (rank = n − k) that an integer pct double-ceils
    past (the text_vocab_coverage bug class)."""
    from openmrs_patient_migration_script_spark.operators.aggregates import (
        exact_global_quantile,
    )

    vals = [10, 20, 30, 40, 50, 60, 70]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    for r, want in [(1, 10), (4, 40), (7, 70)]:
        assert exact_global_quantile(df, "v", target_rank=r, n_buckets=4) == want
    # clamped at the edges
    assert exact_global_quantile(df, "v", target_rank=99) == 70


def test_sprt_planted_crossing_and_continue(spark, tmp_path):
    """SPRT semantics on a hand-built stream: arm 0 (user 1) sees six
    straight successes — the LLR crosses the upper boundary exactly at
    n=6 (5x the success increment is still under it) and later failures
    cannot un-decide it; arm 1 (user 2) sees ten failures — drifting
    down but far from the lower boundary, so it reports 'continue'."""
    import datetime as dt

    from openmrs_patient_migration_script_spark.plans import QUERIES
    from openmrs_patient_migration_script_spark.plans.analytics_queries import (
        _SPRT_A,
        _SPRT_B,
        _SPRT_UP,
    )

    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1 -> md5 arm 0: 6 purchases then 2 views
    for i in range(8):
        rows.append(
            (i, t0 + dt.timedelta(minutes=i), 1,
             "purchase" if i < 6 else "view", 1.0, "{}")
        )
    # user 2 -> md5 arm 1: 10 views
    for i in range(10):
        rows.append(
            (100 + i, t0 + dt.timedelta(minutes=i), 2, "view", 1.0, "{}")
        )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {r.arm: r for r in
           QUERIES["ab_sequential_sprt"](spark, str(tmp_path)).collect()}

    a0 = out[0]
    assert 5 * _SPRT_A < _SPRT_UP <= 6 * _SPRT_A  # the planted geometry
    assert a0.decision == "accept_h1"
    assert a0.n_at_decision == 6
    assert a0.llr_at_decision_nano == 6 * _SPRT_A
    assert a0.llr_final_nano == 6 * _SPRT_A + 2 * _SPRT_B
    assert a0.n_total == 8 and a0.s_total == 6

    a1 = out[1]
    assert a1.decision == "continue"
    assert a1.n_at_decision == 0 and a1.llr_at_decision_nano == 0
    assert a1.llr_final_nano == 10 * _SPRT_B
    assert a1.n_total == 10 and a1.s_total == 0


def test_modularity_broadcasts_label_attach_joins(spark, monkeypatch):
    """r10: the node->community map must attach to the edge list via
    BroadcastHashJoins under the size gate (the r9 plan audit found them
    as SortMergeJoins with the edge list as the big side), and fall back
    to shuffle joins when the gate is 0 — labels identical either way."""
    from openmrs_patient_migration_script_spark.operators import graph
    from openmrs_patient_migration_script_spark.operators.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5)], ["key_a", "key_b"]
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], ["node", "community"]
    )
    fast = modularity(edges, labels)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    monkeypatch.setattr(graph, "_BC_MAX_ROWS", 0)
    slow = modularity(edges, labels)
    as_rows = lambda d: {tuple(r) for r in d.collect()}  # noqa: E731
    assert as_rows(fast) == as_rows(slow)
