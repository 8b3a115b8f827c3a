"""resample_ffill semantics: dense grid, forward fill, guard rail."""

from __future__ import annotations

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.operators.timeseries import resample_ffill


def _events(spark):
    rows = [
        # user 1: observations at hours 0 and 3 — hours 1-2 must fill with 10.0
        (1, datetime(2024, 1, 1, 0, 15), 10.0),
        (1, datetime(2024, 1, 1, 3, 5), 7.0),
        (1, datetime(2024, 1, 1, 3, 40), 3.0),  # same bucket as above: sums
        # user 2: single observation — one-row grid
        (2, datetime(2024, 1, 1, 5, 0), 1.5),
    ]
    return spark.createDataFrame(rows, ["user_id", "ts", "value"])


def test_ffill_grid_and_sums(spark):
    out = resample_ffill(_events(spark), "user_id", "ts", "value").collect()
    by = {(r.key, r.bucket.hour): (r.value_sum, r.observed) for r in out}
    assert len([k for k in by if k[0] == 1]) == 4  # hours 0..3 dense
    assert by[(1, 0)] == (10.0, True)
    assert by[(1, 1)] == (10.0, False)  # filled
    assert by[(1, 2)] == (10.0, False)  # filled
    assert by[(1, 3)] == (10.0, True)  # 7 + 3 summed in-bucket
    assert by[(2, 5)] == (1.5, True)


def test_interpolate_ramps_between_observations(spark):
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        interpolate_linear,
    )

    rows = [
        # user 1: 10.0 at hour 0, 4.0 at hour 3 → hours 1,2 ramp 8.0, 6.0
        (1, datetime(2024, 1, 1, 0, 15), 10.0),
        (1, datetime(2024, 1, 1, 3, 5), 4.0),
        # user 2: single observation — a one-row grid, value unchanged
        (2, datetime(2024, 1, 1, 5, 0), 1.5),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = interpolate_linear(df, "user_id", "ts", "value").collect()
    by = {(r.key, r.bucket.hour): (r.value_interp, r.observed) for r in out}
    assert by[(1, 0)] == (10.0, True)
    assert by[(1, 1)] == (8.0, False)
    assert by[(1, 2)] == (6.0, False)
    assert by[(1, 3)] == (4.0, True)
    assert by[(2, 5)] == (1.5, True)
    assert len(out) == 5


def test_interpolate_observed_matches_ffill_grid(spark):
    """Both X15 regularizers emit the SAME dense grid and agree on every
    observed bucket — only the fill policy differs."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        interpolate_linear,
    )

    df = _events(spark)
    ff = {
        (r.key, r.bucket): (r.value_sum, r.observed)
        for r in resample_ffill(df, "user_id", "ts", "value").collect()
    }
    li = {
        (r.key, r.bucket): (r.value_interp, r.observed)
        for r in interpolate_linear(df, "user_id", "ts", "value").collect()
    }
    assert set(ff) == set(li)
    for k, (v, obs) in ff.items():
        assert li[k][1] == obs
        if obs:
            assert li[k][0] == pytest.approx(v)


def test_grid_explosion_guard(spark):
    rows = [
        (1, datetime(2020, 1, 1), 1.0),
        (1, datetime(2026, 1, 1), 1.0),  # ~52k hourly buckets
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    # the guard is in-plan (assert_true) — it fires at execution time with
    # zero extra passes, surfacing as a Spark job failure
    with pytest.raises(Exception, match="buckets"):
        resample_ffill(
            df, "user_id", "ts", "value", max_buckets=10_000
        ).collect()


def test_twap_weights_by_holding_time(spark):
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        time_weighted_avg,
    )

    rows = [
        # user 1: 10.0 held 3 hours, then 40.0 held 1 hour, end marker
        (1, datetime(2024, 1, 1, 0), 0, 10.0),
        (1, datetime(2024, 1, 1, 3), 1, 40.0),
        (1, datetime(2024, 1, 1, 4), 2, 99.0),  # last obs: holds 0 time
        # user 2: single observation — dropped (no measured span)
        (2, datetime(2024, 1, 1, 0), 3, 5.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    out = {r.user_id: (r.n_segments, r.twap)
           for r in time_weighted_avg(df, "user_id", "ts", "event_id", "value").collect()}
    # (10*3 + 40*1) / 4 = 17.5 — the naive avg would say 49.67
    assert out == {1: (2, 17.5)}


def test_cusum_alarms_on_sustained_shift_not_spikes(spark):
    from openmrs_patient_migration_script_spark.operators.timeseries import cusum

    rows = []
    # user 1: in-band noise around 50 with one big spike — no alarm
    for i, v in enumerate([50.0, 55.0, 45.0, 90.0, 50.0, 48.0]):
        rows.append((1, datetime(2024, 1, 1, i), i, v))
    # user 2: sustained shift to 75 — accumulates 15/step past h=60 by step 4
    for i, v in enumerate([75.0] * 6):
        rows.append((2, datetime(2024, 1, 1, i), i, v))
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    out = cusum(df, "user_id", ["ts", "event_id"], "value",
                target=50.0, slack=10.0, threshold=60.0)
    by = {(r.user_id, r.event_id): (r.cusum_hi, r.alarm) for r in out.collect()}
    assert not any(a for (u, _), (_, a) in by.items() if u == 1)
    # user 2: S+ grows 15, 30, 45, 60, 75 — alarm strictly past threshold
    assert by[(2, 3)] == (60.0, False)
    assert by[(2, 4)] == (75.0, True)
    assert by[(2, 5)] == (90.0, True)
    # clamp at zero: user 1's spike decays back to 0, never negative
    assert all(h >= 0.0 for (h, _) in by.values())


def test_sequence_pattern_contig_vs_subsequence(spark):
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        sequence_pattern,
    )

    rows = [
        # user 1: v c p v c p contiguous twice
        *[(1, datetime(2024, 1, 1, h), h, t) for h, t in
          enumerate(["view", "click", "purchase", "view", "click", "purchase"])],
        # user 2: v x c x p — subsequence only (gaps break contiguity)
        *[(2, datetime(2024, 1, 1, h), h, t) for h, t in
          enumerate(["view", "error", "click", "error", "purchase"])],
        # user 3: p c v — wrong order, no match at all
        *[(3, datetime(2024, 1, 1, h), h, t) for h, t in
          enumerate(["purchase", "click", "view"])],
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    out = {
        r.key: (r.n_events, r.n_contig, r.has_subseq)
        for r in sequence_pattern(
            df, "user_id", "ts", "event_id", "event_type",
            {"view": "v", "click": "c", "purchase": "p", "error": "e"},
            "vcp",
        ).collect()
    }
    assert out[1] == (6, 2, True)
    assert out[2] == (5, 0, True)
    assert out[3] == (3, 0, False)


def test_sessionize_labels_planted_islands(spark):
    from datetime import datetime

    from openmrs_patient_migration_script_spark.operators.timeseries import sessionize

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: two sessions — gap of exactly 30 min starts a new one
        (1, 1, t(0)), (2, 1, t(10)), (3, 1, t(40)),
        # user 2: one session — 29-min gap stays inside
        (4, 2, t(0)), (5, 2, t(29)),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    got = {r.event_id: r for r in sessionize(df, "user_id", "ts", "event_id").collect()}
    assert [got[i].session_seq for i in (1, 2, 3)] == [1, 1, 2]
    assert got[3].session_start == t(40)
    assert got[2].session_start == t(0)
    assert [got[i].session_seq for i in (4, 5)] == [1, 1]
    assert got[5].session_start == t(0)


def test_sessionize_is_partition_invariant(spark, sf_dir):
    from openmrs_patient_migration_script_spark.operators.timeseries import sessionize
    from openmrs_patient_migration_script_spark.sources import load_table

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    a = sorted(map(tuple, sessionize(e, "user_id", "ts", "event_id").collect()))
    b = sorted(
        map(tuple, sessionize(e.repartition(11), "user_id", "ts", "event_id").collect())
    )
    assert a == b and a


def test_holt_linear_tracks_a_ramp_ewma_lags(spark):
    """On a steady ramp the trend state closes the forecast gap EWMA
    (alpha=0.5) provably never closes — the reason the operator exists."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        ewma,
        holt_linear,
    )

    rows = [(1, datetime(2024, 1, 1, i), i, float(10 * i)) for i in range(12)]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    h = {r.event_id: r for r in
         holt_linear(df, "user_id", ["ts", "event_id"], "value").collect()}
    e = {r.event_id: r.ewma for r in
         ewma(df, "user_id", ["ts", "event_id"], "value").collect()}
    # EWMA's steady-state lag on slope-10 at alpha=0.5 is (1-a)/a*10 = 10
    assert abs((110.0 - e[11]) - 10.0) < 0.5
    # Holt: level converges to the actual value, trend to the slope
    assert abs(h[11].level - 110.0) < 0.5
    assert abs(h[11].trend - 10.0) < 0.5
    # one-step forecast = level + trend, exactly
    assert all(r.forecast == r.level + r.trend for r in h.values())


def test_holt_linear_matches_serial_reference_bitwise(spark):
    """The fold replays the exact recurrence: compare against a Python
    serial implementation with == on raw doubles (no tolerance)."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        holt_linear,
    )

    vals = [3.7, 1.2, 9.9, 4.4, 4.5, 0.1, 7.3]
    rows = [(1, datetime(2024, 1, 1, i), i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    got = {r.event_id: (r.level, r.trend) for r in
           holt_linear(df, "user_id", ["ts", "event_id"], "value").collect()}
    lvl, trd = vals[0], 0.0
    assert got[0] == (lvl, trd)
    for i, v in enumerate(vals[1:], start=1):
        nl = 0.5 * v + 0.5 * (lvl + trd)
        nt = 0.5 * (nl - lvl) + 0.5 * trd
        lvl, trd = nl, nt
        assert got[i] == (lvl, trd)


def test_seasonal_decompose_is_exactly_additive_and_finds_diurnal(spark):
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        seasonal_decompose,
    )

    rows = []
    eid = 0
    # 4 days, hourly: flat base 100 plus +50 only at hour 12
    for d in range(4):
        for h in range(24):
            v = 100.0 + (50.0 if h == 12 else 0.0)
            rows.append((1, datetime(2024, 1, 1 + d, h), eid, v))
            eid += 1
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    out = seasonal_decompose(df, "user_id", "ts", "event_id", "value")
    by = {r.event_id: r for r in out.collect()}
    vals = {r[2]: r[3] for r in rows}
    # exact additivity at the 1e6 scale, every row
    for i, r in by.items():
        assert round((r.trend + r.seasonal + r.resid) * 1e6) == round(vals[i] * 1e6)
    # the hour-12 rows carry a clearly positive seasonal component,
    # off-peak hours a slightly negative one (profile sums to ~0)
    noon = [r.seasonal for i, r in by.items() if i % 24 == 12]
    off = [r.seasonal for i, r in by.items() if i % 24 == 0]
    assert min(noon) > 40.0
    assert max(off) < 0.0


def test_seasonal_anomaly_flags_off_hour_spike_not_the_daily_peak(spark):
    """A +50 reading is NORMAL at noon (the user peaks at noon every day)
    and ANOMALOUS at 3am — exactly the distinction a raw-value threshold
    cannot make and the residual/MAD rule must."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        seasonal_anomalies,
    )

    rows, eid, spike_id = [], 0, None
    for d in range(8):
        for h in range(24):
            # deterministic +-5 noise: with a NOISELESS series the MAD
            # collapses to window-truncation wobble and everything flags
            noise = float((d * 24 + h) * 7 % 11 - 5)
            v = 100.0 + noise + (50.0 if h == 12 else 0.0)
            if d == 4 and h == 3:
                v = 150.0          # same magnitude as noon, wrong hour
                spike_id = eid
            rows.append((1, datetime(2024, 1, 1 + d, h), eid, v))
            eid += 1
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    flagged = {r.event_id: r for r in
               seasonal_anomalies(df, "user_id", "ts", "event_id", "value").collect()}
    assert spike_id in flagged
    assert flagged[spike_id].deviation > flagged[spike_id].threshold
    # no noon reading ever flags — +50 at noon IS the season
    noon_ids = {r[2] for r in rows if r[1].hour == 12}
    assert not (noon_ids & set(flagged))


def test_autocorr_detects_planted_period(spark):
    """A period-8 sawtooth: lag-8 autocorrelation is exactly 1 (the
    sequence repeats), lag-4 is strongly negative (half-period flip)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from openmrs_patient_migration_script_spark.operators.aggregates import (
        group_corr,
    )

    vals = [float((i % 8) * 10) for i in range(64)]
    rows = [
        (1, datetime(2024, 1, 1) + __import__("datetime").timedelta(minutes=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    vs = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def ac(lag):
        lagged = df.select(
            "user_id", vs.alias("_x"), F.lag(vs, lag).over(w).alias("_y")
        ).filter(F.col("_y").isNotNull())
        return group_corr(lagged, ["user_id"], F.col("_x"), F.col("_y")).collect()[0].corr

    assert ac(8) == 1.0
    assert ac(4) < -0.5


def test_holt_winters_recovers_planted_season_exactly(spark):
    """On an exactly-periodic series (level 100, zero trend, seasonal
    pattern with mean 0) the triple smoother must hold level == 100,
    trend == 0, season == the planted offsets, and the one-step
    forecast == the next actual — all bit-exact. Warm-up rows (1..m)
    are dropped; keys with <= m observations emit nothing."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        holt_winters_additive,
    )

    S = [4.0, -2.0, 6.0, -8.0]
    rows = [(1, t, 100.0 + S[t % 4]) for t in range(12)]
    rows += [(2, t, 50.0) for t in range(4)]  # exactly m rows -> dropped
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = holt_winters_additive(df, "k", ["t"], "v", period=4)
    got = sorted(
        (r["t"], r["level"], r["trend"], r["season"], r["forecast"])
        for r in out.collect()
    )
    assert [t for t, *_ in got] == list(range(4, 12))
    assert all(r[0] >= 4 for r in got), "warm-up rows must be dropped"
    for t, level, trend, season, fcst in got:
        assert level == 100.0 and trend == 0.0
        assert season == S[t % 4]
        assert fcst == 100.0 + S[(t + 1) % 4]
    assert not any(r for r in out.collect() if r["k"] == 2)


def test_holt_winters_absorbs_season_where_holt_chases_it(spark):
    """The raison d'etre: on a periodic series, holt_linear's one-step
    forecast keeps a large error forever, holt_winters' goes to ~0."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        holt_linear,
        holt_winters_additive,
    )

    S = [10.0, -10.0, 10.0, -10.0]
    rows = [(1, t, 100.0 + S[t % 4]) for t in range(20)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    actual = {t: 100.0 + S[t % 4] for t in range(20)}
    hw = {r["t"]: r["forecast"] for r in
          holt_winters_additive(df, "k", ["t"], "v", period=4).collect()}
    hl = {r["t"]: r["forecast"] for r in
          holt_linear(df, "k", ["t"], "v").collect()}
    # compare forecasts for t+1 made at t, over the settled tail
    hw_err = max(abs(hw[t] - actual[t + 1]) for t in range(10, 19))
    hl_err = max(abs(hl[t] - actual[t + 1]) for t in range(10, 19))
    assert hw_err < 1e-9
    assert hl_err > 5.0


def test_seasonal_strength_separates_diurnal_from_flat(spark):
    """F_s near 1 when the series IS its hour-of-day profile, 0.0 on a
    constant series (Var(detrended) = 0 — the integer-decidable pin),
    and small when the 'seasonality' is one-off noise."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        seasonal_strength,
    )

    rows = []
    eid = 0
    for d in range(4):
        for h in range(24):
            rows.append((1, datetime(2024, 1, 1 + d, h), eid,
                         100.0 + (50.0 if h == 12 else 0.0)))
            eid += 1
            rows.append((2, datetime(2024, 1, 1 + d, h), eid, 100.0))
            eid += 1
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    out = {r.user_id: r for r in
           seasonal_strength(df, "user_id", "ts", "event_id", "value").collect()}
    assert out[1].strength > 0.8, "diurnal series must show high strength"
    assert out[2].strength == 0.0, "constant series pins to 0.0"
    assert out[1].n_events == out[2].n_events == 96


def test_theil_sen_ignores_planted_outlier_day(spark):
    """The whole point of the estimator: one corrupted day cannot move
    the median pairwise slope, while it would drag a least-squares fit.
    Planted: value = 2·day cents exactly, one day replaced by 1e6."""
    from datetime import datetime as dt

    from openmrs_patient_migration_script_spark.plans import QUERIES
    import pyspark.sql.functions as F2

    days = 15
    rows = []
    eid = 0
    for d in range(days):
        v = 10000.0 if d == 7 else 0.02 * d  # outlier day 7
        rows.append((eid, dt(2024, 1, 1 + d, 12), eid, "view", v, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        for t in ["events"]:
            df.write.mode("overwrite").parquet(f"{tmp}/{t}.parquet")
        out = QUERIES["ts_theil_sen"](spark, tmp).collect()[0]
    # true slope: 2 cents/day (value*100 = 2d) — the median pairwise
    # slope must be exactly 2 despite the 1e6 outlier day
    assert out.slope_den > 0
    assert out.slope_num == 2 * out.slope_den
    assert out.slope == 2.0


def test_cross_corr_planted_lead_lag(spark, tmp_path):
    """Cross-correlation on a planted lead-lag pair: purchases are the
    view series shifted by exactly +2 days (non-periodic counts), so
    r = 1.0 at lag 2 and strictly less at every other overlapping lag;
    the lag-2 overlap count matches the construction."""
    import datetime as dt

    from openmrs_patient_migration_script_spark.plans import QUERIES

    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    counts = [1, 2, 4, 8, 3, 7, 5, 6, 9, 10]  # aperiodic
    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for day, c in enumerate(counts):
        for _ in range(c):
            rows.append(
                (eid, t0 + dt.timedelta(days=day), 1, "view", 1.0, "{}")
            )
            eid += 1
            rows.append(
                (10_000 + eid, t0 + dt.timedelta(days=day + 2), 1,
                 "purchase", 1.0, "{}")
            )
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))

    out = {r.lag: r for r in
           QUERIES["ts_cross_corr"](spark, str(tmp_path)).collect()}
    assert out[2].xcorr == 1.0
    # 10 view days overlap purchase days 2..11 at lag 2 -> all 10 pair up
    assert out[2].n_days == 10
    for lag, r in out.items():
        if lag != 2 and r.n_days >= 3:
            assert r.xcorr < 1.0, f"lag {lag} unexpectedly perfect"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_interpolate_segment_binding_matches_inline_form(spark):
    """The r11 hoist of interpolate_linear's per-segment length: grid
    values must equal the pre-hoist inline-size(sequence(...)) form
    bit-for-bit (identical int64 numerators, one double division)."""
    from pyspark.sql import functions as F2

    from openmrs_patient_migration_script_spark.operators.timeseries import (
        interpolate_linear,
    )

    rows = []
    for key in (1, 2):
        for h, val in [(0, 10.0), (5, 4.5), (6, -2.25), (13, 100.0)]:
            rows.append((key, f"2024-03-01 0{h}:17:00" if h < 10
                         else f"2024-03-01 {h}:17:00", val + key))
    df = spark.createDataFrame(rows, "user_id long, ts string, value double")
    df = df.select("user_id", F2.to_timestamp("ts").alias("ts"), "value")
    got = interpolate_linear(df, "user_id", "ts", "value")
    interval = "interval 1 hour"
    obs = df.groupBy(
        F2.col("user_id").alias("key"),
        F2.date_trunc("hour", F2.col("ts")).alias("bucket"),
    ).agg(
        F2.sum(F2.round(F2.col("value") * F2.lit(1_000_000)).cast("long")).alias("vs")
    )
    per_key = obs.groupBy("key").agg(
        F2.sort_array(F2.collect_list(F2.struct("bucket", "vs"))).alias("obs_arr")
    )
    inline = F2.expr(
        f"""
        flatten(transform(obs_arr, (o, i) ->
          CASE WHEN try_element_at(obs_arr, i + 2) IS NULL THEN
            array(struct(o.bucket AS bucket,
                         cast(o.vs AS double) / 1000000.0D AS value_interp,
                         true AS observed))
          ELSE
            transform(
              sequence(o.bucket,
                       try_element_at(obs_arr, i + 2).bucket - {interval},
                       {interval}),
              (b, j) -> struct(
                b AS bucket,
                cast(o.vs * (size(sequence(o.bucket,
                                           try_element_at(obs_arr, i + 2).bucket,
                                           {interval})) - 1 - j)
                     + try_element_at(obs_arr, i + 2).vs * j AS double)
                / (cast(size(sequence(o.bucket,
                                      try_element_at(obs_arr, i + 2).bucket,
                                      {interval})) - 1 AS double) * 1000000.0D)
                AS value_interp,
                j = 0 AS observed))
          END))
        """
    )
    expected = per_key.select("key", F2.explode(inline).alias("g")).select(
        "key", "g.bucket", "g.value_interp", "g.observed"
    )
    assert _rows(got) == _rows(expected)
    # the 06:17 -> 13:17 gap spans 7 buckets: interpolation really ramps
    interp_vals = [r for r in got.collect() if not r["observed"]]
    assert len(interp_vals) > 0


def test_chunked_history_fold_matches_monolithic_fold(spark):
    """The r11 chunked rewrite of the sequential history folds: folding
    in fixed-size chunks with carried state must emit the exact values
    (and order) of the monolithic aggregate — across chunk boundaries,
    with a partial final chunk, and through the NULL-seeded first step.
    Exercised with chunk=7 (many boundaries) and the ewma step."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        _chunked_history_fold,
    )

    a = 0.5
    n = 39  # 5 full chunks of 7 + a partial chunk of 4
    df = spark.range(1, n + 1).select(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("id").alias("o"),
                    ((F.col("id") * 13 % 29) / 3.0).alias("v"),
                )
            )
        ).alias("seq")
    )

    def step(acc, x):
        nxt = F.when(acc["prev"].isNull(), x["v"]).otherwise(
            F.lit(a) * x["v"] + F.lit(1.0 - a) * acc["prev"]
        )
        return F.struct(
            F.concat(acc["arr"], F.array(nxt)).alias("arr"),
            nxt.alias("prev"),
        )

    mono = F.aggregate(
        F.col("seq"),
        F.struct(
            F.array().cast("array<double>").alias("arr"),
            F.lit(None).cast("double").alias("prev"),
        ),
        step,
        lambda acc: acc["arr"],
    )
    chunked = _chunked_history_fold(
        F.col("seq"),
        [("prev", F.lit(None).cast("double"))],
        step,
        "double",
        chunk=7,
    )
    row = df.select(mono.alias("m"), chunked.alias("c")).collect()[0]
    assert row["m"] == row["c"] and len(row["m"]) == n


def test_chunked_fold_operators_cross_default_chunk_boundary(spark):
    """Operator-level pin: a key longer than the default 512-chunk must
    still satisfy the recurrences exactly (spot-checked against a pure
    Python replay of ewma and cusum)."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        cusum,
        ewma,
    )

    n = 1200
    vals = [((i * 13) % 29) / 3.0 for i in range(1, n + 1)]
    df = spark.createDataFrame(
        [(1, i + 1, v) for i, v in enumerate(vals)], "k long, o long, v double"
    )
    got = {r["o"]: r["ewma"] for r in ewma(df, "k", ["o"], "v").collect()}
    s = None
    for i, v in enumerate(vals):
        s = v if s is None else 0.5 * v + 0.5 * s
        assert got[i + 1] == s  # bit-exact: same IEEE op order
    got_c = {
        r["o"]: (r["cusum_hi"], r["cusum_lo"])
        for r in cusum(
            df, "k", ["o"], "v", target=4.0, slack=0.5, threshold=9.0
        ).collect()
    }
    sh = sl = 0
    for i, v in enumerate(vals):
        vs = round(v * 1_000_000)
        sh = max(0, sh + (vs - 4_500_000))
        sl = max(0, sl + (3_500_000 - vs))
        assert got_c[i + 1] == (sh / 1e6, sl / 1e6)


def test_interpolate_segment_binding_survives_optimizer(spark):
    """Plan pin: interpolate_linear's per-segment length binding must keep
    inline `size(sequence(` occurrences at <= 3 in the optimized plan (one
    once-per-segment binding + the two-part max_buckets guard). Inlining the
    length twice in the inner per-bucket lambda instead gives 4."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        interpolate_linear,
    )

    df = spark.createDataFrame(
        [(1, "2031-01-01 00:00:00", 1.0), (1, "2031-01-01 02:00:00", 5.0)],
        "series_id long, ts string, val double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = interpolate_linear(df, "series_id", "ts", "val")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("size(sequence(") <= 3, plan
