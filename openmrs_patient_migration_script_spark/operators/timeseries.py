"""Time-series regularization: gap-filling resample with forward fill
(builder brief extension — the feature-engineering step that turns an
irregular event log into the fixed-cadence grid sequence models train on).

Scale shape: the raw event log is aggregated FIRST (one shuffle, map-side
partial combine), then one key-shuffle gathers each key's sorted
observation array, and the dense grid is generated AND filled row-locally
(each observation expands into its gap segment via array HOFs). Only
observations ever shuffle — the dense grid (observations × gap factor)
exists solely inside the final explode, never in an exchange. Skew only
if one key spans a vastly longer time range than the rest; `max_buckets`
bounds that with an in-plan assert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_GRID = "interval 1 hour"  # the step of the hourly grids below


def _guard_grid_span(per_key: DataFrame, max_buckets: int) -> DataFrame:
    """In-plan guard (assert_true): fails the job on a key whose hourly
    grid would exceed ``max_buckets``, with zero extra passes over the
    data. element_at(.., -1) is ANSI-safe here: obs_arr comes from a
    groupBy collect_list, so every group has >= 1 element and the
    negative index never falls out of bounds."""
    span = F.expr(
        "size(sequence(obs_arr[0].bucket, "
        f"element_at(obs_arr, -1).bucket, {_GRID}))"
    )
    return per_key.where(
        F.assert_true(
            span <= max_buckets,
            F.concat(
                F.lit("grid would emit "),
                span.cast("string"),
                F.lit(" buckets for key "),
                F.col("key").cast("string"),
                F.lit(f" (> {max_buckets})"),
            ),
        ).isNull()
    )


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    max_buckets: int | None = 100_000,
) -> DataFrame:
    """(key, bucket, value_sum, observed) on a dense per-key hourly grid;
    buckets with no events carry the previous observed value forward
    (NULL before the first observation). ``max_buckets`` fails loudly if
    one key would explode the grid (a data bug at 100 TB, not a workload)."""
    obs = df.groupBy(
        F.col(key_col).alias("key"),
        F.date_trunc("hour", F.col(ts_col)).alias("bucket"),
    ).agg(F.round(F.sum(value_col), 6).alias("v"))
    # One further shuffle (key) gathers each key's sorted observation
    # array; the dense grid is then generated AND filled row-locally —
    # each observation expands into its gap segment (itself + every
    # missing bucket before the next observation) via array HOFs. The
    # naive grid-join + running-window form shuffles the DENSE grid
    # (observations × gap factor) twice; this shuffles observations only
    # — measured 3-4x faster at a 10x gap factor, and the advantage
    # grows with sparsity.
    per_key = obs.groupBy("key").agg(
        F.sort_array(F.collect_list(F.struct("bucket", "v"))).alias("obs_arr")
    )
    if max_buckets is not None:
        per_key = _guard_grid_span(per_key, max_buckets)
    filled = F.expr(
        f"""
        flatten(transform(obs_arr, (o, i) ->
          transform(
            sequence(o.bucket,
                     coalesce(try_element_at(obs_arr, i + 2).bucket - {_GRID},
                              o.bucket),
                     {_GRID}),
            b -> struct(b AS bucket, o.v AS value_sum,
                        b = o.bucket AS observed))))
        """
    )
    return per_key.select("key", F.explode(filled).alias("g")).select(
        "key", "g.bucket", "g.value_sum", "g.observed"
    )


def interpolate_linear(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """(key, bucket, value_interp, observed) on a dense per-key hourly grid
    with LINEAR interpolation between observations — the other half of the
    X15 regularization pair: `resample_ffill` carries the last value (the
    right call for state-like series), this ramps between neighbours (the
    right call for flow-like series feeding sequence models).

    Same observations-only shuffle shape as `resample_ffill` (see module
    docstring): events aggregate first, one key-shuffle gathers the sorted
    observation array, and every dense bucket is generated row-locally —
    the grid never enters an exchange.

    Exactness: per-bucket values aggregate as 6-decimal SCALED LONGS
    (``sum(cast(round(value*1e6) as long))`` — reassociation-immune, the
    events_transitions recipe), and the interpolated value is computed as
    one double division of exact int64 operands:
    ``(vs0*(n-j) + vs1*j) / (n*1e6)``. IEEE-754 division of identical
    operands is correctly rounded in both engines, so results are
    bit-identical with no round() anywhere. Overflow margin: |vs| ≤ 1e10
    (per-bucket sums) × n ≤ 1e5 grid span = 1e15 < 2^63; the int64→double
    cast of the numerator rounds identically on both sides, so magnitude
    beyond 2^53 costs ulps, never agreement. A key whose grid would span
    more than 100 000 buckets fails the job in-plan.
    """
    obs = df.groupBy(
        F.col(key_col).alias("key"),
        F.date_trunc("hour", F.col(ts_col)).alias("bucket"),
    ).agg(
        F.sum(F.round(F.col(value_col) * F.lit(1_000_000)).cast("long")).alias("vs")
    )
    per_key = obs.groupBy("key").agg(
        F.sort_array(F.collect_list(F.struct("bucket", "vs"))).alias("obs_arr")
    )
    per_key = _guard_grid_span(per_key, 100_000)
    # Each observation expands into the half-open segment [self, next):
    # n = buckets between self and next; bucket j of the segment ramps
    # (n-j)/n of self's value to j/n of next's. The final observation has
    # no successor and emits itself alone (vs/1e6 — and the interior j=0
    # branch (vs*n)/(n*1e6) is the same correctly-rounded quotient, so the
    # two forms can never disagree on an observed bucket).
    #
    # The successor struct and the segment length n are hoisted into a
    # one-element array binding (transform over array(struct(...))): HOF
    # lambda bodies are interpreted per element with NO common-
    # subexpression hoisting, so inlining size(sequence(...)) in the
    # per-bucket lambda re-materializes the full O(n) timestamp array for
    # EVERY grid bucket — O(n²) per segment. The binding makes each
    # bucket O(1); the arithmetic (and therefore every emitted value) is
    # unchanged.
    filled = F.expr(
        f"""
        flatten(transform(obs_arr, (o, i) ->
          CASE WHEN try_element_at(obs_arr, i + 2) IS NULL THEN
            array(struct(o.bucket AS bucket,
                         cast(o.vs AS double) / 1000000.0D AS value_interp,
                         true AS observed))
          ELSE
            flatten(transform(
              array(struct(
                try_element_at(obs_arr, i + 2).bucket AS nb,
                try_element_at(obs_arr, i + 2).vs AS nvs,
                size(sequence(o.bucket,
                              try_element_at(obs_arr, i + 2).bucket,
                              {_GRID})) - 1 AS n)),
              s -> transform(
                sequence(o.bucket, s.nb - {_GRID}, {_GRID}),
                (b, j) -> struct(
                  b AS bucket,
                  cast(o.vs * (s.n - j) + s.nvs * j AS double)
                  / (cast(s.n AS double) * 1000000.0D)
                  AS value_interp,
                  j = 0 AS observed))))
          END))
        """
    )
    return per_key.select("key", F.explode(filled).alias("g")).select(
        "key", "g.bucket", "g.value_interp", "g.observed"
    )


_FOLD_CHUNK = 512


def _chunked_history_fold(seq, state_zero, step, out_elem_type, chunk=_FOLD_CHUNK):
    """Evaluate ``aggregate(seq, struct(arr=[], *state), step, acc -> acc.arr)``
    in fixed-size chunks, preserving the step arithmetic bit-for-bit.

    The monolithic history fold appends each output with
    ``concat(acc.arr, array(out))`` — an O(position) array copy per
    element, O(n²) per key (measured: 63 s of single-task time for ONE
    64k-element key, while ``max_group_size`` admits 100k). Folding
    chunk-by-chunk keeps the copy quadratic only WITHIN a chunk
    (O(n·chunk) for the OUTPUT array): the outer accumulator carries an
    array-of-chunk-outputs (a shallow pointer concat per chunk, never a
    re-copy of emitted elements) plus the state fields, and each
    chunk's inner fold seeds from the carried state — the step
    expressions see the same inputs in the same order, so every emitted
    value is IDENTICAL to the monolithic fold (pinned in
    tests/test_timeseries.py).

    ``state_zero``: ordered (name, Column) seeds for the state fields
    — scalar OR array-typed (`holt_winters_additive` carries its
    period-bounded seasonal buffers here; per-step copies of an array
    state are unchanged from the monolithic fold and bounded by the
    state's own length, not by the key's element count) — in the exact
    field order ``step``'s returned struct uses after ``arr``.
    ``step``: the existing (acc, x) -> struct("arr", *state)
    lambda, reused verbatim. ``out_elem_type``: DDL type of one output
    element. The inner fold result is bound ONCE via a one-element
    transform (the `normalized()` rule: interpreted HOF bodies
    re-evaluate every reference)."""
    names = [n for n, _ in state_zero]

    def outer_step(acc, ch):
        inner_zero = F.struct(
            F.array().cast(f"array<{out_elem_type}>").alias("arr"),
            *[acc[n].alias(n) for n in names],
        )
        inner = F.aggregate(ch, inner_zero, step)
        return F.element_at(
            F.transform(
                F.array(inner),
                lambda t: F.struct(
                    F.concat(acc["chunks"], F.array(t["arr"])).alias("chunks"),
                    *[t[n].alias(n) for n in names],
                ),
            ),
            1,
        )

    n_chunks = F.greatest(
        F.ceil(F.size(seq) / F.lit(chunk)).cast("int"), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda ci: F.slice(
            seq, (ci - F.lit(1)) * F.lit(chunk) + F.lit(1), F.lit(chunk)
        ),
    )
    outer_zero = F.struct(
        F.array().cast(f"array<array<{out_elem_type}>>").alias("chunks"),
        *[c.alias(n) for n, c in state_zero],
    )
    return F.aggregate(
        chunks, outer_zero, outer_step, lambda acc: F.flatten(acc["chunks"])
    )


def ewma(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
    max_group_size: int = 100_000,
) -> DataFrame:
    """Exponentially weighted moving average per key — the linear
    recurrence ``s_i = alpha*v_i + (1-alpha)*s_{i-1}`` (seeded
    ``s_0 = v_0``) no SQL window frame can express: every output depends
    on the ENTIRE prefix, so a frame-agg re-derivation is either O(n²)
    (per-row prefix folds) or numerically explosive (the closed form
    divides by ``(1-alpha)^i``). Returns (key, order_cols..., ewma).

    Plan: ONE shuffle gathers each key's sorted (order, value) array,
    then a single `F.aggregate` fold walks it sequentially — O(n) per
    key, deterministic order (the fold IS the recurrence, so results are
    bit-stable across partitionings, unlike reassociative float sums) —
    and posexplode restores rows. The whole-group buffer makes this the
    bounded-group shape (`agg_listagg`'s contract): ``max_group_size``
    fails loudly in-plan via the same assert_true guard. Unbounded keys
    at 100 TB re-chunk by (key, epoch) with carried seeds — documented,
    not implemented.
    """
    seq = F.sort_array(
        F.collect_list(F.struct(*[F.col(c) for c in order_cols], F.col(value_col)))
    )
    per_key = df.groupBy(F.col(key_col)).agg(seq.alias("seq"))
    guard = F.assert_true(
        F.size("seq") <= max_group_size,
        F.concat(
            F.lit("ewma group for key "),
            F.col(key_col).cast("string"),
            F.lit(" has "),
            F.size("seq").cast("string"),
            F.lit(f" rows (> {max_group_size})"),
        ),
    )
    per_key = per_key.where(guard.isNull())
    # sequential fold: accumulator = (emitted smoothed values, prev state);
    # the first element seeds the recurrence with its raw value. Chunked
    # (r11): same step expressions, O(n·chunk) copies instead of O(n²).
    a = float(alpha)
    folded = _chunked_history_fold(
        F.col("seq"),
        [("prev", F.lit(None).cast("double"))],
        lambda acc, x: F.struct(
            F.concat(
                acc["arr"],
                F.array(
                    F.when(acc["prev"].isNull(), x[value_col]).otherwise(
                        F.lit(a) * x[value_col] + F.lit(1.0 - a) * acc["prev"]
                    )
                ),
            ).alias("arr"),
            F.when(acc["prev"].isNull(), x[value_col])
            .otherwise(F.lit(a) * x[value_col] + F.lit(1.0 - a) * acc["prev"])
            .alias("prev"),
        ),
        "double",
    )
    out = per_key.select(
        key_col, F.posexplode(F.arrays_zip(F.col("seq"), folded)).alias("i", "z")
    )
    # NO round(): the sequential fold is order-deterministic, so the raw
    # doubles are bit-identical across engines/partitionings — while the
    # halving recurrence lands on exact .5-at-6dp boundaries where Spark's
    # BigDecimal HALF_UP and DuckDB's scaled-nearbyint round() disagree
    # (measured: a clean 1e-6 artifact). Exact compare beats rounding here.
    return out.select(
        key_col,
        *[F.col(f"z.seq.{c}").alias(c) for c in order_cols],
        F.col("z.1").alias("ewma"),
    )


def holt_linear(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.5,
    max_group_size: int = 100_000,
) -> DataFrame:
    """Holt's linear-trend method (double exponential smoothing) per key —
    the two-state recurrence

        level_i = alpha·v_i + (1-alpha)·(level_{i-1} + trend_{i-1})
        trend_i = beta·(level_i - level_{i-1}) + (1-beta)·trend_{i-1}

    seeded ``level_0 = v_0, trend_0 = 0`` — the drift-following smoother
    `ewma` is provably blind to: under a steady ramp EWMA lags by
    ``(1-alpha)/alpha`` steps forever, while the trend state closes the
    gap. Returns (key, order_cols..., level, trend, forecast) where
    ``forecast = level + trend`` is the one-step-ahead prediction — the
    per-key capacity/anomaly baseline a monitoring pipeline thresholds
    against.

    Same execution contract as `ewma`: ONE shuffle gathers each key's
    sorted array, a single sequential `F.aggregate` fold walks it (the
    fold IS the recurrence — bit-stable across partitionings; the trend
    update inlines the new level expression, the identical tree a
    recursive-CTE oracle replays), posexplode restores rows, and the
    bounded-group contract fails loudly in-plan via assert_true.
    Unbounded keys at 100 TB re-chunk by (key, epoch) with carried
    (level, trend) seeds — documented, not implemented.
    """
    seq = F.sort_array(
        F.collect_list(F.struct(*[F.col(c) for c in order_cols], F.col(value_col)))
    )
    per_key = df.groupBy(F.col(key_col)).agg(seq.alias("seq"))
    guard = F.assert_true(
        F.size("seq") <= max_group_size,
        F.concat(
            F.lit("holt_linear group for key "),
            F.col(key_col).cast("string"),
            F.lit(" has "),
            F.size("seq").cast("string"),
            F.lit(f" rows (> {max_group_size})"),
        ),
    )
    per_key = per_key.where(guard.isNull())
    a, b = float(alpha), float(beta)

    def _new_level(acc, x):
        return F.lit(a) * x[value_col] + F.lit(1.0 - a) * (
            acc["level"] + acc["trend"]
        )

    def _new_trend(acc, x):
        # inlines _new_level — the same expression tree twice, exactly as
        # the recursive-CTE oracle writes it; IEEE-deterministic, so both
        # copies (and both engines) produce the identical double
        return F.lit(b) * (_new_level(acc, x) - acc["level"]) + F.lit(
            1.0 - b
        ) * acc["trend"]

    folded = _chunked_history_fold(
        F.col("seq"),
        [
            ("level", F.lit(None).cast("double")),
            ("trend", F.lit(None).cast("double")),
        ],
        lambda acc, x: F.struct(
            F.concat(
                acc["arr"],
                F.array(
                    F.when(
                        acc["level"].isNull(),
                        F.struct(
                            x[value_col].alias("level"),
                            F.lit(0.0).alias("trend"),
                        ),
                    ).otherwise(
                        F.struct(
                            _new_level(acc, x).alias("level"),
                            _new_trend(acc, x).alias("trend"),
                        )
                    )
                ),
            ).alias("arr"),
            F.when(acc["level"].isNull(), x[value_col])
            .otherwise(_new_level(acc, x))
            .alias("level"),
            F.when(acc["level"].isNull(), F.lit(0.0))
            .otherwise(_new_trend(acc, x))
            .alias("trend"),
        ),
        "struct<level: double, trend: double>",
    )
    out = per_key.select(
        key_col, F.posexplode(F.arrays_zip(F.col("seq"), folded)).alias("i", "z")
    )
    # no round(): sequential fold, order-deterministic — see `ewma`
    return out.select(
        key_col,
        *[F.col(f"z.seq.{c}").alias(c) for c in order_cols],
        F.col("z.1.level").alias("level"),
        F.col("z.1.trend").alias("trend"),
        (F.col("z.1.level") + F.col("z.1.trend")).alias("forecast"),
    )


_SCALE = 1_000_000  # the fixed-point factor of the exact integer kernels below
_SEASON_WINDOW_MS = 43_200_000  # the ±12 h trend window of seasonal_decompose
_MAX_GROUP_SIZE = 100_000  # rows per key that cusum and sequence_pattern gather


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key time-weighted average (TWAP): each observation's value is
    weighted by how long it HELD — the duration until the next
    observation — so irregular sampling can't bias the mean the way a
    plain `avg()` does (a sensor that reports 100x more often while idle
    drags the naive mean toward idle). Equivalent to integrating the
    forward-fill step curve and dividing by the observed span; computed
    directly from gaps so the dense grid never materializes.

    Exactness: values scale to int64 fixed-point, durations are integer
    epoch-millis, and the two carried sums — Σ(vᵢ·durᵢ) as DECIMAL(38,0)
    and Σdurᵢ as int64 — are exact, so the single closing division is
    partition-order free (the `agg_regression` sufficient-statistics
    recipe applied to the time domain).

    Plan: ONE Exchange on the key feeds the lead() window, and the
    groupBy on the SAME key reuses that partitioning — Catalyst plans no
    second shuffle (pinned in test_plan_quality for the sessionize
    sibling). Keys need >= 2 observations (a single point holds for zero
    measured time); they are dropped, mirroring `group_ols`'s n>=2.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    ms = F.unix_millis(F.col(ts_col))
    dur = (F.lead(ms).over(w) - ms).alias("_dur")
    vs = F.round(F.col(value_col) * _SCALE).cast("long").alias("_vs")
    seg = df.select(F.col(key_col), vs, dur).filter(F.col("_dur").isNotNull())
    agg = seg.groupBy(key_col).agg(
        F.count("*").alias("n_segments"),
        F.sum((F.col("_vs") * F.col("_dur")).cast("decimal(38,0)")).alias("num"),
        F.sum("_dur").alias("den"),
    )
    return agg.filter(F.col("den") > 0).select(
        key_col,
        "n_segments",
        (
            F.col("num").cast("double")
            / (F.col("den").cast("double") * F.lit(float(_SCALE)))
        ).alias("twap"),
    )


def seasonal_decompose(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    emit_scaled: bool = False,
) -> DataFrame:
    """Classic seasonal-means decomposition per key:

        value = trend + seasonal + resid

    with trend = the centered ±12 h (``_SEASON_WINDOW_MS``) time-RANGE
    mean, seasonal = the per-(key, hour-of-day) mean of the DETRENDED series, and resid
    the exact remainder — the diurnal-profile split that makes anomaly
    thresholds season-aware (a 3am traffic level that is normal at 3am
    and an incident at noon). Returns (key, id, trend, seasonal, resid).

    Exactness: values become 1e6-scaled longs up front; both means are
    integer HALF_UP divisions of exact long sums (sign-split for the
    detrended series, which goes negative), and the residual is pure
    integer subtraction — the whole decomposition is reassociation-
    immune, additivity holds exactly (trend+seasonal+resid == scaled
    input by construction), and the final /1e6 display division is the
    only float op.

    Scale: ONE data-sized Exchange (the key-partitioned RANGE window —
    a two-pointer walk per partition); the seasonal profile aggregates
    to #keys×24 rows (map-side combine) and joins back as a BROADCAST.

    ``emit_scaled`` returns the pre-display integer columns (_vs,
    _trend6, _d, _seasonal6) instead of the /1e6 floats — the exact
    substrate `seasonal_strength` aggregates without re-rounding.
    """
    ems = F.unix_millis(F.col(ts_col))
    base = df.select(
        F.col(key_col),
        F.col(id_col),
        F.round(F.col(value_col) * _SCALE).cast("long").alias("_vs"),
        ems.alias("_ems"),
        F.hour(F.col(ts_col)).alias("_hod"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("_ems")
        .rangeBetween(-_SEASON_WINDOW_MS, _SEASON_WINDOW_MS)
    )
    det = (
        base.withColumn("_s", F.sum("_vs").over(w))
        .withColumn("_n", F.count("*").over(w))
        # vs >= 0 here (value is non-negative by contract); the window
        # always contains the current row, so _n >= 1
        .withColumn("_trend6", F.expr("(2 * _s + _n) div (2 * _n)"))
        .withColumn("_d", F.col("_vs") - F.col("_trend6"))
    )
    # det feeds BOTH the seasonal profile and the final join; without a
    # checkpoint Spark replays the corpus scan + RANGE-window shuffle
    # once per consumer (verified in the plan: two Scan/Exchange/Window
    # chains). Materializing once follows the `tf_idf` precedent —
    # trade one executor-local write for half the scan/shuffle volume.
    det = det.localCheckpoint(eager=True)
    seas = (
        det.groupBy(key_col, "_hod")
        .agg(F.sum("_d").alias("_sd"), F.count("*").alias("_cn"))
        .withColumn(
            "_seasonal6",
            F.expr(
                "case when _sd >= 0 then (2 * _sd + _cn) div (2 * _cn) "
                "else -((-2 * _sd + _cn) div (2 * _cn)) end"
            ),
        )
        .select(key_col, "_hod", "_seasonal6")
    )
    scaled = det.join(F.broadcast(seas), [key_col, "_hod"])
    if emit_scaled:
        return scaled
    return scaled.select(
        key_col,
        id_col,
        (F.col("_trend6") / F.lit(float(_SCALE))).alias("trend"),
        (F.col("_seasonal6") / F.lit(float(_SCALE))).alias("seasonal"),
        ((F.col("_d") - F.col("_seasonal6")) / F.lit(float(_SCALE))).alias("resid"),
    )


def seasonal_decompose_sql() -> str:
    """DuckDB twin of ``seasonal_decompose(events, "user_id", "ts",
    "event_id", "value", emit_scaled=True)``: the CTEs ``base``, ``tr``,
    ``det`` and ``seas`` (the kernel's stages) and ``decomp`` (user_id,
    event_id, trend6, d, seasonal6 — the 1e6-scaled trend, detrended
    value and seasonal mean; resid = d - seasonal6)."""
    return f"""base AS (
      SELECT user_id, event_id,
             CAST(round(value * {_SCALE}) AS BIGINT) AS vs,
             epoch_ms(ts) AS ems, hour(ts) AS hod
      FROM events
    ),
    tr AS (
      SELECT *, sum(vs) OVER w AS s, count(*) OVER w AS n
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ems
                   RANGE BETWEEN {_SEASON_WINDOW_MS} PRECEDING
                             AND {_SEASON_WINDOW_MS} FOLLOWING)
    ),
    det AS (
      SELECT user_id, event_id, hod,
             (2 * s + n) // (2 * n) AS trend6,
             vs - ((2 * s + n) // (2 * n)) AS d
      FROM tr
    ),
    seas AS (
      SELECT user_id, hod,
             CASE WHEN sum(d) >= 0
                  THEN (2 * sum(d) + count(*)) // (2 * count(*))
                  ELSE -((-2 * sum(d) + count(*)) // (2 * count(*))) END
               AS seasonal6
      FROM det GROUP BY 1, 2
    ),
    decomp AS (
      SELECT det.user_id, det.event_id, trend6, d, seasonal6
      FROM det JOIN seas ON det.user_id = seas.user_id AND det.hod = seas.hod
    )"""


def seasonal_strength(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Seasonal-strength readout per key (Hyndman & Athanasopoulos, FPP:
    F_s = max(0, 1 − Var(resid)/Var(detrended)) over the
    `seasonal_decompose` split) — the one number that says whether the
    per-key seasonal profile is WORTH fitting: ~0 means the hour-of-day
    profile explains nothing (don't deploy season-aware thresholds for
    this key), →1 means the series is dominated by its diurnal cycle.
    Completes the decomposition family the way `graph_modularity`
    certifies LPA: the fitted structure ships with its explanatory-power
    number.

    Exactness: the decomposition's scaled-long internals feed exact
    integer power sums (n, Σd, Σd², Σr, Σr² in DECIMAL — Σd² can pass
    int64, so the sums stay internal); both variances reduce to the
    n·Σx² − (Σx)² form and the strength is ONE row-local double chain
    rounded 6dp, 0.0-pinned when Var(detrended) = 0 (integer-decidable).

    Scale: everything up to the residuals is `seasonal_decompose`'s
    plan (one data-sized RANGE-window Exchange, broadcast profile);
    the power sums add one key-keyed agg."""
    scaled = seasonal_decompose(
        df, key_col, ts_col, id_col, value_col, emit_scaled=True
    )
    dec = "decimal(19,0)"
    r = F.col("_d") - F.col("_seasonal6")
    s = scaled.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("_d").cast(dec)).cast("decimal(38,0)").alias("_sd"),
        F.sum(F.col("_d").cast(dec) * F.col("_d").cast(dec))
        .cast("decimal(38,0)")
        .alias("_sdd"),
        F.sum(r.cast(dec)).cast("decimal(38,0)").alias("_sr"),
        F.sum(r.cast(dec) * r.cast(dec)).cast("decimal(38,0)").alias("_srr"),
    )
    n = F.col("n_events").cast(dec)
    num = (n * F.col("_srr") - F.col("_sr") * F.col("_sr")).cast("decimal(38,0)")
    den = (n * F.col("_sdd") - F.col("_sd") * F.col("_sd")).cast("decimal(38,0)")
    return s.select(
        key_col,
        "n_events",
        F.when(den == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0) - num.cast("double") / den.cast("double"),
                ),
                6,
            )
        )
        .alias("strength"),
    )


def cusum(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    target: float,
    slack: float,
    threshold: float,
) -> DataFrame:
    """Two-sided CUSUM changepoint detection per key (Page 1954) — the
    drift monitor for ingestion pipelines: a persistent shift of the
    value's mean accumulates past ``threshold`` even when every single
    reading stays inside normal bounds (the case plain outlier audits
    like `dq_anomaly` are blind to). The recurrence

        S⁺_i = max(0, S⁺_{i-1} + (v_i − (target+slack)))
        S⁻_i = max(0, S⁻_{i-1} + ((target−slack) − v_i))

    is prefix-dependent with a clamp, so no SQL window frame expresses
    it — same class as `ewma`, and the same plan: ONE shuffle gathers
    each key's sorted (order, value) array, a single `F.aggregate` fold
    walks it, posexplode restores rows. Bounded-group contract enforced
    in-plan (an assert on 100 000 rows per key).

    Unlike ewma's float fold, EVERYTHING here is int64: values scale to
    1e6 fixed-point on ingest and the recurrence is add/subtract/
    max — exact, so the oracle replay (recursive CTE) matches to the
    bit with no IEEE-ordering argument needed. Returns (key,
    order_cols..., cusum_hi, cusum_lo, alarm) with the cusums descaled
    once (a single int64→double division, deterministic).
    """
    t_hi = round((target + slack) * _SCALE)
    t_lo = round((target - slack) * _SCALE)
    h = round(threshold * _SCALE)
    zero = F.lit(0).cast("long")
    seq = F.sort_array(
        F.collect_list(
            F.struct(
                *[F.col(c) for c in order_cols],
                F.round(F.col(value_col) * _SCALE).cast("long").alias("_vs"),
            )
        )
    )
    per_key = df.groupBy(F.col(key_col)).agg(seq.alias("seq"))
    guard = F.assert_true(
        F.size("seq") <= _MAX_GROUP_SIZE,
        F.concat(
            F.lit("cusum group for key "),
            F.col(key_col).cast("string"),
            F.lit(" has "),
            F.size("seq").cast("string"),
            F.lit(f" rows (> {_MAX_GROUP_SIZE})"),
        ),
    )
    per_key = per_key.where(guard.isNull())

    def step(acc, x):
        sh = F.greatest(zero, acc["sh"] + (x["_vs"] - F.lit(t_hi)))
        sl = F.greatest(zero, acc["sl"] + (F.lit(t_lo) - x["_vs"]))
        return F.struct(
            F.concat(acc["arr"], F.array(F.struct(sh.alias("sh"), sl.alias("sl")))).alias("arr"),
            sh.alias("sh"),
            sl.alias("sl"),
        )

    folded = _chunked_history_fold(
        F.col("seq"),
        [("sh", zero), ("sl", zero)],
        step,
        "struct<sh:bigint,sl:bigint>",
    )
    out = per_key.select(
        key_col, F.posexplode(F.arrays_zip(F.col("seq"), folded)).alias("i", "z")
    )
    scale_d = F.lit(float(_SCALE))
    return out.select(
        key_col,
        *[F.col(f"z.seq.{c}").alias(c) for c in order_cols],
        (F.col("z.1.sh").cast("double") / scale_d).alias("cusum_hi"),
        (F.col("z.1.sl").cast("double") / scale_d).alias("cusum_lo"),
        ((F.col("z.1.sh") > h) | (F.col("z.1.sl") > h)).alias("alarm"),
    )


def sequence_pattern(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    type_col: str,
    code_map: dict[str, str],
    pattern: str,
) -> DataFrame:
    """MATCH_RECOGNIZE-lite: per-key detection of an ordered event pattern
    over the time-sorted event string. Each event maps to a single
    character (``code_map``; unmapped types become ``.``), the key's
    events concatenate in (ts, tiebreak) order, and two detections run as
    row-local string ops on that sequence:

    - ``n_contig``: non-overlapping occurrences of the CONTIGUOUS pattern
      (length arithmetic over ``replace`` — the classic counting trick);
    - ``has_subseq``: whether the pattern occurs as a SUBSEQUENCE (gaps
      allowed — the funnel semantics), via a ``%``-interleaved LIKE.

    Returns (key, n_events, n_contig, has_subseq). Plan: ONE shuffle
    gathers each key's sorted codes (bytes per event: the code, the order
    key — not the full row); everything downstream is row-local. This is
    the bounded-group shape (`agg_listagg`'s contract): a key with more
    than 100 000 events fails loudly in-plan. Engines with a real
    MATCH_RECOGNIZE (Flink, Snowflake) compile to an NFA over the same
    per-key ordered stream; for fixed finite patterns the string form is
    equivalent and runs as whole-stage-codegen'd expressions instead of
    an interpreter.
    """
    for ch in pattern:
        if ch in "%_":
            raise ValueError(
                f"pattern char {ch!r} is a LIKE wildcard — the subsequence "
                "probe would silently over-match; pick letter codes"
            )
    code = None
    for k, v in code_map.items():
        if len(v) != 1:
            raise ValueError(f"code for {k!r} must be one char, got {v!r}")
        branch = F.when(F.col("_et") == k, F.lit(v))
        code = branch if code is None else code.when(F.col("_et") == k, F.lit(v))
    code = (code.otherwise(F.lit(".")) if code is not None else F.lit(".")).alias(
        "_code"
    )
    per_key = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).alias("_ts"),
            F.col(tiebreak_col).alias("_tb"),
            F.col(type_col).alias("_et"),
        )
        .select("key", "_ts", "_tb", code)
        .groupBy("key")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_ts", "_tb", "_code"))),
                    lambda x: x["_code"],
                ),
                "",
            ).alias("seq")
        )
    )
    guard = F.assert_true(
        F.length("seq") <= _MAX_GROUP_SIZE,
        F.concat(
            F.lit("sequence for key "),
            F.col("key").cast("string"),
            F.lit(" has "),
            F.length("seq").cast("string"),
            F.lit(f" events (> {_MAX_GROUP_SIZE})"),
        ),
    )
    per_key = per_key.where(guard.isNull())
    subseq_like = "%" + "%".join(pattern) + "%"
    return per_key.select(
        "key",
        F.length("seq").cast("long").alias("n_events"),
        (
            (F.length("seq") - F.length(F.replace(F.col("seq"), F.lit(pattern))))
            / F.lit(len(pattern))
        )
        .cast("long")
        .alias("n_contig"),
        F.col("seq").like(subseq_like).alias("has_subseq"),
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Label every event row with its session — the gaps-and-islands
    assignment that `stream_session`'s aggregate form cannot give you
    (attribution, per-event feature building, and sequence modeling all
    need the ROW→session mapping, not just per-session rollups).

    A new session starts when the gap to the previous event of the same
    key is >= ``gap_minutes`` (the same boundary convention as
    `F.session_window` / the ST3 oracle). Appends:

    - ``session_seq``: 1-based island number within the key;
    - ``session_start``: the session's first timestamp, carried forward
      row-locally as `last(CASE WHEN new THEN ts END) ignorenulls` over
      the SAME running frame — no second shuffle on (key, session_seq).

    Plan shape: ONE Exchange + one sort on the key; the lag window and
    the two running-frame carries chain over that single sort (Window
    nodes stack, the partitioning is reused). Gap arithmetic is integer
    milliseconds (`unix_millis`), so island boundaries are exact — no
    float anywhere, and the (ts, tiebreak) total order makes the
    labeling bit-deterministic under any partitioning. Hot keys are
    bounded by a single user's event count (the same contract as every
    per-key window in this repo); a key too hot for one task is a data
    bug upstream, not a plan choice.
    """
    from pyspark.sql.window import Window

    gap_ms = gap_minutes * 60 * 1000
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ms = F.unix_millis(F.col(ts_col))
    prev = F.lag(ms).over(w)
    flagged = df.withColumn(
        "_new",
        F.when(prev.isNull() | (ms - prev >= F.lit(gap_ms)), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    # both carries in ONE select over the same frame → a single Window node
    return flagged.select(
        *[c for c in df.columns],
        F.sum("_new").over(run).alias("session_seq"),
        F.last(F.when(F.col("_new") == 1, F.col(ts_col)), ignorenulls=True)
        .over(run)
        .alias("session_start"),
    )


_N_MADS = 5  # robust deviations from the key's median residual that flag


def seasonal_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Season-aware anomaly flags — the loop `seasonal_decompose`'s
    docstring promises closed: a reading is anomalous when its RESIDUAL
    (value minus trend minus diurnal profile) sits more than 5 robust
    deviations (``_N_MADS``) from the key's typical residual. Flagging on the
    residual instead of the raw value is the whole point — 3am traffic
    that is normal at 3am never alarms, and the median/MAD threshold
    (50% breakdown) is not itself dragged by the outliers it hunts.

    Exactness: residuals are exact 1e6-scaled integers by the
    decomposition's construction; the per-key median and MAD are
    lower-middle integer selections (`percentile_disc(0.5)` — the
    rolling-median convention), so flag membership is pure int64
    comparison, replayed exactly by the oracle. Keys whose MAD is zero
    (over half the residuals identical) emit nothing — the standard
    MAD degeneracy, declared rather than patched.

    Plan: the decomposition's one data Exchange + two key-rollup
    percentile aggregates whose outputs (one row per key) broadcast
    back. Returns (key, id, resid, deviation, threshold) for flagged
    rows, descaled for display.
    """
    dec = seasonal_decompose(df, key_col, ts_col, id_col, value_col)
    r6 = dec.select(
        key_col, id_col, F.round(F.col("resid") * _SCALE).cast("long").alias("_r6")
    )
    meds = r6.groupBy(key_col).agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _r6)")
        .cast("long")
        .alias("_med")
    )
    dev = r6.join(F.broadcast(meds), key_col).withColumn(
        "_dev", F.abs(F.col("_r6") - F.col("_med"))
    )
    mads = dev.groupBy(key_col).agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _dev)")
        .cast("long")
        .alias("_mad")
    )
    return (
        dev.join(F.broadcast(mads), key_col)
        .filter((F.col("_mad") > 0) & (F.col("_dev") > _N_MADS * F.col("_mad")))
        .select(
            key_col,
            id_col,
            (F.col("_r6") / F.lit(float(_SCALE))).alias("resid"),
            (F.col("_dev") / F.lit(float(_SCALE))).alias("deviation"),
            (_N_MADS * F.col("_mad") / F.lit(float(_SCALE))).alias("threshold"),
        )
    )


def holt_winters_additive(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.5,
    gamma: float = 0.5,
    period: int = 4,
    max_group_size: int = 100_000,
) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) per key —
    the full level + trend + SEASONAL recurrence (Winters 1960, public
    literature), the family member `holt_linear` is blind to: under a
    repeating intra-period pattern the double-smoother chases the
    season up and down forever, while the seasonal state absorbs it.
    Per observation i (m = ``period``):

        level_i  = α·(v_i − s_{i−m}) + (1−α)·(level_{i−1} + trend_{i−1})
        trend_i  = β·(level_i − level_{i−1}) + (1−β)·trend_{i−1}
        season_i = γ·(v_i − level_i) + (1−γ)·s_{i−m}

    seeded from the first m observations: level_m = their mean (built
    as the explicit left-associated sum ((v1+v2)+…)/m — the exact tree
    the oracle writes), trend_m = 0, s_j = v_j − level_m. Rows 1..m are
    warm-up (emitted with NULL states and dropped); keys with ≤ m
    observations produce no output. Returns (key, order_cols..., level,
    trend, season, forecast) where forecast = level + trend +
    s_{i−m+1} is the one-step-ahead prediction.

    Execution contract is `holt_linear`'s: ONE shuffle gathers each
    key's sorted array, a single sequential `F.aggregate` fold walks it
    carrying (level, trend, last-m seasonals) — the seasonal buffer
    rotates via slice+append, the trend/season updates INLINE the new
    level expression, so the whole state is one fixed IEEE tree a
    recursive-CTE oracle replays bit-exactly (raw doubles, no round);
    posexplode restores rows; the bounded-group contract fails loudly
    in-plan. Unbounded keys re-chunk by (key, epoch) with carried
    (level, trend, seasonals) seeds — documented, not implemented."""
    m = int(period)
    if m < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    seq = F.sort_array(
        F.collect_list(
            F.struct(*[F.col(c) for c in order_cols], F.col(value_col))
        )
    )
    per_key = df.groupBy(F.col(key_col)).agg(seq.alias("seq"))
    guard = F.assert_true(
        F.size("seq") <= max_group_size,
        F.concat(
            F.lit("holt_winters group for key "),
            F.col(key_col).cast("string"),
            F.lit(" has "),
            F.size("seq").cast("string"),
            F.lit(f" rows (> {max_group_size})"),
        ),
    )
    per_key = per_key.where(guard.isNull())
    a, b, g = float(alpha), float(beta), float(gamma)
    null_out = F.lit(None).cast(
        "struct<level: double, trend: double, season: double, fcst: double>"
    )

    def _seed_level(buf, x):
        # explicit left-associated sum — the identical tree the oracle
        # writes as ((v1 + v2) + ...) / m
        tot = F.element_at(buf, 1)
        for j in range(2, m):
            tot = tot + F.element_at(buf, j)
        return (tot + x[value_col]) / F.lit(float(m))

    def _new_level(acc, x):
        return F.lit(a) * (x[value_col] - F.element_at(acc["seas"], 1)) + F.lit(
            1.0 - a
        ) * (acc["level"] + acc["trend"])

    def _new_trend(acc, x):
        return F.lit(b) * (_new_level(acc, x) - acc["level"]) + F.lit(
            1.0 - b
        ) * acc["trend"]

    def _new_season(acc, x):
        return F.lit(g) * (x[value_col] - _new_level(acc, x)) + F.lit(
            1.0 - g
        ) * F.element_at(acc["seas"], 1)

    def _step(acc, x):
        warm = F.size(acc["buf"]) < m - 1
        seeding = (F.size(acc["buf"]) == m - 1) & acc["level"].isNull()
        seed_lv = _seed_level(acc["buf"], x)
        seed_seas = F.array(
            *[
                F.element_at(acc["buf"], j) - seed_lv
                for j in range(1, m)
            ],
            x[value_col] - seed_lv,
        )
        upd_out = F.struct(
            _new_level(acc, x).alias("level"),
            _new_trend(acc, x).alias("trend"),
            _new_season(acc, x).alias("season"),
            (
                _new_level(acc, x)
                + _new_trend(acc, x)
                + F.element_at(acc["seas"], 2)
            ).alias("fcst"),
        )
        return F.struct(
            F.concat(
                acc["arr"],
                F.array(
                    F.when(warm | seeding, null_out).otherwise(upd_out)
                ),
            ).alias("arr"),
            F.when(warm, F.concat(acc["buf"], F.array(x[value_col])))
            .otherwise(acc["buf"])
            .alias("buf"),
            F.when(warm, F.lit(None).cast("double"))
            .when(seeding, seed_lv)
            .otherwise(_new_level(acc, x))
            .alias("level"),
            F.when(warm, F.lit(None).cast("double"))
            .when(seeding, F.lit(0.0))
            .otherwise(_new_trend(acc, x))
            .alias("trend"),
            F.when(warm, F.lit(None).cast("array<double>"))
            .when(seeding, seed_seas)
            .otherwise(
                F.concat(
                    F.slice(acc["seas"], 2, m - 1),
                    F.array(_new_season(acc, x)),
                )
            )
            .alias("seas"),
        )

    folded = _chunked_history_fold(
        F.col("seq"),
        [
            ("buf", F.array().cast("array<double>")),
            ("level", F.lit(None).cast("double")),
            ("trend", F.lit(None).cast("double")),
            ("seas", F.lit(None).cast("array<double>")),
        ],
        _step,
        "struct<level: double, trend: double, season: double, fcst: double>",
    )
    out = per_key.select(
        key_col,
        F.posexplode(F.arrays_zip(F.col("seq"), folded)).alias("i", "z"),
    )
    # no round(): sequential fold, order-deterministic — see `ewma`
    return out.filter(F.col("z.1.level").isNotNull()).select(
        key_col,
        *[F.col(f"z.seq.{c}").alias(c) for c in order_cols],
        F.col("z.1.level").alias("level"),
        F.col("z.1.trend").alias("trend"),
        F.col("z.1.season").alias("season"),
        F.col("z.1.fcst").alias("forecast"),
    )
