"""Aggregation helpers with enforceable contracts (SURVEY.md §2.4).

`listagg` (A10) buffers and sorts the WHOLE group per key — fine on a
bounded dimension rollup, an OOM on an unbounded fact key. r2 documented
that hazard in a docstring; r3 makes it enforceable: the bounded form
carries an in-plan `assert_true` on the group size (computed inside the
SAME hash aggregate — zero extra passes, zero extra shuffles), so an
oversized group fails the job loudly instead of silently concentrating
memory on one task. The unbounded alternative stays what SURVEY.md §2.4
prescribes: top-k per key first (O2/O3), then concat the bounded
survivors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def listagg_bounded(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    sep: str = ",",
    max_group_size: int = 10_000,
    out_col: str = "agg_list",
) -> DataFrame:
    """Ordered LISTAGG with a fail-loud group-size contract.

    The group count rides the same partial-combinable hash aggregate as
    the listagg buffer; the `assert_true` filter on top is row-local over
    the (already tiny) aggregated output. Groups over ``max_group_size``
    raise with the offending group key in the message — the same guard
    shape `resample_ffill` uses for runaway key spans
    (operators/timeseries.py).
    """
    agged = df.groupBy(*group_cols).agg(
        F.expr(
            f"listagg({value_col}, '{sep}') WITHIN GROUP (ORDER BY {value_col})"
        ).alias(out_col),
        F.count("*").alias("_grp_n"),
    )
    key_desc: Column = F.concat_ws(
        "/", *[F.col(c).cast("string") for c in group_cols]
    )
    guard = F.assert_true(
        F.col("_grp_n") <= max_group_size,
        F.concat(
            F.lit("listagg group "),
            key_desc,
            F.lit(" has "),
            F.col("_grp_n").cast("string"),
            F.lit(f" rows (> {max_group_size}): use top-k-then-concat"),
        ),
    )
    return agged.where(guard.isNull()).drop("_grp_n")


def group_ols(
    df: DataFrame,
    group_cols: list[str],
    x: Column,
    y: Column,
) -> DataFrame:
    """Per-group simple linear regression (the `regr_slope`/`regr_intercept`
    family) as ONE partial-combinable hash aggregation over exact
    sufficient statistics.

    ``x`` must be an integer-valued column (e.g. days since an epoch) and
    ``y`` an exact DECIMAL, so the five carried statistics —
    n, Σx, Σx², Σy, Σxy — aggregate in long/decimal arithmetic with NO
    reassociative float summation anywhere: the closed forms

        slope     = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
        intercept = (ΣyΣx² − ΣxΣxy) / (nΣx² − (Σx)²)

    evaluate row-locally on doubles cast from those exact sums, making the
    6dp rounding fully partition-order independent (a float `avg`/`covar`
    pipeline would be ulp-nondeterministic across partial-agg orders).

    Scale shape: one shuffle keyed on the group columns carrying five
    numbers per group — the same cost as any A2 hash aggregate; skewed
    group keys are ordinary agg skew (AQE). Bounds: the decimal Σxy stays
    exact while |Σxy| < 10^36 (decimal(38,2)); the double casts are exact
    while n, Σx, Σx² < 2^53 — far beyond any per-group cardinality a
    regression over business keys sees.

    Groups with n < 2 or zero x-variance (all x equal → denominator
    exactly 0) are dropped: a line is undefined there. The zero test is
    sound on doubles because both products round the SAME exact integer
    value, so equality survives the cast.
    """
    sums = (
        df.select(*group_cols, x.alias("_x"), y.alias("_y"))
        .groupBy(*group_cols)
        .agg(
            F.count("*").alias("n"),
            F.sum("_x").alias("sx"),
            F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
            F.sum("_y").alias("sy"),
            F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    denom = nd * sxxd - sxd * sxd
    return sums.filter((F.col("n") >= 2) & (denom != 0.0)).select(
        *group_cols,
        "n",
        F.round((nd * sxyd - sxd * syd) / denom, 6).alias("slope"),
        F.round((syd * sxxd - sxd * sxyd) / denom, 6).alias("intercept"),
    )


def group_corr(
    df: DataFrame,
    group_cols: list[str],
    x: Column,
    y: Column,
) -> DataFrame:
    """Per-group Pearson correlation as ONE partial-combinable hash
    aggregation over exact sufficient statistics — `group_ols`'s recipe
    extended to the symmetric moment set.

    ``x`` and ``y`` must be integer-valued LONG columns (scale fixed-point
    business values first: ``round(price*100)``); per-row products stay in
    int64 (exact while |x|,|y| < ~3e9) and the six carried statistics —
    n, Σx, Σy, Σx², Σy², Σxy — sum as DECIMAL(38,0), exact to 10^38, so
    no reassociative float sum exists anywhere in the plan. The closed
    form

        r = (nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²) · (nΣy² − (Σy)²))

    evaluates row-locally on doubles cast from the exact sums; IEEE
    multiply/divide/sqrt are correctly rounded, so the 6dp result is
    bit-identical across engines and partition orders.

    Groups with n < 2 or zero variance on either side are dropped
    (correlation undefined). One group-keyed shuffle carrying six numbers
    per group; skew is ordinary agg skew (AQE).
    """
    sums = (
        df.select(*group_cols, x.alias("_x"), y.alias("_y"))
        .groupBy(*group_cols)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("_x").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("_y").cast("decimal(38,0)")).alias("sy"),
            F.sum((F.col("_x") * F.col("_x")).cast("decimal(38,0)")).alias("sxx"),
            F.sum((F.col("_y") * F.col("_y")).cast("decimal(38,0)")).alias("syy"),
            F.sum((F.col("_x") * F.col("_y")).cast("decimal(38,0)")).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, syyd = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    var_x = nd * sxxd - sxd * sxd
    var_y = nd * syyd - syd * syd
    return sums.filter(
        (F.col("n") >= 2) & (var_x > 0.0) & (var_y > 0.0)
    ).select(
        *group_cols,
        "n",
        F.round((nd * sxyd - sxd * syd) / F.sqrt(var_x * var_y), 6).alias("corr"),
    )


def histogram_equidepth(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 10,
    scale: int = 100,
) -> DataFrame:
    """Equi-DEPTH histogram: buckets hold ~equal ROW counts instead of
    equal value widths — the summary that stays informative on skewed
    distributions where an equal-width histogram (`agg_histogram`) packs
    everything into two bars. This is the optimizer's-statistics shape
    (equi-height column histograms) and the monitoring shape for
    long-tailed metrics. Returns (bucket, n_rows, lo, hi) with bucket in
    [0, n_buckets).

    Exactness: cuts are exact DISCRETE percentiles of the fixed-point
    scaled value (`etl_winsorize`'s rule: a disc cut is an actual data
    value, no interpolation ulps), and bucket assignment counts the cuts
    strictly below the value with an integer array HOF — boundary ties
    collapse into the lower bucket identically on both engines. The
    known equi-depth caveat rides along: heavy ties at a cut make that
    bucket fat; that is the semantic, not a bug.

    Plan: one exact-percentile aggregate reduces to a ONE-ROW cuts array
    broadcast back over the scan; assignment is row-local; the final
    count/min/max agg partial-combines to ``n_buckets`` rows. Two column
    passes, zero wide shuffles. At an unbounded-distinct 100 TB scale
    the cuts pass swaps to ``approx_percentile`` exactly as `winsorize`
    documents.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    vs = F.round(F.col(value_col) * scale).cast("long")
    scaled = df.select(vs.alias("_vs"))
    cut_exprs = [
        F.expr(
            f"percentile_disc({i / n_buckets}) WITHIN GROUP (ORDER BY _vs)"
        )
        .cast("long")
        .alias(f"_c{i}")
        for i in range(1, n_buckets)
    ]
    cuts = scaled.agg(*cut_exprs).select(
        F.array(*[F.col(f"_c{i}") for i in range(1, n_buckets)]).alias("_cuts")
    )
    assigned = scaled.crossJoin(F.broadcast(cuts)).select(
        "_vs",
        F.expr("size(filter(_cuts, c -> _vs > c))").alias("bucket"),
    )
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            (F.min("_vs") / F.lit(float(scale))).alias("lo"),
            (F.max("_vs") / F.lit(float(scale))).alias("hi"),
        )
    )


def group_skew_kurtosis(
    df: DataFrame,
    group_cols: list[str],
    x: Column,
) -> DataFrame:
    """Per-group skewness and excess kurtosis from EXACT sufficient
    statistics — the 3rd/4th-moment completion of `group_corr`'s recipe:
    built-in ``skewness()``/``kurtosis()`` stream float central-moment
    updates whose result depends on partition merge order; this carries
    n, Σx, Σx², Σx³, Σx⁴ as DECIMAL(38,0) (one partial-combinable hash
    agg, reassociation-immune) and evaluates the closed forms row-locally:

        B = n·Σx² − (Σx)²                       (n²·M2)
        A = n²·Σx³ − 3n·Σx·Σx² + 2(Σx)³         (n³·M3)
        C = n³·Σx⁴ − 4n²·Σx·Σx³ + 6n·(Σx)²·Σx² − 3(Σx)⁴   (n⁴·M4)
        skewness = A / (B·√B)        excess kurtosis = C / B² − 3

    (the n-powers cancel exactly, so no per-n rescaling). ``x`` must be
    an integer-valued LONG with |x| ≤ ~3e9 (the square must fit int64);
    the 3rd/4th powers multiply as DECIMAL(38,0) so they can NEVER
    overflow — int64 x⁴ silently wraps past |x| ≈ 55k in non-ANSI
    Spark and hard-errors in DuckDB/ANSI, a trap the sf0.1 verify
    actually caught (cents of a ~550-unit value crossed the line). The
    DECIMAL→double casts and the IEEE multiply/divide/sqrt chain are
    deterministic, so the 6dp results are bit-identical across engines
    and partition orders. Groups with n < 3 or zero variance drop."""
    sums = (
        df.select(*group_cols, x.alias("_x"))
        .groupBy(*group_cols)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("_x").cast("decimal(38,0)")).alias("s1"),
            F.sum((F.col("_x") * F.col("_x")).cast("decimal(38,0)")).alias("s2"),
            F.sum(
                (F.col("_x") * F.col("_x")).cast("decimal(38,0)")
                * F.col("_x").cast("decimal(38,0)")
            ).alias("s3"),
            F.sum(
                (F.col("_x") * F.col("_x")).cast("decimal(38,0)")
                * (F.col("_x") * F.col("_x")).cast("decimal(38,0)")
            ).alias("s4"),
        )
    )
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    b = nd * s2 - s1 * s1
    a = nd * nd * s3 - F.lit(3.0) * nd * s1 * s2 + F.lit(2.0) * s1 * s1 * s1
    c = (
        nd * nd * nd * s4
        - F.lit(4.0) * nd * nd * s1 * s3
        + F.lit(6.0) * nd * s1 * s1 * s2
        - F.lit(3.0) * s1 * s1 * s1 * s1
    )
    return sums.filter((F.col("n") >= 3) & (b > 0.0)).select(
        *group_cols,
        "n",
        F.round(a / (b * F.sqrt(b)), 6).alias("skewness"),
        F.round(c / (b * b) - F.lit(3.0), 6).alias("kurtosis"),
    )


def group_gini(
    df: DataFrame,
    group_cols: list[str],
    x: Column,
) -> DataFrame:
    """Per-group Gini coefficient — the concentration summary for a data
    mix (is one source/author/domain hogging the token budget?) or a
    spend distribution: 0 = perfectly even, →1 = one row holds
    everything. Computed from the rank identity over ascending-sorted
    non-negative values

        G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i)

    with EXACT integer arithmetic: ``x`` must be an integer-valued LONG
    (scale fixed-point values first), ranks come from one row_number
    window (ties broken by the value then rank order — the convention
    for the discrete Gini; any fixed tie order yields the same sum
    because tied values contribute symmetrically), and both Σ i·x_i and
    Σ x_i accumulate as DECIMAL(38,0). One double division at the end,
    so the 6dp result is bit-stable across engines and partitionings.

    Plan: ONE Exchange on the group key shared by the ranking window
    and the aggregation (same partitioning); groups with zero total
    drop (Gini undefined). Returns (group..., n, gini).
    """
    from pyspark.sql.window import Window as W

    w = W.partitionBy(*group_cols).orderBy(F.col("_x"), *group_cols)
    ranked = df.select(*group_cols, x.alias("_x")).withColumn(
        "_i", F.row_number().over(w)
    )
    sums = ranked.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(F.col("_x").cast("decimal(38,0)")).alias("_s"),
        # rank·value multiplies as decimal — an int64 product wraps once
        # n·x passes 2^63 (the skewness-fourth-power overflow class);
        # exact while i·x < 10^38.
        F.sum(
            (
                F.col("_i").cast("decimal(19,0)")
                * F.col("_x").cast("decimal(19,0)")
            ).cast("decimal(38,0)")
        ).alias("_w"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("_s").cast("double")
    wd = F.col("_w").cast("double")
    return sums.filter(F.col("_s") > 0).select(
        *group_cols,
        "n",
        F.round(
            (F.lit(2.0) * wd - (nd + F.lit(1.0)) * sd) / (nd * sd), 6
        ).alias("gini"),
    )


def weighted_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    pcts: list[int],
) -> DataFrame:
    """Exact weighted percentiles per group — the estimator Spark has no
    native form of (`percentile` weights every row equally): percentile
    p is the smallest value v whose CUMULATIVE weight reaches p% of the
    group's total. The workhorse of importance-weighted evaluation and
    duplicate-count-weighted corpus stats, where a row stands for
    ``weight`` originals.

    Determinism without a tie policy: the cumulative weight uses a
    RANGE frame ordered by the value, so every row of a tie-run carries
    the run's FULL weight-through-v — whether any row of value v
    qualifies depends only on weight(<= v), never on intra-tie order,
    and the answer is the min qualifying value. Weights cast to long and
    the threshold compares ``100·cum >= p·total`` — all-integer, no
    float quantile formula to disagree across engines.

    Plan: ONE group-keyed Exchange (the window sort), then the
    percentile columns fold in the same hash aggregate — adding more
    percentiles adds expressions, not passes. Weights must be
    non-negative (in-plan assert).
    """
    from pyspark.sql import Window

    w_long = F.col(weight_col).cast("long")
    guard = F.assert_true(
        w_long >= 0, F.lit("weighted_percentiles: negative weight")
    )
    base = df.where(guard.isNull()).select(
        *group_cols, F.col(value_col).alias("_v"), w_long.alias("_w")
    )
    win = (
        Window.partitionBy(*group_cols)
        .orderBy("_v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(*group_cols)
    cum = base.select(
        *group_cols,
        "_v",
        F.sum("_w").over(win).alias("_cum"),
        F.sum("_w").over(tot).alias("_tot"),
    )
    aggs = [
        F.min(
            F.when(F.col("_cum") * 100 >= F.col("_tot") * p, F.col("_v"))
        ).alias(f"p{p}")
        for p in pcts
    ]
    return cum.groupBy(*group_cols).agg(*aggs)


def group_spearman(
    df: DataFrame,
    group_cols: list[str],
    x: Column,
    y: Column,
) -> DataFrame:
    """F3/A-family (r6): per-group Spearman rank correlation — the
    monotone-association readout (robust to outliers and any monotone
    rescaling, where Pearson is not): Pearson over tie-averaged ranks.

    Ranks are carried as EXACT integers: rank2 = 2·(average tie rank) =
    2·rank_min + (tie_count − 1), so the whole pipeline after the rank
    windows is `group_corr`'s exact-decimal sufficient-statistics agg —
    no reassociative float sum anywhere, and the constant factor 2
    cancels in the correlation. The underlying x/y columns may be ANY
    orderable type (doubles included): only their ranks enter the
    arithmetic, which is what makes Spearman the safe cross-engine
    correlation for float-valued business metrics.

    Plan: two rank windows partitioned by the SAME group key (one
    Exchange, two sorts), then one group-keyed hash agg carrying six
    numbers per group. Group size bounds the rank magnitude (rank2 ≤
    2n), and the decimal(38,0) sums keep Σrank² exact far past any
    realistic group (overflow needs n > ~10¹²)."""
    from pyspark.sql import Window

    d = df.select(*group_cols, x.alias("_xv"), y.alias("_yv"))
    wx = Window.partitionBy(*group_cols).orderBy("_xv")
    wy = Window.partitionBy(*group_cols).orderBy("_yv")
    tx = Window.partitionBy(*group_cols, "_xv")
    ty = Window.partitionBy(*group_cols, "_yv")
    ranked = d.select(
        *group_cols,
        (2 * F.rank().over(wx) + F.count("*").over(tx) - 1)
        .cast("long")
        .alias("_rx"),
        (2 * F.rank().over(wy) + F.count("*").over(ty) - 1)
        .cast("long")
        .alias("_ry"),
    )
    out = group_corr(ranked, group_cols, F.col("_rx"), F.col("_ry"))
    return out.withColumnRenamed("corr", "spearman")


def mutual_information(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information between two categorical columns, decomposed
    per cell — the data-mix dependence audit (is `source` informative
    about `lang`? a high MI means per-source language skew the sampler
    must stratify over; MI = 0 means the mix factorizes). Returns one
    row per occupied (a, b) cell: exact joint and marginal counts plus

        mi_term = (n_ab / N) · ln( n_ab·N / (n_a·n_b) )

    rounded at 6dp; MI = sum(mi_term) ≥ 0 in nats. Every input to the
    float chain is an exact BIGINT and the chain is fixed row-local
    IEEE arithmetic (the `text_pmi` rule), so the rounded term is
    partition-order free and engine-exact.

    Scale: ONE hash agg over the data to the occupied-cell table; both
    marginals and the total re-aggregate the CELL table (bounded by the
    category-domain product, never data-sized) and broadcast back."""
    cells = (
        df.groupBy(F.col(col_a).alias("val_a"), F.col(col_b).alias("val_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .localCheckpoint(eager=True)  # feeds both marginals + the total
    )
    ma = cells.groupBy("val_a").agg(F.sum("n_ab").cast("long").alias("n_a"))
    mb = cells.groupBy("val_b").agg(F.sum("n_ab").cast("long").alias("n_b"))
    tot = cells.agg(F.sum("n_ab").cast("long").alias("n_total"))
    joined = (
        cells.join(F.broadcast(ma), "val_a")
        .join(F.broadcast(mb), "val_b")
        .crossJoin(F.broadcast(tot))
    )
    mi_term = F.round(
        (F.col("n_ab") / F.col("n_total").cast("double"))
        * F.log(
            (F.col("n_ab").cast("double") * F.col("n_total"))
            / (F.col("n_a").cast("double") * F.col("n_b"))
        ),
        6,
    )
    return joined.select(
        "val_a", "val_b", "n_ab", "n_a", "n_b", "n_total",
        mi_term.alias("mi_term"),
    )


def cuped(
    units: DataFrame,
    arm_col: str = "arm",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013,
    public literature): per experiment arm, the raw metric mean and the
    covariate-adjusted mean

        adj_mean_a = mean(y|a) − θ·(mean(x|a) − mean(x))
        θ          = cov(x, y) / var(x)        (pooled, both arms)

    where ``x`` is the PRE-experiment covariate and ``y`` the
    experiment metric, both EXACT integer columns per unit (scale
    currency to cents first — the `group_ols` rule): θ's numerator and
    denominator are then the exact closed forms n·Σxy − Σx·Σy and
    n·Σx² − (Σx)², carried as DECIMAL power sums with no reassociative
    float summation; the per-arm double chain is fixed row-local IEEE
    arithmetic rounded at 6dp. Degenerate var(x) = 0 yields θ = 0 (no
    adjustment) rather than a NULL blow-up.

    Scale: ONE hash agg over units, keyed on the arm, carrying the five
    power sums; the pooled/global sums then re-aggregate the #arms-row
    table (integer sums regroup exactly) and broadcast back — units are
    scanned once, never twice."""
    dec = "decimal(38,0)"
    xl = F.col(x_col).cast("long")
    yl = F.col(y_col).cast("long")
    arms = units.groupBy(F.col(arm_col).alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum(xl).cast("long").alias("sx_a"),
        F.sum(yl).cast("long").alias("sy_a"),
        F.sum(xl.cast(dec) * yl.cast(dec)).cast(dec).alias("sxy_a"),
        F.sum(xl.cast(dec) * xl.cast(dec)).cast(dec).alias("sxx_a"),
    ).localCheckpoint(eager=True)  # feeds the arm rows AND the global re-agg
    glob = arms.agg(
        F.sum("n_units").cast("long").alias("n"),
        F.sum("sx_a").cast("long").alias("sx"),
        F.sum("sy_a").cast("long").alias("sy"),
        F.sum("sxy_a").cast(dec).alias("sxy"),
        F.sum("sxx_a").cast(dec).alias("sxx"),
    )
    j = arms.crossJoin(F.broadcast(glob))
    theta_num = (
        F.col("n").cast(dec) * F.col("sxy")
        - F.col("sx").cast(dec) * F.col("sy").cast(dec)
    ).cast("double")
    theta_den = (
        F.col("n").cast(dec) * F.col("sxx")
        - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    ).cast("double")
    theta = F.when(theta_den == 0.0, F.lit(0.0)).otherwise(
        theta_num / theta_den
    )
    mean_y = F.col("sy_a").cast("double") / F.col("n_units")
    mean_x = F.col("sx_a").cast("double") / F.col("n_units")
    gmean_x = F.col("sx").cast("double") / F.col("n")
    return j.select(
        "arm",
        "n_units",
        F.round(mean_y, 6).alias("mean_y"),
        F.round(theta, 6).alias("theta"),
        F.round(mean_y - theta * (mean_x - gmean_x), 6).alias("adj_mean_y"),
    )


def corr_matrix(df: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """Pairwise sample-covariance / correlation matrix in long form —
    the feature-audit / PCA-prep primitive (which numeric columns move
    together, which are redundant). ``cols`` maps output name → an
    EXACT-integer column expression (scale currency to cents first, the
    `group_ols` rule). Returns one row per unordered pair (col_a <
    col_b by name): (col_a, col_b, n, cov, corr) with

        cov  = (n·Σij − Σi·Σj) / (n·(n−1))
        corr = (n·Σij − Σi·Σj) / (√(n·Σii − Σi²)·√(n·Σjj − Σj²))

    — every sufficient statistic an exact long/DECIMAL(38,0) sum from
    ONE aggregation pass (k columns → k + k·(k+1)/2 counters in one
    scan, the `profile_columns` wide-agg shape), the wide→long reshape
    a row-local explode, and the only float ops the fixed final
    division/sqrt chain rounded at 6dp. Partition-order free by
    construction; adding a column adds counters, never a scan."""
    names = sorted(cols)
    dec = "decimal(19,0)"
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for a in names:
        aggs.append(F.sum(cols[a].cast("long")).cast("long").alias(f"_s_{a}"))
    for i, a in enumerate(names):
        for b in names[i:]:
            aggs.append(
                F.sum(cols[a].cast("long").cast(dec) * cols[b].cast("long").cast(dec))
                .cast("decimal(38,0)")
                .alias(f"_p_{a}_{b}")
            )
    wide = df.agg(*aggs)
    nn = F.col("_n").cast(dec)
    pair_structs = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            cov_num = (
                nn * F.col(f"_p_{a}_{b}")
                - F.col(f"_s_{a}").cast(dec) * F.col(f"_s_{b}").cast(dec)
            ).cast("double")
            var_a = (
                nn * F.col(f"_p_{a}_{a}")
                - F.col(f"_s_{a}").cast(dec) * F.col(f"_s_{a}").cast(dec)
            ).cast("double")
            var_b = (
                nn * F.col(f"_p_{b}_{b}")
                - F.col(f"_s_{b}").cast(dec) * F.col(f"_s_{b}").cast(dec)
            ).cast("double")
            pair_structs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col("_n").alias("n"),
                    F.round(
                        cov_num / (F.col("_n").cast("double") * (F.col("_n") - 1)),
                        6,
                    ).alias("cov"),
                    F.round(
                        cov_num / (F.sqrt(var_a) * F.sqrt(var_b)), 6
                    ).alias("corr"),
                )
            )
    return wide.select(F.explode(F.array(*pair_structs)).alias("_p")).select(
        "_p.*"
    )


_QUANTILE_MAX_LEVELS = 6  # histogram levels before selection gives up


def exact_global_quantile(
    df: DataFrame,
    value_col: str,
    pct: int | None = None,
    n_buckets: int = 4096,
    target_rank: int | None = None,
) -> int | None:
    """EXACT global order statistic WITHOUT a global sort — multi-level
    histogram selection over an integer column: v* = min{v : 100·#{x ≤ v}
    ≥ pct·n}, the same all-integer rank rule as `weighted_percentiles`,
    computed at ANY scale in ~log_B(range) aggregation scans.

    Why: the textbook exact percentile is a global ORDER BY window — a
    single-partition sort that dies at 100 TB. approx_percentile fixes
    the cost but not the contract. This is the third way (the classic
    distributed-selection algorithm, public literature: iterated
    histogram refinement): each level counts rows per equi-width bucket
    inside the current candidate range (one map-side-combined agg scan,
    shuffle = B rows), the driver walks the ≤B bucket counts to find
    where the target rank falls, and recurses into that bucket. Integer
    cents spanning 1e12 resolve in 3 levels at B = 4096.

    Returns the exact value as a Python int (None on an empty/all-null
    column) — a driver-side SCALAR, bounded like the broadcast-size
    decisions AQE makes; the caller folds it back into a plan as a
    literal."""
    base = df.select(F.col(value_col).alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    row = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_v").alias("lo"),
        F.max("_v").alias("hi"),
    ).collect()[0]
    n, lo, hi = row["n"], row["lo"], row["hi"]
    if not n:
        return None
    if target_rank is not None:
        # exact-rank mode: v* = the target_rank-th smallest (callers that
        # derive the rank themselves, e.g. "k-th largest" = rank n − k + …,
        # must not round-trip through an integer pct — the double ceil
        # can overshoot by one position)
        target = max(1, min(int(target_rank), n))
    else:
        target = -(-pct * n // 100)  # ceil(pct·n/100): the min qualifying rank
    below = 0
    for _ in range(_QUANTILE_MAX_LEVELS):
        if lo == hi:
            return int(lo)
        width = (hi - lo + n_buckets) // n_buckets  # ceil; >= 1
        counts = dict(
            base.filter((F.col("_v") >= lo) & (F.col("_v") <= hi))
            # integer `div`, NOT `/`: Spark's `/` on longs is IEEE double
            # division, which mis-buckets boundary values once (v - lo)
            # exceeds ~2^53 — the driver walk below uses exact integer
            # boundaries, and the two must agree at any BIGINT range
            .groupBy(
                F.expr(f"(_v - {int(lo)}L) div {int(width)}L").alias("_b")
            )
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        cum = below
        for b in range(n_buckets):
            c = counts.get(b, 0)
            if cum + c >= target:
                lo, hi = lo + b * width, min(hi, lo + (b + 1) * width - 1)
                below = cum
                break
            cum += c
        else:  # pragma: no cover - target <= n guarantees a bucket hits
            raise AssertionError("rank walk exhausted buckets")
        if width == 1:
            return int(lo)
    raise RuntimeError(
        f"quantile selection did not converge in {_QUANTILE_MAX_LEVELS} levels "
        f"(range {hi - lo + 1} at B={n_buckets}) — raise n_buckets"
    )
