"""Deterministic hash-based sampling (builder-brief training-data op).

A 100 TB corpus pipeline cannot use ``DataFrame.sample``: its output depends
on the seed *and* the partition layout, so re-runs, retried tasks, and
repartitioned inputs all select different rows. The scale-correct pattern is
content-addressed sampling — bucket each row by a stable hash of its natural
key and keep buckets below a per-stratum threshold. That makes the sample

- reproducible (same rows on every run, any cluster size, any partitioning),
- consistent across tables (the same key always lands in the same split —
  a joinable sample), and
- a narrow scan-projection + filter: zero shuffles, fully pushed past
  column pruning.

md5-derived buckets keep the DuckDB oracle exact; swap ``xxhash64`` for the
cheapest JVM hash when cross-engine parity is not required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(key: Column, buckets: int = 1000) -> Column:
    """Stable per-row bucket in [0, buckets): first 8 md5 hex chars → int.
    NULL keys give NULL. Its DuckDB form is :func:`hash_bucket_sql`.
    """
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        % buckets
    )


def hash_bucket_sql(key_sql: str, buckets: int) -> str:
    """DuckDB twin of ``hash_bucket`` over the SQL expression ``key_sql``."""
    return f"('0x' || substr(md5({key_sql}::VARCHAR), 1, 8))::BIGINT % {buckets}"


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates_permille: dict[str, int],
) -> DataFrame:
    """Keep rows whose hash bucket falls under their stratum's rate (per
    mille). E.g. ``{"en": 500, "zh": 100}`` keeps ~50% of English and ~10%
    of Chinese rows and drops every other stratum — the standard
    language-rebalancing step of an LLM data mix, deterministic
    end-to-end."""
    threshold: Column = F.lit(0)
    for stratum, permille in sorted(rates_permille.items()):
        threshold = (
            F.when(F.col(strata_col) == stratum, F.lit(permille)).otherwise(threshold)
        )
    bucket = hash_bucket(F.col(key_col), 1000)
    return df.withColumn("bucket", bucket).filter(F.col("bucket") < threshold)


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, int],
) -> DataFrame:
    """Assign every row to a named split by hash-bucket range, e.g.
    ``{"train": 900, "val": 50, "test": 50}`` (per-mille widths summing to
    <= 1000; buckets beyond the widths land in an explicit "holdout"
    split — never NULL, so a `split != 'train'` filter can't silently
    drop them). Content-addressed like `stratified_hash_sample`: the same
    key lands in the same split on every run, any partitioning, and across
    TABLES — so features and labels computed in separate jobs can never
    leak across the train/test boundary."""
    if sum(splits.values()) > 1000:
        raise ValueError(f"split widths {splits} exceed 1000 buckets")
    bucket = hash_bucket(F.col(key_col), 1000)
    edge = 0
    expr = None
    for name, width in splits.items():
        cond = (bucket >= edge) & (bucket < edge + width)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        edge += width
    return df.withColumn("split", expr.otherwise("holdout"))


def cap_per_group(
    df: DataFrame, group_col: str, key_col: str, max_rows: int
) -> DataFrame:
    """Keep at most ``max_rows`` rows per group, chosen deterministically by
    hash order (not input order) — the domain-capping step of an LLM data
    mix (no single source may dominate). One shuffle on the group key;
    `WindowGroupLimit` prunes each partition to max_rows before the final
    rank, so the shuffle never carries more than it must."""
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key_col), 1 << 30), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_rows)
        .drop("_rn")
    )


# hash buckets of the fractional keep thresholds (6-decimal fractions)
_FRACTION_BUCKETS = 1_000_000


def mixture_repeat(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    weights: dict[str, float],
    total_multiplier: float = 1.0,
) -> DataFrame:
    """Weighted data mixing with explicit repetition — the up-sampling
    step `temperature_resample` deliberately refuses to do. Given target
    mixture weights per stratum (e.g. language), each stratum's repeat
    factor is

        r_s = (w_s / Σw) · total_multiplier · N / n_s

    so the emitted corpus approaches the target mix at
    ``total_multiplier × N`` rows: every row is emitted ``floor(r_s)``
    times, plus one more copy for rows whose content-addressed hash
    bucket falls under the fractional remainder — the deterministic
    analogue of Bernoulli rounding. A stratum with weight 0 (or absent
    from ``weights``) is dropped. Output adds an ``epoch`` column
    (0-based copy index), the column a downstream trainer shuffles on so
    repeated copies don't sit adjacent in the same file.

    This is the "data mixture" stage of an LLM pipeline (DoReMi-style
    weights, multi-epoch low-resource languages): down-weighting is a
    keep-fraction (r_s < 1 → some rows emit zero copies), up-weighting
    is multi-epoch repetition (r_s > 1) — both from the same formula.

    Scale: ONE partial-combined count aggregation; the per-stratum
    factors (rows = #strata) broadcast back; the copy explosion is a
    row-local ``explode(sequence(...))`` inside the scan stage — the
    corpus itself never shuffles. r_s is rounded to 6 decimals and the
    fractional threshold re-rounded to an integer bucket count so the
    DuckDB oracle replays the arithmetic exactly (see
    `temperature_resample` for the round-then-cast rationale).
    """
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError(f"mixture weights must sum > 0, got {weights}")
    w_expr: Column = F.lit(0.0)
    for stratum, w in sorted(weights.items()):
        w_expr = F.when(F.col(strata_col) == stratum, F.lit(w / total_w)).otherwise(
            w_expr
        )
    # counts feeds BOTH the grand total and the per-stratum factors; a bare
    # lineage would replay the corpus-sized count scan once per consumer
    # (three full scans in the un-checkpointed plan). The table is
    # #strata rows — checkpointing it is free and cuts the job to two
    # corpus scans (the count pass + the emit pass).
    counts = df.groupBy(strata_col).agg(F.count("*").alias("_n")).localCheckpoint(
        eager=True
    )
    total = counts.agg(F.sum("_n").alias("_total"))
    factors = counts.crossJoin(F.broadcast(total)).select(
        F.col(strata_col),
        F.round(
            w_expr * F.lit(total_multiplier) * F.col("_total") / F.col("_n"), 6
        ).alias("_r"),
    )
    factors = factors.select(
        strata_col,
        F.floor("_r").cast("long").alias("_base"),
        F.round((F.col("_r") - F.floor("_r")) * _FRACTION_BUCKETS, 0)
        .cast("long")
        .alias("_thr"),
    )
    n_copies = F.col("_base") + F.when(
        hash_bucket(F.col(key_col), _FRACTION_BUCKETS) < F.col("_thr"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.join(F.broadcast(factors), strata_col)
        .withColumn("_copies", n_copies)
        .filter(F.col("_copies") > 0)
        .withColumn(
            "epoch",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_copies") - 1)),
        )
        .drop("_base", "_thr", "_copies")
    )


def balance_classes(
    df: DataFrame,
    label_col: str,
    key_col: str,
) -> DataFrame:
    """Class balancing by downsampling to the MINORITY class size — the
    classification-training prep step `cap_per_group` (fixed cap) and
    `temperature_resample` (fractional rebalance) bracket but don't hit:
    every label keeps exactly ``min(class sizes)`` rows, chosen by
    content-addressed hash order so the kept set is reproducible across
    runs and partitionings. The FULL row survives —
    the balanced output carries every input column, not a (key, label)
    projection, so callers keep their payloads.

    The minority size is collected driver-side
    — ONE number off a partial-combined count agg (bounded metadata, the
    literal-cut-points pattern), which keeps the cap a LITERAL in the
    plan so WindowGroupLimit still prunes every partition to the cap
    before the shuffle; a column-valued cap would defeat that pruning.
    One shuffle on the label key.
    """
    counts = df.groupBy(label_col).agg(F.count("*").alias("_n"))
    row = counts.agg(F.min("_n").alias("_m")).collect()[0]
    target_n = int(row["_m"]) if row["_m"] is not None else 0
    if target_n <= 0:
        return df.limit(0)
    return cap_per_group(df, label_col, key_col, target_n)


def temperature_resample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float = 0.5,
    target_frac: float = 0.5,
) -> DataFrame:
    """Multinomial temperature resampling across strata: keep fractions
    chosen so the output mix follows ``p_s ∝ n_s^alpha`` (the standard
    multilingual-LLM rebalancing rule — alpha=1 keeps the natural mix,
    alpha→0 approaches uniform across strata; alpha<1 up-weights
    low-resource strata *relatively* by down-sampling dominant ones).

    ``target_frac`` scales the total output (0.5 = half the corpus); a
    stratum whose target exceeds its size is kept whole (never
    up-sampled — duplication belongs to an explicit repeat step, not a
    sampler). Selection is content-addressed (`hash_bucket`), so the kept
    set is reproducible across runs and partitionings, and the per-stratum
    keep fraction is rounded to 6 decimals so the threshold arithmetic is
    reproducible across engines (the DuckDB oracle replays it exactly).

    Shuffle budget: ONE partial-combined count aggregation over the
    corpus; the per-stratum fractions (rows = #strata) broadcast back, and
    the keep filter is row-local. The corpus itself never shuffles.
    """
    counts = df.groupBy(strata_col).agg(F.count("*").alias("_n"))
    z = counts.agg(
        F.sum(F.pow(F.col("_n"), F.lit(alpha))).alias("_z"),
        F.sum("_n").alias("_total"),
    )
    fractions = counts.crossJoin(F.broadcast(z)).select(
        F.col(strata_col),
        F.round(
            F.least(
                F.lit(1.0),
                (F.lit(target_frac) * F.col("_total") * F.pow(F.col("_n"), F.lit(alpha)) / F.col("_z"))
                / F.col("_n"),
            ),
            6,
        ).alias("_keep_frac"),
    )
    # round-then-cast: `_keep_frac * _FRACTION_BUCKETS` can land a hair
    # below the intended integer (round(249/1e6, 6) * 1e6 =
    # 248.99999999999997), and a bare cast("long") TRUNCATES while DuckDB's CAST ROUNDS — a
    # one-bucket threshold disagreement that breaks oracle parity for any
    # stratum whose boundary bucket is populated. Rounding to the integer
    # first makes both engines agree exactly.
    return (
        df.join(F.broadcast(fractions), strata_col)
        .filter(
            hash_bucket(F.col(key_col), _FRACTION_BUCKETS)
            < F.round(F.col("_keep_frac") * _FRACTION_BUCKETS, 0).cast("long")
        )
        .drop("_keep_frac")
    )


_MAX_WEIGHT = 16  # tickets per row: the largest weight weighted_sample takes


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col,
    k: int,
) -> DataFrame:
    """Weighted random sampling without replacement — Efraimidis &
    Spirakis's A-ES ("Weighted random sampling with a reservoir", IPL
    2006): every item draws key u^(1/w) and the k largest keys win.
    Exploited identity: for INTEGER weight w, u^(1/w) is distributed
    exactly as the MAX of w iid uniforms — so instead of float pow
    (whose cross-engine ulps make the selection boundary
    irreproducible), each item draws w integer "tickets"
    (content-addressed: md5(key·16 + t)) and keeps the largest.
    The scheme is then EXACT integer arithmetic end-to-end and an SQL
    oracle replays the very same sample.

    Returns (key, weight, ticket) for the k winners; ties break on the
    lower key (md5 collisions at 1e9 buckets are the only source).

    Scale: the ticket explode is row-local and bounded by the maximum
    weight 16 (assert_true in-plan — at 100 TB cap weights, don't
    explode them); the top-k is one TakeOrderedAndProject, no global
    sort. P(selected)
    is monotone in w with the exact A-ES law, unlike cheap
    "multiply-the-hash" heuristics which distort the tail.

    ``key_col`` must be integral: the ticket address is
    ``md5(key·16 + t)``, and a string key would go NULL under
    Spark's implicit cast — every ticket NULL, the "top-k" an
    arbitrary null-ordering sample. Fail loud instead.
    """
    from openmrs_patient_migration_script_spark.operators.dedup import (
        require_integral_key,
    )

    require_integral_key(df, key_col, "weighted_sample")
    w = F.col("weight")
    guard = F.assert_true(
        (w >= 1) & (w <= _MAX_WEIGHT),
        F.lit(f"weighted_sample: weight outside [1, {_MAX_WEIGHT}]"),
    )
    base = df.select(
        F.col(key_col).alias("key"),
        weight_col.cast("long").alias("weight"),
    ).where(guard.isNull())
    tickets = base.select(
        "key",
        "weight",
        F.explode(F.sequence(F.lit(1), F.col("weight"))).alias("_t"),
    ).select(
        "key",
        "weight",
        (
            F.conv(
                F.substring(
                    F.md5((F.col("key") * _MAX_WEIGHT + F.col("_t")).cast("string")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1_000_000_000
        ).alias("_u"),
    )
    best = tickets.groupBy("key", "weight").agg(F.max("_u").alias("ticket"))
    return best.orderBy(F.col("ticket").desc(), F.col("key")).limit(k)


def proportional_stratified_sample(
    df: DataFrame, key_col: str, stratum_col: str, pct: int
) -> DataFrame:
    """Exact proportional-allocation stratified sample: from EVERY
    stratum keep exactly ceil(n_s · pct / 100) rows — the survey-
    sampling / eval-set-construction contract where per-stratum sizes
    must be exact, not expected (`stratified_hash_sample` is the
    rate-based Bernoulli twin: O(0) extra cost but binomially noisy
    sizes; this form trades one per-stratum rank for exactness, and
    ceil guarantees every non-empty stratum survives — tiny strata are
    never rounded away). Selection is content-addressed (smallest
    md5(key) first, key tiebreak), so re-runs and engines agree row-set
    exactly. Returns (stratum, key, rn, n_stratum).

    Scale: one stratum-keyed count agg broadcast back (strata are
    bounded-domain) + one per-stratum rank window. The keep threshold
    is data-dependent, so WindowGroupLimit canNOT prune this window (a
    literal-cap form would — that is `cap_per_group`); the honest cost
    is one full sort per stratum partition. ``pct`` is integer percent
    and the threshold ceil(n·pct/100) = (n·pct + 99) div 100 stays in
    exact integer arithmetic."""
    if not (0 < pct <= 100):
        raise ValueError(f"pct must be in 1..100, got {pct}")
    counts = df.groupBy(F.col(stratum_col).alias("_st")).agg(
        F.count(F.lit(1)).cast("long").alias("n_stratum")
    )
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    ranked = df.select(
        F.col(stratum_col).alias("stratum"),
        F.col(key_col).alias("key"),
        F.row_number().over(w).cast("long").alias("rn"),
    )
    # integer `div`, NOT float `/` + cast: the docstring's exact-integer
    # contract — double division rounds once n_stratum*pct+99 passes 2^53
    # and the truncating cast could then diverge from the oracle's `// 100`
    keep = F.expr(f"(n_stratum * CAST({pct} AS BIGINT) + 99) div 100")
    return (
        ranked.join(
            F.broadcast(counts), ranked["stratum"] == counts["_st"]
        )
        .filter(F.col("rn") <= keep)
        .select("stratum", "key", "rn", "n_stratum")
    )
