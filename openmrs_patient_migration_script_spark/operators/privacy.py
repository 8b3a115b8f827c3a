"""Privacy operators: pseudonymization, PII redaction, re-identification
audit (builder brief extension; the reference's domain is patient-record
migration — /root/reference/README.md:2 — where de-identified exports are
the standard companion to a migration, and LLM training corpora need the
same scrubbing pass before use).

All row-local JVM expressions (hash / regexp / arithmetic banding) except
the k-anonymity audit, which is one hash aggregation on the
quasi-identifier tuple. Nothing here shuffles wide data, so every op
scales linearly with the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Redaction patterns — kept to explicit character classes so the Java
# (Spark) and RE2-ish (DuckDB) engines agree byte-for-byte.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
LONG_NUM_RE = "[0-9]{3,}"


def pseudonym(key_col, salt: str) -> F.Column:
    """Deterministic salted 16-hex-char pseudonym: stable across runs and
    tables (same key → same pseudonym, so joins still work on the
    de-identified data), irreversible without the salt. NOT
    format-preserving by design."""
    return F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), key_col.cast("string"))), 1, 16
    )


def redact_digits(text_col) -> F.Column:
    """Mask every digit with ``#`` (identifier-bearing names, MRNs, phone
    fragments)."""
    return F.regexp_replace(text_col, "[0-9]", "#")


def band_value(value_col, width: int) -> F.Column:
    """Generalize a numeric to its band floor (k-anonymity generalization
    step): 2229.54 → 2200 for width=100."""
    return (F.floor(value_col / width) * width).cast("long")


def pseudonymize(
    df: DataFrame,
    key_col: str,
    salt: str,
    name_col: str | None = None,
    band_cols: dict[str, int] | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """De-identified projection: salted pseudonym key + digit-redacted
    name + banded numerics + pass-through quasi-identifiers."""
    out = [pseudonym(F.col(key_col), salt).alias("pseudo_id")]
    if name_col:
        out.append(redact_digits(F.col(name_col)).alias(f"{name_col}_redacted"))
    for c, width in (band_cols or {}).items():
        out.append(band_value(F.col(c), width).alias(f"{c}_band"))
    out.extend(F.col(c) for c in (keep_cols or []))
    return df.select(*out)


def scrub_text(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrub for a text corpus: emails → <EMAIL>, 3+-digit runs →
    <NUM>; emits per-doc redaction counts so a pipeline can quarantine
    high-PII documents instead of silently keeping scrubbed husks."""
    lowered = F.lower(F.col(text_col))
    n_emails = F.size(F.regexp_extract_all(lowered, F.lit(EMAIL_RE), 0))
    # count digit runs BEFORE email removal would eat their digits: emails
    # are scrubbed first, then remaining digit runs.
    no_email = F.regexp_replace(lowered, EMAIL_RE, "<EMAIL>")
    n_nums = F.size(F.regexp_extract_all(no_email, F.lit(LONG_NUM_RE), 0))
    scrubbed = F.regexp_replace(no_email, LONG_NUM_RE, "<NUM>")
    return df.select(
        F.col(key_col),
        scrubbed.alias("scrubbed_text"),
        n_emails.cast("long").alias("n_emails"),
        n_nums.cast("long").alias("n_numbers"),
    )


def k_anonymity_audit(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """Re-identification risk report: quasi-identifier tuples shared by
    fewer than ``k`` rows (the groups a release would have to suppress or
    generalize further). One hash aggregation; map-side partial combine
    keeps the shuffle at the distinct-tuple count."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count("*").alias("group_size"))
        .filter(F.col("group_size") < k)
    )


def l_diversity_audit(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, l: int = 3
) -> DataFrame:
    """Attribute-disclosure risk report: quasi-identifier groups whose
    SENSITIVE attribute takes fewer than ``l`` distinct values
    (Machanavajjhala et al., "l-Diversity", ICDE 2006) — the leak
    k-anonymity is provably blind to: a group of 50 identical-diagnosis
    rows passes any k≤50 yet discloses the diagnosis of every member.
    Returns (quasi..., group_size, n_sensitive) for groups with
    ``n_sensitive < l``.

    One hash aggregation; count_distinct over a single column keeps the
    partial-agg state one value-set per group (no Expand — contrast the
    multi-distinct profile), so the shuffle carries the distinct
    (quasi..., sensitive) pairs, not rows."""
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count("*").alias("group_size"),
            F.count_distinct(F.col(sensitive_col)).alias("n_sensitive"),
        )
        .filter(F.col("n_sensitive") < l)
    )


def _dp_key_str(group_cols: list[str]):
    """LENGTH-PREFIXED group-key encoding (see `dp_noisy_counts`'s
    collision note); shared by every seeded-noise mechanism so releases
    over the same key draw from the same addressed stream."""
    def _enc(c: str):
        sv = F.col(c).cast("string")
        return F.coalesce(
            F.concat(F.length(sv).cast("string"), F.lit(":"), sv), F.lit("N")
        )

    return F.concat_ws(":", *[_enc(c) for c in group_cols])


def _binomial_noise(key_str, salt: str, repeats: int):
    """Column: sum of ``repeats`` independent Binomial(60, 1/2) - 30
    draws, content-addressed by (salt, repeat index, group key) — the
    seeded mechanism `dp_noisy_counts` documents."""
    noise = None
    for r in range(repeats):
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:{r}:"), key_str)), 1, 15),
            16,
            10,
        ).cast("long")
        term = F.bit_count(h) - F.lit(30)
        noise = term if noise is None else noise + term
    return noise


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    salt: str,
    repeats: int = 1,
    threshold: int | None = None,
) -> DataFrame:
    """Differentially private group counts via the BINOMIAL mechanism:
    ``noisy_count = count + sum_r (bit_count(h_r) - 30)`` where each
    ``h_r`` is a 60-bit hash of (salt, group key, r). Binomial(n, 1/2)
    noise centered at n/2 approximates the Gaussian mechanism (Dwork,
    Kenthapadi, McSherry, Mironov & Naor, "Our Data, Ourselves",
    EUROCRYPT 2006); per repeat sigma = sqrt(60)/2 ~ 3.87, and
    ``repeats`` sums independent draws for sigma*sqrt(repeats).

    The noise is CONTENT-ADDRESSED (md5 of salt+key+r), which buys three
    things at once: the release is reproducible across reruns / cluster
    sizes / partition layouts; the oracle can replay it exactly (the
    engine's correctness gate covers the *mechanism*, not just the true
    counts); and re-releasing under the same salt cannot leak a fresh
    noise sample (the usual averaging attack needs new draws — rotate the
    salt ONLY when a new privacy budget is spent, which is exactly when a
    new release is intended). The trade is that the noise is pseudorandom,
    not sampled — standard practice for seeded DP releases; use a secret
    salt so adversaries cannot reconstruct draws.

    ``threshold`` suppresses groups whose NOISY count falls below it (the
    thresholding step of count releases a la k-anonymity — suppression
    decided on the noisy value keeps the release a pure function of the
    mechanism output). Plan: ONE hash aggregation (map-side combine);
    noise is a row-local expression over the group key after the agg, so
    the shuffle carries exactly the distinct-group count.
    """
    # Key parts are LENGTH-PREFIXED (the `table_checksum` rule): a plain
    # delimiter join lets crafted keys collide — ('a:b','c') and
    # ('a','b:c') would draw CORRELATED noise, a real DP leak since the
    # mechanism's independence assumption dies with the collision. NULL
    # encodes as 'N', which no real value's digit-led encoding can equal
    # (concat_ws silently skipping NULLs and `||` nulling the whole key
    # out are both wrong). Oracles replay the same encoding.
    key_str = _dp_key_str(group_cols)
    noise = _binomial_noise(key_str, salt, repeats)
    out = (
        df.groupBy(*group_cols)
        .agg(F.count("*").alias("true_count"))
        .select(
            *group_cols,
            (F.col("true_count") + noise).alias("noisy_count"),
        )
    )
    if threshold is not None:
        out = out.filter(F.col("noisy_count") >= threshold)
    return out


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """Distribution-disclosure risk report — the third rung of the
    privacy-audit ladder: `k_anonymity_audit` bounds group SIZE,
    `l_diversity_audit` bounds sensitive CARDINALITY, and this bounds
    the sensitive DISTRIBUTION (Li, Li & Venkatasubramanian, ICDE 2007):
    a group can hold l diverse values yet still leak if, say, 95% of its
    rows share one diagnosis the population holds at 10%. Flags
    quasi-groups whose total-variation distance from the global
    sensitive distribution exceeds ``t``:

        TVD(g) = ½ Σ_s |c_gs/n_g − c_s/N|
               = Σ_s |c_gs·N − c_s·n_g| / (2·n_g·N)

    The second form is the implementation: the numerator is EXACT
    integer arithmetic (counts only — summed as DECIMAL(38,0), so no
    float appears until the single closing division), which makes the
    audit partition-order free and the oracle comparison exact. Missing
    (group, value) combinations contribute |0 − q_s| — the full
    sensitive domain is materialized per group (groups × domain rows),
    not just the observed pairs, or concentrated groups would be
    under-measured.

    Returns (quasi..., group_size, tvd) for groups with tvd > t.
    Shuffles: one (quasi, sensitive) count agg (checkpointed — three
    consumers, strata-sized), two tiny rollups of it, a broadcast
    domain cross-join and one keyed left join back. The sensitive
    domain must be bounded (categorical) by contract."""
    c = (
        df.groupBy(*quasi_cols, sensitive_col)
        .agg(F.count("*").alias("_c"))
        .localCheckpoint(eager=True)
    )
    n_g = c.groupBy(*quasi_cols).agg(F.sum("_c").alias("_n"))
    q = c.groupBy(sensitive_col).agg(F.sum("_c").alias("_cs"))
    big_n = q.agg(F.sum("_cs").alias("_bn"))
    dom = n_g.crossJoin(F.broadcast(q)).crossJoin(F.broadcast(big_n))
    full = dom.join(c, [*quasi_cols, sensitive_col], "left").withColumn(
        "_c", F.coalesce(F.col("_c"), F.lit(0))
    )
    # Operands cast to decimal BEFORE the products: c·N and cs·n_g are
    # count×count terms that pass 2^63 long before 38 digits (the same
    # overflow class the skewness fourth power hit) — int64 products
    # would silently wrap in non-ANSI Spark. Exact while N < 10^19 rows.
    num_term = F.abs(
        (
            F.col("_c").cast("decimal(19,0)") * F.col("_bn").cast("decimal(19,0)")
            - F.col("_cs").cast("decimal(19,0)") * F.col("_n").cast("decimal(19,0)")
        ).cast("decimal(38,0)")
    )
    agged = full.groupBy(*quasi_cols, "_n", "_bn").agg(
        F.sum(num_term).alias("_num")
    )
    tvd = F.col("_num").cast("double") / (
        F.lit(2.0) * F.col("_n").cast("double") * F.col("_bn").cast("double")
    )
    return (
        agged.withColumn("tvd", tvd)
        .filter(F.col("tvd") > t)
        .select(
            *quasi_cols, F.col("_n").alias("group_size"), F.round("tvd", 6).alias("tvd")
        )
    )


def enforce_k_anonymity(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """The ACTION `k_anonymity_audit` implies: SUPPRESS every row whose
    quasi-identifier group is smaller than ``k``, so the released table
    satisfies k-anonymity by construction (suppression is the
    conservative lever when further generalization — wider bands,
    coarser geography — would destroy utility; the audit tells you which
    to reach for). Returns the surviving rows unchanged.

    One quasi-keyed Exchange: the group size rides in as a window count
    over the same partitioning the filter consumes — no second scan, no
    join back (the count-aggregate-plus-semi-join form pays two
    Exchanges for the same result)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy(*quasi_cols)
    return (
        df.withColumn("_gs", F.count("*").over(w))
        .filter(F.col("_gs") >= k)
        .drop("_gs")
    )


def generalize_to_k(
    df: DataFrame,
    key_col: str,
    levels: list[dict],
    k: int = 25,
) -> DataFrame:
    """k-anonymity by FULL-DOMAIN GENERALIZATION (Samarati/Sweeney's
    ladder) — the utility-preserving complement of
    `enforce_k_anonymity`'s suppression: instead of dropping small
    groups, every row's quasi-identifiers coarsen together up the given
    ladder (wider value bands, geography rollups) until the WHOLE
    release satisfies k-anonymity; the last level must be fully
    suppressed ('*') so a level always exists.

    ``levels``: finest→coarsest, each a dict mapping the SAME output
    column names to string-typed generalization expressions. Returns
    (key, <quasi cols...>, level) with the chosen level applied.

    Plan: each level's min group size is one tiny hash agg (quasi-key
    shuffle, map-side combined, groups not rows); the chosen level is a
    CASE over those one-row frames cross-joined in as broadcast scalars
    (the scalar-subquery shape — NO driver decision, so the plan is one
    job at any scale); the rewrite itself is a row-local CASE. The
    rows never shuffle.
    """
    names = list(levels[0].keys())
    if any(list(lv.keys()) != names for lv in levels):
        raise ValueError("generalize_to_k: levels must share column names")

    mins = None
    for i, lv in enumerate(levels):
        m = (
            df.groupBy(*[e.alias(n) for n, e in lv.items()])
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(F.min("_c").alias(f"_min_{i}"))
        )
        mins = m if mins is None else mins.crossJoin(m)

    chosen = None
    for i in range(len(levels)):
        cond = F.col(f"_min_{i}") >= k
        chosen = F.when(cond, F.lit(i)) if chosen is None else chosen.when(cond, F.lit(i))
    chosen = chosen.otherwise(F.lit(len(levels) - 1)).alias("_lvl")

    # fail-loud guard (the repo-wide in-plan assert convention): if even
    # the coarsest level's min group is under k — fewer than k rows
    # total, or a last level that is not fully suppressed — RELEASING
    # the table would violate the very property this operator promises.
    # NULL min = zero input rows: an empty release is vacuously
    # k-anonymous (and the crossJoin below returns the empty frame), so
    # the guard only fires on a NON-empty table no level can cover
    last_min = F.col(f"_min_{len(levels) - 1}")
    last_ok = F.assert_true(
        last_min.isNull() | (last_min >= k),
        F.lit(
            "generalize_to_k: no ladder level satisfies k="
            f"{k} — coarsen the last level (or the table has < k rows)"
        ),
    )
    mins = mins.where(last_ok.isNull())

    tagged = df.crossJoin(F.broadcast(mins)).withColumn("_lvl", chosen)
    out_cols = [F.col(key_col).alias("key")]
    for n in names:
        expr = None
        for i, lv in enumerate(levels):
            c = F.when(F.col("_lvl") == i, lv[n])
            expr = c if expr is None else expr.when(F.col("_lvl") == i, lv[n])
        out_cols.append(expr.alias(n))
    out_cols.append(F.col("_lvl").cast("long").alias("level"))
    return tagged.select(*out_cols)


def dp_noisy_mean(
    df: DataFrame,
    group_cols: list[str],
    value_cents: "F.Column",
    clamp_cents: int,
    salt: str,
    repeats: int = 2,
    threshold: int = 10,
) -> DataFrame:
    """Differentially private per-group MEAN release — the companion of
    `dp_noisy_counts` (counts alone rarely satisfy an analyst): the
    standard clamp-then-noise-sum-and-count construction. Each value is
    CLAMPED to [0, clamp_cents] (bounding one record's contribution to
    the sum at exactly ``clamp_cents`` — the sensitivity the noise is
    scaled by), then two independently addressed binomial noise streams
    (salt-suffixed ``:sum`` and ``:cnt``) perturb the clamped sum
    (scaled by the sensitivity) and the count; the released mean is
    their pure-integer quotient. Same content-addressed mechanism and
    rationale as `dp_noisy_counts` (reproducible releases, oracle
    replays the MECHANISM, no fresh draws under one salt/budget).

    Returns (group_cols..., noisy_sum_cents, noisy_count, mean_milli)
    for groups whose NOISY count clears ``threshold`` (suppression on
    the noisy value keeps the release a pure mechanism output; it also
    guards the quotient — threshold >= 1 ensures a positive
    denominator). ``mean_milli = (10 * noisy_sum_cents) div
    noisy_count`` — exact integer floor arithmetic, no float boundary.

    Plan: ONE hash aggregation over (clamped sum, count) with map-side
    combine; both noise streams are row-local expressions over the
    group key after the agg — the shuffle carries exactly the
    distinct-group count, same as the count release.
    """
    clamped = F.least(
        F.greatest(value_cents, F.lit(0).cast("long")),
        F.lit(int(clamp_cents)).cast("long"),
    )
    key_str = _dp_key_str(group_cols)
    noise_sum = _binomial_noise(key_str, f"{salt}:sum", repeats)
    noise_cnt = _binomial_noise(key_str, f"{salt}:cnt", repeats)
    out = (
        df.groupBy(*group_cols)
        .agg(
            F.sum(clamped).cast("long").alias("_ts"),
            F.count(F.lit(1)).cast("long").alias("_tc"),
        )
        .select(
            *group_cols,
            (F.col("_ts") + F.lit(int(clamp_cents)) * noise_sum)
            .cast("long")
            .alias("noisy_sum_cents"),
            (F.col("_tc") + noise_cnt).cast("long").alias("noisy_count"),
        )
        .filter(F.col("noisy_count") >= max(int(threshold), 1))
    )
    return out.select(
        *group_cols,
        "noisy_sum_cents",
        "noisy_count",
        F.expr("(10 * noisy_sum_cents) div noisy_count").alias("mean_milli"),
    )


def _grid_counts(
    df: DataFrame,
    value_cents: F.Column,
    lo_cents: int,
    width_cents: int,
    n_buckets: int,
) -> DataFrame:
    """(bucket, _c) over the FULL fixed grid of ``n_buckets`` buckets of
    ``width_cents`` from ``lo_cents``: values clamp into the grid (one
    record moves exactly one count by one), ``_c`` is NULL for an empty
    bucket. One hash agg over the clamped bucket id (the shuffle carries
    at most ``n_buckets`` rows), then a grid left-join (both sides
    bucket-sized). Bucketing uses floor(double) division — exact below
    2^53 cents (~$90T), asserted nowhere because the clamp bounds the
    operand by construction."""
    hi = lo_cents + width_cents * n_buckets - 1
    x = F.least(
        F.greatest(value_cents.cast("long"), F.lit(lo_cents).cast("long")),
        F.lit(hi).cast("long"),
    )
    bucket = F.floor((x - F.lit(lo_cents)) / F.lit(width_cents)).cast("long")
    counts = (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    grid = df.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    return grid.join(counts, "bucket", "left")


def dp_histogram(
    df: DataFrame,
    value_cents,
    lo_cents: int,
    width_cents: int,
    n_buckets: int,
    salt: str,
    repeats: int = 2,
) -> DataFrame:
    """Differentially private HISTOGRAM release (r11) — the third member
    of the DP family next to `dp_noisy_counts` (group-by counts) and
    `dp_noisy_mean`: fixed-width bucket counts of an integer-cents
    value, binomial noise per bucket, released over the FULL grid
    INCLUDING empty buckets. Releasing every grid cell is what a plain
    noisy group-by gets wrong: emitting only observed buckets leaks
    which buckets were empty (a presence disclosure no noise magnitude
    fixes). The grid is data-independent (lo/width/n_buckets are release
    parameters) and values CLAMP into it, so one record changes exactly
    one bucket count by one — sensitivity 1.

    Epsilon accounting: per bucket, noise = sum of ``repeats``
    Binomial(60, 1/2) - 30 draws (sigma = sqrt(15 * repeats)),
    content-addressed by (salt, repeat, bucket) — the Gaussian-mechanism
    approximation `dp_noisy_counts` documents. Each record touches ONE
    bucket, so PARALLEL composition applies: the whole histogram costs
    one count-release budget, not n_buckets of them. Rotate the salt
    only when a new budget is spent.

    Plan: the clamped grid counts (`_grid_counts`: one bucket-sized
    hash agg and a grid left-join), then row-local addressed noise.
    Returns (bucket, bin_lo_cents, noisy_count) — n_buckets rows
    always, even on an empty input (a pure-noise release is the
    correct DP answer for empty data)."""
    noise = _binomial_noise(_dp_key_str(["bucket"]), salt, repeats)
    return (
        _grid_counts(df, value_cents, lo_cents, width_cents, n_buckets)
        .select(
            "bucket",
            (F.lit(lo_cents) + F.col("bucket") * F.lit(width_cents))
            .cast("long")
            .alias("bin_lo_cents"),
            (F.coalesce(F.col("_c"), F.lit(0)) + noise)
            .cast("long")
            .alias("noisy_count"),
        )
    )


def dp_quantile(
    df: DataFrame,
    value_cents,
    lo_cents: int,
    width_cents: int,
    n_buckets: int,
    salt: str,
    quantile_pcts: tuple[int, ...] = (25, 50, 75),
) -> DataFrame:
    """Differentially private QUANTILE release via the EXPONENTIAL
    mechanism (McSherry & Talwar 2007) over the same bounded bucket
    grid as `dp_histogram`, in a fully integer-decidable, seeded form
    so a second engine replays the exact draw:

    - utility u(b) = -|cumcount(b) - target| with target =
      (pct * n) div 100, clamped at u_floor = -60 (buckets further than
      60 ranks from the target get the floor weight — a truncated
      exponential mechanism, still DP since clamping utilities cannot
      increase their sensitivity);
    - base-2 scores: weight(b) = 2^(u(b) - u_floor), an EXACT integer
      in [1, 2^60] (shiftleft — no exp(), no float anywhere), summed in
      DECIMAL(38,0)/HUGEINT;
    - inverse-CDF draw: r = md5-derived 60-bit integer mod total
      weight, content-addressed by (salt, pct); the released bucket is
      the first whose cumulative weight exceeds r.

    Epsilon accounting: base 2 means exp(eps * u / 2) with
    eps = 2 ln 2 per unit utility; adding/removing one record moves
    every cumcount and the target by at most 1, so delta_u <= 2 and the
    per-quantile guarantee is eps = 2 * delta_u * ln 2 = 4 ln 2 ~ 2.77;
    ``len(quantile_pcts)`` releases compose sequentially (separately
    addressed draws). The 60-bit draw's modulo bias is < 2^-60 relative
    — negligible against the mechanism's own approximation, and
    EXACTNESS of replay, not perfection of sampling, is the gate here
    (the seeded-DP trade `dp_noisy_counts` documents).

    Plan: one corpus-sized hash agg to bucket counts, then every window
    (cumulative count, cumulative weight, totals) runs on the
    ``n_buckets``-row grid — single-partition by construction and
    bounded by contract, the `exact_global_quantile` ladder shape.
    Returns (quantile_pct, bucket, bin_lo_cents), one row per requested
    percentile."""
    from pyspark.sql.window import Window as W

    wcum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    dec = "decimal(38,0)"
    base = (
        _grid_counts(df, value_cents, lo_cents, width_cents, n_buckets)
        .select(
            "bucket", F.coalesce(F.col("_c"), F.lit(0)).cast("long").alias("c")
        )
        .select(
            "bucket",
            F.sum("c").over(wcum).cast("long").alias("cum"),
            F.sum("c").over(wall).cast("long").alias("n"),
        )
        .localCheckpoint(eager=True)  # one consumer per requested pct
    )
    u_floor = -60
    outs = []
    for pct in quantile_pcts:
        target = F.expr(f"({pct} * n) div 100")
        u = F.greatest(-F.abs(F.col("cum") - target), F.lit(u_floor))
        scored = base.select("bucket", u.alias("u")).selectExpr(
            "bucket",
            f"cast(shiftleft(cast(1 as bigint), "
            f"cast(u - ({u_floor}) as int)) as {dec}) as w",
        )
        cw = scored.select(
            "bucket",
            F.sum("w").over(wcum).alias("cumw"),
            F.sum("w").over(wall).alias("tw"),
        )
        h = F.conv(
            F.substring(F.md5(F.lit(f"{salt}:{pct}")), 1, 15), 16, 10
        ).cast("long")
        sel = (
            cw.filter(F.col("cumw") > h.cast(dec) % F.col("tw"))
            .orderBy("bucket")
            .limit(1)
            .select(
                F.lit(pct).cast("long").alias("quantile_pct"),
                "bucket",
                (F.lit(lo_cents) + F.col("bucket") * F.lit(width_cents))
                .cast("long")
                .alias("bin_lo_cents"),
            )
        )
        outs.append(sel)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
