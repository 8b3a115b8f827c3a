"""Join operators Spark lacks natively (SURVEY.md §2.3 J8).

As-of join: for every left row, the most recent right row for the same key
at-or-before the left timestamp (trades/quotes, event attribution, slowly
changing dimensions).

Spark has no native as-of join. The naive plan — equi+range join then
row_number()==1 — materializes every (left, earlier-right) pair before
pruning: O(|L| x matches) intermediate, quadratic on hot keys. The
scale-safe plan used here is the **union + ordered carry-forward**:

1. union both sides with a side tag (right rows carry their payload, left
   rows carry null payload);
2. one shuffle: partition by key, order by (ts, side, right_id) — right
   sorts before left at equal ts, giving <= semantics;
3. `last(payload, ignorenulls=True)` over rows UNBOUNDED PRECEDING..CURRENT
   carries the latest right payload forward;
4. keep only left rows.

One shuffle, no pair blow-up, linear in |L| + |R|; skewed keys are a sort
problem (AQE-splittable), not a cartesian one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    right_id: str | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Left as-of join: the latest right row per key at-or-before each
    left row (``direction="backward"``, the default), or the EARLIEST
    right row at-or-after it (``direction="forward"`` — "what happened
    next": view→conversion attribution, order→first shipment).

    Left rows with no matching right row survive with null payload
    (left-join semantics). Tie policy on equal timestamps matches the
    window-oracle forms: backward breaks on DESCENDING ``right_id`` (the
    later-inserted row wins; ``ORDER BY ts DESC, id DESC``), forward on
    ASCENDING (``ORDER BY ts ASC, id ASC``). Forward is the same
    union + single-shuffle carry plan traversed in reverse time order —
    no second code path, no extra shuffle.

    ``tolerance_seconds`` (pandas ``merge_asof`` parity, r4): a match
    further than this from the left timestamp is treated as NO match —
    the payload nulls out row-locally after the carry (a stale quote is
    not a quote). The carry itself is unchanged: the nearest match is
    by construction the only candidate inside any tolerance window, so
    the plan stays one shuffle + one window whatever the tolerance.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if right_id is not None and right_id not in right_payload:
        raise ValueError("right_id must be one of right_payload")
    carried = list(right_payload)
    clobbered = set(carried) & set(left.columns)
    if clobbered:
        raise ValueError(
            f"carried payload columns {sorted(clobbered)} collide with left "
            "columns and would silently overwrite them — rename them first"
        )
    r_dtypes = dict(right.dtypes)
    if tolerance_seconds is not None:
        # the matched right timestamp rides along as an internal carried
        # column so the gap check works whether or not the caller asked
        # for right_ts in the payload
        carried = carried + ["_match_ts"]

    l_tag = left.withColumn("_side", F.lit(1))
    for c in right_payload:
        l_tag = l_tag.withColumn(c, F.lit(None).cast(r_dtypes[c]))
    if tolerance_seconds is not None:
        l_tag = l_tag.withColumn(
            "_match_ts", F.lit(None).cast(r_dtypes[right_ts])
        )
    l_tag = l_tag.withColumn("_ts", F.col(left_ts))

    # A right row with a NULL timestamp can match nothing: the oracle's
    # ts <= / >= predicate is NULL-rejecting. Unfiltered, such rows sort
    # to the partition head (asc puts NULL first; forward uses
    # desc_nulls_first) and their payload would be carried into left rows
    # that should have no match.
    r_cols = [
        *on,
        F.col(right_ts).alias("_ts"),
        *[F.col(c) for c in right_payload],
    ]
    if tolerance_seconds is not None:
        r_cols.append(F.col(right_ts).alias("_match_ts"))
    r_tag = right.filter(F.col(right_ts).isNotNull()).select(*r_cols).withColumn(
        "_side", F.lit(0)
    )
    for c in left.columns:
        if c not in on:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))

    # align column order for unionByName
    cols = on + ["_ts", "_side"] + [c for c in left.columns if c not in on] + carried
    unioned = l_tag.select(*cols).unionByName(r_tag.select(*cols))

    # right rows (side=0) sort before left rows (side=1) at equal ts →
    # '<=' / '>=' inclusivity; forward traverses time in reverse so the
    # same carry-forward picks the nearest FUTURE right row, and the
    # right_id tiebreak flips so the last-carried row matches the
    # ascending-oracle convention
    if direction == "backward":
        sort_cols = [F.col("_ts"), F.col("_side")] + (
            [] if right_id is None else [F.col(right_id)]
        )
    else:
        # desc_nulls_first: a NULL left timestamp must sort BEFORE every
        # right row so it carries nothing (ts >= NULL matches nothing) —
        # plain desc puts nulls last, where they would absorb the
        # smallest right row's payload
        sort_cols = [F.col("_ts").desc_nulls_first(), F.col("_side")] + (
            [] if right_id is None else [F.col(right_id).desc()]
        )
    w = (
        Window.partitionBy(*on)
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # all carries in ONE select over the same window spec → a single Window
    # node (sequential withColumn calls would re-sort per column, since each
    # carry rewrites a column the next window's sort key references)
    keep = [c for c in unioned.columns if c not in carried]
    out = unioned.select(
        *keep,
        *[F.last(F.col(c), ignorenulls=True).over(w).alias(c) for c in carried],
    )
    out = out.filter(F.col("_side") == 1)
    if tolerance_seconds is not None:
        # row-local staleness gate: beyond the tolerance the carried match
        # is no match — null the payload, exactly like a carry miss
        gap_ms = F.abs(F.unix_millis(F.col("_ts")) - F.unix_millis("_match_ts"))
        stale = F.col("_match_ts").isNull() | (
            gap_ms > F.lit(int(tolerance_seconds * 1000))
        )
        out = out.select(
            *[c for c in out.columns if c not in carried],
            *[
                F.when(stale, F.lit(None)).otherwise(F.col(c)).alias(c)
                for c in carried
                if c != "_match_ts"
            ],
        )
    return out.drop("_side", "_ts", "_match_ts")


def banded_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    band: float,
) -> DataFrame:
    """Pure band join — pairs with ``|left_val - right_val| <= band`` — as a
    bin equi-join.

    Spark plans a join whose only predicate is a value band as a
    BroadcastNestedLoopJoin (or a cartesian product if neither side fits in
    a broadcast): O(|L| x |R|) comparisons, the classic interval-join scale
    killer. The standard rewrite quantizes the number line into bins of
    width ``band``:

    - each RIGHT row lands in exactly one bin: ``floor(val / band)``;
    - each LEFT row emits the 3 bins its band window can overlap:
      ``floor(val / band) + {-1, 0, +1}``. Both sides share the SAME
      ``floor(val / band)`` expression form on purpose — computing the
      left window as ``floor((val ± band) / band)`` is equivalent in real
      arithmetic but not in floats: for a band width with no exact binary
      representation, a pair within ~1 ulp of a bin boundary could pass
      the exact re-check yet fall outside the asymmetrically-rounded
      window and be silently dropped;
    - equi-join on the bin, then re-check the exact band predicate.

    Every true pair meets in exactly one bin (the right row's), so no
    dedup pass is needed. The plan becomes a hash/sort-merge join on the
    bin key — shuffle O(|L| + |R|), comparisons only within bins — and
    survives a 100x scale-up where the nested loop does not. Hot bins
    (value skew) are ordinary join skew: AQE splits them.

    NULL values on either side drop out (inner-join semantics), matching
    a SQL ``abs(l - r) <= band`` predicate, which is NULL-rejecting.
    """
    if band <= 0:
        raise ValueError("band must be positive")
    w = float(band)
    center = F.floor(F.col(left_val) / w).cast("long")
    l_binned = left.filter(F.col(left_val).isNotNull()).withColumn(
        "_bin", F.explode(F.sequence(center - 1, center + 1))
    )
    r_binned = right.filter(F.col(right_val).isNotNull()).withColumn(
        "_bin", F.floor(F.col(right_val) / w).cast("long")
    )
    joined = l_binned.join(r_binned, "_bin").filter(
        F.abs(F.col(left_val) - F.col(right_val)) <= w
    )
    return joined.drop("_bin")


def grid_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_xy: tuple[str, str],
    right_xy: tuple[str, str],
    radius: float,
) -> DataFrame:
    """2D Euclidean distance join — pairs with
    ``sqrt((lx-rx)² + (ly-ry)²) <= radius`` — as a grid-cell equi-join:
    the spatial member of the binned-join family (banded_join = 1D
    points, interval_overlap_join = 1D ranges, this = 2D points; the
    geo/embedding-scatter "what's near each point" shape).

    Cells are radius-sized squares. Each RIGHT point lands in exactly one
    cell ``(floor(x/r), floor(y/r))``; each LEFT point emits the 3×3
    block of cells its radius disc can reach (both sides share the same
    ``floor(v/r)`` expression form — banded_join's FP note). True pairs
    meet exactly once (in the right point's home cell), so no dedup pass
    exists; the exact distance re-check is row-local. Shuffle O(9|L| +
    |R|); dense cells are ordinary join skew (AQE). NULL coordinates drop
    out (the SQL distance predicate is NULL-rejecting).
    """
    if radius <= 0:
        raise ValueError("radius must be positive")
    r = float(radius)
    lx, ly = left_xy
    rx, ry = right_xy

    cell = lambda v: F.floor(F.col(v) / r).cast("long")  # noqa: E731
    offsets = F.expr("sequence(-1, 1)")
    l_binned = (
        left.filter(F.col(lx).isNotNull() & F.col(ly).isNotNull())
        .withColumn("_dx", F.explode(offsets))
        .withColumn("_dy", F.explode(offsets))
        .select(
            "*",
            (cell(lx) + F.col("_dx")).alias("_cx"),
            (cell(ly) + F.col("_dy")).alias("_cy"),
        )
        .drop("_dx", "_dy")
    )
    r_binned = right.filter(
        F.col(rx).isNotNull() & F.col(ry).isNotNull()
    ).select("*", cell(rx).alias("_cx"), cell(ry).alias("_cy"))
    # dx*dx rather than pow(dx, 2): exactly rounded in every engine,
    # keeping the re-check predicate reproducible bit-for-bit
    _dx, _dy = F.col(lx) - F.col(rx), F.col(ly) - F.col(ry)
    dist = F.sqrt(_dx * _dx + _dy * _dy)
    return (
        l_binned.join(r_binned, ["_cx", "_cy"])
        .filter(dist <= r)
        .drop("_cx", "_cy")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bin_width: float,
    on: list[str] | None = None,
    max_bins_per_row: int = 64,
) -> DataFrame:
    """Interval × interval overlap join — pairs whose ``[start, end]``
    ranges intersect (``l_start <= r_end AND r_start <= l_end``),
    optionally restricted to equal ``on`` keys — as a bin equi-join.

    Spark plans a bare overlap predicate as a BroadcastNestedLoopJoin
    (O(|L| × |R|) comparisons). The scale rewrite generalizes
    :func:`banded_join` from points-in-a-band to intervals: quantize the
    axis into bins of ``bin_width``, explode EACH side over the bins its
    interval spans (``floor(start/w) .. floor(end/w)``, both sides using
    the same ``floor(x/w)`` expression form — see banded_join's FP note),
    equi-join on ``(on..., bin)``, re-check the exact overlap predicate.

    Overlapping pairs would meet in every shared bin; instead of a
    distinct pass over the (wide) join output, each pair is kept only in
    its CANONICAL bin — the bin of ``greatest(l_start, r_start)``, the
    overlap's left edge, which both rows span by construction — so every
    true pair survives exactly once and the plan needs no dedup shuffle.

    Cost: shuffle O(Σ spans/width) rows; ``max_bins_per_row`` is the
    in-plan guard (``assert_true``) against a runaway interval exploding
    the build side — the same fail-loud contract as ``ts_resample``'s
    span assert. Rows with NULL endpoints drop out (the SQL overlap
    predicate is NULL-rejecting). Hot bins are ordinary join skew (AQE).
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    w = float(bin_width)
    on = on or []

    def binned(df: DataFrame, start: str, end: str) -> DataFrame:
        lo = F.floor(F.col(start) / w).cast("long")
        hi = F.floor(F.col(end) / w).cast("long")
        guard = F.assert_true(
            hi - lo < max_bins_per_row,
            F.concat(
                F.lit(f"interval spans >= {max_bins_per_row} bins of {w}: "),
                F.col(start).cast("string"),
                F.lit(" .. "),
                F.col(end).cast("string"),
            ),
        )
        # .where(assert_true(...).isNull()) keeps every row (assert_true is
        # NULL on success) while forcing the guard's evaluation — a dropped
        # helper column would be pruned out of the plan, guard and all
        return (
            df.filter(F.col(start).isNotNull() & F.col(end).isNotNull())
            .filter(F.col(start) <= F.col(end))
            .where(guard.isNull())
            .withColumn("_bin", F.explode(F.sequence(lo, hi)))
        )

    l_b = binned(left, left_start, left_end)
    r_b = binned(right, right_start, right_end)
    joined = (
        l_b.join(r_b, on + ["_bin"])
        .filter(
            (F.col(left_start) <= F.col(right_end))
            & (F.col(right_start) <= F.col(left_end))
        )
        .filter(
            F.col("_bin")
            == F.floor(F.greatest(F.col(left_start), F.col(right_start)) / w).cast(
                "long"
            )
        )
    )
    return joined.drop("_bin")


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    right_id: str,
) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof(direction=
    'nearest')`` parity): for every left row, the right row of the same
    key CLOSEST in time — before or after — with equal gaps preferring
    the backward match. Appends ``matched_dir`` ('backward'/'forward',
    NULL on no match).

    NOT two as-of joins glued together: both direction carries run over
    ONE key-partitioned (ts, side, id) sort — the backward match is
    `last(payload, ignorenulls)` over the UNBOUNDED PRECEDING frame and
    the forward match is `first(payload, ignorenulls)` over the UNBOUNDED
    FOLLOWING frame of the SAME window ordering, so the plan is one
    Exchange + one Sort + two Window nodes however many payload columns
    ride along (Spark coalesces same-frame window functions). The
    row-local gap compare then picks a side in integer epoch-millis.

    Tie semantics fall out of the single ascending sort: right rows sort
    before left at equal ts, so an equal-ts match is a backward match
    with gap 0 (which always wins); within one timestamp the backward
    carry keeps the LARGEST right id (`last` in frame) and the forward
    carry the SMALLEST (`first`) — the same per-direction conventions as
    `asof_join`. NULL right timestamps are filtered (they can match
    nothing); a NULL left timestamp emits no match row-locally.
    """
    if right_id not in right_payload:
        raise ValueError("right_id must be one of right_payload")
    carried = list(right_payload)
    clobbered = set(carried) & set(left.columns)
    if clobbered:
        raise ValueError(
            f"carried payload columns {sorted(clobbered)} collide with left "
            "columns — rename them first"
        )
    r_dtypes = dict(right.dtypes)
    carried = carried + ["_match_ts"]

    l_tag = left.withColumn("_side", F.lit(1))
    for c in right_payload:
        l_tag = l_tag.withColumn(c, F.lit(None).cast(r_dtypes[c]))
    l_tag = l_tag.withColumn(
        "_match_ts", F.lit(None).cast(r_dtypes[right_ts])
    ).withColumn("_ts", F.col(left_ts))

    r_tag = (
        right.filter(F.col(right_ts).isNotNull())
        .select(
            *on,
            F.col(right_ts).alias("_ts"),
            *[F.col(c) for c in right_payload],
            F.col(right_ts).alias("_match_ts"),
        )
        .withColumn("_side", F.lit(0))
    )
    for c in left.columns:
        if c not in on:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))

    cols = on + ["_ts", "_side"] + [c for c in left.columns if c not in on] + carried
    unioned = l_tag.select(*cols).unionByName(r_tag.select(*cols))

    w = Window.partitionBy(*on).orderBy(
        F.col("_ts"), F.col("_side"), F.col(right_id)
    )
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)

    both = unioned.select(
        "*",
        *[F.last(c, ignorenulls=True).over(back).alias(f"_b_{c}") for c in carried],
        *[F.first(c, ignorenulls=True).over(fwd).alias(f"_f_{c}") for c in carried],
    ).filter(F.col("_side") == 1)

    lms = F.unix_millis(F.col("_ts"))
    b_gap = lms - F.unix_millis(F.col("_b__match_ts"))
    f_gap = F.unix_millis(F.col("_f__match_ts")) - lms
    use_back = F.col("_b__match_ts").isNotNull() & (
        F.col("_f__match_ts").isNull() | (b_gap <= f_gap)
    )
    has_match = F.col("_ts").isNotNull() & (
        F.col("_b__match_ts").isNotNull() | F.col("_f__match_ts").isNotNull()
    )
    out_cols = [F.col(c) for c in left.columns]
    for c in right_payload:
        out_cols.append(
            F.when(
                has_match,
                F.when(use_back, F.col(f"_b_{c}")).otherwise(F.col(f"_f_{c}")),
            ).alias(c)
        )
    out_cols.append(
        F.when(
            has_match,
            F.when(use_back, F.lit("backward")).otherwise(F.lit("forward")),
        ).alias("matched_dir")
    )
    return both.select(*out_cols)


# bloom filter size (bits) and hash count of bloom_semi_join
_BLOOM_BITS, _BLOOM_HASHES = 1 << 16, 3


def bloom_build_words(build: DataFrame, key_col: str) -> list[int]:
    """Build a bloom filter over ``build[key_col]`` as a list of
    ``_BLOOM_BITS/64`` longs — distributed: bit positions explode row-local
    (seeded xxhash64, the Kirsch-Mitzenmacher trick is unnecessary at
    k=3), ``bit_or`` aggregates per word with map-side combine, and ONLY
    the aggregated words (1024 rows for 2^16 bits)
    reach the driver — the same bounded-collect contract as the
    histogram cuts in operators/etl.py, and the same mechanism Spark's
    own AQE runtime filter uses (bloom_filter_agg → scalar subquery).

    At ~6 500 build keys (≈ 10 bits/key) three hashes give ~2% false
    positives; the false-positive rate only costs wasted shuffle rows,
    never correctness — callers re-join exactly.
    """
    m, k = _BLOOM_BITS, _BLOOM_HASHES
    pos = build.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m))
                    for i in range(k)
                ]
            )
        ).alias("pos")
    )
    words_rows = (
        pos.groupBy((F.col("pos") / 64).cast("int").alias("w"))
        .agg(F.bit_or(
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            )
        ).alias("word"))
        .collect()
    )
    words = [0] * (m // 64)
    for r in words_rows:
        words[r["w"]] = r["word"]
    return words


def bloom_might_contain(words: list[int], col):
    """Row-local membership test against `bloom_build_words` output —
    all ``_BLOOM_HASHES`` bits must be set. Pure JVM expressions (literal
    array + element_at + bitwise AND), so it pushes into the scan stage
    and whole-stage codegen."""
    m = _BLOOM_BITS
    arr = F.lit(words)
    checks = []
    for i in range(_BLOOM_HASHES):
        p = F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m))
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        checks.append(word.bitwiseAND(bit) != 0)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def bloom_semi_join(
    fact: DataFrame,
    build: DataFrame,
    fact_key: str,
    build_key: str,
) -> DataFrame:
    """Semi join with an explicit bloom-filter pre-filter — the
    selective-dimension join at 100 TB: when the build side's keys are
    few but the fact side is huge, shuffling every fact row to discover
    that 99% find no partner IS the bottleneck. The bloom filter drops
    non-candidates inside the fact SCAN (row-local, before any
    exchange); the real semi join afterwards removes the bloom's false
    positives, so the result is EXACTLY ``fact ⋉ build`` — the filter
    can only be wrong in the direction the join corrects.

    Spark's AQE injects this pattern automatically in some shapes
    (spark.sql.optimizer.runtime.bloomFilter.enabled); this operator
    makes it explicit, deterministic, and available when the build side
    is a computed frame the optimizer can't see through.
    """
    fact_type = dict(fact.dtypes).get(fact_key)
    build_type = dict(build.dtypes).get(build_key)
    if fact_type != build_type:
        # xxhash64 is TYPE-sensitive (int hashes as 4 bytes, long as 8):
        # equal values of different widths set/probe DIFFERENT bits, so a
        # dtype mismatch would silently drop matching fact rows — the one
        # wrong direction the final join cannot correct. Fail loud; the
        # caller casts one side.
        raise ValueError(
            f"bloom_semi_join: key dtypes differ ({fact_key}: {fact_type} "
            f"vs {build_key}: {build_type}) — cast to a common type first"
        )
    words = bloom_build_words(build, build_key)
    pre = fact.filter(bloom_might_contain(words, F.col(fact_key)))
    # left_semi already emits each fact row at most once — no distinct
    # (an extra Exchange) needed on the build side.
    return pre.join(
        build.select(F.col(build_key).alias(fact_key)),
        on=fact_key,
        how="left_semi",
    )
