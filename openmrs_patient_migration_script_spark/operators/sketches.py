"""Mergeable-sketch rollups — incremental distinct counts, quantiles,
set algebra and frequencies at 100 TB.

``agg_distinct``'s exact two-phase distinct re-scans the fact table for
every (slice, window) asked. The scale pattern is to pre-aggregate each
narrow slice ONCE into a mergeable sketch, persist the sketches (a few KB
each), and answer any coarser slice by merging sketches — no second pass
over raw data, ever. This is how a 100 TB daily pipeline serves "distinct
users over any date range" in milliseconds.

Sketch families (the DataSketches ones are JVM built-ins in Spark 4, so
the whole path is codegen'd — no UDFs — and every sketch column is an
ordinary ``binary`` that parquet/ORC round-trips):
- Theta: distinct counts WITH set algebra — union, intersection,
  difference — the audience-overlap questions an HLL sketch cannot
  answer;
- KLL: per-slice quantile sketches — p50/p95/p99 over any date range
  without a re-scan; rank-error bounded, merge-order randomized
  (compaction), so the contract is rank accuracy, not bit identity;
- roaring bitmaps: EXACT distinct counts, merged by bucket-wise OR;
- Count-Min: item frequencies, merged by cell-wise addition.

Correctness contracts are pinned in tests/test_analytics.py: merged
estimates sit within the configured precision's error bound of the true
value, also after the sketches take a parquet roundtrip — the
persist-then-merge pattern the module exists for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantile_sketch_slices(
    df: DataFrame,
    slice_cols: list[str],
    value_col: str,
    k: int = 200,
) -> DataFrame:
    """One KLL quantile sketch per slice: (slice_cols..., q_sketch) —
    the quantile counterpart of :func:`theta_sketch_slices` (Spark 4.1
    ships the DataSketches KLL family as JVM built-ins).

    ``k=200`` ⇒ ~1.65% rank error in a few KB per sketch. The value
    column is cast to double (one typed family keeps the module simple —
    bigint/float variants exist if exact integer semantics matter).
    Partial-combinable hash agg: the shuffle carries sketch state, not
    raw values, and the sketch column parquet-roundtrips like any binary.
    """
    return df.groupBy(*slice_cols).agg(
        F.kll_sketch_agg_double(
            F.col(value_col).cast("double"), F.lit(k)
        ).alias("q_sketch")
    )


def rollup_quantiles(
    sketches: DataFrame,
    keep_cols: list[str],
    quantiles: list[float],
    sketch_col: str = "q_sketch",
) -> DataFrame:
    """Merge pre-built KLL sketches to a coarser slice and read off
    quantiles: (keep_cols..., q_<p> per requested p). Never touches raw
    data — the 100 TB pattern for "p50/p95/p99 latency over any date
    range" without a re-scan. Rank error is the sketch's (~1.65% at
    k=200): pinned against exact percentiles in tests."""
    merged = sketches.groupBy(*keep_cols).agg(
        F.kll_merge_agg_double(F.col(sketch_col)).alias("merged")
    )
    return merged.select(
        *keep_cols,
        *[
            F.kll_sketch_get_quantile_double("merged", F.lit(p)).alias(
                f"q_{str(p).replace('.', '_')}"
            )
            for p in quantiles
        ],
    )


def theta_sketch_slices(
    df: DataFrame,
    slice_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """One theta sketch per slice: (slice_cols..., t_sketch). Theta
    sketches estimate distinct counts like HLL but additionally support
    set INTERSECTION and DIFFERENCE — the audience-overlap questions
    ("users active in BOTH segments") HLL cannot answer."""
    return df.groupBy(*slice_cols).agg(
        F.theta_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("t_sketch")
    )


def rollup_theta(
    sketches: DataFrame,
    keep_cols: list[str],
    sketch_col: str = "t_sketch",
    lg_k: int = 12,
) -> DataFrame:
    """Merge pre-built theta sketches up to a coarser slice:
    (keep_cols..., distinct_estimate). Theta keeps the raw hash SET until
    ``2^lg_k`` entries (exact mode), so at slice cardinalities below the nominal k
    the rolled-up estimate is not an estimate at all — it equals the true
    distinct count, which is what makes the declared query
    hash-checkable against an exact ``COUNT(DISTINCT)`` oracle.

    ``lg_k`` here is the UNION gadget's nominal size and must be >= the
    input sketches' lg_k to preserve their resolution — a union at the
    default 12 silently downsamples exact-mode lg_k=16 inputs back to
    4096 entries (measured: 12767 vs a true 12920 at sf0.1)."""
    return (
        sketches.groupBy(*keep_cols)
        .agg(F.theta_union_agg(F.col(sketch_col), F.lit(lg_k)).alias("merged"))
        .select(
            *keep_cols,
            F.theta_sketch_estimate("merged").cast("long").alias("distinct_estimate"),
        )
    )


def theta_algebra(
    sketches: DataFrame,
    slice_col: str,
    slice_a,
    slice_b,
    sketch_col: str = "t_sketch",
    lg_k: int = 12,
) -> DataFrame:
    """Distinct-count set algebra over two pre-built slice sketches, as a
    one-row DataFrame: |A|, |B|, |A ∪ B|, |A ∩ B|, |A \\ B| — each read
    from sketch state, no raw-data pass. The two single-sketch sides meet
    in a one-row × one-row crossJoin (a broadcast of one row, not a real
    cartesian). ``lg_k`` sizes the union gadget — keep it >= the input
    sketches' lg_k (see :func:`rollup_theta`'s downsampling note)."""
    a = sketches.filter(F.col(slice_col) == slice_a).select(
        F.col(sketch_col).alias("a")
    )
    b = sketches.filter(F.col(slice_col) == slice_b).select(
        F.col(sketch_col).alias("b")
    )
    return a.crossJoin(b).select(
        F.theta_sketch_estimate("a").cast("long").alias("n_a"),
        F.theta_sketch_estimate("b").cast("long").alias("n_b"),
        F.theta_sketch_estimate(F.theta_union("a", "b", F.lit(lg_k)))
        .cast("long")
        .alias("n_union"),
        F.theta_sketch_estimate(F.theta_intersection("a", "b"))
        .cast("long")
        .alias("n_intersection"),
        F.theta_sketch_estimate(F.theta_difference("a", "b"))
        .cast("long")
        .alias("n_difference"),
    )


def bitmap_slices(
    df: DataFrame,
    slice_cols: list[str],
    value_col: str,
) -> DataFrame:
    """One roaring-style bitmap per (slice, bucket): (slice_cols...,
    bucket, bm) — the EXACT mergeable-distinct state (the Doris/StarRocks
    bitmap pattern, via Spark 4's built-in bitmap functions).

    Sketches trade exactness for constant size; bitmaps keep exactness
    and bound state differently: the integer key space is sharded into
    32768-bit buckets (``bitmap_bucket_number``), each slice holds one
    4 KB bitmap PER OCCUPIED BUCKET, and merges are bucket-wise ORs.
    State is O(key-range / 32768) per slice instead of O(1) — the right
    trade when the audit must be exact (migration reconciliation) and
    keys are dense surrogate ids. Partial-combinable hash agg: the
    shuffle carries bitmaps, not raw values.
    """
    return (
        df.select(
            *slice_cols,
            F.bitmap_bucket_number(F.col(value_col)).alias("bucket"),
            F.bitmap_bit_position(F.col(value_col)).alias("_pos"),
        )
        .groupBy(*slice_cols, "bucket")
        .agg(F.bitmap_construct_agg(F.col("_pos")).alias("bm"))
    )


def rollup_bitmap_distinct(
    bitmaps: DataFrame,
    keep_cols: list[str],
) -> DataFrame:
    """Merge per-(slice, bucket) bitmaps up to a coarser slice and count:
    (keep_cols..., distinct_exact). Two hash aggs: bucket-wise OR (the
    mergeable step — idempotent, so overlapping finer slices never
    double-count), then a sum of per-bucket popcounts. EXACT at any
    scale — no error bound to document, unlike the theta rollup."""
    return (
        bitmaps.groupBy(*keep_cols, "bucket")
        .agg(F.bitmap_or_agg(F.col("bm")).alias("merged"))
        .groupBy(*keep_cols)
        .agg(F.sum(F.bitmap_count(F.col("merged"))).alias("distinct_exact"))
    )


def _cms_bucket(item_col, row: int, width: int):
    """Content-addressed Count-Min bucket: row ``row``'s hash of the item
    is the first 8 md5 hex chars of ``item || ':' || row`` mod width —
    pure SQL on both engines, so the whole sketch (and every estimate
    read from it) replays exactly in a DuckDB oracle."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(item_col, F.lit(f":{row}"))), 1, 8),
            16,
            10,
        ).cast("long")
        % width
    )


def cms_build(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch of an item stream (Cormode & Muthukrishnan 2005)
    — the mergeable FREQUENCY sketch completing the family: Theta and
    bitmaps answer distinct, KLL answers quantiles, CMS answers "how many times
    did X occur" over arbitrary re-aggregations with fixed state.

    Returns the sketch as (row, bucket, cnt) cells — at most
    ``depth × width`` rows regardless of input size. Mergeability is
    literal addition: cells of two sketches (per-partition, per-day,
    per-source) sum by (row, bucket), which is exactly what the
    map-side-combined groupBy already does — at 100 TB each task
    partial-aggregates its partition's stream into ≤ depth·width cells
    locally and the shuffle carries sketches, never the stream. Point
    estimates overcount only (min over rows bounds the collision
    error by ε=e/width with prob 1-δ, δ=e^-depth)."""
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        _cms_bucket(F.col(item_col), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("c")
    )
    return (
        cells.select("c.row", "c.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    probes: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the Count-Min sketch for each probe item: the
    estimate is min over the sketch's ``depth`` rows of the addressed
    cell (0 when the cell is absent — the item was never seen). The
    probe side re-derives the same content-addressed buckets, joins the
    ≤ depth·width-row sketch (broadcast — it is sketch-sized by
    construction), and takes one min agg; ``depth`` and ``width`` must
    match the build call (same hash family contract as
    minhash_pairs_against's index_signatures)."""
    probe_cells = probes.select(
        F.col(item_col).alias("item"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        _cms_bucket(F.col(item_col), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("c"),
    ).select("item", "c.row", "c.bucket")
    joined = probe_cells.join(F.broadcast(cms), ["row", "bucket"], "left")
    return joined.groupBy("item").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("cms_est")
    )
