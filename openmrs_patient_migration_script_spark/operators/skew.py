"""Skew mitigations (SURVEY.md §4 scale levers).

AQE's skew-join splitting covers sort-merge JOINS; it cannot split a
WINDOW partition — `row_number() OVER (PARTITION BY hot_key)` puts every
row of the hot key in one task, and one key with 10^9 rows is one task
sorting 10^9 rows. For the common top-k-per-key shape the fix is
algebraic: top-k is a semigroup, so take a partial top-k per (key, salt)
first — bounding every task at (rows-of-key / salts) — then merge the
k x salts survivors per key. Same result, two bounded shuffles.

`salted_join` is the static counterpart for joins AQE can't save: a
shuffled-hash join stage feeding a co-partitioned consumer, an engine
with AQE off, or a hot key so extreme the split partitions still spill.
Salting trades (small-side rows × salts) replication for a uniform
big-side distribution — the pre-AQE classic, kept as an explicit lever.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_topk_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[Column],
    k: int,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Top-k rows per key, skew-safe.

    Phase 1 ranks within (key, salt) — salt = hash of ``salt_cols``
    (default: every non-key column) mod 16, so the hot key's rows
    spread over 16 tasks; survivors per key: at most k x 16 rows. Phase 2
    re-ranks the survivors per key. ``order_cols`` must be a total order
    (include a tiebreaker) or the result is nondeterministic — same
    contract as any top-k.
    """
    if salt_cols is None:
        salt_cols = [c for c in df.columns if c not in key_cols]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(16))
    w1 = Window.partitionBy(*key_cols, "_salt").orderBy(*order_cols)
    w2 = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= k)
        .drop("_salt", "_r1", "_r2")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
    salts: int = 16,
) -> DataFrame:
    """Skew-safe equi-join: spread the big side's hot keys over ``salts``
    shuffle partitions by joining on (key, salt), with the small side
    replicated once per salt.

    The big side salts on a deterministic hash of its NON-key columns, so
    rows sharing a hot key scatter across ``salts`` tasks; each small-side
    row is exploded to every salt, so every (big, small) key match still
    occurs exactly once — result is row-identical to the plain join.
    Cost: small side shuffles ``salts``× its size; only worth it when the
    big side's hot key dominates a task and AQE's split can't apply
    (shuffled-hash stage, AQE off, or downstream needs the partitioning).

    ``how`` must be ``inner`` or a left-flavored join (``left``,
    ``left_semi``, ``left_anti``) — right/full would see the replicated
    small side's unmatched rows ``salts`` times.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(f"salted_join does not support how={how!r}")
    non_key = [c for c in big.columns if c not in on]
    if not non_key:
        raise ValueError("big side needs at least one non-key column to salt on")
    salted_big = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in non_key]), F.lit(salts)).cast("int"),
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(s) for s in range(salts)]))
    )
    out = salted_big.join(salted_small, on + ["_salt"], how)
    return out.drop("_salt")
