"""Storage layout & maintenance: compaction and clustering.

These tests make the 100 TB read-path claims *observable* at toy scale:
file counts drop after compaction, and parquet footer bands tighten after
clustering.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.operators.layout import (
    cluster_by_range,
    compact_table,
    rowgroup_bands,
    table_file_stats,
)
from openmrs_patient_migration_script_spark.sources.parquet import load_table

SF_SMOKE = "/root/testdata/sf0.001"


def test_compact_table_bin_packs_small_files(spark, tmp_path):
    path = str(tmp_path / "fragmented")
    orders = load_table(spark, SF_SMOKE, "orders")
    # simulate streaming ingest debris: 64 tiny files
    orders.repartition(64).write.parquet(path)
    before_expected, total_bytes = table_file_stats(spark, path)
    assert before_expected == 64

    target = max(1, total_bytes // 4)  # aim for ~4 files
    before, after = compact_table(spark, path, target_file_bytes=target)
    assert before == 64
    assert after <= 8  # bin-packed to ~total/target, far below 64

    # content survives the rewrite exactly
    assert spark.read.parquet(path).count() == orders.count()
    assert (
        spark.read.parquet(path).agg(F.sum("o_orderkey")).first()[0]
        == orders.agg(F.sum("o_orderkey")).first()[0]
    )

    # converges: repeated compaction reaches a fixed point. Compaction
    # itself shrinks total bytes (per-file overhead + better encoding),
    # so the ceil(bytes/target) count can step down once more before
    # stabilizing — assert monotone descent to a fixed point rather
    # than two-round convergence (observed under load: 2 then 1).
    counts = [after]
    for _ in range(4):
        _, nxt = compact_table(spark, path, target_file_bytes=target)
        counts.append(nxt)
        if nxt == counts[-2]:
            break
    assert counts[-1] == counts[-2] <= after, counts
    assert all(b <= a for a, b in zip(counts, counts[1:])), counts


def test_compact_table_recovers_a_crash_between_its_renames(spark, tmp_path):
    """A crash after the old table was renamed aside and before the staged
    copy was promoted leaves the table only at ``<path>__compact_old``. A
    re-run must move it back and compact it, losing no row."""
    import os

    path = str(tmp_path / "crashed")
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    orders.repartition(8).write.parquet(path)
    orders.write.parquet(path + "__compact_tmp")
    os.rename(path, path + "__compact_old")

    before, after = compact_table(spark, path)
    assert (before, after) == (8, 1)
    assert sorted(r[0] for r in spark.read.parquet(path).collect()) == sorted(
        r[0] for r in orders.collect()
    )
    assert not os.path.exists(path + "__compact_old")


def test_compact_partitioned_table_preserves_layout(spark, tmp_path):
    path = str(tmp_path / "part_fragmented")
    orders = load_table(spark, SF_SMOKE, "orders").withColumn(
        "prio", F.substring("o_orderpriority", 1, 1)
    )
    # fragmented partitioned write: every task writes into every directory
    orders.repartition(16).write.partitionBy("prio").parquet(path)
    before, total_bytes = table_file_stats(spark, path)
    assert before > 16  # 16 tasks × several prio dirs

    _, after = compact_table(
        spark, path, target_file_bytes=total_bytes, partition_cols=["prio"]
    )
    assert after <= 5  # one file per partition directory

    got = spark.read.parquet(path)
    assert got.count() == orders.count()
    # partition column survives as a directory column (values re-inferred
    # from dir names — int here; compare as strings)
    assert sorted(
        str(r["prio"]) for r in got.select("prio").distinct().collect()
    ) == sorted(r["prio"] for r in orders.select("prio").distinct().collect())


def test_cluster_by_range_tightens_rowgroup_bands(spark, tmp_path):
    messy = str(tmp_path / "messy")
    clustered = str(tmp_path / "clustered")
    orders = load_table(spark, SF_SMOKE, "orders")

    # hash-scatter = every file spans ~the whole o_custkey domain
    orders.repartition(8).write.parquet(messy)
    cluster_by_range(orders, ["o_custkey"], n_files=8).write.parquet(clustered)

    lo_g = orders.agg(F.min("o_custkey")).first()[0]
    hi_g = orders.agg(F.max("o_custkey")).first()[0]
    span_g = hi_g - lo_g

    def widths(path):
        return [hi - lo for lo, hi in rowgroup_bands(path, "o_custkey")]

    messy_w = widths(messy)
    clustered_w = widths(clustered)
    assert len(clustered_w) >= 4
    # every scattered file spans nearly the global range...
    assert min(messy_w) > 0.8 * span_g
    # ...while clustered files each cover a narrow, skippable band
    assert max(clustered_w) < 0.4 * span_g
    # and a point predicate hits at most 2 clustered files (range boundary)
    probe = (lo_g + hi_g) // 2
    hits = [1 for lo, hi in rowgroup_bands(clustered, "o_custkey") if lo <= probe <= hi]
    assert len(hits) <= 2


