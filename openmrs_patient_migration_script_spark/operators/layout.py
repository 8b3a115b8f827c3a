"""Storage layout & table maintenance — the write-side half of a 100 TB
engine.

A long-lived table's read performance is mostly decided *before* any query
runs, by two layout properties this module manages:

1. **File sizing** (``compact_table``): streaming ingest and fine-grained
   partitioned writes leave thousands of tiny files per partition; at
   100 TB the driver-side file listing and per-file open cost dominate the
   scan. Compaction bin-packs a table back to ~``target_file_bytes`` files.
2. **Row-group clustering** (``cluster_by_range``): parquet stores per
   row-group min/max stats; readers skip row groups whose [min, max] band
   misses the predicate. Stats only help if each file covers a *narrow*
   band — global range partitioning + an intra-partition sort gives every
   file a tight, nearly disjoint key range. The pyarrow footer check in
   tests (``rowgroup_bands``) proves the bands tightened.

Both are plain DataFrame writes — no custom file formats, no sidecar
metadata — so they compose with every source in ``sources/``.

The reference migrates into MySQL (/root/reference/README.md:7-17) and has
no table-maintenance story; this surface is engine capability mandated by
the 100 TB design brief (/root/repo/BASELINE.json:6).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from openmrs_patient_migration_script_spark.commit import (
    hadoop_fs,
    restore_aside,
    swap_dir,
)


def table_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(file_count, total_bytes) of a parquet table's data files.

    Uses the same Hadoop FileSystem API a cluster run would (works for
    hdfs:// and s3a:// paths, not just local disk), recursing through
    partition directories and skipping _SUCCESS/metadata sidecars.
    """
    hpath, fs = hadoop_fs(spark, path)
    files, total = 0, 0
    it = fs.listFiles(hpath(path), True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        files += 1
        total += status.getLen()
    return files, total


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Rewrite a fragmented parquet table into ~``target_file_bytes`` files.

    Returns (files_before, files_after). File count is sized from the
    table's *actual* on-disk bytes, so repeated runs converge: the first
    pass also sheds per-file overhead (footers, per-file dictionary pages),
    which can shrink the table below the pre-compaction byte count, so the
    stable file count is reached from the second pass on.

    For a partitioned table pass ``partition_cols``: rows are hashed to
    writer tasks *by partition column* so each output partition directory
    is written by as few tasks as possible (repartition by a random-ish
    column would scatter every directory across every task and regenerate
    the small-file problem being fixed).

    The rewrite stages into ``<path>__compact_tmp`` and publishes it with
    `commit.swap_dir`, so a reader never observes a half-written table and
    no crash point loses data. A run that finds the table missing after a
    crash inside the swap first moves the old copy back
    (`commit.restore_aside`).
    """
    restore_aside(spark, path)
    files_before, total_bytes = table_file_stats(spark, path)
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))

    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    if partition_cols:
        # one writer task per output partition-dir slice
        df.repartition(n_files, *partition_cols).write.partitionBy(
            *partition_cols
        ).mode("overwrite").parquet(tmp)
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)

    swap_dir(spark, tmp, path)

    files_after, _ = table_file_stats(spark, path)
    return files_before, files_after


def cluster_by_range(
    df: DataFrame, cols: list[str], n_files: int
) -> DataFrame:
    """Range-cluster ``df`` so each output file covers a tight key band.

    ``repartitionByRange`` samples the key distribution and assigns each
    task a contiguous range; ``sortWithinPartitions`` orders rows inside the
    task so parquet's per-row-group min/max stats are tight too. The result
    is written with a plain ``.write`` — the clustering lives in the data
    layout, not in metadata, so any reader benefits.

    At 100 TB this is the difference between a point-lookup query reading
    one file and reading all of them: predicate ``k = x`` matches exactly
    one file's [min, max] band after clustering.
    """
    return df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)


def rowgroup_bands(path: str, column: str) -> list[tuple[object, object]]:
    """Per-file (min, max) bands for ``column`` from parquet footers.

    Reads footer metadata only (no data pages) via pyarrow — the same stats
    a Spark scan consults when deciding which row groups to skip. Used by
    tests to *prove* ``cluster_by_range`` tightened the bands rather than
    trusting that it should have.
    """
    import pyarrow.parquet as pq

    bands = []
    for root, _dirs, names in os.walk(path):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(root, name)).metadata
            idx = meta.schema.names.index(column)
            lo, hi = None, None
            for rg in range(meta.num_row_groups):
                stats = meta.row_group(rg).column(idx).statistics
                if stats is None or not stats.has_min_max:
                    continue
                lo = stats.min if lo is None else min(lo, stats.min)
                hi = stats.max if hi is None else max(hi, stats.max)
            if lo is not None:
                bands.append((lo, hi))
    return bands
