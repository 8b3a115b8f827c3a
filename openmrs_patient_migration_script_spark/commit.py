"""How the engine publishes a directory and finds the published ones.

One commit contract for everything the engine writes in place of an older
copy or appends batch by batch. Every call goes through the Hadoop
FileSystem that serves the path's own scheme, so it holds on HDFS, S3 or
ABFS exactly as on local disk, whichever host the driver runs on.

- **Published** means Spark's writer has left its ``_SUCCESS`` marker in
  ``<root>/<prefix><id>``. A directory without the marker is in flight or
  crashed, and no reader sees it.
- ``batch_step`` makes a fold replay-safe under ``foreachBatch``: batch
  ``i`` does nothing when ``<prefix>i`` is already published. Otherwise it
  hands the fold the published directories with an id below ``i`` and
  overwrites ``<prefix>i`` with the fold's rows. foreachBatch ids are
  sequential, so a replayed batch sees the same prior state and writes the
  same rows again.
- ``read_newest`` serves a snapshot per id (the newest is current), and
  ``read_union`` a delta per id (the union is current).
- ``swap_dir`` replaces a whole directory by a staged copy, and
  ``restore_aside`` recovers from a crash between its two renames.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Where `swap_dir` keeps the old copy until the staged one is in place; the
# name compaction has always used, so an older run's crash is recovered too.
_ASIDE = "__compact_old"


def hadoop_fs(spark: SparkSession, path: str):
    """(the Hadoop ``Path`` class, the FileSystem that serves ``path``)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return hpath, hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())


def _published(spark: SparkSession, root: str, prefix: str) -> list[tuple[int, str]]:
    """Sorted (id, path) of every ``<root>/<prefix><id>`` directory that
    carries a ``_SUCCESS`` marker."""
    hpath, fs = hadoop_fs(spark, root)
    if not fs.exists(hpath(root)):
        return []
    out = []
    for st in fs.listStatus(hpath(root)):
        name = st.getPath().getName()
        if name.startswith(prefix) and fs.exists(hpath(st.getPath(), "_SUCCESS")):
            out.append((int(name[len(prefix):]), st.getPath().toString()))
    return sorted(out)


def batch_step(
    root: str, prefix: str, fold: Callable[[DataFrame, list[str]], DataFrame]
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` function that publishes ``fold(batch_df,
    prior)`` at ``<root>/<prefix><batch_id>``; ``prior`` lists the published
    directories with a smaller id, oldest first."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        done = _published(batch_df.sparkSession, root, prefix)
        if any(i == batch_id for i, _ in done):
            return  # a replay of a published batch
        prior = [p for i, p in done if i < batch_id]
        fold(batch_df, prior).write.mode("overwrite").parquet(
            f"{root}/{prefix}{batch_id}"
        )

    return step


def read_newest(spark: SparkSession, root: str, prefix: str, schema: str) -> DataFrame:
    """The newest published snapshot, or an empty frame of ``schema``."""
    done = _published(spark, root, prefix)
    if not done:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(done[-1][1])


def read_union(spark: SparkSession, root: str, prefix: str, schema: str) -> DataFrame:
    """The union of every published delta, or an empty frame of ``schema``."""
    done = _published(spark, root, prefix)
    if not done:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*(p for _, p in done))


def swap_dir(spark: SparkSession, staged: str, path: str) -> None:
    """Publish the directory ``staged`` at ``path``, replacing the old one.

    Rename the old copy aside, promote the staged one, then delete the old
    one: the data survives every crash point (delete-then-rename would lose
    it if the driver died between the two calls). A crash between the two
    renames leaves only the aside copy, which ``restore_aside`` moves back.
    A true atomic swap is the transactional commit that a table format
    (Iceberg, Delta) or a metastore owns."""
    hpath, fs = hadoop_fs(spark, path)
    target, old = hpath(path), hpath(path.rstrip("/") + _ASIDE)
    if fs.exists(old):  # a crash after the promote left the old copy
        fs.delete(old, True)
    fs.rename(target, old)
    fs.rename(hpath(staged), target)
    fs.delete(old, True)


def restore_aside(spark: SparkSession, path: str) -> None:
    """Undo a ``swap_dir`` that crashed between its renames: when ``path``
    is missing and its aside copy exists, move the aside copy back."""
    hpath, fs = hadoop_fs(spark, path)
    target, old = hpath(path), hpath(path.rstrip("/") + _ASIDE)
    if not fs.exists(target) and fs.exists(old):
        fs.rename(old, target)
