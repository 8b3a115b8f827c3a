"""SparkSession factory with scale-oriented defaults.

The same builder is used by tests, bench.py and the driver entry point so
every code path runs with identical semantics:

- AQE on (runtime join-strategy switching, skew-join splitting, partition
  coalescing) — the 100 TB design lever we rely on instead of hand-tuning.
- UTC session timezone — required for byte-identical timestamp comparison
  against the DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for any Pandas-UDF escape hatches.
- ANSI mode OFF to keep permissive SQL semantics aligned with the oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def merged_submit_args(mem: str, existing: str | None) -> str:
    """PYSPARK_SUBMIT_ARGS value honoring both the wrapper and
    SPARK_DRIVER_MEM: keep a pre-set value verbatim when it already pins
    --driver-memory, otherwise prepend ours (r2's setdefault silently
    ignored SPARK_DRIVER_MEM under any wrapper that pre-set the var)."""
    if existing is None:
        return f"--driver-memory {mem} pyspark-shell"
    if "--driver-memory" in existing:
        return existing
    return f"--driver-memory {mem} {existing}"


def get_spark(
    app_name: str = "openmrs-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to ``$SPARK_GRAFT_CPUS``, else the
    local core count (the cores this process may run on) — at cluster
    scale you would size this to data volume instead; AQE coalesces
    downward at runtime either way.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    # Driver heap must be fixed BEFORE the JVM launches — a builder .config()
    # is too late once getOrCreate has started the gateway. Route it through
    # PYSPARK_SUBMIT_ARGS, which the Python gateway reads at JVM launch.
    mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = merged_submit_args(
        mem, os.environ.get("PYSPARK_SUBMIT_ARGS")
    )
    # Python workers import this package to run the functions it ships to
    # them, and they inherit PYTHONPATH from the JVM, not the driver's
    # sys.path: hand the package's location on before the JVM starts.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env else len(os.sched_getaffinity(0))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        # events.ts is parquet TIMESTAMP(NANOS) — Spark has no ns timestamp;
        # read as long and convert in sources/parquet.py (µs-exact: the data
        # is µs-grained).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # generous broadcast threshold: our dims (region/nation/part at test
        # SF) are tiny; at 100 TB the dims are still << executor memory
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    # caller overrides (e.g. tools/shuffle_audit.py re-enables the UI to
    # read per-stage shuffle metrics over the REST API)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
