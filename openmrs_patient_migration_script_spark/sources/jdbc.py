"""JDBC source/sink parity (SURVEY.md §2.1 S1, S3) — the reference's actual
deployment surface: read the legacy MySQL enrollment table, read destination
state (existing ids, type lookups), append into the OpenMRS tables
(/root/reference/README.md:5,7-17,27).

The harness ships no MySQL server, so the runtime tests
(tests/test_sinks_and_jdbc.py) exercise these wrappers end-to-end against
embedded Derby — the JDBC database Spark itself ships in jars/ — covering
the partitioned scan, the append sink, and the idempotent re-run. The parquet loaders stand in everywhere else. The scale
decisions are in the options they emit:

- **S1 partitioned scan**: `partitionColumn/lowerBound/upperBound/
  numPartitions` turn one big JDBC cursor into N parallel range scans —
  without them Spark reads the whole table through a single task.
- **pushdown**: pass a `(SELECT ...) AS t` subquery as ``table`` to ship
  projection/filter into the database instead of pulling all columns.
- **S3 append sink**: `batchsize` + MySQL's `rewriteBatchedStatements`
  collapse row-at-a-time INSERTs into multi-row packets; idempotent
  re-runs anti-join against destination keys BEFORE writing
  (operators/etl.py::idempotent_new_rows), the reference's "skip
  already-migrated clients" rule re-expressed as a plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _with_url_param(url: str, param: str, value: str) -> str:
    """Append a connector parameter to a JDBC URL unless already set."""
    if f"{param}=" in url:
        return url
    sep = "&" if "?" in url else "?"
    return f"{url}{sep}{param}={value}"


def mysql_tuned_url(url: str, for_write: bool = False) -> str:
    """MySQL-dialect URL tuning (README.md:5,48 — the reference's actual
    deployment database), applied ONLY when the URL is jdbc:mysql:

    - reads: ``useCursorFetch=true`` — without it Connector/J buffers the
      ENTIRE result set in executor memory before the first row reaches
      Spark, so ``fetchsize`` is silently ignored and a big partitioned
      scan OOMs the task; with it the server streams fetch-size chunks.
    - writes: ``rewriteBatchedStatements=true`` — without it
      ``executeBatch`` still round-trips one INSERT per row and
      ``batchsize`` only batches client-side; with it the connector
      rewrites the batch into multi-row INSERT packets (the order-of-
      magnitude sink lever the module docstring documents).

    Idempotent (a parameter already on the URL is kept as-is) and a
    no-op for every other dialect — Derby, the harness's runtime-test
    database, passes through unchanged."""
    if not url.startswith("jdbc:mysql:"):
        return url
    if for_write:
        return _with_url_param(url, "rewriteBatchedStatements", "true")
    return _with_url_param(url, "useCursorFetch", "true")


def jdbc_scan_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    fetch_size: int = 10_000,
    driver: str | None = None,
) -> dict[str, str]:
    """S1: option map for a (possibly partitioned) JDBC scan. Pure —
    unit-testable without a database. MySQL URLs are tuned for streaming
    reads (see :func:`mysql_tuned_url`); other dialects pass through."""
    opts = {
        "url": mysql_tuned_url(url),
        "dbtable": table,
        "fetchsize": str(fetch_size),
    }
    if driver is not None:
        opts["driver"] = driver
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned scan requires lower/upper bounds")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def jdbc_append_options(
    url: str,
    table: str,
    batch_size: int = 5_000,
    isolation: str = "READ_COMMITTED",
    driver: str | None = None,
) -> dict[str, str]:
    """S3: option map for an append sink. MySQL URLs gain
    ``rewriteBatchedStatements=true`` (see :func:`mysql_tuned_url`) so
    ``batchsize`` actually collapses into multi-row INSERT packets."""
    opts = {
        "url": mysql_tuned_url(url, for_write=True),
        "dbtable": table,
        "batchsize": str(batch_size),
        "isolationLevel": isolation,
    }
    if driver is not None:
        opts["driver"] = driver
    return opts


def read_jdbc_partitioned(spark: SparkSession, **scan_kwargs) -> DataFrame:
    """S1: parallel range-partitioned JDBC scan (one task per id range)."""
    return spark.read.format("jdbc").options(**jdbc_scan_options(**scan_kwargs)).load()


def write_jdbc_append(df: DataFrame, **append_kwargs) -> None:
    """S3: append rows into a destination table."""
    df.write.format("jdbc").options(**jdbc_append_options(**append_kwargs)).mode(
        "append"
    ).save()
