"""Parquet sources (harness stand-in for the reference's MySQL source,
/root/reference/README.md:5).

Reads go through the vectorized parquet reader with explicit schemas so
Catalyst can prune columns and push predicates down to the scan — the
``.explain()`` plan for any engine query should show ``PushedFilters`` and a
narrow ``ReadSchema``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from functools import lru_cache

from openmrs_patient_migration_script_spark.schemas import (
    TABLE_SCHEMAS,
    events_read_schema,
)


def parquet_ts_unit(path: str, column: str = "ts") -> str:
    """On-disk time unit ('us'/'ns') of a parquet timestamp column.

    Footer-only metadata probe (no data pages) on the driver, cached per
    (path, mtime) — the harness has shipped `events.ts` as both
    TIMESTAMP(MICROS) and TIMESTAMP(NANOS) across testdata regenerations,
    and reading one as the other silently shifts every epoch by 1000x.
    Keying the cache on the mtime means a rewritten file or directory
    re-probes instead of serving the stale unit for the process's
    lifetime. A directory is probed through pyarrow's dataset discovery,
    which skips ``_``/``.`` sidecars; an empty one reads as 'us'.
    """
    return _ts_unit_cached(path, os.path.getmtime(path), column)


@lru_cache(maxsize=64)
def _ts_unit_cached(path: str, _mtime: float, column: str) -> str:
    import pyarrow.parquet as pq

    schema = pq.ParquetDataset(path).schema
    if not schema.names:  # an empty directory
        return "us"
    return schema.field(column).type.unit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one harness table with its explicit schema."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = TABLE_SCHEMAS.get(name)
    if name == "events":
        unit = parquet_ts_unit(path)
        df = spark.read.schema(events_read_schema(unit)).parquet(path)
        if unit == "ns":
            # NANOS scans as ns-since-epoch long
            # (spark.sql.legacy.parquet.nanosAsLong). Convert with integer
            # division — ns epochs (~1.7e18) overflow double's 53-bit
            # mantissa, so `/ 1000` would corrupt low-order digits; `div`
            # is exact.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


