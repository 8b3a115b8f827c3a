"""Registry wiring declared queries (SURVEY.md §2 '✔/◐' rows) to oracles.

Each query is a callable ``(spark, sf_dir) -> DataFrame``; each oracle is an
ANSI-SQL string DuckDB runs against the same parquet tables. A query
registered with ``oracle=None`` gets the driver's weaker rows-only check
(reserved for non-SQL-expressible operators).

An oracle fragment that replays an engine kernel is not written here: it
comes from the ``*_sql`` twin beside that kernel — ``shingles_sql``,
``minhash_signatures_sql`` and ``band_buckets_sql`` (operators/dedup.py),
``srp_hashed_sql`` (operators/similarity.py), ``quality_exprs_sql``,
``langid_exprs_sql`` and ``STOPWORDS_SQL`` (operators/text.py),
``hash_bucket_sql`` (operators/sampling.py),
``deterministic_uuid_sql`` (functions/ids.py) — so a change to a kernel
and to its SQL form is made in one file.

Float policy: any column produced by reassociative float aggregation (SUM /
AVG over doubles) is ``round()``-ed identically on both sides — Spark's
partial-aggregation order is nondeterministic across partitions, so raw
float sums differ from a serial engine in final ulps. Counts, keys, strings,
dates and row-level arithmetic are left exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Decorator: register a declared query and (optionally) its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
