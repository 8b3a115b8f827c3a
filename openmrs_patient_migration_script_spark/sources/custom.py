"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API).

The reference extracts from a legacy MySQL database the harness cannot
ship (/root/reference/README.md:5). `sources/jdbc.py` covers the real
JDBC path; this module covers the OTHER integration shape a migration
engine needs: a system with **no JVM driver at all** (a proprietary
cursor API, a paginated REST export, a COBOL extract). Spark 4's Python
DataSource API hosts that connector inside the engine — schema,
partition planning, and per-partition reads all declared from Python,
while the rest of the plan stays columnar JVM.

`LegacyEnrollmentDataSource` emulates the reference's legacy enrollment
extract deterministically (md5-derived fields per client_id, no RNG
state), so tests can assert exact values and idempotent re-reads:

    spark.dataSource.register(LegacyEnrollmentDataSource)
    df = (spark.read.format("legacy_enrollment")
          .option("rows", 10_000).option("numPartitions", 8).load())

Scale design: `partitions()` splits the id range exactly like a JDBC
`partitionColumn/lowerBound/upperBound` scan — each executor task pulls
only its slice, so a 1000-executor cluster fans the extract out without
driver involvement. The generator yields plain tuples; Spark batches
them through Arrow. A real connector would open its cursor/HTTP session
inside `read()` (one connection per task, the same lifecycle as the
JDBC source).

The module has no write half. The one it had staged JSONL files with `os`
calls inside the Python workers, which is correct only when every executor
shares the driver's disk; the engine publishes what it writes through
`commit.py`, on any Hadoop filesystem.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

_GENDERS = ("F", "M")
_FIRST = ("Alice", "Brian", "Chiku", "Daudi", "Esther", "Frank", "Grace", "Hawa")
_LAST = ("Abdalla", "Banda", "Chacha", "Dlamini", "Erasto", "Fakih", "Gicheru")


def _digest(client_id: int) -> bytes:
    return hashlib.md5(f"enrollment:{client_id}".encode()).digest()


def enrollment_row(client_id: int) -> tuple:
    """The deterministic fake extract row for one client id (shared with
    tests so expected values come from the same definition)."""
    d = _digest(client_id)
    first = _FIRST[d[0] % len(_FIRST)]
    last = _LAST[d[1] % len(_LAST)]
    gender = _GENDERS[d[2] % 2]
    # birthdate within 1960-01-01 .. 2005-12-31, day-precision
    year = 1960 + d[3] % 46
    month = 1 + d[4] % 12
    day = 1 + d[5] % 28
    import datetime

    birthdate = datetime.date(year, month, day)
    # ~20% of clients lack a national id — the reference's identifier
    # fallback case (README.md:15)
    national_id = None if d[6] % 5 == 0 else f"NID{int.from_bytes(d[7:11], 'big'):010d}"
    return (client_id, f"{first} {last}", gender, birthdate, national_id)


class _IdRange(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _EnrollmentReader(DataSourceReader):
    def __init__(self, options: dict):
        self.rows = int(options.get("rows", 1000))
        self.num_partitions = int(options.get("numPartitions", 4))

    def partitions(self) -> list[_IdRange]:
        if self.rows <= 0:  # a legitimate empty extract
            return [_IdRange(0, 0)]
        n = max(1, self.num_partitions)
        step = -(-self.rows // n)  # ceil-div: last slice may be short
        return [
            _IdRange(lo, min(lo + step, self.rows))
            for lo in range(0, self.rows, step)
        ]

    def read(self, partition: _IdRange) -> Iterator[tuple]:
        for client_id in range(partition.start, partition.end):
            yield enrollment_row(client_id)


class _EnrollmentStreamReader(DataSourceStreamReader):
    """The same legacy extract as a CHANGE FEED (CDC-lite): each
    micro-batch ships the client ids between the last committed offset
    and ``latestOffset()``. Because the deterministic emulation reports
    the feed's full extent as its high-water mark (see ``latestOffset``
    for why a grow-per-poll cursor is restart-unsafe), the FIRST batch
    covers all ``rows`` ids and later batches are empty; there is no
    per-poll pacing option.

    This is the full ``DataSourceStreamReader`` (not
    ``SimpleDataSourceStreamReader``, which reads on the DRIVER — a
    scale-killer for a real feed): ``partitions(start, end)`` splits each
    batch's id range so EXECUTORS pull their slices in parallel, the same
    fan-out as the batch reader. Offsets are plain dicts (JSON in the
    checkpoint), so exactly-once restart/recovery is Spark's standard
    offset-log replay — ``commit`` is a no-op because the source is
    replayable by id range (the Kafka model, not the receiver model).
    """

    def __init__(self, options: dict):
        self.rows = int(options.get("rows", 1000))
        self.num_partitions = int(options.get("numPartitions", 4))

    def initialOffset(self) -> dict:
        return {"id": 0}

    def latestOffset(self) -> dict:
        # latestOffset must be RESTART-MONOTONE: a real feed reads its
        # high-water mark from the external system (Kafka end offsets),
        # so a restarted reader never reports less than the checkpoint's
        # committed offset. A per-instance "grow by N per poll" cursor
        # violates that (a fresh reader restarts below the checkpoint and
        # Spark replays ranges → duplicates — observed and removed); the
        # deterministic emulation therefore reports the feed's full
        # extent, and batch sizing stays the engine's concern, not the
        # source's.
        return {"id": self.rows}

    def partitions(self, start: dict, end: dict) -> list[_IdRange]:
        lo, hi = int(start["id"]), int(end["id"])
        if hi <= lo:
            return [_IdRange(lo, lo)]
        n = max(1, self.num_partitions)
        step = -(-(hi - lo) // n)
        return [_IdRange(s, min(s + step, hi)) for s in range(lo, hi, step)]

    def read(self, partition: _IdRange) -> Iterator[tuple]:
        for client_id in range(partition.start, partition.end):
            yield enrollment_row(client_id)

    def commit(self, end: dict) -> None:
        # replayable source: nothing to acknowledge upstream
        pass


class LegacyEnrollmentDataSource(DataSource):
    """`format("legacy_enrollment")` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "legacy_enrollment"

    def schema(self) -> str:
        return (
            "client_id bigint, full_name string, gender string, "
            "birthdate date, national_id string"
        )

    def reader(self, schema) -> _EnrollmentReader:
        return _EnrollmentReader(self.options)

    def streamReader(self, schema) -> _EnrollmentStreamReader:
        return _EnrollmentStreamReader(self.options)
