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
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
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


class _StagedFile(WriterCommitMessage):
    """Per-task commit message: which staged file this task wrote."""

    def __init__(self, filename: str, n_rows: int):
        self.filename = filename
        self.n_rows = n_rows


def _write_task_file(path: str, it) -> _StagedFile:
    """Shared task-side write: rows → one uniquely-named JSONL file under
    ``<path>/_staged/``. The file is INVISIBLE to readers until a driver
    commit lists it in a manifest — the two-phase contract."""
    import json
    import os
    import uuid

    staged_dir = os.path.join(path, "_staged")
    os.makedirs(staged_dir, exist_ok=True)
    fname = f"task-{uuid.uuid4().hex}.jsonl"
    n = 0
    with open(os.path.join(staged_dir, fname), "w") as f:
        for row in it:
            f.write(json.dumps(row.asDict(), default=str) + "\n")
            n += 1
    return _StagedFile(fname, n)


def _abort_staged(path: str, messages) -> None:
    import os

    for m in messages:
        if m is None:
            continue
        try:
            os.remove(os.path.join(path, "_staged", m.filename))
        except OSError:
            pass  # a task that failed before creating its file


class _DestinationWriter(DataSourceWriter):
    """Batch half of the destination sink: every task stages its file,
    and ONE driver-side ``commit`` publishes the whole set in a single
    manifest write — readers either see the entire batch or none of it
    (the Python DataSource write API's two-phase commit, the same shape
    a real OpenMRS insert batch needs around its transaction)."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator) -> _StagedFile:
        return _write_task_file(self.path, iterator)

    def commit(self, messages) -> None:
        import json
        import os
        import uuid

        manifest = {
            "files": sorted(m.filename for m in messages if m is not None),
            "rows": sum(m.n_rows for m in messages if m is not None),
        }
        tmp = os.path.join(self.path, f"._manifest-{uuid.uuid4().hex}.tmp")
        final = os.path.join(self.path, f"manifest-batch-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, final)  # atomic publish

    def abort(self, messages) -> None:
        _abort_staged(self.path, messages)


class _DestinationStreamWriter(DataSourceStreamWriter):
    """Streaming half: ``commit(messages, batchId)`` names the manifest
    by batch id, so a replayed micro-batch (crash between sink commit
    and checkpoint advance — Spark's at-least-once window) REWRITES the
    same manifest instead of adding a second one: the committed file set
    for a batch id is last-writer-wins and duplicates never become
    visible. Exactly-once lands via idempotence — the same recipe as
    streaming/pipelines.py's ``_batch_id``-per-directory writers,
    expressed in the DataSource API."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator) -> _StagedFile:
        return _write_task_file(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        import json
        import os

        manifest = {
            "files": sorted(m.filename for m in messages if m is not None),
            "rows": sum(m.n_rows for m in messages if m is not None),
        }
        tmp = os.path.join(self.path, f"._manifest-{batchId}.tmp")
        final = os.path.join(self.path, f"manifest-{batchId}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, final)  # atomic + idempotent per batch id

    def abort(self, messages, batchId: int) -> None:
        _abort_staged(self.path, messages)


class DestinationSinkDataSource(DataSource):
    """`format("destination_sink")` — the WRITE half of the custom
    connector surface: a driver-less destination (the role OpenMRS's
    MySQL plays in the reference, /root/reference/README.md:7-17) fed
    through the Python DataSource write API with two-phase commit in
    batch and batch-id-idempotent manifests in streaming. Committed data
    = union of files listed in manifests; staged files without a
    manifest entry are invisible (crash debris, cleaned by the next
    compaction)."""

    @classmethod
    def name(cls) -> str:
        return "destination_sink"

    def writer(self, schema, overwrite: bool) -> _DestinationWriter:
        return _DestinationWriter(self.options)

    def streamWriter(self, schema, overwrite: bool) -> _DestinationStreamWriter:
        return _DestinationStreamWriter(self.options)


def read_committed_sink(spark, path: str, schema: str):
    """Reader-side contract of the manifest protocol: load ONLY files
    published by a manifest (staged-but-uncommitted files never appear).
    Later manifests for the SAME batch id replace earlier ones by
    construction (single file per id, atomic rename)."""
    import json
    import os

    files: list[str] = []
    for name in sorted(os.listdir(path)):
        if name.startswith("manifest-") and name.endswith(".json"):
            with open(os.path.join(path, name)) as f:
                files.extend(
                    os.path.join(path, "_staged", fn)
                    for fn in json.load(f)["files"]
                )
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)
