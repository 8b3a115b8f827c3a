"""Custom Python DataSource sources and sinks (sources/custom.py): the
legacy-enrollment batch and streaming reader, and the manifest-committed
destination sink."""

from __future__ import annotations


class TestPythonDataSource:
    """Spark 4 Python DataSource API hosting a driver-less legacy
    connector (sources/custom.py)."""

    def _read(self, spark, rows=500, parts=8):
        from openmrs_patient_migration_script_spark.sources.custom import (
            LegacyEnrollmentDataSource,
        )

        spark.dataSource.register(LegacyEnrollmentDataSource)
        return (
            spark.read.format("legacy_enrollment")
            .option("rows", rows)
            .option("numPartitions", parts)
            .load()
        )

    def test_row_count_and_schema(self, spark):
        df = self._read(spark)
        assert df.count() == 500
        assert [f.name for f in df.schema.fields] == [
            "client_id", "full_name", "gender", "birthdate", "national_id",
        ]

    def test_partition_planning_fans_out(self, spark):
        df = self._read(spark, rows=500, parts=8)
        assert df.rdd.getNumPartitions() == 8

    def test_deterministic_and_matches_generator(self, spark):
        from openmrs_patient_migration_script_spark.sources.custom import (
            enrollment_row,
        )

        got = {r.client_id: r for r in self._read(spark, rows=50, parts=3).collect()}
        assert len(got) == 50
        for cid in (0, 7, 49):
            exp = enrollment_row(cid)
            r = got[cid]
            assert (r.client_id, r.full_name, r.gender, r.birthdate, r.national_id) == exp
        # identifier-fallback population exists (reference README.md:15)
        assert any(r.national_id is None for r in got.values())

    def test_feeds_registration_build(self, spark):
        """The custom source slots into the same registration ETL the
        parquet/JDBC paths use — connector swap, same plan."""
        df = self._read(spark, rows=200, parts=4)
        out = df.selectExpr(
            "client_id",
            "upper(full_name) AS name_norm",
            "coalesce(national_id, concat('GEN-', client_id)) AS identifier",
        )
        rows = out.collect()
        assert len(rows) == 200
        assert all(r.identifier is not None for r in rows)

    def test_zero_rows_yields_empty_frame(self, spark):
        df = self._read(spark, rows=0, parts=4)
        assert df.count() == 0


class TestCustomStreamingSource:
    """S6-stream: the same custom Python connector as a CHANGE FEED —
    full DataSourceStreamReader (executor-side partitioned reads, not the
    driver-side Simple variant), offsets as plain dicts in the standard
    checkpoint offset log."""

    def test_stream_drains_to_batch_equality(self, spark):
        import time

        from openmrs_patient_migration_script_spark.sources.custom import (
            LegacyEnrollmentDataSource,
        )

        spark.dataSource.register(LegacyEnrollmentDataSource)
        q = (
            spark.readStream.format("legacy_enrollment")
            .option("rows", 300)
            .option("numPartitions", 3)
            .load()
            .writeStream.format("memory")
            .queryName("enrollment_feed")
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                n = spark.sql(
                    "SELECT count(*) c FROM enrollment_feed"
                ).collect()[0]["c"]
                if n >= 300:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        streamed = spark.sql("SELECT * FROM enrollment_feed")
        # exactly-once drain: every id exactly once, rows identical to the
        # batch reader over the same id range (replayable-source contract)
        assert streamed.count() == 300
        assert streamed.select("client_id").distinct().count() == 300
        batch = (
            spark.read.format("legacy_enrollment").option("rows", 300).load()
        )
        assert streamed.exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed).count() == 0

    def test_restart_from_checkpoint_is_exactly_once(self, spark, tmp_path):
        """Kill the stream, restart from the same checkpoint: the offset
        log must resume the feed without duplicating or dropping a row
        (replayable-by-range + restart-monotone latestOffset — a reader
        whose offset regresses below the checkpoint replays ranges, the
        bug this test pins out)."""
        import time

        from openmrs_patient_migration_script_spark.sources.custom import (
            LegacyEnrollmentDataSource,
        )

        spark.dataSource.register(LegacyEnrollmentDataSource)
        ckpt = str(tmp_path / "ckpt")
        sink = str(tmp_path / "sink")

        def start():
            return (
                spark.readStream.format("legacy_enrollment")
                .option("rows", 400)
                .option("numPartitions", 3)
                .load()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )

        q = start()
        q.awaitTermination(120)
        n_first = spark.read.parquet(sink).count()
        # restart against the same checkpoint: nothing new to ship
        q2 = start()
        q2.awaitTermination(120)
        time.sleep(0.5)
        out = spark.read.parquet(sink)
        assert n_first == 400
        assert out.count() == 400
        assert out.select("client_id").distinct().count() == 400


class TestPythonDataSourceSink:
    """The WRITE half of the Python DataSource surface
    (sources/custom.py::DestinationSinkDataSource): staged task files +
    manifest publish = two-phase commit in batch, batch-id-idempotent
    manifests in streaming."""

    SCHEMA = "client_id bigint, full_name string"

    def _register(self, spark):
        from openmrs_patient_migration_script_spark.sources.custom import (
            DestinationSinkDataSource,
        )

        spark.dataSource.register(DestinationSinkDataSource)

    def test_batch_write_publishes_exactly_the_input(self, spark, tmp_path):
        from openmrs_patient_migration_script_spark.sources.custom import (
            read_committed_sink,
        )

        self._register(spark)
        dest = str(tmp_path / "dest")
        df = spark.createDataFrame(
            [(i, f"client-{i}") for i in range(100)], self.SCHEMA
        ).repartition(4)
        df.write.format("destination_sink").option("path", dest).mode(
            "append"
        ).save()
        back = read_committed_sink(spark, dest, self.SCHEMA)
        assert {tuple(r) for r in back.collect()} == {
            (i, f"client-{i}") for i in range(100)
        }

    def test_staged_without_manifest_is_invisible(self, spark, tmp_path):
        """The two-phase contract: a task file that was staged but never
        committed (crash debris) must NOT surface to readers."""
        import os

        from openmrs_patient_migration_script_spark.sources.custom import (
            read_committed_sink,
        )

        self._register(spark)
        dest = str(tmp_path / "dest")
        spark.createDataFrame([(1, "a")], self.SCHEMA).write.format(
            "destination_sink"
        ).option("path", dest).mode("append").save()
        with open(os.path.join(dest, "_staged", "task-orphan.jsonl"), "w") as f:
            f.write('{"client_id": 999, "full_name": "ghost"}\n')
        back = read_committed_sink(spark, dest, self.SCHEMA)
        assert [tuple(r) for r in back.collect()] == [(1, "a")]

    def test_stream_write_and_replay_is_exactly_once(self, spark, tmp_path):
        """availableNow stream into the sink, then re-run with the SAME
        checkpoint: no new batches fire, and a simulated replay of an
        already-committed batch id rewrites its manifest instead of
        duplicating it — the committed row set is stable."""
        import glob
        import os

        from openmrs_patient_migration_script_spark.sources.custom import (
            LegacyEnrollmentDataSource,
            read_committed_sink,
        )

        self._register(spark)
        spark.dataSource.register(LegacyEnrollmentDataSource)
        dest, ckpt = str(tmp_path / "dest"), str(tmp_path / "ckpt")
        os.makedirs(dest, exist_ok=True)

        def run_once():
            q = (
                spark.readStream.format("legacy_enrollment")
                .option("rows", 120)
                .option("numPartitions", 3)
                .load()
                .selectExpr("client_id", "full_name")
                .writeStream.format("destination_sink")
                .option("path", dest)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        first = {tuple(r) for r in read_committed_sink(spark, dest, self.SCHEMA).collect()}
        assert len(first) == 120
        manifests_before = sorted(glob.glob(os.path.join(dest, "manifest-*.json")))

        run_once()  # same checkpoint: everything already processed
        second = {tuple(r) for r in read_committed_sink(spark, dest, self.SCHEMA).collect()}
        assert second == first
        assert sorted(glob.glob(os.path.join(dest, "manifest-*.json"))) == manifests_before


