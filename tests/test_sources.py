"""Custom Python DataSource sources (sources/custom.py): the
legacy-enrollment batch and streaming reader."""

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
