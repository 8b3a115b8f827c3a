"""S5 multi-sink fan-out + S1/S3 JDBC option assembly + E2 idempotency
(the re-run-safety invariants VERDICT r1 called out)."""

from __future__ import annotations

import pytest

from openmrs_patient_migration_script_spark.operators.etl import (
    assign_surrogate_keys,
    fan_out_registration,
    idempotent_new_rows,
    max_id_offset,
    registration_build,
    write_multi_sink,
)
from openmrs_patient_migration_script_spark.sources import load_table
from openmrs_patient_migration_script_spark.sources.jdbc import (
    jdbc_append_options,
    jdbc_scan_options,
)

SF = "/root/testdata/sf0.001"


def _reg(spark):
    return registration_build(
        load_table(spark, SF, "customer"), load_table(spark, SF, "nation")
    )


def test_multi_sink_writes_all_tables(spark, tmp_path):
    """Every table is written to its own path with exactly its fan-out
    frame's rows, so concurrent writes cannot swap, truncate or drop a
    table."""
    reg = _reg(spark)
    n = reg.count()
    paths = write_multi_sink(reg, str(tmp_path))
    frames = fan_out_registration(reg)
    assert set(paths) == {
        "person",
        "person_name",
        "person_address",
        "person_attribute",
        "patient",
        "patient_identifier",
        "mapping",
    }
    for name, path in paths.items():
        assert path == f"{tmp_path}/{name}"
        df = spark.read.parquet(path)
        assert "uuid" in df.columns or name == "person"  # person carries person_uuid as uuid
        expected = 2 * n if name == "person_attribute" else n
        assert df.count() == expected, name
        assert df.columns == frames[name].columns, name
        assert df.exceptAll(frames[name]).count() == 0, name
        assert frames[name].exceptAll(df).count() == 0, name


def _settled_tracker(spark):
    """The status tracker once the listener bus has delivered every
    event, so it lists every job that has ended."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return sc.statusTracker()


def test_multi_sink_jobs_keep_the_callers_job_group(spark, tmp_path):
    """The concurrent sink writes run in pool threads; each must still
    carry the caller's job group, or job-group attribution and
    cancellation miss them. The checkpoint plus seven saves is at least
    eight jobs, and no job of the call may fall outside the group."""
    reg = _reg(spark)
    sc = spark.sparkContext
    # the tracker keeps only the newest jobs, so compare ids, not sets
    last_before = max(_settled_tracker(spark).getJobIdsForGroup(None), default=-1)
    sc.setJobGroup("multi-sink-group-test", "write_multi_sink job group")
    try:
        write_multi_sink(reg, str(tmp_path))
    finally:
        sc._jsc.clearJobGroup()
    tracker = _settled_tracker(spark)
    grouped = tracker.getJobIdsForGroup("multi-sink-group-test")
    assert len(grouped) >= 8
    assert min(grouped) > last_before
    assert [j for j in tracker.getJobIdsForGroup(None) if j > last_before] == []


def test_multi_sink_write_failure_is_raised(spark, tmp_path):
    """A failing write surfaces from the call instead of dying in its
    pool thread."""
    with pytest.raises(Exception, match="DATA_SOURCE_NOT_FOUND"):
        write_multi_sink(_reg(spark), str(tmp_path), fmt="no_such_format")


def test_fan_out_frames_share_client_key(spark):
    frames = fan_out_registration(_reg(spark))
    for name, df in frames.items():
        key = "person_id" if name == "person_attribute" else "client_id"
        assert key in df.columns, name


def test_surrogate_keys_idempotent_rerun(spark):
    """Re-running the migration with the destination already populated must
    mint no colliding ids and insert zero new rows for migrated clients."""
    c = load_table(spark, SF, "customer")
    existing = load_table(spark, SF, "orders")
    offset = max_id_offset(existing, "o_orderkey")
    first = assign_surrogate_keys(c, "c_custkey", id_col="person_id", offset=offset)
    ids = [r["person_id"] for r in first.select("person_id").collect()]
    # dense, gap-free, strictly above every existing id
    assert min(ids) == offset + 1 and max(ids) == offset + len(ids)
    assert len(set(ids)) == len(ids)
    # run 2: anti-join against the now-populated destination → nothing left
    migrated = first.select("c_custkey")
    rerun = idempotent_new_rows(c, migrated, "c_custkey")
    assert rerun.count() == 0
    # run 2 on a half-migrated destination migrates exactly the other half
    half = first.filter("c_custkey % 2 = 0").select("c_custkey")
    rest = idempotent_new_rows(c, half, "c_custkey")
    assert rest.count() == c.filter("c_custkey % 2 != 0").count()


def test_idempotent_new_rows_with_duplicate_destination_keys(spark):
    """A destination key held twice removes its source row exactly as a
    key held once does; every other source row, NULL keys included, is
    kept exactly once. Pins the anti-join's semantics without a dedup of
    the destination keys."""
    source = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (None, "e")],
        "client_id int, payload string",
    )
    existing = spark.createDataFrame(
        [(2, "x"), (2, "y"), (3, "z"), (9, "w"), (None, "v")],
        "client_id int, other string",
    )
    out = idempotent_new_rows(source, existing, "client_id")
    assert out.columns == ["client_id", "payload"]
    assert sorted(out.collect(), key=lambda r: r["payload"]) == [
        (1, "a"),
        (4, "d"),
        (None, "e"),
    ]


def test_jdbc_scan_options_partitioned():
    opts = jdbc_scan_options(
        "jdbc:mysql://host/db", "enrollment", "client_id", 1, 100000, 16
    )
    assert opts["partitionColumn"] == "client_id"
    assert (opts["lowerBound"], opts["upperBound"], opts["numPartitions"]) == (
        "1",
        "100000",
        "16",
    )
    # unpartitioned reads omit partition options entirely
    dim = jdbc_scan_options("jdbc:mysql://host/db", "identifier_type")
    assert "partitionColumn" not in dim


def test_jdbc_scan_options_requires_bounds():
    with pytest.raises(ValueError):
        jdbc_scan_options("jdbc:mysql://h/d", "t", partition_column="id")


def test_jdbc_append_options():
    opts = jdbc_append_options("jdbc:mysql://host/db", "person", batch_size=1000)
    assert opts["batchsize"] == "1000"
    assert opts["dbtable"] == "person"


def test_mysql_dialect_url_tuning():
    """The MySQL deployment surface (R:5,48) without a server: writes
    must carry rewriteBatchedStatements=true (batchsize alone still
    round-trips per row), reads useCursorFetch=true (fetchsize is
    ignored without it); both idempotent, query-string-aware, and a
    no-op for the Derby runtime-test dialect."""
    from openmrs_patient_migration_script_spark.sources.jdbc import (
        jdbc_append_options,
        jdbc_scan_options,
        mysql_tuned_url,
    )

    w = jdbc_append_options("jdbc:mysql://host/db", "person")
    assert w["url"] == "jdbc:mysql://host/db?rewriteBatchedStatements=true"
    # existing query string -> appended with '&'; already-set -> kept
    assert (
        mysql_tuned_url("jdbc:mysql://h/d?useSSL=false", for_write=True)
        == "jdbc:mysql://h/d?useSSL=false&rewriteBatchedStatements=true"
    )
    pinned = "jdbc:mysql://h/d?rewriteBatchedStatements=false"
    assert mysql_tuned_url(pinned, for_write=True) == pinned

    r = jdbc_scan_options("jdbc:mysql://host/db", "enrollment")
    assert r["url"] == "jdbc:mysql://host/db?useCursorFetch=true"
    assert r["fetchsize"] == "10000"

    derby = jdbc_append_options("jdbc:derby:memory:db;create=true", "t")
    assert derby["url"] == "jdbc:derby:memory:db;create=true"


def test_engine_facade_sql_and_query_agree(spark):
    from openmrs_patient_migration_script_spark.engine import Engine

    eng = Engine(spark, SF)
    assert eng.table("customer").count() == 150
    n_sql = eng.sql("SELECT count(*) AS n FROM customer").collect()[0]["n"]
    assert n_sql == 150
    # SQL view and declared query see the same data/semantics
    via_query = eng.query("agg_group")
    assert via_query.count() > 0
    assert "etl_registration" in eng.query_names()
    # pushdown survives the SQL surface: filter reaches the parquet scan
    plan = eng.sql(
        "SELECT c_custkey FROM customer WHERE c_custkey = 7"
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters: [" in plan
    # per-query plan audit surface
    ex = eng.explain("agg_group")
    assert "HashAggregate" in ex and "Scan parquet" in ex


# ---------------------------------------------------------------------------
# S1/S3 end-to-end against embedded Derby (ships in Spark's jars/) — the
# runtime JDBC path, not just option assembly. Uppercase identifiers so the
# quoted names Spark emits at CREATE time match the unquoted references the
# partitioned reader embeds in its WHERE clauses (Derby normalizes unquoted
# identifiers to uppercase).
# ---------------------------------------------------------------------------

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_url(tmp_path) -> str:
    return f"jdbc:derby:{tmp_path}/migdb;create=true"


def _clients(spark, lo: int, hi: int):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.col("id").alias("CLIENT_ID"),
        F.concat(F.lit("client_"), F.col("id")).alias("FULL_NAME"),
    )


def test_jdbc_roundtrip_partitioned_scan(spark, tmp_path):
    """S3 append then S1 partitioned read: values survive and the scan is
    split into the requested number of range tasks."""
    from openmrs_patient_migration_script_spark.sources.jdbc import (
        read_jdbc_partitioned,
        write_jdbc_append,
    )

    url = _derby_url(tmp_path)
    write_jdbc_append(
        _clients(spark, 1, 201), url=url, table="ENROLLMENT", driver=DERBY_DRIVER
    )
    back = read_jdbc_partitioned(
        spark,
        url=url,
        table="ENROLLMENT",
        partition_column="CLIENT_ID",
        lower_bound=1,
        upper_bound=201,
        num_partitions=4,
        driver=DERBY_DRIVER,
    )
    assert back.rdd.getNumPartitions() == 4
    rows = {r.CLIENT_ID: r.FULL_NAME for r in back.collect()}
    assert len(rows) == 200 and rows[7] == "client_7"


def test_jdbc_idempotent_rerun_appends_only_new(spark, tmp_path):
    """The reference's 'skip already-migrated clients' rule end-to-end:
    anti-join against destination keys before the JDBC append, so a full
    re-run inserts exactly the missing rows and a second re-run inserts
    zero."""
    from openmrs_patient_migration_script_spark.sources.jdbc import (
        read_jdbc_partitioned,
        write_jdbc_append,
    )

    url = _derby_url(tmp_path)
    write_jdbc_append(
        _clients(spark, 1, 101), url=url, table="PERSON", driver=DERBY_DRIVER
    )

    def rerun() -> int:
        source = _clients(spark, 1, 201)
        existing = read_jdbc_partitioned(
            spark, url=url, table="PERSON", driver=DERBY_DRIVER
        )
        fresh = idempotent_new_rows(source, existing, "CLIENT_ID")
        n = fresh.count()
        if n:
            write_jdbc_append(fresh, url=url, table="PERSON", driver=DERBY_DRIVER)
        return n

    assert rerun() == 100  # second half appended
    assert rerun() == 0  # now a no-op
    total = read_jdbc_partitioned(
        spark, url=url, table="PERSON", driver=DERBY_DRIVER
    ).count()
    assert total == 200
