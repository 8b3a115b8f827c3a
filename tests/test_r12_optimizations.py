"""r12 optimization-round pins. Two kinds:

- byte-derived broadcast gates (``broadcast_fits``): the row threshold
  still binds for the classic two-long edge tables, while WIDE rows gate
  proportionally lower and the env override is honored — plus an
  end-to-end result-invariance check on a wide-keyed frame;
- interpreted-HOF binding idiom plan pins (r11 ADVICE): the
  ``element_at(transform(array(n), ...), 1)`` once-per-row binding in
  ``normalized()`` and the once-per-segment ``size(sequence(...))``
  binding in ``interpolate_linear`` are performance-only assumptions
  that Spark never CSEs/inlines single-element transforms; a future
  Catalyst rule that collapses them would silently restore O(n²)
  behavior while all value-equality tests stay green. These pins make
  such an engine change fail a test instead of only a bench.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_broadcast_fits_row_gate_binds_for_edge_sized_rows(spark):
    """Two-long edge/degree tables: 16 B/row + 8 B extra -> the 128 MiB
    byte budget admits ~5.6M rows, so the measured 5M ROW gate still
    decides (byte budget must not shift the classic regime)."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        broadcast_fits,
    )

    edge = spark.createDataFrame([], "u long, v long")
    assert broadcast_fits(5_000_000, edge, 5_000_000, extra_bytes=8)
    assert not broadcast_fits(5_000_001, edge, 5_000_000, extra_bytes=8)


def test_broadcast_fits_wide_rows_gate_lower(spark):
    """Wide rows gate proportionally lower than the row threshold: ten
    string columns model ~200 B/row, so 5M rows (~1 GB) must NOT pass
    the 128 MiB budget even though the row threshold would admit them."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        _est_row_bytes,
        broadcast_fits,
    )

    wide = spark.createDataFrame(
        [], ", ".join(f"c{i} string" for i in range(10))
    )
    width = _est_row_bytes(wide)
    assert width >= 200
    budget_rows = (128 * 1024 * 1024) // width
    assert not broadcast_fits(5_000_000, wide, 5_000_000)
    assert broadcast_fits(budget_rows, wide, 5_000_000)
    assert not broadcast_fits(budget_rows + 1, wide, 5_000_000)


def test_broadcast_fits_env_override(spark, monkeypatch):
    """SPARK_GRAFT_BROADCAST_MAX_BYTES re-derives the gate for cluster
    memory geometry; explicit max_bytes wins over the env."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        broadcast_fits,
    )

    edge = spark.createDataFrame([], "u long, v long")  # 16 B/row modeled
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_MAX_BYTES", str(16 * 100))
    assert broadcast_fits(100, edge, 5_000_000)
    assert not broadcast_fits(101, edge, 5_000_000)
    assert broadcast_fits(101, edge, 5_000_000, max_bytes=16 * 1024)


def test_wide_row_gate_is_result_invisible(spark):
    """End-to-end: a wide string-keyed pair graph takes the shuffle
    regime under the byte gate (width pushes it under), and a forced
    low byte budget returns bit-identical tables to the default path."""
    import os

    from openmrs_patient_migration_script_spark.operators.graph import (
        edge_support,
    )

    edges = [
        (f"node-{u:04d}-{'x' * 40}", f"node-{u + d:04d}-{'x' * 40}")
        for u in range(1, 30)
        for d in (1, 2)
    ]
    df = spark.createDataFrame(edges, "key_a string, key_b string")
    default = _rows(edge_support(df))
    old = os.environ.get("SPARK_GRAFT_BROADCAST_MAX_BYTES")
    os.environ["SPARK_GRAFT_BROADCAST_MAX_BYTES"] = "1"
    try:
        narrow_budget = _rows(edge_support(df))
    finally:
        if old is None:
            del os.environ["SPARK_GRAFT_BROADCAST_MAX_BYTES"]
        else:
            os.environ["SPARK_GRAFT_BROADCAST_MAX_BYTES"] = old
    assert default == narrow_budget and len(default) > 0


def test_normalized_binding_survives_optimizer(spark):
    """Plan pin (r11 ADVICE): the optimized plan must still carry the
    one-element-array binding wrapper around the division lambda — if a
    Catalyst rule ever collapses element_at(transform(array(n), ...), 1)
    back into an inline lambda, the O(d) norm fold re-inlines into the
    per-element body (O(d²) per row) with no value change."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        normalized,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 2.0])], "id long, v array<double>"
    )
    plan = (
        df.select(normalized(F.col("v")).alias("nv"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "element_at(transform(array(" in plan, plan


def test_interpolate_segment_binding_survives_optimizer(spark):
    """Plan pin (r11 ADVICE): interpolate_linear's per-segment length
    binding must keep inline `size(sequence(` occurrences at <= 3 in the
    optimized plan (one once-per-segment binding + the two-part
    max_buckets guard — the r11 fix took the TWO per-bucket inline
    occurrences out of the inner lambda: the pre-fix plan carries 4, see
    plans/r11/ts_interpolate_{before,after}.txt)."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        interpolate_linear,
    )

    df = spark.createDataFrame(
        [(1, "2031-01-01 00:00:00", 1.0), (1, "2031-01-01 02:00:00", 5.0)],
        "series_id long, ts string, val double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = interpolate_linear(df, "series_id", "ts", "val")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("size(sequence(") <= 3, plan
