"""SURVEY §2.12 escape hatches: pandas_udf scalar, pandas UDAF, Python
UDTF — each pinned to its contract (values, SQL composability, and
alignment with the JVM built-in twin where one exists)."""

from __future__ import annotations

from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.functions.python_exts import (
    ChunkSpans,
    vectorized_quality_score,
    weighted_mean,
)
from openmrs_patient_migration_script_spark.operators.text import quality_metrics
from openmrs_patient_migration_script_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_vectorized_scalar_matches_builtin_quality_score(spark):
    docs = load_table(spark, SF, "documents").limit(100)
    jvm = quality_metrics(docs).select("doc_id", "quality_score")
    py = docs.select("doc_id", vectorized_quality_score("text").alias("q"))
    joined = jvm.join(py, "doc_id")
    bad = joined.filter(F.abs(F.col("quality_score") - F.col("q")) > 1e-6)
    assert bad.count() == 0, bad.limit(5).collect()


def test_vectorized_scalar_matches_builtin_on_edge_cases(spark):
    """The cases the harness corpus never exercises: NULL text, empty
    text, uppercase stopwords, double spaces, stopword-only docs — the
    two paths must still agree (including NULL vs NULL)."""
    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "THE The the"),
            (5, "of and  in to is"),
            (6, "Zebra quick FOX jumps"),
        ],
        ["doc_id", "text"],
    )
    jvm = {r.doc_id: r.quality_score for r in quality_metrics(docs).collect()}
    py = {
        r.doc_id: r.q
        for r in docs.select(
            "doc_id", vectorized_quality_score("text").alias("q")
        ).collect()
    }
    assert set(jvm) == set(py)
    for k in jvm:
        if jvm[k] is None:
            assert py[k] is None, (k, py[k])
        else:
            assert py[k] is not None and abs(jvm[k] - py[k]) < 1e-9, (k, jvm[k], py[k])


def test_pandas_udaf_weighted_mean(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 3.0, 3.0), ("b", 10.0, 2.0), ("b", 20.0, 0.0)],
        ["k", "x", "w"],
    )
    got = {
        r.k: r.wm
        for r in df.groupBy("k").agg(weighted_mean("x", "w").alias("wm")).collect()
    }
    assert abs(got["a"] - 2.5) < 1e-12  # (1+9)/4
    assert abs(got["b"] - 10.0) < 1e-12  # zero weight drops the 20
    # equivalence with the decomposable built-in form (the scale path)
    builtin = {
        r.k: r.wm
        for r in df.groupBy("k")
        .agg((F.sum(F.col("x") * F.col("w")) / F.sum("w")).alias("wm"))
        .collect()
    }
    assert got == builtin


def test_udtf_chunk_spans_via_sql_lateral(spark):
    spark.udtf.register("chunk_spans", ChunkSpans)
    spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, "")], ["doc_id", "text"]
    ).createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        """
        SELECT doc_id, start, length, piece
        FROM udtf_docs, LATERAL chunk_spans(text, 5)
        ORDER BY doc_id, start
        """
    ).collect()
    got = [(r.doc_id, r.start, r.length, r.piece) for r in rows]
    assert got == [
        (1, 0, 5, "a b c d e"),
        (1, 5, 2, "f g"),
        (2, 0, 2, "x y"),
    ]  # empty doc yields no rows


def test_udtf_direct_invocation(spark):
    out = ChunkSpans(F.lit("p q r"), F.lit(2)).collect()
    assert [(r.start, r.piece) for r in out] == [(0, "p q"), (2, "r")]


def test_udtf_rejects_nonpositive_size(spark):
    spark.udtf.register("chunk_spans", ChunkSpans)
    spark.createDataFrame([(1, "a b c")], ["doc_id", "text"]).createOrReplaceTempView(
        "udtf_docs_bad"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="size must be a positive int"):
        spark.sql(
            "SELECT * FROM udtf_docs_bad, LATERAL chunk_spans(text, 0)"
        ).collect()
