"""The one publish protocol (commit.py) and the streaming folds built on it.

Each fold step is called directly on static frames, as ``foreachBatch``
would call it, so no stream is started. The last test pins the rule that
only commit.py lists, renames or marks published directories.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from openmrs_patient_migration_script_spark.commit import (
    batch_step,
    read_newest,
    read_union,
)
from openmrs_patient_migration_script_spark.streaming.pipelines import (
    _ann_step,
    _components_step,
    _ingest_step,
    stream_ann_buckets_read,
    stream_components_read,
)

PACKAGE = Path(__file__).resolve().parent.parent / "openmrs_patient_migration_script_spark"
EDGES = "key_a long, key_b long"


def _data_bytes(root: str) -> list[bytes]:
    """The contents of every data file under ``root`` (sidecars skipped),
    sorted: part-file names carry a per-write uuid, their bytes do not."""
    out = []
    for d, _, names in os.walk(root):
        for name in names:
            if not name.startswith(("_", ".")):
                with open(os.path.join(d, name), "rb") as f:
                    out.append(f.read())
    return sorted(out)


def test_replayed_step_writes_identical_bytes(spark, tmp_path):
    """A replay of a published id writes nothing; a replay of an id whose
    write crashed before ``_SUCCESS`` rewrites the same bytes."""
    out = str(tmp_path / "index")
    step = _components_step(out, "key_a", "key_b")
    step(spark.createDataFrame([(1, 2), (2, 3)], EDGES), 0)
    step(spark.createDataFrame([(3, 10), (20, 21)], EDGES), 1)
    listing = sorted(str(p) for p in Path(out).rglob("*"))
    published = _data_bytes(f"{out}/_index_v=1")

    step(spark.createDataFrame([(3, 10), (20, 21)], EDGES), 1)
    assert sorted(str(p) for p in Path(out).rglob("*")) == listing

    os.remove(f"{out}/_index_v=1/_SUCCESS")
    step(spark.createDataFrame([(3, 10), (20, 21)], EDGES), 1)
    assert _data_bytes(f"{out}/_index_v=1") == published
    assert {tuple(r) for r in stream_components_read(spark, out).collect()} == {
        (1, 1), (2, 1), (3, 1), (10, 1), (20, 20), (21, 20),
    }


def test_unpublished_directory_is_invisible_to_both_readers(spark, tmp_path):
    out = str(tmp_path / "published")
    step = batch_step(out, "_v=", lambda batch_df, _prior: batch_df)
    step(spark.createDataFrame([(1,)], "x long"), 0)
    step(spark.createDataFrame([(2,)], "x long"), 1)
    assert sorted(r.x for r in read_union(spark, out, "_v=", "x long").collect()) == [1, 2]
    assert [r.x for r in read_newest(spark, out, "_v=", "x long").collect()] == [2]

    os.remove(f"{out}/_v=1/_SUCCESS")
    assert [r.x for r in read_union(spark, out, "_v=", "x long").collect()] == [1]
    assert [r.x for r in read_newest(spark, out, "_v=", "x long").collect()] == [1]
    assert read_union(spark, str(tmp_path / "none"), "_v=", "x long").count() == 0


def test_two_ann_deltas_equal_a_one_shot_rebuild(spark, tmp_path):
    from openmrs_patient_migration_script_spark.operators.similarity import (
        srp_hashed,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(9)]
    out = str(tmp_path / "ann")
    step = _ann_step(out, "vec_id", "embedding", 4, 8, "md5")
    step(spark.createDataFrame(rows[:4], schema), 0)
    step(spark.createDataFrame(rows[4:], schema), 1)

    want = srp_hashed(spark.createDataFrame(rows, schema), "vec_id", 4, 8, "embedding", "md5")
    got = stream_ann_buckets_read(spark, out)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # each delta holds only its own batch's rows, never the history
    assert spark.read.parquet(f"{out}/_ann_v=1").count() == 5 * 8


def test_ingest_keeps_one_doc_per_candidate_cluster(spark, tmp_path):
    """Streaming ingest removes near-duplicates inside a batch by batch
    curation's rule: one document per connected component of candidate
    pairs. Doc 3 is a near copy of docs 1 and 2, which are not near
    copies of each other; the smallest key of the chain survives alone."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    words = [f"token{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [
            (1, " ".join([f"left{i}" for i in range(4)] + words[4:])),
            (2, " ".join(words[:-4] + [f"right{i}" for i in range(4)])),
            (3, " ".join(words)),
        ],
        StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        ),
    )
    pairs = minhash_candidate_pairs(docs, "doc_id", "text")
    assert sorted(tuple(r) for r in pairs.collect()) == [(1, 3), (2, 3)]

    index = spark.createDataFrame(
        [(100, "an unrelated indexed document about parquet footers and row groups")],
        docs.schema,
    )
    out = str(tmp_path / "admitted")
    _ingest_step(index, out, "doc_id", "text")(docs, 0)
    admitted = read_union(spark, out, "_batch_id=", "doc_id long, text string")
    assert {r.doc_id for r in admitted.collect()} == {1}


def _commit_contract_uses(tree: ast.AST) -> list[str]:
    """Where ``tree`` resolves a Hadoop FileSystem, names a ``_SUCCESS``
    marker outside a docstring, or renames or lists a directory with os."""
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and (
            node.attr == "getFileSystem"
            or (
                node.attr in {"rename", "listdir"}
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            )
        ):
            found.append(f"{node.lineno}: {ast.unparse(node)}")
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            found += [
                f"{node.lineno}: from os import {a.name}"
                for a in node.names
                if a.name in {"rename", "listdir"}
            ]
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "_SUCCESS" in node.value
            and id(node) not in docstrings
        ):
            found.append(f"{node.lineno}: {node.value!r}")
    return found


def test_only_commit_module_lists_renames_or_marks_directories():
    """commit.py alone knows how the engine publishes a directory and finds
    the published ones; a pasted copy elsewhere fails here."""
    offenders = {
        str(path.relative_to(PACKAGE)): uses
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "commit.py"
        and (uses := _commit_contract_uses(ast.parse(path.read_text())))
    }
    assert offenders == {}
    assert _commit_contract_uses(ast.parse((PACKAGE / "commit.py").read_text()))
