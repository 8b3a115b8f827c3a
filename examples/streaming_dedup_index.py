"""Continuous dedup, end to end — the streaming story in one runnable
file, composing the two maintained-state pipelines:

    document feed ──ST8──▶ admitted corpus (exact-hash + MinHash-banded
    dedup vs the index AND vs everything already admitted)
    candidate-pair feed ──ST11──▶ persisted (node, cluster) index
    (connected_components_incremental over versioned snapshots)
    embedding feed ──ST12──▶ persisted (vec_id, _tbl, _bkt) ANN bucket
    index (one srp_hashed delta per batch, read as their union)

All three are exactly-once BY CONSTRUCTION: each micro-batch publishes its
own overwrite-able directory keyed by batch id (commit.py), so a replayed
batch recomputes the identical bytes — demonstrated here by re-running each
stream on its checkpoint and asserting nothing changed on disk.

Run:  python examples/streaming_dedup_index.py [workdir]
"""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from openmrs_patient_migration_script_spark.commit import read_union
from openmrs_patient_migration_script_spark.operators.graph import (
    connected_components,
)
from openmrs_patient_migration_script_spark.session import get_spark
from openmrs_patient_migration_script_spark.operators.similarity import (
    srp_hashed,
)
from openmrs_patient_migration_script_spark.streaming.pipelines import (
    INGEST_PREFIX,
    stream_ann_buckets_maintain,
    stream_ann_buckets_read,
    stream_components_maintain,
    stream_components_read,
    stream_ingest_dedup,
)


def _snapshot(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
    )


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(
        prefix="stream-dedup-"
    )
    spark = get_spark("streaming-dedup-index")

    # ---- ST8: ingest a 2-batch document feed against a tiny index ----
    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    index_docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], doc_schema
    )
    b0 = [(10, "alpha beta gamma delta epsilon zeta"),        # exact dup of index
          (11, "one two three four five six seven")]          # fresh
    b1 = [(20, "one two three four five six seven"),          # exact dup of b0's 11
          (21, "totally new content nine ten eleven twelve")]  # fresh
    feed = f"{work}/feed"
    for i, chunk in enumerate([b0, b1]):
        p = f"{feed}/f{i}"
        spark.createDataFrame(chunk, doc_schema).coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (1000 + i * 100, 1000 + i * 100))
    admitted_dir, ckpt8 = f"{work}/admitted", f"{work}/ckpt8"

    def run_ingest():
        q = stream_ingest_dedup(
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{feed}/f*"),
            index_docs, admitted_dir, ckpt8,
        )
        q.awaitTermination(120)

    run_ingest()
    admitted = read_union(
        spark, admitted_dir, INGEST_PREFIX, "doc_id BIGINT, text STRING"
    )
    ids = sorted(r["doc_id"] for r in admitted.select("doc_id").collect())
    print(f"ST8 admitted {ids} (index dup and cross-batch dup dropped)")
    snap = _snapshot(admitted_dir)
    run_ingest()
    assert _snapshot(admitted_dir) == snap
    print("ST8 replay: no new bytes (exactly-once by construction)")

    # ---- ST11: fold a 2-batch candidate-pair feed into the index ----
    pair_schema = StructType(
        [StructField("key_a", LongType()), StructField("key_b", LongType())]
    )
    p0 = [(1, 2), (2, 3)]
    p1 = [(3, 10), (20, 21)]   # 3-10 merges yesterday's chain with node 10
    pairs = f"{work}/pairs"
    for i, chunk in enumerate([p0, p1]):
        p = f"{pairs}/f{i}"
        spark.createDataFrame(chunk, pair_schema).coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (2000 + i * 100, 2000 + i * 100))
    index_dir, ckpt11 = f"{work}/cluster_index", f"{work}/ckpt11"

    def run_fold():
        q = stream_components_maintain(
            spark.readStream.schema(pair_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{pairs}/f*"),
            index_dir, ckpt11,
        )
        q.awaitTermination(120)

    run_fold()
    got = {
        r["node"]: r["cluster"]
        for r in stream_components_read(spark, index_dir).collect()
    }
    want = {
        r["node"]: r["cluster"]
        for r in connected_components(
            spark.createDataFrame(p0 + p1, pair_schema)
        ).collect()
    }
    assert got == want
    print(f"ST11 maintained index == full-history recompute ({len(got)} nodes; "
          f"node 10 joined cluster {got[10]} via the cross-batch bridge)")
    snap = _snapshot(index_dir)
    run_fold()
    assert _snapshot(index_dir) == snap
    print("ST11 replay: no new bytes")

    # ---- ST12: fold a 2-batch embedding feed into the ANN bucket index ----
    from pyspark.sql.types import ArrayType, FloatType

    emb_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    vecs = [
        (i, [float((i * 5 + j) % 7 - 3) for j in range(8)]) for i in range(8)
    ]
    embs = f"{work}/embs"
    for i, chunk in enumerate([vecs[:3], vecs[3:]]):
        p = f"{embs}/f{i}"
        spark.createDataFrame(chunk, emb_schema).coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (3000 + i * 100, 3000 + i * 100))
    ann_dir, ckpt12 = f"{work}/ann_index", f"{work}/ckpt12"

    def run_ann():
        q = stream_ann_buckets_maintain(
            spark.readStream.schema(emb_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{embs}/f*"),
            ann_dir, ckpt12, num_planes=4, num_tables=8, hash_mode="md5",
        )
        q.awaitTermination(120)

    run_ann()
    maintained = sorted(
        map(tuple, stream_ann_buckets_read(spark, ann_dir).collect())
    )
    rebuilt = sorted(
        map(
            tuple,
            srp_hashed(
                spark.createDataFrame(vecs, emb_schema),
                "vec_id", 4, 8, "embedding", "md5",
            ).collect(),
        )
    )
    assert maintained == rebuilt
    print(f"ST12 maintained ANN buckets == one-shot rebuild "
          f"({len(maintained)} rows = 8 vectors x 8 tables)")
    snap = _snapshot(ann_dir)
    run_ann()
    assert _snapshot(ann_dir) == snap
    print("ST12 replay: no new bytes")
    print("streaming dedup index: DONE")
    spark.stop()


if __name__ == "__main__":
    main()
