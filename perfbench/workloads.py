"""The workloads: what one pass runs, its warm-up, its output checks and
the layer probes of its traced run.

Every call into the engine is wrapped in a span named ``<layer>.<call>``
(layer = the engine module: ``sources``, ``etl``, ``corpus``, ``text``,
``dedup``, ``graph``, ``similarity``, ``sampling``, ``plans``), so the
traced run can split a pass into per-layer self time.

A pass is one operation: ``run_pass`` makes the engine calls and returns
their outputs, and only it is timed; ``check_pass`` then checks those
outputs, outside the timed wall, and returns a ``PassResult``: the items
the pass processed, the problems the checks found, and a record of what it
produced.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import numpy as np
from pyspark.sql import functions as F

import checks
import gen
from openmrs_patient_migration_script_spark.functions.ids import deterministic_uuid
from openmrs_patient_migration_script_spark.operators import etl
from openmrs_patient_migration_script_spark.operators.corpus import prepare_corpus
from openmrs_patient_migration_script_spark.operators.dedup import (
    dedup_exact_keep_first,
    minhash_candidate_pairs,
)
from openmrs_patient_migration_script_spark.operators.graph import connected_components
from openmrs_patient_migration_script_spark.operators.sampling import hash_split
from openmrs_patient_migration_script_spark.operators.similarity import (
    cosine_pairs_lsh,
    srp_hashed,
)
from openmrs_patient_migration_script_spark.operators.text import (
    langid_argmax,
    langid_exprs,
    quality_exprs,
)
from openmrs_patient_migration_script_spark.plans import ORACLES, QUERIES
from openmrs_patient_migration_script_spark.sources import load_table


@dataclass
class PassResult:
    """What ``attempted`` operations produced: ``failed`` of them raised
    or failed a check (by default, all of them when there is a problem)."""

    items: int
    problems: list[str] = field(default_factory=list)
    record: dict = field(default_factory=dict)
    attempted: int = 1
    failed: int = -1

    def __post_init__(self):
        if self.failed < 0:
            self.failed = self.attempted if self.problems else 0


def _median_wall(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return float(np.median(walls))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    size: dict = {}
    main_table = ""

    def __init__(self, inputs: str, profile: dict, work: str):
        self.inputs, self.profile, self.work = inputs, profile, work

    def first_action(self, spark) -> None:
        """The set-up's first untimed action: register and count the main
        input table."""
        load_table(spark, self.inputs, self.main_table).count()

    def run_pass(self, spark, rec):
        """The pass's engine calls; returns what ``check_pass`` needs."""
        raise NotImplementedError

    def check_pass(self, out) -> PassResult:
        raise NotImplementedError

    def timed_pass(self, spark, rec, index: int) -> tuple[float, object, PassResult]:
        """One pass under a ``pass`` span: the engine calls, timed, then the
        output checks, untimed. Returns (wall, span, result); an exception
        is a failed operation."""
        t0 = time.perf_counter()
        try:
            with rec.span("pass", index=index) as span:
                out = self.run_pass(spark, rec)
            wall = time.perf_counter() - t0
            return wall, span, self.check_pass(out)
        except Exception as exc:  # noqa: BLE001 - reported and counted, the run goes on
            traceback.print_exc()
            return time.perf_counter() - t0, None, PassResult(0, problems=[f"pass raised {exc!r}"])

    def layer_probes(self, spark, rec) -> tuple[dict[str, float], list[PassResult]]:
        """Traced run only: per-layer metrics measured by calling single
        layers directly, and the results of any checks made on the way."""
        return {}, []

    def scan_probe(self, spark) -> dict[str, float]:
        """Scan-only probe: ``load_table`` of the main input to the noop
        sink."""
        df = load_table(spark, self.inputs, self.main_table)
        rows = df.count()
        wall = _median_wall(lambda: _noop(df))
        return {"sources.scan_rows_per_s": rows / wall}

    def close(self) -> None:
        pass


class Migrate(Workload):
    """The reference's patient migration, write-heavy: one pass migrates
    every client not yet in the destination into seven OpenMRS tables plus
    the client -> patient mapping."""

    name = "migrate"
    # the largest input at which a pass costs about what it costs at a
    # quarter of the size; runs on larger inputs do not fit the schedule's
    # time budget. The README gives the pass wall and the job overhead
    # share at each size tried.
    size = {"n_clients": 60_000}
    main_table = "customer"

    def __init__(self, inputs, profile, work):
        super().__init__(inputs, profile, work)
        self.sink = os.path.join(work, f"sink-{os.getpid()}")
        self.con = duckdb.connect()
        self.expected = checks.replay_digests(self.con, inputs, profile["max_id_offset"])
        self.first_digests = None
        self.input_bytes = gen.input_bytes(inputs)

    def run_pass(self, spark, rec) -> None:
        with rec.span("sources.load_table"):
            cust = load_table(spark, self.inputs, "customer")
            nation = load_table(spark, self.inputs, "nation")
            dest = load_table(spark, self.inputs, "dest_patient")
        with rec.span("etl.max_id_offset"):
            offset = etl.max_id_offset(dest, "patient_id")
        with rec.span("etl.registration_build"):
            reg = etl.registration_build(cust, nation)
        with rec.span("etl.idempotent_new_rows"):
            new = etl.idempotent_new_rows(reg, dest, "client_id")
        with rec.span("etl.assign_surrogate_keys"):
            keyed = etl.assign_surrogate_keys(new, "client_id", "patient_id", offset=offset)
        with rec.span("etl.write_multi_sink"):
            etl.write_multi_sink(keyed, self.sink)
        with rec.span("etl.build_mapping"):
            mapping = etl.build_mapping(new, keyed)
            mapping.write.mode("overwrite").parquet(os.path.join(self.sink, "client_patient_mapping"))

    def check_pass(self, out: None) -> PassResult:
        files, written = self._sink_files()
        digests = checks.sink_digests(self.con, self.sink)
        problems = checks.check_migrate(
            self.con, self.sink, self.inputs, self.profile, digests, self.expected
        )
        if self.first_digests is None:
            self.first_digests = digests
        elif digests != self.first_digests:
            problems.append("sink digest differs from the first pass")
        return PassResult(
            self.profile["clients"],
            problems=problems,
            record={
                "sink_files": files,
                "sink_bytes": written,
                "sink_bytes_per_input_byte": written / self.input_bytes,
            },
        )

    def _sink_files(self) -> tuple[int, int]:
        """Parquet files written by the multi-sink (the mapping table is
        written by the benchmark, not by ``write_multi_sink``) and the
        bytes of every sink table."""
        files = written = 0
        for root, _, names in os.walk(self.sink):
            for n in names:
                if n.endswith(".parquet"):
                    written += os.path.getsize(os.path.join(root, n))
                    files += "client_patient_mapping" not in root
        return files, written

    def layer_probes(self, spark, rec) -> tuple[dict[str, float], list[PassResult]]:
        cust = load_table(spark, self.inputs, "customer")
        rows = cust.count()
        namespaces = ("person", "patient", "person_name", "person_address", "patient_identifier", "mapping")
        uuids = [deterministic_uuid("c_custkey", namespace=ns).alias(ns) for ns in namespaces]
        uuids.append(
            deterministic_uuid("c_custkey", "c_mktsegment", namespace="person_attribute").alias("attr")
        )
        with rec.span("ids.deterministic_uuid_probe"):
            base = _median_wall(lambda: _noop(cust.select("c_custkey", "c_mktsegment")))
            with_ids = _median_wall(lambda: _noop(cust.select("c_custkey", "c_mktsegment", *uuids)))
        return {"ids.uuid_ns_per_row": (with_ids - base) / rows * 1e9}, []

    def close(self) -> None:
        self.con.close()
        shutil.rmtree(self.sink, ignore_errors=True)


class Corpus(Workload):
    """LLM training-data curation: quality filter, language ID, exact and
    MinHash near-duplicate removal, train/val/test split, then an
    embedding near-duplicate pass. Reads only; writes nothing."""

    name = "corpus"
    # sized like ``Migrate.size``
    size = {"n_docs": 24_000, "n_vecs": 6_000}
    main_table = "documents"
    twin_threshold = gen.TWIN_THRESHOLD
    lsh = {"num_planes": 12, "num_tables": 8}
    # declared queries over the same inputs, timed per layer and checked
    # against their DuckDB oracles in the traced run. The declared
    # corpus_prep is left out: its oracle alone takes longer than a run may.
    declared = ("dedup_exact", "text_tokens", "dedup_minhash")

    def __init__(self, inputs, profile, work):
        super().__init__(inputs, profile, work)
        self.first = None

    def run_pass(self, spark, rec):
        with rec.span("sources.load_table"):
            docs = load_table(spark, self.inputs, "documents")
            emb = load_table(spark, self.inputs, "embeddings")
        with rec.span("corpus.prepare_corpus"):
            curated = prepare_corpus(docs).select("key", "split").toArrow()
        with rec.span("similarity.cosine_pairs_lsh"):
            twins = cosine_pairs_lsh(emb, self.twin_threshold, **self.lsh).select("key_a", "key_b").toArrow()
        return curated, twins

    def check_pass(self, out) -> PassResult:
        curated, twins = out
        kept = curated.column("key").to_numpy()
        found = set(zip(twins.column("key_a").to_pylist(), twins.column("key_b").to_pylist()))
        problems = checks.check_corpus(kept, found, self.profile)
        outcome = {
            "kept": int(kept.size),
            "near_dup_removed_share": checks.near_dup_removed_share(kept, self.profile),
            "twins_found": len(found),
        }
        if self.first is None:
            self.first = outcome
        elif outcome != self.first:
            problems.append(f"pass outcome {outcome} differs from the first pass {self.first}")
        return PassResult(self.profile["docs"], problems=problems, record=outcome)

    def layer_probes(self, spark, rec) -> tuple[dict[str, float], list[PassResult]]:
        """``prepare_corpus`` replayed one stage per call on the same input,
        each stage materialized so its own time is measured; then the
        declared queries."""
        docs = load_table(spark, self.inputs, "documents")
        emb = load_table(spark, self.inputs, "embeddings")
        with rec.span("text.quality_langid") as s:
            q = quality_exprs(F.col("text"))
            scores, _ = langid_exprs(F.col("text"))
            langs = sorted(scores)
            enriched = (
                docs.select(
                    F.col("doc_id").alias("key"),
                    "text",
                    q["n_tokens"].alias("n_tokens"),
                    q["quality_score"].alias("quality_score"),
                    *[scores[lang].alias(f"_s_{lang}") for lang in langs],
                )
                .select(
                    "key",
                    "text",
                    "n_tokens",
                    "quality_score",
                    langid_argmax([f"_s_{lang}" for lang in langs], langs).alias("predicted_lang"),
                )
                .filter((F.col("quality_score") >= 0.2) & (F.col("n_tokens") >= 12))
                .localCheckpoint(eager=True)
            )
        text_s = s.duration
        with rec.span("dedup.exact_keep_first") as s:
            survivors = (
                dedup_exact_keep_first(enriched.withColumn("_chash", F.md5("text")), ["_chash"], "key")
                .drop("_chash")
                .localCheckpoint(eager=True)
            )
        exact_s = s.duration
        with rec.span("dedup.minhash_candidate_pairs") as s:
            pairs = minhash_candidate_pairs(survivors, "key", "text", materialize=True).localCheckpoint(
                eager=True
            )
        minhash_s = s.duration
        cand = pairs.toArrow()
        with rec.span("graph.connected_components") as s:
            comp = connected_components(pairs).localCheckpoint(eager=True)
        graph_s, graph_jobs = s.duration, s.attrs["jobs"]
        kept = survivors.join(comp, survivors.key == comp.node, "left").filter(
            F.col("node").isNull() | (F.col("cluster") == F.col("key"))
        )
        with rec.span("sampling.hash_split") as s:
            hash_split(kept.select("key", "predicted_lang", "quality_score"), "key",
                       {"train": 900, "val": 50, "test": 50}).toArrow()
        split_s = s.duration
        with rec.span("corpus.prepare_corpus") as s:
            prepare_corpus(docs).toArrow()
        fused_s = s.duration

        builds, execs, check = self.declared_queries(spark, rec)
        n = max(len(builds), 1)

        hashed = srp_hashed(emb, "vec_id", self.lsh["num_planes"], self.lsh["num_tables"], "embedding")
        n_cand = (
            hashed.withColumnRenamed("vec_id", "key_a")
            .join(hashed.withColumnRenamed("vec_id", "key_b"), ["_tbl", "_bkt"])
            .filter(F.col("key_a") < F.col("key_b"))
            .select("key_a", "key_b")
            .distinct()
            .count()
        )

        found = set(zip(cand.column("key_a").to_pylist(), cand.column("key_b").to_pylist()))
        survived = set(survivors.select("key").toArrow().column("key").to_pylist())
        eligible = [tuple(p) for p in self.profile["near_pairs"] if p[0] in survived and p[1] in survived]
        hits = sum(p in found for p in eligible)
        return {
            "text.score_s": text_s,
            "dedup.exact_s": exact_s,
            "dedup.minhash_pairs_s": minhash_s,
            "dedup.candidate_pairs": float(len(found)),
            "dedup.pair_precision": hits / len(found) if found else 0.0,
            "dedup.planted_recall": hits / len(eligible) if eligible else 0.0,
            "graph.components_s": graph_s,
            "graph.components_jobs": float(graph_jobs),
            "sampling.split_s": split_s,
            "corpus.stages_sum_s": text_s + exact_s + minhash_s + graph_s + split_s,
            "corpus.fused_s": fused_s,
            "similarity.candidates_per_vector": n_cand / self.profile["vectors"],
            "plans.build_s": sum(b.duration for b in builds) / n,
            "plans.exec_s": sum(e.duration for e in execs) / n,
            "plans.eager_jobs": sum(b.attrs["jobs"] for b in builds) / n,
            "plans.jobs": sum(b.attrs["jobs"] + e.attrs["jobs"] for b, e in zip(builds, execs)) / n,
        }, [check]

    def declared_queries(self, spark, rec):
        """Build and collect each declared query under spans, and compare
        its rows with the query's DuckDB oracle. Returns the build spans,
        the execution spans and the check's result."""
        builds, execs, problems = [], [], []
        with duckdb.connect() as con:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.inputs}/{t}.parquet/*.parquet')")
            for name in self.declared:
                try:
                    with rec.span(f"plans.build:{name}") as b:
                        df = QUERIES[name](spark, self.inputs)
                    with rec.span(f"plans.exec:{name}") as e:
                        got = df.toPandas()
                    want = con.execute(ORACLES[name]).df()
                except Exception as exc:  # noqa: BLE001 - a failed query, counted
                    traceback.print_exc()
                    problems.append(f"{name}: raised {exc!r}")
                    continue
                builds.append(b)
                execs.append(e)
                problems += [f"{name}: {p}" for p in checks.compare_frames(got, want)]
        failed = len({p.split(":")[0] for p in problems})
        return builds, execs, PassResult(0, problems=problems, attempted=len(self.declared), failed=failed)


WORKLOADS = {w.name: w for w in (Migrate, Corpus)}
