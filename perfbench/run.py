#!/usr/bin/env python3
"""Engine benchmark: seeded, closed-loop workloads timed from outside the
engine through its public functions.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 8 --trace 0

Run from the repository root. One client process drives the engine on
``local[<cores>]``. A run:

1. generates (or reuses) the workload's seeded parquet inputs under
   ``.perfbench/`` in the current directory; generation is not timed;
2. sets up the session once, cold, as every user of the engine does
   (``get_spark``, which launches the JVM, plus a first untimed action),
   and reports that wall, scaled like every time (below), as ``setup_s``;
3. runs ``WARMUP_PASSES`` untimed passes, then timed passes until
   ``--seconds`` have elapsed, checking every pass's outputs after its
   timed wall and sampling the host's speed before and after it;
4. prints a record line (inputs profile, per-pass walls and host noise,
   sample counts) and, last, the result line
   ``{"correct", "attempted", "failed", "metrics"}``.

Times in the end-to-end metrics are scaled to a reference host speed (see
``host_slowdown``); the raw walls are in the record line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes (spans around every engine call, Spark job and
task deltas per span, stage shuffle/spill totals per pass), runs the
workload's per-layer probes, and reports the per-layer metrics, including
the tracing overhead (median traced pass wall minus median untraced pass
wall). Spans are written to ``.perfbench/traces/``.

Exits non-zero without a result when the engine package is not importable
from the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "openmrs_patient_migration_script_spark"
# at least two timed passes; on an idle host ``--seconds`` 8 gives three or
# four, on a busy one (5-10 s passes) two, which keeps a run short enough
# for the whole schedule of runs
MIN_PASSES = 2
# the first pass in a fresh JVM pays class loading and plan and JIT
# compilation, three to five times a warm pass; the second still about 1.5
# times, the third 1.2 times (corpus: 15.5, 5.7, 4.3, then 3.8 to 3.1 s;
# migrate: 9.4, 3.7, 3.2, then 3.0 to 2.5 s). Passes timed on the steep
# part of that curve spread with how fast the JIT compiler gets a core; a
# third warm-up pass would flatten it further but makes a run on a busy
# host too long for the schedule of runs.
WARMUP_PASSES = 2
HEAP = "2g"  # driver heap, -Xms = -Xmx
# median wall of ``probes.loop_ms`` on an idle 4-core host: the host speed
# that scaled times refer to
REF_LOOP_MS = 5.5

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "live_heap_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.load_s": "s",
    "sources.scan_rows_per_s": "1/s",
    "ids.uuid_ns_per_row": "ns",
    "etl.offset_s": "s",
    "etl.surrogate_keys_s": "s",
    "etl.surrogate_keys_jobs": "count",
    "etl.sink_s": "s",
    "etl.sink_files": "count",
    "etl.mapping_s": "s",
    "etl.sink_bytes_per_input_byte": "B/B",
    "corpus.fused_s": "s",
    "corpus.stages_sum_s": "s",
    "text.score_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_pairs_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pair_precision": "ratio",
    "dedup.planted_recall": "ratio",
    "graph.components_s": "s",
    "graph.components_jobs": "count",
    "similarity.lsh_pairs_s": "s",
    "similarity.candidates_per_vector": "count",
    "sampling.split_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.eager_jobs": "count",
    "plans.jobs": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.overhead_ms": "ms",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("migrate", "corpus"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``; pin the core
    count to the cores this process may use and the driver heap to
    ``HEAP``, whatever the environment says."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    # get_spark keeps a pre-set --driver-memory; without one it passes HEAP
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no JVM perf-data files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap size (-Xms = -Xmx): passes do not pay for the
        # collector growing the heap, so their times settle sooner
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the REST stage totals need the UI, and must keep every stage of
        # the run (the default retention evicts early stages)
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedJobs": "100000",
            }
        )
    return conf


def shutdown(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    server exits when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def host_slowdown(samples) -> float:
    """How much slower than the reference the host ran: the median
    reference-loop wall over the noise samples, over ``REF_LOOP_MS``. The
    shared host's speed changes by up to twofold between runs and within
    them, mostly with no steal to show for it. A pass's own samples are
    too few to follow the host, so a run scales all its times by the median
    over all its samples (about 90 loops, before and after every pass)."""
    return median([x for s in samples for x in s["loop_ms"]]) / REF_LOOP_MS


def end_to_end(setup, passes, samples, heap_mb) -> dict[str, float]:
    """Times scaled by the host slowdown over ``samples``."""
    slowdown = host_slowdown(samples)
    return {
        "setup_s": setup["wall_s"] / slowdown,
        "items_per_s": median([p["items"] / p["wall_s"] for p in passes if p["items"]]) * slowdown,
        "live_heap_mb": heap_mb,
    }


def per_layer(rec, traced, untraced, start_s, warmup_s, probes) -> dict[str, float]:
    """Per-layer metrics from the traced passes' spans (median over
    passes of each pass's total) plus the workload's probes. Layers a
    workload does not call read 0."""
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = start_s
    out["session.warmup_s"] = warmup_s

    def per_pass(name, key=None):
        return median(
            [
                sum((s.attrs[key] if key else s.duration) for s in rec.descendants(p["span"]) if s.name == name)
                for p in traced
            ]
        )

    out["sources.load_s"] = per_pass("sources.load_table")
    out["etl.offset_s"] = per_pass("etl.max_id_offset")
    out["etl.surrogate_keys_s"] = per_pass("etl.assign_surrogate_keys")
    out["etl.surrogate_keys_jobs"] = per_pass("etl.assign_surrogate_keys", "jobs")
    out["etl.sink_s"] = per_pass("etl.write_multi_sink")
    out["etl.mapping_s"] = per_pass("etl.build_mapping")
    out["similarity.lsh_pairs_s"] = per_pass("similarity.cosine_pairs_lsh")
    for key in ("jobs", "tasks", "tasks_failed"):
        out[f"spark.{key}"] = median([p["span"].attrs[key] for p in traced])
    for key in ("shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{key}"] = median([p["stages"][key] for p in traced])
    for key in ("sink_files", "sink_bytes_per_input_byte"):
        vals = [p["record"][key] for p in traced if key in p["record"]]
        if vals:
            out[f"etl.{key}"] = median(vals)
    out["trace.overhead_ms"] = (
        median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in untraced])
    ) * 1000.0
    out.update(probes)
    return out


class Phases:
    """Wall time of each phase of the run, for the record line."""

    def __init__(self):
        self.walls: dict[str, float] = {}
        self._t = time.perf_counter()

    def end(self, name: str) -> float:
        now = time.perf_counter()
        self.walls[name] = now - self._t
        self._t = now
        return self.walls[name]


def set_up(get_spark, wl, conf, noise) -> tuple[object, dict, float]:
    """The cold set-up: ``get_spark``, which launches the JVM, plus the
    first action. Returns the session, the set-up record (wall, host noise
    at both ends) and the ``get_spark`` wall."""
    before = noise.sample()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    start_s = time.perf_counter() - t0
    wl.first_action(spark)
    wall = time.perf_counter() - t0
    after = noise.sample()
    setup = {"wall_s": wall, "noise": [before, after]}
    return spark, setup, start_s


def run_passes(spark, wl, seconds, min_passes, trace, rec, off, counters, noise, first=0) -> list[dict]:
    """Passes until ``seconds`` have elapsed and at least ``min_passes``
    ran; with ``trace``, every second pass is traced. Each pass is timed
    alone: the noise samples and the output checks lie outside its wall."""
    passes = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(passes) < min_passes:
        traced = trace and len(passes) % 2 == 1
        before = noise.sample()
        totals = counters.stage_totals() if traced else None
        wall, span, res = wl.timed_pass(spark, rec if traced else off, first + len(passes))
        totals_after = counters.stage_totals() if traced else None
        after = noise.sample()
        p = {
            "wall_s": wall,
            "traced": traced,
            "items": res.items,
            "noise": [before, after],
            "record": res.record,
            "result": res,
        }
        if traced:
            p["span"] = span
            p["stages"] = {k: totals_after[k] - totals[k] for k in totals}
        passes.append(p)
        if not res.items:
            break  # the pass raised: the run has failed, stop measuring
    return passes


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found; run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    prepare_env(work)
    sys.path[:0] = [HERE, ROOT]

    import gen
    from probes import NoiseSampler, SparkCounters, jvm_pid, live_heap_mb, peak_rss_mb
    from spans import Recorder
    from workloads import WORKLOADS

    from openmrs_patient_migration_script_spark.session import get_spark

    trace = bool(args.trace)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    phases = Phases()
    cls = WORKLOADS[args.workload]
    inputs, profile = gen.generate(cls.name, os.path.join(work, "inputs"), args.seed, **cls.size)
    wl = cls(inputs, profile, work)
    noise = NoiseSampler()
    phases.end("generate")

    spark, setup, start_s = set_up(get_spark, wl, spark_conf(work, trace), noise)
    phases.end("setup")
    counters = SparkCounters(spark, rest=trace)
    off = Recorder(run_id, enabled=False)
    rec = Recorder(run_id, enabled=True, hooks=counters)

    warm = run_passes(spark, wl, 0, WARMUP_PASSES, False, rec, off, counters, noise)
    warmup_s = phases.end("warmup")
    passes = run_passes(spark, wl, args.seconds, MIN_PASSES, trace, rec, off, counters, noise, len(warm))
    phases.end("measure")
    probes, checked = {}, []
    if trace:
        with rec.span("probes"):
            probes, checked = wl.layer_probes(spark, rec)
            probes.update(wl.scan_probe(spark))
    phases.end("probes")
    heap_mb = live_heap_mb(spark)
    rss = peak_rss_mb(jvm_pid(spark))
    shutdown(spark)
    wl.close()
    phases.end("stop")

    results = [p.pop("result") for p in warm + passes] + checked
    attempted = sum(r.attempted for r in results)
    failed = sum(r.failed for r in results)
    problems = [x for r in results for x in r.problems]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"] and p["span"] is not None]
    samples = setup["noise"] + [s for p in warm + passes for s in p["noise"]]
    if trace:
        metrics, units = per_layer(rec, traced, untraced, start_s, warmup_s, probes), PER_LAYER
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        rec.dump(os.path.join(work, "traces", f"{run_id}.jsonl"))
    else:
        metrics, units = end_to_end(setup, passes, samples, heap_mb), END_TO_END

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "heap": HEAP,
        "inputs": {k: v for k, v in profile.items() if not isinstance(v, list)},
        "samples": {"setups": 1, "passes": len(untraced), "traced_passes": len(traced)},
        "setup": setup,
        "host_slowdown": host_slowdown(samples),
        "peak_rss_mb": rss,
        "phases_s": phases.walls,
        "warmup_walls_s": [p["wall_s"] for p in warm],
        "passes": [
            {k: v for k, v in p.items() if k != "span"}
            | ({"layer_self_s": rec.layer_self_times(p["span"])} if p["traced"] and p["span"] else {})
            for p in passes
        ],
        "problems": problems[:20],
    }
    print(json.dumps(record, default=str))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
