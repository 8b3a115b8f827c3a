"""Counters read from outside the engine: Spark scheduler deltas, stage
shuffle/spill totals, host noise and resident memory.

- Job and task counts come from ``statusTracker`` job-id deltas (jobs
  with an id above the highest one seen before the span).
- Shuffle and spill bytes come from the Spark UI's REST stage totals, so
  they are read only in traced runs, which start the UI.
- Host steal % is the /proc/stat steal share since the previous sample;
  the 1-minute load is /proc/loadavg; host speed is the wall of a fixed
  Python loop.
- Peak RSS is ``VmHWM`` of this process plus the Spark JVM it launched.
"""

from __future__ import annotations

import gc
import json
import os
import time
import urllib.request

from py4j.protocol import Py4JError


class SparkCounters:
    def __init__(self, spark, rest: bool):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.rest_url = None
        if rest and self.sc.uiWebUrl:
            port = self.sc.uiWebUrl.rsplit(":", 1)[1]
            self.rest_url = (
                f"http://127.0.0.1:{port}/api/v1/applications/"
                f"{self.sc.applicationId}/stages?status=complete"
            )

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store reflects all jobs and stages that have ended."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JError:  # the bus is internal API; without it counts may lag
            pass

    def last_job_id(self) -> int:
        ids = self.tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def jobs_since(self, last_job: int) -> dict[str, int]:
        """Jobs, completed tasks and failed tasks scheduled after job id
        ``last_job``."""
        self.settle()
        jobs = [j for j in self.tracker.getJobIdsForGroup(None) if j > last_job]
        tasks = failed = 0
        seen: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.tracker.getStageInfo(sid)
                if st:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "tasks_failed": failed}

    # span hooks (trace.Recorder): per-span scheduler deltas
    def open(self, span) -> None:
        span.attrs["first_job"] = self.last_job_id() + 1

    def close(self, span) -> None:
        span.attrs.update(self.jobs_since(span.attrs["first_job"] - 1))

    def stage_totals(self) -> dict[str, int]:
        if self.rest_url is None:
            return {"shuffle_write_bytes": 0, "spill_bytes": 0}
        self.settle()
        with urllib.request.urlopen(self.rest_url, timeout=30) as r:
            stages = json.load(r)
        return {
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages
            ),
        }


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def loop_ms(n: int = 100_000) -> float:
    """Wall of a fixed single-threaded Python loop: how fast a core of the
    host runs now. On a host whose cores are shared without steal
    accounting, this shows contention that the steal % does not."""
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return (time.perf_counter() - t) * 1000.0


class NoiseSampler:
    """Host steal % since the last sample, the 1-minute load, and ``reps``
    walls of the reference loop (about 40 ms in all on an idle host)."""

    def __init__(self, reps: int = 7):
        self.reps = reps
        # an idle core runs the first ~0.1 s of the loop about 40 % slower
        # (clock ramp-up), so the first sample would read the ramp, not the host
        deadline = time.perf_counter() + 0.3
        while time.perf_counter() < deadline:
            loop_ms()
        self._last = _cpu_times()

    def sample(self) -> dict:
        now = _cpu_times()
        total, steal = now[0] - self._last[0], now[1] - self._last[1]
        self._last = now
        return {
            "steal_pct": round(100.0 * steal / total, 3) if total else 0.0,
            "load1": os.getloadavg()[0],
            "loop_ms": [round(loop_ms(), 3) for _ in range(self.reps)],
        }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def live_heap_mb(spark, rounds: int = 8) -> float:
    """JVM heap in use after full collections: what the run keeps alive
    (cached blocks, plan and code caches), not when the collector last ran.
    Python's collector runs first, so JVM objects held only by dropped
    Python handles can go. The context cleaner then frees blocks over
    several collections (readings fall in steps for about five of them), so
    this takes the lowest of ``rounds`` readings."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(rounds):
        jvm.java.lang.System.gc()
        time.sleep(0.15)
        readings.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
    return min(readings)


def jvm_pid(spark) -> int | None:
    """Pid of the JVM child behind this PySpark gateway (the launcher
    process execs into java, so the child pid is the JVM)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(jvm: int | None) -> dict[str, float]:
    """Peak resident MB of this process, of the JVM, and their sum."""
    client, java = _vm_hwm_kb(os.getpid()) / 1024.0, (_vm_hwm_kb(jvm) if jvm else 0) / 1024.0
    return {"client": client, "jvm": java, "total": client + java}
