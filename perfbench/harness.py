"""Shared machinery of the benchmark: set-up, op timing, tracing, Spark
status counters, verification helpers and the result line.

Timing discipline (see README.md):

* every timed region wraps a call into one of the program's public
  functions and nothing else;
* the end-to-end run records no spans; the traced run (``--trace 1``)
  records spans and Spark counters and reports per-layer numbers;
* bookkeeping the benchmark does between ops (result fingerprints,
  oracle replays, file listings) is timed separately and subtracted from
  the warm-phase wall time, so it never counts as the program's work.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = Path(__file__).resolve().parent / "_work"


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's record of
    its start time (Linux ``/proc``)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def confine_scratch(work: Path) -> None:
    """Point every scratch location the JVM and Python use at ``work``,
    so a run writes only inside its checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")


def session_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        # the status store must keep every job and stage of the run so
        # the per-op counters can be read back at the end
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    return conf


def copy_fixture(src_dir: str, dst: Path, tables: tuple[str, ...]) -> None:
    dst.mkdir(parents=True, exist_ok=True)
    for name in tables:
        shutil.copyfile(os.path.join(src_dir, f"{name}.parquet"), dst / f"{name}.parquet")


# ---------------------------------------------------------------------------
# Tracing


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span recorder; a no-op unless ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, start, time.perf_counter(), parent, op))

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover."""
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.id: (s.end - s.start) - child[s.id] for s in self.spans}

    def self_time_by_name(self) -> dict[str, float]:
        """Total self time of the spans of each name."""
        selft = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + selft[s.id]
        return out

    def dump(self, path: Path) -> None:
        selft = self.self_times()
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
                "self_s": selft[s.id],
            }
            for s in self.spans
        ]
        path.write_text(json.dumps(rows))


class SparkStatus:
    """Job, stage, task, input, shuffle and spill counters from the
    session's status REST endpoint, attributed to ops through job groups
    (traced run only)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def tag(self, op_id: int) -> None:
        self.sc.setJobGroup(f"op{op_id}", f"op{op_id}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def per_op(self, op_ids: list[int]) -> dict[int, dict[str, float]]:
        # the status store is fed asynchronously: wait until no job shows
        # as running, then give the last stage updates a moment to land
        deadline = time.time() + 30
        while any(j["status"] == "RUNNING" for j in self._get("/jobs")) and time.time() < deadline:
            time.sleep(0.2)
        time.sleep(0.5)
        jobs = self._get("/jobs")
        stages = {s["stageId"]: s for s in self._get("/stages?status=complete")}
        out: dict[int, dict[str, float]] = {}
        for op in op_ids:
            mine = [j for j in jobs if j.get("jobGroup") == f"op{op}"]
            stage_ids = {sid for j in mine for sid in j["stageIds"]}
            done = [stages[s] for s in stage_ids if s in stages]
            out[op] = {
                "jobs": len(mine),
                "tasks": sum(s["numCompleteTasks"] for s in done),
                "run_s": sum(s["executorRunTime"] for s in done) / 1e3,
                "input_bytes": sum(s["inputBytes"] for s in done),
                "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in done),
                "spill_bytes": sum(
                    s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in done
                ),
            }
        return out


def jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM so far (in local mode the
    executor's tasks run in the same JVM)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def jvm_memory_mb(spark) -> tuple[float, float]:
    """(retained, resident) memory of the driver JVM in MB after a full
    collection: retained is live heap plus non-heap (metaspace, code
    cache); resident is the process's VmRSS."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    retained = bean.getHeapMemoryUsage().getUsed() + bean.getNonHeapMemoryUsage().getUsed()
    pid = int(jvm.ProcessHandle.current().pid())
    rss_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                rss_kb = int(line.split()[1])
    return retained / 2**20, rss_kb / 1024.0


# ---------------------------------------------------------------------------
# Statistics


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_q(n: int) -> float:
    """p(1 - 10/N): the highest percentile with ten samples beyond it."""
    return max(0.5, 1.0 - 10.0 / n)


# ---------------------------------------------------------------------------
# Verification helpers


def fingerprint(rows: list[tuple]) -> str:
    """Order-insensitive digest of collected rows."""
    from hive_release_spark import testing

    canon = sorted((tuple(testing.canon(v) for v in r) for r in rows), key=testing.sort_key)
    return hashlib.sha1(repr(canon).encode()).hexdigest()


class Bookkeeping:
    """Accumulates the wall time the benchmark spends on its own checks
    inside a timed phase."""

    def __init__(self):
        self.seconds = 0.0

    @contextmanager
    def measure(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.seconds += time.perf_counter() - t


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def fail(self, why: str) -> None:
        self.correct = False
        self.notes.append(why)

    def emit(self, names: list[str]) -> None:
        """Human-readable lines for every metric measured, then the
        final JSON line carrying ``names``."""
        for note in self.notes:
            print(f"note: {note}")
        for name, (value, unit) in sorted(self.metrics.items()):
            print(f"{name} = {value:.6g} {unit}")
        payload = {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                n: {"value": self.metrics[n][0], "unit": self.metrics[n][1]} for n in names
            },
        }
        sys.stdout.flush()
        print(json.dumps(payload))
