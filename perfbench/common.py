"""Shared machinery for the benchmark workloads: run directory, session,
statistics, spans, Spark-side counters and leak counts.

Nothing in this module imports ``pyspark`` or ``proteus_spark`` at import
time; ``RunContext.session`` does, after the run directory and temp-dir
environment are in place.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def p50(xs: list[float]) -> float:
    return float(statistics.median(xs))


def p90(xs: list[float]) -> float:
    """90th percentile, linear interpolation between closest ranks."""
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0


class Tracer:
    """In-memory spans recorded around the benchmark's calls into each
    layer. Disabled tracers record nothing and cost one branch per call.

    ``current_op`` names the op in flight, so calls made on other threads
    for that op (the gRPC server's handler, the streaming listener) can
    attach themselves under it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.current_op: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        # time spent inside the tracer and the counters it drives: the
        # directly measured part of the tracing overhead
        self.overhead_s = 0.0

    def _new(self, name: str, layer: str, parent: int | None, start: float) -> Span:
        with self._lock:
            s = Span(len(self.spans), parent, name, layer, start)
            self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.current_op
        s = self._new(name, layer, parent, time.perf_counter())
        stack.append(s.sid)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()

    @contextmanager
    def op(self, name: str):
        """Top-level op span; becomes the parent of spans opened on any
        thread until it ends."""
        if not self.enabled:
            yield None
            return
        with self.span(name, "op") as s:
            self.current_op = s.sid
            try:
                yield s
            finally:
                self.current_op = None

    def add(self, name: str, layer: str, parent: int | None, start: float, end: float) -> None:
        """Record an already-finished interval (listener phases)."""
        if self.enabled:
            s = self._new(name, layer, parent, start)
            s.end = end

    def self_ms_per_op(self) -> dict[str, float]:
        """Per layer: total self time (span duration minus the part of it
        covered by child spans) divided by the number of op spans."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        total: dict[str, float] = {}
        for s in self.spans:
            covered = _union_len(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, ())]
            )
            total[s.layer] = total.get(s.layer, 0.0) + (s.end - s.start) - covered
        ops = sum(1 for s in self.spans if s.layer == "op") or 1
        return {k: v * 1000.0 / ops for k, v in sorted(total.items())}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.sid, "parent": s.parent, "name": s.name,
                     "layer": s.layer, "start": s.start, "end": s.end}
                    for s in self.spans
                ],
                f,
            )


def _union_len(iv: list[tuple[float, float]]) -> float:
    iv = sorted((a, b) for a, b in iv if b > a)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --------------------------------------------------------------------------
# Spark-side counters (public status tracker + JVM management beans)


class SparkCounters:
    """Jobs, stages and tasks of a set of job groups and JVM GC time, read
    from outside the program."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._seen: set[int] = set()
        self._beans = list(
            self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def new_jobs(self, groups: list[str | None]) -> list[int]:
        """Job ids in ``groups`` not returned by an earlier call."""
        ids: set[int] = set()
        for g in groups:
            ids.update(self.tracker.getJobIdsForGroup(g))
        fresh = sorted(ids - self._seen)
        self._seen |= ids
        return fresh

    def stages_tasks(self, job_ids: list[int]) -> tuple[int, int]:
        stages = tasks = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return stages, tasks

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._beans))


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


# --------------------------------------------------------------------------
# run context


@dataclass
class Result:
    """What a workload run reports: ops attempted and failed (a failed op
    is an error or a wrong answer), the end-to-end metrics, the per-layer
    metrics (filled only when traced) and free-form detail."""

    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


@dataclass
class RunContext:
    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: float
    root: str  # checkout root
    run_dir: str = field(init=False)
    tmp_dir: str = field(init=False)
    tracer: Tracer = field(init=False)
    spark: object = None
    _gateway: object = None

    def __post_init__(self):
        self.tracer = Tracer(self.trace)
        self.run_dir = os.path.join(
            self.root, "perfbench", ".run", f"{self.workload}-{os.getpid()}"
        )
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.tmp_dir = os.path.join(self.run_dir, "tmp")
        os.makedirs(self.tmp_dir)
        # every temp file the program, PySpark or the JVM makes lands in
        # the run directory, which is removed at exit
        os.environ["TMPDIR"] = self.tmp_dir
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def session(self):
        """Build the engine's session on ``local[<cores>]``."""
        from proteus_spark.session import build_session

        # the engine's default 16g heap is sized for sf0.1 and up; these
        # inputs need far less, and the VM's memory is shared
        os.environ.setdefault("PROTEUS_SPARK_DRIVER_MEM", "3g")
        # no JVM (launcher or driver) writes a perf-data file outside the run dir
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        local = self.path("spark-local")
        os.makedirs(local, exist_ok=True)
        self.spark = build_session(
            app_name=f"perfbench_{self.workload}",
            cores=os.cpu_count() or 4,
            extra_conf={
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.tmp_dir} -XX:-UsePerfData"
                ),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self._gateway = SparkContext._gateway
        return self.spark

    def leak_counts(self, spark) -> dict[str, int]:
        """Active streams, persisted RDDs and temp dirs left after the
        workload's own teardown (read before the session stops)."""
        tmp = [d for d in os.listdir(self.tmp_dir) if d.startswith("proteus_")]
        return {
            "leak_active_streams": len(spark.streams.active),
            "leak_persisted_rdds": persisted_rdds(spark),
            "leak_temp_dirs": len(tmp),
        }

    def close(self) -> None:
        """Stop the session, wait for the JVM to exit, remove the run dir."""
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            gw = self._gateway
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:
                    pass
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    try:
                        proc.stdin.close()
                    except Exception:
                        pass
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=10)
            shutil.rmtree(self.run_dir, ignore_errors=True)
