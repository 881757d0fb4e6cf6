"""Process set-up shared by the workloads: paths and environment, the
Spark session, the process-tree memory sampler, spans, and the Spark
counters read in the traced run."""

from __future__ import annotations

import json
import os
import platform
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")


def prepare_env(work: str) -> None:
    """Environment every child process inherits. Must run before
    anything imports pyspark or calls ``tempfile``.

    - PYTHONPATH: the pandas-UDF workers import the engine package by
      name; launched from outside the repo root they fail without it.
    - TMPDIR, java.io.tmpdir and SPARK_LOCAL_DIRS: keep the engine's
      temp dirs (index caches, staging, shuffle files) inside the
      checkout; -XX:-UsePerfData stops each JVM writing its counters
      file to /tmp. JAVA_TOOL_OPTIONS carries both JVM flags, so the
      engine's own driver options stay as the engine sets them.
    """
    os.makedirs(work, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={work}"])
    )


def start_spark(work: str, trace: bool):
    """The engine's session via ``session.get_spark``. The console
    progress bar is off (it glues ``[Stage ...]`` onto stdout lines and
    cannot be turned off once the session exists); the UI, whose REST
    API gives per-stage task metrics, runs only in the traced run."""
    from mlops_realtime_data_ingestion_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "2000",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return get_spark("perfbench", extra_conf=conf)


def environment(seed: int, spark) -> dict:
    """What a result must carry to be compared with another."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "jdk": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit,
    }


def _stat(path: str) -> tuple[str, list[str]] | None:
    """Command name and the fields after it of a ``stat`` file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None  # the process or thread ended while we looked
    return stat[stat.index("(") + 1:stat.rfind(")")], stat[stat.rfind(")") + 2:].split()


def _tree() -> dict[int, tuple[str, list[str]]]:
    """pid -> (command name, ``/proc/<pid>/stat`` fields after it) of this
    process and all its descendants."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(f"/proc/{d}/stat")) is not None:
            stats[int(d)] = st
    me = os.getpid()
    out = {}
    for pid, st in stats.items():
        p = pid
        while p and p != me:
            p = int(stats[p][1][1]) if p in stats else 0
        if p == me:
            out[pid] = st
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads, as /proc names them (15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class TreeSampler:
    """Resident memory and CPU time (user + system) of this process and
    all its descendants (the JVM and the Python workers), sampled from
    /proc: the peak memory, and CPU time over any span of the run. CPU
    time includes children that have already exited and been reaped.

    CPU time leaves out the JVM's JIT compiler threads. Compilation runs
    beside the work, its amount depends on what the JVM chose to compile
    so far, and it keeps falling for minutes: on a 4-core host it was
    40-60% of the JVM's CPU in the timed passes of ``batch_registry``.
    It is a cost of warming up: set-up time holds the part spent before
    timing starts."""

    def __init__(self, period_s: float = 0.1) -> None:
        self.period_s = period_s
        self.peak_bytes = 0
        self._cpu: list[tuple[float, float]] = []  # (epoch s, CPU s)
        self._jit: dict[tuple[int, int], float] = {}  # (pid, tid) -> CPU s
        self._scan_at = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(5)
        self.sample()

    def sample(self) -> float:
        """Take one sample now; returns the tree's CPU seconds."""
        with self._lock:
            tree = _tree()
            cpu = sum(sum(int(x) for x in f[11:15]) for _, f in tree.values()) / _TICK
            cpu -= self._jit_cpu(tree)
            self.peak_bytes = max(self.peak_bytes, sum(int(f[21]) * _PAGE for _, f in tree.values()))
            self._cpu.append((time.time(), cpu))
            return cpu

    def _jit_cpu(self, tree) -> float:
        """CPU seconds of every JIT compiler thread seen so far. A thread
        that ended keeps its last reading; its CPU stays in its
        process's total."""
        now = time.time()
        if now >= self._scan_at:  # the JVM starts compiler threads on demand
            self._scan_at = now + 0.5
            for pid, (comm, _) in tree.items():
                if comm != "java":
                    continue
                try:
                    tids = os.listdir(f"/proc/{pid}/task")
                except OSError:
                    continue
                for tid in tids:
                    st = _stat(f"/proc/{pid}/task/{tid}/stat")
                    if st is not None and st[0] in _JIT_THREADS:
                        self._jit.setdefault((pid, int(tid)), 0.0)
        for pid, tid in self._jit:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None:
                self._jit[pid, tid] = (int(st[1][11]) + int(st[1][12])) / _TICK
        return sum(self._jit.values())

    def cpu_between(self, t0: float, t1: float) -> float:
        """CPU seconds spent between two epoch times inside the sampled
        span, interpolated between the samples around each."""
        t, c = zip(*list(self._cpu))
        return float(np.interp(t1, t, c) - np.interp(t0, t, c))

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()


class Tracer:
    """Spans kept in memory and written at exit. A span has a name,
    start and end (epoch seconds), its parent span and the id of the
    operation it belongs to. Disabled, it records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._next = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    def _id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": self._id(), "name": name,
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else None),
            "start": time.time(), "end": None, **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent=None, op=None, **attrs) -> dict:
        """Record a span measured elsewhere (a Spark progress report)."""
        rec = {"id": self._id(), "name": name, "parent": parent, "op": op,
               "start": start, "end": end, **attrs}
        if self.enabled:
            with self._lock:
                self.spans.append(rec)
        return rec


class SparkCounters:
    """Per-operation engine counters from public Spark APIs: a job group
    per operation plus ``statusTracker``; in the traced run, task
    metrics from the UI REST API."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setJobGroup(None, None)

    def jobs_and_stages(self, gid: str) -> tuple[list[int], list[int], int]:
        st = self.sc.statusTracker()
        jobs = sorted(st.getJobIdsForGroup(gid))
        stages, tasks = [], 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages.append(s)
                sinfo = st.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo else 0
        return jobs, stages, tasks

    def _rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def stage_metrics(self) -> dict[int, dict]:
        """stageId -> summed task metrics over its attempts (REST)."""
        out: dict[int, dict] = {}
        for s in self._rest("stages?status=complete"):
            m = out.setdefault(s["stageId"], {k: 0 for k in STAGE_KEYS})
            for k in STAGE_KEYS:
                m[k] += s.get(k, 0)
        return out

    def python_udf_ms(self) -> dict[int, float]:
        """jobId -> ms spent running Python workers, from the SQL
        metric ``time to run Python workers`` (REST)."""
        out: dict[int, float] = {}
        for ex in self._rest("sql?details=true&planDescription=false&length=100000"):
            ms = 0.0
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == "time to run Python workers":
                        ms += _parse_ms(m.get("value", ""))
            jobs = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            for j in jobs:
                out[j] = out.get(j, 0.0) + ms / max(1, len(jobs))
        return out


STAGE_KEYS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "inputBytes",
)

_UNIT_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}


def _parse_ms(value: str) -> float:
    """First duration in a SQL-metric string such as
    ``total (min, med, max)\\n1.2 s (0 ms, ...)``."""
    for line in value.splitlines():
        parts = line.replace(",", "").split()
        if len(parts) >= 2 and parts[1] in _UNIT_MS:
            try:
                return float(parts[0]) * _UNIT_MS[parts[1]]
            except ValueError:
                continue
    return 0.0


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=float)
    os.replace(tmp, path)
