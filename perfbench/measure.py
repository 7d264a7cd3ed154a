"""Measurement core of the benchmark: statistics, spans, memory, FileIO counts
and Spark status-store counters.

Everything here observes the program from outside, through its public seams
(``fileio=``, Spark job groups, the status stores); nothing changes what the
program does.
"""

from __future__ import annotations

import itertools
import re
import statistics
import threading
import time
from contextlib import contextmanager

# -- statistics ---------------------------------------------------------------


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> dict | None:
    """The highest whole percentile with at least 10 samples beyond it.

    Nearest-rank percentile: the value at rank ceil(p*n/100).  Ten samples
    beyond rank r means r <= n - 10, so p = floor(100*(n-10)/n).  With ten
    samples or fewer no percentile qualifies and the result is None."""
    n = len(xs)
    if n <= 10:
        return None
    p = 100 * (n - 10) // n
    rank = -(-p * n // 100)
    return {"p": p, "value": sorted(xs)[rank - 1], "n": n, "beyond": n - rank}


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and a shared request id.

    Disabled tracers hand out ``None`` and record nothing, so the untraced
    runs that produce end-to-end numbers pay one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid or (parent["rid"] if parent else None),
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s["end"] = time.perf_counter()
            self.spans.append(s)
            if parent is None:
                self._local.__dict__.setdefault("roots", []).append(s)

    def take_roots(self) -> list[dict]:
        """The finished top-level spans of this thread since the last call."""
        roots = self._local.__dict__.get("roots", [])
        self._local.roots = []
        return roots

    def add(self, name: str, start: float, end: float, parent: dict | None = None,
            rid: str | None = None, **attrs):
        """Record a finished span measured elsewhere (e.g. another process)."""
        if not self.enabled:
            return None
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid or (parent["rid"] if parent else None),
            "start": start,
            "end": end,
            **attrs,
        }
        self.spans.append(s)
        return s


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name of duration minus the part its children cover.

    Children of one parent never overlap here (each layer is entered
    sequentially from its parent), so the covered part is their sum."""
    child_sum: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_sum[s["parent"]] = child_sum.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child_sum.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0)
    return out


# -- memory -------------------------------------------------------------------


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# -- FileIO -------------------------------------------------------------------


def counting_fileio(inner, tracer: Tracer):
    """Wrap a catalog FileIO so every call is counted and timed.

    Built lazily so this module imports without the program on the path."""
    from iceberg_rest_catalog_spark.catalog.fileio import FileIO

    class CountingFileIO(FileIO):
        KIND = {
            "read_text": "reads",
            "write_text_atomic": "writes",
            "create_exclusive": "writes",
            "listdir": "lists",
            "walk": "lists",
            "remove": "deletes",
            "rmdir": "deletes",
            "rmtree": "deletes",
        }

        def __init__(self, inner, tracer: Tracer):
            self.inner = inner
            self.tracer = tracer
            self.lock = threading.Lock()
            self.counts = dict.fromkeys(
                ["reads", "writes", "lists", "deletes", "other", "bytes_read", "bytes_written"], 0
            )
            self.seconds = 0.0

        def _call(self, op, *args, nbytes_out=0):
            t0 = time.perf_counter()
            with self.tracer.span("fileio", op=op):
                try:
                    out = getattr(self.inner, op)(*args)
                    if op == "walk":
                        out = list(out)
                finally:
                    dt = time.perf_counter() - t0
                    with self.lock:
                        self.counts[self.KIND.get(op, "other")] += 1
                        self.counts["bytes_written"] += nbytes_out
                        self.seconds += dt
            if op == "read_text":
                with self.lock:
                    self.counts["bytes_read"] += len(out.encode())
            return out

        def read_text(self, path):
            return self._call("read_text", path)

        def write_text_atomic(self, path, text):
            return self._call("write_text_atomic", path, text, nbytes_out=len(text.encode()))

        def create_exclusive(self, path, text):
            return self._call("create_exclusive", path, text, nbytes_out=len(text.encode()))

        def isfile(self, path):
            return self._call("isfile", path)

        def isdir(self, path):
            return self._call("isdir", path)

        def listdir(self, path):
            return self._call("listdir", path)

        def walk(self, path, topdown=True):
            return self._call("walk", path, topdown)

        def mkdirs(self, path):
            return self._call("mkdirs", path)

        def remove(self, path):
            return self._call("remove", path)

        def rmdir(self, path):
            return self._call("rmdir", path)

        def rmtree(self, path):
            return self._call("rmtree", path)

        def rename(self, src, dst):
            return self._call("rename", src, dst)

        def getmtime(self, path):
            return self._call("getmtime", path)

        def size(self, path):
            return self._call("size", path)

        def snapshot(self) -> dict:
            with self.lock:
                return {**self.counts, "s": self.seconds}

    return CountingFileIO(inner, tracer)


# -- Spark status store -------------------------------------------------------

#: Job classes of the build phase, keyed on the action that launched the job.
#: The action is the first word of the job's call site ("parquet at ...") or,
#: for jobs that run inside a SQL execution (AQE query stages are named after
#: a thread-pool lambda), of that execution's description.
JOB_CLASS = {
    "parquet": "schema",
    "localCheckpoint": "checkpoint",
    "checkpoint": "checkpoint",
    "first": "probe",
    "count": "probe",
    "collect": "probe",
    "collectToPython": "probe",
    "take": "probe",
    "head": "probe",
    "toPandas": "probe",
    "isEmpty": "probe",
    "toLocalIterator": "probe",
}


def classify_job(call_site: str) -> str:
    return JOB_CLASS.get(call_site.split(" ", 1)[0], "other")


#: SQL metric display names of the Python-worker operators (Arrow UDFs,
#: mapInPandas, Python data sources) -> per-layer metric name.
PY_METRICS = {
    "time to run Python workers": "pyworker.run_s",
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """Parse a status-store SQL metric string to bytes or seconds.

    One task prints ``"468.9 KiB"``; several print ``"total (min, med, max
    (stageId: taskId))\\n1.6 s (0.2 s, ...)"`` — the total leads the last line."""
    last = text.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?", last)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


PHASE_COUNTERS = (
    "jobs", "stages", "tasks", "task_run_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "gc_s",
)


class SparkProbe:
    """Reads per-phase counters for one job group from Spark's status stores.

    Traced runs only: each read waits for the listener bus to drain so the
    counters of the phase just finished are complete."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.next_exec = 0

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def new_executions(self) -> list:
        out = []
        while True:
            e = self.sql.execution(self.next_exec)
            if not e.isDefined():
                break
            out.append(e.get())
            self.next_exec += 1
        return out

    def phase(self, group: str, executions: list) -> dict:
        """Counters of every job in ``group``; ``executions`` are the SQL
        executions read since the previous call (their jobs name the action)."""
        site_of: dict[int, str] = {}
        for e in executions:
            jobs = e.jobs().keys().toSeq()
            for i in range(jobs.size()):
                site_of[int(jobs.apply(i))] = e.description()
        out = dict.fromkeys(PHASE_COUNTERS, 0.0)
        out.update({f"jobs.{c}": 0 for c in ("schema", "checkpoint", "probe", "other")})
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self.store.job(job_id)
            out["jobs"] += 1
            out[f"jobs.{classify_job(site_of.get(job_id, jd.name()))}"] += 1
            stage_ids = jd.stageIds()
            for i in range(stage_ids.size()):
                st = self.store.lastStageAttempt(stage_ids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def python_metrics(self, executions: list) -> dict:
        out = dict.fromkeys(PY_METRICS.values(), 0.0)
        for e in executions:
            wanted = {}
            ms = e.metrics()
            for i in range(ms.size()):
                m = ms.apply(i)
                if m.name() in PY_METRICS:
                    wanted[m.accumulatorId()] = PY_METRICS[m.name()]
            if not wanted:
                continue
            values = self.sql.executionMetrics(e.executionId())
            for acc, name in wanted.items():
                v = values.get(acc)
                if v.isDefined():
                    out[name] += parse_sql_metric(v.get())
        return out
