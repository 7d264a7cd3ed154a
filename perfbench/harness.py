"""Shared pieces of a benchmark run: the run's state and isolated
directories, the Spark session, drift controls and the output contract."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RESULTS = os.path.join(STATE, "results")

WORKLOADS = ("analytics", "catalog-ingest")

#: Drift controls: fixed queries timed after every run's window (not metrics).
CONTROLS = ("q_tpch_q6", "q_agg_group")
CONTROL_REPS = 3


class Run:
    """State of one benchmark run: arguments, isolated directories, report
    lines, and the clean-up actions for every process and directory made."""

    def __init__(self, args, run_dir: str):
        from measure import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.fixtures = args.fixtures
        self.scale = args.scale
        self.dir = run_dir
        self.tracer = Tracer(self.trace)
        self.report: list[tuple[str, float | None, str, str]] = []
        self.fields: dict = {}
        self._cleanup: list = []

    def sf(self, scale: str) -> str:
        """The fixture directory of ``scale`` (or of ``--scale`` when given)."""
        d = os.path.join(self.fixtures, self.scale or scale)
        if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
            raise SystemExit(f"perfbench: fixture {d} is missing")
        return d

    def on_exit(self, fn) -> None:
        self._cleanup.append(fn)

    def close(self) -> None:
        while self._cleanup:
            fn = self._cleanup.pop()
            try:
                fn()
            except Exception as exc:  # keep cleaning up; report what failed
                print(f"perfbench: clean-up step failed: {exc!r}", file=sys.stderr)

    def note(self, name: str, value, unit: str, detail: str = "") -> None:
        self.report.append((name, value, unit, detail))


def note_tail(run: Run, name: str, xs: list[float], scale: float, unit: str) -> None:
    """Report the tail of ``xs`` (see ``measure.tail``) with its percentile
    and sample count, or why there is none."""
    from measure import tail

    t = tail(xs)
    if t is None:
        run.note(name, None, unit, f"n={len(xs)}: no percentile has 10 samples beyond it")
    else:
        run.note(name, scale * t["value"], unit, f"p{t['p']} n={t['n']}")


# -- Spark session ------------------------------------------------------------


def start_spark(run: Run):
    """Build the engine's session (``session.get_spark``) with the bench.py
    settings; return (spark, seconds).  Registers the JVM's shutdown."""
    from iceberg_rest_catalog_spark.session import default_parallelism, get_spark
    from pyspark import SparkContext

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{run.workload}")
    cpus = default_parallelism()
    spark.conf.set("spark.sql.shuffle.partitions", str(min(32, cpus)))
    start_s = time.perf_counter() - t0
    proc = SparkContext._gateway.proc

    def stop():
        try:
            spark.stop()
        finally:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    run.on_exit(stop)
    run.jvm_pid = proc.pid
    run.fields["spark"] = {
        "cpus": cpus,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "java": spark._jvm.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }
    return spark, start_s


def time_controls(run: Run, spark) -> dict:
    """Median wall time of each drift-control query (untimed by the window)."""
    from iceberg_rest_catalog_spark import registry
    from iceberg_rest_catalog_spark.operators.common import release_persistent_state_deep

    qs = registry.queries()
    sf = run.sf("sf0.01")
    out = {}
    for name in CONTROLS:
        xs = []
        for _ in range(CONTROL_REPS):
            t0 = time.perf_counter()
            qs[name](spark, sf).write.format("noop").mode("overwrite").save()
            xs.append(time.perf_counter() - t0)
        out[name] = statistics.median(xs)
    release_persistent_state_deep(spark)
    return out


# -- environment and drift fields ----------------------------------------------


def fixture_checksum(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        p = os.path.join(d, name)
        if os.path.isfile(p):
            h.update(name.encode())
            with open(p, "rb") as f:
                for block in iter(lambda: f.read(1 << 20), b""):
                    h.update(block)
    return h.hexdigest()[:16]


def results_dir(run: Run) -> str:
    """Where a run is stored; runs at a non-default scale (the smoke test)
    are kept apart from the measurements the reports and drift notes read."""
    return os.path.join(RESULTS, run.workload + (f"@{run.scale}" if run.scale else ""))


def drift_notes(d: str, controls: dict) -> list[str]:
    """One line per control that moved further from the median of the
    earlier untraced runs stored in ``d`` than their run-to-run spread (the
    quartile distance)."""
    earlier: dict[str, list[float]] = {c: [] for c in controls}
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if name.endswith("-trace0.json"):
            with open(os.path.join(d, name)) as f:
                doc = json.load(f)
            for c, v in doc.get("fields", {}).get("controls", {}).items():
                earlier.setdefault(c, []).append(v)
    notes = []
    for c, v in controls.items():
        xs = earlier.get(c, [])
        if len(xs) < 4:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        if abs(v - med) > q3 - q1:
            notes.append(
                f"control {c} read {v:.3f} s, {v - med:+.3f} s from the median of "
                f"{len(xs)} earlier runs, more than their spread {q3 - q1:.3f} s: the host moved"
            )
    return notes


def isolate(run_dir: str) -> None:
    """Point every temp/scratch location of this process, its JVM and its
    Python workers into ``run_dir``; use all cores, as bench.py does."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable


# -- output ---------------------------------------------------------------------


def fmt(v) -> str:
    if v is None:
        return "n/a"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def emit(run: Run, result: dict) -> dict:
    """Print the report lines, store the run, and print the JSON last."""
    for name, value, unit, detail in run.report:
        print(f"{run.workload:<15} {name:<28} {fmt(value):>14} {unit:<8} {detail}")
    for line in run.fields.get("notes", []):
        print(f"NOTE {line}")
    chosen = result["per_layer"] if run.trace else result["e2e"]
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}
    out = {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }
    d = results_dir(run)
    os.makedirs(d, exist_ok=True)
    stem = os.path.join(d, f"{time.strftime('%Y%m%dT%H%M%S')}-seed{run.seed}-trace{int(run.trace)}")
    stored = {k: {n: {"value": v, "unit": u} for n, (v, u) in result[k].items()}
              for k in ("e2e", "per_layer")}
    with open(stem + ".json", "w") as f:
        json.dump({**out, **stored, "fields": run.fields, "details": result.get("details", {}),
                   "report": run.report}, f, indent=1, default=str)
    if run.trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump(run.tracer.spans, f, default=str)
    sys.stdout.flush()
    print(json.dumps(out, separators=(",", ":")), flush=True)
    return out
