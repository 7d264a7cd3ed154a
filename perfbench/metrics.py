"""The benchmark's metric catalogue: every end-to-end and per-layer metric
with its unit, its better direction and — for per-layer metrics — the
end-to-end metric and workload it should move.  ``BENCHMARK.json`` lists the
same names (the self-test checks that they agree)."""

from __future__ import annotations

import math

SPARK = "analytics"
INGEST = "catalog-ingest"
TPCH = "analytics (tpch group)"
LOOPS = "analytics (llm-iterative group)"

#: name, unit, better, what it is on each workload
E2E = [
    ("setup_s", "s", "lower",
     "session start + warm pass collecting every query (analytics); session "
     "start + median of 3 server set-ups (catalog-ingest)"),
    ("op_ms", "ms", "lower",
     "typical operation: geometric mean over the queries of each query's median "
     "build + exec (analytics); median metadata-client request, retries included "
     "(catalog-ingest)"),
    ("ops_per_s", "1/s", "higher",
     "operations per second: queries per second of a pass at each query's median "
     "build + exec + between-query release (analytics); metadata-client requests "
     "over the metadata clients' own time (catalog-ingest)"),
    ("write_ms", "ms", "lower",
     "typical write: geometric mean over the queries of each query's median "
     "noop-sink write (analytics); median Table.append micro-batch, retries "
     "included (catalog-ingest)"),
]

#: name, unit, better, target (end-to-end metric -> workload it should move)
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s on every workload"),
    ("mem.peak_rss_mb", "MB", "lower",
     "memory on every workload: peak RSS of the benchmark process + its JVM (+ the REST "
     "server); not bounded, the JVM's heap growth makes it spread too much"),
    ("build.s", "s", "lower", f"op_ms, ops_per_s on {SPARK}"),
    ("build.load_table_calls", "count", "lower", f"explains build.jobs.schema on {TPCH}"),
    ("build.jobs", "count", "lower", f"op_ms, ops_per_s on {SPARK}"),
    ("build.jobs.schema", "count", "lower",
     f"op_ms on {TPCH} (ROADMAP item 1); predicted flat on the llm-iterative group"),
    ("build.jobs.checkpoint", "count", "lower",
     f"ops_per_s on {LOOPS} (ROADMAP item 3); zero on the tpch group"),
    ("build.jobs.probe", "count", "lower",
     f"ops_per_s on {LOOPS} (ROADMAP item 3); flat on the tpch group"),
    ("build.jobs.other", "count", "lower", f"ops_per_s on {LOOPS}"),
]


def _phase_counters(phase: str, target: str) -> list[tuple[str, str, str, str]]:
    spread = "; the named candidates for the kcore/triangles spread"
    return [
        (f"{phase}.stages", "count", "lower", target),
        (f"{phase}.tasks", "count", "lower", target),
        (f"{phase}.task_run_s", "s", "lower", target),
        (f"{phase}.shuffle_read_bytes", "bytes", "lower", target),
        (f"{phase}.shuffle_write_bytes", "bytes", "lower", target),
        (f"{phase}.spill_bytes", "bytes", "lower", target + spread),
        (f"{phase}.gc_s", "s", "lower", target + spread),
    ]


PER_LAYER += _phase_counters("build", f"op_ms on {SPARK}")
PER_LAYER += [
    ("exec.s", "s", "lower", f"write_ms, op_ms on {SPARK}"),
    ("exec.jobs", "count", "lower", f"write_ms, op_ms on {SPARK}"),
]
PER_LAYER += _phase_counters("exec", f"write_ms, op_ms on {SPARK}")
PER_LAYER += [
    ("pyworker.run_s", "s", "lower", f"ops_per_s on {LOOPS}; zero on the tpch group"),
    ("pyworker.start_s", "s", "lower", f"ops_per_s on {LOOPS}; zero on the tpch group"),
    ("pyworker.init_s", "s", "lower", f"ops_per_s on {LOOPS}; zero on the tpch group"),
    ("pyworker.bytes_sent", "bytes", "lower", f"ops_per_s on {LOOPS}; zero on the tpch group"),
    ("pyworker.bytes_returned", "bytes", "lower", f"ops_per_s on {LOOPS}; zero on the tpch group"),
    ("release.s", "s", "lower", f"ops_per_s on {SPARK}"),
    ("release.rdds", "count", "lower", f"ops_per_s on {SPARK}"),
    ("catalog.load_table_ms", "ms", "lower", f"op_ms on {INGEST} (server self time per call)"),
    ("catalog.update_table_ms", "ms", "lower",
     f"op_ms, ops_per_s, write_ms on {INGEST} (server self time per call)"),
    ("catalog.commits", "count", "lower", f"ops_per_s on {INGEST}"),
    ("catalog.cas_conflicts", "count", "lower", f"write_ms, ops_per_s on {INGEST}"),
    ("catalog.retries", "count", "lower", f"write_ms, ops_per_s on {INGEST}"),
    ("append.write_s", "s", "lower", f"write_ms on {INGEST} (append minus its commit)"),
    ("append.commit_ms", "ms", "lower", f"write_ms on {INGEST}"),
    ("scan.plan_s", "s", "lower", f"scan_p50_s (report) on {INGEST}"),
    ("scan.exec_s", "s", "lower", f"scan_p50_s (report) on {INGEST}"),
    ("fileio.reads", "count", "lower", f"op_ms, write_ms on {INGEST}"),
    ("fileio.writes", "count", "lower", f"write_ms, meta_bytes_per_commit on {INGEST}"),
    ("fileio.lists", "count", "lower", f"op_ms on {INGEST}"),
    ("fileio.deletes", "count", "lower", f"meta_bytes_per_commit on {INGEST}"),
    ("fileio.bytes_read", "bytes", "lower", f"op_ms on {INGEST}"),
    ("fileio.bytes_written", "bytes", "lower", f"meta_bytes_per_commit on {INGEST}"),
    ("fileio.s", "s", "lower", f"op_ms, write_ms on {INGEST}"),
    ("rest.requests", "count", "lower", f"ops_per_s on {INGEST}"),
    ("rest.server_ms", "ms", "lower", f"op_ms, ops_per_s on {INGEST} (mean per request)"),
    ("rest.wire_ms", "ms", "lower", f"op_ms on {INGEST} (client minus server, mean)"),
    ("meta.files", "count", "lower", f"meta_bytes_per_commit (report) on {INGEST}"),
    ("meta.bytes", "bytes", "lower", f"meta_bytes_per_commit (report) on {INGEST}"),
    ("data.files", "count", "lower", f"write_ms on {INGEST}"),
    ("data.bytes", "bytes", "lower", f"write_ms on {INGEST}"),
]


def per_layer_values(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric with its unit; a layer the workload does not
    touch reads 0."""
    out = {}
    for name, unit, _better, _target in PER_LAYER:
        v = float(values.get(name, 0.0))
        if not math.isfinite(v):
            raise ValueError(f"per-layer metric {name} is not finite: {v}")
        out[name] = (v, unit)
    return out
