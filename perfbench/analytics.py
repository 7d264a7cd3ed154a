"""The ``analytics`` workload: one client running the ``tpch`` and
``llm-iterative`` query groups into the noop sink, with the between-query
release a service draining a queue pays.

Set-up is the session start plus one pass that collects every query (this
pass also warms the JVM); the DuckDB oracles run before it and the
comparison after it, both untimed.  The timed window then runs whole passes
in a seeded order, at least ``MIN_PASSES``, until ``--seconds`` have
elapsed.  A query is timed as build
(the query function: planning plus every eager driver job, including
``io.load_table`` schema inference) plus exec (the noop write).
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os
import random
import statistics
import time

from harness import ROOT, Run, fixture_checksum, note_tail, start_spark, time_controls
from measure import PY_METRICS, SparkProbe, p50, peak_rss_mb
from metrics import per_layer_values

#: Query groups and the fixture scale each runs at.
#: ``tpch``: four of bench.py's fifteen HEADLINE TPC-H composites, from the
#: single-table q6 to q8 with seven table loads — short queries where
#: schema inference is a large share of build.
#: ``llm-iterative``: iterative loops (k-core peeling, triangle counting),
#: whose build is mostly checkpoint and probe jobs, and a Python-worker
#: query (pandas UDF).  README.md says which queries are out and why.
GROUPS = {
    "tpch": ("sf0.1", ["q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q8"]),
    "llm-iterative": ("sf0.01", ["q_udf_pandas", "q_graph_triangles", "q_graph_kcore"]),
}

#: Whole passes the window runs at least: the per-query medians behind the
#: end-to-end metrics need three samples to pass over one sample slowed by a
#: burst of CPU steal on the host.
MIN_PASSES = 3


class OracleCheck:
    """Compares a query's collected rows with its registered DuckDB oracle,
    using the canonicalization of ``tools/check_queries.py``.

    The oracles of ``plan`` ((name, fixture dir) pairs) all run when the
    check is made, so no oracle time or contention falls in a timed window."""

    def __init__(self, plan: list[tuple[str, str]]):
        import duckdb
        from iceberg_rest_catalog_spark import registry
        from iceberg_rest_catalog_spark.io import TABLES

        spec = importlib.util.spec_from_file_location(
            "check_queries", os.path.join(ROOT, "tools", "check_queries.py")
        )
        self.cq = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.cq)
        oracles = registry.oracles()
        self.expected = {}
        for sf_dir in sorted({sf for _n, sf in plan}):
            con = duckdb.connect()
            try:
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                    )
                for n, sf in plan:
                    if sf == sf_dir and n in oracles:
                        self.expected[n] = con.execute(oracles[n]).fetchdf()
            finally:
                con.close()

    def mismatch(self, name: str, spdf) -> str | None:
        """None when the collected rows (a pandas frame) match the oracle,
        else the reason."""
        cq = self.cq
        bad = cq.nonscalar_columns(spdf)
        if bad:
            return f"non-scalar columns {bad}"
        if name not in self.expected:
            return "no oracle registered"
        odf = self.expected[name]
        if len(spdf) != len(odf):
            return f"rows {len(spdf)} != oracle {len(odf)}"
        digest = [
            hashlib.md5("\n".join(cq.norm(d)["r"]).encode()).hexdigest() for d in (spdf, odf)
        ]
        if digest[0] != digest[1]:
            return "row hash differs from oracle"
        dtypes = cq.dtype_mismatches(spdf, odf)
        return f"dtype {dtypes}" if dtypes else None


def count_load_table_calls(counter: list[int]) -> None:
    """Count ``io.load_table`` calls (traced runs): rebind the function in
    every engine module that imported it."""
    import sys

    from iceberg_rest_catalog_spark import io

    original = io.load_table

    def load_table(*a, **k):
        counter[0] += 1
        return original(*a, **k)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("iceberg_rest_catalog_spark") and (
            getattr(mod, "load_table", None) is original
        ):
            mod.load_table = load_table


def per_query_geomean(samples: list[dict], value) -> float:
    """Geometric mean over queries of each query's median ``value(sample)``:
    every query weighs the same, whatever its length or rank."""
    by_query: dict[str, list[float]] = {}
    for s in samples:
        by_query.setdefault(s["query"], []).append(value(s))
    return math.exp(statistics.fmean(math.log(statistics.median(xs)) for xs in by_query.values()))


def per_query_rate(samples: list[dict]) -> float:
    """Queries per second of a pass that costs every query its median
    build + exec + release: the window's throughput, without the samples a
    burst of host CPU steal slowed."""
    by_query: dict[str, list[float]] = {}
    for s in samples:
        by_query.setdefault(s["query"], []).append(s["build_s"] + s["exec_s"] + s["release_s"])
    return len(by_query) / sum(statistics.median(xs) for xs in by_query.values())


def run_analytics(run: Run) -> dict:
    from iceberg_rest_catalog_spark import registry
    from iceberg_rest_catalog_spark.operators.common import release_persistent_state_deep

    plan = [(name, group, run.sf(scale)) for group, (scale, names) in GROUPS.items() for name in names]
    run.fields["fixtures"] = {sf: fixture_checksum(sf) for sf in sorted({sf for *_q, sf in plan})}
    tracer = run.tracer

    check = OracleCheck([(name, sf) for name, _g, sf in plan])
    t0 = time.perf_counter()
    spark, start_s = start_spark(run)
    sc = spark.sparkContext
    qs = registry.queries()
    collected: dict = {}
    wrong: dict[str, str] = {}
    check_s: dict[str, float] = {}
    for name, _group, sf in plan:
        t_q = time.perf_counter()
        try:
            collected[name] = qs[name](spark, sf).toPandas()
        except Exception as exc:  # a failing query is a failed sample, not a crash
            wrong[name] = f"{type(exc).__name__}: {exc}"
        release_persistent_state_deep(spark)
        check_s[name] = time.perf_counter() - t_q
    setup_s = time.perf_counter() - t0
    for name, spdf in collected.items():
        reason = check.mismatch(name, spdf)
        if reason:
            wrong[name] = reason
    del collected

    probe = SparkProbe(spark) if run.trace else None
    loads = [0]
    if probe:
        probe.drain()
        probe.new_executions()
        count_load_table_calls(loads)

    rng = random.Random(run.seed)
    samples: list[dict] = []
    window_start = time.perf_counter()
    passes = 0
    while True:
        order = list(plan)
        rng.shuffle(order)
        for name, group, sf in order:
            i = len(samples)
            s = {"query": name, "group": group, "ok": name not in wrong}
            loads[0] = 0
            sb = se = None
            with tracer.span("query", rid=f"{name}#{i}", query=name) as sq:
                try:
                    t_a = time.perf_counter()
                    sc.setLocalProperty("spark.jobGroup.id", f"b{i}")
                    with tracer.span("build") as sb:
                        df = qs[name](spark, sf)
                    t_b = time.perf_counter()
                    sc.setLocalProperty("spark.jobGroup.id", f"e{i}")
                    with tracer.span("exec") as se:
                        df.write.format("noop").mode("overwrite").save()
                    t_c = time.perf_counter()
                    s.update(build_s=t_b - t_a, exec_s=t_c - t_b)
                except Exception as exc:
                    s.update(ok=False, error=f"{type(exc).__name__}: {exc}")
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                t_r = time.perf_counter()
                with tracer.span("release"):
                    s["release_rdds"] = release_persistent_state_deep(spark)
                s["release_s"] = time.perf_counter() - t_r
            if probe:
                probe.drain()
                execs = probe.new_executions()
                s["build"] = probe.phase(f"b{i}", execs)
                s["exec"] = probe.phase(f"e{i}", execs)
                s["pyworker"] = probe.python_metrics(execs)
                s["build"]["load_table_calls"] = loads[0]
                for span, key in ((sb, "build"), (se, "exec"), (sq, "pyworker")):
                    if span is not None:
                        span.update(s[key])
            samples.append(s)
        passes += 1
        if passes >= MIN_PASSES and time.perf_counter() - window_start >= run.seconds:
            break
    window_s = time.perf_counter() - window_start

    run.fields["controls"] = time_controls(run, spark)
    run.fields["peak_rss_mb"] = {"python": peak_rss_mb(os.getpid()), "jvm": peak_rss_mb(run.jvm_pid)}
    rss = sum(run.fields["peak_rss_mb"].values())

    done = [s for s in samples if "build_s" in s]
    lat = [s["build_s"] + s["exec_s"] for s in done]
    failed = sum(1 for s in samples if not s["ok"])
    run.note("setup_s", setup_s, "s", f"session {start_s:.2f} s + warm pass collecting every query")
    run.note("error_rate", failed / len(samples), "ratio", f"{failed}/{len(samples)} queries")
    run.note("peak_rss_mb", rss, "MB", "benchmark process + JVM")
    run.note("query_p50_s", p50(lat), "s", f"n={len(lat)}")
    note_tail(run, "query_tail_s", lat, 1.0, "s")
    for group in GROUPS:
        g = [s["build_s"] + s["exec_s"] for s in done if s["group"] == group]
        run.note(f"query_p50_s[{group}]", p50(g), "s", f"n={len(g)}")
        note_tail(run, f"query_tail_s[{group}]", g, 1.0, "s")
    run.note("queries_per_min", 60 * len(done) / window_s, "1/min", f"{passes} passes, {window_s:.1f} s")
    for name, why in wrong.items():
        run.note("oracle_mismatch", None, "", f"{name}: {why}")

    e2e = {
        "setup_s": (setup_s, "s"),
        "op_ms": (1e3 * per_query_geomean(done, lambda s: s["build_s"] + s["exec_s"]), "ms"),
        "ops_per_s": (per_query_rate(done), "1/s"),
        "write_ms": (1e3 * per_query_geomean(done, lambda s: s["exec_s"]), "ms"),
    }
    layer: dict[str, float] = {"session.start_s": start_s, "mem.peak_rss_mb": rss}
    per_pass = 1.0 / passes
    layer["build.s"] = per_pass * sum(s["build_s"] for s in done)
    layer["exec.s"] = per_pass * sum(s["exec_s"] for s in done)
    layer["release.s"] = per_pass * sum(s["release_s"] for s in samples)
    layer["release.rdds"] = per_pass * sum(s["release_rdds"] for s in samples)
    if probe:
        for s in done:
            for phase in ("build", "exec"):
                for k, v in s[phase].items():
                    layer[f"{phase}.{k}"] = layer.get(f"{phase}.{k}", 0.0) + per_pass * v
            for k in PY_METRICS.values():
                layer[k] = layer.get(k, 0.0) + per_pass * s["pyworker"][k]
    return {
        "correct": not wrong and failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "e2e": e2e,
        "per_layer": per_layer_values(layer),
        "details": {"check_s": check_s, "samples": samples, "passes": passes, "window_s": window_s, "wrong": wrong},
    }
