"""Self-checks of the benchmark's own logic.

    python3 perfbench/run.py --selftest          # unit checks, no Spark
    python3 perfbench/run.py --selftest --smoke  # + every workload at sf0.001

The smoke run asserts that each workload prints every named metric of
``BENCHMARK.json``, finite, with its unit, in the output contract.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import subprocess
import sys
import tempfile
import threading

from harness import ROOT, STATE, WORKLOADS
from measure import classify_job, parse_sql_metric, self_times, tail
from metrics import E2E, PER_LAYER


def check_tail() -> None:
    assert tail(list(range(10))) is None
    t = tail([float(x) for x in range(11)])
    assert (t["p"], t["value"], t["beyond"]) == (9, 0.0, 10), t
    t = tail([float(x) for x in range(1, 101)])
    assert (t["p"], t["value"], t["beyond"]) == (90, 90.0, 10), t
    t = tail([float(x) for x in range(1, 1001)])
    assert (t["p"], t["value"], t["beyond"]) == (99, 990.0, 10), t
    rng = random.Random(0)
    for n in range(11, 2000, 7):
        xs = sorted(rng.random() for _ in range(n))
        t = tail(xs)
        rank = xs.index(t["value"]) + 1
        assert n - rank == t["beyond"] >= 10, (n, t)
        # the next whole percentile would leave fewer than 10 beyond it
        assert n - -(-(t["p"] + 1) * n // 100) < 10, (n, t)


def check_classification() -> None:
    cases = {
        "parquet at NativeMethodAccessorImpl.java:0": "schema",
        "localCheckpoint at NativeMethodAccessorImpl.java:0": "checkpoint",
        "count at NativeMethodAccessorImpl.java:0": "probe",
        "first at NativeMethodAccessorImpl.java:0": "probe",
        "collect at NativeMethodAccessorImpl.java:0": "probe",
        "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768": "other",
        "save at NativeMethodAccessorImpl.java:0": "other",
    }
    for site, want in cases.items():
        assert classify_job(site) == want, (site, classify_job(site))


def check_sql_metric_parser() -> None:
    cases = {
        "576 ms": 0.576,
        "1.1 s": 1.1,
        "2.5 m": 150.0,
        "468.9 KiB": 468.9 * 1024,
        "total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, ...)": 2 * 1024**2,
        "1,234": 1234,
    }
    for text, want in cases.items():
        assert math.isclose(parse_sql_metric(text), want), (text, parse_sql_metric(text))


def check_self_times() -> None:
    spans = [
        {"id": 1, "parent": None, "name": "query", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "build", "start": 0.0, "end": 4.0},
        {"id": 3, "parent": 1, "name": "exec", "start": 4.0, "end": 9.0},
        {"id": 4, "parent": 3, "name": "fileio", "start": 5.0, "end": 6.0},
    ]
    assert self_times(spans) == {"query": 1.0, "build": 4.0, "exec": 4.0, "fileio": 1.0}


def check_per_query_rate() -> None:
    from analytics import per_query_rate

    def sample(query, seconds):
        return {"query": query, "build_s": seconds / 2, "exec_s": seconds / 4, "release_s": seconds / 4}

    # a: median 1 s, b: median 3 s -> 2 queries per 4 s; the one slow sample of a is passed over
    samples = [sample("a", 1.0), sample("a", 9.0), sample("a", 1.0)] + [sample("b", 3.0)] * 3
    assert math.isclose(per_query_rate(samples), 0.5), per_query_rate(samples)


def check_retry_client() -> None:
    """commit_with_retry against a fake, then against the real fs catalog
    with two threads racing property commits on one table."""
    from ingest import COMMIT_ATTEMPTS, RetryExhausted, commit_with_retry

    from iceberg_rest_catalog_spark.catalog import Catalog, NestedField, Schema
    from iceberg_rest_catalog_spark.catalog.errors import CommitFailedException

    reloads = []
    outcomes = iter([CommitFailedException(), CommitFailedException(), "ok"])

    def attempt():
        o = next(outcomes)
        if isinstance(o, Exception):
            raise o
        return o

    assert commit_with_retry(attempt, lambda: reloads.append(1)) == ("ok", 2)
    assert len(reloads) == 2

    def always_lose():
        raise CommitFailedException()

    reloads.clear()
    try:
        commit_with_retry(always_lose, lambda: reloads.append(1))
        raise AssertionError("an exhausted retry must raise")
    except RetryExhausted:
        assert len(reloads) == COMMIT_ATTEMPTS - 1

    tmp = tempfile.mkdtemp(prefix="selftest-", dir=STATE)
    try:
        cat = Catalog(os.path.join(tmp, "warehouse"))
        cat.create_namespace(("ns",))
        ident = ("ns", "t")
        cat.create_table(ident, Schema(0, [NestedField(1, "id", "long", True)]))
        acked: list[tuple[int, str]] = []
        lock = threading.Lock()

        def writer(k: int) -> None:
            for i in range(40):
                value = f"w{k}-{i}"
                tbl, _ = commit_with_retry(
                    lambda: cat.update_table(
                        ident, [], [{"action": "set-properties", "updates": {"key": value}}]
                    ),
                    lambda: cat.load_table(ident),
                    attempts=100,
                )
                with lock:
                    acked.append((tbl.version, value))

        threads = [threading.Thread(target=writer, args=(k,)) for k in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
        final = cat.load_table(ident)
        assert len(acked) == 80 and len({v for v, _ in acked}) == 80, "a version acked twice"
        assert final.version == 1 + 80, final.version
        assert final.properties()["key"] == max(acked)[1]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def check_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in doc["end_to_end"]] == [
        (n, u, b) for n, u, b, _ in E2E
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] == [
        (n, u, b) for n, u, b, _ in PER_LAYER
    ]


def smoke() -> None:
    units = {n: u for n, u, *_ in E2E + PER_LAYER}
    for workload in WORKLOADS:
        for trace, names in ((0, [m[0] for m in E2E]), (1, [m[0] for m in PER_LAYER])):
            p = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001"],
                capture_output=True, text=True, timeout=600,
            )
            assert p.returncode == 0, (workload, trace, p.stderr[-3000:])
            out = json.loads(p.stdout.strip().splitlines()[-1])
            assert sorted(out) == ["attempted", "correct", "failed", "metrics"], out.keys()
            assert out["correct"] is True and out["failed"] == 0, (workload, p.stdout[-3000:])
            assert list(out["metrics"]) == names, (workload, trace, list(out["metrics"]))
            for name, m in out["metrics"].items():
                assert m["unit"] == units[name], (name, m)
                assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (name, m)
                if trace == 0:
                    assert m["value"] > 0, (workload, name, m)
            print(f"smoke {workload} trace={trace}: {len(names)} metrics ok", flush=True)


def main(smoke_run: bool = False) -> int:
    sys.path.insert(0, ROOT)
    os.makedirs(STATE, exist_ok=True)
    for check in (check_tail, check_classification, check_sql_metric_parser, check_self_times,
                  check_per_query_rate, check_retry_client, check_benchmark_json):
        check()
        print(f"{check.__name__}: ok", flush=True)
    if smoke_run:
        smoke()
    return 0
