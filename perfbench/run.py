"""The repository benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 8 --trace 0

Workloads (see README.md in this directory for why each exists):

* ``analytics``      — one client running two query groups: ``tpch`` (four
                       TPC-H composites at sf0.1) and ``llm-iterative``
                       (k-core, triangle counting and a pandas UDF at sf0.01).
* ``catalog-ingest`` — a REST catalog server process; one client process
                       appending, scanning and issuing metadata requests on
                       four threads.

Every run builds a fresh warehouse, temp dir and Spark local dir under
``.perfbench/`` in the checkout, removes them on exit, stops every process it
started, checks the program's outputs, and prints a report followed by one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones (spans and Spark counters are collected only then).

Other modes: ``--selftest`` checks the benchmark's own logic (add ``--smoke``
for a short run of every workload at sf0.001); ``--overhead WORKLOAD``
compares stored traced and untraced runs; ``--explain WORKLOAD`` relates the
per-query spread of stored traced runs to their Spark counters.
"""

from __future__ import annotations

import argparse
import os
import platform
import shutil
import signal
import sys
import tempfile
import time

from harness import RESULTS, ROOT, STATE, WORKLOADS, Run, drift_notes, emit, isolate, results_dir


def run_workload(args) -> int:
    os.makedirs(STATE, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=STATE)
    isolate(run_dir)
    cwd = os.getcwd()
    os.chdir(run_dir)
    run = Run(args, run_dir)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        sys.path.insert(0, ROOT)
        import pyspark

        run.fields.update(
            seed=run.seed,
            seconds=run.seconds,
            nproc=len(os.sched_getaffinity(0)),
            python=platform.python_version(),
            pyspark=pyspark.__version__,
            loadavg_before=os.getloadavg(),
        )
        if run.workload == "catalog-ingest":
            from ingest import run_ingest as fn
        else:
            from analytics import run_analytics as fn
        result = fn(run)
        run.fields["loadavg_after"] = os.getloadavg()
        run.fields["notes"] = drift_notes(results_dir(run), run.fields.get("controls", {}))
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish cleaning up
        run.close()
        os.chdir(cwd)
        # a JVM shutdown hook may still be deleting its own files: retry
        for _ in range(20):
            shutil.rmtree(run_dir, ignore_errors=True)
            if not os.path.exists(run_dir):
                break
            time.sleep(0.5)
    emit(run, result)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fixtures", default=None,
                   help="directory holding sf0.001/sf0.01/sf0.1 (default: the "
                   "parent of the engine's default fixture directory)")
    p.add_argument("--scale", default=None,
                   help="run every workload at this fixture scale (e.g. sf0.001)")
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--overhead", choices=WORKLOADS)
    p.add_argument("--explain", choices=WORKLOADS)
    args = p.parse_args(argv)
    if args.selftest:
        import selftest

        return selftest.main(smoke_run=args.smoke)
    if args.overhead or args.explain:
        import reports

        return reports.overhead(RESULTS, args.overhead) if args.overhead else reports.explain(
            RESULTS, args.explain
        )
    if not args.workload:
        p.error("--workload is required")
    if args.fixtures is None:
        sys.path.insert(0, ROOT)
        from iceberg_rest_catalog_spark.io import DEFAULT_SF_DIR

        args.fixtures = os.path.dirname(DEFAULT_SF_DIR)
    return run_workload(args)


if __name__ == "__main__":
    raise SystemExit(main())
