"""The catalog-ingest workload's REST server process.

Serves ``rest.serve`` over ``Catalog(warehouse, fileio=<counting FileIO>)``
on a free local port, writes the port to ``--ready-file`` once listening, and
on SIGTERM stops, then writes its counters (and, with ``--trace 1``, its
spans) to ``--stats-file``.

Per-request server time comes from the facade's own per-request log line
(``latency_ms``, keyed by its ``requestID``).  With tracing on, the catalog
calls and FileIO calls a request makes are recorded as child spans of that
request and carry the same id, which the facade echoes to the client in
``X-Request-ID``.

Run: ``python3 perfbench/server.py --warehouse DIR --ready-file F --stats-file F``
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import re
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from measure import Tracer, counting_fileio  # noqa: E402

#: Route templates of the facade, for per-route aggregation of the log line.
_ROUTE_RE = [
    (re.compile(r"^/v1/namespaces/[^/]+/tables/[^/]+$"), "table"),
    (re.compile(r"^/v1/namespaces/[^/]+/tables$"), "tables"),
    (re.compile(r"^/v1/namespaces/[^/]+/properties$"), "namespace_properties"),
    (re.compile(r"^/v1/namespaces/[^/]+$"), "namespace"),
    (re.compile(r"^/v1/namespaces$"), "namespaces"),
]


def route_of(method: str, path: str) -> str:
    path = path.split("?", 1)[0]
    for pattern, name in _ROUTE_RE:
        if pattern.match(path):
            return f"{method} {name}"
    return f"{method} {path}"


class RequestLog(logging.Handler):
    """Collects the facade's per-request log line and closes each request's
    server span, adopting the catalog/FileIO spans its thread recorded."""

    def __init__(self, tracer: Tracer):
        super().__init__(logging.INFO)
        self.tracer = tracer
        self.routes: dict[str, dict] = {}

    def emit(self, record: logging.LogRecord) -> None:
        # logging.Handler.handle holds this handler's lock around emit()
        if record.getMessage() != "request":
            return
        route = route_of(record.method, record.path)
        ms = float(record.latency_ms)
        r = self.routes.setdefault(route, {"requests": 0, "server_ms": 0.0})
        r["requests"] += 1
        r["server_ms"] += ms
        if self.tracer.enabled:
            end = time.perf_counter()
            root = self.tracer.add(
                "server", end - ms / 1e3, end, rid=record.requestID, route=route
            )
            for s in self.tracer.take_roots():
                s["parent"] = root["id"]
                s["rid"] = record.requestID


def timed_catalog(catalog, tracer: Tracer, counters: dict, lock: threading.Lock):
    """Wrap the catalog's load_table / update_table on the instance so the
    server counts commits and compare-and-swap losses and spans both calls."""
    from iceberg_rest_catalog_spark.catalog import errors as E

    load, update = catalog.load_table, catalog.update_table

    def load_table(ident):
        with tracer.span("catalog.load_table"):
            return load(ident)

    def update_table(ident, requirements, updates):
        with tracer.span("catalog.update_table"):
            try:
                out = update(ident, requirements, updates)
            except E.CommitFailedException:
                with lock:
                    counters["cas_conflicts"] += 1
                raise
        with lock:
            counters["commits"] += 1
        return out

    catalog.load_table, catalog.update_table = load_table, update_table


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--warehouse", required=True)
    p.add_argument("--ready-file", required=True)
    p.add_argument("--stats-file", required=True)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)

    from iceberg_rest_catalog_spark.catalog import Catalog
    from iceberg_rest_catalog_spark.catalog.fileio import LocalFileIO
    from iceberg_rest_catalog_spark.catalog.rest import LOG, serve

    tracer = Tracer(bool(args.trace))
    fio = counting_fileio(LocalFileIO(), tracer)
    catalog = Catalog(args.warehouse, fileio=fio)
    counters = {"commits": 0, "cas_conflicts": 0}
    timed_catalog(catalog, tracer, counters, threading.Lock())

    log = RequestLog(tracer)
    LOG.addHandler(log)
    LOG.setLevel(logging.INFO)
    LOG.propagate = False

    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    signal.signal(signal.SIGINT, lambda *_: stop.set())

    parent = os.getppid()
    srv, url = serve(catalog)
    tmp = args.ready_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(url)
    os.replace(tmp, args.ready_file)
    try:
        # A client that died without stopping the server leaves it
        # re-parented: exit then too.
        while not stop.wait(0.2) and os.getppid() == parent:
            pass
    finally:
        srv.shutdown()
        srv.server_close()
        with open(args.stats_file, "w") as f:
            json.dump(
                {
                    "catalog": counters,
                    "fileio": fio.snapshot(),
                    "routes": log.routes,
                    "spans": tracer.spans,
                },
                f,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
