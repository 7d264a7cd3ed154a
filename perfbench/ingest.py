"""The ``catalog-ingest`` workload: a REST catalog server process over a fresh
fs warehouse, and one client process (this one) running four threads, each
doing a fixed, seeded number of operations:

* an appender: seeded fixed-size micro-batches through
  ``Table.append(retries=)`` on the hot table, via ``RestCatalog``;
* a scanner: ``load_table`` + ``plan_files`` + a count of the hot table at
  its current snapshot;
* two metadata clients: a seeded, skewed mix of mostly ``load_table``, plus
  list / namespace reads and property and schema-evolution commits (the
  reference's shapes) on the hot table and on cold tables.  A commit that
  loses the compare-and-swap reloads and retries.

The amount of work is fixed by ``--seconds`` (``work``), not by how fast
the program runs, so the metadata a run leaves behind (snapshot log,
metadata log, schema list) is the same size whatever the program's speed;
the window ends when the last thread is done.

After the window the run checks four invariants: the hot table's row count
equals the rows of all acknowledged appends; every acknowledged commit is in
the final metadata; the final property values are the last acknowledged
writes; scanner counts never decreased.
"""

from __future__ import annotations

import os
import random
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request

from harness import HERE, Run, note_tail, start_spark, time_controls
from measure import counting_fileio, p50, peak_rss_mb, self_times
from metrics import per_layer_values

NS = ("bench",)
HOT = NS + ("hot",)
COLD = [NS + (f"cold_{i}",) for i in range(4)]
COLD_WEIGHTS = [8, 4, 2, 1]
#: Share of metadata-client operations aimed at the hot table.
HOT_SHARE = 0.8
BATCH_ROWS = 2000
APPEND_RETRIES = 8
COMMIT_ATTEMPTS = 8
SETUP_REPS = 3

#: Operations per second of ``--seconds``, per thread: about the rates of
#: a 4-core host, so a run takes roughly ``--seconds``.
APPENDS_PER_S = 2.5
SCANS_PER_S = 1.5
META_OPS_PER_S = 90

#: Metadata-client op mix (weights): mostly table loads.
MIX = [
    ("load_table", 64),
    ("list_tables", 8),
    ("list_namespaces", 4),
    ("load_namespace", 4),
    ("commit_properties", 12),
    ("commit_schema", 8),
]
PROPERTY_KEYS = ("description", "owner", "new_prop")


def work(per_s: float, seconds: int) -> int:
    """Operations a thread does in a run of ``seconds``."""
    return max(1, round(per_s * seconds))


class RetryExhausted(Exception):
    pass


def commit_with_retry(attempt, reload, attempts: int = COMMIT_ATTEMPTS):
    """Run ``attempt()`` until it does not lose the compare-and-swap.

    A CAS loss (``CommitFailedException``) calls ``reload()`` and tries
    again, at most ``attempts`` times in all; returns (result, retries)."""
    from iceberg_rest_catalog_spark.catalog.errors import CommitFailedException

    for i in range(attempts):
        try:
            return attempt(), i
        except CommitFailedException:
            if i == attempts - 1:
                raise RetryExhausted(f"lost the compare-and-swap {attempts} times")
            reload()


class Server:
    """The REST facade in its own process (perfbench/server.py)."""

    def __init__(self, run: Run, name: str):
        base = os.path.join(run.dir, name)
        os.makedirs(base)
        self.warehouse = os.path.join(base, "warehouse")
        self.ready = os.path.join(base, "ready")
        self.stats_file = os.path.join(base, "stats.json")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), "--warehouse", self.warehouse,
             "--ready-file", self.ready, "--stats-file", self.stats_file,
             "--trace", str(int(run.trace))],
        )
        run.on_exit(self.stop)
        deadline = time.monotonic() + 60
        while not os.path.exists(self.ready):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError("REST server did not start")
            time.sleep(0.02)
        with open(self.ready) as f:
            self.url = f.read()

    def stop(self) -> dict | None:
        """Terminate and wait; return the server's counters (once)."""
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)
        if not os.path.exists(self.stats_file):
            return None
        import json

        with open(self.stats_file) as f:
            return json.load(f)


def micro_batch(spark, seed: int, b: int):
    """Batch ``b`` of the appender: BATCH_ROWS rows derived from the seed."""
    from pyspark.sql import functions as F

    ids = spark.range(b * BATCH_ROWS, (b + 1) * BATCH_ROWS, numPartitions=1)
    h = F.xxhash64(F.lit(seed), F.col("id"))
    return ids.select(
        F.col("id"),
        F.concat(F.lit("user-"), F.pmod(h, F.lit(100_000)).cast("string")).alias("name"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.pmod(h, F.lit(30 * 86_400)))
        .cast("timestamp_ntz")
        .alias("created_at"),
    )


def create_tables(cat) -> None:
    """The reference's fixture shapes: one namespace, tables of one schema."""
    from iceberg_rest_catalog_spark.catalog import NestedField, Schema

    schema = Schema(0, [
        NestedField(1, "id", "long", required=True),
        NestedField(2, "name", "string"),
        NestedField(3, "created_at", "timestamp"),
    ])
    cat.create_namespace(NS, {"description": "Test namespace", "owner": "test_user"})
    for ident in [HOT] + COLD:
        cat.create_table(ident, schema)


class Client:
    """The client process's catalog handle and everything its threads record."""

    def __init__(self, run: Run, spark, server: Server):
        from iceberg_rest_catalog_spark.catalog import RestCatalog
        from iceberg_rest_catalog_spark.catalog.fileio import LocalFileIO

        self.run = run
        self.spark = spark
        self.fio = counting_fileio(LocalFileIO(), run.tracer)
        self.cat = RestCatalog(server.url, server.warehouse, fileio=self.fio)
        self.lock = threading.Lock()
        self.commits = threading.local()
        self.ops: list[tuple[str, float, bool]] = []
        self.appends: list[dict] = []
        self.scans: list[dict] = []
        self.acked_props: dict[tuple, tuple[int, str]] = {}
        self.acked_schemas: list[tuple[tuple, int]] = []
        self.retries = 0
        self.meta_end = 0.0
        self.errors: list[str] = []
        self.violations: list[str] = []
        self._time_commits()

    def _time_commits(self) -> None:
        """Span, count and time (per thread) every ``update_table`` call: the
        commit RPC that ``Table.append`` makes once per attempt."""
        update, tracer, local = self.cat.update_table, self.run.tracer, self.commits

        def update_table(ident, requirements, updates):
            t0 = time.perf_counter()
            if not getattr(local, "n", 0):
                local.first = t0
            try:
                with tracer.span("commit"):
                    return update(ident, requirements, updates)
            finally:
                local.n = getattr(local, "n", 0) + 1
                local.s = getattr(local, "s", 0.0) + time.perf_counter() - t0

        self.cat.update_table = update_table

    # -- threads --------------------------------------------------------------
    def appender(self, batches: int, seed: int) -> None:
        tbl = self.cat.load_table(HOT)
        for b in range(batches):
            df = micro_batch(self.spark, seed, b)
            self.commits.n, self.commits.s = 0, 0.0
            t0 = time.perf_counter()
            try:
                with self.run.tracer.span("append", rid=f"append#{b}") as span:
                    tbl = tbl.append(df, retries=APPEND_RETRIES)
                # the data-file write is everything before the first commit
                self.run.tracer.add("write", t0, self.commits.first, parent=span)
                ok = True
            except Exception as exc:
                ok = False
                self.errors.append(f"append {b}: {type(exc).__name__}: {exc}")
                tbl = self.cat.load_table(HOT)
            dt = time.perf_counter() - t0
            with self.lock:
                self.retries += max(self.commits.n - 1, 0)
                self.appends.append({
                    "s": dt, "ok": ok, "commit_s": self.commits.s, "rows": BATCH_ROWS,
                    "snapshot": tbl.metadata.get("current-snapshot-id") if ok else None,
                })

    def scanner(self, scans: int) -> None:
        last = 0
        for i in range(scans):
            t0 = time.perf_counter()
            try:
                with self.run.tracer.span("scan", rid=f"scan#{i}"):
                    with self.run.tracer.span("plan"):
                        tbl = self.cat.load_table(HOT)
                        tbl.plan_files()
                    t1 = time.perf_counter()
                    with self.run.tracer.span("count"):
                        n = tbl.df(self.spark).count()
                t2 = time.perf_counter()
            except Exception as exc:
                self.errors.append(f"scan {i}: {type(exc).__name__}: {exc}")
                with self.lock:
                    self.scans.append({"ok": False})
                continue
            if n < last:
                self.violations.append(f"scanner count fell from {last} to {n}")
            last = n
            with self.lock:
                self.scans.append({"ok": True, "plan_s": t1 - t0, "exec_s": t2 - t1, "rows": n})

    def metadata_client(self, ops: int, seed: int, k: int) -> None:
        rng = random.Random(f"{seed}:{k}")
        kinds = [m for m, _ in MIX]
        weights = [w for _, w in MIX]
        for i in range(ops):
            kind = rng.choices(kinds, weights)[0]
            ident = HOT if rng.random() < HOT_SHARE else rng.choices(COLD, COLD_WEIGHTS)[0]
            t0 = time.perf_counter()
            try:
                with self.run.tracer.span("catalog_op", rid=f"meta{k}#{i}", op=kind):
                    self._op(kind, ident, rng, f"c{k}-{i}")
                ok = True
            except Exception as exc:
                ok = False
                self.errors.append(f"{kind} {ident}: {type(exc).__name__}: {exc}")
            with self.lock:
                self.ops.append((kind, time.perf_counter() - t0, ok))
        with self.lock:
            self.meta_end = max(self.meta_end, time.perf_counter())

    def _op(self, kind: str, ident: tuple, rng: random.Random, value: str) -> None:
        cat = self.cat
        if kind == "load_table":
            cat.load_table(ident)
        elif kind == "list_tables":
            cat.list_tables(NS)
        elif kind == "list_namespaces":
            cat.list_namespaces()
        elif kind == "load_namespace":
            cat.load_namespace(NS)
        elif kind == "commit_properties":
            key = rng.choice(PROPERTY_KEYS)
            tbl, retries = commit_with_retry(
                lambda: cat.update_table(
                    ident, [], [{"action": "set-properties", "updates": {key: value}}]
                ),
                lambda: cat.load_table(ident),
            )
            with self.lock:
                self.retries += retries
                prev = self.acked_props.get((ident, key))
                if prev is None or prev[0] < tbl.version:
                    self.acked_props[(ident, key)] = (tbl.version, value)
        elif kind == "commit_schema":
            state = {"tbl": cat.load_table(ident)}

            def evolve():
                t = state["tbl"]
                if "updated_at" in t.schema().field_names():
                    return t.evolve_schema(drops=["updated_at"])
                return t.evolve_schema(adds=[("updated_at", "timestamp")])

            tbl, retries = commit_with_retry(
                evolve, lambda: state.__setitem__("tbl", cat.load_table(ident))
            )
            with self.lock:
                self.retries += retries
                self.acked_schemas.append((ident, tbl.metadata["current-schema-id"]))

    # -- invariants -------------------------------------------------------------
    def check(self) -> None:
        final = self.cat.load_table(HOT)
        acked = [a for a in self.appends if a["ok"]]
        rows = final.df(self.spark).count()
        want = sum(a["rows"] for a in acked)
        if rows != want:
            self.violations.append(f"hot table has {rows} rows, acknowledged appends {want}")
        log = {s["snapshot-id"] for s in final.history()}
        lost = [a["snapshot"] for a in acked if a["snapshot"] not in log]
        if lost:
            self.violations.append(f"acknowledged snapshots missing from the log: {lost}")
        tables = {ident: self.cat.load_table(ident) for ident in [HOT] + COLD}
        for ident, sid in self.acked_schemas:
            if sid not in {s["schema-id"] for s in tables[ident].metadata["schemas"]}:
                self.violations.append(f"acknowledged schema {sid} of {ident} is missing")
        for (ident, key), (_v, value) in self.acked_props.items():
            have = tables[ident].properties().get(key)
            if have != value:
                self.violations.append(f"{ident} {key}={have!r}, last acknowledged {value!r}")


def trace_client_requests(tracer) -> None:
    """Span every REST request of this process and tag it with the server's
    request id (echoed in ``X-Request-ID``), so client and server spans of
    one request pair up."""
    original = urllib.request.urlopen

    def urlopen(req, *a, **k):
        with tracer.span("client_request", method=req.get_method()) as s:
            try:
                resp = original(req, *a, **k)
            except urllib.error.HTTPError as exc:
                s["rid"] = exc.headers.get("X-Request-ID")
                raise
            s["rid"] = resp.headers.get("X-Request-ID")
            return resp

    urllib.request.urlopen = urlopen


def tree_bytes(root: str, kind: str) -> tuple[int, int]:
    """Files and bytes under every ``kind`` ("metadata" or "data") directory."""
    files = size = 0
    for dp, _dn, fns in os.walk(root):
        if kind in dp.split(os.sep):
            for f in fns:
                files += 1
                size += os.path.getsize(os.path.join(dp, f))
    return files, size


def run_ingest(run: Run) -> dict:
    spark, start_s = start_spark(run)
    setups = []
    server = client = None
    for rep in range(SETUP_REPS):
        t_rep = time.perf_counter()
        if server is not None:
            server.stop()
        server = Server(run, f"server{rep}")
        client = Client(run, spark, server)
        create_tables(client.cat)
        client.cat.load_table(HOT).append(micro_batch(spark, run.seed, -1 - rep))
        client.cat.load_table(HOT).df(spark).count()
        setups.append(time.perf_counter() - t_rep)
    # the warm-up batch stays in the hot table: count it as acknowledged
    client.appends.append({"s": 0.0, "ok": True, "commit_s": 0.0, "rows": BATCH_ROWS,
                           "snapshot": client.cat.load_table(HOT).metadata["current-snapshot-id"],
                           "warm": True})
    setup_s = start_s + statistics.median(setups)
    run.fields["setup_reps_s"] = setups
    if run.trace:
        trace_client_requests(run.tracer)

    n_meta = work(META_OPS_PER_S, run.seconds)
    threads = [
        threading.Thread(target=client.appender, args=(work(APPENDS_PER_S, run.seconds), run.seed)),
        threading.Thread(target=client.scanner, args=(work(SCANS_PER_S, run.seconds),)),
        threading.Thread(target=client.metadata_client, args=(n_meta, run.seed, 1)),
        threading.Thread(target=client.metadata_client, args=(n_meta, run.seed, 2)),
    ]
    window_start = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    window_s = time.perf_counter() - window_start
    # requests per second of the metadata clients' own time
    meta_s = client.meta_end - window_start

    client.check()
    run.fields["controls"] = time_controls(run, spark)
    run.fields["peak_rss_mb"] = {
        "python": peak_rss_mb(os.getpid()),
        "jvm": peak_rss_mb(run.jvm_pid),
        "server": peak_rss_mb(server.proc.pid),
    }
    rss = sum(run.fields["peak_rss_mb"].values())
    meta_files, meta_bytes = tree_bytes(server.warehouse, "metadata")
    data_files, data_bytes = tree_bytes(server.warehouse, "data")
    stats = server.stop() or {}

    appends = [a for a in client.appends if not a.get("warm")]
    ok_appends = [a for a in appends if a["ok"]]
    ok_ops = [(k, s) for k, s, ok in client.ops if ok]
    loads = [s for k, s in ok_ops if k == "load_table"]
    commits = [s for k, s in ok_ops if k.startswith("commit_")]
    scans = [s for s in client.scans if s["ok"]]
    failed = (
        sum(1 for *_x, ok in client.ops if not ok)
        + sum(1 for a in appends if not a["ok"])
        + sum(1 for s in client.scans if not s["ok"])
    )
    attempted = len(client.ops) + len(appends) + len(client.scans)
    acked_commits = len(ok_appends) + 1 + len(commits)

    run.note("setup_s", setup_s, "s", f"session {start_s:.2f} s + median of {SETUP_REPS} server set-ups")
    run.note("error_rate", failed / max(attempted, 1), "ratio", f"{failed}/{attempted} ops")
    run.note("peak_rss_mb", rss, "MB", "benchmark process + JVM + REST server")
    run.note("load_p50_ms", 1e3 * p50(loads), "ms", f"n={len(loads)}")
    note_tail(run, "load_tail_ms", loads, 1e3, "ms")
    run.note("commit_p50_ms", 1e3 * p50(commits), "ms", f"n={len(commits)}")
    note_tail(run, "commit_tail_ms", commits, 1e3, "ms")
    append_s = [a["s"] for a in ok_appends]
    run.note("append_p50_s", p50(append_s), "s", f"n={len(append_s)}")
    note_tail(run, "append_tail_s", append_s, 1.0, "s")
    run.note("scan_p50_s", p50([s["plan_s"] + s["exec_s"] for s in scans]), "s", f"n={len(scans)}")
    run.note("ops_per_s", len(ok_ops) / meta_s, "1/s",
             f"{len(ok_ops)} metadata requests, {meta_s:.1f} s of a {window_s:.1f} s window")
    stats_cat = stats.get("catalog", {})
    run.note("cas_loss_share", stats_cat.get("cas_conflicts", 0) / max(stats_cat.get("commits", 0), 1),
             "ratio", f"{stats_cat.get('cas_conflicts', 0)} compare-and-swap losses, "
             f"{stats_cat.get('commits', 0)} commits")
    run.note("meta_bytes_per_commit", meta_bytes / acked_commits, "bytes", f"{acked_commits} acknowledged commits")
    for v in client.violations:
        run.note("invariant_violated", None, "", v)
    for e in client.errors[:5]:
        run.note("error", None, "", e)

    e2e = {
        "setup_s": (setup_s, "s"),
        "op_ms": (1e3 * p50([s for _k, s in ok_ops]), "ms"),
        "ops_per_s": (len(ok_ops) / meta_s, "1/s"),
        "write_ms": (1e3 * p50(append_s), "ms"),
    }
    fio_client = client.fio.snapshot()
    fio_server = stats.get("fileio", {})
    routes = stats.get("routes", {})
    n_req = sum(r["requests"] for r in routes.values())
    layer = {
        "session.start_s": start_s,
        "mem.peak_rss_mb": rss,
        "catalog.commits": stats.get("catalog", {}).get("commits", 0),
        "catalog.cas_conflicts": stats.get("catalog", {}).get("cas_conflicts", 0),
        "catalog.retries": client.retries,
        "append.write_s": p50([a["s"] - a["commit_s"] for a in ok_appends]),
        "append.commit_ms": 1e3 * p50([a["commit_s"] for a in ok_appends]),
        "scan.plan_s": p50([s["plan_s"] for s in scans]),
        "scan.exec_s": p50([s["exec_s"] for s in scans]),
        "rest.requests": n_req,
        "rest.server_ms": sum(r["server_ms"] for r in routes.values()) / max(n_req, 1),
        "meta.files": meta_files,
        "meta.bytes": meta_bytes,
        "data.files": data_files,
        "data.bytes": data_bytes,
    }
    for k in ("reads", "writes", "lists", "deletes", "bytes_read", "bytes_written", "s"):
        layer[f"fileio.{k}"] = fio_client.get(k, 0) + fio_server.get(k, 0)
    if run.trace:
        server_spans = stats.get("spans", [])
        own = self_times(server_spans)
        calls = {n: sum(1 for s in server_spans if s["name"] == n)
                 for n in ("catalog.load_table", "catalog.update_table")}
        layer["catalog.load_table_ms"] = 1e3 * own.get("catalog.load_table", 0) / max(calls["catalog.load_table"], 1)
        layer["catalog.update_table_ms"] = 1e3 * own.get("catalog.update_table", 0) / max(calls["catalog.update_table"], 1)
        served = {s["rid"]: s["end"] - s["start"] for s in server_spans if s["name"] == "server"}
        wire = [s["end"] - s["start"] - served[s["rid"]]
                for s in run.tracer.spans if s["name"] == "client_request" and s.get("rid") in served]
        layer["rest.wire_ms"] = 1e3 * statistics.fmean(wire) if wire else 0.0
        run.tracer.spans.extend({**s, "process": "server"} for s in server_spans)
    run.fields["routes"] = routes
    return {
        "correct": not client.violations,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "per_layer": per_layer_values(layer),
        "details": {"window_s": window_s, "meta_s": meta_s, "errors": client.errors, "violations": client.violations,
                    "appends": appends, "scans": client.scans},
    }
