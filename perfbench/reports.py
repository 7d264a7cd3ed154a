"""Reports over the runs stored in ``.perfbench/results/``.

``overhead``: the tracing overhead, as the difference between the medians of
traced and untraced runs of one workload on each end-to-end metric.

``explain``: for each query of a Spark workload, the run-to-run spread of its
wall time across stored traced runs, and how well each Spark counter of the
query (GC time, spill, job / task counts, ...) tracks that spread.  The run's
drift-control time is compared too: a spread that tracks it is the host or
JVM slowing every query, not a mechanism of the query itself.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


def _load(results: str, workload: str, trace: int) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(results, workload, f"*-trace{trace}.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def overhead(results: str, workload: str) -> int:
    plain, traced = _load(results, workload, 0), _load(results, workload, 1)
    if not plain or not traced:
        print(f"need stored traced and untraced runs of {workload}: have "
              f"{len(traced)} traced, {len(plain)} untraced")
        return 1
    print(f"{workload}: {len(plain)} untraced, {len(traced)} traced runs (medians)")
    for name in plain[0]["e2e"]:
        a = statistics.median(r["e2e"][name]["value"] for r in plain)
        b = statistics.median(r["e2e"][name]["value"] for r in traced)
        unit = plain[0]["e2e"][name]["unit"]
        print(f"  {name:<14} untraced {a:12.4f} traced {b:12.4f} {unit:<4} "
              f"overhead {b - a:+.4f} ({(b - a) / a:+.1%})")
    return 0


#: Counters compared against a query's wall time.
COUNTERS = [
    ("gc_s", ("build", "gc_s"), ("exec", "gc_s")),
    ("spill_bytes", ("build", "spill_bytes"), ("exec", "spill_bytes")),
    ("jobs", ("build", "jobs"), ("exec", "jobs")),
    ("tasks", ("build", "tasks"), ("exec", "tasks")),
    ("task_run_s", ("build", "task_run_s"), ("exec", "task_run_s")),
    ("shuffle_bytes", ("build", "shuffle_read_bytes"), ("exec", "shuffle_read_bytes")),
    ("control_s", (None, "control_s")),
]


def explain(results: str, workload: str) -> int:
    runs = _load(results, workload, 1)
    per_query: dict[str, list[dict]] = {}
    for r in runs:
        control = sum(r["fields"]["controls"].values())
        for s in r.get("details", {}).get("samples", []):
            if "build_s" in s and "build" in s:
                per_query.setdefault(s["query"], []).append({**s, "control_s": control})
    if not per_query:
        print(f"no stored traced runs of {workload}")
        return 1
    print(f"{workload}: {len(runs)} traced runs")
    for q, samples in sorted(per_query.items()):
        wall = [s["build_s"] + s["exec_s"] for s in samples]
        med = statistics.median(wall)
        print(f"{q}: n={len(wall)} wall min {min(wall):.2f} median {med:.2f} "
              f"max {max(wall):.2f} s (spread {(max(wall) - min(wall)) / med:.0%})")
        if len(wall) < 3:
            continue
        found = []
        for name, *parts in COUNTERS:
            xs = [sum(s[ph][k] if ph else s[k] for ph, k in parts) for s in samples]
            if len(set(xs)) == 1:
                print(f"    {name:<14} constant at {xs[0]:g}: does not explain the spread")
                continue
            r = statistics.correlation(xs, wall)
            print(f"    {name:<14} {min(xs):g}..{max(xs):g}  correlation with wall {r:+.2f}")
            if abs(r) >= 0.7:
                found.append(name)
        print(f"    => {'explained by ' + ', '.join(found) if found else 'no counter explains the spread'}")
    return 0
