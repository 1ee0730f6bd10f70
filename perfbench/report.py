"""Per-layer metrics of a traced run, folded from the benchmark's spans,
Spark's event log and the worker-side call records.

Every value is per timed pass (a total over the timed passes divided
by their number), except latency percentiles and ratios. A layer a
workload does not touch reports 0. The names, units and directions of
the metrics are those of ``per_layer`` in ``BENCHMARK.json``; the runner
checks that this module fills exactly those names.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.tracing import EngineTotals, Tracer

BACKENDS = ("qdrant", "milvus", "pinecone")
DEMO_CALLS = {
    "qdrant": ("upsert", "scroll", "count"),
    "milvus": ("insert", "query"),
    "pinecone": ("upsert", "list", "fetch"),
}
READ_CALLS = ("scroll", "query", "fetch")
OP_FAMILIES = ("dedup", "graph", "clustering", "similarity", "cleaning")


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    values = sorted(values)
    return values[min(len(values) - 1, int(q * len(values)))]


def per_layer(
    *,
    tracer: Tracer,
    groups: dict[str, EngineTotals],
    records: list[list[str]],
    kept_by_source: dict[str, int],
    pass_times: list[float],
    session_s: float,
    cpus: int,
    transform_keys: tuple[str, ...],
) -> dict[str, float]:
    """``kept_by_source``: rows the passes delivered from each
    backend read; ``transform_keys``: engine keys of migrations that ran
    the user transform."""
    n = len(pass_times)
    m: dict[str, float] = {}

    # engine totals by span key (a streaming query's job group is its run id)
    span_key = {s.sid: s.key for s in tracer.spans}
    span_key.update({run: span_key[sid] for run, sid in tracer.aliases.items()})
    by_key: dict[str, EngineTotals] = defaultdict(EngineTotals)
    everything = EngineTotals()
    for group, tot in groups.items():
        if group in span_key:
            by_key[span_key[group]].add(tot)
            everything.add(tot)

    m["session.get_spark_s"] = session_s
    m["pipeline.plan_s"] = tracer.total("pipeline.plan") / n
    m["pipeline.migrate_s"] = tracer.total("pipeline.migrate") / n
    migrations = tracer.count("pipeline.migrate")
    jobs = sum(t.jobs for k, t in by_key.items() if k.startswith("sources."))
    m["pipeline.jobs_per_migration"] = jobs / migrations if migrations else 0.0
    m["pipeline.stream_await_s"] = tracer.total("pipeline.stream_await") / n
    for b in BACKENDS + ("parquet",):
        m[f"sources.{b}.read_s"] = tracer.total(f"sources.{b}.read") / n
        m[f"sources.{b}.write_s"] = tracer.total(f"sources.{b}.write") / n
    for b in BACKENDS:
        t = EngineTotals()  # sink and scan migrations through b's connector
        for k, tot in by_key.items():
            if k.split("/")[0] == f"sources.{b}":
                t.add(tot)
        m[f"sources.{b}.tasks"] = t.tasks / n
        m[f"sources.{b}.executor_run_s"] = t.executor_run_s / n
        m[f"sources.{b}.python_run_s"] = t.python_run_s / n
        m[f"sources.{b}.python_bytes"] = t.python_bytes / n

    calls: dict[tuple[str, str], list[tuple[int, float]]] = defaultdict(list)
    for backend, call, rows, dur in records:
        calls[(backend, call)].append((int(rows), float(dur)))
    for b, names in DEMO_CALLS.items():
        returned, server_s = 0, 0.0
        for c in names:
            got = calls.get((b, c), [])
            ms = [d * 1e3 for _, d in got]
            m[f"demo.{b}.{c}.calls"] = len(got) / n
            m[f"demo.{b}.{c}.rows_per_call"] = (
                statistics.fmean(r for r, _ in got) if got else 0.0)
            m[f"demo.{b}.{c}.p50_ms"] = _pct(ms, 0.50)
            m[f"demo.{b}.{c}.p99_ms"] = _pct(ms, 0.99)
            server_s += sum(d for _, d in got) / n
            if c in READ_CALLS:
                returned += sum(r for r, _ in got)
        m[f"demo.{b}.server_s"] = server_s
        kept = kept_by_source.get(b)
        m[f"demo.{b}.rows_returned_per_row_kept"] = returned / kept if kept else 0.0
    m["transform.fn_s"] = sum(d for _, d in calls.get(("transform", "fn"), [])) / n
    m["transform.python_run_s"] = sum(
        by_key[k].python_run_s for k in transform_keys if k in by_key) / n

    for op in OP_FAMILIES:
        t = by_key.get(op, EngineTotals())
        m[f"{op}.build_s"] = tracer.total(f"{op}.build") / n
        m[f"{op}.exec_s"] = tracer.total(f"{op}.exec") / n
        m[f"{op}.jobs"] = t.jobs / n
        m[f"{op}.shuffle_bytes"] = t.shuffle_bytes / n
        m[f"{op}.spill_bytes"] = t.spill_bytes / n

    prog = tracer.stream_progress
    m["stream.batches"] = len(prog) / n
    m["stream.get_batch_ms"] = sum(
        p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0)
        for p in prog) / n
    m["stream.add_batch_ms"] = sum(p["durationMs"].get("addBatch", 0) for p in prog) / n

    m["spark.jobs"] = everything.jobs / n
    m["spark.tasks"] = everything.tasks / n
    m["spark.shuffle_bytes"] = everything.shuffle_bytes / n
    m["spark.spill_bytes"] = everything.spill_bytes / n
    m["spark.core_util"] = everything.executor_run_s / (sum(pass_times) * cpus)
    return m
