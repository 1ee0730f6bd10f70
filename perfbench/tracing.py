"""Benchmark-side tracing: spans, Spark event-log folding and timers
around the demo backend clients and the user transform.

Every span is opened by the benchmark's own code around a call into one
layer of the package. A span is kept in memory (name, parent, start,
end, engine key) and sets its own Spark job group, so Spark's event log
can be folded per span afterwards.

Code that runs on Python workers (demo client calls, the user transform)
cannot reach the tracer in the Spark driver process, so it appends one
line per call to a file ``calls.<pid>.log`` in the run's trace
directory; the benchmark reads those files once the run has ended.
Nothing here is imported unless the run is traced.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

# --------------------------------------------------------------- spans


@dataclass
class Span:
    sid: str
    name: str
    key: str  # which engine-metric bucket this span's Spark jobs fold into
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans for one traced run, one job group each."""

    sc: Any  # SparkContext
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    #: Spark job groups set outside our spans (a streaming query's run id)
    aliases: dict[str, str] = field(default_factory=dict)
    #: ``StreamingQuery.recentProgress`` of every traced stream
    stream_progress: list[dict] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, key: str | None = None):
        parent = self._stack[-1] if self._stack else None
        key = key or (parent.key if parent else name)
        sp = Span(f"span{len(self.spans)}", name, key,
                  parent.sid if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.sid, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].sid, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)


# ------------------------------------------------------ event log fold

_PY_RUN = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class EngineTotals:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    python_run_s: float = 0.0
    python_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "EngineTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def fold_event_log(path: str) -> dict[str, EngineTotals]:
    """Job group -> engine totals from one uncompressed, unrolled Spark
    event log. Only per-task values are used: the task's executor run
    time, shuffle bytes written, disk spill and the SQL accumulators for
    Python run time and bytes moved to and from Python workers. ("time
    to initialize Python workers" is not a per-task value and is not
    read.)"""
    stage_group: dict[int, str] = {}
    out: dict[str, EngineTotals] = defaultdict(EngineTotals)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group].jobs += 1
                for st in ev["Stage IDs"]:
                    stage_group[st] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                tot = out[group]
                tot.tasks += 1
                tm = ev.get("Task Metrics") or {}
                tot.executor_run_s += tm.get("Executor Run Time", 0) / 1e3
                tot.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                tot.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name == _PY_RUN:
                        # a SQL timing metric, in milliseconds
                        tot.python_run_s += int(acc.get("Update", 0)) / 1e3
                    elif name in _PY_BYTES:
                        tot.python_bytes += int(acc.get("Update", 0))
    return dict(out)


def event_log_file(log_dir: str) -> str:
    files = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    return files[0]


# ------------------------------------------- worker-side call records


def _record(trace_dir: str, *fields: Any) -> None:
    with open(f"{trace_dir}/calls.{os.getpid()}.log", "a") as f:
        f.write(" ".join(str(x) for x in fields) + "\n")


def read_records(trace_dir: str) -> list[list[str]]:
    rows = []
    for path in glob.glob(f"{trace_dir}/calls.*.log"):
        with open(path) as f:
            rows.extend(line.split() for line in f if line.strip())
    return rows


def _rows_out(call: str, result: Any) -> int:
    """Rows a demo server call returned (reads) — writes count rows in."""
    if call == "scroll":
        return len(result[0])
    if call == "query":
        return len(result)
    if call == "fetch":
        vecs = getattr(result, "vectors", None) or result["vectors"]
        return len(vecs)
    return 0


class _Timed:
    """Wraps one demo client object; times the data calls it names and
    passes every other attribute through."""

    _CALLS: dict[str, str] = {}

    def __init__(self, inner: Any, backend: str, trace_dir: str):
        self._inner = inner
        self._backend = backend
        self._trace_dir = trace_dir

    def __getattr__(self, name: str) -> Any:
        attr = getattr(self._inner, name)
        if name not in self._CALLS:
            return attr
        rows_in = self._CALLS[name]

        def timed(*args, **kwargs):
            t = time.perf_counter()
            result = attr(*args, **kwargs)
            dur = time.perf_counter() - t
            if not rows_in:
                rows = _rows_out(name, result)
            else:
                rows = len(kwargs[rows_in] if rows_in in kwargs else args[-1])
            _record(self._trace_dir, self._backend, name, rows, f"{dur:.6f}")
            return result

        return timed


class _TimedQdrant(_Timed):
    _CALLS = {"upsert": "points", "scroll": "", "count": ""}


class _TimedMilvus(_Timed):
    _CALLS = {"insert": "data", "query": ""}


class _TimedPineconeIndex(_Timed):
    _CALLS = {"upsert": "vectors", "fetch": ""}

    def list(self, *args, **kwargs):
        """``list`` is a generator of id pages: time each page."""
        pages = self._inner.list(*args, **kwargs)
        while True:
            t = time.perf_counter()
            try:
                page = next(pages)
            except StopIteration:
                return
            dur = time.perf_counter() - t
            _record(self._trace_dir, self._backend, "list", len(page), f"{dur:.6f}")
            yield page


class _TimedPinecone(_Timed):
    def Index(self, name: str):  # noqa: N802 - client API
        return _TimedPineconeIndex(self._inner.Index(name), self._backend,
                                   self._trace_dir)


def _demo(name: str):
    from vectordb_migrator_spark.sources import demo_backend

    return getattr(demo_backend, name)


def traced_qdrant_factory(connection: dict[str, Any]):
    """``client_factory`` for the Qdrant demo store with per-call timing;
    the connection carries ``trace_dir``. Importable as
    ``perfbench.tracing:traced_qdrant_factory`` on any worker."""
    return _TimedQdrant(_demo("qdrant_demo_factory")(connection), "qdrant",
                        connection["trace_dir"])


def traced_milvus_factory(connection: dict[str, Any]):
    return _TimedMilvus(_demo("milvus_demo_factory")(connection), "milvus",
                        connection["trace_dir"])


def traced_pinecone_factory(connection: dict[str, Any]):
    return _TimedPinecone(_demo("pinecone_demo_factory")(connection), "pinecone",
                          connection["trace_dir"])


class TimedTransform:
    """A user transform that records the time spent inside it."""

    def __init__(self, fn, trace_dir: str):
        self.fn = fn
        self.trace_dir = trace_dir

    def __call__(self, data):
        t = time.perf_counter()
        out = self.fn(data)
        _record(self.trace_dir, "transform", "fn", len(data),
                f"{time.perf_counter() - t:.6f}")
        return out
