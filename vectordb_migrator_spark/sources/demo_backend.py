"""File-backed demo backend — an in-process stand-in for a vector-DB
server with the qdrant-client call surface the adapters speak.

Why it ships IN the package (not tests/): the reference validates its
adapters exclusively against mocked clients (its CI has no live
server either), and this engine's connector layer deserves the same
treatment at BENCH scale — ``bench.py`` drives a full
``format("qdrant")`` write + partition-planned scan through this
backend at sf0.1 row counts, so the Python DataSource machinery
(batching, cursor segmentation, Arrow boundaries) has throughput
evidence, not just 25-point correctness tests. It is also the demo /
development backend for users without a server.

Storage model: one directory per store; each ``upsert`` call writes
an immutable JSONL segment file plus a ``.count`` sidecar (written
AFTER the data file — a reader that sees the sidecar sees complete
data; no cross-process append coordination). ``scroll`` serves the
concatenation of segment files in sorted-name order under integer
cursors, seeking via the sidecar index so a page read touches only
its own segment files — that keeps the driver's segmentation pre-pass
and per-partition scans O(bytes read), not O(collection) per page.
Filtered or shard-keyed scrolls fall back to a materialize-and-slice
path (correct for the modest collections those tests use; the bench
path passes no filter).

Cited reference behavior: mocked-client adapter tests
(``tests/test_qdrant_adapter.py``), scroll/upsert surface
(``adapters/qdrant.py:60-247``).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from itertools import islice
from types import SimpleNamespace
from typing import Any


def _seg_id() -> str:
    """Monotonic-then-unique segment id. Readers merge segments in
    sorted-NAME order, and upsert semantics ("last write for an id
    wins", Pinecone ``_all``) require that order to be WRITE order —
    a bare ``uuid4().hex`` name sorts randomly, so a later upsert of
    an existing id could lose to an earlier segment. A zero-padded
    wall-clock-ns prefix makes sorted order = commit order (same
    machine ⇒ one clock); the uuid suffix keeps concurrent writer
    tasks collision-free."""
    return f"{time.time_ns():020d}.{uuid.uuid4().hex}"


class DemoQdrantClient:
    """Qdrant-surface demo client over a ``store_dir`` directory.

    ``connection`` keys: ``store_dir`` (required), everything else
    ignored — mirroring how the real client takes url/api_key."""

    def __init__(self, connection: dict[str, Any]):
        self.store = connection.get("store_dir", "/tmp/demo_qdrant")
        os.makedirs(self.store, exist_ok=True)
        self._index_cache: dict[str, list[tuple[str, int]]] = {}

    # -- collection DDL -------------------------------------------------

    def _cfg(self, name: str) -> str:
        return f"{self.store}/{name}.config.json"

    def collection_exists(self, name: str) -> bool:
        return os.path.exists(self._cfg(name))

    def create_collection(self, collection_name: str, vectors_config) -> None:
        with open(self._cfg(collection_name), "w") as f:
            json.dump(vectors_config, f)

    def delete_collection(self, name: str) -> None:
        if os.path.exists(self._cfg(name)):
            os.remove(self._cfg(name))
        for f in os.listdir(self.store):
            if f.startswith(f"{name}.points."):
                os.remove(f"{self.store}/{f}")
        self._index_cache.pop(name, None)

    def get_collection(self, name: str):
        with open(self._cfg(name)) as f:
            return json.load(f)

    # -- write ----------------------------------------------------------

    def upsert(
        self, collection_name: str, points, shard_key_selector=None
    ) -> None:
        """One immutable segment per call: data file first, sidecar
        count after — readers that trust sidecars never see a torn
        segment."""
        seg = f"{collection_name}.points.{_seg_id()}"
        path = f"{self.store}/{seg}.jsonl"
        ids = []
        with open(path, "w") as f:
            for p in points:
                rec = dict(p)
                if shard_key_selector is not None:
                    rec["shard_key"] = shard_key_selector
                f.write(json.dumps(rec) + "\n")
                ids.append(rec["id"])
        # ids sidecar serves id-only scrolls (the driver's cursor-
        # segmentation pre-pass) without parsing vector payload bytes
        with open(f"{path}.ids", "w") as f:
            json.dump(ids, f)
        with open(f"{path}.count", "w") as f:
            f.write(str(len(ids)))

    # -- read -----------------------------------------------------------

    def _index(self, name: str) -> list[tuple[str, int]]:
        """(segment path, row count) in sorted-name order; only
        segments whose sidecar exists (complete writes)."""
        got = self._index_cache.get(name)
        if got is not None:
            return got
        out = []
        for f in sorted(os.listdir(self.store)):
            if f.startswith(f"{name}.points.") and f.endswith(".jsonl"):
                path = f"{self.store}/{f}"
                cnt = f"{path}.count"
                if os.path.exists(cnt):
                    with open(cnt) as cf:
                        out.append((path, int(cf.read())))
        self._index_cache[name] = out
        return out

    @staticmethod
    def _point(rec: dict, with_payload: bool, with_vectors: bool):
        return SimpleNamespace(
            id=rec["id"],
            vector=rec.get("vector") if with_vectors else None,
            payload=dict(rec.get("payload") or {}) if with_payload else {},
        )

    @staticmethod
    def _filtered(pts: list, flt) -> list:
        """The must/must_not DSL subset the predicate translator
        emits, evaluated with the live server's semantics."""
        if not flt:
            return pts
        for cond in flt.get("must", []):
            if "has_id" in cond:
                ids = set(cond["has_id"])
                pts = [p for p in pts if p.id in ids]
            elif "value" in cond.get("match", {}):
                k, v = cond["key"], cond["match"]["value"]
                pts = [p for p in pts if p.payload.get(k) == v]
            elif "any" in cond.get("match", {}):
                k, vs = cond["key"], cond["match"]["any"]
                pts = [p for p in pts if p.payload.get(k) in vs]
        for cond in flt.get("must_not", []):
            if "value" in cond.get("match", {}):
                k, v = cond["key"], cond["match"]["value"]
                pts = [p for p in pts if p.payload.get(k) != v]
        return pts

    def scroll(
        self,
        collection_name: str,
        limit: int,
        offset=None,
        with_payload: bool = True,
        with_vectors: bool = True,
        scroll_filter=None,
        shard_key_selector=None,
    ):
        start = int(offset or 0)
        if scroll_filter or shard_key_selector is not None:
            # materialize-and-slice fallback (small filtered scans). The
            # filter sees the full record and only the page is projected
            # to the requested fields, as on a live server — an id-only
            # scroll must still match payload conditions.
            full = []
            for path, _ in self._index(collection_name):
                with open(path) as f:
                    for line in f:
                        rec = json.loads(line)
                        if (
                            shard_key_selector is None
                            or rec.get("shard_key") == shard_key_selector
                        ):
                            full.append(self._point(rec, True, True))
            keep = self._filtered(full, scroll_filter)
            page = [
                SimpleNamespace(
                    id=p.id,
                    vector=p.vector if with_vectors else None,
                    payload=p.payload if with_payload else {},
                )
                for p in keep[start : start + limit]
            ]
            nxt = start + len(page)
            return page, (nxt if nxt < len(keep) else None)
        # indexed path: seek via sidecar counts, touching only the
        # segment files this page overlaps. An id-only scroll (the
        # driver's segmentation pre-pass sends with_payload=False,
        # with_vectors=False) serves from the ids sidecars, never
        # parsing vector bytes.
        ids_only = not with_vectors and not with_payload
        index = self._index(collection_name)
        total = sum(n for _, n in index)
        page: list = []
        pos = 0
        for path, n in index:
            if pos + n <= start + len(page):
                pos += n
                continue
            skip = start + len(page) - pos
            ids_file = f"{path}.ids"
            if ids_only and os.path.exists(ids_file):
                with open(ids_file) as f:
                    for i in json.load(f)[skip:]:
                        page.append(
                            SimpleNamespace(id=i, vector=None, payload={})
                        )
                        if len(page) >= limit:
                            break
            else:
                with open(path) as f:
                    for line in islice(f, skip, None):
                        page.append(
                            self._point(
                                json.loads(line), with_payload, with_vectors
                            )
                        )
                        if len(page) >= limit:
                            break
            pos += n
            if len(page) >= limit:
                break
        nxt = start + len(page)
        return page, (nxt if nxt < total else None)

    def count(self, collection_name: str, count_filter=None, exact: bool = True):
        if count_filter:
            pts = [
                self._point(json.loads(line), True, False)
                for path, _ in self._index(collection_name)
                for line in open(path)
            ]
            return SimpleNamespace(
                count=len(self._filtered(pts, count_filter))
            )
        return SimpleNamespace(
            count=sum(n for _, n in self._index(collection_name))
        )


def qdrant_demo_factory(connection: dict[str, Any]) -> DemoQdrantClient:
    """``client_factory`` import string:
    ``vectordb_migrator_spark.sources.demo_backend:qdrant_demo_factory``."""
    return DemoQdrantClient(connection)


class DemoMilvusServer:
    """Milvus-surface demo server over a ``store_dir`` directory —
    the file-backed twin of :class:`DemoQdrantClient` for the
    ``format("milvus")`` connector, so the columnar-insert +
    expr-pushdown + PK-residue-sharded scan path has BENCH-scale
    throughput evidence too (the mocked-client tests prove
    correctness on 12 rows; this carries the 60k-row round trip).

    Storage: a ``{name}.config.json`` schema file (collections are
    created via :func:`create_milvus_demo_collection` — the SINK
    performs no DDL, matching the reference) plus immutable JSONL
    segments per ``insert`` call with ``.count`` sidecars (a reader
    that sees the sidecar sees complete data). ``query`` evaluates
    the narrow expr dialect the engine actually emits — conjunctions
    of the non-negative PK-residue shard clause, ``field op literal``
    and ``field in [..]`` (the same contract the test fake documents;
    anything else raises rather than silently matching everything).
    """

    def __init__(self, connection: dict[str, Any]):
        self.store = connection.get("store_dir", "/tmp/demo_milvus")
        os.makedirs(self.store, exist_ok=True)

    def _cfg(self, name: str) -> str:
        return f"{self.store}/{name}.config.json"

    def has_collection(self, name: str) -> bool:
        return os.path.exists(self._cfg(name))

    def describe_collection(self, name: str) -> dict[str, Any]:
        with open(self._cfg(name)) as f:
            return json.load(f)

    # -- write ----------------------------------------------------------

    def insert(self, collection_name: str, data: list) -> None:
        seg = f"{self.store}/{collection_name}.seg.{_seg_id()}"
        with open(seg + ".jsonl", "w") as f:
            for rec in data:
                f.write(json.dumps(rec) + "\n")
        with open(seg + ".count", "w") as f:  # sidecar last = commit
            f.write(str(len(data)))

    # -- read -----------------------------------------------------------

    @staticmethod
    def _literal(tok: str):
        tok = tok.strip()
        if tok.startswith('"') and tok.endswith('"'):
            return tok[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        return float(tok) if "." in tok else int(tok)

    @classmethod
    def _eval_conjunct(cls, row: dict, part: str) -> bool:
        import math
        import re

        part = part.strip()
        while part.startswith("(") and part.endswith(")"):
            inner = part[1:-1].strip()
            # only strip when the parens actually wrap the whole clause
            depth = 0
            ok = True
            for ch in inner:
                depth += ch == "("
                depth -= ch == ")"
                if depth < 0:
                    ok = False
                    break
            if not ok:
                break
            part = inner
        m = re.match(
            r"^\(\((\w+) % (\d+)\) \+ (\d+)\) % (\d+) == (\d+)$", part
        ) or re.match(
            r"^\(\(\((\w+) % (\d+)\) \+ (\d+)\) % (\d+)\) == (\d+)$", part
        )
        if m:
            field = m.group(1)
            n1, add, n2, want = (int(g) for g in m.groups()[1:])
            v = row.get(field)
            if v is None:
                return False
            return int(math.fmod(int(math.fmod(v, n1)) + add, n2)) == want
        m = re.match(r"^(\w+) in \[(.*)\]$", part)
        if m:
            field, body = m.group(1), m.group(2)
            vals = (
                [cls._literal(t) for t in body.split(",")]
                if body.strip()
                else []
            )
            return row.get(field) is not None and row[field] in vals
        m = re.match(r"^(\w+) (==|!=|>=|<=|>|<) (.+)$", part)
        if m:
            field, op, lit = m.group(1), m.group(2), cls._literal(m.group(3))
            v = row.get(field)
            if v is None:
                return False
            return {
                "==": v == lit, "!=": v != lit, ">=": v >= lit,
                "<=": v <= lit, ">": v > lit, "<": v < lit,
            }[op]
        raise ValueError(f"demo milvus cannot evaluate conjunct: {part!r}")

    @staticmethod
    def _split_top_level_and(expr: str) -> list:
        """Split a boolean expr at ``and`` keywords that sit OUTSIDE
        string literals and parentheses, so a quoted literal that
        contains " and " (legal in the engine's escaped filter
        strings) is never split mid-literal (round-9 advice fix —
        the bare ``\\s+and\\s+`` regex failed closed on those)."""
        parts: list = []
        buf: list = []
        depth = 0
        quote = ""
        i, n = 0, len(expr)
        while i < n:
            ch = expr[i]
            if quote:
                buf.append(ch)
                if ch == "\\" and i + 1 < n:  # escaped char in literal
                    buf.append(expr[i + 1])
                    i += 2
                    continue
                if ch == quote:
                    quote = ""
            elif ch in ("'", '"'):
                quote = ch
                buf.append(ch)
            elif ch == "(":
                depth += 1
                buf.append(ch)
            elif ch == ")":
                depth -= 1
                buf.append(ch)
            elif (
                depth == 0
                and ch in " \t"
                and expr[i + 1 : i + 4].lower() == "and"
                and (i + 4 >= n or expr[i + 4] in " \t")
            ):
                parts.append("".join(buf))
                buf = []
                i += 4
                continue
            else:
                buf.append(ch)
            i += 1
        parts.append("".join(buf))
        return [p.strip() for p in parts if p.strip()]

    def query(
        self,
        collection_name: str,
        filter: str = "",
        output_fields: list | None = None,
        limit: int | None = None,
    ) -> list:
        import glob as _glob

        rows: list[dict] = []
        for seg in sorted(
            _glob.glob(f"{self.store}/{collection_name}.seg.*.jsonl")
        ):
            if not os.path.exists(seg[: -len(".jsonl")] + ".count"):
                continue  # uncommitted segment
            with open(seg) as f:
                for line in f:
                    rows.append(json.loads(line))
        if filter:
            for part in self._split_top_level_and(filter):
                rows = [r for r in rows if self._eval_conjunct(r, part)]
        if limit is not None:
            rows = rows[:limit]
        return [
            {k: r.get(k) for k in (output_fields or r)} for r in rows
        ]


def create_milvus_demo_collection(
    store_dir: str, name: str, schema_info: dict[str, Any]
) -> None:
    """Driver-side DDL for the demo server (the sink itself refuses
    DDL, matching the reference's adapters/milvus.py:155-158)."""
    os.makedirs(store_dir, exist_ok=True)
    with open(f"{store_dir}/{name}.config.json", "w") as f:
        json.dump(schema_info, f)


def milvus_demo_factory(connection: dict[str, Any]) -> DemoMilvusServer:
    """``client_factory`` entry point for config/option wiring."""
    return DemoMilvusServer(connection)


class _DemoPineconeIndex:
    def __init__(self, store: str, name: str):
        self.store = store
        self.name = name
        # one materialization per reader task: list() then page-wise
        # fetch() must not re-parse every segment per page
        self._cache: dict[str, dict] = {}

    def _seg_glob(self, namespace: str) -> str:
        ns = namespace or "default"
        return f"{self.store}/{self.name}.{ns}.seg.*"

    def upsert(self, vectors: list, namespace: str = "") -> None:
        self._cache.pop(namespace or "", None)
        self._cache.pop(namespace or "default", None)
        self._cache.clear()  # any cached view may now be stale
        ns = namespace or "default"
        seg = f"{self.store}/{self.name}.{ns}.seg.{_seg_id()}"
        with open(seg + ".jsonl", "w") as f:
            for rec in vectors:
                f.write(json.dumps(rec) + "\n")
        with open(seg + ".count", "w") as f:  # sidecar last = commit
            f.write(str(len(vectors)))

    def _all(self, namespace: str) -> dict:
        import glob as _glob

        if namespace in self._cache:
            return self._cache[namespace]
        out: dict[str, dict] = {}
        # sorted segment order -> deterministic; within one segment,
        # later lines win (upsert semantics: last write for an id)
        for seg in sorted(_glob.glob(self._seg_glob(namespace) + ".jsonl")):
            if not os.path.exists(seg[: -len(".jsonl")] + ".count"):
                continue
            with open(seg) as f:
                for line in f:
                    rec = json.loads(line)
                    out[str(rec["id"])] = rec
        self._cache[namespace] = out
        return out

    def list(self, prefix=None, namespace: str = "", limit: int = 100):
        ids = sorted(
            i
            for i in self._all(namespace)
            if prefix is None or i.startswith(prefix)
        )
        for i in range(0, len(ids), limit):
            yield ids[i : i + limit]

    def fetch(self, ids: list, namespace: str = "") -> dict:
        allrecs = self._all(namespace)
        return {
            "vectors": {
                i: {
                    "values": allrecs[i].get("values") or [],
                    "metadata": allrecs[i].get("metadata") or {},
                }
                for i in ids
                if i in allrecs
            }
        }


class DemoPineconeClient:
    """Pinecone-surface demo client over a ``store_dir`` directory —
    the file-backed twin of :class:`DemoQdrantClient` for the
    ``format("pinecone")`` connector: idempotent-by-id upsert
    segments with commit sidecars, SORTED ``list()`` id pages with
    prefix filtering (the lexicographic contract the id-watermark
    stream reader leans on), and ``fetch``-by-id pages — so the
    prefix-partitioned scan + batched upsert path gets bench-scale
    throughput evidence (the mocked-client tests prove correctness
    on toy counts)."""

    def __init__(self, connection: dict[str, Any]):
        self.store = connection.get("store_dir", "/tmp/demo_pinecone")
        os.makedirs(self.store, exist_ok=True)

    def _cfg(self, name: str) -> str:
        return f"{self.store}/{name}.index.json"

    def list_indexes(self) -> list[str]:
        return [
            f[: -len(".index.json")]
            for f in sorted(os.listdir(self.store))
            if f.endswith(".index.json")
        ]

    def create_index(self, name: str, dimension: int, metric: str = "cosine", **_):
        with open(self._cfg(name), "w") as f:
            json.dump({"name": name, "dimension": dimension, "metric": metric}, f)

    def describe_index(self, name: str) -> dict:
        with open(self._cfg(name)) as f:
            return json.load(f)

    def Index(self, name: str) -> _DemoPineconeIndex:  # noqa: N802 — client API
        return _DemoPineconeIndex(self.store, name)


def pinecone_demo_factory(connection: dict[str, Any]) -> DemoPineconeClient:
    """``client_factory`` entry point for config/option wiring."""
    return DemoPineconeClient(connection)
