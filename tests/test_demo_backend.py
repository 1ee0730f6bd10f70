"""The package-shipped file-backed demo backend (round 8) — the
connector-bench workhorse: client-level contract tests plus a Spark
round trip through format("qdrant")."""

from __future__ import annotations

import os

from vectordb_migrator_spark.sources.demo_backend import (
    DemoQdrantClient,
    qdrant_demo_factory,
)

FACTORY = (
    "vectordb_migrator_spark.sources.demo_backend:qdrant_demo_factory"
)


def _mk(tmp_path, n=25, per_call=7):
    c = DemoQdrantClient({"store_dir": str(tmp_path)})
    c.create_collection("col", {"size": 2, "distance": "Cosine"})
    pts = [
        {"id": i, "vector": [float(i), 0.0], "payload": {"k": str(i % 3)}}
        for i in range(n)
    ]
    for i in range(0, n, per_call):
        c.upsert("col", pts[i : i + per_call])
    return DemoQdrantClient({"store_dir": str(tmp_path)}), pts


def test_scroll_pages_cover_every_point_across_segments(tmp_path):
    c, pts = _mk(tmp_path)
    got, offset = [], None
    while True:
        page, offset = c.scroll("col", limit=4, offset=offset)
        got += page
        if offset is None:
            break
    assert sorted(p.id for p in got) == [p["id"] for p in pts]
    by_id = {p.id: p for p in got}
    assert by_id[3].vector == [3.0, 0.0]
    assert by_id[3].payload == {"k": "0"}
    assert c.count("col").count == len(pts)


def test_offset_seek_matches_the_stable_global_order(tmp_path):
    """Cursor contract: integer offsets index ONE stable total order
    (sorted segment names × within-segment line order — not insertion
    order across parallel writers), so any page equals the full
    scan's slice."""
    c, _ = _mk(tmp_path, n=25, per_call=5)
    full = [p.id for p in c.scroll("col", limit=100)[0]]
    page, nxt = c.scroll("col", limit=5, offset=12)
    assert [p.id for p in page] == full[12:17]
    assert nxt == 17
    # tail page: next cursor is exhausted
    page, nxt = c.scroll("col", limit=100, offset=20)
    assert [p.id for p in page] == full[20:]
    assert nxt is None


def test_id_only_scroll_serves_from_ids_sidecar(tmp_path):
    """The segmentation pre-pass order (ids sidecars) must be the
    SAME total order as the data path — cursors planned id-only are
    redeemed against the jsonl files."""
    c, _ = _mk(tmp_path, n=10, per_call=4)
    full = [p.id for p in c.scroll("col", limit=100)[0]]
    page, nxt = c.scroll(
        "col", limit=6, offset=2, with_payload=False, with_vectors=False
    )
    assert [p.id for p in page] == full[2:8]
    assert all(p.vector is None and p.payload == {} for p in page)


def test_filtered_scroll_and_count(tmp_path):
    c, _ = _mk(tmp_path)
    flt = {"must": [{"key": "k", "match": {"value": "1"}}]}
    page, nxt = c.scroll("col", limit=100, scroll_filter=flt)
    assert all(p.payload["k"] == "1" for p in page)
    assert len(page) == c.count("col", count_filter=flt).count > 0


def test_delete_collection_removes_segments_and_sidecars(tmp_path):
    c, _ = _mk(tmp_path, n=6, per_call=3)
    assert c.collection_exists("col")
    c2 = DemoQdrantClient({"store_dir": str(tmp_path)})
    c2.delete_collection("col")
    assert not c2.collection_exists("col")
    assert not [f for f in os.listdir(tmp_path) if "col.points" in f]


def test_spark_roundtrip_through_demo_backend(spark, tmp_path):
    """format("qdrant") write → partition-planned read against the
    demo store: every id, vector, and payload survives."""
    from pyspark.sql import functions as F

    store = str(tmp_path)
    df = spark.range(97).select(
        F.col("id").cast("string").alias("id"),
        F.array(F.col("id").cast("float"), F.lit(1.0).cast("float")).alias(
            "vector"
        ),
        F.create_map(
            F.lit("label"), (F.col("id") % 5).cast("string")
        ).alias("metadata"),
    )
    (
        df.write.format("qdrant")
        .mode("append")
        .option("client_factory", FACTORY)
        .option("store_dir", store)
        .option("collection_name", "rt")
        .option("vector_dimension", "2")
        .option("batch_size", "10")
        .save()
    )
    back = (
        spark.read.format("qdrant")
        .option("client_factory", FACTORY)
        .option("store_dir", store)
        .option("collection_name", "rt")
        .option("num_partitions", "4")
        .option("batch_size", "16")
        .load()
    )
    rows = back.collect()
    assert len(rows) == 97
    got = {int(r["id"]): r for r in rows}
    assert sorted(got) == list(range(97))
    assert got[42]["vector"] == [42.0, 1.0]
    assert got[42]["metadata"]["label"] == "2"


def test_demo_milvus_server_roundtrip_and_sharding(tmp_path):
    from vectordb_migrator_spark.sources.demo_backend import (
        DemoMilvusServer,
        create_milvus_demo_collection,
        milvus_demo_factory,
    )

    store = str(tmp_path / "mv")
    create_milvus_demo_collection(
        store,
        "col",
        {"fields": [
            {"name": "pk", "is_primary": True, "type": "INT64"},
            {"name": "vec", "type": "FLOAT_VECTOR", "dim": 2},
            {"name": "label", "type": "VARCHAR"},
        ]},
    )
    cl = milvus_demo_factory({"store_dir": store})
    assert isinstance(cl, DemoMilvusServer)
    assert cl.has_collection("col") and not cl.has_collection("nope")
    # two insert calls from "different partitions"
    cl.insert("col", [{"pk": i, "vec": [float(i), 0.0], "label": f"l{i % 3}"}
                      for i in range(7)])
    milvus_demo_factory({"store_dir": store}).insert(
        "col", [{"pk": 7 + i, "vec": [0.0, float(i)], "label": "x"}
                for i in range(5)]
    )
    allrows = cl.query("col", filter="", output_fields=["pk"])
    assert sorted(r["pk"] for r in allrows) == list(range(12))
    # residue shard clauses partition the data exactly
    shards = [
        {r["pk"] for r in cl.query(
            "col", filter=f"(((pk % 3) + 3) % 3) == {i}",
            output_fields=["pk"])}
        for i in range(3)
    ]
    assert set().union(*shards) == set(range(12))
    assert sum(len(s) for s in shards) == 12
    # literal predicates + conjunction
    got = cl.query("col", filter='label == "x" and pk >= 10',
                   output_fields=["pk", "label"])
    assert sorted(r["pk"] for r in got) == [10, 11]
    # unsupported dialect raises, never silently matches
    import pytest as _pytest
    with _pytest.raises(ValueError):
        cl.query("col", filter="pk like '%3'")
    # a quoted literal containing " and " must not be split mid-literal
    cl.insert("col", [{"pk": 100, "vec": [1.0, 1.0], "label": "a and b"}])
    got = cl.query("col", filter='label == "a and b" and pk >= 0',
                   output_fields=["pk"])
    assert [r["pk"] for r in got] == [100]
    # splitter unit behavior: quotes and parens shield the keyword
    split = DemoMilvusServer._split_top_level_and
    assert split('a == "x and y" and b >= 1') == ['a == "x and y"', "b >= 1"]
    assert split("(a and b) and c") == ["(a and b)", "c"]
    assert split("a == 1") == ["a == 1"]


def test_qdrant_scan_partition_planning_parallelism(spark, tmp_path):
    """The cursor-segmentation pre-pass (sources/pyds.py:partitions)
    is the connector's parallel axis: N planned segments become N
    Spark tasks that read disjoint slices covering every point.
    Asserts (a) the planned partition count materializes 1:1 as Spark
    partitions, (b) the segments are balanced (no straggler reads the
    whole store), (c) 1-partition and 8-partition scans return
    identical content, and (d) the 8 segments ran as 8 tasks whose
    launch-to-finish intervals overlap: at least as many at once as the
    session has task slots (up to 8), read from the task launch and finish
    times Spark recorded — the property a wall-clock speed-up only
    stood in for, without depending on the box's speed or load."""
    from pyspark.sql import functions as F
    from spark_status import job_group, peak_overlap, task_spans

    store = str(tmp_path / "qd_par")
    factory = (
        "vectordb_migrator_spark.sources.demo_backend:qdrant_demo_factory"
    )
    n, dim = 48_000, 64
    pts = spark.range(n).select(
        F.col("id").cast("string").alias("id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (F.col("id") % 97 + i).cast("double") / 100.0,
        ).alias("vector"),
        F.create_map(
            F.lit("label"), (F.col("id") % 7).cast("string")
        ).alias("metadata"),
    )
    (
        pts.write.format("qdrant")
        .mode("append")
        .option("client_factory", factory)
        .option("store_dir", store)
        .option("collection_name", "par")
        .option("vector_dimension", str(dim))
        .option("batch_size", "4000")
        .save()
    )

    def scan(parts: int):
        return (
            spark.read.format("qdrant")
            .option("client_factory", factory)
            .option("store_dir", store)
            .option("collection_name", "par")
            .option("num_partitions", str(parts))
            .option("batch_size", "4000")
            .load()
        )

    def certify(parts: int):
        # nondeterministic exprs may not sit INSIDE an aggregate —
        # project the partition id first, then aggregate the column
        df = scan(parts).withColumn("__p", F.spark_partition_id())
        with job_group(spark) as group:
            row = df.agg(
                F.count(F.lit(1)).alias("points"),
                F.countDistinct("id").alias("ids"),
                F.sum(F.col("metadata").getItem("label").cast("long")).alias(
                    "ls"
                ),
                F.countDistinct("__p").alias("n_parts"),
            ).collect()[0]
        return group, row

    _, r1 = certify(1)
    group8, r8 = certify(8)
    assert r1["points"] == r8["points"] == n
    assert r1["ids"] == r8["ids"] == n
    assert r1["ls"] == r8["ls"]
    assert r1["n_parts"] == 1 and r8["n_parts"] == 8

    # balance: every planned segment carries ~n/8 rows
    per_part = (
        scan(8)
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    sizes = sorted(r["count"] for r in per_part)
    assert len(sizes) == 8
    assert sizes[-1] <= 2 * (n // 8)

    # concurrency: the scan (the job's first stage) ran the 8 segments
    # as 8 tasks, and every task slot held one of them at once (the
    # scheduler records a finish a few ms after the slot frees, so the
    # recorded overlap can exceed the slot count, never fall short)
    stages = task_spans(spark, group8)
    scan_tasks = stages[min(stages)]
    assert len(scan_tasks) == 8, stages
    slots = min(8, spark.sparkContext.defaultParallelism)
    assert peak_overlap(scan_tasks) >= slots, scan_tasks


def test_demo_pinecone_client_sorted_pages_and_prefixes(tmp_path):
    from vectordb_migrator_spark.sources.demo_backend import (
        pinecone_demo_factory,
    )

    cl = pinecone_demo_factory({"store_dir": str(tmp_path / "pc")})
    cl.create_index(name="idx", dimension=2, metric="cosine")
    assert cl.list_indexes() == ["idx"]
    ix = cl.Index("idx")
    ix.upsert(
        vectors=[
            {"id": str(i), "values": [float(i), 0.0],
             "metadata": {"m": str(i % 2)}}
            for i in (3, 1, 20, 11, 2)
        ]
    )
    # a second segment UPDATES id 1 (upsert semantics: last wins)
    pinecone_demo_factory({"store_dir": str(tmp_path / "pc")}).Index(
        "idx"
    ).upsert(vectors=[{"id": "1", "values": [9.0, 9.0], "metadata": {}}])

    pages = list(ix.list(limit=2))
    flat = [i for p in pages for i in p]
    assert flat == sorted(flat)  # lexicographic contract
    assert set(flat) == {"1", "11", "2", "20", "3"}
    assert all(len(p) <= 2 for p in pages)
    # prefix filtering is the scan's parallel axis
    assert [i for p in ix.list(prefix="2", limit=10) for i in p] == ["2", "20"]
    # fetch returns the LATEST value for an updated id
    got = ix.fetch(ids=["1", "3"])["vectors"]
    assert got["1"]["values"] == [9.0, 9.0]
    assert got["3"]["metadata"] == {"m": "1"}


def test_qdrant_predicate_scan_same_ids_at_any_partition_count(spark, tmp_path):
    """A payload predicate returns the same points at 1 and 4
    partitions, through the batch adapter and through
    ``format("qdrant")``. The multi-partition plan pre-scrolls id-only
    (``with_payload=False``); the demo server must filter on the full
    record before projecting, as a live server does — it used to drop
    the payloads first, so every multi-partition predicate scan
    returned 0 rows."""
    from pyspark.sql import functions as F

    from vectordb_migrator_spark.sources.qdrant import QdrantAdapter

    _, pts = _mk(tmp_path, n=60, per_call=7)
    want = {str(p["id"]) for p in pts if p["payload"]["k"] == "1"}
    adapter = QdrantAdapter(client_factory=qdrant_demo_factory)
    got = {}
    for parts in (1, 4):
        df = adapter.read(
            spark,
            {"store_dir": str(tmp_path)},
            {
                "collection_name": "col",
                "num_partitions": parts,
                "batch_size": 8,
                "predicates": [{"col": "k", "op": "eq", "value": "1"}],
            },
        )
        got["adapter", parts] = {str(r["id"]) for r in df.select("id").collect()}
        df = (
            spark.read.format("qdrant")
            .schema("id string, vector array<float>, k string")
            .option("client_factory", FACTORY)
            .option("store_dir", str(tmp_path))
            .option("collection_name", "col")
            .option("num_partitions", str(parts))
            .option("batch_size", "8")
            .load()
            .filter(F.col("k") == "1")
        )
        got["format", parts] = {str(r["id"]) for r in df.select("id").collect()}
    assert len(want) == 20
    assert all(ids == want for ids in got.values()), got
