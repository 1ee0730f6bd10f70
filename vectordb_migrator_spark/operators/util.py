"""Operator utilities."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions for CPU-heavy per-row work.

    The local testdata parquet has one row group per file, so scans
    come up single-partition and per-row compute (minhash signatures,
    simhash bit votes) would single-thread. On a real cluster the scan
    is already partition-parallel and this is a no-op, so the explicit
    exchange only exists where it pays for itself. Uses repartition
    with an explicit count — AQE does not coalesce user-specified
    partition numbers back down.

    Width is estimated from ``df.inputFiles()`` (a logical-plan walk)
    rather than ``df.rdd.getNumPartitions()``, which would force full
    physical planning of the plan-so-far on EVERY call — planning a
    100-operator DAG twice just to read a partition count. File count
    approximates scan width well for the case this guards (a tiny
    under-split scan feeding heavy compute); non-file sources (JDBC,
    connector ``mapInPandas`` scans) fall back to the physical-plan
    probe since they have no file listing.

    A large file COUNT is not sufficient evidence of width: Spark
    packs small files into shared splits (``maxPartitionBytes`` /
    ``openCostInBytes``), so 200 tiny files can still scan as 1-2
    partitions. When the file count alone would say "wide enough",
    confirm with the physical-plan probe before skipping the exchange
    — the probe only runs in that branch, so the cheap common case
    (few files → repartition) still never plans twice.
    """
    sc = df.sparkSession.sparkContext
    # default: half the cores — measured sweet spot for the fan-out
    # case (a tiny under-partitioned scan feeding CPU-heavy per-row
    # work): enough parallelism to saturate compute, half the
    # per-task scheduling overhead of full-width
    target = min_partitions or max(2, sc.defaultParallelism // 2)
    try:
        n_files = len(df.inputFiles())
    except Exception:  # noqa: BLE001 — estimation only, never fatal
        n_files = 0
    if n_files and n_files < target:
        return df.repartition(target)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def single_task_input(
    df: DataFrame, *, count: Callable[[], int], max_rows: int
) -> DataFrame | None:
    """The one size rule for the iterative operator loops (k-means,
    PQ refinement, connected components, PageRank, label
    propagation): a materialized loop input of at most ``max_rows``
    rows runs the WHOLE loop inside one task, because every dataflow
    round costs a scheduled job whatever its size; a larger one keeps
    the distributed loop, the path that scales.

    - **Count**: ``count()`` returns the row count of ``df``, taken
      from a job the loop runs anyway (an edge count, a checksum, an
      observation of the seed scan); it is called only when the rule
      is live.
    - **Decide**: ``count() <= max_rows``. ``max_rows`` is the call
      site's named bound; ``0`` disables the single-task path without
      counting (the A/B switch of every loop). The partition count
      never enters the decision: a small corpus read from many part
      files is still small.
    - **Run**: returns ``df.coalesce(1)`` — the same rows as one
      partition, with no shuffle — for the caller's in-task kernel;
      ``None`` means keep the distributed loop.
    """
    if max_rows <= 0 or count() > max_rows:
        return None
    return df.coalesce(1)
