"""Bench-scale smoke gate — runs queries ONCE at the driver's bench
scale (default sf0.1) with rows-only execution, so a query that passes
the sf0.01 oracle gate but crashes on sf0.1's data distribution is
caught locally BEFORE the driver's bench run (r5 shipped a dtype
local-pass/driver-fail, r6 a data-dependent ``raise_error`` that
erased the whole round's bench artifact at query 138/164 — this gate
closes the data-dependent class).

Usage: python tools/bench_smoke.py [query ...] [--sf=DIR] [--all]

With no positional args it smokes every query on ``bench.HEADLINE``
(what the driver actually benches); ``--all`` smokes the full
registered suite instead. Exit 1 if ANY query raises; each failure is
reported per-query (the same isolation contract bench.py now has).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def run(names, sf_dir: str, *, spark=None, queries=None) -> list[str]:
    """Execute each query at ``sf_dir`` via a full noop-sink write
    (materializes the whole plan, no driver collect) and return the
    list of failing names. ``spark``/``queries`` are injectable for
    tests."""
    if queries is None:
        from vectordb_migrator_spark.suite import QUERIES as queries
    if spark is None:
        from vectordb_migrator_spark.session import get_spark

        spark = get_spark("bench_smoke")
    failures = []
    for name in names:
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            ok, msg = True, "ok"
        except Exception as exc:  # noqa: BLE001 — per-query isolation
            ok, msg = False, f"{type(exc).__name__}: {exc}"[:300]
        dt = time.time() - t0
        print(f"{'PASS' if ok else 'FAIL'} {name:32s} {dt:6.1f}s  {msg}",
              flush=True)
        if not ok:
            failures.append(name)
    return failures


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.1"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
    if args:
        names = args
    elif "--all" in sys.argv[1:]:
        from vectordb_migrator_spark.suite import QUERIES

        names = list(QUERIES)
    else:
        from bench import HEADLINE

        names = list(HEADLINE)
    failures = run(names, sf_dir)
    print(f"\n{len(names) - len(failures)}/{len(names)} ok; "
          f"failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
