"""The one-command pre-commit gate for new or changed queries.

Runs the four local gates that have each caught a class of
local-pass/driver-fail in past rounds, in cheapest-first order:

0. **plain-session parity** (``tools/plain_session_parity.py``, in a
   subprocess so the JVM is genuinely fresh) — builds each query in a
   BARE SparkSession with none of ``get_spark``'s setup, the driver's
   exact harness shape (the class that broke the round-8 connector
   rows: queries silently depending on Python DataSource
   registration / session config).
1. **plan lint** (``tools/plan_audit.py``) — builds the physical plan
   and flags ``CartesianProduct`` / row-at-a-time ``BatchEvalPython``
   (the 100 TB smells; no execution, so it runs first).
2. **oracle gate** (``tools/check_oracle.py``) — executes the query at
   sf0.01 and hash-compares against its DuckDB oracle, including the
   driver-unsafe-dtype check.
3. **bench-scale smoke** (``tools/bench_smoke.py``) — executes ONCE at
   sf0.1, whose data distribution the sf0.01 gate never sees (the
   class that erased the round-6 bench artifact).

Usage::

    python tools/gate.py QUERY [QUERY ...]   # gate just these
    python tools/gate.py --all               # full registry (slow)

Exit 0 only if every stage passes for every named query. One Spark
session is shared across stages.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    run_all = "--all" in sys.argv[1:]
    if not names and not run_all:
        print(__doc__)
        return 2

    from vectordb_migrator_spark.session import get_spark
    from vectordb_migrator_spark.suite import QUERIES

    if run_all:
        names = list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    import subprocess

    print(f"=== gate 0: plain-session parity ({len(names)} queries) ===")
    rc = subprocess.call(
        [sys.executable, "tools/plain_session_parity.py", *names],
        cwd=Path(__file__).resolve().parent.parent,
    )
    if rc:
        print("PLAIN-SESSION PARITY GATE FAILED")
        return 1

    spark = get_spark("gate")

    import plan_audit

    print(f"=== gate 1: plan lint ({len(names)} queries) ===")
    res = plan_audit.audit(names, "/root/testdata/sf0.01", spark=spark)
    if res["flagged"] or res["errors"]:
        print(f"PLAN GATE FAILED: {res}")
        return 1

    print(f"=== gate 2: sf0.01 oracle ===")
    rc = subprocess.call(
        [sys.executable, "tools/check_oracle.py", *names],
        cwd=Path(__file__).resolve().parent.parent,
    )
    if rc:
        print("ORACLE GATE FAILED")
        return 1

    import bench_smoke

    print(f"=== gate 3: sf0.1 bench smoke ===")
    failures = bench_smoke.run(names, "/root/testdata/sf0.1", spark=spark)
    if failures:
        print(f"SMOKE GATE FAILED: {failures}")
        return 1

    print(f"\nGATE PASS: {len(names)} quer{'y' if len(names) == 1 else 'ies'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
