"""Registry-wide physical-plan audit — the scale-smell linter.

Walks EVERY registered suite query, builds its physical plan (no
execution), and flags the operators that do not survive 100 TB:

- ``CartesianProduct``            — an unconditioned cross join of two
                                    non-broadcast sides (broadcast
                                    nested-loop joins of tiny frames
                                    are fine and NOT flagged)
- ``BatchEvalPython``             — a row-at-a-time Python UDF in the
                                    plan (Arrow-batched mapInPandas /
                                    ArrowEvalPython are the sanctioned
                                    Python boundary and NOT flagged)

tests/test_plans.py locks individual shapes; this tool is the
exhaustive sweep — run it after adding queries, and keep the flagged
list EMPTY.

Usage: python tools/plan_audit.py [query ...] [--sf=DIR]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SMELLS = ("CartesianProduct", "BatchEvalPython")


def audit(names, sf_dir: str, *, spark=None, queries=None) -> dict:
    if queries is None:
        from vectordb_migrator_spark.suite import QUERIES as queries
    if spark is None:
        from vectordb_migrator_spark.session import get_spark

        spark = get_spark("plan_audit")
    flagged: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for name in names:
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — per-query isolation
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"ERROR {name:36s} {errors[name]}", flush=True)
            continue
        hits = [s for s in SMELLS if s in plan]
        if hits:
            flagged[name] = hits
        dt = time.time() - t0
        status = "FLAG " if hits else "clean"
        print(f"{status} {name:36s} {dt:5.1f}s  {hits or ''}", flush=True)
    return {"flagged": flagged, "errors": errors}


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.001"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
    from vectordb_migrator_spark.suite import QUERIES

    names = args or list(QUERIES)
    out = audit(names, sf_dir)
    print(
        f"\n{len(names) - len(out['flagged']) - len(out['errors'])}"
        f"/{len(names)} clean; flagged: {out['flagged']}; "
        f"errors: {list(out['errors'])}"
    )
    return 1 if (out["flagged"] or out["errors"]) else 0


if __name__ == "__main__":
    sys.exit(main())
