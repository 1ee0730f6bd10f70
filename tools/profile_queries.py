"""Phase-split profiler (guide §1): for each named query, time the
DataFrame *construction* (driver-side work — any actions a builder runs,
e.g. iterative fits) separately from the noop-sink *execution* of the
returned plan, warm (second run of each phase reported too). Optionally
dumps ``explain("formatted")`` to a directory.

Usage: python tools/profile_queries.py [--sf DIR] [--plans DIR] name...
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    plans_dir = None
    suffix = "before"
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--plans="):
            plans_dir = Path(a.split("=", 1)[1])
        elif a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
        else:
            names.append(a)

    from vectordb_migrator_spark.session import default_cpus, get_spark
    from vectordb_migrator_spark.suite import QUERIES

    spark = get_spark("profile", shuffle_partitions=default_cpus())
    spark.range(1000).count()
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()

    if plans_dir:
        plans_dir.mkdir(parents=True, exist_ok=True)

    out = {}
    for name in names:
        rec = {}
        for attempt in ("cold", "warm"):
            spark.sparkContext.setJobDescription(f"{name} [{attempt}]")
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            rec[f"{attempt}_build"] = round(t1 - t0, 2)
            rec[f"{attempt}_exec"] = round(t2 - t1, 2)
        spark.sparkContext.setJobDescription(None)
        if plans_dir:
            txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            (plans_dir / f"{name}_{suffix}.txt").write_text(txt)
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)
    print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
