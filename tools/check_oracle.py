"""Self-check harness — replicates the driver's correctness gate.

Runs every ``queries()[name]`` on Spark and its ``oracle_sql()[name]``
on DuckDB at sf0.01, then compares row count, column names, and an
order-insensitive value multiset (exact for ints/strings/decimals,
tolerant to 1e-9 relative for floats — if a float column needs the
tolerance, the query should round harder, since the driver's hash
compare is exact).

Usage: python tools/check_oracle.py [query ...] [--sf DIR]
"""

from __future__ import annotations

import sys
import time
from decimal import Decimal
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm_value(v):
    import datetime
    import math

    if v is None:
        return None
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(round(v, 9)))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_value(x)) for k, x in v.items()))
    return v


def unsafe_output_types(spark_df) -> list[str]:
    """Columns whose type the DRIVER's pandas canonicalization cannot
    handle even though this checker can: DecimalType survives Spark
    collect as Python Decimal but DuckDB decimals become float64
    (hash mismatch on trailing zeros); Array/Map cells are unhashable
    in the pandas sort (hard crash). Queries must final-cast decimals
    to double and serialize collections."""
    from pyspark.sql import types as T

    bad = []
    for f in spark_df.schema.fields:
        if isinstance(f.dataType, (T.DecimalType, T.ArrayType, T.MapType)):
            bad.append(f"{f.name}:{f.dataType.simpleString()}")
    return bad


def unsafe_oracle_dtypes(spark_df, duck_df) -> list[str]:
    """Oracle columns whose PANDAS dtype diverges from Spark's integral
    schema — the silent local-pass / driver-fail class burned in r5:
    DuckDB widens windowed/aggregated ``sum(BIGINT)`` to HUGEINT, which
    pandas materializes as float64, so the DRIVER's exact value hash
    sees ``291.0`` vs Spark's ``291`` even though this checker's
    int-coercing tuple compare says MATCH. Any oracle column that is
    float64/object where Spark emits an integral/boolean type must be
    cast ``::BIGINT`` (etc.) in the SQL.

    A NULLABLE int column that actually carries nulls is exempt:
    pandas degrades it to float64 on BOTH sides (the driver converts
    the Spark result the same way), so ``291.0 == 291.0`` and the
    driver hash still matches — flagging it would be a false positive
    (seen on the asof LEFT-join's ``gap_s``)."""
    from pyspark.sql import types as T

    integral = (
        T.ByteType,
        T.ShortType,
        T.IntegerType,
        T.LongType,
        T.BooleanType,
    )
    bad = []
    for f in spark_df.schema.fields:
        if not isinstance(f.dataType, integral):
            continue
        if f.name not in duck_df.columns:
            continue
        col = duck_df[f.name]
        if col.dtype.kind in "iub":  # int / unsigned / bool
            continue
        if col.isna().any():  # nulls degrade both sides identically
            continue
        bad.append(
            f"{f.name}: spark={f.dataType.simpleString()} "
            f"duck-pandas={col.dtype}"
        )
    return bad


def compare(name, spark_df, duck_rel, duck_df=None) -> tuple[bool, str]:
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_rel.columns)
    if s_cols != d_cols:
        return False, f"columns differ: spark={s_cols} duck={d_cols}"
    if duck_df is not None:
        bad = unsafe_oracle_dtypes(spark_df, duck_df)
        if bad:
            return False, (
                "driver-hash-unsafe oracle dtypes (cast ::BIGINT in the "
                f"SQL): {bad}"
            )
    s_rows = spark_df.collect()
    d_rows = duck_rel.fetchall()
    if len(s_rows) != len(d_rows):
        return False, f"row count: spark={len(s_rows)} duck={len(d_rows)}"
    d_idx = {c: i for i, c in enumerate(duck_rel.columns)}
    s_set: dict = {}
    d_set: dict = {}
    for r in s_rows:
        key = tuple(_norm_value(r[c]) for c in s_cols)
        s_set[key] = s_set.get(key, 0) + 1
    for r in d_rows:
        key = tuple(_norm_value(r[d_idx[c]]) for c in s_cols)
        d_set[key] = d_set.get(key, 0) + 1
    if s_set != d_set:
        only_s = [k for k in s_set if s_set[k] != d_set.get(k, 0)][:3]
        only_d = [k for k in d_set if d_set[k] != s_set.get(k, 0)][:3]
        return False, f"values differ; spark-only={only_s} duck-only={only_d}"
    return True, f"{len(s_rows)} rows"


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.01"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]

    import __spark_entry__ as e
    from vectordb_migrator_spark.session import get_spark

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    names = args or list(qs)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            bad = unsafe_output_types(df)
            if bad:
                ok, msg = False, f"driver-unsafe output columns: {bad}"
            elif name in oracles:
                duck_df = con.sql(oracles[name]).df()
                ok, msg = compare(name, df, con.sql(oracles[name]), duck_df)
            else:
                n = df.count()
                ok, msg = True, f"rows-only: {n} rows"
        except Exception as exc:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION: {type(exc).__name__}: {exc}"
        dt = time.time() - t0
        status = "MATCH" if ok else "FAIL "
        print(f"{status} {name:32s} {dt:6.1f}s  {msg}", flush=True)
        if not ok:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} ok; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
