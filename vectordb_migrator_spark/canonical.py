"""The canonical record model, Spark-first.

The reference's single data abstraction is a row dict
``{"id": int|str, "vector": [float,...], "metadata": {str: Any}}``
(ABC contract ``core/adapter.py:33-55``; produced at
``adapters/pgvector.py:117-126``, ``adapters/qdrant.py:109-116``,
``adapters/milvus.py:115-122``). Here the same triple is a DataFrame
schema::

    id        string          (int ids are losslessly stringified; C2
                               coerces digit-strings back on demand)
    vector    array<float>    (nullable — Milvus collections may have
                               no vector field, adapters/milvus.py:90-93)
    metadata  map<string,string>

Unlike the reference — which materializes the whole dataset as one
Python list in driver memory (``core/migrator.py:69,83,100``) — every
helper below is a lazy ``DataFrame -> DataFrame`` projection that
Catalyst prunes/pushes down, so the same code paths scale from 4 demo
rows to 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Canonical interchange schema (§1.4 of SURVEY.md).
CANONICAL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("vector", T.ArrayType(T.FloatType()), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def parse_pgvector_text(col: Column | str) -> Column:
    """C1 — pgvector's text wire format ``'[0.1,0.2,0.3]'`` → array<float>.

    The reference does this row-by-row in Python (``list(row[1])`` via
    pgvector's psycopg2 cast, ``adapters/pgvector.py:120``); over JDBC
    the ``vector`` type arrives as text, so the bridge is an expression:
    strip brackets, split, cast. Runs in codegen — no UDF.
    """
    col = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(F.trim(col), r"^\[|\]$", "")
    return F.when(
        (col.isNull()) | (F.trim(col) == "") | (stripped == ""), F.lit(None)
    ).otherwise(F.split(stripped, r"\s*,\s*").cast("array<float>"))


def format_pgvector_text(col: Column | str) -> Column:
    """array<float> → pgvector text literal ``'[0.1,0.2,0.3]'`` (K1 write side)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.when(
        col.isNotNull(),
        F.concat(F.lit("["), F.array_join(col.cast("array<double>"), ","), F.lit("]")),
    )


def coerce_id(col: Column | str) -> Column:
    """C2 — digit-string ids become canonical ints, others pass through.

    Mirrors the Qdrant sink's coercion (``adapters/qdrant.py:219-222``:
    ``int(item_id) if isinstance(item_id, str) and item_id.isdigit()``).
    Returned as string so mixed int/str id datasets keep one column
    type; the coercion is observable as canonical form (no leading
    zeros, no whitespace). Canonicalization strips leading zeros
    textually rather than round-tripping through a numeric cast: the
    reference's ``int()`` is arbitrary-precision, and a >19-digit id
    (UUIDs rendered as decimal, 128-bit snowflakes) would overflow a
    long cast to NULL in non-ANSI mode — silently nulling the id and
    getting the row dropped downstream by ``drop_missing_ids``.
    """
    col = F.col(col) if isinstance(col, str) else col
    s = col.cast("string")
    return F.when(
        s.rlike("^[0-9]+$"), F.regexp_replace(s, "^0+(.)", "$1")
    ).otherwise(s)


def to_canonical_columns(
    df: DataFrame,
    *,
    id_column: str,
    vector_column: str | None = None,
    metadata_columns: Sequence[str] = (),
) -> DataFrame:
    """P2 — normalize any source layout into the canonical triple.

    The reference builds the dict per row in each extractor
    (``adapters/pgvector.py:117-126``); here it is a single ``select``
    so Catalyst's column pruning reaches the scan (only the named
    columns are read from parquet/JDBC).

    Metadata values are stringified (the pgvector sink's TEXT-degrade
    semantics, ``adapters/pgvector.py:180-182``) and NULL-valued keys
    are dropped (P3, the Milvus extract semantics,
    ``adapters/milvus.py:120``).
    """
    from pyspark.sql.types import MapType

    cols = [coerce_id(id_column).alias("id")]
    if vector_column is not None:
        cols.append(F.col(vector_column).cast("array<float>").alias("vector"))
    else:
        cols.append(F.lit(None).cast("array<float>").alias("vector"))
    if (
        len(metadata_columns) == 1
        and metadata_columns[0] in df.columns
        and isinstance(df.schema[metadata_columns[0]].dataType, MapType)
    ):
        # an already-canonical source: pass the metadata MAP through
        # (values stringified, NULL-valued keys still dropped) instead
        # of stringifying the whole map under one key — the
        # canonical-to-canonical migration path (parquet ⇄ jsonl hops)
        meta = F.map_filter(
            F.col(metadata_columns[0]).cast("map<string,string>"),
            lambda _, v: v.isNotNull(),
        )
    elif metadata_columns:
        pairs: list[Column] = []
        for c in metadata_columns:
            pairs.append(F.lit(c))
            pairs.append(F.col(c).cast("string"))
        meta = F.map_filter(F.create_map(*pairs), lambda _, v: v.isNotNull())
    else:
        meta = F.create_map().cast("map<string,string>")
    cols.append(meta.alias("metadata"))
    return df.select(*cols)


def drop_missing_ids(df: DataFrame, id_column: str = "id") -> DataFrame:
    """C4 — skip records without an id, as the Milvus sink does
    (``adapters/milvus.py:188-192``). Count the drops with
    ``df.observe`` at the call site if accounting is needed."""
    return df.filter(F.col(id_column).isNotNull())


def conform_to_schema(df: DataFrame, target_fields: Sequence[str]) -> DataFrame:
    """C5/C6 — conform metadata to a schema-bound target: unknown keys
    dropped, missing keys null-filled (``adapters/milvus.py:198-233``)."""
    cols = [F.col("id"), F.col("vector")]
    for k in target_fields:
        cols.append(F.col("metadata").getItem(k).alias(k))
    return df.select(*cols)


def normalize(
    df: DataFrame,
    id_column: str,
    vector_column: str | None = None,
    metadata_columns: Sequence[str] = (),
) -> DataFrame:
    """Convenience wrapper matching the reference extractor signature
    (``adapters/pgvector.py:64-89``)."""
    return to_canonical_columns(
        df,
        id_column=id_column,
        vector_column=vector_column,
        metadata_columns=metadata_columns,
    )


def vector_dims(df: DataFrame, vector_column: str = "vector") -> DataFrame:
    """Dataset-wide dimension audit — an improvement over the
    reference's infer-from-first-item (``adapters/pgvector.py:167``,
    ``adapters/qdrant.py:160``), which silently assumes homogeneous
    dims. One pass, map-side partial agg."""
    return (
        df.select(F.size(F.col(vector_column)).alias("dim"))
        .groupBy("dim")
        .agg(F.count("*").alias("n"))
    )
