"""Rows crossing the driver boundary, in both directions.

Out of Spark: ``collect_bounded`` is the gate of every driver fast
path (graph rounds, BPE merges, ANN tables) — ONE LIMIT-bounded job
that either returns the rows or says they do not fit, holding at most
``max_rows + 1`` rows, the bound the fast path declared affordable. A
``count()`` gate plus a separate collect runs the plan twice.

Into Spark: serving fast paths end with a handful of driver-side rows
(the <=k winners enriched from the pinned docmap) that must go back
to the caller AS A DATAFRAME. ``spark.createDataFrame(rows, ddl)``
builds an RDD via ``parallelize`` with defaultParallelism slices, so
the caller's ``collect()`` schedules a full task set (32 tasks on
local[32]) to read back ten rows — measured 250+ ms per serving call
on the bench box, dominating the sub-second query latency.

``local_rows_df`` instead emits one ``VALUES`` query as SQL text:
every cell is a typed literal (strings as UTF-8 hex ``X'..'`` cast to
STRING, so no value is ever parsed as SQL and arbitrary doc ids / URLs
are injection-safe; doubles as their round-tripping ``repr`` cast to
DOUBLE, NaN/inf/-0.0 included), the analyzer folds it to a
LocalRelation, and ``collect()`` returns WITHOUT running a job. A
10-row x 4-column page takes ~25-40 ms to build and collect (medians
of 25-50 calls after warm-up, local[2] on a shared 4-core VM), against
~55-70 ms when each cell was bound as a named parameter.
``empty_df`` is the zero-row equivalent (a WHERE 1=0
projection) for the miss branches — cheaper than the eager
``createDataFrame([], ddl)`` and only built when actually needed.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CAST_TYPES = {
    "string": "STRING",
    "long": "BIGINT",
    "bigint": "BIGINT",
    "int": "INT",
    "integer": "INT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
}


def collect_bounded(df: DataFrame, max_rows: int):
    """``df`` as a pandas frame if it has at most ``max_rows`` rows,
    else None (the caller then runs its distributed plan)."""
    pdf = df.limit(max_rows + 1).toPandas()
    return pdf if len(pdf) <= max_rows else None


def _local_frame(
    spark: SparkSession, vtype, cols, n_keys: int = 1, round9: bool = False
) -> DataFrame:
    """A graph fast path's (name, numpy array) columns as an
    Arrow-backed frame (~2-3x cheaper than the row-list path at a few
    thousand rows). The first ``n_keys`` columns have type ``vtype``,
    the rest LONG or DOUBLE, on the 1e-9 grid when ``round9``."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType([
        StructField(
            name,
            vtype if i < n_keys else LongType() if vals.dtype.kind == "i" else DoubleType(),
            True,
        )
        for i, (name, vals) in enumerate(cols)
    ])
    out = spark.createDataFrame(pd.DataFrame(dict(cols)), schema)
    if round9:
        out = out.select(*[
            F.round(name, 9).alias(name) if i >= n_keys else name
            for i, (name, _) in enumerate(cols)
        ])
    return out


def _fields(ddl: str) -> list[tuple[str, str]]:
    out = []
    for part in ddl.split(","):
        name, typ = part.strip().split()
        out.append((name, _CAST_TYPES[typ.lower()]))
    return out


def empty_df(spark: SparkSession, ddl: str) -> DataFrame:
    """Zero-row frame with the given flat DDL schema; no RDD, no job."""
    cols = ", ".join(
        f"CAST(NULL AS {typ}) AS {name}" for name, typ in _fields(ddl)
    )
    return spark.sql(f"SELECT {cols} WHERE 1 = 0")


def _sql_literal(v, typ: str) -> str:
    """One cell of ``local_rows_df`` as a typed SQL literal."""
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ == "STRING":
        return f"CAST(X'{str(v).encode('utf-8').hex()}' AS STRING)"
    if typ in ("DOUBLE", "FLOAT"):
        return f"CAST('{float(v)!r}' AS {typ})"
    if typ == "BOOLEAN":
        return "TRUE" if v else "FALSE"
    return f"CAST({int(v)} AS {typ})"


def local_rows_df(spark: SparkSession, ddl: str, rows: list[tuple]) -> DataFrame:
    """Small driver-side ``rows`` as a LocalRelation-backed frame with
    the given flat DDL schema (types from ``_CAST_TYPES`` only).
    ``collect()`` on the result does not run a Spark job."""
    if not rows:
        return empty_df(spark, ddl)
    fields = _fields(ddl)
    tuples = ", ".join(
        "(" + ", ".join(_sql_literal(v, typ) for (_name, typ), v in zip(fields, row)) + ")"
        for row in rows
    )
    names = ", ".join(name for name, _ in fields)
    return spark.sql(f"SELECT * FROM VALUES {tuples} AS t({names})")
