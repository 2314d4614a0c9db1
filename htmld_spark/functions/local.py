"""Local Python rows → DataFrame without a Python worker.

``spark.createDataFrame(list_of_tuples, ddl)`` plans a ``PythonRDD``: its
first action starts a Python task just to unpickle a handful of rows. The
same rows handed over as a ``pyarrow.Table`` are shipped to the JVM once and
scanned from there, so every action on the result stays JVM-only.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(
    spark: SparkSession, rows: Sequence[Sequence], schema: str | StructType
) -> DataFrame:
    """A DataFrame over local ``rows`` (tuples or Rows, in ``schema``
    column order), typed exactly as ``schema`` (a DDL string or a
    StructType, nullability included), built from Arrow."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
