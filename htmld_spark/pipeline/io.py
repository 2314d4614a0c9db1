"""Source/sink abstraction — R1/R14 (SURVEY.md §2.B).

Production target is Iceberg (``iceberg:`` URIs, catalog tables); the
sandbox has no Iceberg jars offline, so parquet paths are the default and
Iceberg is gated behind a runtime capability check. Either way the scan is
a Catalyst V2/parquet relation → predicate pushdown, column pruning and
partition pruning come for free on filters the job applies (R2).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from htmld_spark.functions.udfs import SPAN_TYPE

ICEBERG_PREFIX = "iceberg:"

# The spans integer leaves are high-cardinality offsets: parquet-mr builds a
# dictionary for each column chunk, then falls back to plain encoding.
_SPANS_NO_DICTIONARY = {
    f"parquet.enable.dictionary#spans.list.element.{f.name}": "false"
    for f in SPAN_TYPE
    if pa.types.is_integer(f.type)
}


def _has_iceberg(spark: SparkSession) -> bool:
    # NB: plain `spark._jvm.org.apache.iceberg.Table` never raises — py4j
    # hands back a JavaPackage for unknown names — so force a classload.
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read the pages table (url, warc_ts, html, text?, lang) from an
    Iceberg table ref (``iceberg:db.pages``) or a parquet path."""
    if source.startswith(ICEBERG_PREFIX):
        name = source[len(ICEBERG_PREFIX) :]
        if not _has_iceberg(spark):
            raise RuntimeError(
                "Iceberg runtime not on classpath; use a parquet path in the "
                "sandbox (SURVEY.md §2.B R1)"
            )
        return spark.read.format("iceberg").load(name)
    return spark.read.parquet(source)


def write_output(df: DataFrame, target: str, partition_by: list[str] | None = None):
    """Append-style write with dynamic partition overwrite: re-writing the
    same partition values replaces ONLY those directories, which makes a
    resumed round idempotent (a crashed round's partial bucket dirs are
    replaced wholesale on retry). A ``spans`` column's integer leaves are
    written without dictionary encoding."""
    if target.startswith(ICEBERG_PREFIX):
        name = target[len(ICEBERG_PREFIX) :]
        writer = df.writeTo(name)
        return writer.overwritePartitions()
    writer = (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
    )
    if "spans" in df.columns:
        writer = writer.options(**_SPANS_NO_DICTIONARY)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(target)
