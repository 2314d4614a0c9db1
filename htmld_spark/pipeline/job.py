"""The flagship extraction job — R1–R15 wired end to end (SURVEY.md §3.4).

    read pages (R1) → prune/filter + skip done buckets (R2/R15 — narrow, no
      shuffle: the bucket filter is a scan predicate)
      → mapInArrow extraction (R6)                  [JVM↔Python, per batch]
      → salted repartition by url-hash bucket (R3/R4) [shuffle boundary #1 —
        carries EXTRACTED text+spans, never raw html]
      → write partitioned by bucket (R14)
      → lineage/manifest rows per bucket (R14/R15)
      → metrics aggregation (R8)                    [shuffle boundary #2]

Scale design (the part that must survive 1000 executors × 100 TB):

- **Extract before shuffling.** Extraction is embarrassingly parallel over
  scan splits; the only shuffle co-locates the much smaller extracted
  output (text+spans ≈ ¼ of raw html) by bucket for partitioned writes and
  resume bookkeeping. Shuffling 100 TB of raw html would dominate the job;
  shuffling the output doesn't. (Measured on the sandbox bench: raw-html
  pre-shuffle capped 8→32-core scaling efficiency at ~0.65; post-extract
  shuffle restores it.)
- ``bucket = pmod(xxhash64(url), n_buckets)`` is the unit of checkpointing
  and output partitioning. n_buckets is chosen so one bucket's output fits
  comfortably in an executor (e.g. 25 TB extracted / 50k buckets = 500 MB).
- The run proceeds in ROUNDS of ``buckets_per_round`` buckets. Each round is
  one Spark action: filter to the round's buckets (narrow) → extract →
  shuffle by bucket → dynamic-partition-overwrite write. After the action
  commits, one manifest row per bucket (which doubles as the LINEAGE row:
  counts, bytes, error count, engine+rules version, wall time) is appended.
  A crash mid-round loses only that round: its buckets are absent from the
  manifest, and the dynamic overwrite replaces any partial bucket directory
  on retry (R15).
- A round's bookkeeping stays small and in the JVM: the lineage read opens
  only the round's own ``bucket=`` directories with the known schema (no
  listing of earlier rounds' output, no footer inference — so a round's
  cost does not grow with the buckets already done), and the manifest rows
  are appended from an Arrow table (no Python task).
- Skew (R4): the output-shuffle key is (bucket, salt) where salt spreads
  oversized documents (n_bytes > salt_threshold) over ``salt_factor``
  subkeys, so a bucket of MiB-blob outputs doesn't become one straggler
  reducer. AQE skew handling and partition coalescing stay on (R5). Inside
  the UDF a byte budget re-chunks Arrow batches, bounding worker memory
  regardless of input blob sizes.
- No html bytes are ever collected to the driver; manifest reads collect only
  bucket ids (ints).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from htmld_spark import ENGINE_VERSION
from htmld_spark.engine.extract import MAIN_TEXT_RULES_VERSION
from htmld_spark.functions.local import local_df
from htmld_spark.functions.udfs import DEFAULT_BYTE_BUDGET, extract_df
from htmld_spark.pipeline.io import read_pages, write_output


@dataclass
class JobConfig:
    source: str  # pages table: parquet path or iceberg:ref
    output: str  # output table root (parquet dir or iceberg:ref)
    n_buckets: int = 64
    buckets_per_round: int = 32
    with_spans: bool = True
    byte_budget: int = DEFAULT_BYTE_BUDGET
    salt_factor: int = 8
    salt_threshold: int = 256 << 10  # html larger than this gets salted
    dedup_latest: bool = False  # keep only latest warc_ts per url (R10)
    lang_filter: list[str] | None = None  # R2 pushdown demo
    enrich: bool = False  # append pred_lang/n_tokens/quality_bucket/winnow_fp
    source_format: str = "html"  # "html" (engine/dom) or "pdf" (engine/pdf)
    shuffle_partitions: int | None = None
    extra: dict = field(default_factory=dict)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.output, "_manifest")


MANIFEST_DDL = (
    "bucket int, n_rows bigint, n_bytes bigint, n_errors bigint, "
    "n_exec_partitions int, wall_ms bigint, engine_version string, "
    "rules_version string, input_source string"
)


def _existing(spark: SparkSession, paths: list[str]) -> list[str]:
    """The ``paths`` that exist, asked of Hadoop's FileSystem: a read of a
    missing path fails only after Spark has logged its stack trace."""
    sc = spark.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    fs = Path(paths[0]).getFileSystem(sc._jsc.hadoopConfiguration())
    return [p for p in paths if fs.exists(Path(p))]


def _read_done_buckets(spark: SparkSession, manifest_path: str) -> set[int]:
    if not _existing(spark, [manifest_path]):
        return set()  # no manifest yet
    m = spark.read.schema(MANIFEST_DDL).parquet(manifest_path)
    return {r["bucket"] for r in m.select("bucket").distinct().collect()}


def _round_lineage(
    spark: SparkSession, cfg: JobConfig, schema: StructType, buckets: list[int]
) -> DataFrame | None:
    """The written output of ``buckets`` alone: only their ``bucket=``
    directories, read with the known output ``schema``, so the read neither
    lists earlier rounds' buckets nor infers a schema from footers. None
    when the write created none of them (a bucket that received no rows
    has no directory)."""
    data = os.path.join(cfg.output, "data")
    paths = _existing(spark, [os.path.join(data, f"bucket={b}") for b in buckets])
    if not paths:
        return None
    return spark.read.schema(schema).option("basePath", data).parquet(*paths)


def _lineage_agg(out: DataFrame) -> DataFrame:
    """Per-bucket lineage counts of a round's written output, in one
    exchange: ``size(collect_set)`` where ``countDistinct`` would plan a
    second aggregation round and exchange."""
    return out.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_bytes").alias("n_bytes"),
        F.sum(F.when(~F.col("parse_ok"), 1).otherwise(0)).alias("n_errors"),
        F.size(F.collect_set("exec_partition_id")).alias("n_exec_partitions"),
    )


def _manifest_df(
    spark: SparkSession,
    cfg: JobConfig,
    buckets: list[int],
    lineage: dict[int, tuple],
    wall_ms: int,
) -> DataFrame:
    """One manifest row per bucket of the round, zeros for a bucket that
    received no rows. Built from Arrow, so appending it runs no Python task."""
    zero = (0, 0, 0, 0)
    return local_df(
        spark,
        [
            (b, *lineage.get(b, zero), wall_ms, ENGINE_VERSION, MAIN_TEXT_RULES_VERSION, cfg.source)
            for b in buckets
        ],
        MANIFEST_DDL,
    )


def prepare_input(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """R1 + R2 (+ optional R10 dedup): scan, prune columns, filter, bucket."""
    df = read_pages(spark, cfg.source)
    blob = "pdf" if cfg.source_format == "pdf" else "html"
    cols = ["url", "warc_ts", blob, "lang"]
    df = df.select(*[c for c in cols if c in df.columns])  # column pruning
    if cfg.lang_filter:
        df = df.filter(F.col("lang").isin(cfg.lang_filter))  # pushed to scan
    if cfg.dedup_latest:
        from pyspark.sql import Window

        w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.n_buckets)).cast("int")
    )


def _salted(df: DataFrame, cfg: JobConfig) -> DataFrame:
    """R3/R4: explicit repartition of the EXTRACTED output by url-hash
    bucket, with oversized documents (n_bytes) spread across salt subkeys so
    blob-heavy buckets don't straggle in the reduce/write stage."""
    salt = F.when(
        F.col("n_bytes") > cfg.salt_threshold,
        F.pmod(F.xxhash64("url", F.lit("salt")), F.lit(cfg.salt_factor)),
    ).otherwise(F.lit(0))
    n_parts = cfg.shuffle_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    return df.withColumn("_salt", salt).repartition(
        int(n_parts), "bucket", "_salt"
    ).drop("_salt")


def run_extract_job(
    spark: SparkSession, cfg: JobConfig, resume: bool = True
) -> dict:
    """Run (or resume) the extraction job. Returns run stats. Its Spark jobs
    are described by round and step (``extract round 2/4: lineage``); the
    caller's job description is back in place when it returns."""
    sc = spark.sparkContext
    caller_description = sc.getLocalProperty("spark.job.description")
    try:
        return _run_rounds(spark, cfg, resume)
    finally:
        sc.setJobDescription(caller_description)


def _run_rounds(spark: SparkSession, cfg: JobConfig, resume: bool) -> dict:
    sc = spark.sparkContext
    base = prepare_input(spark, cfg)
    sc.setJobDescription("extract: read manifest")
    done = _read_done_buckets(spark, cfg.manifest_path) if resume else set()
    pending = sorted(set(range(cfg.n_buckets)) - done)
    n_rounds = -(-len(pending) // cfg.buckets_per_round)
    stats = {
        "n_buckets": cfg.n_buckets,
        "done_at_start": len(done),
        "rounds": 0,
        "rows_written": 0,
        "errors": 0,
    }
    for i, lo in enumerate(range(0, len(pending), cfg.buckets_per_round), 1):
        round_buckets = pending[lo : lo + cfg.buckets_per_round]
        step = f"extract round {i}/{n_rounds}"
        t0 = time.monotonic()
        round_df = base.filter(F.col("bucket").isin(round_buckets))
        # extract FIRST (narrow over scan splits), shuffle only the output
        if cfg.source_format == "pdf":
            from htmld_spark.functions.udfs import extract_pdf_pages_df

            extracted = extract_pdf_pages_df(
                round_df.drop("bucket"), byte_budget=cfg.byte_budget
            )
        else:
            extracted = extract_df(
                round_df.drop("bucket"),
                with_spans=cfg.with_spans,
                byte_budget=cfg.byte_budget,
            )
        extracted = extracted.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.n_buckets)).cast("int")
        )
        if cfg.enrich:
            # one-pass training-data signals: per-row JVM expressions over
            # the extracted text, still inside the narrow pre-shuffle stage
            from htmld_spark.functions.text import enrich_features

            extracted = enrich_features(extracted)
        sc.setJobDescription(f"{step}: write")
        write_output(_salted(extracted, cfg), os.path.join(cfg.output, "data"), ["bucket"])
        wall_ms = int((time.monotonic() - t0) * 1000)
        # Lineage stats from the (small) written output — html is never re-read.
        sc.setJobDescription(f"{step}: lineage")
        out = _round_lineage(spark, cfg, extracted.schema, round_buckets)
        agg = [] if out is None else _lineage_agg(out).collect()
        lineage = {r["bucket"]: tuple(r)[1:] for r in agg}
        sc.setJobDescription(f"{step}: manifest")
        manifest = _manifest_df(spark, cfg, round_buckets, lineage, wall_ms)
        manifest.coalesce(1).write.mode("append").parquet(cfg.manifest_path)
        stats["rounds"] += 1
        stats["rows_written"] += sum(r["n_rows"] for r in agg)
        stats["errors"] += sum(r["n_errors"] for r in agg)
    return stats


def job_metrics(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """R8: post-job metrics — docs and chars per lang (the flagship report)."""
    out = spark.read.parquet(os.path.join(cfg.output, "data"))
    return (
        out.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.avg("n_nodes").alias("avg_nodes"),
            F.approx_count_distinct("url").alias("approx_urls"),
        )
        .orderBy("lang")
    )
