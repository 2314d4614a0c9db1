"""Spark-layer tests: extraction UDF byte identity, job resume semantics,
selector UDF, driver entry smoke (SURVEY.md §5.2 layers 2–3)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from fixtures.gen_pages import ensure_pages
from htmld_spark.pipeline.job import JobConfig, run_extract_job
from htmld_spark.pipeline.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(master="local[4]", app_name="pytest_pipeline")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pages_path():
    return ensure_pages("0.001")


def test_extract_udf_byte_identity(spark, pages_path):
    from htmld_spark.functions.udfs import extract_df

    pages = spark.read.parquet(pages_path)
    out = extract_df(pages.select("url", "warc_ts", "html"), with_spans=False)
    golden = pages.select("url", "warc_ts", F.col("text").alias("expected"))
    j = out.join(golden, ["url", "warc_ts"])
    assert j.count() == pages.count()
    assert j.filter(F.col("text") != F.col("expected")).count() == 0


def test_extract_udf_span_invariants(spark, pages_path):
    from htmld_spark.functions.udfs import extract_df

    pages = spark.read.parquet(pages_path).limit(200)
    out = extract_df(pages.select("url", "warc_ts", "html"), with_spans=True)
    ex = out.select("url", "warc_ts", F.explode("spans").alias("s"), "n_spans")
    bad = ex.filter(
        (F.col("s.start") < 0)
        | (F.col("s.end") < F.col("s.start"))
        | (F.col("s.text_end") < F.col("s.text_start"))
    )
    assert bad.count() == 0
    # node_id strictly increasing within each doc
    from pyspark.sql.window import Window

    # duplicate urls exist by design (re-crawls) → partition by (url, warc_ts)
    w = Window.partitionBy("url", "warc_ts").orderBy("s.node_id")
    dup = (
        ex.withColumn("prev", F.lag("s.node_id").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("s.node_id") <= F.col("prev")))
    )
    assert dup.count() == 0


def test_select_count_udf(spark):
    from htmld_spark.functions.udfs import select_count_df

    df = spark.createDataFrame(
        [
            ("u1", b"<main><p>a</p><p>b</p></main>"),
            ("u2", b"<div><p>only</p></div>"),
        ],
        "url string, html binary",
    )
    out = select_count_df(df, ["main p", "p"]).orderBy("url").collect()
    assert [(r.url, r.c0, r.c1) for r in out] == [("u1", 2, 2), ("u2", 0, 1)]


def test_job_resume_after_partial_run(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_out"))
    shutil.rmtree(out, ignore_errors=True)
    cfg = JobConfig(
        source=pages_path, output=out, n_buckets=8, buckets_per_round=2,
        with_spans=False,
    )
    # full run = 4 rounds
    stats = run_extract_job(spark, cfg)
    assert stats["rounds"] == 4 and stats["errors"] == 0
    total = stats["rows_written"]

    # simulate a crash after round 1: drop manifest rows for 6 buckets
    m = spark.read.parquet(cfg.manifest_path)
    kept = m.filter(F.col("bucket") < 2)
    tmp_manifest = out + "/_manifest_tmp"
    kept.write.mode("overwrite").parquet(tmp_manifest)
    shutil.rmtree(cfg.manifest_path)
    os.rename(tmp_manifest, cfg.manifest_path)

    stats2 = run_extract_job(spark, cfg)
    assert stats2["done_at_start"] == 2
    assert stats2["rounds"] == 3  # 6 pending buckets / 2 per round

    # no duplicates, no loss after resume (dynamic overwrite idempotency)
    data = spark.read.parquet(out + "/data")
    assert data.count() == total
    assert data.select("url", "warc_ts").distinct().count() == total


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) == 5  # one per lang
    assert all(r.n_errors == 0 for r in rows)
    assert set(df.columns) == {
        "lang",
        "n_docs",
        "total_chars",
        "total_spans",
        "n_errors",
    }


def test_queries_oracle_keys_consistent():
    import __spark_entry__ as e

    qs = e.queries()
    extra = set(e.oracle_sql()) - set(qs)
    assert not extra, f"oracle entries without queries: {extra}"


def test_extraction_deterministic_across_runs(spark, pages_path):
    """SURVEY §5.2 layer 3: two runs → identical output hash."""
    from htmld_spark.functions.udfs import extract_df

    def run_hash():
        pages = spark.read.parquet(pages_path)
        out = extract_df(pages.select("url", "warc_ts", "html"), with_spans=True)
        return (
            out.select(
                F.md5(
                    F.concat_ws(
                        "\x00",
                        "url",
                        F.col("warc_ts").cast("string"),
                        "text",
                        F.col("n_spans").cast("string"),
                        F.hash("spans").cast("string"),
                    )
                ).alias("h")
            )
            .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s"))
            .collect()[0]["s"]
        )

    assert run_hash() == run_hash()


def test_select_extract_df(spark):
    """querySelectorAll→extract surfaced relationally (the reference's
    primary per-document workflow)."""
    from htmld_spark.functions.udfs import select_extract_df

    df = spark.createDataFrame(
        [
            ("u1", b"<main><h1>Title</h1><p>a</p><p>b</p></main>"),
            ("u2", b"<div><span class=x>only</span></div>"),
        ],
        "url string, html binary",
    )
    out = select_extract_df(df, ["main p", ".x", "h1"], with_html=True)
    rows = {(r.url, r.selector): r for r in out.collect()}
    assert len(rows) == 6  # 2 docs × 3 selectors
    assert rows[("u1", "main p")].texts == ["a", "b"]
    assert rows[("u1", "main p")].htmls == ["<p>a</p>", "<p>b</p>"]
    assert rows[("u1", "h1")].texts == ["Title"]
    assert rows[("u2", ".x")].texts == ["only"]
    assert rows[("u2", "main p")].n_matches == 0 and rows[("u2", "main p")].texts == []


def test_select_extract_max_matches(spark):
    from htmld_spark.functions.udfs import select_extract_df

    html = b"<ul>" + b"".join(b"<li>%d</li>" % i for i in range(50)) + b"</ul>"
    df = spark.createDataFrame([("u", html)], "url string, html binary")
    r = select_extract_df(df, ["li"], max_matches=5).collect()[0]
    assert r.n_matches == 5 and r.texts == ["0", "1", "2", "3", "4"]


def test_iceberg_gate_raises_without_jars(spark):
    """R1: the Iceberg source is capability-gated — offline sandbox must get
    a clear error, not a ClassNotFound blowup mid-job."""
    import pytest as _pytest

    from htmld_spark.pipeline.io import read_pages

    with _pytest.raises(RuntimeError, match="Iceberg runtime not on classpath"):
        read_pages(spark, "iceberg:warehouse.pages")


def test_byte_budget_slicing():
    """R4: oversized html rows are re-chunked by byte budget inside the UDF
    (pure function — no Spark needed)."""
    import pyarrow as pa

    from htmld_spark.functions.udfs import _slice_offsets

    small = [b"x" * 100] * 10
    big = [b"y" * 1000]
    col = pa.array(small + big + small, pa.binary())
    slices = _slice_offsets(col, byte_budget=500)
    # every slice under budget (except unavoidable single-row slices)
    assert slices[0] == (0, 5)
    total = sum(hi - lo for lo, hi in slices)
    assert total == len(col)
    for lo, hi in slices:
        size = sum(len(col[i].as_py()) for i in range(lo, hi))
        assert size <= 1000 or hi - lo == 1


def test_job_with_enrichment(spark, pages_path, tmp_path_factory):
    """JobConfig(enrich=True): written output carries the one-pass
    training-data columns, and they agree with the standalone operator on
    the written text."""
    out = str(tmp_path_factory.mktemp("job_enriched"))
    cfg = JobConfig(
        source=pages_path, output=out, n_buckets=4, buckets_per_round=4,
        with_spans=False, enrich=True,
    )
    stats = run_extract_job(spark, cfg)
    assert stats["errors"] == 0
    data = spark.read.parquet(out + "/data")
    for col in ("pred_lang", "n_tokens", "quality_bucket", "winnow_fp"):
        assert col in data.columns
    from htmld_spark.functions.text import winnow_fingerprint

    sample = data.select("url", "text", "winnow_fp").limit(50)
    recomputed = winnow_fingerprint(
        sample.select("url", "text"), id_col="url"
    ).select("url", F.col("winnow_fp").alias("fp2"))
    joined = sample.join(recomputed, "url")
    assert joined.filter(F.col("winnow_fp") != F.col("fp2")).count() == 0


def test_job_pdf_source_format(spark, tmp_path_factory):
    """JobConfig(source_format='pdf'): the deployed job runs the PDF leg
    end to end — bucketed rounds, manifest lineage, resume semantics and
    text byte-identical to the engine — on a (url, warc_ts, pdf) table."""
    import datetime

    from fixtures.gen_pdfs import N_ROWS, draw_pdf_row
    from htmld_spark.engine.pdf import extract_pdf_text

    src = str(tmp_path_factory.mktemp("pdf_pages")) + "/pages.parquet"
    rows = [
        (
            f"https://pdf{i % 7}.example/d{i}",
            datetime.datetime(2024, 2, 1 + i % 25),
            draw_pdf_row(i)[1],
        )
        for i in range(N_ROWS)
    ]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, pdf binary"
    ).write.parquet(src)
    out = str(tmp_path_factory.mktemp("pdf_job_out"))
    shutil.rmtree(out, ignore_errors=True)
    cfg = JobConfig(
        source=src, output=out, n_buckets=4, buckets_per_round=2,
        source_format="pdf",
    )
    stats = run_extract_job(spark, cfg)
    assert stats["rounds"] == 2 and stats["rows_written"] == N_ROWS
    assert stats["errors"] == 0  # every fixture pdf parses
    data = spark.read.parquet(out + "/data")
    assert data.count() == N_ROWS
    expected = {u: extract_pdf_text(p) for u, _ts, p in rows}
    for r in data.select("url", "text", "n_pages").collect():
        assert r.text == expected[r.url] and r.n_pages >= 1
    # re-run resumes to a no-op (manifest covers all buckets)
    stats2 = run_extract_job(spark, cfg)
    assert stats2["done_at_start"] == 4 and stats2["rounds"] == 0


def test_encoding_kernels_e2e(spark):
    """X11 through the Spark surface: extract_df transcodes non-UTF-8
    pages before the parse (one MapInArrow), and sniff_encoding_df
    reports the census verdicts — both against the multi-charset
    fixture's independently composed expectations."""
    from fixtures.gen_encodings import ensure_encodings
    from htmld_spark.functions.udfs import extract_df, sniff_encoding_df

    fx = spark.read.parquet(ensure_encodings())
    out = extract_df(fx.select("url", "html"), with_spans=False)
    j = out.join(
        fx.select("url", F.col("text").alias("expected")), "url"
    )
    assert j.count() == fx.count()
    assert j.filter(F.col("text") != F.col("expected")).count() == 0

    sn = sniff_encoding_df(fx.select("url", "html"))
    k = sn.join(
        fx.select(
            "url",
            F.col("encoding").alias("e_exp"),
            F.col("source").alias("s_exp"),
        ),
        "url",
    )
    assert k.filter(
        (F.col("encoding") != F.col("e_exp"))
        | (F.col("source") != F.col("s_exp"))
    ).count() == 0


@pytest.fixture(scope="module")
def sparse_job(spark, pages_path, tmp_path_factory):
    """A finished two-round job over 12 pages and 32 buckets: most buckets
    receive no rows. The caller's job description is set around the run."""
    src = str(tmp_path_factory.mktemp("sparse_src")) + "/pages.parquet"
    spark.read.parquet(pages_path).orderBy("url", "warc_ts").limit(12).write.parquet(src)
    out = str(tmp_path_factory.mktemp("sparse_job"))
    shutil.rmtree(out, ignore_errors=True)
    cfg = JobConfig(
        source=src, output=out, n_buckets=32, buckets_per_round=16,
        with_spans=False,
    )
    sc = spark.sparkContext
    sc.setJobDescription("caller's description")
    try:
        stats = run_extract_job(spark, cfg)
        description_after = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setJobDescription(None)
    return cfg, stats, description_after


def _bucket_of(path: str) -> int:
    part = next(p for p in path.split("/") if p.startswith("bucket="))
    return int(part[len("bucket="):])


def test_job_manifest_one_row_per_bucket_matches_output(spark, sparse_job):
    """Every bucket, empty ones included, gets exactly one manifest row in
    the declared schema, and its lineage counts equal a recompute from the
    written output."""
    from pyspark.sql.types import StructType

    from htmld_spark.pipeline.job import MANIFEST_DDL

    cfg, stats, description_after = sparse_job
    assert stats["rounds"] == 2 and stats["rows_written"] == 12
    assert description_after == "caller's description"
    m = spark.read.parquet(cfg.manifest_path)
    assert m.schema == StructType.fromDDL(MANIFEST_DDL)
    got = {r["bucket"]: r for r in m.collect()}
    assert m.count() == len(got) == cfg.n_buckets
    data = spark.read.parquet(os.path.join(cfg.output, "data"))
    expected = {
        r["bucket"]: r
        for r in data.groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_bytes").alias("n_bytes"),
            F.sum(F.when(~F.col("parse_ok"), 1).otherwise(0)).alias("n_errors"),
            F.countDistinct("exec_partition_id").alias("n_exec_partitions"),
        )
        .collect()
    }
    assert 0 < len(expected) < cfg.n_buckets  # some buckets received no rows
    for b, r in got.items():
        e = expected.get(b)
        for col in ("n_rows", "n_bytes", "n_errors", "n_exec_partitions"):
            assert r[col] == (e[col] if e else 0), (b, col)
        assert r["input_source"] == cfg.source


def test_job_lineage_reads_only_round_buckets(spark, sparse_job):
    """A later round's lineage read opens only that round's bucket
    directories, not the output of the rounds before it."""
    from htmld_spark.pipeline.job import _round_lineage

    cfg, _, _ = sparse_job
    data = os.path.join(cfg.output, "data")
    written = {_bucket_of(d) for d in os.listdir(data) if d.startswith("bucket=")}
    round1, round2 = list(range(16)), list(range(16, 32))
    assert written & set(round1) and written & set(round2)
    schema = spark.read.parquet(data).schema
    files = _round_lineage(spark, cfg, schema, round2).inputFiles()
    assert {_bucket_of(f) for f in files} == written & set(round2)
    assert _round_lineage(spark, cfg, schema, [b for b in round2 if b not in written]) is None


def test_job_manifest_append_runs_no_python_task(spark, sparse_job):
    """The manifest rows reach the JVM as Arrow: no PythonRDD in the
    manifest DataFrame's RDD lineage, and zeros for an empty bucket."""
    from htmld_spark.pipeline.job import _manifest_df

    cfg, _, _ = sparse_job
    df = _manifest_df(spark, cfg, [3, 4], {3: (5, 700, 1, 2)}, 1234)
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    assert [tuple(r)[:6] for r in df.collect()] == [
        (3, 5, 700, 1, 2, 1234),
        (4, 0, 0, 0, 0, 1234),
    ]


def test_job_raises_on_corrupt_manifest(spark, sparse_job, tmp_path_factory):
    """An unreadable manifest fails the job instead of reading as 'nothing
    done' and silently re-running every bucket."""
    cfg, _, _ = sparse_job
    out = str(tmp_path_factory.mktemp("corrupt_manifest"))
    shutil.rmtree(out)
    shutil.copytree(cfg.output, out)
    copy = JobConfig(
        source=cfg.source, output=out, n_buckets=cfg.n_buckets,
        buckets_per_round=cfg.buckets_per_round, with_spans=False,
    )
    victim = next(f for f in os.listdir(copy.manifest_path) if f.endswith(".parquet"))
    with open(os.path.join(copy.manifest_path, victim), "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run_extract_job(spark, copy)


def test_job_writes_span_offsets_without_dictionary(spark, sparse_job, tmp_path_factory):
    """The job writes the six integer leaves of ``spans`` (high-cardinality
    offsets) without dictionary encoding, and its output reads back equal
    to a default write of the same rows."""
    import glob

    import pyarrow.parquet as pq

    cfg, _, _ = sparse_job
    out = str(tmp_path_factory.mktemp("spans_job"))
    shutil.rmtree(out)
    run_extract_job(spark, JobConfig(source=cfg.source, output=out, n_buckets=2, buckets_per_round=2))
    data = os.path.join(out, "data")
    leaves = {
        f"spans.list.element.{c}"
        for c in ("node_id", "parent_id", "start", "end", "text_start", "text_end")
    }
    spans = []
    for f in glob.glob(os.path.join(data, "bucket=*", "*.parquet")):
        md = pq.read_metadata(f)
        for g in range(md.num_row_groups):
            chunks = (md.row_group(g).column(c) for c in range(md.num_columns))
            spans += [c for c in chunks if c.path_in_schema in leaves]
    assert {c.path_in_schema for c in spans} == leaves
    assert not any(c.has_dictionary_page for c in spans)
    assert not any("DICTIONARY" in e for c in spans for e in c.encodings)

    written = spark.read.parquet(data)
    default = str(tmp_path_factory.mktemp("spans_default")) + "/data"
    written.write.partitionBy("bucket").parquet(default)
    key = ["url", "warc_ts"]
    assert written.count() == 12
    assert (
        spark.read.parquet(default).orderBy(key).collect()
        == written.orderBy(key).collect()
    )


def test_reused_worker_task_reads_no_zip_directory(spark):
    """A Python worker's next task after a document kernel ran in it
    re-reads no zip archive's directory in its setup (PySpark's per-task
    ``importlib.invalidate_caches()``). One-task jobs run until a worker
    comes back; the document function counts ``zipimport._read_directory``
    calls in its worker between its calls."""
    import pyarrow as pa

    from htmld_spark.functions.udfs import _map_docs

    def reads_since_last_call(raw):
        import os
        import zipimport

        count = getattr(zipimport, "_reads_since_last_call", None)
        if count is None:  # this worker's first call: start counting
            count = zipimport._reads_since_last_call = [0]
            stock_read = zipimport._read_directory

            def counted_read(path):
                count[0] += 1
                return stock_read(path)

            zipimport._read_directory = counted_read
            return os.getpid(), -1
        n, count[0] = count[0], 0
        return os.getpid(), n

    schema = pa.schema([("url", pa.string()), ("pid", pa.int64()), ("reads", pa.int64())])
    one_task = spark.range(0, 1, 1, 1).selectExpr("'u' AS url", "CAST('x' AS BINARY) AS html")
    reads = []
    for _ in range(20):
        (row,) = _map_docs(
            one_task, schema, ("url",), ("html",), reads_since_last_call, (None, None)
        ).collect()
        if row["reads"] >= 0:
            reads.append(row["reads"])
        if len(reads) == 2:
            break
    assert reads == [0, 0]
