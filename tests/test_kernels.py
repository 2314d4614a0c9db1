"""The Arrow document kernels, every one a ``udfs._map_docs`` crossing
(functions/udfs.py, sources/, text.compression_ratio, multimodal): one
poison document never kills a batch, a failure in the middle of a
document's spans leaves the spans column whole, keys are the columns a
kernel names, every public ``*_df`` keeps its declared schema, and the
lazy zip-archive invalidate the scaffold installs re-reads only a changed
archive.

The first three drive each kernel's batch function in-process, with no
Spark: ``_Frame`` stands in for the DataFrame (and ``_Spark`` for a
session whose binaryFile reads return one), so ``*_df(frame)`` returns
the function it would hand to ``mapInArrow``."""

import os
import random
import sys
import zlib

import pyarrow as pa
import pytest

from fixtures.gen_media import draw_media_row
from fixtures.gen_pdfs import draw_pdf_row
from htmld_spark.engine import dom, encoding, extract, pdf
from htmld_spark.functions import codecs, multimodal, text, udfs
from htmld_spark.sources import robots, sitemaps, warc

HERE = os.path.dirname(os.path.abspath(__file__))
MARK = b"POISON-DOC"
HTML = [
    b"<html lang=en><head><title>one</title></head>"
    b"<body><main><p>first <a href='/a'>a</a></p></main></body></html>",
    b"<p>" + MARK + b" <a href='https://x.test/'>x</a></p>",
    None,
    b"<head><meta charset=latin1><meta property='og:title' content=t>"
    b"</head><div><p>third</p><a href=/b>b</a></div>",
]
PDFS = [draw_pdf_row(0)[1], draw_pdf_row(1)[1] + b"%" + MARK, draw_pdf_row(2)[1]]


class _Frame:
    def __init__(self, columns):
        self.columns = list(columns)

    def select(self, *cols):
        return _Frame(cols)

    def withColumnRenamed(self, old, new):
        return _Frame([new if c == old else c for c in self.columns])

    def filter(self, condition):
        return self

    def mapInArrow(self, fn, schema):
        return fn


class _Spark:
    def __init__(self):
        self.read = self

    def format(self, source):
        return self

    def load(self, path):
        return _Frame(["path", "modificationTime", "length", "content"])


def _html_batch() -> pa.RecordBatch:
    n = len(HTML)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([f"https://h{i}.test/p" for i in range(n)]),
            pa.array(
                [1_700_000_000_000_000 + i for i in range(n)],
                pa.timestamp("us", "UTC"),
            ),
            pa.array(HTML, pa.binary()),
            pa.array(["text/html; charset=utf-8", None, None, "text/html"]),
        ],
        names=["url", "warc_ts", "html", "content_type"],
    )


def _pdf_batch(key: str) -> pa.RecordBatch:
    keys = (
        pa.array(range(len(PDFS)), pa.int64())
        if key == "pdf_id"
        else pa.array([f"https://h{i}.test/d.pdf" for i in range(len(PDFS))])
    )
    return pa.RecordBatch.from_arrays(
        [keys, pa.array(PDFS, pa.binary())], names=[key, "pdf"]
    )


def _archives(rtype: str, payload) -> list:
    """One WARC archive per HTML document (None stays None), each holding
    two ``rtype`` records whose payloads ``payload`` builds."""

    def record(url, body):
        head = (
            f"WARC/1.0\r\nWARC-Type: {rtype}\r\nWARC-Target-URI: {url}\r\n"
            f"WARC-Date: 2024-03-01T12:00:00Z\r\nContent-Length: {len(body)}"
        )
        return head.encode() + b"\r\n\r\n" + body + b"\r\n\r\n"

    return [
        None if html is None else b"".join(
            record(f"https://h{i}.test/{j}", payload(html)) for j in range(2)
        )
        for i, html in enumerate(HTML)
    ]


def _archive_batch(rtype: str, payload) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array([f"crawl/{i}.warc" for i in range(len(HTML))]),
            pa.array(_archives(rtype, payload), pa.binary()),
        ],
        names=["warc_file", "content"],
    )


def _keyed_batch(key: str, keys, name: str, docs, doc_type) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(keys), pa.array(docs, doc_type)], names=[key, name]
    )


HOSTS = [f"h{i}.test" for i in range(4)]
ROBOTS = [
    b"User-agent: *\nCrawl-delay: 2\nDisallow: /p\nSitemap: https://h0.test/s.xml\n",
    b"User-agent: *\nDisallow: /\n# " + MARK + b"\n",
    None,
    b"User-agent: bot\nCrawl-delay: 5\nAllow: /\n",
]
SITEMAPS = [
    b"<urlset><url><loc>https://h0.test/a</loc><priority>0.5</priority></url>"
    b"<url><loc>/b</loc></url></urlset>",
    b"<!-- " + MARK + b" --><sitemapindex><sitemap><loc>https://h1.test/s.xml"
    b"</loc></sitemap></sitemapindex>",
    None,
    b"https://h3.test/x\nhttps://h3.test/y\n",
]
TEXTS = ["a a a a a a a a a a", "text with " + MARK.decode(), None, ""]
MEDIA_TYPE = pa.struct(
    [(f, pa.int32()) for f in ("width", "height", "sample_rate", "n_frames")]
)


def _media_batch(kind: str) -> pa.RecordBatch:
    """Three media rows of ``kind``, the second one marked."""
    rng = random.Random(7)
    rows = [r for r in (draw_media_row(i, rng)[0] for i in range(9)) if r[1] == kind]
    payloads = [r[2] for r in rows]
    payloads[1] += MARK
    return pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.int64()),
            pa.array(payloads, pa.binary()),
            pa.array([r[3] for r in rows], MEDIA_TYPE),
        ],
        names=["media_id", "payload", "meta"],
    )


def _patch_everywhere(monkeypatch, module, name, replacement):
    """Replace ``module.name`` there and at every binding of it in the
    package, so a kernel sees the replacement however it reaches the
    function."""
    real = getattr(module, name)
    package = [
        mod for mod in list(sys.modules.values())
        if getattr(mod, "__name__", "").startswith("htmld_spark")
    ]
    for mod in [module] + package:
        if getattr(mod, name, None) is real:
            monkeypatch.setattr(mod, name, replacement)
    return real


def _poison(monkeypatch, module, name):
    def poisoned(data, *args, **kwargs):
        if MARK in bytes(data):
            raise RuntimeError("poison document")
        return real(data, *args, **kwargs)

    real = _patch_everywhere(monkeypatch, module, name, poisoned)


def _run(fn, batch) -> list[dict]:
    return pa.Table.from_batches(list(fn(iter([batch])))).to_pylist()


HTML_COLS = ["url", "warc_ts", "html", "content_type"]
MEDIA_COLS = ["media_id", "kind", "payload", "meta"]
# kernel → (its batch function over a frame, input batch, engine call to
# poison, the documented failure values of the marked document)
KERNELS = {
    "extract": (
        lambda: udfs.extract_df(_Frame(HTML_COLS)),
        _html_batch,
        (dom, "parse_document"),
        {"text": "", "n_nodes": 0, "n_spans": 0, "parse_ok": False, "spans": []},
    ),
    "select_count": (
        lambda: udfs.select_count_df(
            _Frame(HTML_COLS), ["p", "a"], names=["n_p", "n_a"]
        ),
        _html_batch,
        (dom, "parse_document"),
        {"n_p": None, "n_a": None},
    ),
    "select_extract": (
        lambda: udfs.select_extract_df(_Frame(HTML_COLS), ["p", "a"], with_html=True),
        _html_batch,
        (dom, "parse_document"),
        {"n_matches": None, "texts": None, "htmls": None},
    ),
    "links": (
        lambda: udfs.extract_links_df(_Frame(HTML_COLS)),
        _html_batch,
        (dom, "parse_document"),
        {"links": [], "anchor_texts": [], "n_links": 0, "parse_ok": False},
    ),
    "meta": (
        lambda: udfs.extract_meta_df(_Frame(HTML_COLS)),
        _html_batch,
        (dom, "parse_document"),
        {
            "title": None, "description": None, "meta_robots": None,
            "canonical_url": None, "lang": None, "charset": None,
            "og_props": [], "og_values": [], "parse_ok": False,
        },
    ),
    "sniff": (
        lambda: udfs.sniff_encoding_df(_Frame(HTML_COLS)),
        _html_batch,
        (encoding, "sniff_encoding"),
        {"encoding": None, "source": None},
    ),
    "pdf_extract": (
        lambda: udfs.extract_pdf_df(_Frame(["pdf_id", "pdf"])),
        lambda: _pdf_batch("pdf_id"),
        (pdf, "extract_pdf"),
        {"text": "", "n_pages": 0, "parse_ok": False},
    ),
    "pdf_pages": (
        lambda: udfs.extract_pdf_pages_df(_Frame(["url", "pdf"])),
        lambda: _pdf_batch("url"),
        (pdf, "extract_pdf"),
        {"text": "", "n_pages": 0, "parse_ok": False},
    ),
    "pdf_info": (
        lambda: udfs.pdf_info_df(_Frame(["pdf_id", "pdf"])),
        lambda: _pdf_batch("pdf_id"),
        (pdf, "pdf_info_ex"),
        {"title": None, "producer": None, "creation_date": None, "encrypted": None},
    ),
    # fan-out kernels whose failing document emits no rows: failure values []
    "warc_pages": (
        lambda: warc.warc_pages_df(_Spark(), "crawl/"),
        lambda: _archive_batch(
            "response",
            lambda html: b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html,
        ),
        (warc, "warc_pages"),
        [],
    ),
    "wet_pages": (
        lambda: warc.wet_pages_df(_Spark(), "crawl/"),
        lambda: _archive_batch("conversion", lambda html: html),
        (warc, "iter_warc_records"),
        [],
    ),
    "robots_directives": (
        lambda: robots.robots_directives_df(_Frame(["host", "robots"]), "bot"),
        lambda: _keyed_batch("host", HOSTS, "robots", ROBOTS, pa.binary()),
        (robots, "parse_robots_directives"),
        {"crawl_delay": None, "sitemaps": None},
    ),
    "robots_verdicts": (
        lambda: robots._robots_verdicts(
            _Frame(["url", "_rb_host", "_rb_txt"]), "*", "url"
        ),
        lambda: pa.RecordBatch.from_arrays(
            [
                pa.array([f"https://h{i}.test/p" for i in range(4)]),
                pa.array(HOSTS),
                pa.array(ROBOTS, pa.binary()),
            ],
            names=["url", "_rb_host", "_rb_txt"],
        ),
        (robots, "parse_robots"),
        {"_rb_keep": None},
    ),
    "sitemap_entries": (
        lambda: sitemaps.sitemap_entries_df(_Frame(["url", "body"])),
        lambda: _keyed_batch(
            "sitemap_url", [f"https://h{i}.test/s.xml" for i in range(4)],
            "body", SITEMAPS, pa.binary(),
        ),
        (sitemaps, "parse_sitemap"),
        [],
    ),
    "compression_ratio": (
        lambda: text.compression_ratio(_Frame(["doc_id", "text"])),
        lambda: _keyed_batch("doc_id", range(4), "text", TEXTS, pa.string()),
        (zlib, "compress"),
        {"n_chars": None, "zlib_ratio": None},
    ),
    "image_features": (
        lambda: multimodal.image_features_df(_Frame(MEDIA_COLS)),
        lambda: _media_batch("image"),
        (codecs, "bmp_channel_means"),
        {
            "width": None, "height": None, "mean_r": None, "mean_g": None,
            "mean_b": None, "phash": None, "decoder": None,
        },
    ),
    "image_resize": (
        lambda: multimodal.image_resize_df(_Frame(MEDIA_COLS)),
        lambda: _media_batch("image"),
        (codecs, "bmp_resize_nn"),
        {"out_w": None, "out_h": None, "resized_md5": None, "decoder": None},
    ),
    "audio_features": (
        lambda: multimodal.audio_features_df(_Frame(MEDIA_COLS)),
        lambda: _media_batch("audio"),
        (codecs, "wav_rms"),
        {"sample_rate": None, "n_samples": None, "rms": None, "decoder": None},
    ),
    "frame_sample": (
        lambda: multimodal.frame_sample_df(_Frame(MEDIA_COLS)),
        lambda: _media_batch("video"),
        (codecs, "decode_rawv_header"),
        [],
    ),
}


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_poison_document_gets_failure_values(kernel, monkeypatch):
    """An engine call raising on one document: the batch completes, every
    other row equals an unpatched run, and the marked document's rows carry
    the kernel's failure values (its keys unchanged), or are gone for a
    fan-out kernel whose failure values are no rows."""
    make_fn, make_batch, (module, name), fail = KERNELS[kernel]
    batch = make_batch()
    expected = _run(make_fn(), batch)
    _poison(monkeypatch, module, name)
    got = _run(make_fn(), batch)

    key = batch.schema.names[0]
    marked = batch.column(0)[1].as_py()
    assert [r for r in got if r[key] != marked] == [
        r for r in expected if r[key] != marked
    ]
    marked_rows = [r for r in got if r[key] == marked]
    if fail == []:
        assert any(r[key] == marked for r in expected) and marked_rows == []
    else:
        assert marked_rows and marked_rows == [
            {**r, **fail} for r in expected if r[key] == marked
        ]


def test_spans_stay_whole_when_a_document_fails_midway(monkeypatch):
    """A document failing after it appended to some of the 7 span column
    lists leaves no ragged columns: the batch still builds, the document
    gets empty spans, and the other rows equal an unpatched run."""
    make_fn, make_batch, _target, fail = KERNELS["extract"]
    batch = make_batch()
    expected = _run(make_fn(), batch)

    def partial(doc, cols):
        if MARK in doc.source:
            cols[0].append(1)
            cols[2].append("p")
            raise MemoryError
        return real(doc, cols)

    real = _patch_everywhere(monkeypatch, extract, "element_span_columns", partial)
    got = _run(make_fn(), batch)
    assert got[1] == {**expected[1], **fail}
    assert got[:1] + got[2:] == expected[:1] + expected[2:]
    assert [r["n_spans"] for r in got] == [len(r["spans"]) for r in got]


def test_keys_are_the_columns_a_kernel_names():
    """meta computes ``lang`` from the page, so an input ``lang`` does not
    overwrite it; extract names ``lang`` as a key and copies it."""
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(["https://a.test/"]),
            pa.array(["de"]),
            pa.array([b"<html lang=en><title>t</title><main><p>x</main>"]),
        ],
        names=["url", "lang", "html"],
    )
    frame = _Frame(batch.schema.names)
    assert _run(udfs.extract_meta_df(frame), batch)[0]["lang"] == "en"
    assert _run(udfs.extract_df(frame), batch)[0]["lang"] == "de"


@pytest.mark.skipif(
    not (3, 10) <= sys.version_info < (3, 13),
    reason="installed on CPython 3.10-3.12 only; 3.13 re-reads lazily itself",
)
def test_lazy_zip_invalidate_rereads_only_a_changed_archive(monkeypatch, tmp_path):
    """Once installed, ``invalidate_caches()`` re-reads a zip archive's
    directory only when the archive's (mtime, size) changed, and a module
    added to the archive in place becomes importable."""
    import importlib.util
    import os
    import zipfile
    import zipimport

    archive = str(tmp_path / "mods.zip")

    def write(*names):
        with zipfile.ZipFile(archive, "w") as z:
            for name in names:
                z.writestr(f"{name}.py", f"NAME = {name!r}\n")

    reads = []
    stock_read = zipimport._read_directory

    def counted_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", udfs._stock_invalidate)
    monkeypatch.setattr(udfs, "_zip_stamps", {})
    write("a")
    importer = zipimport.zipimporter(archive)
    udfs._install_lazy_zip_invalidate()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive]  # the importer's own first read only

    write("a", "b")  # rewritten in place: the size changes
    importer.invalidate_caches()
    assert reads == [archive] * 2
    spec = importer.find_spec("b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.NAME == "b"

    st = os.stat(archive)  # the same size, a later mtime
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive] * 3


# The Spark schemas the public kernels declare, pinned as DDL literals.
SPANS = (
    "spans array<struct<node_id:int, parent_id:int, tag:string, "
    "start:bigint, end:bigint, text_start:bigint, text_end:bigint>>, "
)
EXTRACT_DDL = (
    "url string, warc_ts timestamp, lang string, text string, "
    "n_bytes bigint, n_nodes int, n_spans int, parse_ok boolean, "
    + SPANS + "exec_partition_id int"
)
EXTRACT_NO_SPANS_DDL = EXTRACT_DDL.replace(SPANS, "")
SELECT_EXTRACT_DDL = (
    "url string, {ts}selector string, n_matches int, "
    "texts array<string>, htmls array<string>"
)
PDF_EXTRACT_DDL = (
    "pdf_id bigint, text string, n_pages int, n_bytes bigint, parse_ok boolean"
)
PDF_PAGES_DDL = (
    "url string, warc_ts timestamp, lang string, text string, "
    "n_bytes bigint, n_pages int, parse_ok boolean, exec_partition_id int"
)
PDF_INFO_DDL = (
    "pdf_id bigint, title string, producer string, creation_date string, "
    "encrypted boolean"
)
LINKS_DDL = (
    "url string, warc_ts timestamp, links array<string>, "
    "anchor_texts array<string>, n_links int, parse_ok boolean"
)
META_DDL = (
    "url string, warc_ts timestamp, title string, description string, "
    "meta_robots string, canonical_url string, lang string, "
    "charset string, og_props array<string>, og_values array<string>, "
    "parse_ok boolean"
)
ENCODING_DDL = "url string, encoding string, source string"
WARC_DDL = (
    "url string, warc_ts timestamp, html binary, content_type string, "
    "http_status int, redirect_location string, warc_file string"
)
WET_DDL = "url string, warc_ts timestamp, text string, warc_file string"
ROBOTS_DIRECTIVES_DDL = "host string, crawl_delay double, sitemaps array<string>"
ROBOTS_VERDICTS_DDL = "url string, _rb_keep boolean"
SITEMAP_DDL = (
    "sitemap_url string, pos int, kind string, loc string, "
    "lastmod string, changefreq string, priority double"
)
COMPRESSION_RATIO_DDL = "doc_id bigint, n_chars bigint, zlib_ratio double"
IMAGE_FEATURES_DDL = (
    "media_id bigint, width int, height int, "
    "mean_r double, mean_g double, mean_b double, phash bigint, decoder string"
)
IMAGE_RESIZE_DDL = (
    "media_id bigint, out_w int, out_h int, resized_md5 string, decoder string"
)
AUDIO_FEATURES_DDL = (
    "media_id bigint, sample_rate int, n_samples int, rms double, decoder string"
)
FRAME_SAMPLE_DDL = "media_id bigint, frame_idx int, frame_mean double, frame_bytes int"

OPTIONAL = "warc_ts timestamp, lang string, content_type string"
TS = "warc_ts timestamp, "
HTML_INPUTS = ("url string, html binary", f"url string, {OPTIONAL}, html binary")
PDF_INPUTS = ("pdf_id bigint, pdf binary", f"pdf_id bigint, pdf binary, {OPTIONAL}")
PAGES_PDF_INPUTS = ("url string, pdf binary", f"url string, {OPTIONAL}, pdf binary")
# name → (inputs, call, expected DDL given whether the input has warc_ts)
SCHEMAS = {
    "extract": (HTML_INPUTS, udfs.extract_df, lambda ts: EXTRACT_DDL),
    "extract_no_spans": (
        HTML_INPUTS,
        lambda df: udfs.extract_df(df, with_spans=False),
        lambda ts: EXTRACT_NO_SPANS_DDL,
    ),
    "select_count": (
        HTML_INPUTS,
        lambda df: udfs.select_count_df(df, ["p", "a"], names=["n_p", "n_a"]),
        lambda ts: f"url string, {TS if ts else ''}n_p int, n_a int",
    ),
    "select_count_default_names": (
        HTML_INPUTS,
        lambda df: udfs.select_count_df(df, ["p"]),
        lambda ts: f"url string, {TS if ts else ''}c0 int",
    ),
    "select_extract": (
        HTML_INPUTS,
        lambda df: udfs.select_extract_df(df, ["p"]),
        lambda ts: SELECT_EXTRACT_DDL.format(ts=TS if ts else ""),
    ),
    "links": (HTML_INPUTS, udfs.extract_links_df, lambda ts: LINKS_DDL),
    "meta": (HTML_INPUTS, udfs.extract_meta_df, lambda ts: META_DDL),
    "sniff": (HTML_INPUTS, udfs.sniff_encoding_df, lambda ts: ENCODING_DDL),
    "pdf_extract": (PDF_INPUTS, udfs.extract_pdf_df, lambda ts: PDF_EXTRACT_DDL),
    "pdf_pages": (
        PAGES_PDF_INPUTS, udfs.extract_pdf_pages_df, lambda ts: PDF_PAGES_DDL
    ),
    "pdf_info": (PDF_INPUTS, udfs.pdf_info_df, lambda ts: PDF_INFO_DDL),
    # the binaryFile scan of this directory; its files need not be archives
    "warc_pages": (
        ("path string",),
        lambda df: warc.warc_pages_df(df.sparkSession, HERE),
        lambda ts: WARC_DDL,
    ),
    "wet_pages": (
        ("path string",),
        lambda df: warc.wet_pages_df(df.sparkSession, HERE),
        lambda ts: WET_DDL,
    ),
    "robots_directives": (
        ("host string, robots binary",),
        robots.robots_directives_df,
        lambda ts: ROBOTS_DIRECTIVES_DDL,
    ),
    "robots_verdicts": (
        ("url string, _rb_host string, _rb_txt binary",),
        lambda df: robots._robots_verdicts(df, "*", "url"),
        lambda ts: ROBOTS_VERDICTS_DDL,
    ),
    "sitemap_entries": (
        ("url string, body binary",),
        sitemaps.sitemap_entries_df,
        lambda ts: SITEMAP_DDL,
    ),
    "compression_ratio": (
        ("doc_id bigint, text string",),
        text.compression_ratio,
        lambda ts: COMPRESSION_RATIO_DDL,
    ),
    "image_features": (
        (multimodal.MEDIA_SCHEMA,),
        multimodal.image_features_df,
        lambda ts: IMAGE_FEATURES_DDL,
    ),
    "image_resize": (
        (multimodal.MEDIA_SCHEMA,),
        multimodal.image_resize_df,
        lambda ts: IMAGE_RESIZE_DDL,
    ),
    "audio_features": (
        (multimodal.MEDIA_SCHEMA,),
        multimodal.audio_features_df,
        lambda ts: AUDIO_FEATURES_DDL,
    ),
    "frame_sample": (
        (multimodal.MEDIA_SCHEMA,),
        multimodal.frame_sample_df,
        lambda ts: FRAME_SAMPLE_DDL,
    ),
}


@pytest.fixture(scope="module")
def spark():
    from htmld_spark.pipeline.session import get_spark

    s = get_spark(master="local[1]", app_name="pytest_kernels")
    yield s
    s.stop()


@pytest.mark.parametrize("kernel", sorted(SCHEMAS))
def test_public_kernel_schemas_are_pinned(kernel, spark):
    from pyspark.sql.types import StructType

    inputs, call, ddl = SCHEMAS[kernel]
    for in_ddl in inputs:
        out = call(spark.createDataFrame([], in_ddl))
        assert out.schema == StructType.fromDDL(ddl("warc_ts" in in_ddl)), in_ddl
