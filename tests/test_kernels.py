"""The Arrow document kernels of functions/udfs.py: one poison document
never kills a batch, a failure in the middle of a document's spans leaves
the spans column whole, every public ``*_df`` keeps its declared schema,
and the lazy zip-archive invalidate the scaffold installs re-reads only a
changed archive.

The first two drive each kernel's batch function in-process, with no Spark:
``_Frame`` stands in for the DataFrame, so ``*_df(frame)`` returns the
function it would hand to ``mapInArrow``."""

import sys

import pyarrow as pa
import pytest

from fixtures.gen_pdfs import draw_pdf_row
from htmld_spark.engine import dom, encoding, extract, pdf
from htmld_spark.functions import udfs

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

    def mapInArrow(self, fn, schema):
        return fn


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


def _patch_everywhere(monkeypatch, module, name, replacement):
    """Replace ``module.name`` at every binding of it in the package, so a
    kernel sees the replacement however it reaches the function."""
    real = getattr(module, name)
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("htmld_spark") and (
            getattr(mod, name, None) is real
        ):
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
}


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_poison_document_gets_failure_values(kernel, monkeypatch):
    """An engine call raising on one document: the batch completes, every
    other row equals an unpatched run, and the marked document's rows carry
    the kernel's failure values (its pass-through columns unchanged)."""
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
