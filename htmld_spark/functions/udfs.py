"""Arrow document kernels: the engine inside one ``mapInArrow`` (SURVEY.md §2.B).

Every per-document crossing of the package is one call of the scaffold
``_map_docs``: the kernels here (extract, select_count, select_extract,
pdf_extract, pdf_pages, pdf_info, links, meta and the charset sniff), the
``sources/`` readers (WARC and WET records, robots.txt directives and
verdicts, sitemap entries), ``text.compression_ratio`` and the four
``multimodal`` media kernels. A kernel states four things:

- its output schema, written once as an Arrow schema (the Spark schema is
  derived from it with ``from_arrow_schema``);
- its keys: the schema columns copied from the input row, wherever they
  stand in the schema. Keys are named by the kernel, never inferred from
  a column's name: ``META_SCHEMA`` computes a ``lang`` that an input
  ``lang`` column must not overwrite;
- a per-document function over the kernel's input columns, returning the
  values of the output columns the scaffold does not fill;
- the values it emits when a document fails.

The scaffold owns the rest of the JVM → Python crossing, which happens
once per Arrow batch, never per row (BASELINE.json input_hint:
"vectorized pandas/Arrow UDFs (no per-row Python)"):

- Column lookup. Keys pass through from the input, as typed nulls when
  the input lacks them; an absent optional input reaches the
  per-document function as None, a null document as ``b""`` (``""`` for
  a string document).
- Byte-budget slicing (R4). Each input batch is processed and emitted in
  slices whose summed document bytes stay under a budget, which bounds
  worker memory whatever ``spark.sql.execution.arrow.maxRecordsPerBatch``
  is and keeps output streaming when one input batch holds MiB blobs.
- The columns it can fill itself: ``n_bytes`` (the document's size),
  ``spans`` (accumulated columnar, no per-span Python objects) and
  ``exec_partition_id`` (one TaskContext lookup per task).
- The Arrow build, including fan-out: a kernel may emit any number of
  rows per document, whose keys are taken from their source row.

One error policy for every kernel: a document whose function raises never
kills the task. The exception is logged, the document's partial spans are
dropped, and it emits the kernel's failure values — ``parse_ok`` false
where the schema has that column, null computed columns where it does
not. A fan-out kernel's failure value is a list of rows, empty for the
``sources/`` readers and the frame sampler.

Kernels call engine functions through their modules (``dom.parse_document``
rather than a name bound at import), so a wrapper installed on an engine
module, such as a timer or a test's fault injection, sees every call.

The scaffold's first call in a Python worker also makes the worker's
per-task ``importlib.invalidate_caches()`` cheap; see
``_install_lazy_zip_invalidate``.

The one ``mapInArrow`` outside the scaffold that reads documents is
``sources.warc.wet_export``: a per-partition sink that writes one file
and emits one manifest row per task, not a row per document.
"""

from __future__ import annotations

import itertools
import logging
import os
import sys
import zipimport
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql.pandas.types import from_arrow_schema

from htmld_spark.engine import dom, encoding, extract, links, meta, selector

DEFAULT_BYTE_BUDGET = 32 << 20  # 32 MiB of raw documents per processing slice

SPAN_TYPE = pa.struct(
    [
        ("node_id", pa.int32()),
        ("parent_id", pa.int32()),
        ("tag", pa.string()),
        ("start", pa.int64()),
        ("end", pa.int64()),
        ("text_start", pa.int64()),
        ("text_end", pa.int64()),
    ]
)

_TS = pa.timestamp("us")
_STRINGS = pa.list_(pa.string())
_FILLED = ("n_bytes", "spans", "exec_partition_id")
_log = logging.getLogger(__name__)


def _slice_offsets(html_col, byte_budget: int) -> list[tuple[int, int]]:
    """Split a batch's rows into [start, end) slices whose summed html bytes
    stay under ``byte_budget`` (always ≥1 row per slice). Lengths come from
    one vectorized kernel — no per-row Arrow scalar objects."""
    lens = pc.binary_length(html_col).fill_null(0).to_pylist()
    n = len(lens)
    slices = []
    start = 0
    acc = 0
    for i, ln in enumerate(lens):
        if acc + ln > byte_budget and i > start:
            slices.append((start, i))
            start = i
            acc = 0
        acc += ln
    if start < n:
        slices.append((start, n))
    return slices


class _SpanColumns:
    """One slice's ``spans`` column, accumulated columnar: the engine appends
    each document's spans to 7 flat lists (SPAN_TYPE order), and each
    document closes one list offset."""

    def __init__(self):
        self.cols = tuple([] for _ in SPAN_TYPE)
        self.offsets = [0]

    def end_doc(self, ok: bool) -> None:
        if not ok:
            # a failure mid-document can leave the lists at different
            # lengths; cut them all back to the last closed document
            for col in self.cols:
                del col[self.offsets[-1]:]
        self.offsets.append(len(self.cols[0]))

    def array(self) -> pa.Array:
        struct = pa.StructArray.from_arrays(
            [pa.array(col, f.type) for col, f in zip(self.cols, SPAN_TYPE)],
            fields=list(SPAN_TYPE),
        )
        return pa.ListArray.from_arrays(pa.array(self.offsets, pa.int32()), struct)


# Each archive's (mtime_ns, size) when its directory was last read. It
# belongs with zipimport's own process-wide _zip_directory_cache.
_zip_stamps: dict[str, tuple[int, int] | None] = {}


def _zip_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


_stock_invalidate = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _lazy_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's central
    directory only when its (mtime, size) changed since the last read.
    Importers of one archive share the re-read directory."""
    stamp = _zip_stamp(self.archive)  # taken before the read: a later change re-reads
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _zip_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    _zip_stamps[self.archive] = stamp


def _install_lazy_zip_invalidate() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` lazy in this process.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and on CPython 3.10-3.12 each ``zipimporter`` then re-reads
    its archive's whole central directory: 16 importers, mostly over
    ``pyspark.zip`` (1,328 entries), cost ~0.26 s per task on a 4-core
    host. With the lazy
    version a task re-reads only an archive whose (mtime, size) changed, so
    a ``--py-files`` zip replaced on disk is still picked up. CPython 3.13
    already defers the re-read to the next lookup; there this does nothing.

    Called from a task, right after the worker's stock invalidate re-read
    every cached archive, so their current stamps describe the cache."""
    if not (3, 10) <= sys.version_info < (3, 13):
        return
    if zipimport.zipimporter.invalidate_caches is _lazy_invalidate:
        return
    for archive in list(zipimport._zip_directory_cache):
        _zip_stamps[archive] = _zip_stamp(archive)
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate
    _log.info("lazy zipimporter.invalidate_caches active in worker %d", os.getpid())


def _map_docs(
    df,
    schema: pa.Schema,
    keys: tuple[str, ...],
    inputs: tuple[str, ...],
    doc,
    fail,
    fanout: bool = False,
    byte_budget: int = DEFAULT_BYTE_BUDGET,
):
    """Run ``doc`` over every document of ``df`` in one ``mapInArrow``.

    ``doc(*row)`` gets the values of the ``inputs`` columns, the first being
    the document, and returns the values of the schema's computed columns
    in schema order: those that are neither ``keys`` nor ``n_bytes``,
    ``spans`` or ``exec_partition_id``. When the schema has ``spans``, the
    slice's span column lists come as one more argument. With ``fanout``,
    ``doc`` returns a list of such tuples, one output row each. ``fail`` is
    what a document whose ``doc`` raises emits instead."""
    names = schema.names
    n_computed = sum(n not in keys and n not in _FILLED for n in names)
    with_spans = "spans" in names

    def doc_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _install_lazy_zip_invalidate()
        ctx = TaskContext.get()
        partition_id = ctx.partitionId() if ctx is not None else -1
        for batch in batches:
            cols = dict(zip(batch.schema.names, batch.columns))
            for lo, hi in _slice_offsets(cols[inputs[0]], byte_budget):
                n = hi - lo
                blobs = cols[inputs[0]].slice(lo, n)
                args = [blobs.fill_null(b"").to_pylist()] + [
                    cols[c].slice(lo, n).to_pylist() if c in cols else [None] * n
                    for c in inputs[1:]
                ]
                spans = _SpanColumns() if with_spans else None
                extra = (spans.cols,) if with_spans else ()
                # per-column lists, not a row tuple kept per document: kept
                # containers would set off the cyclic GC every ~700 documents
                columns: list[list] = [[] for _ in range(n_computed)]
                src: list[int] = []
                for i, row in enumerate(zip(*args)):
                    ok = True
                    try:
                        out = doc(*row, *extra)
                    except Exception:
                        _log.warning(
                            "%s failed on a document", doc.__qualname__, exc_info=True
                        )
                        ok, out = False, fail
                    if with_spans:
                        spans.end_doc(ok)
                    if fanout:
                        src += [i] * len(out)
                    else:
                        out = (out,)
                    for rec in out:
                        for col, v in zip(columns, rec):
                            col.append(v)

                n_out = len(src) if fanout else n
                if not n_out:  # a fan-out slice that emitted nothing
                    continue
                take = pa.array(src, pa.int32()) if fanout else None
                computed = iter(columns)
                arrays = []
                for f in schema:
                    if f.name in keys:
                        col = cols.get(f.name)
                        if col is None:
                            arr = pa.nulls(n_out, f.type)
                        else:
                            arr = col.slice(lo, n)
                            arr = arr.take(take) if fanout else arr
                    elif f.name == "n_bytes":
                        arr = pc.binary_length(blobs).fill_null(0).cast(pa.int64())
                    elif f.name == "spans":
                        arr = spans.array()
                    elif f.name == "exec_partition_id":
                        arr = pa.array([partition_id] * n_out, pa.int32())
                    else:
                        arr = pa.array(next(computed), f.type)
                    arrays.append(arr)
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(doc_batches, from_arrow_schema(schema))


def _parse(raw: bytes) -> dom.Document:
    return dom.parse_document(encoding.to_utf8(raw)[0])


_PAGE_KEYS = ("url", "warc_ts")


def _keys(df) -> list[tuple[str, pa.DataType]]:
    """(url[, warc_ts]) — warc_ts only when the input has it."""
    return [("url", pa.string())] + (
        [("warc_ts", _TS)] if "warc_ts" in df.columns else []
    )


# ----------------------------------------------------------------- HTML leg

EXTRACT_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", _TS),
        ("lang", pa.string()),
        ("text", pa.string()),
        ("n_bytes", pa.int64()),
        ("n_nodes", pa.int32()),
        ("n_spans", pa.int32()),
        ("parse_ok", pa.bool_()),
        ("spans", pa.list_(SPAN_TYPE)),
        ("exec_partition_id", pa.int32()),
    ]
)


def _extract_doc(raw, content_type, spans=None):
    # X11: charset sniff + UTF-8 normalization BEFORE the parse (zero-copy
    # when the input already validates as UTF-8; an HTTP Content-Type
    # charset outranks the meta prescan). Spans index the normalized bytes.
    utf8 = encoding.to_utf8(raw, encoding.content_type_charset(content_type))[0]
    doc = dom.parse_document(utf8)
    text = extract.main_text(doc).decode("utf-8", "replace")
    n_spans = 0 if spans is None else extract.element_span_columns(doc, spans)
    return text, doc.n_nodes(), n_spans, True


def extract_df(df, with_spans: bool = True, byte_budget: int = DEFAULT_BYTE_BUDGET):
    """Apply the extraction engine to a pages DataFrame (url, html[, warc_ts,
    lang, content_type]) → extracted DataFrame. The single JVM↔Python
    boundary of the pipeline (SURVEY.md §3.4). A failing document gets
    text "", n_nodes 0, n_spans 0, empty spans and parse_ok false."""
    schema = EXTRACT_SCHEMA
    if not with_spans:
        schema = schema.remove(schema.get_field_index("spans"))
    return _map_docs(
        df, schema, _PAGE_KEYS + ("lang",), ("html", "content_type"), _extract_doc,
        ("", 0, 0, False), byte_budget=byte_budget,
    )


def select_count_df(df, selectors: list[str], names: list[str] | None = None):
    """Count CSS-selector matches per document: (url[, warc_ts], <name>
    int...). Selectors are compiled ONCE here on the driver and shipped in
    the closure — compile-once/match-many, the analog of the reference's
    Selector.parse reuse (SURVEY.md §3.2). A failing document gets null
    counts."""
    if names is None:
        names = [f"c{i}" for i in range(len(selectors))]
    compiled = [selector.compile_selector(s) for s in selectors]

    def count(raw):
        doc = _parse(raw)
        return tuple(
            sum(1 for _ in selector.query_select_all(doc, sel)) for sel in compiled
        )

    schema = pa.schema(_keys(df) + [(n, pa.int32()) for n in names])
    return _map_docs(df, schema, _PAGE_KEYS, ("html",), count, (None,) * len(compiled))


def select_extract_df(
    df, selectors: list[str], max_matches: int = 20, with_html: bool = False
):
    """The reference's primary per-document workflow — querySelectorAll →
    innerText/outerHTML (SURVEY.md §3.2/§3.3) — surfaced relationally: one
    row per (url[, warc_ts], selector) with the first ``max_matches``
    matched texts (and markup when ``with_html``). Selectors compile once
    on the driver. A failing document gets its selector rows with null
    n_matches, texts and htmls."""
    compiled = [(s, selector.compile_selector(s)) for s in selectors]

    def select(raw):
        doc = _parse(raw)
        rows = []
        for sel_str, sel in compiled:
            nodes = list(
                itertools.islice(selector.query_select_all(doc, sel), max_matches)
            )
            texts = [
                extract.inner_text(doc, n).decode("utf-8", "replace") for n in nodes
            ]
            htmls = (
                [extract.outer_html(doc, n).decode("utf-8", "replace") for n in nodes]
                if with_html
                else None
            )
            rows.append((sel_str, len(nodes), texts, htmls))
        return rows

    schema = pa.schema(
        _keys(df)
        + [
            ("selector", pa.string()),
            ("n_matches", pa.int32()),
            ("texts", _STRINGS),
            ("htmls", _STRINGS),
        ]
    )
    fail = [(s, None, None, None) for s, _ in compiled]
    return _map_docs(df, schema, _PAGE_KEYS, ("html",), select, fail, fanout=True)


LINKS_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", _TS),
        ("links", _STRINGS),
        ("anchor_texts", _STRINGS),
        ("n_links", pa.int32()),
        ("parse_ok", pa.bool_()),
    ]
)


def _links_doc(raw, url):
    pairs = links.extract_links_with_text(_parse(raw), url or "")
    return [p[0] for p in pairs], [p[1] for p in pairs], len(pairs), True


def extract_links_df(df):
    """Outlinks of a pages frame (engine/links.py): (url, html[, warc_ts]) →
    (url, warc_ts, links, anchor_texts, n_links, parse_ok), links in
    document order with the parallel anchor-text array (links[i] ↔
    anchor_texts[i] — the retrieval-training pair view). Downstream
    frontier policy (dedup, robots, host budgets) and anchor-pair
    harvesting compose on the array columns with ordinary relational ops
    (arrays_zip + posexplode stay JVM-side). A failing document gets empty
    arrays, n_links 0 and parse_ok false."""
    return _map_docs(
        df, LINKS_SCHEMA, _PAGE_KEYS, ("html", "url"), _links_doc, ([], [], 0, False)
    )


# X10: page metadata
META_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", _TS),
        ("title", pa.string()),
        ("description", pa.string()),
        ("meta_robots", pa.string()),
        ("canonical_url", pa.string()),
        ("lang", pa.string()),
        ("charset", pa.string()),
        ("og_props", _STRINGS),
        ("og_values", _STRINGS),
        ("parse_ok", pa.bool_()),
    ]
)
_META_KEYS = META_SCHEMA.names[2:-1]


def _meta_doc(raw, url):
    record = meta.extract_meta(_parse(raw), url or "")
    return (*(record[k] for k in _META_KEYS), True)


def extract_meta_df(df):
    """Page metadata of a pages frame (engine/meta.py): (url, html[,
    warc_ts]) → one row per page with the pinned head-metadata record
    (title, description, robots consent, canonical url, lang, charset, the
    OpenGraph card as parallel sorted arrays). Downstream policy
    (canonical-vs-L60 dedup keys, consent filtering on meta_robots,
    language routing) composes with ordinary relational ops. A failing
    document gets null strings, empty OpenGraph arrays and parse_ok
    false."""
    fail = (None,) * 6 + ([], [], False)
    # lang is computed from the page: not a key, whatever the input has
    return _map_docs(df, META_SCHEMA, _PAGE_KEYS, ("html", "url"), _meta_doc, fail)


# X11: charset sniff census
ENCODING_SCHEMA = pa.schema(
    [("url", pa.string()), ("encoding", pa.string()), ("source", pa.string())]
)


def _sniff_doc(raw, content_type):
    return encoding.sniff_encoding(raw, encoding.content_type_charset(content_type))


def sniff_encoding_df(df):
    """Charset census of a pages frame (X11, engine/encoding.py): (url,
    html) → (url, encoding, source) where ``encoding`` is the pinned
    Python codec the normalizer would decode with (WHATWG labels folded:
    latin1→cp1252, shift_jis→cp932, …) and ``source`` is bom / meta /
    utf-8 / fallback — plus ``transport`` when the frame carries a
    ``content_type`` column (WARC ingest) whose charset parameter
    resolves. Row-local; the corpus encoding-mix report (GROUP BY encoding
    downstream) stays JVM-side. A failing document gets null encoding and
    source."""
    in_cols = ["url", "html"] + (
        ["content_type"] if "content_type" in df.columns else []
    )
    return _map_docs(
        df.select(*in_cols), ENCODING_SCHEMA, ("url",), ("html", "content_type"),
        _sniff_doc, (None, None),
    )


# ------------------------------------------------------------------ PDF leg

PDF_EXTRACT_SCHEMA = pa.schema(
    [
        ("pdf_id", pa.int64()),
        ("text", pa.string()),
        ("n_pages", pa.int32()),
        ("n_bytes", pa.int64()),
        ("parse_ok", pa.bool_()),
    ]
)
PDF_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", _TS),
        ("lang", pa.string()),
        ("text", pa.string()),
        ("n_bytes", pa.int64()),
        ("n_pages", pa.int32()),
        ("parse_ok", pa.bool_()),
        ("exec_partition_id", pa.int32()),
    ]
)
_PDF_FAIL = ("", 0, False)


def _pdf_doc(raw):
    # the PDF engine is imported on use: at module level it would cost every
    # Python worker of an HTML-only job ~2 MB and ~10 ms
    from htmld_spark.engine import pdf

    text, n_pages = pdf.extract_pdf(raw)
    return text, n_pages, n_pages > 0


def extract_pdf_df(df):
    """Apply the PDF extraction engine (engine/pdf.py — the north rule's
    "PDF/layout parse") to a (pdf_id, pdf) DataFrame → (pdf_id, text,
    n_pages, n_bytes, parse_ok); parse_ok is false when no page parses. A
    failing document gets text "", n_pages 0 and parse_ok false."""
    return _map_docs(df, PDF_EXTRACT_SCHEMA, ("pdf_id",), ("pdf",), _pdf_doc, _PDF_FAIL)


def extract_pdf_pages_df(df, byte_budget: int = DEFAULT_BYTE_BUDGET):
    """The pages-shaped PDF kernel — the curation-pipeline twin of
    ``extract_df``: (url, pdf[, warc_ts, lang]) → the HTML kernel's
    pass-through shape, so ``curate(source='pdf')`` drops into the same
    downstream plan. Failure values as ``extract_pdf_df``."""
    return _map_docs(
        df, PDF_PAGES_SCHEMA, _PAGE_KEYS + ("lang",), ("pdf",), _pdf_doc, _PDF_FAIL,
        byte_budget=byte_budget,
    )


PDF_INFO_SCHEMA = pa.schema(
    [
        ("pdf_id", pa.int64()),
        ("title", pa.string()),
        ("producer", pa.string()),
        ("creation_date", pa.string()),
        ("encrypted", pa.bool_()),
    ]
)


def _pdf_info_doc(raw):
    from htmld_spark.engine import pdf

    info, encrypted = pdf.pdf_info_ex(raw)
    return info.get("Title"), info.get("Producer"), info.get("CreationDate"), encrypted


def pdf_info_df(df):
    """Document-metadata extraction (engine/pdf.pdf_info_ex — trailer
    /Info with a keyed-dict fallback, one parse per doc): (pdf_id, pdf) →
    (pdf_id, title, producer, creation_date, encrypted), nulls where
    absent. Encrypted documents (standard security handler, §7.6) report
    encrypted=true with null metadata — their Info strings are
    ciphertext, and mojibake must not enter the corpus. A failing document
    gets nulls in all four columns."""
    return _map_docs(
        df, PDF_INFO_SCHEMA, ("pdf_id",), ("pdf",), _pdf_info_doc, (None,) * 4
    )
