"""WARC (ISO 28500 — the Common Crawl container format) → pages rows.

The pipeline's mandated INPUT is the tabular pages schema (url,
warc_ts, html, lang); this module is the on-ramp that lands raw crawl
archives into it, Spark-first: ``spark.read.format("binaryFile")`` over
``*.warc(.gz)`` files → ONE mapInArrow pass parsing each archive's
records → pages rows (no per-row Python, no driver-side file loops —
each executor task parses whole archive files from its scan split).

The record parser follows the public ISO 28500 / WARC 1.1 layout and is
TOLERANT like the HTML/PDF engines — it never raises on any byte input:

- gzip archives are per-record gzip MEMBERS (the Common Crawl layout);
  multi-member streams decompress member-by-member and a corrupt member
  salvages what decoded before it;
- each record: ``WARC/1.x`` version line, CRLF header block,
  ``Content-Length`` payload, CRLF CRLF separator. A wrong or missing
  Content-Length resyncs by scanning for the next ``\\r\\nWARC/`` marker
  (truncated/corrupt records cost themselves, never the archive);
- only ``WARC-Type: response`` records become pages; the HTTP response
  payload is split at its header/body boundary and the BODY — after
  undoing the HTTP transfer/content codings the capture preserved — is
  the html column (bytes, exactly as the engine wants them);
  WARC-Target-URI and WARC-Date (ISO 8601) become url and warc_ts; the
  HTTP ``Content-Type`` value rides along as content_type — its mime
  drives non-html response filtering (``html_pages``) and its charset
  parameter feeds X11's transport-level encoding step downstream;
- HTTP bodies are DECODED per RFC 9112/9110: ``Transfer-Encoding:
  chunked`` framing (hex size lines interleaved with content) is
  removed, and ``Content-Encoding: gzip/x-gzip/deflate`` bodies are
  inflated (salvaging a truncated/corrupt prefix, bomb-capped). Real
  Common Crawl response records store the raw capture, so skipping this
  step splices chunk-size lines into the markup. Unknown codings (br,
  zstd — no codec in the stdlib) pass the raw bytes through.

All decompression is BOMB-CAPPED: a crafted high-ratio flate stream
truncates at the cap instead of exhausting executor memory.
"""

from __future__ import annotations

import zlib
from datetime import datetime, timezone

_MAX_HEADER_BLOCK = 64 << 10  # a sane cap on one record's header block
_MAX_BODY_BYTES = 64 << 20  # per-body inflate cap (truncate-and-salvage)
_MAX_ARCHIVE_BYTES = 4 << 30  # whole-archive decompressed cap


def _bounded_inflate(data: bytes, wbits: int, cap: int) -> tuple[bytes, object]:
    """Inflate ≤ ``cap`` bytes via incremental decompressobj chunks
    (never a single unbounded ``decompress``); salvage whatever decoded
    before a corruption or the cap. Returns (bytes, decompressobj) so
    multi-member callers can read ``eof`` / ``unused_data``."""
    d = zlib.decompressobj(wbits=wbits)
    out = bytearray()
    buf = data
    while buf:
        try:
            out += d.decompress(buf, 1 << 20)
        except zlib.error:
            break
        if len(out) >= cap:
            del out[cap:]
            break
        if d.eof:
            break
        buf = d.unconsumed_tail
    return bytes(out), d


def _gunzip_members(data: bytes, cap: int = _MAX_ARCHIVE_BYTES) -> bytes:
    """Decompress a (possibly multi-member) gzip stream; salvage every
    member that decodes before a corrupt one; truncate at ``cap`` bytes
    total (decompression-bomb guard). Non-gzip input passes through
    unchanged."""
    if data[:2] != b"\x1f\x8b":
        return data
    # member-by-member via decompressobj(wbits=31): each call decodes ONE
    # gzip member and leaves the rest in unused_data, so a corrupt member
    # costs itself only. (GzipFile.read spans members internally and
    # discards every already-decoded byte when a later member raises.)
    out = bytearray()
    buf = bytes(data)
    while buf[:2] == b"\x1f\x8b" and len(out) < cap:
        dec, d = _bounded_inflate(buf, 31, cap - len(out))
        out += dec
        if not d.eof:  # truncated/corrupt/capped member: prefix salvaged
            break
        buf = d.unused_data
    return bytes(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().decode("latin-1").lower()] = (
                v.strip().decode("latin-1")
            )
    return headers


def iter_warc_records(data: bytes):
    """Yield (headers: dict[lowercased str, str], payload: bytes) per
    record. Tolerant: bad Content-Length or truncation resyncs at the
    next record marker; never raises."""
    try:
        data = _gunzip_members(bytes(data))
    except Exception:
        return
    i = 0
    n = len(data)
    while i < n:
        start = data.find(b"WARC/", i)
        if start == -1:
            return
        head_end = data.find(b"\r\n\r\n", start, start + _MAX_HEADER_BLOCK)
        if head_end == -1:
            # no header terminator within the cap: this record is junk,
            # but later records must not pay for it — resync at the next
            # record marker (the documented tolerance contract).
            nxt = data.find(b"\r\nWARC/", start + 1)
            if nxt == -1:
                return
            i = nxt + 2
            continue
        headers = _parse_headers(data[start:head_end])
        body_start = head_end + 4
        length = None
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            pass
        if (
            length is not None
            and 0 <= length <= n - body_start
            and (
                data[body_start + length : body_start + length + 2]
                in (b"\r\n", b"")
            )
        ):
            payload = data[body_start : body_start + length]
            i = body_start + length
        else:  # bogus length: resync at the next record marker
            nxt = data.find(b"\r\nWARC/", body_start)
            payload = data[body_start : nxt if nxt != -1 else n]
            i = (nxt + 2) if nxt != -1 else n
        yield headers, payload


def _dechunk(body: bytes) -> bytes:
    """Remove ``Transfer-Encoding: chunked`` framing (RFC 9112 §7.1):
    hex chunk-size lines (optionally with ;extensions) interleaved with
    chunk data, terminated by a 0-size chunk (trailers ignored).
    Tolerant: malformed framing salvages every chunk decoded before it;
    never raises."""
    out = bytearray()
    i = 0
    n = len(body)
    while i < n:
        eol = body.find(b"\r\n", i, i + 1024)
        if eol == -1:
            break  # no size line where one is due: salvage the prefix
        size_tok = body[i:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            break  # corrupt size line: salvage the prefix
        if size <= 0:
            break  # terminal chunk (trailers, if any, are not content)
        chunk = body[eol + 2 : eol + 2 + size]
        out += chunk
        if len(chunk) < size:
            break  # truncated final chunk: keep what arrived
        i = eol + 2 + size + 2  # skip the CRLF that ends the chunk data
    return bytes(out)


def _decode_content(body: bytes, coding: str) -> bytes:
    """Undo one content coding (RFC 9110 §8.4.1). gzip/x-gzip and
    deflate (zlib-wrapped, falling back to raw per the long-standing
    server bug the RFC notes) inflate with salvage + the bomb cap;
    identity/unknown codings (br, zstd — no stdlib codec) pass raw
    bytes through. Never raises."""
    coding = coding.strip().lower()
    if coding in ("gzip", "x-gzip"):
        out, _d = _bounded_inflate(body, 31, _MAX_BODY_BYTES)
        return out if out else body
    if coding == "deflate":
        out, _d = _bounded_inflate(body, 15, _MAX_BODY_BYTES)
        if not out:  # raw-deflate servers omit the zlib wrapper
            out, _d = _bounded_inflate(body, -15, _MAX_BODY_BYTES)
        return out if out else body
    return body


def _http_body(payload: bytes) -> tuple[bytes, str | None, int | None, str | None]:
    """HTTP response payload → (decoded body bytes, Content-Type header
    value, status code, Location header value — the latter three None
    when absent): split at the header/body boundary, remove chunked
    transfer framing, undo gzip/deflate content codings (RFC 9112/9110 —
    real Common Crawl response records store the raw capture). A payload
    without a status line (bare content) passes through whole with no
    status. The envelope fields ride along because downstream needs
    them: mime → non-html filtering; charset → X11 transport encoding;
    status → error-page exclusion (a 404's html body is an error page,
    not content) and robots reachability semantics; Location → redirect
    edges. Never raises."""
    if payload[:5] not in (b"HTTP/", b"http/"):
        return payload, None, None, None
    sep = payload.find(b"\r\n\r\n")
    if sep == -1:
        return payload, None, None, None
    headers = _parse_headers(payload[:sep])
    content_type = headers.get("content-type") or None
    status = None
    try:
        status = int(payload[:sep].split(b"\r\n", 1)[0].split()[1])
    except (IndexError, ValueError):
        pass
    location = headers.get("location") or None
    body = payload[sep + 4 :]
    # Transfer codings, outermost last (RFC 9112 §6.1): chunked is
    # required to be final, so undo it first, then any stacked codings.
    te = [c.strip().lower() for c in
          headers.get("transfer-encoding", "").split(",") if c.strip()]
    if te and te[-1] == "chunked":
        body = _dechunk(body)
        te = te[:-1]
    for coding in reversed(te):
        body = _decode_content(body, coding)
    # Content codings, applied in listed order → undone in reverse.
    ce = [c.strip() for c in
          headers.get("content-encoding", "").split(",") if c.strip()]
    for coding in reversed(ce):
        body = _decode_content(body, coding)
    return body, content_type, status, location


def _warc_ts(value: str):
    """WARC-Date (ISO 8601, e.g. 2024-03-01T12:00:00Z) → naive-UTC
    datetime (TIMESTAMP_NTZ convention of the pages table); None when
    unparseable."""
    try:
        dt = datetime.fromisoformat(value.replace("Z", "+00:00"))
        return dt.astimezone(timezone.utc).replace(tzinfo=None)
    except (ValueError, AttributeError):
        return None


def warc_pages(data: bytes):
    """All response-record pages of one WARC archive: (url, warc_ts,
    html bytes, content_type, http_status, redirect_location) tuples.
    ``redirect_location`` is the Location header RESOLVED against the
    capture url (RFC 9110 allows relative Locations) — resolution
    happens here, inside the one parse crossing, so the redirect-edge
    table downstream is pure relational work. Never raises."""
    from urllib.parse import urljoin

    out = []
    try:
        for headers, payload in iter_warc_records(data):
            if headers.get("warc-type", "").lower() != "response":
                continue
            url = headers.get("warc-target-uri")
            if not url:
                continue
            body, ctype, status, location = _http_body(payload)
            redirect = None
            if location is not None:
                try:
                    redirect = urljoin(url, location.strip())
                except ValueError:
                    redirect = location
            out.append(
                (url, _warc_ts(headers.get("warc-date", "")), body, ctype,
                 status, redirect)
            )
    except Exception:
        pass
    return out


def warc_pages_df(spark, path: str):
    """Read ``*.warc`` / ``*.warc.gz`` archives into the mandated pages
    shape: binaryFile scan (one task per archive file — the scan split IS
    the parallelism unit) → one mapInArrow parse. Shuffle nothing; feed
    the result straight to ``extract_df`` or ``curate()``. An archive
    whose parse raises yields no rows."""
    import pyarrow as pa

    from htmld_spark.functions.udfs import _map_docs

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("content_type", pa.string()),
            ("http_status", pa.int32()),
            ("redirect_location", pa.string()),
            ("warc_file", pa.string()),
        ]
    )
    return _map_docs(
        _archives(spark, path), schema, ("warc_file",), ("content",), warc_pages,
        [], fanout=True,
    )


def _archives(spark, path: str):
    """(warc_file, content) rows of the archives under ``path``."""
    raw = spark.read.format("binaryFile").load(path)
    return raw.select("path", "content").withColumnRenamed("path", "warc_file")


_HTML_MIMES = ("text/html", "application/xhtml+xml")


def html_pages(df, content_type_col: str = "content_type",
               status_col: str = "http_status"):
    """Keep the rows an HTML-extraction pipeline should parse: mime
    (the Content-Type value before any ``;`` parameter, trimmed +
    lowercased) is text/html or application/xhtml+xml, or the header is
    ABSENT (bare/headerless captures are overwhelmingly html in real
    crawls; the forgiving parser is the cheap arbiter) — AND the HTTP
    status is 2xx or absent (R17c: a 404's html body is an ERROR PAGE
    and a 301's is a stub — neither is corpus content; harvest 3xx rows
    with ``redirect_edges`` instead). Everything else is dropped BEFORE
    the html binary travels anywhere. Row-local codegen predicate: no
    shuffle, no Python crossing, pushable to the scan."""
    from pyspark.sql import functions as F

    col = F.col(content_type_col)
    mime = F.lower(F.trim(F.substring_index(col, ";", 1)))
    keep = col.isNull() | mime.isin(*_HTML_MIMES)
    if status_col in df.columns:
        st = F.col(status_col)
        keep = keep & (st.isNull() | st.between(200, 299))
    return df.filter(keep)


def redirect_edges(df, url_col: str = "url"):
    """Redirect map of a crawl (R17c): 3xx responses with a Location →
    (url, redirect_location, http_status) edges — the input for
    canonical-url resolution, frontier chasing, and dead-link repair.
    Location is already absolute (the parse crossing resolved relative
    forms against the capture url). Row-local pushable filter on the
    skinny envelope columns; the html binary is pruned away."""
    from pyspark.sql import functions as F

    st = F.col("http_status")
    return df.filter(
        st.between(300, 399) & F.col("redirect_location").isNotNull()
    ).select(url_col, "redirect_location", "http_status")


# --- L66: WET-style conversion-record export (the corpus OUT-ramp) -----

WET_MANIFEST_SCHEMA = "warc_file string, n_records bigint, n_bytes bigint"


def wet_export(df, out_dir: str, url_col: str = "url",
               text_col: str = "text", ts_col: str = "warc_ts"):
    """Write extracted text as WET-style shards — ISO 28500
    ``conversion`` records (the Common Crawl WET layout: one gzip
    member per record, ``Content-Type: text/plain; charset=utf-8``,
    Content-Length framing so arbitrary text — embedded newlines, even
    literal ``WARC/1.0`` — round-trips), one ``part-<partition>.warc.gz``
    file per input partition. Returns the lazy manifest frame
    (warc_file, n_records, n_bytes) — counting it IS the export action.

    ONE mapInArrow sink pass: each task streams its partition into its
    own shard (no driver collect, no shuffle — repartition upstream to
    choose the shard count/size). Files land on the task-local
    filesystem at ``out_dir``; on a multi-executor cluster point
    ``out_dir`` at a shared mount, or lift the ``open()`` to the
    Hadoop-FS API (documented single seam). Re-runs overwrite
    deterministically-named shards. NULL text exports as empty (a
    document with no text is still a record); NULL urls are skipped
    (a conversion record without WARC-Target-URI is unaddressable)."""
    import gzip
    import os

    import pyarrow as pa

    os.makedirs(out_dir, exist_ok=True)
    has_ts = ts_col in df.columns
    cols = [url_col, text_col] + ([ts_col] if has_ts else [])

    def export_batches(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        n_records = 0
        n_bytes = 0
        with open(path, "wb") as f:
            for batch in batches:
                names = batch.schema.names
                urls = batch.column(names.index(url_col)).to_pylist()
                texts = batch.column(names.index(text_col)).to_pylist()
                tss = (
                    batch.column(names.index(ts_col)).to_pylist()
                    if has_ts
                    else [None] * len(urls)
                )
                for u, t, ts in zip(urls, texts, tss):
                    if u is None:
                        continue
                    body = (t or "").encode("utf-8")
                    head = [b"WARC/1.0", b"WARC-Type: conversion"]
                    head.append(
                        b"WARC-Target-URI: "
                        + u.encode("utf-8", "replace")
                    )
                    if ts is not None:
                        head.append(
                            b"WARC-Date: "
                            + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode()
                        )
                    head.append(
                        b"Content-Type: text/plain; charset=utf-8"
                    )
                    head.append(b"Content-Length: %d" % len(body))
                    rec = (
                        b"\r\n".join(head) + b"\r\n\r\n" + body + b"\r\n\r\n"
                    )
                    f.write(gzip.compress(rec, 6))
                    n_records += 1
                    n_bytes += len(body)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([path], pa.string()),
                pa.array([n_records], pa.int64()),
                pa.array([n_bytes], pa.int64()),
            ],
            names=["warc_file", "n_records", "n_bytes"],
        )

    return df.select(*cols).mapInArrow(export_batches, WET_MANIFEST_SCHEMA)


def _wet_records(data: bytes) -> list[tuple]:
    """(url, warc_ts, text) of each addressable ``conversion`` record of
    one WET archive, the text decoded as UTF-8 (what the records declare
    and what ``wet_export`` writes)."""
    out = []
    for headers, payload in iter_warc_records(data):
        url = headers.get("warc-target-uri")
        if url and headers.get("warc-type", "").lower() == "conversion":
            ts = _warc_ts(headers.get("warc-date", ""))
            out.append((url, ts, payload.decode("utf-8", "replace")))
    return out


def wet_pages_df(spark, path: str):
    """Read WET-style shards back: binaryFile scan → one mapInArrow over
    ``conversion`` records (same tolerant reader as the response path —
    member salvage, Content-Length resync). The inverse of
    ``wet_export``. An archive whose parse raises yields no rows."""
    import pyarrow as pa

    from htmld_spark.functions.udfs import _map_docs

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("text", pa.string()),
            ("warc_file", pa.string()),
        ]
    )
    return _map_docs(
        _archives(spark, path), schema, ("warc_file",), ("content",), _wet_records,
        [], fanout=True,
    )
