"""Sitemap parsing (R19) — the seed-discovery leg of the crawl on-ramp
(sitemaps.org protocol, the public spec Google/Bing consume; robots.txt
``Sitemap:`` directives from R18b point here).

``parse_sitemap(body, sitemap_url)`` accepts any byte payload and
returns the entries, pinned exactly so a fixture can compose
expectations independently:

- gzipped payloads (``.xml.gz`` is first-class in the protocol) are
  decompressed with the WARC module's salvaging, bomb-capped member
  reader; non-gzip passes through;
- the document is parsed with the forgiving engine parser (unknown
  elements nest generically; entities and CDATA decode in content);
  the FIRST element named ``urlset`` or ``sitemapindex`` (document
  order, case of the markup irrelevant) decides the document kind;
- ``urlset``: every descendant ``<url>`` element yields one entry of
  ``kind='url'``; ``sitemapindex``: every descendant ``<sitemap>``
  element yields ``kind='sitemap'``. Per entry, the FIRST child
  element of each name wins:
  - ``loc`` (required): text content (entities/CDATA already decoded),
    ASCII-whitespace trimmed, resolved RFC 3986 against the sitemap's
    own url (a relative loc is out-of-spec but forgiven), fragment
    stripped, http(s)-only, ≤ 2048 chars post-resolution — entries
    with no usable loc are DROPPED;
  - ``lastmod``: trimmed text kept verbatim (W3C datetime has several
    valid shapes; casting is downstream's job); empty → None;
  - ``changefreq``: trimmed + lowercased, kept only when it is one of
    the protocol's seven tokens (always hourly daily weekly monthly
    yearly never), else None;
  - ``priority``: trimmed text parsed as a float, kept only when
    finite and within the protocol's [0.0, 1.0], else None (index
    entries never carry changefreq/priority — ignored if present);
- no ``urlset``/``sitemapindex`` root → the PLAIN-TEXT sitemap form:
  each line (after trimming) that resolves to an http(s) url ≤ 2048
  chars yields a ``kind='url'`` entry with no lastmod/changefreq/
  priority; other lines are skipped;
- never raises on any byte input (a malformed entry costs itself).

Spark surface (``sitemap_entries_df``): (url, body[, …]) → exploded
(sitemap_url, pos, kind, loc, lastmod, changefreq, priority) through
ONE mapInArrow crossing — the frontier (L61) consumes loc directly as
candidate urls.
"""

from __future__ import annotations

import math

from htmld_spark.engine import parse_document
from htmld_spark.engine.extract import inner_text
from htmld_spark.engine.links import _resolve
from htmld_spark.sources.warc import _gunzip_members

_MAX_LOC = 2048
_CHANGEFREQS = frozenset(
    ("always", "hourly", "daily", "weekly", "monthly", "yearly", "never")
)
_ASCII_WS = "\t\n\x0b\x0c\r "


def _text_of(doc, nid) -> str:
    return inner_text(doc, nid).decode("utf-8", "replace").strip(_ASCII_WS)


def _usable_loc(raw: str, base: str) -> str | None:
    if not raw:
        return None
    loc = _resolve(base, raw)
    if loc is None or len(loc) > _MAX_LOC:
        return None
    return loc


def parse_sitemap(
    body, sitemap_url: str
) -> list[tuple[str, str | None, str | None, float | None]]:
    """Entries of one sitemap payload as (kind, loc, lastmod,
    changefreq, priority) tuples — see module docstring for the pinned
    rules. Never raises."""
    try:
        data = _gunzip_members(bytes(body or b""))
        base = sitemap_url or ""
        doc = parse_document(data)
        root = None
        for nid in doc.descendant_elements(0):
            if doc.tag[nid] in (b"urlset", b"sitemapindex"):
                root = nid
                break
        out: list[tuple] = []
        if root is None:  # plain-text sitemap: one url per line
            for line in data.decode("utf-8", "replace").splitlines():
                loc = _usable_loc(line.strip(_ASCII_WS), base)
                if loc is not None:
                    out.append(("url", loc, None, None, None))
            return out
        if doc.tag[root] == b"urlset":
            kind, entry_tag = "url", b"url"
        else:
            kind, entry_tag = "sitemap", b"sitemap"
        for nid in doc.descendant_elements(root):
            if doc.tag[nid] != entry_tag:
                continue
            fields: dict[bytes, str] = {}
            for cid in doc.element_children(nid):
                t = doc.tag[cid]
                if t in (b"loc", b"lastmod", b"changefreq", b"priority") \
                        and t not in fields:
                    fields[t] = _text_of(doc, cid)
            loc = _usable_loc(fields.get(b"loc", ""), base)
            if loc is None:
                continue
            lastmod = fields.get(b"lastmod") or None
            changefreq = priority = None
            if kind == "url":
                cf = (fields.get(b"changefreq") or "").lower()
                if cf in _CHANGEFREQS:
                    changefreq = cf
                praw = fields.get(b"priority")
                if praw:
                    try:
                        p = float(praw)
                        if math.isfinite(p) and 0.0 <= p <= 1.0:
                            priority = p
                    except ValueError:
                        pass
            out.append((kind, loc, lastmod, changefreq, priority))
        return out
    except Exception:  # absolute backstop: never raise
        return []


def sitemap_entries_df(df, url_col: str = "url", body_col: str = "body"):
    """Exploded entries of a (sitemap url, payload bytes) frame:
    one row per entry in document order — (sitemap_url, pos, kind, loc,
    lastmod, changefreq, priority). ONE mapInArrow crossing over the
    slim two-column projection; kind='sitemap' rows feed the next fetch
    round (index files), kind='url' rows feed the frontier (L61). A
    payload whose parse raises yields no rows."""
    import pyarrow as pa

    from htmld_spark.functions.udfs import _map_docs

    schema = pa.schema(
        [
            ("sitemap_url", pa.string()),
            ("pos", pa.int32()),
            ("kind", pa.string()),
            ("loc", pa.string()),
            ("lastmod", pa.string()),
            ("changefreq", pa.string()),
            ("priority", pa.float64()),
        ]
    )

    def entries(body, url):
        return [(i, *e) for i, e in enumerate(parse_sitemap(body, url or ""))]

    slim = df.select(url_col, body_col).withColumnRenamed(url_col, "sitemap_url")
    return _map_docs(
        slim, schema, ("sitemap_url",), (body_col, "sitemap_url"), entries, [],
        fanout=True,
    )
