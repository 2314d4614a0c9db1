"""Page-metadata extraction — the head-metadata leg of the extraction
tier (X10).

A web-scale curation pipeline stores, next to each page's extracted
text, the page's declared metadata: the document title, the meta
description, indexing consent (``<meta name=robots>``), the canonical
URL (the publisher's OWN dedup key — Google/Bing honor it, and a
crawl-dedup layer composes it with L60 url canonicalization), the
declared language and charset, and the OpenGraph card. The rules below
are the public WHATWG/RFC 3986 / ogp.me semantics, pinned exactly so a
fixture can compose expectations independently:

- one pass in document order over the whole tree (a ``<meta>`` in
  ``<body>`` still counts — the forgiving-parser stance);
- ``title``: the FIRST ``<title>`` element's text content (RCDATA —
  entities already decoded by the tokenizer), whitespace-normalized
  (runs of ASCII whitespace collapse to one space, ends stripped).
  Missing element → None; present-but-empty → "".
- ``description`` / ``meta_robots``: the FIRST ``<meta>`` whose
  ``name`` attribute case-insensitively equals ``description`` /
  ``robots`` AND that carries a ``content`` attribute;
  whitespace-normalized; ``meta_robots`` additionally lowercased
  (directive tokens are case-insensitive). Metas without ``content``
  never match; later duplicates are ignored.
- ``canonical_url``: the FIRST ``<link>`` whose ``rel`` attribute,
  split on ASCII whitespace and lowercased, contains the token
  ``canonical`` and that carries an ``href``. The href gets the same
  treatment as an outlink (engine/links.py): markup-whitespace
  pre-processing, RFC 3986 resolution against the effective base (the
  first ``<base href>`` in document order, itself resolved against the
  page url — only a base SEEN BEFORE the canonical link applies),
  fragment stripped, http(s)-only. The first canonical link wins EVEN
  IF unusable (unresolvable / non-http(s) → None — a later canonical
  never resuscitates it), mirroring the first-``<base>``-wins rule.
- ``lang``: the FIRST ``<html>`` element's ``lang`` attribute, ends
  stripped, lowercased (BCP 47 tags are case-insensitive); absent or
  empty-after-strip → None.
- ``charset``: document order, first non-empty of either form —
  ``<meta charset=X>`` (value stripped, lowercased) or
  ``<meta http-equiv=content-type content="...; charset=X">``
  (http-equiv matched case-insensitively; the ``charset=`` parameter
  parsed case-insensitively out of the content value, terminated by
  ``;`` or end, quotes/whitespace stripped, lowercased).
- OpenGraph: every ``<meta>`` whose ``property`` attribute lowercases
  to an ``og:``-prefixed key and that carries ``content``; FIRST
  occurrence per key wins (ogp.me arrays are out of scope — the first
  value is the card value); returned as two parallel lists sorted by
  key. Non-``og:`` properties and ``name=``-keyed cards (twitter:*)
  are not OpenGraph and are ignored.

Engine invariants hold: no Spark imports; never raises on any byte
input (a malformed url / attribute costs only that field).
"""

from __future__ import annotations

import re

from htmld_spark.engine.dom import Document
from htmld_spark.engine.extract import inner_text
from htmld_spark.engine.links import _clean_ref, _resolve
from urllib.parse import urljoin

_WS_RUN = re.compile(rb"[\t\n\x0b\x0c\r ]+")
_CHARSET_PARAM = re.compile(
    r"charset\s*=\s*[\"']?\s*([^\s;\"']+)", re.IGNORECASE
)


def _norm_text(raw: bytes) -> str:
    """Collapse ASCII-whitespace runs to one space, strip ends, decode
    UTF-8 lossily."""
    return _WS_RUN.sub(b" ", raw).strip().decode("utf-8", "replace")


def extract_meta(doc: Document, page_url: str) -> dict:
    """Pinned page-metadata record of ``doc`` (see module docstring).

    Returns a dict with keys title, description, meta_robots,
    canonical_url, lang, charset (str | None) and og_props/og_values
    (parallel lists of str, sorted by property key)."""
    base = page_url or ""
    rebased = False
    title: str | None = None
    description: str | None = None
    meta_robots: str | None = None
    canonical: str | None = None
    canonical_seen = False
    lang: str | None = None
    lang_seen = False
    charset: str | None = None
    og: dict[str, str] = {}
    for nid in doc.descendant_elements(0):
        tag = doc.tag[nid]
        if tag == b"html":
            if not lang_seen:
                lang_seen = True
                v = doc.attr(nid, b"lang")
                if v is not None:
                    s = v.strip(b"\t\n\x0c\r ").decode("utf-8", "replace")
                    lang = s.lower() if s else None
        elif tag == b"base":
            if not rebased:
                href = doc.attr(nid, b"href")
                if href is not None:
                    rebased = True  # first <base href> wins, even if unusable
                    ref = _clean_ref(href)
                    if ref:
                        try:
                            base = urljoin(base, ref.split("#", 1)[0])
                        except ValueError:
                            pass
        elif tag == b"title":
            if title is None:
                title = _norm_text(inner_text(doc, nid))
        elif tag == b"link":
            if not canonical_seen:
                rel = doc.attr(nid, b"rel")
                if rel is None:
                    continue
                tokens = rel.lower().split()
                if b"canonical" not in tokens:
                    continue
                href = doc.attr(nid, b"href")
                if href is None:
                    continue
                canonical_seen = True  # first wins, even if unusable
                ref = _clean_ref(href)
                if ref:
                    canonical = _resolve(base, ref)
        elif tag == b"meta":
            content = doc.attr(nid, b"content")
            name = doc.attr(nid, b"name")
            if name is not None and content is not None:
                key = name.strip(b"\t\n\x0c\r ").lower()
                if key == b"description":
                    if description is None:
                        description = _norm_text(content)
                elif key == b"robots":
                    if meta_robots is None:
                        meta_robots = _norm_text(content).lower()
            prop = doc.attr(nid, b"property")
            if prop is not None and content is not None:
                pkey = prop.strip(b"\t\n\x0c\r ").lower()
                if pkey.startswith(b"og:") and len(pkey) > 3:
                    k = pkey.decode("utf-8", "replace")
                    if k not in og:
                        og[k] = _norm_text(content)
            if charset is None:
                cs = doc.attr(nid, b"charset")
                if cs is not None:
                    s = cs.strip(b"\t\n\x0c\r ").decode("utf-8", "replace")
                    if s:
                        charset = s.lower()
                elif content is not None:
                    he = doc.attr(nid, b"http-equiv")
                    if he is not None and he.strip(
                        b"\t\n\x0c\r "
                    ).lower() == b"content-type":
                        m = _CHARSET_PARAM.search(
                            content.decode("utf-8", "replace")
                        )
                        if m and m.group(1):
                            charset = m.group(1).lower()
    props = sorted(og)
    return {
        "title": title,
        "description": description,
        "meta_robots": meta_robots,
        "canonical_url": canonical,
        "lang": lang,
        "charset": charset,
        "og_props": props,
        "og_values": [og[p] for p in props],
    }
