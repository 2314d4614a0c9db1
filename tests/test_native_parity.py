"""Parity gate for the C accelerator (engine/_native.c).

The native module is a performance twin of tokenize+DOMBuilder /
element_span_columns / main_text for the DEFAULT option set. These tests
pin FULL-ARENA equality (every Document column, not just derived text)
between the C and pure-Python paths over fixture pages, edge-case
constructs, and seeded fuzz corpora. If the native module is unavailable
(no toolchain), the engine silently runs pure Python — the parity tests
skip, and everything else still passes.
"""

from __future__ import annotations

import glob
import os
import random

import pytest

from htmld_spark.engine.dom import _parse_document_python, parse_document
from htmld_spark.engine.extract import (
    _find_container,
    element_span_columns,
    main_text,
    main_text_node,
)

try:
    from htmld_spark.engine.native import get_native

    NATIVE = get_native()
except Exception:  # pragma: no cover
    NATIVE = None

pytestmark = pytest.mark.skipif(
    NATIVE is None, reason="native accelerator unavailable (no C toolchain)"
)

ARENA_FIELDS = (
    "kind", "tag", "tag_raw", "attrs", "content", "parent", "first_child",
    "last_child", "next_sib", "prev_sib", "raw_start", "raw_end",
    "text_start", "text_end",
)


def assert_arena_equal(html: bytes) -> None:
    a = parse_document(html)  # native (default options)
    b = _parse_document_python(html)
    for f in ARENA_FIELDS:
        assert getattr(a, f) == getattr(b, f), (f, html[:120])
    assert a.total_text_len == b.total_text_len, html[:120]
    # derived surfaces too: main_text (native) vs python walk, spans
    assert main_text(a) == main_text_node(b, _find_container(b)), html[:120]
    ca: tuple = ([], [], [], [], [], [], [])
    cb: tuple = ([], [], [], [], [], [], [])
    na = element_span_columns(a, ca)
    nb = _py_span_columns(b, cb)
    assert na == nb and ca == cb, html[:120]


def _py_span_columns(doc, cols):
    """Pure-python replica of the pre-native element_span_columns body."""
    kind = doc.kind
    c_nid, c_pid, c_tag, c_s, c_e, c_ts, c_te = cols
    n = 0
    for nid in range(1, len(kind)):
        if kind[nid] == 1:  # ELEM
            c_nid.append(nid)
            c_pid.append(doc.parent[nid])
            c_tag.append(doc.tag[nid].decode("utf-8", "replace"))
            c_s.append(doc.raw_start[nid])
            c_e.append(doc.raw_end[nid])
            c_ts.append(doc.text_start[nid])
            c_te.append(doc.text_end[nid])
            n += 1
    return n


EDGE_CASES = [
    b"", b"<", b"</", b"<!", b"<?", b"<a", b"<a ", b"<a b", b"<a b=",
    b"<a b='x", b'<a b="x', b"<a b=x", b"<a/>", b"<a />", b"<a/ >", b"<a//>",
    b"<a b c>", b"<a b=c d='e' f=\"g\">", b"<a B=C>", b"<A B='&amp;'>",
    b"<a b='&amp'>", b"<a b='&#65;'>", b"<a b='&#xD800;'>",
    b"<a b='&#1114112;'>", b"<a b='&#0;'>", b"&amp;", b"&amp", b"&#65;",
    b"&notareal;", b"&;", b"&#x;", b"&#;", b"x&amp;y&lt;z", b"<p>a<p>b",
    b"<ul><li>a<li>b</ul>", b"<table><tr><td>a<td>b<tr><td>c</table>",
    b"<b><i>x</b></i>", b"<script>a<b>&amp;</script>", b"<SCRIPT>x</SCRIPT>",
    b"<script>x</script y>", b"<script>x</scripty></script>",
    b"<title>&amp;</title>", b"<textarea><b></textarea>",
    b"<style>p{}</style>", b"<xmp><p></xmp>", b"<!-- c -->", b"<!--->",
    b"<!-->", b"<!---->", b"<!-- -- -->", b"<![CDATA[x]]>", b"<![CDATA[x",
    b"<!doctype html>", b"<!DOCTYPE html>", b"<!decl>", b"<?pi?>", b"<?pi>",
    b"<?>", b"<??>", b"</ x>", b"</>", b"<1>", b"< a>", b"<a b=`x`>",
    b"<a b=x/>", b"<a b=\"x\"/>", b"<a 'q'>", b"<a =x>", b"<a ==>",
    b"<a b = c >", b"<br>", b"<br/>", b"<hr><p>x", b"<p>x<hr>",
    b"<option>a<option>b", b"<optgroup><option>a<optgroup>", b"<td>x",
    b"</b>", b"<div><p>x</div>y", b"<a\x00b>", b"\x00<a>\xff",
    b"<a href='x' href='y'>", b"<a HREF='x' href='y'>",
    b"<em>&CounterClockwiseContourIntegral;</em>", b"<a b='&#X41;'>",
    b"&#x41;&#X42;", b"<p>&#128169;</p>", b"<a b>",
    b"<script><!--</script>-->", b"<textarea>&notareal;&amp;</textarea>",
    b"<a b=c", b"<a b='c'", b"x<y>z", b"<a><b><c></a>", b"<li><p>t<li>",
    b"<dt>a<dd>b<dt>c", b"<thead><tr><td>x<tbody>", b"<p><table></table>",
    # container-ladder cases (main_text)
    b"<div id=main>x</div>", b"<div id=content>y</div>",
    b"<div class='a main-content b'>z</div>", b"<div class=content>w</div>",
    b"<div role=main>r</div>", b"<div role='main x'>no</div>",
    b"<main>m</main><article>a</article>", b"<body>b</body>",
    b"<p role>x</p><div role=''>never</div>", b"<span ROLE=main>u</span>",
    b"<div CLASS='content'>c</div>", b"<div class='\x0bcontent\x0c'>c</div>",
    b"<div id='main '>no</div><div id=main>yes</div>",
    b"x\xc2\xa0\xc2y", b"a\xc2\xa0b", b"<p>\xc2</p>", b"<p> \x0b x \x0b </p>",
    b"<figure>f</figure><p>p", b"<p>a<figure>b</figure>",
]


def test_edge_cases():
    for h in EDGE_CASES:
        assert_arena_equal(h)


def test_fixture_sample():
    import pyarrow.parquet as pq

    from htmld_spark.engine.encoding import to_utf8

    files = sorted(
        glob.glob(
            os.path.join(
                os.path.dirname(__file__), "..",
                "fixtures/data/sf0.01/pages.parquet/*.parquet",
            )
        )
    )
    if not files:  # pragma: no cover - fixture not generated yet
        from fixtures.gen_pages import ensure_pages

        files = sorted(glob.glob(os.path.join(ensure_pages("0.01"), "*.parquet")))
    n = 0
    for f in files:
        for h in pq.read_table(f, columns=["html"]).column("html").to_pylist():
            assert_arena_equal(to_utf8(h)[0])
            n += 1
    assert n > 0


def test_markup_soup_fuzz():
    rng = random.Random(42)
    alphabet = list(b"<>/=\"' \t\n\x0b\x0c&;#abAB10!?-[]CDATAxscriptmainbody\xc2\xa0")
    for _ in range(1500):
        h = bytes(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        assert_arena_equal(h)


def test_random_bytes_fuzz():
    rng = random.Random(7)
    for _ in range(600):
        h = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 200)))
        assert_arena_equal(h)


def test_fallback_path_still_works(monkeypatch):
    """With the native module disabled, parse_document uses pure Python."""
    import htmld_spark.engine.dom as dom_mod

    monkeypatch.setattr(dom_mod, "_NATIVE", None)
    monkeypatch.setattr(dom_mod, "_NATIVE_TRIED", True)
    d = dom_mod.parse_document(b"<p>x</p>")
    assert d.n_nodes() == 3


def test_native_engine_builds_from_the_py_files_zip(tmp_path):
    """A ``spark-submit --py-files`` deployment: with only the built zip on
    the path, outside the repo and with an empty build cache, the package
    imports from the zip and compiles the C engine from the source shipped
    inside it."""
    import subprocess
    import sys

    from tools.package_pyfiles import main as build_zip

    zip_path = build_zip()
    env = {k: v for k, v in os.environ.items() if k != "HTMLD_SPARK_NATIVE"}
    env.update(PYTHONPATH=zip_path, XDG_CACHE_HOME=str(tmp_path / "cache"))
    probe = (
        "import htmld_spark\n"
        "from htmld_spark.engine import native\n"
        "print(htmld_spark.__file__)\n"
        "print(native.get_native() is not None)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout.splitlines()
    assert out[0].startswith(zip_path + os.sep)
    assert out[1] == "True"
