"""``stylesheet_refs`` (the external-CSS corpus join's key list) against
the ``stylesheets`` field of ``extract_document``: the same bytes must
give the same list, under both HTML parsers.

Inputs: every page archetype, the adversarial and route inputs, and
generated ``<head>`` markup that mixes links, bases and styles with the
hazards a second grammar got wrong (commented and unterminated-comment
bases, ``<!--`` and fake bases in script text, ``</script x>``, links in
``<template>``/``<noscript>``, attribute decoys, entity hrefs, empty
bases, media/alternate/disabled links, inline ``@import``, an href
``urljoin`` rejects), encoded as
UTF-8, latin-1 and UTF-16 with a byte-order mark.
"""

from __future__ import annotations

import json
import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from adversarial_pages import ADVERSARIAL, ROUTES  # noqa: E402
from exstruct_spark.kernels.extract import (  # noqa: E402
    extract_document, stylesheet_refs)
from exstruct_spark.pages import (  # noqa: E402
    ARCHETYPES, RICH_ARCHETYPES, build_page, build_rich_page)


def _agrees(url: str, raw: bytes) -> list:
    """The page's ``stylesheets`` list, after asserting that
    ``stylesheet_refs`` gives it too (ok-status records only)."""
    rec = extract_document(url, raw)
    want = json.loads(rec["extraction_json"]).get("stylesheets", [])
    if rec["status"] == "ok":
        assert stylesheet_refs(url, raw) == want, (url, raw)
    return want


def test_corpus_inputs(parser):
    inputs = [(p["url"], p["html"]) for p in
              [build_page(i) for i in range(len(ARCHETYPES))]
              + [build_rich_page(i) for i in range(len(RICH_ARCHETYPES))]]
    inputs += [(f"https://adversarial.example/{name}", raw)
               for name, raw in ADVERSARIAL]
    inputs += [(f"https://routes.example/{name}", raw)
               for name, raw in ROUTES]
    for url, raw in inputs:
        _agrees(url, raw)
    # a PDF carrying link markup still takes the PDF route: no sheets
    assert stylesheet_refs("https://routes.example/x", b"%PDF-1.4\n"
                           b"<link rel=stylesheet href=a.css>") == []


def test_rejected_hrefs_are_skipped(parser):
    """A stylesheet or ``<base>`` href that ``urljoin`` rejects (a
    malformed IPv6 host) is skipped: the page still extracts ``ok``, a
    rejected base falls back to the page URL, and the key list matches
    the record."""
    body = b"<p>Enough visible words for a content block here.</p>"
    cases = [
        (b"<link rel=stylesheet href='http://[x/a.css'>"
         b"<link rel=stylesheet href='b.css'>",
         ["https://b.example/d/b.css"]),
        (b"<base href='http://[x/'><link rel=stylesheet href='b.css'>",
         ["https://b.example/d/b.css"]),
        (b"<style>@import url('http://[x/i.css');</style>", []),
    ]
    for head, want in cases:
        rec = extract_document("https://b.example/d/p", head + body)
        assert (rec["status"], rec["fallback_reason"]) == ("ok", ""), head
        assert _agrees("https://b.example/d/p", head + body) == want, head


def test_imports_after_a_byte_order_mark():
    """A sheet that starts with a byte-order mark kept as text (a
    corpus-joined sheet, or a ``<style>`` block) still lists its
    top-of-sheet imports, as it does without the mark."""
    from exstruct_spark.kernels.extract import _style_import_hrefs

    for sheet in ("@import url(a.css);", "@charset 'utf-8'; @import 'a.css';"):
        assert _style_import_hrefs(sheet) == ["a.css"]
        assert _style_import_hrefs("\ufeff" + sheet) == ["a.css"]
    raw = "<style>\ufeff@import url(a.css);</style>".encode() + (
        b"<p>Enough visible words for a content block here.</p>")
    assert _agrees("https://b.example/d/p", raw) == [
        "https://b.example/d/a.css"]


_BODY = ("</head><body><p>Enough visible words for a content block "
         "here, and then some more.</p></body></html>")

# one entry per hazard; ``{h}`` takes a generated href
_HEAD_PARTS = [
    "<link rel='stylesheet' href='{h}'>",
    '<link rel="stylesheet" href="{h}">',
    "<link rel=stylesheet href={h}>",
    "<link rel=stylesheet href={h}/>",
    "<link rel='Stylesheet' href=' {h} '>",
    "<link rel='alternate stylesheet' href='{h}'>",
    "<link rel='stylesheet' disabled href='{h}'>",
    "<link rel='stylesheet' media='print' href='{h}'>",
    "<link rel='stylesheet' media='not print' href='{h}'>",
    "<link rel='stylesheet' media='screen, print' href='{h}'>",
    "<link rel='stylesheet' data-media='print' href='{h}'>",
    "<link rel=\"stylesheet\" data-href=\"decoy1.css\" href='{h}' "
    "data-x='see href=\"decoy2.css\" there'>",
    "<link rel='stylesheet' data-href='{h}'>",
    "<link rel='preload' href='{h}'>",
    "<link rel='stylesheet' href=''>",
    "<base href='https://cdn.example/css/'>",
    "<base href=\"https://cdn.example/my dir/\">",
    "<base href='{h}'>",
    "<base href=''>",
    "<base target='_blank'>",
    "<!-- <base href='https://commented.example/'> -->",
    "<!-- <link rel=stylesheet href='commented.css'> -->",
    "<script>var x = 1 <!-- 2;</script>",
    "<script>document.write(\"<base href='https://fake/'>\")</script>",
    "<script>var s = \"<base href='https://fake/'>\" </script x>",
    "<script>var l = \"<link rel=stylesheet href='s.css'>\";</script>",
    "<template><link rel=stylesheet href='{h}'>"
    "<base href='https://tpl.example/'></template>",
    "<noscript><link rel=stylesheet href='{h}'>"
    "<base href='https://nos.example/'></noscript>",
    "<style>@import url('{h}');</style>",
    "<style>@import \"{h}\" screen;</style>",
    "<style>@import url({h}) print;</style>",
    "<style media=print>@import url('{h}');</style>",
    "<style>td{color:#000} @import url('{h}');</style>",
    "<style>@charset \"utf-8\"; /* c */ @import url('{h}');</style>",
    "<style>td{x:y}</STYLE ><link rel=stylesheet href='{h}'>",
    "<title>t</title>",
    "<meta name='x' content='y'>",
]
_HREFS = [
    "a.css", "/root.css", "../up.css", "sub/b.css",
    "https://other.example/x.css", "s.css?a=1&amp;b=2", "caf\xe9.css",
    "//proto.example/p.css", "#frag", "a.css", "http://[x/a.css",
]

_head = st.lists(
    st.tuples(st.sampled_from(_HEAD_PARTS), st.sampled_from(_HREFS)),
    max_size=10,
).map(lambda parts: "".join(p.replace("{h}", h) for p, h in parts))


def _encode(text: str, encoding: str) -> bytes:
    if encoding == "utf-16-le":
        return b"\xff\xfe" + text.encode("utf-16-le")
    if encoding == "utf-16-be":
        return b"\xfe\xff" + text.encode("utf-16-be")
    return text.encode(encoding)


@given(head=_head,
       tail=st.sampled_from(["", "<!-- <base href='https://tail.example/'>",
                             "<!-- tail -->"]),
       encoding=st.sampled_from(["utf-8", "latin-1", "utf-16-le",
                                 "utf-16-be"]))
@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_generated_heads(parser, head, tail, encoding):
    raw = _encode("<html><head>" + head + _BODY + tail, encoding)
    _agrees("https://p.example/dir/page", raw)


def test_generated_heads_list_sheets(parser):
    """The hazards above do reach the list: the r7 pins, as fixed
    inputs, each give the sheet a browser applies."""
    cases = [
        ("<!-- <base href='https://cdn.example/'> -->"
         "<link rel='stylesheet' href='s.css'>",
         ["https://p.example/dir/s.css"]),
        ("<script>var x = 1 <!-- 2;</script>"
         "<base href='https://vcdn.example/css/'>"
         "<link rel='stylesheet' href='t.css'>",
         ["https://vcdn.example/css/t.css"]),
        ("<script>var s = \"<base href='https://fake/'>\" </script x>"
         "<base href='https://icdn.example/css/'>"
         "<link rel='stylesheet' href='u.css'>",
         ["https://icdn.example/css/u.css"]),
        ("<link rel='stylesheet' href='s.css?a=1&amp;b=2'>",
         ["https://p.example/dir/s.css?a=1&b=2"]),
        ("<template><link rel=stylesheet href='t.css'></template>"
         "<noscript><link rel=stylesheet href='n.css'></noscript>"
         "<link rel=stylesheet href='caf\xe9.css'>",
         ["https://p.example/dir/caf\xe9.css"]),
        ("<style>@import url('i.css'); td{x:y} @import url('late.css');"
         "</style><link rel=stylesheet media=print href='p.css'>",
         ["https://p.example/dir/i.css"]),
    ]
    for head, want in cases:
        for encoding in ("utf-8", "latin-1", "utf-16-le"):
            raw = _encode("<html><head>" + head + _BODY, encoding)
            assert _agrees("https://p.example/dir/page", raw) == want, (
                head, encoding)
