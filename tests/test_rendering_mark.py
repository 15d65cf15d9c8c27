"""One rendering rule: what a browser does not render is no content.

``css.mark_unrendered`` marks (``Node.unrendered``) every subtree whose
effective attrs are ``dom.is_invisible``, and the extraction walk marks
every ``<template>``/``<noscript>`` subtree, once per document; a text
walk started on a rendered node skips a marked child and every
rendered-content family drops marked nodes.  The oracle of the
differential below is the extraction of the same markup with the hidden
subtrees cut out first.  Everything runs under both parsers and both
text walks (the ``parser`` fixture).
"""

from __future__ import annotations

import json
import os
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from adversarial_pages import ADVERSARIAL  # noqa: E402
from exstruct_spark.kernels import extract  # noqa: E402
from exstruct_spark.kernels.css import StyleResolver  # noqa: E402
from exstruct_spark.kernels.extract import extract_document  # noqa: E402

BLOCK = "Enough visible words for a content block here, kept."


def extraction(html: str) -> tuple:
    rec = extract_document("https://r.example/p", html.encode())
    assert rec["status"] == "ok", rec["fallback_reason"]
    return rec["main_text"], json.loads(rec["extraction_json"])


# -- the leaks, one family at a time ---------------------------------------
@pytest.mark.parametrize("html, path, want", [
    (f"<p>{BLOCK}<span style='display:none'>SECRET1</span></p>",
     "main_text", BLOCK),
    ("<table><tr><td>a<span style='display:none'>SECRET2</span></td>"
     "<td>b</td></tr></table>", ("tables", 0, "rows", 0, "c"),
     {"0": "a", "1": "b"}),
    ("<figure><img src='/f.png'><figcaption>cap <span hidden>SECRETCAP"
     "</span></figcaption></figure>", ("images", 0, "caption"), "cap"),
    (f"<style>.h{{display:none}}</style><main><div class=h><p>SECRET "
     f"{BLOCK}</p></div><p>{BLOCK}</p></main>", "main_text", BLOCK),
    (f"<style>.h{{display:none}}</style><div class=h><a href='/secret'>"
     f"s</a></div><a href='/shown'>t</a><p>{BLOCK}</p>", ("links_map",),
     {"/shown": [4]}),
    (f"<style>.h{{display:none}}</style><div class=h><img src='/s.png' "
     f"alt='secret img'></div><img src='/v.png'><p>{BLOCK}</p>",
     ("images",), [{"src": "/v.png"}]),
    ("<style>.h{display:none}</style><div class=h><svg><rect x=0 y=0 "
     "width=9 height=9></rect><text x=1 y=1>SECRET</text></svg></div>"
     "<svg><rect x=0 y=0 width=9 height=9></rect></svg>", ("shapes",),
     [{"id": 1, "l": 0.0, "t": 0.0, "w": 9.0, "h": 9.0}]),
    ("<style>.h{display:none}</style><section><h2 class=h>SECRET</h2>"
     "<h2>Shown</h2><p>x</p></section>", ("sections", 0, "title"),
     "Shown"),
    ("<ul><li>one<ul><li>two <span hidden>SECRET</span></li>"
     "<li style='visibility:hidden'>SECRET</li></ul></li></ul>",
     ("lists",), [{"text": "one", "nodes": [{"text": "two"}]}]),
    ("<ul><li>o<span hidden>SECRET</span>ne<ul><li>t<b hidden>SECRET</b>"
     "<i hidden>SECRET</i>wo</li></ul></li></ul>",
     ("lists",), [{"text": "one", "nodes": [{"text": "two"}]}]),
    (f"<template><article><p>SECRET {BLOCK}</p></article></template>"
     f"<div style='display:none'><main><p>SECRET {BLOCK}</p></main></div>"
     f"<main><p>{BLOCK}</p></main>", "main_text", BLOCK),
])
def test_hidden_content_reaches_no_family(parser, html, path, want):
    main_text, ex = extraction(html)
    got = main_text
    if path != "main_text":
        got = ex
        for key in path:
            got = got[key]
    assert got == want
    ex.pop("class_map", None)
    assert "SECRET" not in main_text + json.dumps(ex)
    assert "secret" not in json.dumps(ex)


@pytest.mark.parametrize("name", ["hidden_descendants",
                                  "unrendered_content_root"])
def test_adversarial_hidden_inputs(parser, name):
    """Nothing hidden or inert in the two fingerprint inputs reaches a
    rendered family (``class_map`` and ``title`` read the markup)."""
    rec = extract_document("https://r.example/a",
                           dict(ADVERSARIAL)[name])
    ex = json.loads(rec["extraction_json"])
    ex.pop("class_map", None)
    seen = rec["main_text"] + json.dumps(ex, ensure_ascii=False)
    for word in ("SECRET", "secret", "HIDDEN", "class-hidden",
                 "visibility-hidden", "hidden list", "hidden inner",
                 "VCELL", "v link", "v img", "Template article",
                 "Hidden main"):
        assert word not in seen, word
    assert rec["main_text"]


def test_links_map_drops_links_of_a_display_none_menu(parser):
    """``links_map`` follows the one rendering rule: a hover menu hidden
    with ``display:none`` until a pointer opens it gives no links, like
    every other hidden subtree (the crawl's link graph sees what a
    reader sees on load)."""
    html = ("<nav><ul><li><a href='/top'>Top</a><ul style='display:none'>"
            "<li><a href='/menu-item'>Item</a></li></ul></li></ul></nav>"
            f"<p>{BLOCK}</p>")
    _, ex = extraction(html)
    assert list(ex["links_map"]) == ["/top"]


def test_a_marked_node_read_by_itself_keeps_its_text(parser):
    """A walk started on a marked node reads it: a hidden microdata
    ``itemprop`` value keeps its text, while a hidden child inside a
    rendered value is skipped.  Only the boundary of a hidden subtree is
    cut, so a read started inside one (a hidden microdata scope, a
    hidden figure's caption and axis title) keeps its nested text."""
    html = ("<div itemscope itemtype='https://schema.org/Product'>"
            "<span itemprop=name>Widget<b hidden>SECRET</b></span>"
            "<span itemprop=ratingValue style=display:none>4.5</span>"
            f"</div><p>{BLOCK}</p><div style=display:none itemscope "
            "itemtype='https://schema.org/Product'><span itemprop=name>"
            "Widget <b>Pro</b></span><div itemprop=description><p>a</p>"
            "<p>b</p></div></div><div hidden><figure><svg><rect x=1 y=1 "
            "width=5 height=5></rect><text class=y-axis>Sales <tspan>EUR"
            "</tspan></text></svg><figcaption>Chart <b>two</b></figcaption>"
            "</figure></div>")
    _, ex = extraction(html)
    assert [d["props"] for d in ex["structured_data"]] == [
        {"name": "Widget", "ratingValue": "4.5"},
        {"name": "Widget Pro", "description": "a b"}]
    chart = ex["charts"][0]
    assert (chart["title"], chart["y_axis_title"]) == ("Chart two",
                                                       "Sales EUR")


def test_degraded_text_skips_hidden_markup(parser):
    """A page with no content block falls back to the text of its
    markup; the markup of its hidden subtrees is cut out first."""
    main_text, _ = extraction(
        "<div>short <span hidden>SECRET</span>text<div class=h>SECRET</div>"
        "</div><style>.h{visibility:hidden}</style>")
    assert main_text == "short text"


# -- cost: a page that cannot hide anything pays nothing ---------------------
def _mark_probe(monkeypatch) -> dict:
    """Counts ``effective_attrs`` calls made inside the mark step and
    the nodes it leaves marked, for the next ``extract_document``."""
    probe = {"calls": 0, "marked": None}
    inside = []
    real_eff = StyleResolver.effective_attrs
    real_mark = extract.mark_unrendered

    def counting_eff(self, node):
        if inside:
            probe["calls"] += 1
        return real_eff(self, node)

    def mark(root, candidates, css=None):
        inside.append(1)
        try:
            return real_mark(root, candidates, css)
        finally:
            inside.clear()
            probe["marked"] = sum(n.unrendered for n in root.iter())

    monkeypatch.setattr(StyleResolver, "effective_attrs", counting_eff)
    monkeypatch.setattr(extract, "mark_unrendered", mark)
    return probe


def test_mark_step_costs_nothing_without_candidates(monkeypatch):
    """Rules with no declaration that can hide (layout ``display``
    values, ``visibility:visible``, ``[hidden]{display:none}``, whose
    nodes are candidates by their own attrs) and nodes without
    ``hidden``/``style``: the mark step resolves no node and marks
    nothing.  The controls, a rule that declares ``display:none``, an
    inline style and a hiding rule keyed on an attribute, make it
    resolve and mark (the last, only the node carrying the attribute)."""
    head = ("<style>.k{background:#eee} td{border:1px solid #000}"
            "#i{border-top:1px solid} .row{display:flex} img{display:block}"
            " div{display:BLOCK} *{visibility:visible} [hidden]{display:none}"
            " p[hidden]{display:none!important}</style>")
    body = (f"<div class=k id=i><p>{BLOCK}</p><table><tr><td>a</td>"
            "<td>b</td></tr></table></div>")
    probe = _mark_probe(monkeypatch)
    extract_document("https://r.example/c", (head + body).encode())
    assert (probe["calls"], probe["marked"]) == (0, 0)

    ruled = head.replace(".k{background:#eee}", ".k{display:none}")
    extract_document("https://r.example/c", (ruled + body).encode())
    assert probe["calls"] > 0 and probe["marked"] > 0
    inline = body.replace("<td>b", "<td style='display:none'>b")
    probe["calls"] = 0
    extract_document("https://r.example/c", (head + inline).encode())
    assert (probe["calls"], probe["marked"]) == (1, 1)
    keyed = head.replace(".k{background:#eee}", "[data-off]{display:none}")
    attr = body.replace("<td>b", "<td data-off>b")
    probe["calls"] = 0
    extract_document("https://r.example/c", (keyed + attr).encode())
    assert (probe["calls"], probe["marked"]) == (1, 1)


# -- the differential: hidden subtrees read as cut-out markup ----------------
STYLE = ("<style>.h{display:none} .v{visibility:hidden} #x{display:none}"
         " .k{background:#eeeeee} .u{display:block}</style>")
# how an element is hidden: attribute, inline style or class/id rule
HIDES = [" hidden", ' style="display:none"', ' style="visibility:hidden"',
         ' class="h"', ' class="v k"', ' id="x"']
# attrs of a rendered element: some make it a candidate that stays
PLAIN = ["", "", "", ' class="k"', ' class="u"', ' style="color:red"']
WORDS = ["alpha", "beta gamma", "é漢", "12", "3.5", BLOCK]


@st.composite
def page(draw) -> tuple:
    """``(markup, markup with its hidden elements cut out)``."""
    n = {"id": 0}

    def element(tag, inner: tuple, void: bool = False) -> tuple:
        n["id"] += 1
        hidden = draw(st.integers(0, 4)) == 0
        attrs = draw(st.sampled_from(HIDES if hidden else PLAIN))
        if tag == "a":
            attrs += f' href="/l{n["id"]}"'
        elif tag == "img":
            attrs += f' src="/i{n["id"]}.png" alt="img {n["id"]}"'
        if void:
            shown = f"<{tag}{attrs}>"
            return shown, "" if hidden else shown
        shown = f"<{tag}{attrs}>{inner[0]}</{tag}>"
        return shown, "" if hidden else f"<{tag}{attrs}>{inner[1]}</{tag}>"

    def join(parts: list) -> tuple:
        sep = draw(st.sampled_from(["", " "]))
        return sep.join(p[0] for p in parts), sep.join(p[1] for p in parts)

    def inline(depth: int, in_a: bool = False) -> tuple:
        kinds = ["word", "word", "img"] + (["span"] if depth < 3 else []) + (
            ["a"] if depth < 3 and not in_a else [])
        kind = draw(st.sampled_from(kinds))
        if kind == "word":
            word = draw(st.sampled_from(WORDS))
            return word, word
        if kind == "img":
            return element("img", None, void=True)
        return element(kind, inlines(depth + 1, in_a or kind == "a"))

    def inlines(depth: int, in_a: bool = False) -> tuple:
        return join([inline(depth, in_a)
                     for _ in range(draw(st.integers(1, 3)))])

    def list_item(depth: int) -> tuple:
        inner = [inlines(depth + 1)]
        if depth < 3 and draw(st.booleans()):
            inner.append(ul(depth + 1))
        return element("li", join(inner))

    def ul(depth: int) -> tuple:
        items = join([list_item(depth)
                      for _ in range(draw(st.integers(1, 3)))])
        return f"<ul>{items[0]}</ul>", f"<ul>{items[1]}</ul>"

    def svg() -> tuple:
        x = draw(st.integers(0, 40))
        shapes = (f'<rect x="{x}" y="0" width="20" height="20"></rect>'
                  f'<text x="{x + 5}" y="5">{draw(st.sampled_from(WORDS))}'
                  '</text><line x1="0" y1="0" x2="9" y2="9" '
                  'marker-end="url(#m)"></line>')
        return element("svg", (shapes, shapes))

    def block(depth: int) -> tuple:
        kinds = ["p", "p", "ul", "svg", "img"] + (
            ["div", "div", "section"] if depth < 3 else [])
        kind = draw(st.sampled_from(kinds))
        if kind == "p":
            return element("p", inlines(depth + 1))
        if kind == "ul":
            return ul(depth)
        if kind == "svg":
            return svg()
        if kind == "img":
            return element("img", None, void=True)
        inner = [block(depth + 1) for _ in range(draw(st.integers(1, 3)))]
        if kind == "section" and draw(st.booleans()):
            inner.insert(0, element("h2", inlines(depth + 1)))
        return element(kind, join(inner))

    body = join([block(0) for _ in range(draw(st.integers(1, 4)))])
    head = "<html><head>" + STYLE + "</head><body>"
    return (head + body[0] + "</body></html>",
            head + body[1] + "</body></html>")


def comparable(html: str) -> dict:
    """The record without what depends on markup that does not render:
    byte count, ``class_map`` and the document positions of links (a
    cut subtree shifts them)."""
    rec = extract_document("https://r.example/d", html.encode())
    ex = json.loads(rec.pop("extraction_json"))
    ex.pop("class_map", None)
    if "links_map" in ex:
        ex["links_map"] = {h: len(p) for h, p in ex["links_map"].items()}
    for key in ("bytes_in", "json_sha256"):
        rec.pop(key)
    rec["extraction"] = ex
    return rec


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(pair=page())
def test_hidden_subtrees_read_as_cut_out(parser, pair):
    shown, cut = pair
    assert comparable(shown) == comparable(cut)
