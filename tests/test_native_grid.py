"""The declared-table grid: ``htmlscan.c``'s ``grid`` returns exactly
what its specification, ``tables._grid_py`` (``_expand_grid`` then
``_sparse_rows``), returns, for generated ``<table>`` and ARIA grids:
spans past the caps, hidden, blank and collapsed rows and rowgroups,
``<col>`` paint, a style resolver, links, ``alpha_keys``, Unicode-digit
and thousands-separator cells, and the anchors the cell edits read.
"""

from __future__ import annotations

import os
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from exstruct_spark.config import DetectionConfig
from exstruct_spark.kernels import extract, tables
from exstruct_spark.kernels.dom import parse_html

HYPOTHESIS = settings(max_examples=600, deadline=None,
                      suppress_health_check=[HealthCheck.too_slow])

STYLE = ("<style>.h{display:none}.v{visibility:hidden}"
         ".k{visibility:collapse}.p{background:#0000ff}"
         ".q{background-color:rgb(1,2,3)}</style>")
ATTRS = ["", "", "", "", " hidden", " style='display:none'",
         " style='visibility:hidden'", " style='visibility:collapse'",
         " style='background:#ff0000'", " bgcolor='green'", " class='h'",
         " class='v'", " class='k'", " class='p'", " class='q'",
         " class='other'", " title='t'"]
TEXTS = ["", "", "x", "Name", "a b", "7", "-7", "+7", "0", "-0", "007",
         "1,234", "-1,234,567", "1,234.5", "12,34", "1,2345", ",123",
         "1.", ".5", "-.5", "+0.10", "2.50", "1e5", "12 apples", "−5",
         "٣٤", "١٢.٥", "1٢", "&#x661;,234", "12345678901234567890",
         "9999999999999999999", "-99999999999999999999.25", "1" * 70, "0." + "3" * 70,
         "<b>4</b>2", "<br>9", " 3 ", "<span style='display:none'>8</span>"]
SPANS = [None, None, None, "1", "2", "3", "0", "-1", " 2 ", "2px", "٢",
         "1_0", "+2", "99999999999999999999", "", "novalue"]
LINKS = [None, None, "/a", "", "novalue",
         "<span style='display:none'><a href='/hidden'>h</a></span>",
         "<template><a href='/inert'>t</a></template><a href='/b'>b</a>"]


def _span_attr(name: str, value) -> str:
    if value is None:
        return ""
    if value == "novalue":
        return f" {name}"
    return f" {name}='{value}'"


def _link(spec) -> str:
    if spec is None:
        return ""
    if spec == "novalue":
        return "<a href>l</a>"
    if spec.startswith("<"):
        return spec
    return f"<a href='{spec}'>l</a>"


CELL = st.tuples(st.booleans(), st.sampled_from(ATTRS),
                 st.sampled_from(TEXTS), st.sampled_from(SPANS),
                 st.sampled_from(SPANS), st.sampled_from(LINKS),
                 st.integers(0, 9))
ROW = st.tuples(st.sampled_from(ATTRS), st.lists(CELL, max_size=5))
GROUP = st.tuples(st.sampled_from([None, "thead", "tbody", "tfoot"]),
                  st.sampled_from(ATTRS), st.lists(ROW, min_size=1,
                                                   max_size=4))
COLS = st.lists(st.tuples(st.booleans(), st.sampled_from(SPANS),
                          st.sampled_from(ATTRS)), max_size=4)
CAPS = st.sampled_from([None, (6, 5, 2), (3, 3, 1), (12, 3, 1), (0, 4, 2),
                        (4, 0, 2), (5, 5, 0), (8, 2, 3)])


def _table_markup(groups, cols) -> str:
    out = ["<table>"]
    for in_group, span, attrs in cols:
        col = f"<col{_span_attr('span', span)}{attrs}>"
        out.append(f"<colgroup>{col}</colgroup>" if in_group else col)
    for tag, g_attrs, rows in groups:
        if tag:
            out.append(f"<{tag}{g_attrs}>")
        for r_attrs, cells in rows:
            out.append(f"<tr{r_attrs}>")
            for th, attrs, text, rs, cs, link, nest in cells:
                name = "th" if th else "td"
                inner = text + _link(link)
                if nest == 0:  # a nested table owns its own rows
                    inner += "<table><tr><td>in</td></tr></table>"
                out.append(f"<{name}{attrs}{_span_attr('rowspan', rs)}"
                           f"{_span_attr('colspan', cs)}>{inner}</{name}>")
            out.append("</tr>")
        if tag:
            out.append(f"</{tag}>")
    out.append("</table>")
    return "".join(out)


def _aria_markup(groups) -> str:
    out = ["<div role='grid'>"]
    for tag, g_attrs, rows in groups:
        if tag:
            out.append(f"<div role='rowgroup'{g_attrs}>")
        for r_attrs, cells in rows:
            out.append(f"<div role='row'{r_attrs}>")
            for th, attrs, text, rs, cs, link, nest in cells:
                role = "columnheader" if th else "gridcell"
                inner = text + _link(link)
                if nest == 0:
                    inner = f"<span>{inner}</span>"
                out.append(f"<div role='{role}'{attrs}"
                           f"{_span_attr('aria-rowspan', rs)}"
                           f"{_span_attr('aria-colspan', cs)}>{inner}</div>")
            out.append("</div>")
        if tag:
            out.append("</div>")
    out.append("</div>")
    return "".join(out)


def _prepared(markup: str, styled: bool):
    """The page's first declared table, its resolver (or None) and its
    marks, as extraction prepares them."""
    root = parse_html((STYLE if styled else "") + markup)
    walk = extract.rendered_walk(root)
    css = extract._render_cascade(root, "https://grid.example/", walk)[2]
    return walk.table_like[0], css


def _spec_and_native(native_grid, node, css, cfg, alpha, anchored):
    aria = node.tag != "table"
    col_bg = [] if aria else tables._col_paint(node, cfg, css)
    out = []
    for grid in (tables._grid_py, native_grid):
        rows = tables._aria_rows(node, css) if aria else None
        anchors = ([], {}) if anchored else None
        out.append((grid(node, rows, col_bg, cfg, css, alpha, anchors),
                    anchors))
    return out


def _assert_same(want, got) -> None:
    (w, w_anchors), (g, g_anchors) = want, got
    assert g is not None
    # repr: value types (1 vs 1.0 vs "1") and dict key order count
    assert repr(g[:3]) == repr(w[:3])
    assert g[3] == w[3]  # th_cells, a set
    assert repr(g[4:]) == repr(w[4:])
    if w_anchors is None:
        assert g_anchors is None
    else:
        assert [id(n) for n in g_anchors[0]] == [id(n) for n in w_anchors[0]]
        assert list(g_anchors[1]) == list(w_anchors[1])
        for key, (cell, rs, cs) in w_anchors[1].items():
            g_cell, g_rs, g_cs = g_anchors[1][key]
            assert g_cell is cell and (g_rs, g_cs) == (rs, cs)


@given(groups=st.lists(GROUP, min_size=1, max_size=3), cols=COLS,
       styled=st.booleans(), caps=CAPS, alpha=st.booleans(),
       anchored=st.booleans())
@HYPOTHESIS
def test_grid_matches_its_specification(native_grid, groups, cols, styled,
                                        caps, alpha, anchored):
    cfg = (DetectionConfig() if caps is None else DetectionConfig(
        max_rows=caps[0], max_cols=caps[1], max_empty_run=caps[2]))
    for markup in (_table_markup(groups, cols), _aria_markup(groups)):
        node, css = _prepared(markup, styled)
        _assert_same(*_spec_and_native(native_grid, node, css, cfg, alpha,
                                       anchored))


NAMED = {
    # a tall span credits at most 4x the empty-run budget of empty rows
    "span_credit": ("<table><tr><td rowspan=99>a</td></tr>"
                    + "<tr></tr>" * 10 + "<tr><td>z</td></tr></table>",
                    (12, 3, 1)),
    "span_credit_short": ("<table><tr><td rowspan=3>a</td></tr>"
                          + "<tr></tr>" * 6 + "</table>", (12, 3, 1)),
    # spans and columns past both caps, a cell pushed past max_cols
    "spans_past_caps": ("<table><tr><td colspan=7 rowspan=9>a</td>"
                        "<td>b</td></tr><tr><td>c</td><td>d</td></tr>"
                        "<tr><td>e</td></tr></table>", (4, 5, 2)),
    "numbers": ("<table><tr><td>9223372036854775807</td>"
                "<td>9223372036854775808</td><td>-9999999999999999999</td>"
                "<td>1,000,000,000,000,000,000</td><td>0.1</td>"
                "<td>1" + "0" * 62 + "</td></tr></table>", (5, 9, 2)),
    "rowgroups": ("<table><thead style='background:#eee'><tr><th>h</th>"
                  "</tr></thead><tbody class='k'><tr><td>gone</td></tr>"
                  "</tbody><tbody style='visibility:hidden'><tr><td>blank"
                  "</td></tr></tbody><tfoot hidden><tr><td>f</td></tr>"
                  "</tfoot><tr><td>last</td></tr></table>", None),
}


@pytest.mark.parametrize("name", sorted(NAMED))
@pytest.mark.parametrize("anchored", [False, True])
def test_named_grids_match_the_specification(native_grid, name, anchored):
    markup, caps = NAMED[name]
    cfg = (DetectionConfig() if caps is None else DetectionConfig(
        max_rows=caps[0], max_cols=caps[1], max_empty_run=caps[2]))
    node, css = _prepared(markup, True)
    _assert_same(*_spec_and_native(native_grid, node, css, cfg, False,
                                   anchored))


@pytest.mark.parametrize("caps", [(-1, 5, 2), (5, -1, 2), (5, 5, -1),
                                  (1 << 40, 5, 2), (10 ** 30, 5, 2)])
def test_caps_outside_the_native_range_hand_back(native_grid, caps):
    """Caps the native loop does not take give None, and
    ``extract_table`` then runs the specification."""
    node, css = _prepared("<table><tr><td>a</td></tr></table>", False)
    cfg = DetectionConfig(max_rows=caps[0], max_cols=caps[1],
                          max_empty_run=caps[2])
    assert native_grid(node, None, [], cfg, css, False, None) is None


def test_the_specification_never_runs_on_generated_pages(native_grid,
                                                         monkeypatch):
    """With the native grid built, no table of the corpus, the rich and
    large benchmark pages or the adversarial pages falls back to the
    specification."""
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.join(os.path.dirname(here), "perfbench")]
    try:
        from adversarial_pages import ADVERSARIAL
        from inputs import large_pages, rich_pages
    finally:
        del sys.path[:2]
    from exstruct_spark.pages import ARCHETYPES, build_page

    calls = []
    spec = tables._grid_py
    monkeypatch.setattr(tables, "_grid_py",
                        lambda *a: calls.append(a) or spec(*a))
    pages = [(p["url"], p["html"]) for p in (
        [build_page(i) for i in range(4 * len(ARCHETYPES))]
        + rich_pages(1, 54) + large_pages(1, 4))]
    pages += [(f"https://adversarial.example/{name}", raw)
              for name, raw in ADVERSARIAL]
    n_tables = 0
    for url, raw in pages:
        rec = extract.extract_document(url, raw)
        n_tables += rec["n_tables"]
    assert n_tables > 100
    assert calls == []
