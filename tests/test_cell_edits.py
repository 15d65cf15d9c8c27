"""Cell edits address the cells extraction reports.

``kernels/edits.py`` takes its address map from extraction's own grid
expansion, so an extracted cell at artifact ``id``, row ``r`` and column
``c`` is the edit address ``(table=id, row=r-1, col=c)``, behind hidden,
``role=presentation`` and empty tables and hidden rows, across spans and
in ARIA grids.  The named cases are markup a second tokenizer or a
second table count misread (a table inside a comment, a script string, a
``<template>`` or ``<noscript>`` copy, an unbalanced-quote attribute;
tables and rows extraction gives no address); the hypothesis test mixes
them with unclosed ``td``/``tr``, spans, hidden rows, hidden content
inside cells and nested grids.
Each ``set_value`` must read back at its address after re-extraction,
and change no byte outside one cell's content.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from exstruct_spark.kernels import dom
from exstruct_spark.kernels.edits import apply_ops
from exstruct_spark.kernels.extract import extract_document
from exstruct_spark.kernels.tables import _ARIA_CELL_ROLES

VALUE = "EDITED"


def declared_tables(html: str) -> list:
    """The declared table artifacts (heuristic grid candidates excluded)."""
    rec = extract_document("https://x/e", html.encode())
    tables = json.loads(rec["extraction_json"]).get("tables") or []
    return [t for t in tables if t.get("kind") != "grid"]


def cell_contents(html: str) -> set:
    """``(start, end)`` of the content of every td/th and ARIA cell."""
    root = dom.parse_html(html)
    try:
        return {(n.s1, n.e0) for n in root.iter()
                if n.tag in ("td", "th")
                or n.attrs.get("role") in _ARIA_CELL_ROLES}
    finally:
        dom.release(root)


def read(html: str, table: int) -> dict:
    """``(r, c) -> value`` of artifact ``table``."""
    (art,) = [t for t in declared_tables(html) if t["id"] == table]
    return {(row["r"], c): v for row in art["rows"]
            for c, v in row["c"].items()}


def assert_edits_read_back(html: str) -> int:
    """``set_value`` at every cell extraction reports; returns the
    number of cells checked."""
    spans = cell_contents(html)
    checked = 0
    for table in declared_tables(html):
        for row in table["rows"]:
            for col in row["c"]:
                out, status = apply_ops(html, [{
                    "op": "set_value", "table": table["id"],
                    "row": row["r"] - 1, "col": int(col), "value": VALUE}])
                assert status == ["applied"], (table["id"], row["r"], col)
                # one splice, over exactly one cell's content
                assert any(out == html[:a] + VALUE + html[b:]
                           for a, b in spans), (table["id"], row["r"], col)
                assert read(out, table["id"])[(row["r"], col)] == VALUE
                checked += 1
    return checked


TABLE = "<table><tr><td>a</td><td>b</td></tr></table>"
NAMED = {
    "comment": "<!-- <table><tr><td>old</td></tr></table> -->" + TABLE,
    "script_string": ("<script>var s='<table><tr><td>s</td></tr>"
                      "</table>';</script>" + TABLE),
    "template": ("<template><table><tr><td>t</td></tr></table>"
                 "</template>" + TABLE),
    "noscript": ("<noscript><table><tr><td>n</td></tr></table>"
                 "</noscript>" + TABLE),
    "unbalanced_quote": ('<table><tr><td title="oops>x</td>'
                         '<td class="c">y</td><td>z</td></tr></table>'),
    # tables and rows before the target that extraction gives no address
    "hidden_table": "<table hidden><tr><td>x</td></tr></table>" + TABLE,
    "presentation_table": ("<table role=presentation><tr><td>p</td></tr>"
                           "</table>" + TABLE),
    "empty_table": "<table><tr><td> </td></tr></table>" + TABLE,
    "hidden_row": ("<table><tr style='display:none'><td>h</td><td>i</td>"
                   "</tr><tr><td>a</td><td>b</td></tr></table>"),
    # hidden content inside the cells is no part of their text
    "hidden_spans": ("<table><tr><td>a<span hidden>h</span></td><td>b"
                     "<span style='display:none'>i</span></td></tr></table>"),
}


@pytest.mark.parametrize("name", sorted(NAMED))
def test_named_case_edits_the_extracted_cell(parser, name):
    html = NAMED[name]
    first = declared_tables(html)[0]["rows"][0]["c"]
    assert first == ({"0": "y", "1": "z"} if name == "unbalanced_quote"
                     else {"0": "a", "1": "b"})
    assert assert_edits_read_back(html) == 2


JOINED_PAGE = ("<link rel=stylesheet href='/s.css'><table class=h><tr><td>x"
               "</td></tr></table><table><tr><td>a</td></tr></table>")
JOINED_SHEETS = [{"u": "https://p.example/s.css", "t": ".h{display:none}"}]


def test_a_table_hidden_by_a_joined_sheet_takes_no_address(parser):
    """A table hidden only by a corpus-joined sheet is no artifact, so
    table 0 is the visible one: ``apply_ops`` with the page's url and
    joined sheets edits ``a``, as extraction under the same sheets
    reads it, and leaves the hidden ``x`` alone."""
    url = "https://p.example/page"
    rec = extract_document(url, JOINED_PAGE.encode(),
                           external_css=JOINED_SHEETS)
    tables = json.loads(rec["extraction_json"])["tables"]
    assert [t["rows"] for t in tables] == [[{"r": 1, "c": {"0": "a"}}]]
    op = {"op": "set_value", "table": 0, "row": 0, "col": 0, "value": VALUE}
    out, status = apply_ops(JOINED_PAGE, [op], url, JOINED_SHEETS)
    assert status == ["applied"]
    assert out == JOINED_PAGE.replace("<td>a</td>", f"<td>{VALUE}</td>")
    # without the sheets the page's own cascade holds: table 0 is x
    out, _ = apply_ops(JOINED_PAGE, [op])
    assert out == JOINED_PAGE.replace("<td>x", f"<td>{VALUE}")


def test_hidden_row_does_not_shift_the_row(parser):
    """A hidden row is no grid row: row 1 of the second table is ``b``,
    and the hidden ``h`` stays as it was."""
    html = ("<table><tr><td>a</td></tr></table><table><tr><td>a</td></tr>"
            "<tr hidden><td>h</td></tr><tr><td>b</td></tr></table>")
    out, status = apply_ops(html, [{"op": "set_value", "table": 1, "row": 1,
                                    "col": 0, "value": VALUE}])
    assert status == ["applied"]
    assert out == html.replace("<td>b</td>", f"<td>{VALUE}</td>")
    assert read(out, 1) == {(1, "0"): "a", (2, "0"): VALUE}


def test_colspan_single_cell_op_takes_the_grid_column(parser):
    """``col`` is the grid column extraction reports: ``b`` after a
    two-column span sits at column 2."""
    html = "<table><tr><td colspan=2>a</td><td>b</td></tr></table>"
    assert read(html, 0) == {(1, "0"): "a", (1, "2"): "b"}
    out, status = apply_ops(html, [{"op": "set_value", "table": 0, "row": 0,
                                    "col": 2, "value": VALUE}])
    assert status == ["applied"]
    assert read(out, 0) == {(1, "0"): "a", (1, "2"): VALUE}
    _, status = apply_ops(html, [{"op": "set_value", "table": 0, "row": 0,
                                  "col": 1, "value": VALUE}])
    assert status == ["skipped"]  # the slot the span covers


ARIA = ('<div role="grid"><div role="row"><div role="gridcell">a</div>'
        '<div role="gridcell">b</div></div></div>')


def test_set_value_on_an_aria_grid(parser):
    out, status = apply_ops(ARIA + TABLE, [
        {"op": "set_value", "table": 0, "row": 0, "col": 1,
         "value": VALUE}])
    assert status == ["applied"]
    assert out == (ARIA + TABLE).replace(">b<", f">{VALUE}<", 1)
    assert read(out, 0) == {(1, "0"): "a", (1, "1"): VALUE}


def test_add_row_on_an_aria_grid_is_skipped(parser):
    """``add_row`` writes a ``<tr>``, which an ARIA grid has no use for:
    the op is skipped, and the ``<table>`` after the grid, artifact 1,
    is not edited in its place."""
    html = ARIA + TABLE
    out, status = apply_ops(html, [
        {"op": "add_row", "table": 0, "row": 1, "values": ["x"]}])
    assert status == ["skipped"] and out == html
    out, status = apply_ops(html, [
        {"op": "add_row", "table": 1, "row": 1, "values": ["x"]}])
    assert status == ["applied"]
    assert read(out, 1)[(2, "0")] == "x"


# -- attribute splices read the attribute the parser reads -----------------
def cell_attrs(html: str, tag: str = "td") -> list:
    root = dom.parse_html(html)
    try:
        return [dict(n.attrs) for n in root.find_all(tag)]
    finally:
        dom.release(root)


def test_set_bold_beside_a_data_style_attribute(parser):
    html = '<table><tr><td data-style="k">a</td></tr></table>'
    out, status = apply_ops(html, [
        {"op": "set_bold", "table": 0, "row": 0, "col": 0}])
    assert status == ["applied"]
    assert cell_attrs(out) == [{"data-style": "k",
                                "style": "font-weight:bold"}]


def test_apply_table_style_beside_a_data_class_attribute(parser):
    html = '<table data-class="z"><tr><td>a</td></tr></table>'
    out, status = apply_ops(html, [
        {"op": "apply_table_style", "table": 0, "style": "striped"}])
    assert status == ["applied"]
    assert cell_attrs(out, "table") == [{"data-class": "z",
                                         "class": "striped"}]


def test_unmerge_beside_a_data_colspan_attribute(parser):
    html = ('<table><tr><td data-colspan="3" colspan="2">a</td></tr>'
            "</table>")
    out, status = apply_ops(html, [
        {"op": "unmerge_cells", "table": 0, "row": 0, "col": 0}])
    assert status == ["applied"]
    assert out == ('<table><tr><td data-colspan="3">a</td><td></td></tr>'
                   "</table>")
    assert cell_attrs(out) == [{"data-colspan": "3"}, {}]


def test_set_fill_color_beside_a_style_lookalike_in_a_value(parser):
    html = """<table><tr><td title='style="x"'>a</td></tr></table>"""
    out, status = apply_ops(html, [
        {"op": "set_fill_color", "table": 0, "row": 0, "col": 0,
         "color": "#00ff00"}])
    assert status == ["applied"]
    assert cell_attrs(out) == [{"title": 'style="x"',
                                "style": "background:#00ff00"}]


# -- generated pages -------------------------------------------------------
# Text is lowercase letters only and the one unbalanced quote is the
# page's only "'", so the tables a page holds are exactly the generated
# ones: a second "'" would pair with it and swallow markup into a tag.
NOISE = [
    "<!-- <table><tr><td>cx</td></tr></table> -->",
    '<script>var s = "<table><tr><td>sx</td></tr></table>";</script>',
    "<template><table><tr><td>tx</td></tr></table></template>",
    "<noscript><table><tr><td>nx</td></tr></table></noscript>",
]
KINDS = ["data"] * 8 + ["hidden", "presentation", "empty"]
ROW_ATTRS = [""] * 6 + [" hidden", ' style="display:none"',
                        ' style="visibility:collapse"']
TEXT = st.text(alphabet="abcdefgh", min_size=1, max_size=4)
# hidden content a cell may hold after its text
HIDDEN_SPANS = [""] * 4 + ["<span hidden>zz</span>",
                           '<span style="display:none">zy</span>',
                           '<b style="visibility:hidden">zx</b>']


@st.composite
def page(draw):
    quote = {"left": draw(st.booleans())}

    def noise() -> str:
        return draw(st.sampled_from([""] * 4 + NOISE))

    def table(depth: int) -> str:
        """A ``<table>`` or an ARIA grid (whose elements always close:
        an unclosed ``<div>`` would nest the next row in the last)."""
        kind = draw(st.sampled_from(KINDS))
        aria = draw(st.integers(0, 3)) == 0
        hidden = ' style="display:none"' if kind == "hidden" else ""
        role = "presentation" if kind == "presentation" else ""
        if aria:
            out = [f'<div role="{role or "grid"}"{hidden}>', noise()]
            span_names = ("aria-rowspan", "aria-colspan")
        else:
            role = f' role="{role}"' if role else ""
            out = [f"<table{hidden}{role}>", noise()]
            span_names = ("rowspan", "colspan")
        for r in range(draw(st.integers(1, 3))):
            row_attrs = draw(st.sampled_from(ROW_ATTRS))
            out.append(f'<div role="row"{row_attrs}>' if aria
                       else f"<tr{row_attrs}>")
            for c in range(draw(st.integers(1, 3))):
                if (not aria and quote["left"]
                        and draw(st.integers(0, 8)) == 0):
                    quote["left"] = False
                    out.append("<td title='oops>q</td>")
                span = ""
                if draw(st.integers(0, 4)) == 0:
                    span = f' {draw(st.sampled_from(span_names))}="2"'
                out.append(f'<div role="cell"{span}>' if aria
                           else f"<td{span}>")
                if kind != "empty" and ((r, c) == (0, 0)
                                        or draw(st.booleans())):
                    out.append(draw(TEXT))
                out.append(draw(st.sampled_from(HIDDEN_SPANS)))
                out.append(noise())
                if depth < 2 and kind != "empty" and draw(
                        st.integers(0, 6)) == 0:
                    out.append(table(depth + 1))
                if aria:
                    out.append("</div>")
                elif draw(st.booleans()):
                    out.append("</td>")
            if aria:
                out.append("</div>")
            elif draw(st.booleans()):
                out.append("</tr>")
            out.append(draw(st.sampled_from(["", NOISE[0]])))
        out.append("</div>" if aria else "</table>")
        return "".join(out)

    parts = ["<html><body>"]
    for _ in range(draw(st.integers(1, 4))):
        parts += [noise(), table(0), draw(st.sampled_from(["", "<p>p</p>"]))]
    parts.append("</body></html>")
    return "".join(parts)


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(html=page())
def test_generated_pages_edit_the_extracted_cell(parser, html):
    assert_edits_read_back(html)


def test_row_ops_after_an_unclosed_cell():
    """A ``<tr>`` after an unclosed ``<td>`` nests in the row before it:
    deleting that row removes its own markup only, and a row inserted
    before the nested one reads between the two."""
    html = "<table><tr><td>a<tr><td>b</table>"
    out, st = apply_ops(html, [{"op": "delete_row", "table": 0, "row": 0}])
    assert st == ["applied"] and out == "<table><tr><td>b</table>"
    out, st = apply_ops(html, [
        {"op": "add_row", "table": 0, "row": 1, "values": ["x"]}])
    assert st == ["applied"]
    rows = declared_tables(out)[0]["rows"]
    assert [row["c"]["0"] for row in rows] == ["a", "x", "b"]


def test_unmerge_unquoted_spans_keeps_the_tag():
    """An unquoted span value ends at the tag's ``>``: stripping it
    leaves a well-formed start tag."""
    html = ("<table><tr><td rowspan=2>a</td><td>b</td></tr>"
            "<tr><td>c</td></tr></table>")
    out, st = apply_ops(html, [
        {"op": "unmerge_cells", "table": 0, "row": 0, "col": 0}])
    assert st == ["applied"]
    assert out == ("<table><tr><td>a</td><td>b</td></tr>"
                   "<tr><td></td><td>c</td></tr></table>")


def test_template_rows_are_neither_extracted_nor_addressed():
    """``<tr>``s inside a ``<template>`` child of a ``<table>`` are inert:
    extraction reports only the rendered row, and no edit address
    reaches the template's row."""
    html = ("<table><tr><td>a</td><td>b</td></tr><template><tr><td>INERT"
            "</td><td>x</td></tr></template></table>")
    rows = declared_tables(html)[0]["rows"]
    assert [row["c"] for row in rows] == [{"0": "a", "1": "b"}]
    out, st = apply_ops(html, [{"op": "set_value", "table": 0, "row": 1,
                                "col": 0, "value": VALUE}])
    assert st == ["skipped"] and out == html


def test_set_dimensions_styles_a_repeated_row_once():
    """A row listed twice gets one ``height`` declaration, not a second
    splice at stale offsets."""
    html = "<table><tr><td>a</td></tr><tr><td>b</td></tr></table>"
    out, st = apply_ops(html, [{"op": "set_dimensions", "table": 0,
                                "rows": [0, 0, 1], "row_height": 5}])
    assert st == ["applied"]
    assert out == ('<table><tr style="height:5px"><td>a</td></tr>'
                   '<tr style="height:5px"><td>b</td></tr></table>')
