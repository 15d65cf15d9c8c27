"""Cell edits address the cells extraction reports.

``kernels/edits.py`` finds tables, rows and cells in the kernel's own
parse tree, so an extracted cell at artifact ``id``, row ``r`` and
column ``c`` is the edit address ``(table=id, row=r-1, col=c)`` — while
no hidden, ``role=presentation`` or empty table precedes it and the
table has no spans.  The named cases are markup a second tokenizer
misread (a table inside a comment, a script string, a ``<template>`` or
``<noscript>`` copy, an unbalanced-quote attribute); the hypothesis test
mixes them with unclosed ``td``/``tr`` and nested tables.  Each ``set_value``
must read back at its address after re-extraction, and change no byte
outside one cell's content.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from exstruct_spark.config import DetectionConfig
from exstruct_spark.kernels import dom
from exstruct_spark.kernels.edits import apply_ops
from exstruct_spark.kernels.extract import (
    _node_or_ancestor_hidden, extract_document)
from exstruct_spark.kernels.tables import extract_table

VALUE = "EDITED"


def declared_tables(html: str) -> list:
    """The ``<table>`` artifacts (heuristic grid candidates excluded)."""
    rec = extract_document("https://x/e", html.encode())
    tables = json.loads(rec["extraction_json"]).get("tables") or []
    return [t for t in tables if t.get("kind") != "grid"]


def cell_contents(html: str) -> set:
    """``(start, end)`` of every td/th element's content."""
    root = dom.parse_html(html)
    try:
        return {(n.s1, n.e0) for n in root.find_all("td", "th")}
    finally:
        dom.release(root)


def artifact_prefix(html: str) -> int:
    """How many leading ``<table>``s of the rendered walk are artifacts
    at their own index: those before the first hidden, presentation or
    empty one (markup can empty a table the page meant to fill, as a
    stray ``</td>`` that closes an outer cell does)."""
    root = dom.parse_html(html)
    try:
        k, skip_to = 0, -1
        for n in root.iter():
            if n.i0 < skip_to:
                continue
            if n.tag in dom.RENDER_INERT:
                skip_to = n.i1
            elif n.tag == "table":
                if (_node_or_ancestor_hidden(n, None)
                        or n.attrs.get("role") == "presentation"
                        or extract_table(n, k, DetectionConfig()) is None):
                    break
                k += 1
        return k
    finally:
        dom.release(root)


def assert_edits_read_back(html: str) -> int:
    """``set_value`` at every cell extraction reports in the artifacts
    of ``artifact_prefix``; returns the number of cells checked."""
    spans = cell_contents(html)
    checked = 0
    for table in declared_tables(html)[:artifact_prefix(html)]:
        if "merged_cells" in table:
            continue  # spans move grid columns off the DOM cell index
        for row in table["rows"]:
            for col in row["c"]:
                out, status = apply_ops(html, [{
                    "op": "set_value", "table": table["id"],
                    "row": row["r"] - 1, "col": int(col), "value": VALUE}])
                assert status == ["applied"], (table["id"], row["r"], col)
                # one splice, over exactly one cell's content
                assert any(out == html[:a] + VALUE + html[b:]
                           for a, b in spans), (table["id"], row["r"], col)
                after = {t["id"]: t for t in declared_tables(out)}
                got = {(r["r"], c): v
                       for r in after[table["id"]]["rows"]
                       for c, v in r["c"].items()}
                assert got[(row["r"], col)] == VALUE
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
}


@pytest.mark.parametrize("name", sorted(NAMED))
def test_named_case_edits_the_extracted_cell(parser, name):
    html = NAMED[name]
    first = declared_tables(html)[0]["rows"][0]["c"]
    assert first == ({"0": "y", "1": "z"} if name == "unbalanced_quote"
                     else {"0": "a", "1": "b"})
    assert assert_edits_read_back(html) == 2


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
KINDS = ["data"] * 8 + ["hidden", "presentation", "empty", "spans"]
TEXT = st.text(alphabet="abcdefgh", min_size=1, max_size=4)


@st.composite
def page(draw):
    quote = {"left": draw(st.booleans())}

    def noise() -> str:
        return draw(st.sampled_from([""] * 4 + NOISE))

    def table(depth: int) -> str:
        kind = draw(st.sampled_from(KINDS))
        attrs = {"hidden": ' style="display:none"',
                 "presentation": ' role="presentation"'}.get(kind, "")
        out = [f"<table{attrs}>", noise()]
        for r in range(draw(st.integers(1, 3))):
            out.append("<tr>")
            for c in range(draw(st.integers(1, 3))):
                if quote["left"] and draw(st.integers(0, 8)) == 0:
                    quote["left"] = False
                    out.append("<td title='oops>q</td>")
                span = ""
                if kind == "spans" and (r, c) == (0, 0):
                    span = ' colspan="2"'
                out.append(f"<td{span}>")
                if kind != "empty" and ((r, c) == (0, 0)
                                        or draw(st.booleans())):
                    out.append(draw(TEXT))
                out.append(noise())
                if depth < 2 and kind != "empty" and draw(
                        st.integers(0, 6)) == 0:
                    out.append(table(depth + 1))
                if draw(st.booleans()):
                    out.append("</td>")
            if draw(st.booleans()):
                out.append("</tr>")
            out.append(draw(st.sampled_from(["", NOISE[0]])))
        out.append("</table>")
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
