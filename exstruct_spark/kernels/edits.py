"""Cell-level document edit operations (X8 residual, VERDICT r4 #4).

The reference ships a typed workbook-edit op family (edit/types.py:7-29
— ``set_value``, ``set_range_values``, ``set_fill_color``,
``merge_cells``, ... with ``applied``/``skipped`` statuses).  The web
twin's editable artifact is the HTML document itself, so the op family
here is a compiler from cell-addressed ops to a PATCHED HTML DOCUMENT —
pure text -> text functions that feed ``ExtractionJob.apply_patch``'s
bucket-scoped refresh (engine.py): the edit flows through the exact
extraction path every other document takes, and only the edited urls'
buckets re-extract.

Ops (each addresses one table artifact and grid positions in it — the
addressing contract below):
  * ``set_value``     — replace a cell's content (reference set_value);
  * ``set_link``      — wrap the cell's text in ``<a href>`` (the
                        links_map carrier);
  * ``set_fill_color``— set the cell's background via the style attr
                        (reference set_fill_color; colors_map carrier);
  * ``add_row``       — insert a ``<tr>`` of values at a row index
                        (reference set_range_values' grow case);
  * ``delete_row``    — remove a row.

Wave 2 (VERDICT r5 #4 — the remaining reference ops with clean HTML
analogues, edit/types.py:7-29):
  * ``set_bold`` / ``set_font_size`` / ``set_font_color`` /
    ``set_alignment`` — inline-style splices on the cell's open tag;
  * ``set_value_if`` — conditional write (mismatch -> skipped);
  * ``set_range_values`` — all-or-nothing 2-D block write;
  * ``merge_cells`` / ``unmerge_cells`` — rowspan/colspan splices (the
    reference addresses merges by A1 range, i.e. grid positions);
  * ``draw_grid_border`` — border-style splice over a grid rectangle
    (the G1 border-signal carrier).

Wave 3 (VERDICT r6 #6 — closes the family: 16 of the reference's 21
typed ops implemented, 5 declared n/a below, plus the 3 web-native
extras ``set_link``/``add_row``/``delete_row`` = 19 ops in ``_OPS``):
  * ``set_style``       — the combined style op over a grid RANGE
    (bold/size/color/fill/alignment/wrap in one splice per cell);
  * ``set_dimensions``  — row ``height:px`` on the row open tags, column
    ``width:px`` on unmerged cells of the listed grid columns;
  * ``apply_table_style`` — named style joins the table's class list
    (the indirection channel kernels/css.py resolves);
  * ``create_chart``    — injects a Chart.js config script bound to a
    grid data range; the F7 six-dialect parser reads it back, so
    ``extract(create_chart(doc))`` round-trips the series;
  * ``design_snapshot`` / ``restore_design_snapshot`` — capture every
    open tag (table/row/cell) verbatim; restore splices them back iff
    the table shape is unchanged (structural edits -> skipped).

Not implemented, by design (no honest HTML analogue —
edit/types.py:7-29): ``set_formula`` / ``fill_formula`` /
``set_formula_if`` (HTML cells hold values, not a formula layer;
coercion parity for formula RESULTS lives in P2/kernels/coerce.py),
``add_sheet`` (a document IS one sheet; multi-sheet is the corpus
dimension), ``auto_fit_columns`` (layout is the browser's, not the
document's — no stored width to fit).  16 implemented + 5 n/a = all
21 reference ops accounted for.

Semantics follow the reference's patch contract: ops apply in order,
each yields status ``applied`` or ``skipped`` (bad address, malformed
region) — a skipped op never aborts the batch (edit/types.py
PatchStatus).

Addressing contract: an edit address is an extraction address.  The
cell extraction reports in table artifact ``id``, row ``r`` (1-based)
and column ``c`` is ``(table=id, row=r-1, col=c)``, and every op's
``row``/``col`` is a position in that grid.  Each op parses the
document with the kernel's own grammar and takes the address map that
extraction's grid expansion records (``extract.declared_tables``,
``tables._expand_grid``), under extraction's cascade and rendering
mark (``extract._render_cascade``: the page's own ``<style>`` rules and
the corpus-joined sheets ``apply_ops`` is given).  So hidden,
``role=presentation`` and empty tables, hidden rows and cells, and the
slots a span covers are not addressable, ARIA grids are, and nothing in
a comment, a script string, a ``<template>`` copy or an attribute value
is.  Ops that write ``<tr>`` or
``rowspan``/``colspan`` markup (``add_row``, ``merge_cells``,
``unmerge_cells``) skip ARIA grids.  Splices happen at the source
offsets the parser records on each node (``Node.s0``/``s1``/``e0``/
``e1``: the start tag, the content, the element), and attributes are
read and written with the parser's own attribute grammar, so untouched
bytes of the document are preserved byte-for-byte — which is what makes
the bucket-refresh byte-identity test meaningful.
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from contextvars import ContextVar
from itertools import islice

from exstruct_spark.config import DetectionConfig
from exstruct_spark.kernels import dom
from exstruct_spark.kernels.extract import (
    _render_cascade, declared_tables, rendered_walk)

_DETECTION = DetectionConfig()

# (url, external_css) of the page ``apply_ops`` is editing, so the
# cascade of every op's parse sees the page's base URL and corpus-joined
# sheets as extraction does.  A context variable, not an op argument:
# the op functions' signatures are the op vocabulary (the MCP server
# lists them), and the page is no part of an op.
_PAGE: ContextVar = ContextVar("page", default=("", None))


def _escape(value) -> str:
    s = str(value)
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


@contextmanager
def _parsed_table(html: str, index: int):
    """``(node, rows, cells)`` of table artifact ``index`` of ``html``:
    the table-like node and its address map (``rows[r]`` the row node of
    grid row ``r``, ``cells[(r, c)]`` the ``(cell, rowspan, colspan)``
    anchored there), valid inside the block; the parse tree is released
    when the block exits."""
    root = dom.parse_html(html)
    try:
        walk = rendered_walk(root)
        url, external_css = _PAGE.get()
        css = _render_cascade(root, url, walk, external_css)[2]
        found = declared_tables(walk.table_like, _DETECTION, css=css,
                                anchored=True)
        for node, _art, (rows, cells) in islice(found, index, None):
            yield node, rows, cells
            break
        else:
            raise ValueError("table not found")
    finally:
        dom.release(root)


def _cell(cells: dict, row: int, col: int):
    """The cell node anchored at grid position ``(row, col)``."""
    hit = cells.get((row, col))
    if hit is None:
        raise ValueError("cell not found")
    return hit[0]


def _markup_table(node) -> None:
    """Ops that write ``<tr>`` or ``rowspan``/``colspan`` markup need a
    ``<table>``: an ARIA grid states rows and spans with roles and
    ``aria-*`` attributes instead."""
    if node.tag != "table":
        raise ValueError("op writes <table> markup")


def _row_end(rows: list, r: int) -> int:
    """End of row ``r``'s own markup: its element end, or the start of
    the next row when that row opened inside it (a ``<tr>`` after an
    unclosed ``<td>`` nests in the row the ``<td>`` belongs to)."""
    end = rows[r].e1
    if r + 1 < len(rows):
        end = min(end, rows[r + 1].s0)
    return end


# -- start-tag attributes, read and written with the parser's grammar ------

def _attrs_named(tag: str, name: str) -> list:
    """The ``name`` attributes of start tag ``tag`` as matches of the
    parser's attribute grammar (``dom._ATTR_RE`` over the tag's
    attribute run), in source order: the parser keeps the first."""
    a0, a1 = dom._TOKEN_RE.match(tag).span(2)
    return [m for m in dom._ATTR_RE.finditer(tag, a0, a1)
            if m.group(1).lower() == name]


def _attr_value(tag: str, name: str) -> str:
    """The source text of the value of ``tag``'s ``name`` attribute
    (quotes removed; "" when absent or valueless)."""
    found = _attrs_named(tag, name)
    v = (found[0].group(2) or "") if found else ""
    return v[1:-1] if v[:1] in ("'", '"') else v


def _set_attr(tag: str, name: str, value: str) -> str:
    """``tag`` with the ``name`` attribute the parser reads set to
    ``value`` (added before the closing ``>`` when absent), quoted with a
    quote character ``value`` does not hold."""
    q = "'" if '"' in value else '"'
    new = f"{name}={q}{value}{q}"
    found = _attrs_named(tag, name)
    if not found:
        return tag[:-1] + " " + new + ">"
    m = found[0]
    return tag[:m.start()] + new + tag[m.end():]


def _strip_attrs(tag: str, *names: str) -> str:
    """``tag`` without any ``names`` attribute — every occurrence, so no
    later duplicate takes over — and the whitespace before each."""
    cuts = sorted(m.span() for name in names
                  for m in _attrs_named(tag, name))
    for a, b in reversed(cuts):
        tag = tag[:a].rstrip() + tag[b:]
    return tag


def op_set_value(html: str, table: int, row: int, col: int, value) -> str:
    with _parsed_table(html, table) as (_t, _rows, cells):
        cell = _cell(cells, row, col)
        return html[:cell.s1] + _escape(value) + html[cell.e0:]


def op_set_link(html: str, table: int, row: int, col: int, href) -> str:
    """Wrap the cell's text (the text extraction reports) in an anchor —
    the cell's link in links_map afterwards is exactly ``href``."""
    quoted = _escape(href).replace('"', "&quot;")
    with _parsed_table(html, table) as (_t, _rows, cells):
        cell = _cell(cells, row, col)
        return (html[:cell.s1] + f'<a href="{quoted}">'
                + _escape(cell.text_content()) + "</a>" + html[cell.e0:])


def op_set_fill_color(html: str, table: int, row: int, col: int,
                      color: str) -> str:
    """Set the cell's background (the colors_map carrier) by editing the
    open tag's style attribute — existing background declarations are
    replaced, other declarations kept."""
    return _set_cell_style(html, table, row, col,
                           [("background", _check_style_value(color))])


def op_add_row(html: str, table: int, row: int, values,
               header: bool = False) -> str:
    """Insert a ``<tr>`` of ``values`` so it becomes row ``row`` (0-based;
    ``row`` may equal the current row count to append)."""
    tag = "th" if header else "td"
    tr = "<tr>" + "".join(
        f"<{tag}>{_escape(v)}</{tag}>" for v in values) + "</tr>"
    with _parsed_table(html, table) as (t, rows, _cells):
        _markup_table(t)
        if not 0 <= row <= len(rows):
            raise ValueError("row index out of range")
        at = rows[row].s0 if row < len(rows) else rows[-1].e1
    return html[:at] + tr + html[at:]


def op_delete_row(html: str, table: int, row: int) -> str:
    with _parsed_table(html, table) as (_t, rows, _cells):
        if not 0 <= row < len(rows):
            raise ValueError("row index out of range")
        return html[:rows[row].s0] + html[_row_end(rows, row):]


# -- wave 2 (VERDICT r5 #4): style splices, conditional set, range set,
# -- merge/unmerge via rowspan/colspan splice --------------------------------

_STYLE_VALUE_BAD = ('"', "'", "<", ">", ";")


def _check_style_value(value: str) -> str:
    """Style-splice values must not break out of the quoted attribute or
    smuggle extra declarations — reject, don't sanitize (a skipped op is
    honest; a silently altered value is not)."""
    s = str(value)
    if any(ch in s for ch in _STYLE_VALUE_BAD):
        raise ValueError("unsafe style value")
    return s


# the properties a declaration replaces, where more than its own name
_REPLACES = {"background": ("background", "background-color")}


def _replace_style_decl(open_tag: str, prop: str, value: str) -> str:
    """Set ``prop: value`` in the open tag's style attribute — existing
    declarations of the SAME property are dropped (exact-name match, so
    ``color`` never eats ``background-color``; the ``background``
    shorthand also drops ``background-color``), everything else kept."""
    drop = _REPLACES.get(prop, (prop,))
    kept = [
        d.strip() for d in _attr_value(open_tag, "style").split(";")
        if d.strip() and d.partition(":")[0].strip().lower() not in drop
    ]
    return _set_attr(open_tag, "style", ";".join(kept + [f"{prop}:{value}"]))


_H_ALIGN = {"general", "left", "center", "right", "fill", "justify",
            "centercontinuous", "distributed"}
_V_ALIGN = {"top", "center", "bottom", "justify", "distributed"}


def _style_decls(bold=None, font_size=None, color=None, fill_color=None,
                 horizontal=None, vertical=None, wrap_text=None) -> list:
    """``[(property, value)]`` for the given style fields, each validated
    — the one mapping behind the single-cell style ops and
    ``set_style``; the alignment vocabularies are the reference's
    literal types (edit/types.py HorizontalAlignType/VerticalAlignType)."""
    decls: list = []
    if bold is not None:
        decls.append(("font-weight", "bold" if bold else "normal"))
    if font_size is not None:
        if isinstance(font_size, bool) or not isinstance(
                font_size, (int, float)) or not 1 <= font_size <= 512:
            raise ValueError("font size must be a number in [1, 512]")
        sz = (int(font_size) if float(font_size).is_integer()
              else float(font_size))
        decls.append(("font-size", f"{sz}pt"))
    if color is not None:
        decls.append(("color", _check_style_value(color)))
    if fill_color is not None:
        decls.append(("background-color", _check_style_value(fill_color)))
    if horizontal is not None:
        h = str(horizontal).lower()
        if h not in _H_ALIGN:
            raise ValueError("bad horizontal alignment")
        decls.append(("text-align",
                      {"centercontinuous": "center", "fill": "left",
                       "distributed": "justify",
                       "general": "left"}.get(h, h)))
    if vertical is not None:
        v = str(vertical).lower()
        if v not in _V_ALIGN:
            raise ValueError("bad vertical alignment")
        decls.append(("vertical-align",
                      "justify" if v == "distributed" else v))
    if wrap_text is not None:
        decls.append(("white-space", "normal" if wrap_text else "nowrap"))
    if not decls:
        raise ValueError("no style field given")
    return decls


def _styled_tag(open_tag: str, decls: list) -> str:
    for prop, value in decls:
        open_tag = _replace_style_decl(open_tag, prop, value)
    return open_tag




def _set_cell_style(html: str, table: int, row: int, col: int,
                    decls: list) -> str:
    with _parsed_table(html, table) as (_t, _rows, cells):
        cell = _cell(cells, row, col)
        s0, s1 = cell.s0, cell.s1
    return html[:s0] + _styled_tag(html[s0:s1], decls) + html[s1:]


def op_set_bold(html: str, table: int, row: int, col: int,
                bold: bool = True) -> str:
    """Reference ``set_bold`` (edit/types.py) — font-weight splice."""
    return _set_cell_style(html, table, row, col,
                           _style_decls(bold=bool(bold)))


def op_set_font_size(html: str, table: int, row: int, col: int,
                     size) -> str:
    """Reference ``set_font_size`` — points, like Excel font sizes."""
    return _set_cell_style(html, table, row, col,
                           _style_decls(font_size=size))


def op_set_font_color(html: str, table: int, row: int, col: int,
                      color: str) -> str:
    """Reference ``set_font_color`` — CSS color splice."""
    return _set_cell_style(html, table, row, col, _style_decls(color=color))


def op_set_alignment(html: str, table: int, row: int, col: int,
                     horizontal=None, vertical=None) -> str:
    """Reference ``set_alignment`` — text-align / vertical-align splice."""
    return _set_cell_style(html, table, row, col, _style_decls(
        horizontal=horizontal, vertical=vertical))


def op_set_value_if(html: str, table: int, row: int, col: int,
                    expected, value) -> str:
    """Reference ``set_value_if`` — conditional write: the cell is set
    only when its current text equals ``expected``; a mismatch is a
    skipped op (the reference's PatchStatus contract), never a silent
    overwrite."""
    with _parsed_table(html, table) as (_t, _rows, cells):
        cell = _cell(cells, row, col)
        # the text extraction reports (whitespace-collapsed), so a
        # client echoing the extractor's value matches a cell whose
        # markup carries newlines/indentation
        if cell.text_content() != " ".join(str(expected).split()):
            raise ValueError("condition not met")
        return html[:cell.s1] + _escape(value) + html[cell.e0:]


def _splice_all(html: str, edits: list) -> str:
    """Apply ``[(start, end, replacement)]`` splices back-to-front so
    earlier byte offsets stay valid.  Shared by the multi-splice ops —
    note zero-width insertions at equal offsets rely on the reverse
    sort being applied to the full tuples (stable for distinct spans)."""
    for start, end, repl in sorted(edits, reverse=True):
        html = html[:start] + repl + html[end:]
    return html


def op_set_range_values(html: str, table: int, row: int, col: int,
                        values) -> str:
    """Reference ``set_range_values`` — a 2-D block write anchored at
    grid position (row, col), each value to the cell anchored at its
    position.  All-or-nothing: every target address is validated BEFORE
    the first splice, so a partially out-of-range block (or one landing
    on a slot a span covers) is one skipped op, not a half-applied
    write."""
    if not isinstance(values, list) or not values or not all(
        isinstance(r, list) for r in values
    ):
        raise ValueError("values must be a non-empty list of rows")
    # ONE parse: collect every target span up front, validate, then
    # splice back-to-front (per-cell op_set_value calls would re-parse
    # the whole document per cell — O(block_cells x doc_size))
    edits: list = []
    with _parsed_table(html, table) as (_t, _rows, cells):
        for dr, row_vals in enumerate(values):
            for dc, v in enumerate(row_vals):
                cell = _cell(cells, row + dr, col + dc)
                edits.append((cell.s1, cell.e0, _escape(v)))
    return _splice_all(html, edits)


def op_merge_cells(html: str, table: int, r1: int, c1: int,
                   r2: int, c2: int) -> str:
    """Reference ``merge_cells`` — GRID coordinates (0-based, inclusive),
    the HTML splice of an A1-range merge: the master cell at (r1, c1)
    gains rowspan/colspan, every other cell whose origin lies inside the
    rectangle is removed (its value is lost, exactly like an Excel
    merge).  A rectangle that crosses an existing span — from inside or
    outside — is a skipped op."""
    if not (r1 <= r2 and c1 <= c2) or r1 < 0 or c1 < 0:
        raise ValueError("bad merge rectangle")
    if r1 == r2 and c1 == c2:
        raise ValueError("degenerate merge")
    with _parsed_table(html, table) as (t, rows, cells):
        _markup_table(t)
        if r2 >= len(rows):
            raise ValueError("merge exceeds table rows")
        master = None
        doomed: list = []
        covered_area = 0
        for (r, gc), (cell, rs, cl) in cells.items():
            inside = r1 <= r <= r2 and c1 <= gc <= c2
            extent_r, extent_c = r + rs - 1, gc + cl - 1
            overlaps = not (extent_r < r1 or r > r2
                            or extent_c < c1 or gc > c2)
            if inside:
                if extent_r > r2 or extent_c > c2 or rs > 1 or cl > 1:
                    raise ValueError("merge crosses an existing span")
                covered_area += rs * cl
                if (r, gc) == (r1, c1):
                    master = cell
                else:
                    doomed.append(cell)
            elif overlaps:
                raise ValueError("merge crosses an outside span")
        if master is None:
            raise ValueError("master cell not found")
        if covered_area != (r2 - r1 + 1) * (c2 - c1 + 1):
            # uncovered grid positions (ragged rows, or c2 past the
            # table's width): merging would fabricate a colspan wider
            # than the grid instead of addressing real cells — bad
            # address, skipped op
            raise ValueError("merge rectangle not fully covered by cells")
        n_rows, n_cols = r2 - r1 + 1, c2 - c1 + 1
        attrs = (f' rowspan="{n_rows}"' if n_rows > 1 else "") + (
            f' colspan="{n_cols}"' if n_cols > 1 else "")
        open_tag = _strip_attrs(html[master.s0:master.s1],
                                "rowspan", "colspan")
        edits = [(d.s0, d.e1, "") for d in doomed]
        edits.append((master.s0, master.s1, open_tag[:-1] + attrs + ">"))
    return _splice_all(html, edits)


def op_unmerge_cells(html: str, table: int, row: int, col: int) -> str:
    """Reference ``unmerge_cells`` — the master cell at GRID (row, col)
    loses its rowspan/colspan and the vacated grid positions become
    empty cells (blank, like Excel's unmerge), each row's inserted at
    the DOM position of its grid column."""
    with _parsed_table(html, table) as (t, rows, cells):
        _markup_table(t)
        hit = cells.get((row, col))
        if hit is None:
            raise ValueError("cell not found")
        cell, rs, cl = hit
        if rs == 1 and cl == 1:
            raise ValueError("cell is not merged")
        empty = f"<{cell.tag}></{cell.tag}>"
        edits = [(cell.s0, cell.s1, _strip_attrs(
            html[cell.s0:cell.s1], "rowspan", "colspan"))]
        if cl > 1:  # master row: empties right after the master cell
            edits.append((cell.e1, cell.e1, empty * (cl - 1)))
        for rr in range(row + 1, min(row + rs, len(rows))):
            # insert before the first cell of the row past the span;
            # else after its last cell before it; else just after the
            # row's start tag
            after = [other.s0 for (r, gc), (other, _rs, _cl) in cells.items()
                     if r == rr and gc > col]
            before = [other.e1 for (r, gc), (other, _rs, _cl)
                      in cells.items() if r == rr and gc < col]
            at = (min(after) if after else max(before) if before
                  else rows[rr].s1)
            edits.append((at, at, empty * cl))
    return _splice_all(html, edits)


def _rect_cells(rows: list, cells: dict, r1: int, c1: int, r2: int,
                c2: int) -> list:
    """The cells whose origin lies in the GRID rectangle (0-based,
    inclusive).  A merged cell crossing its boundary — including a
    rowspan entering it from an origin row above ``r1`` — makes the
    address ambiguous, as does a rectangle with no cell: both raise."""
    if not (0 <= r1 <= r2 and 0 <= c1 <= c2):
        raise ValueError("bad rectangle")
    if r2 >= len(rows):
        raise ValueError("rectangle exceeds table rows")
    out: list = []
    for (r, gc), (cell, rs, cl) in cells.items():
        if r + rs - 1 < r1 or r > r2 or gc + cl - 1 < c1 or gc > c2:
            continue  # disjoint
        if r < r1 or gc < c1 or r + rs - 1 > r2 or gc + cl - 1 > c2:
            raise ValueError("rectangle splits a merged cell")
        out.append(cell)
    if not out:
        raise ValueError("rectangle covers no cells")
    return out


def _style_rect(html: str, table: int, r1: int, c1: int, r2: int, c2: int,
                decls: list) -> str:
    with _parsed_table(html, table) as (_t, rows, cells):
        edits = [(c.s0, c.s1, _styled_tag(html[c.s0:c.s1], decls))
                 for c in _rect_cells(rows, cells, r1, c1, r2, c2)]
    return _splice_all(html, edits)


def op_draw_grid_border(html: str, table: int, r1: int, c1: int,
                        r2: int, c2: int, style: str = "1px solid #000",
                        ) -> str:
    """Reference ``draw_grid_border`` — GRID coordinates (0-based,
    inclusive): every cell whose origin lies inside the rectangle gains
    a ``border`` declaration (the G1 border-signal carrier), existing
    border declarations replaced, other styles kept.  Cells merged
    ACROSS the rectangle boundary make the address ambiguous: skipped."""
    return _style_rect(html, table, r1, c1, r2, c2,
                       [("border", _check_style_value(style))])


def op_set_style(html: str, table: int, r1: int, c1: int,
                 r2: int, c2: int, bold=None, font_size=None,
                 color=None, fill_color=None, horizontal=None,
                 vertical=None, wrap_text=None) -> str:
    """Reference ``set_style`` (edit/internal.py:1253) — the combined
    style op over a cell RANGE (grid coordinates, like
    ``draw_grid_border``): at least one style field required, each
    mapped to the same CSS declaration its single-cell op uses.  A
    range that splits a merged cell is a skipped op."""
    return _style_rect(html, table, r1, c1, r2, c2, _style_decls(
        bold, font_size, color, fill_color, horizontal, vertical,
        wrap_text))


def op_set_dimensions(html: str, table: int, rows=None, row_height=None,
                      columns=None, column_width=None) -> str:
    """Reference ``set_dimensions`` (edit/internal.py:1120) — row
    heights and/or column widths.  HTML carriers: ``height:<n>px`` on
    the row open tags, ``width:<n>px`` on every unmerged cell whose grid
    column is listed (the per-cell width rule — HTML has no per-table
    column object without a ``<colgroup>``, and injecting one would
    reshape documents that never had it)."""
    has_rows = rows is not None
    has_cols = columns is not None
    if not has_rows and not has_cols:
        raise ValueError("set_dimensions requires rows and/or columns")
    for which, val in (("row_height", row_height),
                       ("column_width", column_width)):
        if val is not None and (isinstance(val, bool) or not isinstance(
                val, (int, float)) or val <= 0 or val > 10_000):
            raise ValueError(f"bad {which}")
    if has_rows and row_height is None:
        raise ValueError("rows given without row_height")
    if has_cols and column_width is None:
        raise ValueError("columns given without column_width")
    edits: list = []
    with _parsed_table(html, table) as (_t, grid_rows, cells):
        if has_rows:
            hv = (int(row_height) if float(row_height).is_integer()
                  else float(row_height))
            for r in rows:
                if not isinstance(r, int) or not 0 <= r < len(grid_rows):
                    raise ValueError("row index out of range")
            # one splice per distinct row: a repeated index would splice
            # the same start tag twice at the same offsets
            for r in dict.fromkeys(rows):
                tr = grid_rows[r]
                edits.append((tr.s0, tr.s1, _replace_style_decl(
                    html[tr.s0:tr.s1], "height", f"{hv}px")))
        if has_cols:
            wv = (int(column_width) if float(column_width).is_integer()
                  else float(column_width))
            wanted = set()
            for c in columns:
                if not isinstance(c, int) or c < 0:
                    raise ValueError("bad column index")
                wanted.add(c)
            hit = False
            for (_r, gc), (cell, _rs, cl) in cells.items():
                if cl == 1 and gc in wanted:
                    hit = True
                    edits.append((cell.s0, cell.s1, _replace_style_decl(
                        html[cell.s0:cell.s1], "width", f"{wv}px")))
            if not hit:
                raise ValueError("no unmerged cell in the listed columns")
    return _splice_all(html, edits)


_STYLE_TOKEN_RE = re.compile(r"^[A-Za-z][\w-]{0,63}$")


def op_apply_table_style(html: str, table: int, style: str,
                         table_name=None) -> str:
    """Reference ``apply_table_style`` (edit/internal.py:1285) — a NAMED
    table style.  HTML carrier: the style name joins the table's class
    list (the indirect-styling channel kernels/css.py resolves and A2's
    class_map indexes); ``table_name`` lands in ``data-table-name``.
    Names must be single identifier tokens — reject, don't sanitize."""
    if not isinstance(style, str) or not _STYLE_TOKEN_RE.match(style):
        raise ValueError("bad table style name")
    if table_name is not None and (
            not isinstance(table_name, str)
            or not _STYLE_TOKEN_RE.match(table_name)):
        raise ValueError("bad table name")
    with _parsed_table(html, table) as (t, _rows, _cells):
        t0, end = t.s0, t.s1
    tag = html[t0:end]
    classes = _attr_value(tag, "class").split()
    if style not in classes:
        classes.append(style)
    tag = _set_attr(tag, "class", " ".join(classes))
    if table_name is not None and not _attrs_named(tag, "data-table-name"):
        tag = _set_attr(tag, "data-table-name", table_name)
    return html[:t0] + tag + html[end:]


_CHART_TYPES = {"bar": "bar", "column": "bar", "line": "line",
                "pie": "pie", "scatter": "scatter", "area": "line",
                "doughnut": "doughnut"}


def op_create_chart(html: str, table: int, chart_type: str,
                    r1: int, c1: int, r2: int, c2: int,
                    title=None, titles_from_data: bool = True,
                    series_from_rows: bool = False,
                    anchor=None) -> str:
    """Reference ``create_chart`` (edit/internal.py:1346) — the HTML
    analogue injects a Chart.js config script bound to the table's data
    range (grid coordinates), which the F7 chart-config parser reads
    back: ``extract(create_chart(doc))`` round-trips the series.  With
    ``titles_from_data`` the range's first row (or first column when
    ``series_from_rows``) names the labels/series; non-numeric data
    cells become nulls (Chart.js's own missing-point value)."""
    import json as _json

    ct = _CHART_TYPES.get(str(chart_type).lower())
    if ct is None:
        raise ValueError("unknown chart type")
    if not (0 <= r1 <= r2 and 0 <= c1 <= c2):
        raise ValueError("bad data range")
    # grid -> matrix of the cell texts extraction reports (None where no
    # cell origin)
    grid: dict = {}
    with _parsed_table(html, table) as (t, rows, cells):
        if r2 >= len(rows):
            raise ValueError("data range exceeds table rows")
        for (r, gc), (cell, _rs, _cl) in cells.items():
            if r1 <= r <= r2 and c1 <= gc <= c2:
                grid[(r, gc)] = cell.text_content()
        at = t.e1
    matrix = [[grid.get((r, c)) for c in range(c1, c2 + 1)]
              for r in range(r1, r2 + 1)]
    if series_from_rows:
        matrix = [list(t) for t in zip(*matrix)]
    if len(matrix) < 2 or len(matrix[0]) < 2:
        raise ValueError("data range too small for a chart")

    def _num(s):
        try:
            return float(s)
        except (TypeError, ValueError):
            return None

    if titles_from_data:
        header, body = matrix[0], matrix[1:]
        labels = [row[0] or "" for row in body]
        names = [h or f"series{i}" for i, h in enumerate(header[1:])]
        datasets = [
            {"label": names[j],
             "data": [_num(row[j + 1]) for row in body]}
            for j in range(len(names))
        ]
    else:
        labels = [str(i) for i in range(len(matrix))]
        datasets = [
            {"label": f"series{j}",
             "data": [_num(row[j]) for row in matrix]}
            for j in range(len(matrix[0]))
        ]
    if not any(any(v is not None for v in d["data"]) for d in datasets):
        raise ValueError("data range has no numeric series")
    cfg: dict = {"type": ct, "data": {"labels": labels,
                                      "datasets": datasets}}
    if title is not None:
        # raw title, not HTML-escaped: script content is raw text (never
        # entity-decoded), so escaping here broke the documented
        # extract(create_chart(doc)) round-trip for '&'/'<' titles
        # (r7 review finding) — script-safety is handled below by the
        # JSON-level "</" escape instead
        cfg["options"] = {"plugins": {"title": {
            "display": True, "text": str(title)}}}
    cid = f"chart-t{table}-{r1}-{c1}"
    anchor_attr = ""
    if anchor is not None:
        if not isinstance(anchor, str) or not _STYLE_TOKEN_RE.match(
                anchor.replace(":", "")):
            raise ValueError("bad anchor")
        anchor_attr = f' data-anchor="{anchor}"'
    # "</" -> "<\/" (a JSON no-op escape that parses back identical):
    # any cell text containing "</script>" would otherwise terminate
    # the script element early and corrupt the document (r7 review
    # finding — labels and dataset names are page-derived text)
    cfg_js = _json.dumps(cfg).replace("</", "<\\/")
    snippet = (
        f'<canvas id="{cid}"{anchor_attr}></canvas>'
        f'<script>new Chart(document.getElementById("{cid}"), '
        f"{cfg_js});</script>"
    )
    return html[:at] + snippet + html[at:]


def _row_cells(rows: list, cells: dict) -> list:
    """Each grid row's anchor cells, in grid column order."""
    out: list = [[] for _ in rows]
    for (r, _c), (cell, _rs, _cl) in cells.items():
        out[r].append(cell)
    return out


def design_snapshot(html: str, table: int) -> dict:
    """Capture the table's DESIGN state for ``restore_design_snapshot``
    (the reference's DesignSnapshot, edit/models.py:108 — borders,
    fonts, fills, alignments, dimensions): the table's open tag plus
    every grid row's and anchor cell's OPEN TAG verbatim.  Every design
    op in this module rewrites only open tags, so restoring them is an
    exact inverse; structural ops (merge, add_row) invalidate the
    snapshot and restore skips (shape check)."""
    with _parsed_table(html, table) as (t, rows, cells):
        return {"table": table, "table_tag": html[t.s0:t.s1],
                "rows": [html[tr.s0:tr.s1] for tr in rows],
                "cells": [[html[c.s0:c.s1] for c in row_cells]
                          for row_cells in _row_cells(rows, cells)]}


def op_restore_design_snapshot(html: str, design_snapshot: dict) -> str:
    """Reference ``restore_design_snapshot`` — the inverse op: splice
    the captured open tags back.  The CURRENT table must have the same
    shape (row count, cells per row) as the snapshot; a structurally
    edited table is a skipped op, never a mis-addressed restore."""
    snap = design_snapshot
    if not isinstance(snap, dict):
        raise ValueError("bad snapshot")
    try:
        table = snap["table"]
        table_tag = snap["table_tag"]
        snap_rows = snap["rows"]
        snap_cells = snap["cells"]
    except (KeyError, TypeError):
        raise ValueError("bad snapshot") from None
    if (not isinstance(snap_rows, list) or not isinstance(
            snap_cells, list) or len(snap_rows) != len(snap_cells)
            or not all(isinstance(rc, list) for rc in snap_cells)):
        raise ValueError("bad snapshot")
    with _parsed_table(html, table) as (t, rows, cells):
        row_cells = _row_cells(rows, cells)
        if len(rows) != len(snap_rows) or any(
                len(now) != len(tags)
                for now, tags in zip(row_cells, snap_cells)):
            raise ValueError("snapshot shape mismatch")
        edits: list = [(t.s0, t.s1, str(table_tag))]
        for tr, now, row_tag, cell_tags in zip(rows, row_cells, snap_rows,
                                               snap_cells):
            edits.append((tr.s0, tr.s1, str(row_tag)))
            edits += [(c.s0, c.s1, str(tag))
                      for c, tag in zip(now, cell_tags)]
    return _splice_all(html, edits)


_OPS = {
    "set_value": op_set_value,
    "set_link": op_set_link,
    "set_fill_color": op_set_fill_color,
    "add_row": op_add_row,
    "delete_row": op_delete_row,
    "set_bold": op_set_bold,
    "set_font_size": op_set_font_size,
    "set_font_color": op_set_font_color,
    "set_alignment": op_set_alignment,
    "set_value_if": op_set_value_if,
    "set_range_values": op_set_range_values,
    "merge_cells": op_merge_cells,
    "unmerge_cells": op_unmerge_cells,
    "draw_grid_border": op_draw_grid_border,
    "set_style": op_set_style,
    "set_dimensions": op_set_dimensions,
    "apply_table_style": op_apply_table_style,
    "create_chart": op_create_chart,
    "restore_design_snapshot": op_restore_design_snapshot,
}


def apply_ops(html: str, ops: list, url: str = "",
              external_css=None) -> tuple:
    """Apply an op list in order -> (patched_html, statuses).

    ``url`` and ``external_css`` are the page's URL and corpus-joined
    sheets (``extract_document``'s arguments of the same names): the
    ops address the tables extraction reports under the same cascade.

    Each op is a dict: ``{"op": name, "table": i, ...}`` with the op's
    keyword arguments.  Statuses mirror the reference's PatchStatus:
    ``applied`` or ``skipped`` (unknown op, bad address, malformed
    region) — a skipped op never aborts the rest (edit/types.py
    parity; X3 fallback-not-fail)."""
    statuses = []
    token = _PAGE.set((url, external_css))
    try:
        for op in ops:
            # totality over arbitrary JSON shapes: a non-dict op entry or
            # a non-string op name is a skipped op, never an exception
            name = op.get("op") if isinstance(op, dict) else None
            fn = _OPS.get(name) if isinstance(name, str) else None
            if fn is None:
                statuses.append("skipped")
                continue
            kwargs = {k: v for k, v in op.items() if k != "op"}
            try:
                html = fn(html, **kwargs)
                statuses.append("applied")
            except (ValueError, TypeError):
                statuses.append("skipped")
    finally:
        _PAGE.reset(token)
    return html, statuses
