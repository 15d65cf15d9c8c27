"""Table extraction: <table> -> sparse cell rows + merged-cells compression
+ scored candidates, plus a heuristic grid detector for borderless layouts.

Parity map (behaviour, not code — SURVEY.md §2):
  * sparse ``rows`` with 1-based ``r`` and string column keys, empty cells
    dropped                     ~ CellRow (reference models/__init__.py:118-128,
                                  core/cells.py:701-719)
  * rowspan/colspan -> ``merged_cells`` schema+items columnar compression,
    rows 1-based / cols 0-based ~ MergedCells (models/__init__.py:99-116)
  * master-cell (top-left) value rule, non-master cells excluded
                                 ~ core/cells.py:780-795 + the merged-interval
                                  anti-join (core/pipeline.py:789-893)
  * per-candidate density/coverage/header/structure score and gates
                                 ~ _table_signal_score / _header_like_row /
                                  _table_density_metrics (core/cells.py:
                                  1209-1381) with defaults from cells.py:38-43
  * declared <table> trusted before heuristics, like ListObjects
                                 ~ core/cells.py:1808-1815
  * declared grids in both forms — <table> (``_table_rows``) and ARIA
    ``role="table"``/``grid`` (``_aria_rows``) — expand through ONE
    occupancy grid (``_expand_grid``), so hiding, paint, spans and caps
    read the same in either form ~ ListObjects (com_backend.py G7)
  * scan caps with logged truncation ~ TableScanLimits (core/cells.py:118-165)
  * <a href> in cells -> per-row ``links`` map ~ extract_sheet_cells_with_links
                                  (core/cells.py:722-760)
"""

from __future__ import annotations

from collections import Counter
from operator import attrgetter
from typing import Optional

from exstruct_spark.config import DetectionConfig
from exstruct_spark.kernels.a1 import col_index_to_alpha, make_range
from exstruct_spark.kernels.clusters import merge_rectangles, nonempty_clusters
from exstruct_spark.kernels.coerce import coerce_scalar
from exstruct_spark.kernels.colors import cell_background
from exstruct_spark.kernels.dom import (
    RENDER_INERT, Node, is_hidden, visibility_of)


_own_attrs = attrgetter("attrs")  # effective attrs when no <style> rules


def _int_attr(node: Node, name: str, default: int = 1) -> int:
    v = node.attrs.get(name)
    if v is None:  # absent attr (the common case) — no str/int round-trip
        return default
    try:
        v = int(str(v).strip())
        return v if v >= 1 else default
    except (TypeError, ValueError):
        return default


_ROWGROUPS = ("thead", "tbody", "tfoot")
_ARIA_CELL_ROLES = ("cell", "gridcell", "columnheader", "rowheader")


def _role(node: Node) -> str:
    return (node.attrs.get("role") or "").strip().lower()


def _table_cells(tr: Node):
    for cell in tr.element_children():
        if cell.tag in ("td", "th"):
            yield (cell, _int_attr(cell, "rowspan"),
                   _int_attr(cell, "colspan"), cell.tag == "th")


def _table_rows(table: Node) -> list:
    """The <table>'s OWN rows as ``(tr, rowgroup or None, cells)``;
    ``cells`` lazily yields ``(cell, rowspan, colspan, is_header)`` for
    the row's td/th children.  A nested <table> owns its rows (it
    extracts as its own artifact), so its subtree is skipped, and so is
    a ``RENDER_INERT`` one (a <template> or <noscript> copy is never
    rendered)."""
    rows = []
    skip_to = -1
    # [1:] drops the table itself (find_all is pre-order including self)
    for n in table.find_all("tr", "table", *RENDER_INERT)[1:]:
        if n.i0 < skip_to:
            continue
        if n.tag != "tr":
            skip_to = n.i1
            continue
        group = n.parent if n.parent.tag in _ROWGROUPS else None
        rows.append((n, group, _table_cells(n)))
    return rows


def is_table_like(node: Node) -> bool:
    """Whether ``node`` declares a table: a ``<table>`` that is not
    ``role=presentation``/``none`` (the author's mark of a LAYOUT table,
    whose content flows as ordinary text), or ``role=table``/``grid`` on
    any other element (the ARIA form).  The one rule behind extraction's
    table walk and the cell edits' table index."""
    role = _role(node)
    if node.tag == "table":
        return role not in ("presentation", "none")
    return role in ("table", "grid")


def _aria_find(node: Node, roles: tuple, eff) -> list:
    """Descendants of ``node`` whose role is in ``roles``, pre-order.
    Descent stops at a match, at a nested role=table/grid (an inner
    declared table owns its rows and cells) and at a hidden element
    (``is_hidden`` on its effective attrs ``eff``: nothing inside a
    ``display:none`` wrapper renders)."""
    out = []
    stack = list(reversed(node.element_children()))
    while stack:
        n = stack.pop()
        role = _role(n)
        if role in roles:
            out.append(n)
        elif role not in ("table", "grid") and not is_hidden(eff(n)):
            stack.extend(reversed(n.element_children()))
    return out


def _aria_cells(row: Node, eff):
    for cell in _aria_find(row, _ARIA_CELL_ROLES, eff):
        yield (cell, _int_attr(cell, "aria-rowspan"),
               _int_attr(cell, "aria-colspan"),
               _role(cell) == "columnheader")


def _aria_rows(table: Node, css=None) -> list:
    """G7-twin enumerator: ``role="row"`` rows of a ``role="table"``/
    ``grid`` container, shaped like ``_table_rows`` — ``role="rowgroup"``
    is the rowgroup analogue, cell/gridcell/columnheader/rowheader the
    cells (``columnheader`` the <th> analogue), ``aria-rowspan``/
    ``aria-colspan`` the spans."""
    eff = css.effective_attrs if css else _own_attrs
    return [
        (row, row.parent if _role(row.parent) == "rowgroup" else None,
         _aria_cells(row, eff))
        for row in _aria_find(table, ("row",), eff)
    ]


def _col_paint(table: Node, cfg: DetectionConfig, css=None) -> list:
    """<colgroup>/<col> column paint, span-expanded (no ARIA analogue)."""
    eff = css.effective_attrs if css else _own_attrs
    col_bg: list = []
    for child in table.element_children():
        cols = ([child] if child.tag == "col"
                else child.element_children()
                if child.tag == "colgroup" else ())
        for col in cols:
            if col.tag != "col":
                continue
            bg = cell_background(eff(col))
            span = _int_attr(col, "span")
            col_bg.extend([bg] * min(span, cfg.max_cols))
            if len(col_bg) >= cfg.max_cols:
                break
    while col_bg and col_bg[-1] is None:
        col_bg.pop()
    return col_bg


def _expand_grid(rows: list, col_bg: list, has_links: bool,
                 cfg: DetectionConfig, css=None, anchors=None):
    """Occupancy-grid expansion of one declared table's rows (from
    ``_table_rows`` or ``_aria_rows``).

    Returns (cells, merged_items, links, th_cells, colors, n_rows, n_cols,
    truncated) where ``cells`` maps (r, c) 0-based -> coerced value for
    master cells only, ``merged_items`` are [r1, c1, r2, c2, value] with r
    1-based / c 0-based (the reference's MergedCells coordinate convention),
    ``links`` maps (r, c) -> first href in the cell, ``th_cells`` is the set
    of (r, c) that came from header cells, and ``colors`` maps (r, c) ->
    normalized background color (the colors_map source, reference
    core/cells.py:277-310).

    ``anchors``, when given as ``(rows, cells)`` (an empty list and an
    empty dict), receives the address map of the grid: ``rows[r]`` is
    the row node of grid row ``r`` and ``cells[(r, c)]`` is ``(cell
    node, rowspan, colspan)`` for each placed, non-blank anchor cell,
    spans capped as ``merged_items`` caps them.  The cell edit ops
    (kernels/edits.py) address cells through it.
    """
    # class-resolved style (kernels/css.py) falls back to the bare attrs
    # when no <style> rules exist — the common case stays an identity read
    eff = css.effective_attrs if css else _own_attrs
    cells: dict = {}
    merged_items: list = []
    links: dict = {}
    th_cells: set = set()
    colors: dict = {}
    occupied: set = set()

    # hidden rows are not rendered: later rows shift up, exactly as a
    # browser lays the table out (hidden attr / display:none, class
    # rules resolved — filtered BEFORE the row cap).  visibility:
    # collapse removes rows/row-groups the same way; visibility:hidden
    # keeps the layout slot but paints NOTHING — the row stays in the
    # grid with every cell blank (a browser's blank-box semantics).
    # Rowgroup state (removed, blank, paint) is memoized per group.
    groups: dict = {}
    kept = []
    for row, group, row_cells in rows:
        group_blank, group_bg = False, None
        if group is not None:
            state = groups.get(id(group))
            if state is None:
                g_eff = eff(group)
                g_vis = visibility_of(g_eff)
                state = groups[id(group)] = (
                    is_hidden(g_eff) or g_vis == "collapse",
                    g_vis == "hidden",
                    cell_background(g_eff),
                )
            removed, group_blank, group_bg = state
            if removed:
                continue  # a hidden/collapsed rowgroup hides its rows
        r_eff = eff(row)
        vis = visibility_of(r_eff)
        if not is_hidden(r_eff) and vis != "collapse":
            kept.append((row_cells, r_eff, group_blank or vis == "hidden",
                         group_bg, row))
    truncated = len(kept) > cfg.max_rows
    kept = kept[: cfg.max_rows]
    n_cols = 0
    empty_run = 0
    n_rows_scanned = 0
    span_floor = -1  # deepest row still covered by an active rowspan
    for r, (row_cells, r_eff, row_blank, group_bg, _row) in enumerate(kept):
        n_rows_scanned = r + 1
        row_had_content = False
        # paint order cell > row > rowgroup > column: cells with no
        # background of their own inherit the row's (tr:nth-child zebra
        # rules, <tr bgcolor>), then the rowgroup's (the header band),
        # then the column's — exactly what a browser renders.  A blank
        # (visibility:hidden) row paints nothing.
        row_bg = (None if row_blank
                  else cell_background(r_eff) or group_bg)
        c = 0
        for cell, rowspan, colspan, is_header in row_cells:
            eff_attrs = eff(cell)
            if eff_attrs and is_hidden(eff_attrs):
                continue  # display:none cell: later cells shift left
            # visibility:hidden/collapse on a cell (or its row): the
            # box KEEPS its grid slot — spans and column positions hold
            # — but paints no text, color, or link
            blank = row_blank or (
                eff_attrs and visibility_of(eff_attrs) in
                ("hidden", "collapse"))
            while (r, c) in occupied:
                c += 1
            if c >= cfg.max_cols:
                truncated = True
                break
            text = "" if blank else cell.text_content()
            if text:
                cells[(r, c)] = coerce_scalar(text)
                row_had_content = True
            if is_header:
                th_cells.add((r, c))
            if not blank and (eff_attrs or row_bg or col_bg):
                color = (cell_background(eff_attrs) or row_bg
                         or (col_bg[c] if c < len(col_bg) else None))
                if color:
                    colors[(r, c)] = color
                    # a colored cell is content for the empty-run counter:
                    # rows carrying only formatting must not truncate real
                    # trailing data (ADVICE r2)
                    row_had_content = True
            # one table-level probe gates the per-cell anchor scans: most
            # tables carry no links, and the per-cell subtree walk is the
            # grid pass's hottest incidental cost (profiled)
            if has_links and not blank:
                a = cell.first_rendered("a")
                if a is not None and a.get("href"):
                    links[(r, c)] = a.get("href")
                    row_had_content = True
            if rowspan > 1 or colspan > 1:
                r2 = min(r + rowspan - 1, cfg.max_rows - 1)
                c2 = min(c + colspan - 1, cfg.max_cols - 1)
                # W3 guard (ADVICE r3): cap the rowspan CREDITED to the
                # empty-run counter — a single adversarial rowspan=1e6
                # cell must not disable early termination for the whole
                # table.  The merged extent r2 itself stays exact; only
                # the "rows under an active span count as content" window
                # is bounded (4x the empty-run budget, then the counter
                # re-arms and the normal truncation log applies).
                span_floor = max(
                    span_floor, min(r2, r + 4 * cfg.max_empty_run)
                )
                # merged value = COERCED top-left master cell (same typed
                # value domain as ``cells`` — reference core/cells.py:780-795
                # has ONE value domain); empty -> " " sentinel
                merged_items.append(
                    [r + 1, c, r2 + 1, c2, cells.get((r, c), " ")])
                for rr in range(r, r2 + 1):
                    for cc in range(c, c2 + 1):
                        if (rr, cc) != (r, c):
                            occupied.add((rr, cc))
            if anchors is not None and not blank:
                anchors[1][(r, c)] = (
                    cell, min(rowspan, cfg.max_rows - r),
                    min(colspan, cfg.max_cols - c))
            n_cols = max(n_cols, c + colspan)
            c += colspan
        # W3 empty-run early termination (the reference stops scanning a
        # used range after a long run of empty rows; logged as truncation).
        # A row fully covered by a tall rowspan is NOT empty — the merged
        # master's extent is content (ADVICE r2).
        empty_run = 0 if row_had_content or r <= span_floor else empty_run + 1
        if empty_run >= cfg.max_empty_run:
            truncated = True
            break
    if anchors is not None:
        anchors[0].extend(k[4] for k in kept[:n_rows_scanned])
    return (
        cells, merged_items, links, th_cells, colors,
        n_rows_scanned, min(n_cols, cfg.max_cols), truncated,
    )


def _sparse_rows(cells: dict, links: dict, alpha_keys: bool = False) -> list:
    """(r, c)->value map -> sorted sparse CellRow dicts.

    ``alpha_keys``: Excel-style column letters instead of 0-based numeric
    strings (parity: ``convert_workbook_keys_to_alpha``, reference
    models/__init__.py:644-657)."""
    key = col_index_to_alpha if alpha_keys else str
    by_row: dict = {}
    for (r, c), v in cells.items():
        by_row.setdefault(r, {})[c] = v
    # links grouped once (r8 — the per-row ``sorted(links)`` rescan was
    # O(rows x links); same col-sorted order per row)
    links_by_row: dict = {}
    if links:
        for (rr, c) in sorted(links):
            links_by_row.setdefault(rr, []).append(c)
    rows = []
    for r in sorted(by_row):
        cmap = {key(c): by_row[r][c] for c in sorted(by_row[r])}
        row: dict = {"r": r + 1, "c": cmap}
        link_cols = links_by_row.get(r)
        if link_cols:
            row["links"] = {key(c): links[(r, c)] for c in link_cols}
        rows.append(row)
    return rows


def _header_like(cells: dict, header_cells: set, n_cols: int) -> bool:
    """First-TWO-rows header heuristic (A5).

    Parity: ``_table_signal_score`` aggregates ``_header_like_row`` over
    ``normalized[:2]`` (reference core/cells.py:1334-1358) — a table with
    a title-ish row 0 and the real header in row 1 still counts.  Per
    row: >= 2 nonempty cells, string-like count >= numeric-like count,
    >= 1 string-like.  <th> presence is a direct positive signal on web
    tables (SURVEY.md §2.4 A5).
    """
    if header_cells:
        return True
    for row_idx in (0, 1):
        row = [v for (r, _c), v in cells.items() if r == row_idx]
        if len(row) < 2:
            continue
        n_str = sum(1 for v in row if isinstance(v, str))
        n_num = len(row) - n_str
        if n_str >= n_num and n_str >= 1:
            return True
    return False


def score_candidate(
    cells: dict, n_rows: int, n_cols: int, header: bool
) -> tuple:
    """Composite table-signal score.

    Parity: ``_table_signal_score`` (reference core/cells.py:1350-1381):
    ``density + 0.2*header + 0.1*(coverage > 0.5) + 0.1*structure`` where
    density = nonempty/total, coverage = bbox_area/total, structure =
    (>=2 rows and >=2 cols each having >=2 nonempty cells).
    """
    total = n_rows * n_cols
    if total == 0 or not cells:
        return 0.0, 0.0, 0.0
    nonempty = len(cells)
    density = nonempty / total
    rs = [r for r, _ in cells]
    cs = [c for _, c in cells]
    bbox = (max(rs) - min(rs) + 1) * (max(cs) - min(cs) + 1)
    coverage = bbox / total
    # C-speed tallies (r8): Counter's _count_elements beats a per-cell
    # Python dict-get loop
    row_counts = Counter(rs)
    col_counts = Counter(cs)
    structure = (
        sum(1 for v in row_counts.values() if v >= 2) >= 2
        and sum(1 for v in col_counts.values() if v >= 2) >= 2
    )
    score = (
        density
        + (0.2 if header else 0.0)
        + (0.1 if coverage > 0.5 else 0.0)
        + (0.1 if structure else 0.0)
    )
    return score, density, coverage


def extract_table(
    table: Node, index: int, cfg: DetectionConfig, alpha_keys: bool = False,
    css=None, anchors=None,
) -> Optional[dict]:
    """One <table> element — or one ARIA ``role="table"``/``grid``
    container (G7 declared-table twin) — -> table artifact dict (or None
    if empty).  Dispatch is on the node itself, so callers feed both
    kinds through one loop in document order.  ``anchors`` is passed to
    ``_expand_grid``."""
    # a native <table> keeps the tr/td walk even when it redundantly
    # declares role="table"/"grid" (very common ARIA pattern on real
    # pages) — the ARIA row/cell walk only applies to non-table
    # containers, which is also how extract.py collects them
    if table.tag != "table" and _role(table) in ("table", "grid"):
        rows, col_bg = _aria_rows(table, css), []
    else:
        # <colgroup>/<col> paint is the lowest layer a cell inherits
        rows, col_bg = _table_rows(table), _col_paint(table, cfg, css)
    (
        cells, merged_items, links, th_cells, colors,
        n_rows, n_cols, truncated,
    ) = _expand_grid(rows, col_bg, table.find_first("a") is not None,
                     cfg, css, anchors)
    if not cells:
        return None
    # the direct <th> signal counts only when row 0 consists ENTIRELY of
    # <th> cells — a table whose <th>s are row headers in column 0 still
    # has a <th> at (0,0), so that row must fall through to the
    # string-vs-numeric heuristic instead (parity: reference
    # core/cells.py:1334-1347 aggregates the first rows only)
    first_row_th = {(r, c) for (r, c) in th_cells if r == 0}
    first_row_cells = {(r, c) for (r, c) in cells if r == 0}
    all_th = bool(first_row_cells) and first_row_cells <= th_cells
    header = _header_like(cells, first_row_th if all_th else set(), n_cols)
    score, density, coverage = score_candidate(cells, n_rows, n_cols, header)
    rs = [r for r, _ in cells]
    cs = [c for _, c in cells]
    rng = make_range(min(rs), min(cs), max(rs), max(cs))
    # the table's OWN rendered caption: a nested table's (or, in an
    # ARIA container, one buried in a cell) names that table, not
    # this one
    caption = next(
        (ch for ch in table.element_children()
         if ch.tag == "caption" and not ch.unrendered),
        None)
    if caption is not None:
        name = caption.text_content()
    else:
        # ARIA tables declare their name via aria-label (the same
        # ListObject-name analogue as <caption>)
        name = (table.attrs.get("aria-label") or "").strip()
    if not name:
        # enclosing <figure>'s figcaption ("Table 1: ...") is the other
        # real-web table-name idiom; bounded ancestor probe
        anc = table.parent
        for _ in range(3):
            if anc is None or anc.tag == "#document":
                break
            if anc.tag == "figure":
                fc = anc.first_rendered("figcaption")
                if fc is not None:
                    name = fc.text_content()
                break
            anc = anc.parent
    out: dict = {
        "id": index,
        # <caption> is the declared table name (the ListObject-name
        # analogue, reference core/cells.py:1780-1815)
        "name": name,
        "range": rng,
        "score": round(score, 4),
        "rows": _sparse_rows(cells, links, alpha_keys),
    }
    if merged_items:
        out["merged_cells"] = {
            "schema": ["r1", "c1", "r2", "c2", "v"],
            "items": merged_items,
        }
        # companion A1 strings per merged region — the reference's
        # SheetData carries BOTH merged_cells and merged_ranges
        # (models/__init__.py:208-214); items are (r 1-based, c 0-based)
        out["merged_ranges"] = [
            make_range(r1 - 1, c1, r2 - 1, c2)
            for r1, c1, r2, c2, _v in merged_items
        ]
    if colors:
        # value -> positions inverted index, (row 1-based, col 0-based) —
        # the exact coordinate convention of the reference colors_map
        # (core/cells.py:277-310); row-major first-seen key order
        cmap: dict = {}
        for (r, c), key in colors.items():
            cmap.setdefault(key, []).append([r + 1, c])
        out["colors_map"] = cmap
    if truncated:
        out["truncated"] = True
    out["_metrics"] = {
        "density": density,
        "coverage": coverage,
        "n_cells": len(cells),
        "header": header,
    }
    return out


def _shrink_sparse_borders(cells: dict, min_border_density: float = 0.2) -> dict:
    """Peel outermost rows/cols whose fill ratio is below the threshold —
    a light form of the reference's shrink-to-content loops
    (core/cells.py:1405-1586): borders of decorative/low-density cells
    are trimmed until every border row and column is content-dense.
    Returns the surviving (r, c) -> value map (possibly empty).
    """
    cells = dict(cells)
    while cells:
        rs = [r for r, _ in cells]
        cs = [c for _, c in cells]
        r_lo, r_hi, c_lo, c_hi = min(rs), max(rs), min(cs), max(cs)
        if r_hi == r_lo or c_hi == c_lo:
            break  # single row/col left: nothing sensible to peel
        width = c_hi - c_lo + 1
        height = r_hi - r_lo + 1
        peeled = False
        for r_edge in (r_lo, r_hi):
            fill = sum(1 for (r, _c) in cells if r == r_edge) / width
            if fill < min_border_density:
                cells = {k: v for k, v in cells.items() if k[0] != r_edge}
                peeled = True
                break
        if peeled:
            continue
        for c_edge in (c_lo, c_hi):
            fill = sum(1 for (_r, c) in cells if c == c_edge) / height
            if fill < min_border_density:
                cells = {k: v for k, v in cells.items() if k[1] != c_edge}
                peeled = True
                break
        if not peeled:
            break
    return cells


def _boxes_to_candidates(
    boxes, cells: dict, cfg: DetectionConfig, alpha_keys: bool,
    start_idx: int, extra: Optional[dict] = None,
) -> list:
    """Cluster bounding boxes + content cells -> gated candidate dicts.

    Shared by the structural and border detection signals: each box is
    re-based, header-checked and scored on its POST-shrink effective
    spans — a peeled border must not keep inflating the density/coverage
    denominator, and the header heuristic looks at the first SURVIVING
    row."""
    out = []
    idx = start_idx
    for br1, bc1, br2, bc2 in boxes:
        sub = {
            k: v
            for k, v in cells.items()
            if br1 <= k[0] <= br2 and bc1 <= k[1] <= bc2
        }
        if len(sub) < cfg.min_cells:
            continue
        shifted = {(r - br1, c - bc1): v for (r, c), v in sub.items()}
        n_rows_eff = br2 - br1 + 1
        n_cols_eff = bc2 - bc1 + 1
        header = _header_like(shifted, set(), n_cols_eff)
        score, density, coverage = score_candidate(
            shifted, n_rows_eff, n_cols_eff, header
        )
        if (
            score < cfg.min_score
            or density < cfg.min_density
            or coverage < cfg.min_coverage
        ):
            continue
        cand = {
            "id": idx,
            "kind": "grid",
            "range": make_range(br1, bc1, br2, bc2),
            "score": round(score, 4),
            "rows": _sparse_rows(sub, {}, alpha_keys),
            "_metrics": {
                "density": density,
                "coverage": coverage,
                "n_cells": len(sub),
                "header": header,
            },
        }
        if extra:
            cand.update(extra)
        out.append(cand)
        idx += 1
    return out


def _rendered_children(node: Node) -> list:
    """A div row's rendered element children: the cells of a grid
    detector (an unrendered one is no cell)."""
    return [c for c in node.children if type(c) is Node and not c.unrendered]


def _structural_candidates(
    node: Node, cfg: DetectionConfig, alpha_keys: bool, idx: int
) -> list:
    """Child-uniformity signal: >= 2 row-like children with a modal child
    count >= 2; raggedness tolerated within +-1 of the modal width for
    >= 80% of rows, sparse borders trimmed."""
    # each row's element children computed ONCE (r8 — was 3 walks: the
    # gate comprehension, the widths pass, and the cell loop)
    row_kids = []
    for ch in node.children:
        if type(ch) is Node and ch.tag == "div" and not ch.unrendered:
            kids = _rendered_children(ch)
            if kids:
                row_kids.append(kids)
    if len(row_kids) < 2:
        return []
    widths = [len(kids) for kids in row_kids]
    modal = max(set(widths), key=lambda w: (widths.count(w), w))
    if modal < 2:
        return []
    near_modal = sum(1 for w in widths if abs(w - modal) <= 1)
    if near_modal < max(2, int(0.8 * len(row_kids))):
        return []
    cells: dict = {}
    for r, kids in enumerate(row_kids):
        for c, cell in enumerate(kids):
            text = cell.text_content()
            if text:
                cells[(r, c)] = coerce_scalar(text)
    cells = _shrink_sparse_borders(cells)
    if len(cells) < cfg.min_cells:
        return []
    # split disconnected cell regions into separate candidates, then
    # merge overlapping boxes — the nonempty-CC + rectangle-merge
    # detection core (reference core/cells.py:1277-1320, 1671-1717):
    # two blocks separated by an empty band inside one container are
    # two tables, not one sparse one
    boxes = merge_rectangles(nonempty_clusters(cells))
    return _boxes_to_candidates(boxes, cells, cfg, alpha_keys, idx)


def _border_candidates(
    node: Node, cfg: DetectionConfig, alpha_keys: bool, idx: int, css=None,
) -> list:
    """CSS/attribute border signal (G1): per-cell border presence is the
    detection mask — the reference's primary table evidence (border maps
    clustered 4-connected, core/cells.py:940-1078).  A bordered div
    layout with NON-uniform children (which the structural gate rejects)
    is detected by clustering its border mask; content values come from
    the cells inside each cluster box."""
    from exstruct_spark.kernels.borders import has_visible_border

    rows = []
    for ch in node.children:  # one child walk (r8, same as structural)
        if type(ch) is Node and ch.tag == "div" and not ch.unrendered:
            kids = _rendered_children(ch)
            if kids:
                rows.append((ch, kids))
    if len(rows) < 2:
        return []
    mask: dict = {}
    cells: dict = {}
    for r, (row, kids) in enumerate(rows):
        # class-resolved borders (kernels/css.py): a div grid styled via
        # '.cell { border: 1px solid }' carries the same G1 signal as
        # one with inline styles — identity read when no rules exist
        row_bordered = has_visible_border(
            css.effective_attrs(row) if css else row.attrs)
        for c, cell in enumerate(kids):
            if row_bordered or has_visible_border(
                    css.effective_attrs(cell) if css else cell.attrs):
                mask[(r, c)] = True
            text = cell.text_content()
            if text:
                cells[(r, c)] = coerce_scalar(text)
    if len(mask) < cfg.min_cells or max(c for _, c in mask) < 1:
        return []
    # cluster the BORDER map, not the content map (reference
    # _detect_border_clusters_numpy); values fill from content afterwards
    boxes = merge_rectangles(nonempty_clusters(mask))
    return _boxes_to_candidates(
        boxes, cells, cfg, alpha_keys, idx, extra={"signal": "border"}
    )


def detect_grid_candidates(
    containers: list, cfg: DetectionConfig, alpha_keys: bool = False,
    css=None,
) -> list:
    """Heuristic detection of div-grid layouts over ``containers`` (the
    ``<div>``/``<section>`` nodes of the document body in document
    order, as ``extract.rendered_walk`` collects them), two signals per
    container:

    1. STRUCTURAL (child uniformity) — the borderless-layout path;
    2. BORDER MAPS (CSS ``style`` borders / ``border`` attributes,
       G1 parity) — tried when the structural gate rejects the
       container, so layouts that express table-ness purely through
       borders are detected like the reference's border-cluster pipeline
       (core/cells.py:940-1078, 1845-1894).

    Both feed the same nonempty-CC + rectangle-merge core and the same
    density/coverage/score gates as declared tables.  Returns candidate
    dicts shaped like ``extract_table`` output with ``"kind": "grid"``
    (border-signal candidates additionally carry ``"signal": "border"``).
    """
    out: list = []
    # a claimed container's subtree is its [i0, i1) slice, skipped whole
    claimed_to = -1
    for node in containers:
        # an unrendered container is no visual grid, and neither is
        # anything inside it (the mark covers the subtree)
        if node.i0 < claimed_to or node.unrendered:
            continue
        if is_table_like(node):
            # ARIA-declared tables belong to the DECLARED path
            # (extract_table via _aria_rows) — detection must not
            # re-claim their subtree as a heuristic grid
            claimed_to = node.i1
            continue
        found = _structural_candidates(node, cfg, alpha_keys, len(out))
        if not found:
            found = _border_candidates(node, cfg, alpha_keys, len(out), css)
        if found:
            out.extend(found)
            claimed_to = node.i1
    return out
