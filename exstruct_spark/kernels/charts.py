"""Chart extraction from <figure> blocks with inline SVG + data tables.

Parity map (behaviour, not code):
  * chart records ``{name, chart_type, title, y_axis_title?, y_axis_range,
    series[]}``         ~ Chart / ChartSeries models (reference
                          models/__init__.py:130-176)
  * chart_type from structural children (polyline -> Line, rect bars ->
    Bar/Column by orientation)
                        ~ _extract_chart_type plotArea-child dispatch
                          (ooxml_drawing.py:455-482)
  * series referencing the companion data grid by A1 range strings
                        ~ SERIES x_range/y_range refs (core/charts.py:
                          201-214) — materialization left to the consumer
  * y_axis_range [min, max] from observed series values
                        ~ models/__init__.py:150-152
"""

from __future__ import annotations

import re
from bisect import bisect_left
from operator import attrgetter
from typing import Optional

from exstruct_spark.kernels.a1 import col_index_to_alpha, make_range, parse_range_zero_based
from exstruct_spark.kernels.chartconfig import charts_from_script
from exstruct_spark.kernels.dom import Node

_NUM_RE = re.compile(r"[-+]?\d*\.?\d+(?:[eE][-+]?\d+)?")


def _script_text(node: Node) -> str:
    """Raw text of a <script> node (the parser stores raw-text children
    verbatim; text_content() deliberately skips script/style)."""
    return "".join(c for c in node.children if type(c) is str)


def _records_from_scripts(script_nodes, start_idx: int, table_art) -> list:
    """<script> nodes -> chart records via the real config tokenizer
    (kernels/chartconfig.py — F7 parity with the reference's SERIES
    parser, core/charts.py:16-170).  When a companion table artifact is
    present, series bind to REAL A1 ranges into its grid exactly like the
    SVG path; otherwise they keep synthetic own-vector ranges."""
    recs = []
    i = start_idx
    for sn in script_nodes:
        try:
            parsed_charts = charts_from_script(_script_text(sn))
        except Exception:
            # fallback-not-fail at the ARTIFACT level: a pathological
            # script (e.g. recursion-depth nesting) loses its own charts
            # only — never the document's tables/shapes/text
            continue
        for parsed in parsed_charts:
            values = [ys for (_, ys) in parsed["series"]]
            all_vals = [v for ys in values for v in ys]
            chart: dict = {
                "name": f"chart{i}",
                "chart_type": parsed["chart_type"],
                "title": parsed["title"],
                "config_source": "script",
            }
            if parsed.get("y_axis_title"):
                chart["y_axis_title"] = parsed["y_axis_title"]
            if all_vals:
                chart["y_axis_range"] = [min(all_vals), max(all_vals)]
            grid_ranges = (
                _grid_series_ranges(table_art, len(values)) if table_art else []
            )
            series_list = []
            for s_idx, (sname, ys) in enumerate(parsed["series"]):
                series: dict = {"name": sname or f"s{s_idx}"}
                if s_idx < len(grid_ranges):
                    series.update(grid_ranges[s_idx])
                elif ys:
                    series["y_range"] = make_range(s_idx, 0, s_idx, len(ys) - 1)
                if ys:
                    series["n_points"] = len(ys)
                series_list.append(series)
            if series_list:
                chart["series"] = series_list
            if parsed["labels"]:
                chart["n_labels"] = len(parsed["labels"])
            if table_art is not None:
                chart["data_table_id"] = table_art["id"]
            recs.append(chart)
            i += 1
    return recs


def _cell_ref(r: int, c: int) -> str:
    """0-based (r, c) -> single-cell A1 ref (the name_range shape)."""
    return f"{col_index_to_alpha(c)}{r + 1}"


def _grid_series_ranges(table_art: dict, n_series: int) -> list:
    """Companion-grid binding: series -> REAL A1 refs into the linked
    <table> artifact's grid (parity: SERIES formula name_range/x_range/
    y_range, reference core/charts.py:201-214 + parse_series_formula).

    Structural convention for HTML chart figures: the companion table's
    first row is the header (x label + one series name per column), column
    0 holds x values, column 1+s holds series s.  Returns one dict per
    bindable series: {name_range, x_range, y_range} — series beyond the
    table's width stay unbound (the caller keeps synthetic ranges).
    """
    try:
        r1, c1, r2, c2 = parse_range_zero_based(table_art["range"])
    except Exception:
        return []
    if r2 <= r1 or c2 <= c1:  # need a header row + >=1 data row, >=2 cols
        return []
    out = []
    for s in range(min(n_series, c2 - c1)):
        col = c1 + 1 + s
        out.append(
            {
                "name_range": _cell_ref(r1, col),
                "x_range": make_range(r1 + 1, c1, r2, c1),
                "y_range": make_range(r1 + 1, col, r2, col),
            }
        )
    return out


def _length(value) -> float:
    """An SVG length attribute as a number: its leading number, by the
    rule ``points`` is read with, or 0 (``"5/"``, an unquoted value that
    kept its ``/``, is 5; ``"auto"`` is 0)."""
    m = _NUM_RE.match((value or "").strip())
    return float(m.group()) if m else 0.0


def _chart_type(svg: Node) -> str:
    """Structural chart-type dispatch (reference ooxml_drawing.py:455-482
    tag->label map; Bar vs Column disambiguated by bar orientation like
    barDir)."""
    if svg.find_first("polyline", "path"):
        return "Line"
    rects = svg.find_all("rect")
    if rects:
        widths = [_length(r.get("width")) for r in rects]
        heights = [_length(r.get("height")) for r in rects]
        if widths and sum(heights) >= sum(widths):
            return "Column"
        return "Bar"
    if svg.find_first("circle", "ellipse"):
        return "Pie"
    return "Unknown"


def _series_values(svg: Node) -> list:
    """Per-series y values from polylines (points attr) or bar rects."""
    series = []
    for pl in svg.find_all("polyline"):
        nums = [float(x) for x in _NUM_RE.findall(pl.get("points", "") or "")]
        ys = nums[1::2]
        if ys:
            series.append(ys)
    if not series:
        rects = svg.find_all("rect")
        ys = [_length(r.get("height")) for r in rects if r.get("height")]
        if ys:
            series.append(ys)
    return series


_I0 = attrgetter("i0")


def extract_charts(
    figures: list, scripts: list, tables_by_figure: Optional[dict] = None,
) -> list:
    """<figure> blocks containing an <svg> -> chart records.

    ``figures`` and ``scripts`` are the document's ``<figure>`` and
    ``<script>`` nodes (the rendered walk's, in document order, so a
    ``<template>``/``<noscript>`` script is in neither): a figure's own
    scripts, the run of ``scripts`` inside its ``[i0, i1)`` slice, bind
    to its companion grid, and the scripts outside every figure are
    standalone.  A figure's inline SVG is a chart only when it renders:
    a figure whose ``<svg>`` is ``unrendered`` reads its scripts alone.
    ``tables_by_figure`` maps id(figure-node) -> the companion <table>
    ARTIFACT dict, so a chart's series bind to real grid ranges (the J7
    chart-series->grid join, SURVEY.md §2.3): name_range/x_range/y_range
    are A1 refs into that table's rows, like the reference's
    SERIES-formula parse (core/charts.py:201-214).  A figure without a
    companion table keeps a synthetic y_range over the series' own
    vector.

    ``y_axis_title`` comes from an svg <text> whose class mentions
    'y-axis' (the web stand-in for Axes(2,1).AxisTitle, reference
    libreoffice_backend.py:549-551).
    """
    charts: list = []
    standalone: list = []
    placed = 0  # scripts[:placed] are a figure's or standalone already
    for fig in figures:
        lo = bisect_left(scripts, fig.i0, key=_I0)
        hi = bisect_left(scripts, fig.i1, key=_I0)
        own_scripts = scripts[lo:hi]
        standalone.extend(scripts[placed:lo])
        placed = max(placed, hi)  # a nested figure's run is inside
        svg = fig.first_rendered("svg")
        if svg is None:
            # inline-script chart configs (Chart.js / ECharts) — the real
            # tokenizer path, with companion-grid binding like SVG charts
            table_art = (
                tables_by_figure.get(id(fig)) if tables_by_figure else None
            )
            charts.extend(
                _records_from_scripts(own_scripts, len(charts), table_art)
            )
            continue
        i = len(charts)
        caption = fig.find_first("figcaption")
        title = caption.text_content() if caption is not None else ""
        values = _series_values(svg)
        all_vals = [v for ys in values for v in ys]
        chart: dict = {
            "name": f"chart{i}",
            "chart_type": _chart_type(svg),
            "title": title,
        }
        for txt in svg.find_all("text"):
            if "y-axis" in (txt.get("class") or ""):
                axis_title = txt.text_content()
                if axis_title:
                    chart["y_axis_title"] = axis_title
                break
        if all_vals:
            chart["y_axis_range"] = [min(all_vals), max(all_vals)]
        table_art = (
            tables_by_figure.get(id(fig)) if tables_by_figure else None
        )
        grid_ranges = (
            _grid_series_ranges(table_art, len(values)) if table_art else []
        )
        series_list = []
        for s_idx, ys in enumerate(values):
            series: dict = {"name": f"s{s_idx}"}
            if s_idx < len(grid_ranges):
                series.update(grid_ranges[s_idx])
            elif ys:
                # unbound fallback: the series' grid footprint as an A1
                # range over its own value vector
                series["y_range"] = make_range(s_idx, 0, s_idx, len(ys) - 1)
            if ys:
                series["n_points"] = len(ys)
            series_list.append(series)
        if series_list:
            chart["series"] = series_list
        if table_art is not None:
            chart["data_table_id"] = table_art["id"]
        charts.append(chart)
        # a figure can carry BOTH an svg rendering and a script config —
        # the scripts parse too (same companion-table binding), they are
        # distinct chart artifacts, not alternatives (review r3 finding)
        charts.extend(
            _records_from_scripts(own_scripts, len(charts), table_art)
        )
    # standalone <script> chart constructors (outside any <figure>):
    # parsed by the same tokenizer, unbound (no companion grid)
    standalone.extend(scripts[placed:])
    charts.extend(_records_from_scripts(standalone, len(charts), None))
    return charts
