"""Chart-call argument reading (``kernels/chartconfig.py``: one code
view per script, one ``_call_args`` walk and one ``_arg_value`` rule for
every dialect).

* a differential test against the seven per-dialect argument walkers it
  replaced (``chart_oracle.py``, with their lexer frozen), on generated
  well-formed calls and on every chart script the suite and the page
  corpus carry;
* a decoy differential: comment, string and regex-literal copies of
  other calls inserted into generated scripts change nothing;
* a metamorphic test: a literal argument and the same literal passed by
  variable (assigned above or below the call) give the same chart;
* the argument-position rules that changed with the rewrite;
* a differential test of the dialect table's literal gate against the
  same finders run ungated (``chart_oracle.charts_ungated``), on
  generated calls, the corpus scripts and near-miss mutations of both.
"""

from __future__ import annotations

import ast
import json
import os
import re
import timeit

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from adversarial_pages import ADVERSARIAL, CHART_CODE_VIEW_SCRIPTS
from chart_oracle import charts_from_script as oracle_charts
from chart_oracle import charts_ungated
from exstruct_spark.kernels import chartconfig
from exstruct_spark.kernels.chartconfig import _code_view, charts_from_script
from exstruct_spark.pages import (
    ARCHETYPES, RICH_ARCHETYPES, build_page, build_rich_page)

HERE = os.path.dirname(os.path.abspath(__file__))

# --- generated well-formed calls, one per marker, with the hazards an
#     argument reader must survive: comments holding ')' and ',', strings
#     holding ')', ',' and '{', regex literals with braces, callback and
#     arrow values, configs built by a nested call, trailing options
_TEXT = st.sampled_from(["a", "b,)", "c{", "d)", "e, f", "g}", "h/i"])
_NUMS = st.lists(st.integers(0, 99), min_size=1, max_size=4)
_GAPS = [" ", "", "\n", " /* ) */ ", " // ,\n ", " /* { */ "]
_GAP = st.sampled_from(_GAPS)
_CALLBACK = st.sampled_from([
    "function (v) { return String(v).replace(/[{}]/g, ')'); }",
    "(v) => v.replace(/\\}/g, ',')",
    "v => { return '{' + v; }",
])


def _q(text: str) -> str:
    return "'" + text + "'"


def _list(items) -> str:
    return "[" + ", ".join(str(x) for x in items) + "]"


@st.composite
def _config(draw, gaps=_GAP):
    """One config object in a Chart.js-family dialect."""
    labels = [_q(t) for t in draw(st.lists(_TEXT, min_size=1, max_size=3))]
    vals, name, title = draw(_NUMS), _q(draw(_TEXT)), _q(draw(_TEXT))
    gap, cb = draw(gaps), draw(_CALLBACK)
    return draw(st.sampled_from([
        # Chart.js
        f"{{type: 'bar',{gap}data: {{labels: {_list(labels)}, datasets:"
        f" [{{label: {name}, data: {_list(vals)}}}]}},{gap}options:"
        f" {{plugins: {{title: {{text: {title}}}}}, onClick: {cb}}}}}",
        # ECharts / Highcharts series list
        f"{{title: {{text: {title}}},{gap}xAxis: {{data: {_list(labels)}}},"
        f" series: [{{name: {name}, type: 'line', data: {_list(vals)},"
        f" label: {{formatter: {cb}}}}}]}}",
        # ApexCharts
        f"{{chart: {{type: 'bar'}}, series: [{{name: {name}, data:"
        f" {_list(vals)}}}],{gap}xaxis: {{categories: {_list(labels)}}}}}",
        # amCharts v3
        f"{{type: 'serial', categoryField: 'k', dataProvider: "
        + _list(f"{{k: {lab}, v: {v}}}" for lab, v in zip(labels, vals))
        + f",{gap}graphs: [{{valueField: 'v', title: {name}}}]}}",
        # C3 / billboard
        f"{{bindto: '#c)', data: {{columns: [{_list([name] + vals)}]}}}}",
        # FusionCharts
        f"{{type: 'column2d', dataSource: {{chart: {{caption: {title}}},"
        f"{gap}data: "
        + _list(f"{{label: {lab}, value: '{v}'}}"
                for lab, v in zip(labels, vals)) + "}}",
        # amCharts v4 JSON config
        "{data: " + _list(f"{{k: {lab}, v: {v}}}"
                          for lab, v in zip(labels, vals))
        + f", series: [{{type: 'ColumnSeries', name: {name}, dataFields:"
        f" {{valueY: 'v', categoryX: 'k'}}}}]}}",
        # Frappe
        f"{{title: {title}, type: 'bar', data: {{labels: {_list(labels)},"
        f" datasets: [{{name: {name}, values: {_list(vals)}}}]}}}}",
    ]))


@st.composite
def _call(draw, gaps=_GAP):
    """One well-formed chart call statement, its argument gaps drawn
    from ``gaps``."""
    g = lambda: draw(gaps)  # noqa: E731
    labels = [_q(t) for t in draw(st.lists(_TEXT, min_size=1, max_size=3))]
    vals, title, cb = draw(_NUMS), _q(draw(_TEXT)), draw(_CALLBACK)
    kind = draw(st.sampled_from([
        "config", "plotly", "plotly_object", "dygraph_csv", "dygraph_rows",
        "chartist", "vegalite", "gviz_table", "gviz_datatable"]))
    if kind == "config":
        cfg = draw(st.sampled_from(
            ["{}", "Highcharts.merge(base, {})",
             "Object.assign({{}}, base, {})"])).format(draw(_config(gaps)))
        return draw(st.sampled_from([
            "new Chart({t},{g}{c});".format(
                t=draw(st.sampled_from(
                    ["ctx", "document.getElementById('c,)')"])),
                g=g(), c=cfg),
            f"chart.setOption({cfg}"
            + draw(st.sampled_from(["", ", {notMerge: true}"])) + ");",
            f"Highcharts.chart('hc,)',{g()}{cfg}"
            + draw(st.sampled_from(["", f",{g()}{cb}"])) + ");",
            f"Highcharts.stockChart('hs', {cfg});",
            f"Highcharts.mapChart('hm', {cfg});",
            f"$('#hq').highcharts({cfg});",
            f"new ApexCharts(document.querySelector('#ax'),{g()}{cfg});",
            f"AmCharts.makeChart('am{{',{g()}{cfg});",
            f"c3.generate({cfg});",
            f"bb.generate({cfg});",
            f"new FusionCharts({cfg}).render();",
            f"am4core.createFromConfig({cfg},{g()}'div', am4charts.XYChart);",
            f"new frappe.Chart('#f)',{g()}{cfg});",
        ]))
    trace = (f"{{x: {_list(labels)}, y: {_list(vals)}, type: 'bar',"
             f" hovertemplate: '%{{y}})'}}")
    layout = f"{{title: {{text: {title}}}}}"
    div = draw(st.sampled_from(["'d,)'", "document.getElementById('p')"]))
    fn = draw(st.sampled_from(["newPlot", "react", "plot"]))
    if kind == "plotly":
        return (f"Plotly.{fn}({div},{g()}[{trace}],{g()}{layout}"
                + draw(st.sampled_from(["", ", {responsive: true}"])) + ");")
    if kind == "plotly_object":
        return f"Plotly.{fn}({div}, {{data: [{trace}], layout: {layout}}});"
    opts = (f"{{labels: ['x', 'v'], title: {title}, ylabel: 'y',"
            f"{g()}valueFormatter: {cb}}}")
    if kind == "dygraph_csv":
        csv = " +\n ".join(["'x,A\\n'"] + [f"'{k},{v}\\n'"
                                            for k, v in enumerate(vals)])
        return (f"new Dygraph(document.getElementById('g,)'),{g()}{csv},"
                f"{g()}{opts});")
    if kind == "dygraph_rows":
        rows = _list(f"[{k}, {v}]" for k, v in enumerate(vals))
        return f"new Dygraph(el,{g()}{rows},{g()}{opts});"
    if kind == "chartist":
        ctor = draw(st.sampled_from(["Line", "Bar", "Pie"]))
        series = _list(vals) if ctor == "Pie" else f"[{_list(vals)}]"
        return (f"new Chartist.{ctor}('.ct,)',{g()}{{labels:"
                f" {_list(labels)}, series: {series}}}"
                + draw(st.sampled_from(
                    ["", f", {{axisX: {{labelInterpolationFnc: {cb}}}}}"]))
                + ");")
    if kind == "vegalite":
        values = _list(f"{{k: {lab}, v: {v}}}"
                       for lab, v in zip(labels, vals))
        spec = ("{$schema: 'https://vega.github.io/schema/vega-lite/v5.json',"
                " mark: 'bar', encoding: {x: {field: 'k', type: 'nominal'},"
                f"{g()}y: {{field: 'v', type: 'quantitative'}}}},"
                f" data: {{values: {values}}}}}")
        return (f"vegaEmbed('#vis',{g()}{spec}"
                + draw(st.sampled_from(["", ", {actions: false}"]))
                + ").then(function (r) { return r.view; });")
    ctor = draw(st.sampled_from(["ColumnChart", "PieChart", "LineChart"]))
    draw_opts = f"{{title: {title}, vAxis: {{title: 'v,)'}}}}"
    if kind == "gviz_table":
        body = [f"[{lab}, {v}]" for lab, v in zip(labels, vals)]
        no_header = draw(st.booleans())
        rows = _list(body if no_header else ["['k', 'n']"] + body)
        flag = f",{g()}true" if no_header else ""
        return (f"var data = google.visualization.arrayToDataTable({rows}"
                f"{flag}); var chart = new google.visualization.{ctor}("
                f"document.getElementById('gv')); chart.draw(data,{g()}"
                f"{draw_opts});")
    rows = _list(f"[{lab}, {v}]" for lab, v in zip(labels, vals))
    return ("var dt = new google.visualization.DataTable();"
            " dt.addColumn('string', 'k'); dt.addColumn('number', 'n');"
            f" dt.addRows({rows}); var c2 = new google.visualization.{ctor}"
            f"(el); c2.draw(dt,{g()}{draw_opts});")


@given(st.lists(_call(), min_size=1, max_size=3))
@settings(max_examples=300, deadline=None)
def test_generated_calls_read_like_the_per_dialect_walkers(calls):
    """Differential: a script of well-formed calls gives the same charts
    through ``_call_args`` as through the seven walkers it replaced."""
    script = "\n".join(calls)
    assert charts_from_script(script) == oracle_charts(script)


_CHART_MARK = re.compile(
    r"new\s+Chart|setOption|[Hh]ighcharts|ApexCharts|AmCharts|generate"
    r"|FusionCharts|createFromConfig|frappe|Plotly|Dygraph|Chartist"
    r"|vegaEmbed|arrayToDataTable|addRows|vega-lite|\.draw\s*\(")
_SCRIPT = re.compile(r"<script[^>]*>(.*?)</script>", re.S | re.I)


def _scripts(text: str) -> list:
    return _SCRIPT.findall(text) if "<script" in text.lower() else [text]


def _corpus_scripts() -> set:
    """Every chart script the other test modules carry as a string
    constant (this one holds the intended changes), the scripts of the
    page archetypes and of the adversarial inputs."""
    found: set = set()
    for name in sorted(os.listdir(HERE)):
        if not name.endswith(".py") or name == os.path.basename(__file__):
            continue
        with open(os.path.join(HERE, name), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and _CHART_MARK.search(node.value):
                found.update(_scripts(node.value))
    pages = [build_rich_page(i) for i in range(3 * len(RICH_ARCHETYPES))]
    pages += [build_page(i) for i in range(3 * len(ARCHETYPES))]
    for page in pages:
        found.update(_scripts(page["html"].decode("utf-8", "replace")))
    for _, raw in ADVERSARIAL:
        found.update(_scripts(raw.decode("utf-8", "replace")))
    return {s for s in found if _CHART_MARK.search(s)}


def test_corpus_scripts_read_like_the_per_dialect_walkers():
    """The fingerprint's ``chart_code_view`` scripts hold the intended
    changes (markers in comments, strings and regex literals, configs by
    position), so the walkers are not their oracle; the named cases below
    are."""
    scripts = _corpus_scripts() - set(CHART_CODE_VIEW_SCRIPTS)
    assert len(scripts) > 100
    diverged = [s for s in sorted(scripts)
                if charts_from_script(s) != oracle_charts(s)]
    assert diverged == []


# --- decoys: copies of chart calls that are not code.  A comment copy
#     may go wherever whitespace may (a statement boundary, an argument
#     gap); a string or regex-literal copy is a statement of its own
def _block_comment(call: str) -> str:
    return "/* " + call.replace("*/", "* /") + " */"


def _line_comment(call: str) -> str:
    return "// " + call.replace("\n", " ") + "\n"


def _string_statement(call: str, q: str) -> str:
    body = call.replace("\\", "\\\\").replace(q, "\\" + q).replace("\n", "\\n")
    return f"var help = {q}{body}{q};"


def _regex_statement(call: str) -> str:
    body = re.sub(r"[\\/\[\]]", r"\\\g<0>", call.replace("\n", " "))
    return f"var re = /{body}/g;"


_COMMENT_DECOYS = (_block_comment, _line_comment)
_STATEMENT_DECOYS = _COMMENT_DECOYS + (
    lambda c: _string_statement(c, "'"), lambda c: _string_statement(c, '"'),
    lambda c: _string_statement(c, "`"), _regex_statement)
_DECOY_GAP = "\x00"  # a gap that holds a comment decoy


@st.composite
def _decoyed_script(draw):
    """``(script with decoys, the same script without them)``: generated
    calls with decoys before each call, after the last one, and in
    argument gaps; the decoys are other generated calls."""
    def decoy(forms):
        return draw(st.sampled_from(forms))(draw(_call()))

    calls = draw(st.lists(_call(st.sampled_from(_GAPS + [_DECOY_GAP])),
                          min_size=1, max_size=3))
    plain, decoyed = [], []
    for call in calls + [""]:
        decoyed += [decoy(_STATEMENT_DECOYS)
                    for _ in range(draw(st.integers(0, 2)))]
        plain.append(call.replace(_DECOY_GAP, " "))
        decoyed.append(re.sub(_DECOY_GAP,
                              lambda _: f" {decoy(_COMMENT_DECOYS)} ", call))
    return "\n".join(decoyed), "\n".join(plain)


@given(_decoyed_script())
@settings(max_examples=300, deadline=None)
def test_decoys_change_no_chart(scripts):
    """Differential: decoys read as nothing, so a script with them gives
    what the per-dialect walkers give on the script without them."""
    decoyed, plain = scripts
    assert charts_from_script(decoyed) == oracle_charts(plain)


_JS_TEXT = st.text(st.sampled_from(list("ab1 \n\\/*'\"`[](){},=+;")),
                   max_size=80)


@given(_JS_TEXT)
@settings(max_examples=500, deadline=None)
def test_code_view_keeps_offsets(s):
    """The view has the script's length, and each of its characters is
    the script's own or a space; a string literal keeps only its
    delimiters, and the code after it reads on."""
    v = _code_view(s)
    assert len(v) == len(s)
    assert all(a == b or a == " " for a, b in zip(v, s))
    lit = json.dumps(s)
    assert _code_view(f"f({lit}) / 2") == \
        'f("' + " " * (len(lit) - 2) + '") / 2'


_CHART = ("new Chart(ctx, {type: 'bar', data: {labels: ['a'], datasets:"
          " [{label: 'real', data: [1]}]}});")
_REAL = [("Column", ["a"], [("real", [1.0])])]


def _read(script: str) -> list:
    return [(c["chart_type"], c["labels"], c["series"])
            for c in charts_from_script(script)]


@pytest.mark.parametrize("decoy", [
    "/* new Chart(ctx, {type: 'bar', data: {labels: ['a'], datasets:"
    " [{label: 'commented', data: [1]}]}}) */",
    "var help = \"call c3.generate({data: {columns: [['x', 1, 2]]}})\";",
    "// Plotly.newPlot('d', [{x: ['a'], y: [1]}]);\n",
    "// new Dygraph(el, 'x,A\\n1,2\\n', {title: 'T'});\n",
    "var re = /Plotly.newPlot('d', [{y: [1, 2]}])/;",
    "var s = 'it'.replace(/'/g, '');",
])
def test_a_marker_that_is_not_code_gives_no_chart(decoy):
    """A chart call in a comment, a string or a regex literal is no
    chart, and the real call after it still reads; a regex literal
    holding a quote does not open a string."""
    assert _read(decoy) == []
    assert _read(decoy + "\n" + _CHART) == _REAL


def test_config_is_taken_by_position():
    """The config is argument 0 for ``setOption``, else the last
    argument that is not a callback or a number, so a trailing settings
    object, callback or delay does not hide a config passed by variable;
    a nested call after a selector gives its own last ``{...}``."""
    assert _read(
        "var option = {series: [{name: 'v', type: 'bar', data: [3]}]};"
        " myChart.setOption(option, {notMerge: true});") == [
        ("Column", [], [("v", [3.0])])]
    assert _read(
        "var cfg = {series: [{name: 'h', data: [5]}]};"
        " Highcharts.chart('c', cfg, function (ch) { ch.redraw(); });") == [
        ("Line", [], [("h", [5.0])])]
    assert _read(
        "new frappe.Chart('#f', Object.assign({}, base, {data: {labels:"
        " ['u'], datasets: [{name: 'fr', values: [6]}]}}));") == [
        ("Line", ["u"], [("fr", [6.0])])]
    assert _read(
        "AmCharts.makeChart('d', {type: 'serial', categoryField: 'k',"
        " dataProvider: [{k: 'x', v: 9}], graphs: [{valueField: 'v'}]},"
        " 500);") == [("Line", ["x"], [("v", [9.0])])]


def test_gviz_reads_code_around_the_table():
    """A comment before the no-header flag hides nothing, and a
    commented-out draw is not the chart's draw."""
    (flag,) = charts_from_script(
        "var data = google.visualization.arrayToDataTable([['a', 1],"
        " ['b', 2]], /* first row is data */ true);")
    assert (flag["labels"], flag["series"]) == (["a", "b"], [("s0", [1.0, 2.0])])
    (drawn,) = charts_from_script(
        "var data = google.visualization.arrayToDataTable([['k', 'n'],"
        " ['x', 7]]); var chart = new google.visualization.LineChart(el);\n"
        "// chart.draw(data, {title: 'Old'});\n"
        "chart.draw(data, {title: 'New'});")
    assert drawn["title"] == "New"


def _dense_script(lines: int) -> str:
    """A block of divisions, a block of strings, regex literals and
    comments, and one real call."""
    return ("x = a / b / 2 / c;\n" * lines
            + "s = 'q\\'s' + \"r\" + `t` / c; y = /re[/]/g.test(z); // it's\n"
            * lines + _CHART)


def test_code_view_is_linear():
    """A 1.6 MB script dense in slashes and quotes, holding one real
    call, costs the view about four times what a quarter of it costs (a
    view that re-reads the text behind each '/' or token costs sixteen
    times)."""
    script, quarter = _dense_script(20_000), _dense_script(5_000)
    assert len(script) > 1_500_000
    assert _read(script) == _REAL

    def cost(s):
        return min(timeit.repeat(lambda: _code_view(s), number=1, repeat=3))

    assert cost(script) < 8 * cost(quarter)


# --- metamorphic: literal argument vs the same literal by variable
_TRACES = "[{x: ['a', 'b'], y: [1, 2], type: 'bar', name: 't'}]"
_LAYOUT = "{title: {text: 'Plotly title'}, yaxis: {title: 'units'}}"
_DY_ROWS = "[[1, 10], [2, 20], [3, 15]]"
_DY_OPTS = "{labels: ['x', 'v'], title: 'Dygraph title', ylabel: 'y'}"
_GV_ROWS = "[['Task', 'Hours'], ['Work', 11], ['Eat', 2]]"
_GV_OPTS = "{title: 'Daily', vAxis: {title: 'h'}}"
_GVIZ = ("var data = google.visualization.arrayToDataTable({rows});\n"
         "var chart = new google.visualization.ColumnChart("
         "document.getElementById('gc'));\nchart.draw(data, {opts});")

# name -> (call with ARG where the literal goes, the literal)
_BY_VARIABLE = {
    "chartjs": ("new Chart(ctx, ARG);",
                "{type: 'bar', data: {labels: ['a', 'b'], datasets:"
                " [{label: 's', data: [1, 2]}]}}"),
    "echarts": ("myChart.setOption(ARG);",
                "{title: {text: 'E'}, xAxis: {data: ['p', 'q']},"
                " series: [{name: 's', type: 'line', data: [3, 4]}]}"),
    "plotly_traces": (f"Plotly.newPlot('d', ARG, {_LAYOUT});", _TRACES),
    "plotly_layout": (f"Plotly.newPlot('d', {_TRACES}, ARG);", _LAYOUT),
    "plotly_one_object": ("Plotly.newPlot('d', ARG);",
                          f"{{data: {_TRACES}, layout: {_LAYOUT}}}"),
    "vegalite": ("vegaEmbed('#vis', ARG);",
                 "{mark: 'bar', encoding: {x: {field: 'k', type: 'nominal'},"
                 " y: {field: 'v', type: 'quantitative'}},"
                 " data: {values: [{k: 'a', v: 1}, {k: 'b', v: 2}]}}"),
    "chartist": ("new Chartist.Line('.ct', ARG);",
                 "{labels: ['m', 'n'], series: [[1, 2]]}"),
    "dygraph_rows": (f"new Dygraph(el, ARG, {_DY_OPTS});", _DY_ROWS),
    "dygraph_opts": (f"new Dygraph(el, {_DY_ROWS}, ARG);", _DY_OPTS),
    "gviz_rows": (_GVIZ.format(rows="ARG", opts=_GV_OPTS), _GV_ROWS),
    "gviz_options": (_GVIZ.format(rows=_GV_ROWS, opts="ARG"), _GV_OPTS),
    "echarts_settings": ("myChart.setOption(ARG, {notMerge: true});",
                         "{series: [{name: 's', type: 'bar', data: [5]}]}"),
    "highcharts_callback": (
        "Highcharts.chart('c', ARG, function (ch) { ch.redraw(); });",
        "{title: {text: 'H'}, series: [{name: 'h', data: [6, 7]}]}"),
}


@pytest.mark.parametrize("where", ["above", "below"])
@pytest.mark.parametrize("case", sorted(_BY_VARIABLE))
def test_argument_by_variable_reads_like_the_literal(case, where):
    """Hoisting a data-carrying literal into ``var hoisted = <literal>;``
    (above the call, or below it: ``var`` hoisting) and passing
    ``hoisted`` gives the same chart as the inline literal."""
    call, literal = _BY_VARIABLE[case]
    inline = charts_from_script(call.replace("ARG", literal))
    assert inline, "the inline form must give a chart"
    assign = f"var hoisted = {literal};"
    by_name = call.replace("ARG", "hoisted")
    script = (f"{assign}\n{by_name}" if where == "above"
              else f"{by_name}\n{assign}")
    assert charts_from_script(script) == inline


_GVIZ_QUICKSTART = """
google.charts.load('current', {'packages':['corechart']});
google.charts.setOnLoadCallback(drawChart);
function drawChart() {
  var data = google.visualization.arrayToDataTable([
    ['Task', 'Hours per Day'],
    ['Work',     11],
    ['Eat',      2],
    ['Commute',  2],
    ['Watch TV', 2],
    ['Sleep',    7]
  ]);
  var options = {
    title: 'My Daily Activities'
  };
  var chart = new google.visualization.PieChart(
      document.getElementById('piechart'));
  chart.draw(data, options);
}
"""


def test_google_charts_quickstart_options_by_variable():
    """The Google Charts quickstart passes its options by variable; the
    title is read from that variable's object."""
    (chart,) = charts_from_script(_GVIZ_QUICKSTART)
    assert chart == {
        "chart_type": "Pie", "title": "My Daily Activities",
        "labels": ["Work", "Eat", "Commute", "Watch TV", "Sleep"],
        "series": [("Hours per Day", [11.0, 2.0, 2.0, 2.0, 7.0])],
    }


def test_arguments_are_read_by_position():
    """Dygraph data is argument 1, so a string element id in argument 0
    is not read as the CSV; only a bare identifier resolves as a
    variable, so ``setOption(app.config)`` does not read ``app``."""
    (chart,) = charts_from_script(
        "new Dygraph('graphdiv', 'Date,A\\n' + '2020,1\\n' + '2021,2\\n',"
        " {title: 'T'});")
    assert (chart["title"], chart["labels"], chart["series"]) == (
        "T", ["2020", "2021"], [("A", [1.0, 2.0])])
    assert charts_from_script(
        "var app = {series: [{name: 'app', type: 'bar', data: [9]}],"
        " config: {}}; myChart.setOption(app.config);") == []


def test_assignment_lookup_skips_property_assignments():
    """``state.cfg = {...}`` assigns a property, not the variable ``cfg``
    that the call passes."""
    (chart,) = charts_from_script(
        "var cfg = {type: 'bar', data: {labels: ['a'], datasets: [{label:"
        " 'right', data: [1]}]}}; state.cfg = {type: 'bar', data: {labels:"
        " ['a'], datasets: [{label: 'wrong', data: [2]}]}};"
        " new Chart(ctx, cfg);")
    assert chart["series"] == [("right", [1.0])]


@pytest.mark.parametrize("call", ["new Chart(ctx, $cfg);",
                                  "myChart.setOption($cfg);"])
def test_assignment_lookup_reads_dollar_names(call):
    """A ``$`` variable name resolves like any other identifier; a
    comparison with the same name above it is not its assignment."""
    cfg = ("{type: 'bar', data: {labels: ['a'], datasets: [{label: 'd',"
           " data: [3]}]}, series: [{name: 'd', type: 'bar', data: [3]}]}")
    (chart,) = charts_from_script(
        f"if ($cfg == [1]) {{}} var $cfg = {cfg}; {call}")
    assert chart["series"] == [("d", [3.0])]


# --- the dialect table's literal gate: a dialect's finder runs only when
#     one of its literals is in the script.  Near misses hold a literal
#     without being the marker, or hold the marker in a comment or string
_NEAR_MISS = st.sampled_from([
    "Chartreuse", "ChartTitle", "generateId(n)", "grid.addColumnHeader('x')",
    "settings.setOptions({a: 1})", "Highcharts.setOptions({})",
    "$(el).highchartsTheme()", "AmCharts.ready(f)", "am4core.useTheme(t)",
    "var isPlotly = 1", "new Dygraphs.Legend(el)", "new Chartist.Legend(x)",
    "vegaEmbedded", "arrayToDataTables", "'vega-lite'",
    "// new Chart(ctx, cfg)\n", "/* vegaEmbed('#v', spec) */",
    "'Plotly.newPlot(d, traces)'", "\"arrayToDataTable(rows)\"",
    "/* c3.generate({data: {columns: [['x', 1]]}}) */",
    "dt.addColumn('number', 'n')", "dt.addRows([['a', 1]])",
])
_WHOLE_SPEC = st.sampled_from([
    '{"$schema": "https://vega.github.io/schema/vega-lite/v5.json",'
    ' "mark": "bar", "encoding": {"x": {"field": "k", "type": "nominal"},'
    ' "y": {"field": "v", "type": "quantitative"}}, "data": {"values":'
    ' [{"k": "a", "v": 1}]}}',
    '{"$schema": "https://vega.github.io/schema/vega/v5.json",'
    ' "description": "no vega-lite here", "mark": "bar"}',
])


@st.composite
def _mutated_script(draw):
    """Generated calls (or a whole-script JSON spec, or nothing) with
    near misses inserted at arbitrary offsets."""
    base = draw(st.one_of(st.lists(_call(), max_size=3).map("\n".join),
                          _WHOLE_SPEC))
    for at, text in draw(st.lists(
            st.tuples(st.integers(0, 1 << 16), _NEAR_MISS), max_size=5)):
        at %= len(base) + 1
        base = base[:at] + text + base[at:]
    return base


@given(_mutated_script())
@settings(max_examples=400, deadline=None)
def test_gated_dialects_read_like_the_ungated_finders(script):
    """Generated calls, with or without near misses, read the same
    through the literal gate as through every finder run ungated."""
    assert charts_from_script(script) == charts_ungated(script)


def test_corpus_scripts_gated_like_ungated():
    scripts = _corpus_scripts()
    assert len(scripts) > 100
    diverged = [s for s in sorted(scripts)
                if charts_from_script(s) != charts_ungated(s)]
    assert diverged == []


_SERIES = "{series: [{name: 's', type: 'bar', data: [1, 2]}]}"
# one call per marker form, each holding no other dialect's literal
_MARKER_FORMS = [
    "new Chart(ctx, {type: 'bar', data: {labels: ['a'], datasets:"
    " [{label: 's', data: [1]}]}});",
    f"myChart.setOption({_SERIES});",
    f"Highcharts.chart('c', {_SERIES});",
    f"Highcharts.stockChart('c', {_SERIES});",
    f"Highcharts.mapChart('c', {_SERIES});",
    f"$('#c').highcharts({_SERIES});",
    "new ApexCharts(el, {chart: {type: 'bar'}, series: [{name: 'a',"
    " data: [1]}]});",
    "AmCharts.makeChart('d', {type: 'serial', categoryField: 'k',"
    " dataProvider: [{k: 'x', v: 9}], graphs: [{valueField: 'v'}]});",
    "c3.generate({data: {columns: [['c3', 1, 2]]}});",
    "bb.generate({data: {columns: [['bb', 1, 2]]}});",
    "new FusionCharts({type: 'column2d', dataSource: {data: [{label:"
    " 'f', value: '3'}]}});",
    "am4core.createFromConfig({data: [{k: 'a', v: 4}], series: [{type:"
    " 'ColumnSeries', dataFields: {valueY: 'v', categoryX: 'k'}}]},"
    " 'div', kind);",
    "new frappe.Chart('#f', {data: {labels: ['u'], datasets: [{name:"
    " 'fr', values: [5]}]}});",
    "Plotly.newPlot('d', [{y: [1, 2]}]);",
    "new Dygraph(el, 'x,A\\n1,2\\n', {});",
    "new Chartist.Line('.c', {labels: ['m'], series: [[1]]});",
    "vegaEmbed('#v', {mark: 'bar', encoding: {y: {field: 'v', type:"
    " 'quantitative'}}, data: {values: [{v: 1}]}});",
    '{"$schema": "https://vega.github.io/schema/vega-lite/v5.json",'
    ' "mark": "bar", "encoding": {"y": {"field": "v", "type":'
    ' "quantitative"}}, "data": {"values": [{"v": 1}]}}',
    "var d = google.visualization.arrayToDataTable([['k', 'n'],"
    " ['a', 1]]);",
    "d.addColumn('string', 'k'); d.addColumn('number', 'n');"
    " d.addRows([['a', 1]]);",
]


@pytest.mark.parametrize("call", _MARKER_FORMS)
def test_every_marker_form_passes_the_gate(call):
    assert charts_from_script(call) == charts_ungated(call) != []

def test_chart_less_script_runs_no_finder(monkeypatch):
    """A script that holds none of a dialect's literals never reaches
    that dialect's finder; each real call reaches its own (a Chartist
    call also holds the config family's ``Chart``)."""
    ran: list = []

    def recording(k, find):
        return lambda s, v: ran.append(k) or find(s, v)

    monkeypatch.setattr(chartconfig, "_DIALECTS", tuple(
        (lits, recording(k, find), norm, ctx)
        for k, (lits, find, norm, ctx) in enumerate(chartconfig._DIALECTS)))
    boilerplate = "\n".join(
        f"window.track_{i} = function(x) {{ if (x < {i}) {{ return 'render'"
        f" + x; }} return track_{i}(x - 1); }};" for i in range(200))
    monkeypatch.setattr(chartconfig, "_code_view", lambda s: ran.append(
        "view") or _code_view(s))
    assert charts_from_script(boilerplate) == [] and ran == []
    dialect = [0] * 13 + [1, 2, 3, 4, 4, 5, 6]
    for k, call in zip(dialect, _MARKER_FORMS):
        ran.clear()
        assert charts_from_script(call + "\n" + boilerplate), call
        assert k in ran, call
