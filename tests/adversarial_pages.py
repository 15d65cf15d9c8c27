"""Adversarial HTML inputs shared by the grammar and fingerprint tests.

Each entry is ``(name, raw bytes)``: inputs that have broken, or could
break, the tokenizer, the tree builder or the kernels above them.
``ROUTES`` holds one input per ``extract_document`` route that is not an
HTML page with main text (PDF, feeds, robots.txt, the degraded and empty
paths); only the fingerprint runs them.
"""

from __future__ import annotations

import json

_BODY = "<p>after</p><table><tr><td>a<td>b</table>"

# every chart dialect's call in inline form, with the argument-reading
# hazards: comments holding ')' and ',', strings holding ')', ',' and
# '{', regex literals with braces, callback and arrow arguments, a
# config built by a nested call, trailing options objects
_CHART_CALLS = "".join("<figure><canvas></canvas><script>" + js
                       + "</script></figure>" for js in (
    "new Chart(document.getElementById('c1' /* ) */), {type: 'bar',"
    " data: {labels: ['a,)', 'b{'], datasets: [{label: 'x) y', data: [1, 2]"
    "}]}, // , stray\n options: {plugins: {title: {text: 'Chart, (js)'}},"
    " onClick: (e) => { e.x.replace(/[{}]/g, ')'); }}});",
    "chart.setOption({title: {text: 'E)'}, xAxis: {data: ['p', 'q']},"
    " series: [{name: 's', type: 'line', data: [3, 4],"
    " label: {formatter: function (p) { return p.value + '}'; }}}]},"
    " {notMerge: true});",
    "Highcharts.chart('hc', Highcharts.merge(base, {title: {text: 'Merged'},"
    " series: [{name: 'm', data: [5, 6]}]}), function (c) {"
    " c.renderer.text('{', 0, 0); });",
    "new Chart(ctx, Object.assign({}, base, {type: 'line', data: {labels:"
    " ['u'], datasets: [{label: 'o', data: [7]}]}}));",
    "new ApexCharts(document.querySelector('#ax'), {chart: {type: 'bar'},"
    " series: [{name: 'ap', data: [1, 3]}], xaxis: {categories: ['i', 'j']}"
    "});",
    "c3.generate({bindto: '#c3', data: {columns: [['d1', 4, 5]]}});",
    "Plotly.newPlot('div,)', [{x: ['a', 'b'], y: [1, 2], type: 'bar',"
    " hovertemplate: '%{y})'}], /* ) */ {title: {text: 'Plotly ('}},"
    " {responsive: true});",
    "Plotly.newPlot('d2', {data: [{y: [3, 4]}], layout: {title: 'One'}});",
    "new Dygraph(document.getElementById('g,)'), 'Date,A\\n' +\n"
    " '2020,1\\n' + '2021,2\\n', {title: 'Dy{', ylabel: 'y',"
    " valueFormatter: (v) => v.toFixed(1)});",
    "new Dygraph(el, [[1, 10], [2, 20]], {labels: ['x', 'v'], title: 'Arr'});",
    "new Chartist.Line('.ct,)', {labels: ['m', 'n'], series: [[1, 2]]},"
    " {axisX: {labelInterpolationFnc: function (v) { return v + ')'; }}});",
    "vegaEmbed('#vis', {$schema: 'https://vega.github.io/schema/vega-lite/"
    "v5.json', mark: 'bar', encoding: {x: {field: 'k', type: 'nominal'},"
    " y: {field: 'v', type: 'quantitative'}}, data: {values: [{k: 'a)',"
    " v: 1}, {k: 'b,', v: 2}]}}, {actions: false}).then(function (r) {"
    " return r.view; });",
    "var data = google.visualization.arrayToDataTable([['Task', 'Hours'],"
    " ['Work', 11], ['Eat, sleep )', 2]]); var chart = new google."
    "visualization.PieChart(document.getElementById('pie'));"
    " chart.draw(data, {title: 'Daily (', vAxis: {title: 'h,'}});",
    "var dt = new google.visualization.DataTable(); dt.addColumn('string',"
    " 'Year'); dt.addColumn('number', 'Sales'); dt.addRows([['2020', 5],"
    " ['2021', 8]]); var c2 = new google.visualization.LineChart(el);"
    " c2.draw(dt, {title: 'Sales /* */'});",
))

# chart-dialect literals that are not chart calls: each one holds a word
# a dialect's marker contains (Chart, setOption, generate, Plotly,
# Dygraph, Chartist, vegaEmbed, arrayToDataTable, addColumn, vega-lite)
# without being the marker, plus markers inside comments and strings
_NEAR_MISS_LINES = (
    "var palette = ['Chartreuse', 'ChartTitle', 'AmCharts.ready'];",
    "function generateId(n) { return 'id-' + n; }",
    "grid.addColumnHeader('x'); grid.addColumns(2);",
    "settings.setOptions({lang: 'en'}); Highcharts.setOptions({});",
    "var isPlotly = window.Plotly !== undefined; // Plotly.js absent",
    "new Dygraphs.Legend(el); var DygraphX = null;",
    "new Chartist.Legend('.ct'); var ChartistTheme = 'dark';",
    "var vegaEmbedded = false; var arrayToDataTables = [];",
    "am4core.useTheme(am4themes_animated); $(el).highchartsTheme();",
    "var doc = 'call Plotly.newPlot(div, traces) to draw';",
    "// new Chart(ctx, cfgFromComment)",
    "/* vegaEmbed('#v', specInComment) */",
    "var tip = \"arrayToDataTable(rowsInString)\";",
)
_NEAR_MISS_SCRIPT = "\n".join(
    f"window.w{k} = function (x) {{ {_NEAR_MISS_LINES[k % 13]}"
    f" if (x < {k % 97}) {{ return 'track' + x; }} return w{k}(x - 1); }};"
    for k in range(80))

# one real chart per marker, each in its own script, then one script
# that mixes near misses with a real call
_CHART_MARKER_NEAR_MISSES = (
    "<script>" + _NEAR_MISS_SCRIPT + "</script>"
    "<script type='application/json'>{\"$schema\": \"https://vega.github"
    ".io/schema/vega/v5.json\", \"description\": \"not a vega-lite spec\","
    " \"mark\": \"bar\", \"data\": {\"values\": [{\"k\": 1}]}}</script>"
    + "".join("<figure><canvas></canvas><script>" + js
              + "</script></figure>" for js in (
        "new Chart(ctx, {type: 'line', data: {labels: ['a', 'b'],"
        " datasets: [{label: 'cj', data: [1, 2]}]}});",
        "chart.setOption({xAxis: {data: ['p']}, series: [{name: 'ec',"
        " type: 'bar', data: [3]}]});",
        "Highcharts.chart('hc', {title: {text: 'HC'}, series: [{name: 'h',"
        " data: [4, 5]}]});",
        "$('#hq').highcharts({series: [{name: 'hq', data: [6]}]});",
        "new ApexCharts(el, {chart: {type: 'bar'}, series: [{name: 'ap',"
        " data: [7, 8]}], xaxis: {categories: ['i', 'j']}});",
        "AmCharts.makeChart('am', {type: 'serial', categoryField: 'k',"
        " dataProvider: [{k: 'x', v: 9}], graphs: [{valueField: 'v'}]});",
        "c3.generate({data: {columns: [['c3', 1, 2]]}});",
        "new FusionCharts({type: 'column2d', dataSource: {data: [{label:"
        " 'f', value: '3'}]}}).render();",
        "am4core.createFromConfig({data: [{k: 'a', v: 4}], series:"
        " [{type: 'ColumnSeries', dataFields: {valueY: 'v', categoryX:"
        " 'k'}}]}, 'div', am4charts.XYChart);",
        "new frappe.Chart('#f', {type: 'bar', data: {labels: ['u'],"
        " datasets: [{name: 'fr', values: [5]}]}});",
        "Plotly.newPlot('pd', [{x: ['a', 'b'], y: [1, 3], type: 'bar'}],"
        " {title: 'PL'});",
        "new Dygraph(el, 'x,A\\n1,2\\n2,4\\n', {title: 'DY'});",
        "new Chartist.Bar('.ct', {labels: ['m'], series: [[6]]});",
        "vegaEmbed('#vis', {$schema: 'https://vega.github.io/schema/"
        "vega-lite/v5.json', mark: 'line', encoding: {x: {field: 'k',"
        " type: 'nominal'}, y: {field: 'v', type: 'quantitative'}},"
        " data: {values: [{k: 'a', v: 1}]}});",
        "var data = google.visualization.arrayToDataTable([['k', 'n'],"
        " ['a', 2]]); var c = new google.visualization.BarChart(el);"
        " c.draw(data, {title: 'GV'});",
        "var dt = new google.visualization.DataTable(); dt.addColumn("
        "'string', 'k'); dt.addColumn('number', 'n'); dt.addRows([['a',"
        " 3]]); new google.visualization.LineChart(el).draw(dt, {});",
        "var generateId = 1; var ChartTitle = 'x'; // Plotly, Dygraph\n"
        "new Chart(ctx2, {type: 'bar', data: {labels: ['z'], datasets:"
        " [{label: 'mixed', data: [9]}]}});",
    ))
    + "<script>{\"$schema\": \"https://vega.github.io/schema/vega-lite/"
    "v5.json\", \"mark\": \"point\", \"encoding\": {\"x\": {\"field\":"
    " \"k\", \"type\": \"nominal\"}, \"y\": {\"field\": \"v\", \"type\":"
    " \"quantitative\"}}, \"data\": {\"values\": [{\"k\": \"w\", \"v\":"
    " 2}]}}</script>"
)

# chart calls that only a lexer reads right: real configs inside a
# comment, a string and a regex literal; configs passed by position
# (a variable before a settings object, a variable before a callback, a
# nested call after a selector); a comment before the gviz no-header
# flag; a commented-out draw above the real one.  One script each.
CHART_CODE_VIEW_SCRIPTS = (
    "/* new Chart(ctx, {type: 'bar', data: {labels: ['a'], datasets:"
    " [{label: 'commented', data: [1]}]}}) */ var ready = true;",
    "var help = \"call c3.generate({data: {columns: [['quoted', 1, 2]]}})\";"
    " // new Dygraph(el, 'x,A\\n1,2\\n', {title: 'line comment'});",
    "var re = /Plotly.newPlot('d', [{y: [1, 2]}])/; var s ="
    " 'it'.replace(/'/g, '');",
    "var option = {series: [{name: 'byvar', type: 'bar', data: [3, 4]}]};"
    " myChart.setOption(option, {notMerge: true});",
    "var cfg = {title: {text: 'HC'}, series: [{name: 'cb', data: [5]}]};"
    " Highcharts.chart('c', cfg, function (ch) { ch.redraw(); });",
    "new frappe.Chart('#f', Object.assign({}, base, {data: {labels: ['u'],"
    " datasets: [{name: 'fr', values: [6]}]}}));",
    "var data = google.visualization.arrayToDataTable([['a', 1], ['b', 2]],"
    " /* first row is data */ true); var chart = new google.visualization"
    ".ColumnChart(el); chart.draw(data, {title: 'Flag'});",
    "var data = google.visualization.arrayToDataTable([['k', 'n'],"
    " ['x', 7]]); var chart = new google.visualization.LineChart(el);\n"
    "// chart.draw(data, {title: 'Old'});\nchart.draw(data, {title: 'New'});",
)


def _nested_list(depth: int) -> str:
    return "[" * depth + "1" + "]" * depth


# values the serializer must write exactly: a non-ASCII meta key whose
# value strips empty in an otherwise ASCII record, ld+json props with
# empty values under non-ASCII names, Infinity/NaN, -0.0, 1e16, the
# smallest subnormal, an int past 64 bits, quotes, backslashes, control
# characters and a surrogate-pair escape, and lists nested deeper than
# the native encoder's depth bound (one block past json.loads' own limit)
_SERIALIZER_VALUES = (
    "<html><head><meta property='og:título' content='   '>"
    "<meta property='og:title' content='T'>"
    "<script type='application/ld+json'>{\"@context\": \"https://schema.org\","
    " \"@type\": \"Product\", \"name\": \"Q\\\"uote\\\\ back\\u0001\\b"
    "\\u001b\\u007f end\", \"名前\": \"\", \"ключ\": null, \"clé\": \"   \","
    " \"ü\": [], \"ñ\": {}, \"é\": [\"\"], \"width\": -0.0, \"height\": 1e16,"
    " \"depth\": 5e-324, \"sku\": 1180591620717411303424, \"weight\": Infinity,"
    " \"price\": NaN, \"low\": -Infinity, \"gtin\": \"pair \\ud83d\\ude00 end\","
    " \"brand\": {\"@type\": \"Brand\", \"name\": \"\", \"ゼ\": \"\"},"
    " \"isAvailable\": true, \"ok\": false, \"nest\": " + _nested_list(150)
    + ", \"offers\": [{\"@type\": \"Offer\", \"price\": 0, \"priceCurrency\":"
    " \"\\u20ac\"}]}</script>"
    "<script type='application/ld+json'>[" + _nested_list(300)
    + ", {\"@type\": \"Deep\", \"name\": \"d\"}]</script>"
    "<script type='application/ld+json'>" + _nested_list(3000) + "</script>"
    "</head><body><main><p>Serializer values page with enough visible words"
    " to pass.</p></main></body></html>"
)

# content a browser does not render, inside and around content it does:
# hidden spans in a paragraph, a cell, a list item, a link, a caption, a
# figcaption and a section heading, and a class-hidden wrapper around a
# paragraph, a link, an image, a list and an SVG, each in display:none,
# hidden-attribute and visibility:hidden forms
_HIDDEN_DESCENDANTS = (
    "<html><head><title>Hidden descendants</title><style>.h{display:none}"
    " .v{visibility:hidden}</style></head><body><main>"
    "<p>A visible paragraph with enough words to be kept as content ok."
    "<span style='display:none'>SECRET1</span></p>"
    "<p>Another visible paragraph, long enough to stay in the main text."
    "<span class=v>VSECRET1</span><span style='visibility:hidden'>VSECRET2"
    "</span></p>"
    "<div class=h><p>A class-hidden paragraph with enough words to be kept"
    " as content.</p><a href='/secret'>secret link</a>"
    "<img src='/secret.png' alt='secret img'>"
    "<ul><li>hidden list<ul><li>hidden inner</li></ul></li></ul>"
    "<svg width='50' height='50'><rect x='0' y='0' width='20' height='20'>"
    "</rect><text x='5' y='5'>SVGSECRET</text></svg></div>"
    "<div style='visibility:hidden'><p>A visibility-hidden paragraph with"
    " enough words to be kept.</p><a href='/vsecret'>v link</a>"
    "<img src='/vsecret.png' alt='v img'></div>"
    "<table><caption>Prices <span hidden>CAPSECRET</span></caption>"
    "<tr><th>item</th><th>link</th></tr>"
    "<tr><td>a<span style='display:none'>SECRET2</span></td>"
    "<td><a href='/cell-hidden' style='display:none'>HL</a>"
    "<a href='/cell-shown'>shown</a></td></tr>"
    "<tr><td>b<span class=v>VCELL</span></td><td>2</td></tr></table>"
    "<ul><li>one <span hidden>LISECRET</span><ul><li>nested"
    "<span class=h>NSECRET</span></li><li hidden>HIDDENITEM</li></ul></li>"
    "<li>two</li></ul>"
    "<p>A link paragraph <a href='/ok'>ok link<span hidden>ASECRET</span>"
    "</a> with enough words to be kept here.</p>"
    "<figure><img src='/fig.png' alt='fig'><figcaption>cap "
    "<span hidden>SECRETCAP</span></figcaption></figure>"
    "<section><h2 class=h>HIDDEN TITLE</h2><h2>Shown title</h2>"
    "<p>The section body text is long enough to be kept as content.</p>"
    "</section>"
    "<svg width='50' height='50'><rect x='0' y='0' width='20' height='20'>"
    "</rect><rect class=h x='30' y='30' width='5' height='5'></rect>"
    "<text x='5' y='5'>shown <tspan hidden>TSECRET</tspan></text></svg>"
    "</main></body></html>"
)

# an <article> only inside a <template> and a <main> only inside a
# display:none wrapper, before the rendered <main>
_UNRENDERED_CONTENT_ROOT = (
    "<html><body><template><article><p>Template article text that must"
    " never become the main text of this page.</p></article></template>"
    "<div style='display:none'><main><p>Hidden main text that a browser"
    " never shows to the reader of this page.</p></main></div>"
    "<main><p>The visible main paragraph with enough words to be the main"
    " text.</p></main></body></html>"
)

_TEXT_CASES = [
    ("comment_in_script",
     "<script>var s = '<!--'; x()</script>" + _BODY + "<!-- real -->"),
    ("comment_in_style",
     "<style>/* <!-- */ p{color:red}</style>" + _BODY + "-->tail"),
    ("unterminated_comment", "<p>before</p><!-- never closed <p>lost</p>"),
    ("comment_before_final_newline", "<p>x</p><!-- open to the end\n"),
    ("cdata_before_final_newline", "<p>x</p><![CDATA[ open\n"),
    ("bare_comment_open_newline", "<p>x</p><!--\n"),
    ("unterminated_attr_quote",
     '<div><a href="https://x.example/>link</a><p>para</p></div>'),
    ("unterminated_quote_closed_later",
     "<div><a title='x>y</a><p>z</p>it's</div>"),
    ("upper_script_close", "<SCRIPT>a<b</SCRIPT><p>seen</p>"),
    ("script_close_word_boundary",
     "<script>x</scripté>y</scripty>z</script><p>seen</p>"),
    ("script_close_unicode_fold",
     "<script>x</ſcript><p>in script</p></scrİpt><p>seen</p>"),
    ("style_close_spaced", "<style>p{}</STYLE ><p>seen</p>"),
    ("backface_visibility",
     "<div style='backface-visibility:hidden'><p>visible text</p></div>"
     "<div style='-webkit-display:none;display:block'>shown</div>"),
    ("stray_angles", "a < b <1 <> </ > <-x </1 <? pi ?> <!doctype x> c"),
    ("self_closing_slash", "<p>x<br/>y<img src=a.png/><div/>z</div></p>"),
    ("entities", "<p title='a&amp;b'>&lt;tag&gt; &copy; &#x1F600; &bogus;</p>"),
    ("deep_nesting", "<div>" * 5000 + "deep text" + "</div>" * 5000),
    ("huge_attribute",
     "<div data-x='" + "a" * (1 << 20) + "'><p>after huge</p></div>"),
    ("astral_and_cjk",
     "<html lang=ja><body><h1>売上 😀</h1><p>€ ſ İ</p></body></html>"),
    ("chart_call_forms", _CHART_CALLS),
    ("chart_marker_near_misses", _CHART_MARKER_NEAR_MISSES),
    ("template_rows",
     "<table><tr><td>a</td><td>b</td></tr><template><tr><td>INERT</td>"
     "<td>x</td></tr></template></table>"),
    ("duplicate_attrs",
     "<table><tr><td style='background:red' style='background:blue'>x</td>"
     "<td><a href='/first' href='/second'>y</a></td></tr></table>"
     "<p style='color:red' style='display:none'>first wins: shown</p>"),
    ("chart_code_view",
     "".join("<figure><canvas></canvas><script>" + js + "</script></figure>"
             for js in CHART_CODE_VIEW_SCRIPTS)),
    ("serializer_values", _SERIALIZER_VALUES),
    ("hidden_descendants", _HIDDEN_DESCENDANTS),
    ("unrendered_content_root", _UNRENDERED_CONTENT_ROOT),
]

ADVERSARIAL = [(name, text.encode("utf-8")) for name, text in _TEXT_CASES]
ADVERSARIAL += [
    ("non_utf8_latin1",
     "<p>café naïve</p><table><tr><td>é</td></tr></table>".encode("latin-1")),
    ("non_utf8_garbage", b"<p>\xff\xfe\x80\x81 ok</p><div>\xc3\x28</div>"),
    ("utf16_le_bom",
     b"\xff\xfe" + "<p>utf-16 páge 😀</p>".encode("utf-16-le")),
    ("utf16_be_bom",
     b"\xfe\xff" + "<ul><li>one<li>two</ul>".encode("utf-16-be")),
    ("empty", b""),
]

_JSON_FEED = {
    "version": "https://jsonfeed.org/version/1.1",
    "title": "Cafe\u0301 notes", "language": "fr",
    "items": [
        {"id": "1", "title": "Premier", "url": "https://feed.example/1",
         "date_published": "2024-02-01T08:00:00Z",
         "content_text": "Re\u0301sume\u0301 du jour", "tags": ["a"]},
        "junk-item",
    ],
}

ROUTES = [
    ("pdf_minimal",
     b"%PDF-1.4\n"
     b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
     b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
     b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
     b"4 0 obj << /Length 44 >> stream\n"
     b"BT /F1 12 Tf 72 712 Td (Minimal PDF text) Tj ET\n"
     b"endstream endobj\n"
     b"5 0 obj << /Title (Route check) >> endobj\n"
     b"trailer << /Info 5 0 R >>\n%%EOF"),
    ("json_feed", json.dumps(_JSON_FEED).encode("utf-8")),
    ("json_feed_malformed",
     b'{ "version": "https://jsonfeed.org/version/1.1", items: oops }'),
    ("robots_txt",
     b"# robots\nUser-agent: *\nDisallow: /private/\n"
     b"Allow: /private/ok.html\nCrawl-delay: 2\n\n"
     b"Sitemap: https://ex.example/sitemap.xml\n"),
    ("markup_without_main_text",
     b"<html><head><title>Nav only</title></head><body>"
     b"<nav><a href='/'>Home</a> | <a href='/about'>About</a></nav>"
     b"<footer>(c) 2024</footer></body></html>"),
    ("whitespace_only", b" \n\t  \r\n "),
]
