"""Inline <script> chart-config parser — the web twin of the reference's
SERIES-formula tokenizer (F7 parity).

The reference parses `=SERIES(...)` with a REAL tokenizer: paren/brace
depth tracking, quote-escape awareness, top-level argument split
(``_extract_series_args_text`` / ``_split_top_level_args``, reference
core/charts.py:16-170).  The web's actual chart-data carrier is not a
formula but an embedded Chart.js / ECharts config object inside a
``<script>`` tag — a JS object literal with nested quotes, braces,
unquoted keys, trailing commas, and callback functions, which no regex
(and no strict-JSON parser) can read.  SURVEY.md §2.7 F7 flags exactly
this.

The module is organized around one table, ``_DIALECTS``: each chart
dialect is stated once, as its literals, its finder, its normalizer and
(for Google Charts) its context step, and ``charts_from_script`` is one
loop over it.

  * **literals** — substrings that every match of the dialect's marker
    contains.  A finder runs only when one of them is in the script
    (``str`` search at C speed), so a script without a chart, the
    common case on crawled pages, costs one substring search per
    literal and no regex scan;
  * **finders** — a marker regex plus one rule naming the argument that
    carries the data: argument 0 or the last non-callback argument of a
    constructor in the ``_MARKER_RE`` family (``new Chart``,
    ``.setOption``, Highcharts, ApexCharts, amCharts, C3/billboard,
    FusionCharts, Frappe), Plotly's trace array and the layout after it,
    argument 1 for Chartist, Vega-Lite and Dygraph (argument 2 its
    options), argument 0 of ``arrayToDataTable``, the
    ``addColumn``/``addRows`` DataTable idiom, and a whole-script
    Vega-Lite JSON spec;
  * **normalizers** (``_from_*``) — each dialect's config shape into the
    engine's intermediate chart shape {chart_type, title, labels,
    series: [(name, [values])], y_axis_title?}, incl. the modern
    ECharts ``dataset.source`` table and the jQuery
    ``$(sel).highcharts(cfg)`` form;
  * **context** (``_gviz_context``) — a Google Charts data table's chart
    type and ``draw(data, options)`` options, bound through the table's
    variable.

Underneath, the finders share one lexer and one grammar:

  * ``_code_view``: the script lexed once, after the first dialect gate
    hits — a string of the script's length in which comments are spaces
    and the bodies of strings and regex literals are spaces between
    their kept delimiters.  It is the only code that knows JS string,
    comment and regex-literal syntax; everything below reads structure
    from the view, so a marker, a brace or a comma inside a comment or a
    string is not there, and reads string values from the script at the
    same offsets;
  * ``_call_args``: one walk over a chart call's arguments in the view,
    the direct analogue of ``_split_top_level_args`` — callbacks
    (``function`` / ``=>``) consumed whole, commas split at paren and
    bracket depth 0, and the balanced ``{...}`` spans of each argument
    recorded on the way;
  * ``_arg_value``: one argument's value — a literal parses in place; a
    bare identifier (``const cfg = {...}; new Chart(ctx, cfg)``)
    resolves to its nearest object/array assignment, in every dialect;
  * ``parse_js_value``: recursive-descent parse of the JS object-literal
    subset (objects with quoted/bare keys, arrays, single/double/backtick
    strings with backslash escapes, numbers, true/false/null/undefined,
    bare identifiers as strings); callback values (``function`` /
    ``=>``) are consumed as balanced token runs and yield ``None`` —
    skipped, never crashed on.

Pure Python, no Spark: runs inside the single mapInPandas extraction
stage like every other kernel.
"""

from __future__ import annotations

import re
from typing import Optional

# the constructor-config family, one regex so its matches stay in
# script order; its gate literals are its ``_DIALECTS`` entry
_MARKER_RE = re.compile(
    r"new\s+Chart\s*\(|\.setOption\s*\("
    r"|Highcharts\s*\.\s*(?:chart|stockChart|mapChart)\s*\("
    r"|\.highcharts\s*\("  # jQuery plugin form: config is the FIRST arg
    r"|new\s+ApexCharts\s*\("  # config is the LAST (2nd) argument
    r"|AmCharts\s*\.\s*makeChart\s*\("  # ditto (div id, config)
    # "\b(?:c3|bb)" as a lookbehind, so that every alternative starts
    # with a literal and re can skip ahead on the first character
    r"|(?:c3|bb)(?<!\w..)\s*\.\s*generate\s*\("  # the ONLY argument
    r"|new\s+FusionCharts\s*\("           # ditto
    r"|am4core\s*\.\s*createFromConfig\s*\("  # config is the FIRST arg
    r"|new\s+frappe\s*\.\s*Chart\s*\("  # (selector, cfg): the LAST
)

# Plotly's config is an ARRAY of trace objects (not a single {...}), so
# it gets its own finder: Plotly.newPlot(div, data[, layout])
_PLOTLY_RE = re.compile(r"Plotly\s*\.\s*(?:newPlot|react|plot)\s*\(")

_NUM_START = set("-+.0123456789")
_NUM_RE = re.compile(r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?")
_IDENT_RE = re.compile(r"[A-Za-z_$][A-Za-z0-9_$]*")
_WS_RE = re.compile(r"\s+")
_QUOTES = "\"'`"

# the next string (closed, with its backslash escapes), line comment, or
# lone quote (an unterminated string) or '/' (a block comment, a regex
# literal or division)
_LEX_RE = re.compile(
    r"'[^'\\]*(?:\\[\s\S][^'\\]*)*'"
    r'|"[^"\\]*(?:\\[\s\S][^"\\]*)*"'
    r"|`[^`\\]*(?:\\[\s\S][^`\\]*)*`"
    r"|//[^\n]*|[\"'`/]")
# a regex-literal body after its opening '/': a character class may hold
# '/', and a newline ends an unterminated literal (then it was division
# after all)
_REGEX_BODY_RE = re.compile(
    r"(?:[^\\/\[\n]+|\\[\s\S]?|\[(?:[^\\\]\n]+|\\[\s\S]?)*\]?)*")
# a '/' after one of these (or at the start of the script) begins a
# regex literal, not division: the standard JS lexing heuristic.
# Without it a callback like .replace(/\}/g, '') corrupts the brace
# depth (it once hung an executor).
_REGEX_PREV = set("([{,=:;!&|?+-*/%<>~^")


def _code_view(s: str) -> str:
    """The script as its code alone: a string of the same length in
    which comments are spaces and the bodies of strings and regex
    literals are spaces between their kept delimiters, so an offset into
    the view is an offset into ``s``.  The one JS lexer of the module:
    backslash escapes, a ``/`` read as a regex literal after one of
    ``_REGEX_PREV`` (a comment or a regex literal counts as ``/``, a
    string as a quote) or at the start, and as division otherwise, an
    unterminated string running to the end, an unterminated regex
    literal to the end of its line, and an unclosed ``/*`` read as a
    lone ``/``.  The previous significant character is tracked on the
    way, so the view costs one pass."""
    parts: list = []
    prev = None  # the previous significant character
    start = pos = 0  # s[start:] not yet in parts; the scan resumes at pos
    n = len(s)
    last_close = s.rfind("*/")  # a "/*" well before it is a comment
    while True:
        m = _LEX_RE.search(s, pos)
        if m is None:
            break
        k, e = m.span()
        ch = s[k]
        if ch != "/":
            if e - k == 1:  # an unterminated string
                parts += (s[start:k], ch, " " * (n - k - 1))
                start = n
                break
            parts += (s[start:k], ch, " " * (e - k - 2), ch)
            prev = '"'
        elif e - k > 1 or (s.startswith("*", e) and last_close > e):
            if e - k == 1:  # a closed block comment
                e = s.find("*/", e + 1) + 2
            parts += (s[start:k], " " * (e - k))
            prev = "/"
        else:
            # code since the last token may hold the previous
            # significant character (a division's '/' included)
            j = k - 1
            while j >= start and s[j].isspace():
                j -= 1
            if j >= start:
                prev = s[j]
            if prev is not None and prev not in _REGEX_PREV:
                pos = e  # division: stays in the code
                continue
            b = _REGEX_BODY_RE.match(s, e).end()
            parts += (s[start:k], "/", " " * (b - e))
            e = b
            if b < n and s[b] == "/":
                e = b + 1
                while e < n and s[e].isalpha():
                    e += 1
                parts.append(s[b:e])
            prev = "/"
        start = pos = e
    parts.append(s[start:])
    return "".join(parts)


def _skip_ws(v: str, i: int) -> int:
    m = _WS_RE.match(v, i)
    return m.end() if m else i


def _string_end(v: str, i: int) -> int:
    """``i`` at a string's opening quote in the code view -> the index
    past its closing quote (the end of the script when unterminated)."""
    j = v.find(v[i], i + 1)
    return len(v) if j < 0 else j + 1


# what ends a call argument or a skipped value, or starts a callback
_ARG_TOKEN_RE = re.compile(r"[(){}\[\],]|=>|(?<![\w$])function(?![\w$])")
_NEST_RE = re.compile(r"[(){}\[\],]")
_BRACE_RE = re.compile(r"[{}]")
# an argument that never carries a config: a callback (``function …``,
# ``(a, b) => …``, ``a => …``) or a number (amCharts' ``makeChart(div,
# cfg, delay)``)
_NOT_CONFIG_RE = re.compile(
    r"\s*(?:function(?![\w$])|(?:\([^()]*\)|[\w$]+)\s*=>|[-+]?\.?\d)")


def _call_args(v: str, i: int) -> list:
    """``i`` just past a call's ``(`` in the code view -> one ``(start,
    end, objects)`` per top-level argument, the call's own ``)`` (or the
    end of the script) ending the walk.  ``objects`` are the ``(start,
    end)`` spans of the balanced ``{...}`` literals in the argument,
    nested calls included (``Highcharts.merge(base, {...})``).  A
    ``function``/``=>`` value is consumed whole, and commas split only at
    paren and bracket depth 0: the ``_split_top_level_args`` of the
    reference's SERIES tokenizer.  An unmatched ``{`` runs its argument to
    the end of the script; an empty trailing argument (``f(a, )``) is
    dropped."""
    args: list = []
    start, objects = i, []
    parens = brackets = 0
    while True:
        m = _ARG_TOKEN_RE.search(v, i)
        if m is None:
            i = len(v)
            break
        k, i = m.span()
        tok = m.group()
        if tok == "{":  # only braces count up to the matching '}'
            depth = 0
            for b in _BRACE_RE.finditer(v, k):
                depth += 1 if b.group() == "{" else -1
                if not depth:
                    break
            else:
                i = len(v)
                break
            i = b.end()
            objects.append((k, i))
        elif tok == "function" or tok == "=>":
            i = max(_skip_function_value(v, k), i)
        elif tok == ")":
            if not parens:
                i = k
                break
            parens -= 1
        elif tok == "(":
            parens += 1
        elif tok == "[":
            brackets += 1
        elif tok == "]":
            brackets -= brackets > 0
        elif tok == "," and not parens and not brackets:
            args.append((start, k, objects))
            start, objects = i, []
    if objects or _skip_ws(v, start) < i:
        args.append((start, i, objects))
    return args


def _arg_value(s: str, v: str, arg: tuple, call_pos: int):
    """One argument's value.  A ``{``/``[``/string literal parses in
    place; a bare identifier resolves to the nearest ``name = {``/``[``
    assignment of that name (not of a property ``obj.name``) above the
    call at ``call_pos`` (else the first one below it: ``var``
    hoisting), so ``const cfg = {...}; new Chart(ctx, cfg)`` reads like
    its inline twin.  Anything else (a call, a member path, an
    expression) is None."""
    start, end, _ = arg
    i = _skip_ws(v, start)
    if i >= end:
        return None
    if v[i] in "{[\"'`":
        return _parse_value(s, v, i)[0]
    m = _IDENT_RE.match(v, i)
    if m is None or _skip_ws(v, m.end()) < end:
        return None
    best = None
    # (?<![\w$.]): the name itself, not a longer name or a property
    # (``state.cfg = …``); a ``$`` name has no ``\b`` in front of it
    for am in re.finditer(
            r"(?<![\w$.])" + re.escape(m.group(0)) + r"\s*=\s*[{\[]", v):
        if am.start() < call_pos or best is None:
            best = am
        if am.start() >= call_pos:
            break
    return None if best is None else _parse_value(s, v, best.end() - 1)[0]


def _nth_value(s: str, v: str, args: list, k: int, call_pos: int):
    """``_arg_value`` of argument ``k`` (negative counts from the end);
    None when the call has no such argument."""
    if -len(args) <= k < len(args):
        return _arg_value(s, v, args[k], call_pos)
    return None


# markers whose config is the FIRST argument (ECharts' optional second
# setOption argument is notMerge/lazyUpdate settings); the rest take the
# LAST (new Chart(ctx, cfg), new ApexCharts(el, cfg), ...)
_FIRST_ARG_MARKERS = ("setOption", "highcharts", "generate", "FusionCharts",
                      "createFromConfig")


def find_config_objects(s: str, v: str) -> list:
    """``(cfg,)`` per chart-constructor call, ``cfg`` the parsed config
    dict: argument 0 for ``_FIRST_ARG_MARKERS``, else the last argument
    that is not a callback or a number.  A literal or a bare identifier is read by
    ``_arg_value``; a nested call (``Highcharts.merge(base, {...})``)
    gives its own first or last ``{...}`` literal."""
    out = []
    for m in _MARKER_RE.finditer(v):
        k = 0 if any(w in m.group(0) for w in _FIRST_ARG_MARKERS) else -1
        args = _call_args(v, m.end())
        if k:
            args = [a for a in args
                    if not _NOT_CONFIG_RE.match(v, a[0], a[1])]
        if not args:
            continue
        arg = args[k]
        cfg = _arg_value(s, v, arg, m.start())
        if cfg is None and arg[2]:
            cfg = _parse_value(s, v, arg[2][k][0])[0]
        if isinstance(cfg, dict):
            out.append((cfg,))
    return out


def _skip_function_value(v: str, i: int) -> int:
    """Consume a value the parser does not read (a function, an arrow, a
    call, a stray token) in the code view as a balanced run up to the
    next top-level ',' or closing ')', '}' or ']'.  May return i
    unchanged when already AT a top-level terminator — callers needing
    guaranteed progress must advance themselves."""
    depth = 0
    for m in _NEST_RE.finditer(v, i):
        ch = m.group()
        if ch in "({[":
            depth += 1
        elif not depth:
            return m.start()
        elif ch != ",":
            depth -= 1
    return len(v)


_JS_ESCAPES = {
    "n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f", "v": "\v",
    "0": "\0",
}


def _decode_js_string(body: str) -> str:
    """Decode JS string escapes: named escapes, \\uXXXX, \\u{X..}, \\xXX;
    an unknown escape yields the bare char (the JS rule, so \\q -> q)."""
    if "\\" not in body:
        return body
    out: list = []
    i = 0
    n = len(body)
    while i < n:
        ch = body[i]
        if ch != "\\" or i + 1 >= n:
            out.append(ch)
            i += 1
            continue
        c = body[i + 1]
        if c in _JS_ESCAPES:
            out.append(_JS_ESCAPES[c])
            i += 2
        elif c == "u" and body[i + 2 : i + 3] == "{":
            j = body.find("}", i + 3)
            if j < 0:  # unterminated \u{…: bare-char rule, NEVER i=j+1=0
                out.append(c)
                i += 2
                continue
            try:
                out.append(chr(int(body[i + 3 : j], 16)))
                i = j + 1
            except (ValueError, TypeError, OverflowError):
                out.append(c)
                i += 2
        elif c == "u":
            try:
                out.append(chr(int(body[i + 2 : i + 6], 16)))
                i += 6
            except ValueError:
                out.append(c)
                i += 2
        elif c == "x":
            try:
                out.append(chr(int(body[i + 2 : i + 4], 16)))
                i += 4
            except ValueError:
                out.append(c)
                i += 2
        else:
            out.append(c)
            i += 2
    return "".join(out)


_JS_WORDS = {"true": True, "false": False, "null": None, "undefined": None}


def parse_js_value(s: str, i: int = 0):
    """Recursive-descent parse of one JS value of ``s`` at ``i`` ->
    (python_value, next_i).  Unparseable/callback values yield (None,
    i_past) — skip, don't fail."""
    return _parse_value(s, _code_view(s), i)


def _parse_value(s: str, v: str, i: int):
    """``parse_js_value`` on the script's code view ``v``: the structure
    is read from ``v``, string values and keys from ``s``."""
    i = _skip_ws(v, i)
    if i >= len(v):
        return None, i
    ch = v[i]
    if ch == "{":
        return _parse_object(s, v, i)
    if ch == "[":
        return _parse_array(s, v, i)
    if ch in _QUOTES:
        j = _string_end(v, i)
        return _decode_js_string(s[i + 1 : j - 1]), j
    if ch in _NUM_START:
        m = _NUM_RE.match(v, i)
        if m:
            txt = m.group(0)
            val = float(txt) if any(c in txt for c in ".eE") else int(txt)
            return val, m.end()
    else:
        m = _IDENT_RE.match(v, i)
        if m:
            word = m.group(0)
            j = _skip_ws(v, m.end())
            # not a callback or a constructor call
            if word not in ("function", "new") \
                    and not v.startswith(("(", "=>"), j):
                return _JS_WORDS.get(word, word), m.end()
    # a callback, a call or a stray token (a ')' from a mis-nested
    # script, an arithmetic '/' after a value, etc.): consume the
    # balanced run and ALWAYS advance — a same-index return here once
    # looped forever
    return None, max(_skip_function_value(v, i), i + 1)


def _parse_object(s: str, v: str, i: int):
    obj: dict = {}
    i += 1  # past '{'
    n = len(v)
    while i < n:
        i = _skip_ws(v, i)
        if i < n and v[i] == "}":
            return obj, i + 1
        # key: quoted string, bare identifier, or computed [expr] (skipped)
        if i < n and v[i] in _QUOTES:
            j = _string_end(v, i)
            key = s[i + 1 : j - 1]
            i = j
        else:
            m = _IDENT_RE.match(v, i)
            if not m:
                i0 = i
                i = _skip_ws(v, _skip_function_value(v, i))
                if i < n and v[i] == ",":
                    i += 1
                if i <= i0:  # stray terminator: force progress (no hangs)
                    i = i0 + 1
                continue
            key, i = m.group(0), m.end()
        i = _skip_ws(v, i)
        if i < n and v[i] == ":":
            val, i = _parse_value(s, v, i + 1)
            obj[key] = val
        else:
            obj[key] = None  # ES6 shorthand {x}
        i = _skip_ws(v, i)
        if i < n and v[i] == ",":
            i += 1
    return obj, i


def _parse_array(s: str, v: str, i: int):
    arr: list = []
    i += 1  # past '['
    n = len(v)
    while i < n:
        i = _skip_ws(v, i)
        if i < n and v[i] == "]":
            return arr, i + 1
        i0 = i
        val, i = _parse_value(s, v, i)
        arr.append(val)
        i = _skip_ws(v, i)
        if i < n and v[i] == ",":
            i += 1
        if i <= i0:  # no forward progress on a stray token: never loop
            i = i0 + 1
    return arr, i


_TYPE_MAP = {
    "line": "Line", "bar": "Column", "horizontalbar": "Bar", "pie": "Pie",
    "doughnut": "Pie", "scatter": "Scatter", "radar": "Radar", "area": "Line",
    # Highcharts names ('bar' there is horizontal, but it is vertical in
    # Chart.js/ECharts — the shared key keeps the majority dialect)
    "column": "Column", "spline": "Line", "areaspline": "Line",
    # ApexCharts extras
    "donut": "Pie", "radialbar": "Pie",
}


def _num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _numeric(values) -> list:
    out = []
    for v in values or []:
        if _num(v):
            out.append(float(v))
        elif isinstance(v, dict):
            # Chart.js point objects {x, y}; ECharts item objects
            # {value, name} (the pie/named-datum shape)
            for k in ("y", "value"):
                if _num(v.get(k)):
                    out.append(float(v[k]))
                    break
        elif isinstance(v, list) and len(v) >= 2 \
                and _num(v[0]) and _num(v[1]):
            # [x, y] pair rows (Highcharts/stockChart time series,
            # ECharts value-axis scatter/line; triples carry size in
            # [2]) — the y value is index 1
            out.append(float(v[1]))
    return out


def _norm_type(raw, horizontal: bool = False) -> str:
    t = _TYPE_MAP.get(str(raw or "").lower(), None)
    if t == "Column" and horizontal:
        return "Bar"
    return t or "Unknown"


def _from_chartjs(cfg: dict) -> Optional[dict]:
    data = cfg.get("data")
    if not isinstance(data, dict):
        return None
    datasets = data.get("datasets")
    if not isinstance(datasets, list) or not datasets:
        return None
    horizontal = (
        isinstance(cfg.get("options"), dict)
        and cfg["options"].get("indexAxis") == "y"
    )
    title = ""
    opts = cfg.get("options")
    y_title = ""
    if isinstance(opts, dict):
        plugins = opts.get("plugins")
        if isinstance(plugins, dict) and isinstance(plugins.get("title"), dict):
            title = str(plugins["title"].get("text") or "")
        # y-axis title: v3 scales.y.title.text; v2 yAxes[0].scaleLabel
        scales = opts.get("scales")
        if isinstance(scales, dict):
            y = scales.get("y")
            if isinstance(y, dict) and isinstance(y.get("title"), dict):
                y_title = str(y["title"].get("text") or "")
            yaxes = scales.get("yAxes")
            if not y_title and isinstance(yaxes, list) and yaxes \
                    and isinstance(yaxes[0], dict):
                sl = yaxes[0].get("scaleLabel")
                if isinstance(sl, dict):
                    y_title = str(sl.get("labelString") or "")
    series = []
    for k, ds in enumerate(datasets):
        # Chart.js datasets ALWAYS carry a `data` key — its absence
        # means another dialect's dataset list (Frappe uses `values`)
        if not isinstance(ds, dict) or "data" not in ds:
            continue
        series.append(
            (str(ds.get("label") or f"s{k}"), _numeric(ds.get("data")))
        )
    if not series:
        return None
    labels = [
        str(x) for x in data.get("labels") or [] if not isinstance(x, (dict, list))
    ]
    out = {
        "chart_type": _norm_type(cfg.get("type"), horizontal),
        "title": title,
        "labels": labels,
        "series": series,
    }
    if y_title:
        out["y_axis_title"] = y_title
    return out


def _from_echarts(cfg: dict) -> Optional[dict]:
    """ECharts and Highcharts share the series-list config dialect:
    ``series: [{name, type?, data}]`` with ``title.text``; labels live in
    ``xAxis.data`` (ECharts) or ``xAxis.categories`` (Highcharts), and a
    config-level type fallback in ``chart.type`` (Highcharts)."""
    raw_series = cfg.get("series")
    if isinstance(raw_series, dict):
        raw_series = [raw_series]
    if not isinstance(raw_series, list) or not raw_series:
        return None
    # ApexCharts markers — ones Highcharts/ECharts can never carry:
    # lowercase xaxis/yaxis keys, a top-level labels list with a
    # plain-number series (its pie form), or plotOptions.bar.horizontal
    # (Highcharts uses plotOptions too, but has no bar.horizontal key —
    # plotOptions ALONE must not flip the dialect).  Apex shares the
    # series-list dialect but inverts Highcharts' bar semantics ('bar'
    # is VERTICAL unless plotOptions.bar.horizontal) and puts
    # categories under lowercase 'xaxis'.
    po = cfg.get("plotOptions")
    po_bar = po.get("bar") if isinstance(po, dict) else None
    apex = (
        "xaxis" in cfg or "yaxis" in cfg
        or (isinstance(po_bar, dict) and "horizontal" in po_bar)
        or (isinstance(cfg.get("labels"), list)
            and all(not isinstance(v, dict) for v in raw_series))
    )
    apex_pie_labels: list = []
    if apex and all(isinstance(v, (int, float)) and not isinstance(v, bool)
                    for v in raw_series):
        # apex pie/donut: series is a plain numbers array, names in the
        # top-level labels list
        apex_pie_labels = [
            str(x) for x in cfg.get("labels") or []
            if not isinstance(x, (dict, list))
        ]
        raw_series = [{"name": None, "data": list(raw_series)}]
    # modern ECharts dataset API: series carry no data; dataset.source
    # is a row-major table — first row is the header when it is
    # non-numeric (ECharts' sourceHeader auto-detect), column 0 the
    # category labels, column k+1 the k-th series (default
    # seriesLayoutBy: 'column').  encode/seriesLayoutBy overrides are
    # out of the declared subset.
    ds_header: list = []
    ds_cols: list = []
    ds_labels: list = []
    dataset = cfg.get("dataset")
    if isinstance(dataset, list) and dataset \
            and isinstance(dataset[0], dict):
        dataset = dataset[0]  # multi-dataset pages: first is default
    if isinstance(dataset, dict):
        src = dataset.get("source")
        rows = [r for r in src if isinstance(r, list)] \
            if isinstance(src, list) else []
        obj_rows = [r for r in src if isinstance(r, dict)] \
            if isinstance(src, list) and not rows else []
        if rows:
            first = rows[0]
            has_header = all(
                not isinstance(v, (int, float)) or isinstance(v, bool)
                for v in first[1:]) and len(first) > 1
            body = rows[1:] if has_header else rows
            ds_header = [str(v) for v in first] if has_header else []
            ds_labels = [str(r[0]) for r in body if r]
            width = max((len(r) for r in body), default=0)
            ds_cols = [
                _numeric([r[c] if c < len(r) else None for r in body])
                for c in range(1, width)
            ]
        elif obj_rows:
            # object-row source: column order from `dimensions` when
            # declared, else the first row's key order (ECharts' own
            # detection); dimension 0 is the category column
            dims = dataset.get("dimensions")
            if not (isinstance(dims, list)
                    and all(isinstance(d, str) for d in dims)):
                dims = list(obj_rows[0].keys())
            if len(dims) > 1:
                ds_header = [str(d) for d in dims]
                ds_labels = [str(r.get(dims[0], "")) for r in obj_rows]
                ds_cols = [
                    _numeric([r.get(d) for r in obj_rows])
                    for d in dims[1:]
                ]
    series = []
    stype = None
    for k, s in enumerate(raw_series):
        if not isinstance(s, dict):
            continue
        stype = stype or s.get("type")
        data = _numeric(s.get("data"))
        name = s.get("name")
        if not data and k < len(ds_cols):
            data = ds_cols[k]
            if name is None and k + 1 < len(ds_header):
                name = ds_header[k + 1]
        series.append((str(name or f"s{k}"), data))
    if not series:
        return None
    if not any(vals for _, vals in series):
        # every series empty: either a placeholder config (no signal)
        # or another dialect that happens to carry a 'series' key
        # (amCharts v4 dataFields) — let the later parsers try it
        return None
    # cfg['chart']['type'] is the HIGHCHARTS-only location — there 'bar'
    # means HORIZONTAL bars (Chart.js/ECharts 'bar' is vertical), so the
    # dialect is known and the orientation can be mapped correctly
    # (ADVICE r3)
    highcharts_type_block = False
    if stype is None and isinstance(cfg.get("chart"), dict):
        stype = cfg["chart"].get("type")
        highcharts_type_block = stype is not None
    title = ""
    if isinstance(cfg.get("title"), dict):
        title = str(cfg["title"].get("text") or "")
    labels: list = apex_pie_labels
    xaxis = cfg.get("xAxis")
    if xaxis is None:
        xaxis = cfg.get("xaxis")  # ApexCharts lowercase form
    if isinstance(xaxis, list) and xaxis:
        xaxis = xaxis[0]
    if not labels and isinstance(xaxis, dict):
        for key in ("data", "categories"):
            if isinstance(xaxis.get(key), list):
                labels = [
                    str(x)
                    for x in xaxis[key]
                    if not isinstance(x, (dict, list))
                ]
                break
    if not labels and ds_labels:
        labels = ds_labels  # dataset column 0 = category labels
    y_title = ""
    yaxis = cfg.get("yAxis")
    if yaxis is None:
        yaxis = cfg.get("yaxis")  # ApexCharts lowercase form
    if isinstance(yaxis, list) and yaxis:
        yaxis = yaxis[0]
    if isinstance(yaxis, dict):
        # ECharts names the axis; Highcharts titles it
        if isinstance(yaxis.get("name"), str):
            y_title = yaxis["name"]
        elif isinstance(yaxis.get("title"), dict):
            y_title = str(yaxis["title"].get("text") or "")
    horizontal = highcharts_type_block and str(stype or "").lower() == "bar"
    if apex:
        # ApexCharts 'bar' is VERTICAL unless plotOptions.bar.horizontal
        horizontal = bool(po_bar.get("horizontal")) \
            if isinstance(po_bar, dict) else False
    out = {
        # an untyped series-dialect config is the Highcharts idiom
        # (ECharts requires series.type) — 'line' is that dialect's
        # documented default
        "chart_type": _norm_type(stype or "line", horizontal=horizontal),
        "title": title,
        "labels": labels,
        "series": series,
    }
    if y_title:
        out["y_axis_title"] = y_title
    return out


def _from_amcharts(cfg: dict) -> Optional[dict]:
    """amCharts v3 classic (``AmCharts.makeChart(div, cfg)``): a
    ``dataProvider`` row list with ``categoryField`` labels and a
    ``graphs`` list naming each series' ``valueField`` — or the pie
    form's ``titleField``/``valueField`` pair.  The big 2013-2019
    crawl-era dialect."""
    dp = cfg.get("dataProvider")
    if not isinstance(dp, list) or not dp:
        return None
    rows = [r for r in dp if isinstance(r, dict)]
    if not rows:
        return None
    title = ""
    titles = cfg.get("titles")
    if isinstance(titles, list) and titles and isinstance(titles[0], dict):
        title = str(titles[0].get("text") or "")
    ctype = str(cfg.get("type") or "").lower()

    def _col(field):
        return _numeric([r.get(field) for r in rows])

    def _labels(field):
        return [str(r.get(field) or "") for r in rows]

    if ctype == "pie":
        vf = cfg.get("valueField")
        if not isinstance(vf, str):
            return None
        return {
            "chart_type": "Pie",
            "title": title,
            "labels": _labels(cfg.get("titleField") or ""),
            "series": [(str(vf), _col(vf))],
        }
    graphs = cfg.get("graphs")
    if isinstance(graphs, dict):
        graphs = [graphs]
    if not isinstance(graphs, list) or not graphs:
        return None
    series = []
    gtype = None
    for k, g in enumerate(graphs):
        if not isinstance(g, dict):
            continue
        vf = g.get("valueField")
        if not isinstance(vf, str):
            continue
        gtype = gtype or g.get("type")
        series.append((str(g.get("title") or vf), _col(vf)))
    if not series:
        return None
    # serial charts default to line graphs; "column" + rotate=true is
    # amCharts' horizontal-bar form
    out = {
        "chart_type": _norm_type(gtype or "line",
                                 horizontal=bool(cfg.get("rotate"))),
        "title": title,
        "labels": _labels(cfg.get("categoryField") or ""),
        "series": series,
    }
    axes = cfg.get("valueAxes")
    if isinstance(axes, list) and axes and isinstance(axes[0], dict):
        y_title = str(axes[0].get("title") or "")
        if y_title:
            out["y_axis_title"] = y_title
    return out


def _from_amcharts4(cfg: dict) -> Optional[dict]:
    """amCharts v4 JSON-config form (``am4core.createFromConfig(cfg,
    div, type)``): row ``data`` + ``series[].dataFields`` naming the
    value/category columns — ``{valueY, categoryX}`` for vertical
    charts, ``{valueX, categoryY}`` horizontal, ``{value, category}``
    pie.  The imperative v4 API (pushing series in code) has no config
    object to read and stays out of scope."""
    data = cfg.get("data")
    series_cfg = cfg.get("series")
    if not isinstance(data, list) or not isinstance(series_cfg, list) \
            or not series_cfg:
        return None
    rows = [r for r in data if isinstance(r, dict)]
    if not rows:
        return None
    title = ""
    titles = cfg.get("titles")
    if isinstance(titles, list) and titles and isinstance(titles[0], dict):
        title = str(titles[0].get("text") or "")

    def _col(field):
        return [float(r[field]) for r in rows if _num(r.get(field))]

    def _labels(field):
        return [str(r.get(field) or "") for r in rows]

    series = []
    labels: list = []
    gtype = None
    horizontal = False
    for k, s in enumerate(series_cfg):
        if not isinstance(s, dict):
            continue
        df = s.get("dataFields")
        if not isinstance(df, dict):
            continue
        stype = str(s.get("type") or "").lower()
        if "value" in df and "category" in df or stype == "pieseries":
            vf, cf = df.get("value"), df.get("category")
            if not isinstance(vf, str):
                continue
            vals = _col(vf)
            if not vals:
                continue
            return {
                "chart_type": "Pie", "title": title,
                "labels": _labels(cf) if isinstance(cf, str) else [],
                "series": [(str(s.get("name") or vf), vals)],
            }
        vf = df.get("valueY") or df.get("valueX")
        cf = df.get("categoryX") or df.get("categoryY")
        if not isinstance(vf, str):
            continue
        if df.get("valueX") and not df.get("valueY"):
            horizontal = True  # categoryY/valueX is the rotated form
        gtype = gtype or stype
        vals = _col(vf)
        if not vals:
            continue
        if not labels and isinstance(cf, str):
            labels = _labels(cf)
        series.append((str(s.get("name") or vf), vals))
    if not series:
        return None
    base = {"columnseries": "bar", "lineseries": "line",
            "steplineseries": "line",
            "candlestickseries": "line"}.get(gtype, "line")
    return {
        "chart_type": _norm_type(base, horizontal=horizontal),
        "title": title,
        "labels": labels,
        "series": series,
    }


def _from_c3(cfg: dict) -> Optional[dict]:
    """C3.js / billboard.js (``c3.generate({...})`` / ``bb.generate``):
    COLUMN-oriented data — ``data.columns`` is a list of arrays whose
    first element is the series name — or ``data.rows`` with a header
    row.  ``data.x`` names the column carrying category labels;
    ``axis.x.categories`` is the other label carrier.  ``axis.rotated``
    flips bars horizontal.  billboard.js is the maintained fork with
    the identical config shape."""
    data = cfg.get("data")
    if not isinstance(data, dict):
        return None
    pairs: list = []  # (name, raw values)
    cols = data.get("columns")
    rows = data.get("rows")
    if isinstance(cols, list) and cols:
        for col in cols:
            if isinstance(col, list) and col and isinstance(col[0], str):
                pairs.append((col[0], col[1:]))
    elif isinstance(rows, list) and len(rows) >= 2 \
            and isinstance(rows[0], list) \
            and all(isinstance(h, str) for h in rows[0]):
        body = [r for r in rows[1:] if isinstance(r, list)]
        for j, name in enumerate(rows[0]):
            pairs.append(
                (name, [r[j] if j < len(r) else None for r in body]))
    if not pairs:
        return None
    # label column: data.x designates one column as the category axis
    labels: list = []
    xname = data.get("x")
    if isinstance(xname, str):
        for k, (name, vals) in enumerate(pairs):
            if name == xname:
                labels = [str(v) for v in vals
                          if not isinstance(v, (dict, list))]
                pairs.pop(k)
                break
    axis = cfg.get("axis") if isinstance(cfg.get("axis"), dict) else {}
    if not labels:
        ax = axis.get("x")
        if isinstance(ax, dict) and isinstance(ax.get("categories"), list):
            labels = [str(c) for c in ax["categories"]
                      if not isinstance(c, (dict, list))]
    if not pairs:
        return None
    ctype = data.get("type")
    if not isinstance(ctype, str):
        types = data.get("types")
        if isinstance(types, dict) and types:
            ctype = next((t for t in types.values()
                          if isinstance(t, str)), None)
    ctype = ctype or "line"
    title = ""
    if isinstance(cfg.get("title"), dict):
        title = str(cfg["title"].get("text") or "")
    norm = _norm_type(ctype, horizontal=bool(axis.get("rotated")))
    if norm == "Pie":
        # pie/donut: each COLUMN is one slice (name, single value)
        out = {
            "chart_type": "Pie",
            "title": title,
            "labels": [name for name, _ in pairs],
            "series": [("value",
                        [(_numeric(vals) or [0.0])[0]
                         for _, vals in pairs])],
        }
        return out
    out = {
        "chart_type": norm,
        "title": title,
        "labels": labels,
        "series": [(name, _numeric(vals)) for name, vals in pairs],
    }
    ay = axis.get("y")
    if isinstance(ay, dict):
        lab = ay.get("label")
        y_title = (str(lab.get("text") or "") if isinstance(lab, dict)
                   else str(lab or ""))
        if y_title:
            out["y_axis_title"] = y_title
    return out


def _fc_num(v):
    """FusionCharts carries values as STRINGS ('12') — coerce."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return None
    return None


_FC_PREFIX_RE = re.compile(r"^(?:ms|stacked|scroll)+")
_FC_SUFFIX_RE = re.compile(r"[23]d$")


def _from_fusioncharts(cfg: dict) -> Optional[dict]:
    """FusionCharts (``new FusionCharts({type, dataSource})``): the
    single-series ``dataSource.data`` [{label, value}] form and the
    multi-series ``categories``/``dataset`` [{seriesname, data}] form.
    Type names carry ms/stacked prefixes and 2d/3d suffixes
    (mscolumn2d, bar3d, doughnut2d); ``bar*`` is horizontal in this
    dialect."""
    ds = cfg.get("dataSource")
    if not isinstance(ds, dict):
        return None
    meta = ds.get("chart") if isinstance(ds.get("chart"), dict) else {}
    title = str(meta.get("caption") or "")
    rawtype = str(cfg.get("type") or "").lower()
    core = _FC_SUFFIX_RE.sub("", _FC_PREFIX_RE.sub("", rawtype)) or rawtype
    horizontal = core.startswith("bar")
    norm = _norm_type("bar" if horizontal else core,
                      horizontal=horizontal)
    y_title = str(meta.get("yAxisName") or meta.get("yaxisname") or "")

    labels: list = []
    series: list = []
    data = ds.get("data")
    dataset = ds.get("dataset")
    if isinstance(data, list) and data:
        pts = [d for d in data if isinstance(d, dict)]
        labels = [str(d.get("label") or "") for d in pts]
        vals = [_fc_num(d.get("value")) for d in pts]
        series = [(y_title or "value",
                   [v for v in vals if v is not None])]
    elif isinstance(dataset, list) and dataset:
        cats = ds.get("categories")
        if isinstance(cats, list) and cats and isinstance(cats[0], dict):
            cat = cats[0].get("category")
            if isinstance(cat, list):
                labels = [str(c.get("label") or "")
                          for c in cat if isinstance(c, dict)]
        for k, s in enumerate(dataset):
            if not isinstance(s, dict) or not isinstance(
                    s.get("data"), list):
                continue
            vals = [_fc_num(d.get("value")) for d in s["data"]
                    if isinstance(d, dict)]
            series.append((str(s.get("seriesname") or f"s{k}"),
                           [v for v in vals if v is not None]))
    if not series or not any(vals for _, vals in series):
        return None
    if norm == "Pie":
        return {"chart_type": "Pie", "title": title, "labels": labels,
                "series": [("value", series[0][1])]}
    out = {"chart_type": norm, "title": title, "labels": labels,
           "series": series}
    if y_title:
        out["y_axis_title"] = y_title
    return out


_CHARTIST_RE = re.compile(
    r"new\s+Chartist\s*\.\s*(Line|Bar|Pie)\s*\(")


def _find_chartist_calls(s: str, v: str) -> list:
    """``new Chartist.Bar('#sel', data, opts?)`` -> (kind, data): the
    chart TYPE lives in the constructor name, the data is argument 1."""
    out = []
    for m in _CHARTIST_RE.finditer(v):
        cfg = _nth_value(s, v, _call_args(v, m.end()), 1, m.start())
        if isinstance(cfg, dict):
            out.append((m.group(1), cfg))
    return out


def _from_chartist(kind: str, cfg: dict) -> Optional[dict]:
    """Chartist.js: ``{labels, series}`` where series is a list of
    value ARRAYS (or {name?, data/value} objects); Pie takes a flat
    numeric series with slice names in labels."""
    series_raw = cfg.get("series")
    if not isinstance(series_raw, list) or not series_raw:
        return None
    labels = [str(x) for x in cfg.get("labels") or []
              if not isinstance(x, (dict, list))]
    if kind == "Pie":
        vals = _numeric([v.get("value") if isinstance(v, dict) else v
                         for v in series_raw])
        if not vals:
            return None
        return {"chart_type": "Pie", "title": "", "labels": labels,
                "series": [("value", vals)]}
    series = []
    for k, sr in enumerate(series_raw):
        if isinstance(sr, list):
            series.append((f"s{k}", _numeric(sr)))
        elif isinstance(sr, dict):
            series.append((str(sr.get("name") or f"s{k}"),
                           _numeric(sr.get("data"))))
    series = [p for p in series if p[1]]
    if not series:
        return None
    return {"chart_type": "Column" if kind == "Bar" else "Line",
            "title": "", "labels": labels, "series": series}


def _from_frappe(cfg: dict) -> Optional[dict]:
    """Frappe Charts (``new frappe.Chart(sel, cfg)``): data.labels +
    data.datasets[].values (the ``values`` key distinguishes it from
    Chart.js datasets, which carry ``data``)."""
    data = cfg.get("data")
    if not isinstance(data, dict):
        return None
    datasets = data.get("datasets")
    if not isinstance(datasets, list) or not datasets:
        return None
    series = []
    for k, ds in enumerate(datasets):
        if not isinstance(ds, dict) or "values" not in ds:
            continue
        vals = _numeric(ds.get("values"))
        if vals:
            series.append((str(ds.get("name") or f"s{k}"), vals))
    if not series:
        return None
    labels = [str(x) for x in data.get("labels") or []
              if not isinstance(x, (dict, list))]
    ctype = str(cfg.get("type") or "line").lower()
    if ctype in ("pie", "donut", "percentage"):
        norm = "Pie"
    else:
        norm = _norm_type(ctype)
        if norm == "Unknown":
            norm = "Line"  # axis-mixed and heatmap degrade to Line
    out = {"chart_type": norm, "title": str(cfg.get("title") or ""),
           "labels": labels, "series": series}
    return out


_DYGRAPH_RE = re.compile(r"new\s+Dygraph\s*\(")


def _scan_concat_strings(s: str, v: str, i: int):
    """``i`` at a quote char: read ``'lit' (+ 'lit')*`` -> (joined,
    next_i).  Dygraphs pages ship their CSV as a chain of string
    literals joined with ``+`` across source lines."""
    parts: list = []
    n = len(v)
    while i < n and v[i] in _QUOTES:
        j = _string_end(v, i)
        parts.append(_decode_js_string(s[i + 1 : j - 1]))
        i = j
        k = _skip_ws(v, i)
        if k < n and v[k] == "+":
            k2 = _skip_ws(v, k + 1)
            if k2 < n and v[k2] in _QUOTES:
                i = k2
                continue
        break
    return "".join(parts), i


def _find_dygraph_calls(s: str, v: str) -> list:
    """Every ``new Dygraph(el, data, opts?)`` call -> (data, opts): data
    is argument 1, a joined ``'a' + 'b'`` CSV string chain or an
    array of rows, and the options argument 2."""
    out = []
    for m in _DYGRAPH_RE.finditer(v):
        args = _call_args(v, m.end())
        if len(args) < 2:
            continue
        i = _skip_ws(v, args[1][0])
        data = (_scan_concat_strings(s, v, i)[0]
                if i < len(v) and v[i] in _QUOTES
                else _arg_value(s, v, args[1], m.start()))
        opts = _nth_value(s, v, args, 2, m.start())
        out.append((data, opts if isinstance(opts, dict) else {}))
    return out


def _from_dygraph(data, opts: dict) -> Optional[dict]:
    """Dygraphs (time-series Line library): data is a CSV STRING whose
    header names the x column + series, or an array-of-arrays with
    names in ``opts.labels``.  ``title``/``ylabel`` map directly."""
    labels: list = []
    series_names: list = []
    cols: list = []
    if isinstance(data, str):
        lines = [ln.strip() for ln in data.strip().splitlines()
                 if ln.strip()]
        if len(lines) < 2:
            return None
        header = [h.strip() for h in lines[0].split(",")]
        if len(header) < 2:
            return None
        body = [ln.split(",") for ln in lines[1:]]
        series_names = header[1:]
        labels = [r[0].strip() for r in body if r]
        for c in range(1, len(header)):
            vals = []
            for r in body:
                if c < len(r):
                    try:
                        vals.append(float(r[c]))
                    except ValueError:
                        pass
            cols.append(vals)
    elif isinstance(data, list) and data:
        rows = [r for r in data if isinstance(r, list) and r]
        if not rows:
            return None
        names = opts.get("labels")
        width = max(len(r) for r in rows)
        if isinstance(names, list) and len(names) >= 2:
            series_names = [str(x) for x in names[1:]]
        else:
            series_names = [f"s{k}" for k in range(width - 1)]
        labels = [str(r[0]) for r in rows]
        for c in range(1, width):
            cols.append(_numeric([r[c] if c < len(r) else None
                                  for r in rows]))
    else:
        return None
    series = [(series_names[k] if k < len(series_names) else f"s{k}", v)
              for k, v in enumerate(cols)]
    series = [p for p in series if p[1]]
    if not series:
        return None
    out = {
        "chart_type": "Line",  # dygraphs draws time-series lines
        "title": str(opts.get("title") or ""),
        "labels": labels,
        "series": series,
    }
    yl = opts.get("ylabel")
    if isinstance(yl, str) and yl:
        out["y_axis_title"] = yl
    return out


def _find_plotly_calls(s: str, v: str) -> list:
    """Every ``Plotly.newPlot/react/plot`` call -> (traces, layout): the
    first array argument and the object argument after it, or the
    one-object ``{data: [...], layout: {...}}`` form."""
    out = []
    for m in _PLOTLY_RE.finditer(v):
        args = _call_args(v, m.end())
        traces = layout = None
        for k, arg in enumerate(args):
            val = _arg_value(s, v, arg, m.start())
            if isinstance(val, list):
                traces, layout = val, _nth_value(s, v, args, k + 1,
                                                 m.start())
                break
            if isinstance(val, dict) and isinstance(val.get("data"), list):
                traces, layout = val["data"], val.get("layout")
                break
        if traces:
            out.append((traces, layout if isinstance(layout, dict) else {}))
    return out


def _from_plotly(traces: list, layout: dict) -> Optional[dict]:
    """Plotly trace list -> the normalized chart record.  Values live in
    ``y`` (scatter/bar; default trace type is 'scatter'), ``values``
    (pie), or ``x`` for horizontal bars (``orientation: 'h'``); labels
    come from the first trace's string-valued ``x`` (or pie
    ``labels``); the title from ``layout.title`` (a plain string or the
    newer ``{text}`` object)."""
    series = []
    stype = None
    horizontal = False
    labels: list = []
    for k, tr in enumerate(traces):
        if not isinstance(tr, dict):
            continue
        t = tr.get("type") or "scatter"
        stype = stype or t
        horiz = str(tr.get("orientation") or "").lower() == "h"
        horizontal = horizontal or horiz
        if str(t).lower() == "pie":
            data = _numeric(tr.get("values"))
            if not labels:
                labels = [str(x) for x in tr.get("labels") or []
                          if not isinstance(x, (dict, list))]
        elif horiz:
            data = _numeric(tr.get("x"))
            if not labels:
                labels = [str(x) for x in tr.get("y") or []
                          if isinstance(x, str)]
        else:
            data = _numeric(tr.get("y"))
            if not labels:
                labels = [str(x) for x in tr.get("x") or []
                          if isinstance(x, str)]
        series.append((str(tr.get("name") or f"s{k}"), data))
    if not series:
        return None
    title = ""
    raw_title = layout.get("title")
    if isinstance(raw_title, dict):
        title = str(raw_title.get("text") or "")
    elif isinstance(raw_title, str):
        title = raw_title
    out = {
        "chart_type": _norm_type(stype, horizontal=horizontal),
        "title": title,
        "labels": labels,
        "series": series,
    }
    yaxis = layout.get("yaxis")
    if isinstance(yaxis, dict):
        yt = yaxis.get("title")
        if isinstance(yt, dict):
            yt = yt.get("text")
        if isinstance(yt, str) and yt:
            out["y_axis_title"] = yt
    return out


# Vega-Lite (FIFTH dialect, VERDICT r5 #5): the spec is pure JSON — no
# JS tokenization needed beyond locating it — common in data-journalism
# pages via vegaEmbed('#sel', {spec}) or a <script type=application/json>
# block carrying a vega-lite $schema
_VEGA_RE = re.compile(r"vegaEmbed\s*\(")

_VEGA_MARK_TYPES = {
    "bar": "Column", "line": "Line", "area": "Line", "arc": "Pie",
    "point": "Scatter", "circle": "Scatter", "square": "Scatter",
    "tick": "Scatter", "trail": "Line",
}


def _find_vegalite_specs(s: str, v: str) -> list:
    """``(spec,)`` for every ``vegaEmbed(selector, spec)`` call's spec
    (argument 1), plus a whole-script JSON spec (the ``<script
    type="application/json">`` embedding) identified by its vega-lite
    ``$schema``."""
    out = []
    for m in _VEGA_RE.finditer(v):
        spec = _nth_value(s, v, _call_args(v, m.end()), 1, m.start())
        if isinstance(spec, dict):
            out.append((spec,))
    i = _skip_ws(s, 0)
    if s.startswith("{", i) and "vega-lite" in s:
        spec = _parse_value(s, v, i)[0]
        if isinstance(spec, dict) and "vega-lite" in str(
            spec.get("$schema") or ""
        ):
            out.append((spec,))
    return out


def _from_vegalite(spec: dict) -> Optional[dict]:
    """Vega-Lite spec -> normalized chart record.  ``mark`` (string or
    ``{type}``) maps to the chart type (bar orientation from which
    positional channel is quantitative); ``encoding`` names the
    category/value/series fields; values come from the long-format
    ``data.values`` rows (one row per point, series split by the
    ``color`` field).  URL-bound data (``data.url``) has no inline
    values to carry — such specs are skipped, same as every other
    dialect only emitting charts whose data is on the page."""
    mark = spec.get("mark")
    if isinstance(mark, dict):
        mark = mark.get("type")
    enc = spec.get("encoding")
    if not mark or not isinstance(enc, dict):
        return None

    def _field(ch):
        d = enc.get(ch)
        return d.get("field") if isinstance(d, dict) else None

    def _etype(ch):
        d = enc.get(ch)
        return str(d.get("type") or "").lower() if isinstance(d, dict) else ""

    mark_l = str(mark).lower()
    chart_type = _VEGA_MARK_TYPES.get(mark_l, "Unknown")
    horizontal = (
        mark_l == "bar"
        and _etype("x") == "quantitative"
        and _etype("y") in ("nominal", "ordinal")
    )
    if chart_type == "Column" and horizontal:
        chart_type = "Bar"
    if chart_type == "Pie":
        cat_f, val_f = _field("color"), _field("theta")
        series_f = None
    else:
        cat_f, val_f = (
            (_field("y"), _field("x")) if horizontal
            else (_field("x"), _field("y"))
        )
        series_f = _field("color")
    if not val_f:
        return None
    data = spec.get("data")
    values = data.get("values") if isinstance(data, dict) else None
    if not isinstance(values, list):
        return None
    rows = [r for r in values if isinstance(r, dict)]
    labels: list = []
    if cat_f:
        seen = set()
        for r in rows:
            lab = r.get(cat_f)
            if lab is None or isinstance(lab, (dict, list)):
                continue
            lab = str(lab)
            if lab not in seen:
                seen.add(lab)
                labels.append(lab)
    series: list = []
    if series_f:
        groups: dict = {}
        order: list = []
        for r in rows:
            v = r.get(val_f)
            if not isinstance(v, (int, float)) or isinstance(v, bool):
                continue
            name = r.get(series_f)
            name = str(name) if name is not None else "s0"
            if name not in groups:
                groups[name] = []
                order.append(name)
            groups[name].append(float(v))
        series = [(name, groups[name]) for name in order]
    else:
        vals = [
            float(r[val_f])
            for r in rows
            if isinstance(r.get(val_f), (int, float))
            and not isinstance(r.get(val_f), bool)
        ]
        if vals:
            series = [(str(val_f), vals)]
    if not series:
        return None
    title = spec.get("title")
    if isinstance(title, dict):
        title = title.get("text")
    out = {
        "chart_type": chart_type,
        "title": str(title or ""),
        "labels": labels,
        "series": series,
    }
    # the value channel's explicit axis title (encoding.y.title or the
    # horizontal twin); the field name alone is a series name, not an
    # axis title — leave absent then
    val_ch = ("theta" if chart_type == "Pie"
              else ("x" if horizontal else "y"))
    vd = enc.get(val_ch)
    if isinstance(vd, dict) and isinstance(vd.get("title"), str) \
            and vd["title"]:
        out["y_axis_title"] = vd["title"]
    return out


# Google Charts (SIXTH dialect): the data is a row-major array fed to
# google.visualization.arrayToDataTable (header row = x label + series
# names), the type the constructor name, the title an options field
_GVIZ_DATA_RE = re.compile(r"arrayToDataTable\s*\(")
_GVIZ_CTOR_RE = re.compile(
    r"new\s+google\s*\.\s*(?:visualization|charts)\s*\.\s*(\w+)")

_GVIZ_TYPES = {
    "linechart": "Line", "columnchart": "Column", "barchart": "Bar",
    "piechart": "Pie", "scatterchart": "Scatter", "areachart": "Line",
    "combochart": "Column", "line": "Line", "bar": "Bar",
}


def _find_gviz_tables(s: str, v: str) -> list:
    """Every arrayToDataTable call's rows (argument 0) -> (rows,
    no_header, offset, var): ``no_header`` True when the documented
    second argument ``true`` (first row is data) follows."""
    out = []
    for m in _GVIZ_DATA_RE.finditer(v):
        args = _call_args(v, m.end())
        rows = _nth_value(s, v, args, 0, m.start())
        if not isinstance(rows, list):
            continue
        no_header = (len(args) > 1
                     and v[args[1][0]:args[1][1]].strip() == "true")
        # the call offset keys the per-chart context association
        # (ADVICE r6: a script building several charts must not label
        # them all from the first); the assigned VARIABLE (when the call
        # is a plain assignment) lets _gviz_context bind this table to
        # the draw(<var>) call that actually consumes it.
        # (?<![\w.$]): a PROPERTY assignment (cfg.data = …) must not
        # capture the property name as a variable — it would bind this
        # table to an unrelated draw(data) call (third-pass review
        # finding)
        am = re.search(
            r"(?<![\w.$])(\w+)\s*=\s*google\s*\."
            r"\s*visualization\s*\.\s*$",
            v[max(0, m.start() - 120) : m.start()])
        out.append((rows, no_header, m.start(),
                    am.group(1) if am else None))
    return out


# the imperative DataTable idiom: new google.visualization.DataTable()
# + receiver.addColumn(type, label) + receiver.addRows([[...], ...]) —
# the other common Google Charts data shape besides arrayToDataTable
_GVIZ_ADDCOL_RE = re.compile(r"\b(\w+)\s*\.\s*addColumn\s*\(")
_GVIZ_ADDROWS_RE = re.compile(r"\b(\w+)\s*\.\s*addRows\s*\(")
# a fresh DataTable assigned to the same variable starts a NEW column
# set for that receiver (r7 review finding: without this, chart 2's
# header inherited chart 1's columns on receiver reuse)
_GVIZ_NEWDT_RE = re.compile(
    r"\b(\w+)\s*=\s*new\s+google\s*\.\s*visualization\s*\.\s*"
    r"DataTable\s*\(")
_MAX_GVIZ_COLS = 64


def _find_gviz_datatables(s: str, v: str) -> list:
    """Imperative-API DataTables -> ``(rows_with_header, False, offset,
    receiver)``, the ``_find_gviz_tables`` shape.

    Columns accumulate per RECEIVER variable in document order (only
    addColumn calls BEFORE the addRows call count — receiver reuse
    across two charts keys each chart to its own preceding columns);
    the synthesized header row is each column's label (falling back to
    the type string), matching the shape ``_from_gviz`` already
    normalizes.  addColumn({label, type}) object form supported."""
    cols: list = []  # (pos, receiver, header_cell)
    for m in _GVIZ_ADDCOL_RE.finditer(v):
        args = _call_args(v, m.end())
        val = _nth_value(s, v, args, 0, m.start())
        cell = None
        if isinstance(val, dict):
            cell = val.get("label") or val.get("type")
        elif isinstance(val, str):
            cell = val
            label = _nth_value(s, v, args, 1, m.start())
            if isinstance(label, str) and label:
                cell = label
        if cell is not None:
            cols.append((m.start(), m.group(1), str(cell)))
    if not cols:
        return []
    resets = [(m.start(), m.group(1))
              for m in _GVIZ_NEWDT_RE.finditer(v)]
    out = []
    for m in _GVIZ_ADDROWS_RE.finditer(v):
        recv = m.group(1)
        # columns count from the receiver's LAST re-construction before
        # this addRows — a reused variable never inherits a previous
        # chart's columns
        floor = max((p for p, r in resets
                     if r == recv and p < m.start()), default=-1)
        header = [c for p, r, c in cols
                  if r == recv and floor < p < m.start()][:_MAX_GVIZ_COLS]
        if len(header) < 2:
            continue
        rows = _nth_value(s, v, _call_args(v, m.end()), 0, m.start())
        if isinstance(rows, list) and rows:
            out.append(([header] + rows, False, m.start(), recv))
    return out


def _gviz_cell(v, prefer_formatted: bool = False):
    """One DataTable cell -> a plain value: Google Charts object cells
    carry {v: value, f: formatted} (data) or {label, type} (header).
    Value columns prefer the RAW ``v`` (``f`` is a display string like
    '$1,000' that would fail the numeric check); label cells prefer the
    formatted form."""
    if isinstance(v, dict):
        if "label" in v:
            return v["label"]
        if prefer_formatted and isinstance(v.get("f"), str):
            return v["f"]
        if "v" in v:
            return v["v"]
        return v.get("f")
    return v


def _from_gviz(rows: list, chart_type: str, title: str,
               no_header: bool = False):
    """arrayToDataTable rows -> normalized chart record.  Row 0 is the
    header (x-axis label + one name per series column) unless the
    call's second argument was ``true`` (the documented
    first-row-is-data form — series get positional names); data rows
    carry the category in column 0 and numeric series values after;
    object cells ({v, f} / {label, type}) unwrap before use."""
    if not rows or not isinstance(rows[0], list) or len(rows[0]) < 2:
        return None
    if no_header:
        names = [f"s{k}" for k in range(len(rows[0]) - 1)]
        data_rows = rows
    else:
        if len(rows) < 2:
            return None
        names = [str(_gviz_cell(x)) for x in rows[0][1:]]
        data_rows = rows[1:]
    labels: list = []
    columns: list = [[] for _ in names]
    for r in data_rows:
        if not isinstance(r, list) or not r:
            continue
        lab = _gviz_cell(r[0], prefer_formatted=True)
        if not isinstance(lab, (dict, list)) and lab is not None:
            labels.append(str(lab))
        for k in range(len(names)):
            v = _gviz_cell(r[k + 1]) if k + 1 < len(r) else None
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                columns[k].append(float(v))
    series = [(names[k], columns[k]) for k in range(len(names))
              if columns[k]]
    if not series:
        return None
    return {
        "chart_type": chart_type,
        "title": title,
        "labels": labels,
        "series": series,
    }


def _gviz_context(s: str, v: str, from_pos: int = 0,
                  data_var: str = None):
    """(chart_type, title, y_title) from the constructor name and the
    draw call's OPTIONS OBJECT — the title must come from the parsed
    second argument of ``chart.draw(data, options)``, not a
    whole-script regex, or an hAxis/vAxis sub-title (or another
    dialect's title) appearing earlier wins (third-review finding).

    ``data_var``: the variable holding this data table (assignment
    target / addRows receiver).  The draw whose FIRST ARGUMENT is that
    variable is this chart's draw wherever it appears — position is
    only the tiebreak/fallback (r7 second-pass finding: pure
    nearest-following-draw bound a table to another chart's draw when
    script order interleaved).  With a draw chosen by variable, the
    chart TYPE prefers the constructor assigned to that draw's
    receiver; otherwise the nearest following chart constructor."""

    def _ctor_from(pos):
        for ctor in _GVIZ_CTOR_RE.finditer(v, pos):
            # the first CHART constructor wins — pages routinely build
            # a NumberFormat/DataView/DataTable before the chart itself
            mapped = _GVIZ_TYPES.get(ctor.group(1).lower())
            if mapped is not None:
                return mapped
        return None

    title = ""
    y_title = ""
    # receiver optional: `charts[0].draw(...)` must still count as a
    # draw even though no simple identifier precedes the dot.  The
    # FULL dotted path is captured (this.a.draw -> 'this.a') so the
    # constructor search can match the exact receiver — last-segment
    # matching bound a chart to another object's same-named property
    # (fifth-pass review finding)
    draws = list(re.finditer(
        r"(?:(?<![\w$.])((?:[\w$]+\s*\.\s*)*[\w$]+)\s*)?"
        r"\.\s*draw\s*\(\s*(\w+)?", v))
    chosen = None
    if data_var:
        mine = [m for m in draws if m.group(2) == data_var]
        after = [m for m in mine if m.start() >= from_pos]
        if after or mine:
            chosen = (after or mine)[:1]
    if chosen is None:
        following = [m for m in draws if m.start() >= from_pos]
        # ONLY the nearest following draw can belong to this chart:
        # scanning further draws until a title appears let chart A
        # inherit chart B's title/vAxis (r7 review finding).  The
        # whole-script walk remains only as the no-following fallback.
        chosen = following[:1] or draws

    chart_type = None
    if chosen and data_var and chosen[0].group(1):
        recv = chosen[0].group(1)
        # the LAST constructor assigned to the receiver BEFORE its draw
        # wins — a reassigned variable (chart = new PieChart; …;
        # chart = new ColumnChart) must not keep its first type
        # (third-pass review finding)
        # the receiver is the FULL dotted path (this.a.draw -> recv
        # 'this.a'): the assignment search matches that exact path —
        # last-segment matching let `other.chart = new PieChart`
        # rebind `this.chart` (fifth-pass review finding); the LAST
        # assignment before the draw wins (reassigned receivers).
        # `window.` is the same binding as the bare global (sixth-pass
        # finding: `window.c2 = new …; c2.draw(…)`), so it is optional
        # on both sides of the comparison.
        segs = [seg.strip() for seg in recv.split(".")]
        if segs[0] == "window" and len(segs) > 1:
            segs = segs[1:]
        recv_re = r"\s*\.\s*".join(re.escape(seg) for seg in segs)
        rm = None
        for cand in re.finditer(
                r"(?<![\w$.])(?:window\s*\.\s*)?" + recv_re +
                r"\s*=\s*new\s+google\s*\.\s*(?:visualization|charts)"
                r"\s*\.\s*(\w+)", v):
            if cand.start() >= chosen[0].start():
                break
            rm = cand
        if rm:
            chart_type = _GVIZ_TYPES.get(rm.group(1).lower())
    if chart_type is None:
        chart_type = _ctor_from(from_pos)
    if chart_type is None and from_pos:
        chart_type = _ctor_from(0)
    if chart_type is None:
        chart_type = "Unknown"
    for m in chosen:
        # the options are argument 1 of the draw's own '(' (the match
        # itself may end past the first argument)
        opts = _nth_value(s, v, _call_args(v, v.index("(", m.start()) + 1),
                          1, m.start())
        if isinstance(opts, dict):
            if isinstance(opts.get("title"), str):
                title = opts["title"]
            vaxis = opts.get("vAxis")
            if isinstance(vaxis, dict) and isinstance(
                    vaxis.get("title"), str):
                y_title = vaxis["title"]
        if title:
            break
    return chart_type, title, y_title


def _from_config(cfg: dict) -> Optional[dict]:
    """A constructor config of the ``_MARKER_RE`` family: each library's
    normalizer in turn, the first chart wins."""
    return (_from_chartjs(cfg) or _from_echarts(cfg) or _from_amcharts(cfg)
            or _from_c3(cfg) or _from_fusioncharts(cfg)
            or _from_amcharts4(cfg) or _from_frappe(cfg))


# Every chart dialect, once, in output order: (literals, finder,
# normalizer, context).  Every match of the finder's marker contains one
# of its literals, so a script holding none of them gives the dialect
# no chart and the finder is not run: a chart-less script costs one
# C-speed substring search per literal.  The finder reads the script and
# its code view and returns the normalizer's argument tuples; where there
# is a ``context`` step (the two Google Charts data shapes) a tuple is
# ``(rows, no_header, offset, variable)`` and the step reads the chart
# type and draw options.
_DIALECTS = (
    # "Chart" anchors new Chart, ApexCharts, AmCharts.makeChart,
    # FusionCharts and frappe.Chart
    (("Chart", "setOption", "Highcharts", "highcharts", "generate",
      "createFromConfig"), find_config_objects, _from_config, None),
    (("Plotly",), _find_plotly_calls, _from_plotly, None),
    (("Dygraph",), _find_dygraph_calls, _from_dygraph, None),
    (("Chartist",), _find_chartist_calls, _from_chartist, None),
    # vegaEmbed calls, or a whole-script spec whose $schema is vega-lite
    (("vegaEmbed", "vega-lite"), _find_vegalite_specs, _from_vegalite,
     None),
    (("arrayToDataTable",), _find_gviz_tables, _from_gviz, _gviz_context),
    (("addColumn",), _find_gviz_datatables, _from_gviz, _gviz_context),
)


def charts_from_script(script_text: str) -> list:
    """One <script>'s text -> normalized chart dicts (possibly several —
    a page can construct many charts in one script block), dialect by
    dialect in ``_DIALECTS`` order."""
    s = script_text or ""
    v = None  # the code view, built once the first gate hits
    out = []
    for literals, find, normalize, context in _DIALECTS:
        if not any(lit in s for lit in literals):
            continue
        if v is None:
            v = _code_view(s)
        for found in find(s, v):
            if context is None:
                chart = normalize(*found)
            else:
                rows, no_header, pos, var = found
                chart_type, title, y_title = context(s, v, pos, var)
                chart = normalize(rows, chart_type, title, no_header)
                if chart is not None and y_title:
                    chart["y_axis_title"] = y_title
            if chart is not None:
                out.append(chart)
    return out
