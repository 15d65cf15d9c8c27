"""Test-only oracles for the chart-call differential tests in
``test_chart_calls.py``.

``charts_ungated`` is ``charts_from_script`` as it was before the
dialect table: every dialect's finder runs on every script, whether or
not the script holds one of the dialect's literals.

The rest are the chart-call finders as they were before ``_call_args``.

Seven hand-copied argument walkers (``find_config_objects`` with
``_resolve_ident_config``, and the Chartist, Dygraph, Plotly,
Vega-Lite, ``arrayToDataTable`` and ``draw(...)`` walkers), copied
verbatim from ``kernels/chartconfig.py``, with the lexer helpers they
used (``_scan_string``, ``_slash``, ``_extract_balanced``,
``_skip_function_value``, ``parse_js_value``, ``_scan_concat_strings``)
and the ``addColumn``/``addRows`` parse frozen here too, so their
meaning cannot drift with the module's code view.  Constants, string
decoding and every ``_from_*`` normalizer are imported from the module.

Two rules differ from the copies, as they do in the module: Frappe's
config is its last argument, and comments around the
``arrayToDataTable`` no-header flag read as whitespace.
"""

from __future__ import annotations

import re

from exstruct_spark.kernels import chartconfig as cc
from exstruct_spark.kernels.chartconfig import (
    _CHARTIST_RE,
    _DYGRAPH_RE,
    _GVIZ_ADDCOL_RE,
    _GVIZ_ADDROWS_RE,
    _GVIZ_CTOR_RE,
    _GVIZ_DATA_RE,
    _GVIZ_NEWDT_RE,
    _GVIZ_TYPES,
    _IDENT_RE,
    _MARKER_RE,
    _MAX_GVIZ_COLS,
    _NUM_START,
    _PLOTLY_RE,
    _VEGA_RE,
    _decode_js_string,
    _from_amcharts,
    _from_amcharts4,
    _from_c3,
    _from_chartist,
    _from_chartjs,
    _from_dygraph,
    _from_echarts,
    _from_frappe,
    _from_fusioncharts,
    _from_gviz,
    _from_plotly,
    _from_vegalite,
)

# --- the lexer helpers and the value parser, frozen as they were before
#     the code view: each scan lexes strings, comments and regex literals
#     locally, from where it starts
_WS_AND_COMMENTS_RE = re.compile(r"(?:\s+|//[^\n]*|/\*.*?\*/)+", re.S)
_NUM_RE = re.compile(r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?")


def _skip_ws(s: str, i: int) -> int:
    m = _WS_AND_COMMENTS_RE.match(s, i)
    return m.end() if m else i


def _scan_string(s: str, i: int) -> int:
    """i at the opening quote -> index just past the closing quote."""
    q = s[i]
    i += 1
    n = len(s)
    while i < n:
        ch = s[i]
        if ch == "\\":
            i += 2
            continue
        if ch == q:
            return i + 1
        i += 1
    return n


def _scan_regex(s: str, i: int) -> int:
    """i at the '/' opening a regex literal -> index past its flags, or
    at the newline that ends an unterminated one."""
    i += 1
    n = len(s)
    in_class = False
    while i < n:
        ch = s[i]
        if ch == "\\":
            i += 2
            continue
        if ch == "[":
            in_class = True
        elif ch == "]":
            in_class = False
        elif ch == "/" and not in_class:
            i += 1
            while i < n and s[i].isalpha():
                i += 1
            return i
        elif ch == "\n":
            return i
        i += 1
    return n


_REGEX_PREV = set("([{,=:;!&|?+-*/%<>~^")


def _slash(s: str, i: int, prev) -> int:
    """'/' at i given the previous significant char: comment, regex
    literal, or division.  Always advances."""
    j = _skip_ws(s, i)
    if j > i:
        return j
    if prev is None or prev in _REGEX_PREV:
        j = _scan_regex(s, i)
        return j if j > i else i + 1
    return i + 1


def _extract_balanced(s: str, i: int):
    """i at '{' -> the balanced object-literal text, or None."""
    if i >= len(s) or s[i] != "{":
        return None
    depth = 0
    start = i
    n = len(s)
    prev = None
    while i < n:
        ch = s[i]
        if ch in "\"'`":
            i = _scan_string(s, i)
            prev = '"'
            continue
        if ch == "/":
            i = _slash(s, i, prev)
            prev = "/"
            continue
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                return s[start : i + 1]
        if not ch.isspace():
            prev = ch
        i += 1
    return None


def _skip_function_value(s: str, i: int, prev=None) -> int:
    """Consume a callback value up to the next top-level ',' or closing
    '}' / ']'; ``prev`` seeds the division-or-regex context."""
    depth = 0
    n = len(s)
    while i < n:
        ch = s[i]
        if ch in "\"'`":
            i = _scan_string(s, i)
            prev = '"'
            continue
        if ch == "/":
            i = _slash(s, i, prev)
            prev = "/"
            continue
        if ch in "({[":
            depth += 1
        elif ch in ")}]":
            if depth == 0:
                return i
            depth -= 1
        elif ch == "," and depth == 0:
            return i
        if not ch.isspace():
            prev = ch
        i += 1
    return n


def parse_js_value(s: str, i: int = 0):
    """Recursive-descent parse of one JS value -> (value, next_i)."""
    i = _skip_ws(s, i)
    if i >= len(s):
        return None, i
    ch = s[i]
    if ch == "{":
        return _parse_object(s, i)
    if ch == "[":
        return _parse_array(s, i)
    if ch in "\"'`":
        j = _scan_string(s, i)
        return _decode_js_string(s[i + 1 : j - 1]), j
    if ch in _NUM_START:
        m = _NUM_RE.match(s, i)
        if m:
            txt = m.group(0)
            val = float(txt) if any(c in txt for c in ".eE") else int(txt)
            return val, m.end()
        return None, max(_skip_function_value(s, i), i + 1)
    m = _IDENT_RE.match(s, i)
    if m:
        word = m.group(0)
        j = _skip_ws(s, m.end())
        if word == "function" or word == "new" or (j < len(s) and s[j] == "("):
            return None, max(_skip_function_value(s, i), i + 1)
        if j + 1 < len(s) and s[j : j + 2] == "=>":
            return None, max(_skip_function_value(s, i), i + 1)
        return {
            "true": True, "false": False, "null": None, "undefined": None,
        }.get(word, word), m.end()
    return None, max(_skip_function_value(s, i, prev="0"), i + 1)


def _parse_object(s: str, i: int):
    obj: dict = {}
    i += 1
    n = len(s)
    while i < n:
        i = _skip_ws(s, i)
        if i < n and s[i] == "}":
            return obj, i + 1
        if i < n and s[i] in "\"'`":
            j = _scan_string(s, i)
            key = s[i + 1 : j - 1]
            i = j
        else:
            m = _IDENT_RE.match(s, i)
            if not m:
                i0 = i
                i = _skip_function_value(s, i)
                i = _skip_ws(s, i)
                if i < n and s[i] == ",":
                    i += 1
                if i <= i0:
                    i = i0 + 1
                continue
            key, i = m.group(0), m.end()
        i = _skip_ws(s, i)
        if i < n and s[i] == ":":
            val, i = parse_js_value(s, i + 1)
            obj[key] = val
        else:
            obj[key] = None
        i = _skip_ws(s, i)
        if i < n and s[i] == ",":
            i += 1
    return obj, i


def _parse_array(s: str, i: int):
    arr: list = []
    i += 1
    n = len(s)
    while i < n:
        i = _skip_ws(s, i)
        if i < n and s[i] == "]":
            return arr, i + 1
        i0 = i
        val, i = parse_js_value(s, i)
        arr.append(val)
        i = _skip_ws(s, i)
        if i < n and s[i] == ",":
            i += 1
        if i <= i0:
            i = i0 + 1
    return arr, i


def _scan_concat_strings(s: str, i: int):
    """``i`` at a quote: read ``'lit' (+ 'lit')*`` -> (joined, next_i)."""
    parts: list = []
    n = len(s)
    while i < n and s[i] in "\"'`":
        j = _scan_string(s, i)
        parts.append(_decode_js_string(s[i + 1 : j - 1]))
        i = j
        k = _skip_ws(s, i)
        if k < n and s[k] == "+":
            k2 = _skip_ws(s, k + 1)
            if k2 < n and s[k2] in "\"'`":
                i = k2
                continue
        break
    return "".join(parts), i


def _find_gviz_datatables(script_text: str) -> list:
    """Imperative-API DataTables -> ``(rows_with_header, False, offset,
    receiver)``: columns accumulate per receiver, from its last
    ``new DataTable()`` up to the ``addRows`` call."""
    s = script_text or ""
    cols: list = []
    for m in _GVIZ_ADDCOL_RE.finditer(s):
        val, j = parse_js_value(s, m.end())
        cell = None
        if isinstance(val, dict):
            cell = val.get("label") or val.get("type")
        elif isinstance(val, str):
            cell = val
            k = j
            while k < len(s) and s[k].isspace():
                k += 1
            if k < len(s) and s[k] == ",":
                k += 1
                while k < len(s) and s[k].isspace():
                    k += 1
                label, _ = parse_js_value(s, k)
                if isinstance(label, str) and label:
                    cell = label
        if cell is not None:
            cols.append((m.start(), m.group(1), str(cell)))
    if not cols:
        return []
    resets = [(m.start(), m.group(1))
              for m in _GVIZ_NEWDT_RE.finditer(s)]
    out = []
    for m in _GVIZ_ADDROWS_RE.finditer(s):
        recv = m.group(1)
        floor = max((p for p, r in resets
                     if r == recv and p < m.start()), default=-1)
        header = [c for p, r, c in cols
                  if r == recv and floor < p < m.start()][:_MAX_GVIZ_COLS]
        if len(header) < 2:
            continue
        rows, _j = parse_js_value(s, m.end())
        if isinstance(rows, list) and rows:
            out.append(([header] + rows, False, m.start(), recv))
    return out


def find_config_objects(script_text: str) -> list:
    """All balanced ``{...}`` config arguments following a chart
    constructor marker.  ``new Chart(ctx, {...})`` takes the LAST
    top-level object argument; ``chart.setOption(option, opts?)`` takes
    the FIRST (the config is ECharts' first parameter; the optional
    second argument is notMerge/lazyUpdate settings)."""
    out = []
    for m in _MARKER_RE.finditer(script_text or ""):
        marker = m.group(0)
        want_first = ("setOption" in marker or "highcharts" in marker
                      or "generate" in marker or "FusionCharts" in marker
                      or "createFromConfig" in marker)
        i = m.end()
        n = len(script_text)
        depth = 0
        found = None
        prev = None
        while i < n:
            ch = script_text[i]
            if ch in "\"'`":
                i = _scan_string(script_text, i)
                prev = '"'
                continue
            if ch == "/":
                i = _slash(script_text, i, prev)
                prev = "/"
                continue
            # a callback ARGUMENT (Highcharts.chart('c', cfg, function(){…})
            # or an arrow) is not a config object: consume the whole
            # function expression, body braces and all (review r3 #2)
            if (
                ch == "f"
                and script_text.startswith("function", i)
                and not (prev and (prev.isalnum() or prev in "_$"))
                and _IDENT_RE.match(script_text, i).group(0) == "function"
            ):
                i = max(_skip_function_value(script_text, i), i + 1)
                prev = ")"
                continue
            if ch == "=" and script_text[i + 1 : i + 2] == ">":
                i = max(_skip_function_value(script_text, i), i + 2)
                prev = ")"
                continue
            if ch == "{":
                obj = _extract_balanced(script_text, i)
                if obj is None:
                    break
                found = obj
                if want_first:
                    break
                i += len(obj)
                prev = "}"
                continue
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            if not ch.isspace():
                prev = ch
            i += 1
        if found is None:
            # variable indirection — `const cfg = {...}; new Chart(ctx,
            # cfg)` is the other common real-page shape: resolve the
            # call's LAST identifier argument to its object-literal
            # assignment in the same script (nearest one above the call)
            found = _resolve_ident_config(
                script_text, m.end(), i, want_first, m.start())
        if found is not None:
            out.append(found)
    return out


# reserved words that can appear as arguments but never name a config
_NON_CONFIG_IDENTS = frozenset({
    "document", "window", "this", "true", "false", "null", "undefined",
    "new", "function", "getElementById", "querySelector", "ctx",
    "canvas", "getContext",
})


def _resolve_ident_config(s: str, args_start: int, args_end: int,
                          want_first: bool, call_pos: int):
    """Config passed by NAME: pick the first (``setOption``) or last
    identifier argument of the call span, then return the balanced
    object of the nearest ``ident = {...}`` assignment ABOVE the call
    (falling back to the first one anywhere — `var` hoisting).  None
    when the identifier or its object assignment cannot be found."""
    args = s[args_start:args_end]
    idents = [t for t in _IDENT_RE.findall(args)
              if t not in _NON_CONFIG_IDENTS]
    if not idents:
        return None
    name = idents[0] if want_first else idents[-1]
    assign_re = re.compile(
        r"\b" + re.escape(name) + r"\s*=\s*\{")
    best = None
    for am in assign_re.finditer(s):
        if am.start() < call_pos:
            best = am          # nearest assignment above the call
        elif best is None:
            best = am          # hoisted declaration below: first wins
            break
    if best is None:
        return None
    return _extract_balanced(s, best.end() - 1)


def _find_chartist_calls(script_text: str) -> list:
    """``new Chartist.Bar('#sel', data, opts?)`` -> (kind, data_cfg).
    The chart TYPE lives in the constructor name, not the config, so
    the generic marker scan can't carry it — dedicated finder."""
    out = []
    s = script_text or ""
    n = len(s)
    for m in _CHARTIST_RE.finditer(s):
        kind = m.group(1)
        i = m.end()
        depth = 0
        prev = None
        while i < n:
            ch = s[i]
            if ch in "\"'`":
                i = _scan_string(s, i)
                prev = '"'
                continue
            if ch == "/":
                i = _slash(s, i, prev)
                prev = "/"
                continue
            if depth == 0 and ch == "{":
                cfg, _ = parse_js_value(s, i)
                if isinstance(cfg, dict):
                    out.append((kind, cfg))
                break
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            prev = ch if not ch.isspace() else prev
            i += 1
    return out


def _find_dygraph_calls(script_text: str) -> list:
    """Every ``new Dygraph(el, data, opts?)`` call -> (data, opts)
    where data is either the joined CSV string or the parsed
    array-of-arrays.  Same skipping discipline as the other finders."""
    out = []
    s = script_text or ""
    n = len(s)
    for m in _DYGRAPH_RE.finditer(s):
        i = m.end()
        depth = 0
        prev = None
        data = None
        opts = None
        while i < n:
            ch = s[i]
            if ch in "\"'`":
                if depth == 0 and data is None:
                    data, i = _scan_concat_strings(s, i)
                    prev = '"'
                    continue
                i = _scan_string(s, i)
                prev = '"'
                continue
            if ch == "/":
                i = _slash(s, i, prev)
                prev = "/"
                continue
            if (
                ch == "f"
                and s.startswith("function", i)
                and not (prev and (prev.isalnum() or prev in "_$"))
                and _IDENT_RE.match(s, i).group(0) == "function"
            ):
                i = max(_skip_function_value(s, i), i + 1)
                prev = ")"
                continue
            if ch == "=" and s[i + 1 : i + 2] == ">":
                i = max(_skip_function_value(s, i), i + 2)
                prev = ")"
                continue
            if depth == 0 and ch == "[" and data is None:
                data, j = parse_js_value(s, i)
                i = max(j, i + 1)
                prev = "]"
                continue
            if depth == 0 and ch == "{" and data is not None:
                opts, j = parse_js_value(s, i)
                i = max(j, i + 1)
                prev = "}"
                break
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            prev = ch if not ch.isspace() else prev
            i += 1
        if data is not None:
            out.append((data, opts if isinstance(opts, dict) else {}))
    return out


def _find_plotly_calls(script_text: str) -> list:
    """Every ``Plotly.newPlot/react/plot`` call -> (traces, layout)
    parsed values — the traces are the first top-level ``[...]``
    argument, the layout the next top-level ``{...}`` (if any) before
    the call's closing paren.  Same string/comment/function skipping
    discipline as ``find_config_objects``."""
    out = []
    s = script_text or ""
    n = len(s)
    for m in _PLOTLY_RE.finditer(s):
        i = m.end()
        depth = 0
        prev = None
        traces = None
        layout = None
        while i < n:
            ch = s[i]
            if ch in "\"'`":
                i = _scan_string(s, i)
                prev = '"'
                continue
            if ch == "/":
                i = _slash(s, i, prev)
                prev = "/"
                continue
            if (
                ch == "f"
                and s.startswith("function", i)
                and not (prev and (prev.isalnum() or prev in "_$"))
                and _IDENT_RE.match(s, i).group(0) == "function"
            ):
                i = max(_skip_function_value(s, i), i + 1)
                prev = ")"
                continue
            if ch == "=" and s[i + 1 : i + 2] == ">":
                i = max(_skip_function_value(s, i), i + 2)
                prev = ")"
                continue
            if depth == 0 and ch == "[" and traces is None:
                traces, j = parse_js_value(s, i)
                i = max(j, i + 1)
                prev = "]"
                continue
            if depth == 0 and ch == "{" and traces is not None:
                layout, j = parse_js_value(s, i)
                i = max(j, i + 1)
                prev = "}"
                break
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            prev = ch if not ch.isspace() else prev
            i += 1
        if isinstance(traces, list) and traces:
            out.append((traces, layout if isinstance(layout, dict) else {}))
    return out


def _find_vegalite_specs(script_text: str) -> list:
    """Every ``vegaEmbed(selector, spec)`` call's first top-level
    ``{...}`` argument, plus a whole-script JSON spec (the
    ``<script type="application/json">`` embedding) identified by its
    vega-lite ``$schema``.  Same string/comment/function skipping
    discipline as the Plotly finder."""
    out = []
    s = script_text or ""
    n = len(s)
    for m in _VEGA_RE.finditer(s):
        i = m.end()
        depth = 0
        prev = None
        while i < n:
            ch = s[i]
            if ch in "\"'`":
                i = _scan_string(s, i)
                prev = '"'
                continue
            if ch == "/":
                i = _slash(s, i, prev)
                prev = "/"
                continue
            if (
                ch == "f"
                and s.startswith("function", i)
                and not (prev and (prev.isalnum() or prev in "_$"))
                and _IDENT_RE.match(s, i).group(0) == "function"
            ):
                i = max(_skip_function_value(s, i), i + 1)
                prev = ")"
                continue
            if ch == "=" and s[i + 1 : i + 2] == ">":
                i = max(_skip_function_value(s, i), i + 2)
                prev = ")"
                continue
            if depth == 0 and ch == "{":
                spec, j = parse_js_value(s, i)
                if isinstance(spec, dict):
                    out.append(spec)
                i = max(j, i + 1)
                prev = "}"
                break
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            prev = ch if not ch.isspace() else prev
            i += 1
    stripped = s.lstrip()
    if stripped.startswith("{") and "vega-lite" in stripped:
        spec, _ = parse_js_value(stripped, 0)
        if isinstance(spec, dict) and "vega-lite" in str(
            spec.get("$schema") or ""
        ):
            out.append(spec)
    return out


def _find_gviz_tables(script_text: str) -> list:
    """Every arrayToDataTable call's first top-level ``[...]``
    argument -> (rows, no_header, offset) — ``no_header`` True when the
    documented second argument ``true`` (first row is data) follows.
    Same skipping discipline as the other finders, INCLUDING prev-char
    tracking for the division-vs-regex '/' rule."""
    out = []
    s = script_text or ""
    n = len(s)
    for m in _GVIZ_DATA_RE.finditer(s):
        i = m.end()
        prev = None
        while i < n:
            ch = s[i]
            if ch in "\"'`":
                i = _scan_string(s, i)
                prev = '"'
                continue
            if ch == "/":
                i = _slash(s, i, prev)
                prev = "/"
                continue
            if ch == "[":
                rows, j = parse_js_value(s, i)
                if isinstance(rows, list):
                    # comments around the flag read as whitespace
                    tail = _WS_AND_COMMENTS_RE.sub(" ", s[j : j + 40])
                    no_header = bool(
                        re.match(r"\s*,\s*true\b", tail))
                    # the call offset keys the per-chart context
                    # association (ADVICE r6: a script building several
                    # charts must not label them all from the first);
                    # the assigned VARIABLE (when the call is a plain
                    # assignment) lets _gviz_context bind this table to
                    # the draw(<var>) call that actually consumes it
                    # (?<![\w.$]): a PROPERTY assignment (cfg.data = …)
                    # must not capture the property name as a variable
                    # — it would bind this table to an unrelated
                    # draw(data) call (third-pass review finding)
                    am = re.search(
                        r"(?<![\w.$])(\w+)\s*=\s*google\s*\."
                        r"\s*visualization\s*\.\s*$",
                        s[max(0, m.start() - 120) : m.start()])
                    out.append((rows, no_header, m.start(),
                                am.group(1) if am else None))
                break
            if ch == ")":
                break
            prev = ch if not ch.isspace() else prev
            i += 1
    return out


def _gviz_context(script_text: str, from_pos: int = 0,
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
    s = script_text or ""

    def _ctor_from(pos):
        for ctor in _GVIZ_CTOR_RE.finditer(s, pos):
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
        r"\.\s*draw\s*\(\s*(\w+)?", s))
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
                r"\s*\.\s*(\w+)", s):
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
        i = m.end()
        n = len(s)
        depth = 0
        prev = None
        while i < n:
            ch = s[i]
            if ch in "\"'`":
                i = _scan_string(s, i)
                prev = '"'
                continue
            if ch == "/":
                i = _slash(s, i, prev)
                prev = "/"
                continue
            if depth == 0 and ch == "{":
                opts, _j = parse_js_value(s, i)
                if isinstance(opts, dict):
                    if isinstance(opts.get("title"), str):
                        title = opts["title"]
                    vaxis = opts.get("vAxis")
                    if isinstance(vaxis, dict) and isinstance(
                            vaxis.get("title"), str):
                        y_title = vaxis["title"]
                break
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            prev = ch if not ch.isspace() else prev
            i += 1
        if title:
            break
    return chart_type, title, y_title


def charts_from_script(script_text: str) -> list:
    """One <script>'s text -> normalized chart dicts (possibly several —
    a page can construct many charts in one script block)."""
    out = []
    for obj_text in find_config_objects(script_text):
        cfg, _ = parse_js_value(obj_text)
        if not isinstance(cfg, dict):
            continue
        chart = (_from_chartjs(cfg) or _from_echarts(cfg)
                 or _from_amcharts(cfg) or _from_c3(cfg)
                 or _from_fusioncharts(cfg) or _from_amcharts4(cfg)
                 or _from_frappe(cfg))
        if chart is not None:
            out.append(chart)
    for traces, layout in _find_plotly_calls(script_text):
        chart = _from_plotly(traces, layout)
        if chart is not None:
            out.append(chart)
    for data, opts in _find_dygraph_calls(script_text):
        chart = _from_dygraph(data, opts)
        if chart is not None:
            out.append(chart)
    for kind, cfg in _find_chartist_calls(script_text):
        chart = _from_chartist(kind, cfg)
        if chart is not None:
            out.append(chart)
    for spec in _find_vegalite_specs(script_text):
        chart = _from_vegalite(spec)
        if chart is not None:
            out.append(chart)
    for rows, no_header, pos, var in _find_gviz_tables(script_text):
        chart_type, title, y_title = _gviz_context(script_text, pos, var)
        chart = _from_gviz(rows, chart_type, title, no_header)
        if chart is not None:
            if y_title:
                chart["y_axis_title"] = y_title
            out.append(chart)
    for rows, _, pos, recv in _find_gviz_datatables(script_text):
        chart_type, title, y_title = _gviz_context(script_text, pos, recv)
        chart = _from_gviz(rows, chart_type, title, no_header=False)
        if chart is not None:
            if y_title:
                chart["y_axis_title"] = y_title
            out.append(chart)
    return out


def charts_ungated(script_text: str) -> list:
    """``charts_from_script`` with no literal gate: the seven dialect
    loops over the module's own finders and normalizers."""
    s = script_text
    v = cc._code_view(s)
    out = []
    for (cfg,) in cc.find_config_objects(s, v):
        chart = (_from_chartjs(cfg) or _from_echarts(cfg)
                 or _from_amcharts(cfg) or _from_c3(cfg)
                 or _from_fusioncharts(cfg) or _from_amcharts4(cfg)
                 or _from_frappe(cfg))
        if chart is not None:
            out.append(chart)
    for traces, layout in cc._find_plotly_calls(s, v):
        chart = _from_plotly(traces, layout)
        if chart is not None:
            out.append(chart)
    for data, opts in cc._find_dygraph_calls(s, v):
        chart = _from_dygraph(data, opts)
        if chart is not None:
            out.append(chart)
    for kind, cfg in cc._find_chartist_calls(s, v):
        chart = _from_chartist(kind, cfg)
        if chart is not None:
            out.append(chart)
    for (spec,) in cc._find_vegalite_specs(s, v):
        chart = _from_vegalite(spec)
        if chart is not None:
            out.append(chart)
    for rows, no_header, pos, var in cc._find_gviz_tables(s, v):
        chart_type, title, y_title = cc._gviz_context(s, v, pos, var)
        chart = _from_gviz(rows, chart_type, title, no_header)
        if chart is not None:
            if y_title:
                chart["y_axis_title"] = y_title
            out.append(chart)
    for rows, _, pos, recv in cc._find_gviz_datatables(s, v):
        chart_type, title, y_title = cc._gviz_context(s, v, pos, recv)
        chart = _from_gviz(rows, chart_type, title, no_header=False)
        if chart is not None:
            if y_title:
                chart["y_axis_title"] = y_title
            out.append(chart)
    return out
