"""Property-based robustness tests (hypothesis): the kernels are total
functions — arbitrary input never raises, output is deterministic, and the
canonical JSON is always parseable.  (The reference relies on example
tests only, SURVEY.md §5 'Not used: property-based testing' — we add it.)"""

import json
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from exstruct_spark.config import ExtractOptions
from exstruct_spark.kernels.coerce import coerce_scalar
from exstruct_spark.kernels.dom import decode_html_bytes, parse_html, strip_tags_text
from exstruct_spark.kernels.extract import extract_document
from exstruct_spark.kernels.serialize import canonical_json, strip_empty


@given(st.text(max_size=60))
@settings(max_examples=300, deadline=None)
def test_coerce_total_and_typed(s):
    v = coerce_scalar(s)
    assert isinstance(v, (int, float, str))
    assert coerce_scalar(s) == v  # deterministic
    # coerced numerics survive JSON round-trip with type intact
    assert type(json.loads(json.dumps(v))) is type(v)


@given(st.binary(max_size=4096))
@settings(max_examples=200, deadline=None)
def test_extract_document_total(raw):
    rec = extract_document("u://prop", raw)
    assert rec["status"] in ("ok", "fallback")
    parsed = json.loads(rec["extraction_json"])
    assert parsed["doc"] == "u://prop"
    # deterministic
    assert extract_document("u://prop", raw) == rec


@given(st.text(max_size=2048))
@settings(max_examples=200, deadline=None)
def test_dom_total(s):
    root = parse_html(s)
    root.text_content()
    strip_tags_text(s)
    decode_html_bytes(s.encode("utf-8", errors="ignore"))


_JSONish = st.recursive(
    st.none() | st.booleans() | st.integers(-2**31, 2**31) | st.text(max_size=12),
    lambda inner: st.lists(inner, max_size=4)
    | st.dictionaries(st.text(max_size=6), inner, max_size=4),
    max_leaves=20,
)


@given(_JSONish)
@settings(max_examples=300, deadline=None)
def test_strip_empty_idempotent_and_serializable(v):
    once = strip_empty(v)
    assert strip_empty(once) == once  # idempotent
    s = canonical_json(v)
    json.loads(s)  # always valid JSON
    assert canonical_json(json.loads(s)) == s  # canonical fixpoint


def test_alpha_keys_option():
    html = (
        "<table><tr><th>h1</th><th>h2</th></tr>"
        "<tr><td>1</td><td>2</td></tr></table>"
    ).encode()
    rec = extract_document("u", html, ExtractOptions(alpha_keys=True))
    t = json.loads(rec["extraction_json"])["tables"][0]
    assert t["rows"][0]["c"] == {"A": "h1", "B": "h2"}
    assert t["rows"][1]["c"] == {"A": 1, "B": 2}


@given(st.text(max_size=40))
@settings(max_examples=300, deadline=None)
def test_normalize_color_total(s):
    from exstruct_spark.kernels.colors import normalize_color

    v = normalize_color(s)
    assert v is None or (len(v) == 6 and v == v.upper()
                         and all(c in "0123456789ABCDEF" for c in v))
    assert normalize_color(s) == v  # deterministic


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_css_rules_and_pseudo_matching_total(css_text):
    """parse_css_rules is total over arbitrary text, and every rule it
    emits can be matched against a small DOM without raising —
    including the round-7 pseudo-class surface (An+B arithmetic,
    sibling indexing) and the merged-attrs path."""
    from exstruct_spark.kernels.css import StyleResolver, parse_css_rules
    from exstruct_spark.kernels.dom import parse_html

    rules = parse_css_rules(css_text)
    assert isinstance(rules, list)
    root = parse_html(
        "<style>" + css_text.replace("<", " ") + "</style>"
        "<table><caption>c</caption><tr><td class='a b'>1</td>"
        "<td id='x'>2</td></tr><tr><td>3</td></tr></table>"
        "<ul><li>i</li><li class='a'>j</li></ul>")
    res = StyleResolver(root.find_all("style"))
    for n in root.iter():
        attrs = res.effective_attrs(n)
        assert isinstance(attrs, dict)


_SEL_TAG = st.sampled_from(["", "td", "tr", "th", "div", "li", "em", "*"])
_SEL_SEG = st.sampled_from([
    ".a", ".b", "#x", "[align]", "[align=right]", "[title='a, b']",
    "[data-x^='u']", "[class~=a]", "[lang|=en i]", ":first-child",
    ":nth-child(2n+1)", ":last-of-type", ":not(.a)", ":not([align])",
    ":is(td, th.b)", ":where(li)", ":hover", "::before", ":not(:hover)",
])
_SEL_COMB = st.sampled_from([" ", " > ", " + ", " ~ ", ">", "+", "~"])
_SEL_COMPOUND = st.builds(
    lambda t, segs: t + "".join(segs),
    _SEL_TAG, st.lists(_SEL_SEG, max_size=3))
_SEL = st.builds(
    lambda first, rest: first + "".join(c + p for c, p in rest),
    _SEL_COMPOUND,
    st.lists(st.tuples(_SEL_COMB, _SEL_COMPOUND), max_size=4))


@given(st.lists(st.tuples(_SEL, st.sampled_from(
    ["background: red", "border-top: 1px solid", "display: none",
     "background-color: #ABC !important"])), min_size=1, max_size=6))
@settings(max_examples=300, deadline=None)
def test_css_structured_selector_fuzz(rules_src):
    """Structured selector fuzz (round-7 continuation surface): random
    compositions of tags, classes, ids, attribute selectors, structural
    pseudos, :not/:is/:where and all four combinators — every parsed
    rule must match (or not) against a real DOM without raising, the
    merged style stays a string, and unsupported pieces skip whole."""
    from exstruct_spark.kernels.css import StyleResolver, parse_css_rules
    from exstruct_spark.kernels.dom import parse_html

    css_text = "\n".join(f"{sel} {{ {decl} }}" for sel, decl in rules_src)
    rules = parse_css_rules(css_text)
    assert isinstance(rules, list)
    root = parse_html(
        "<table><caption>c</caption>"
        "<thead><tr><th class='b'>h</th><th>g</th></tr></thead>"
        "<tr><td class='a b' align='right' title='a, b'>1</td>"
        "<td id='x' lang='en-GB'>2</td></tr><tr><td data-x='up'>3</td>"
        "</tr></table>"
        "<ul><li>i</li><li class='a'>j</li></ul><div><em>e</em></div>")
    res = StyleResolver([], extra_rules=rules)
    for n in root.iter():
        attrs = res.effective_attrs(n)
        assert isinstance(attrs, dict)
        st_val = attrs.get("style")
        assert st_val is None or isinstance(st_val, str)


_DECL_NAME = st.sampled_from([
    "border", "border-left-style", "border-top-width", "background",
    "background-color", "display", "visibility", "color", "margin",
    "font-size", "border-radius", "background-image", "backdrop-filter",
    "outline", "z-index", "Display-none",
])
_DECL_VALUE = st.sampled_from([
    "red", "none", "1px solid #000", "hidden", "", " ", "url(a;b)",
    "#FFF !important", "0 ! IMPORTANT", "block/* c */",
])


@st.composite
def _decl_name(draw):
    """A property name with each letter in either case, and now and
    then the Kelvin sign (U+212A, which lowers to ``k``) for ``k``."""
    return "".join(
        "K" if ch == "k" and draw(st.booleans())
        else ch.upper() if draw(st.booleans()) else ch
        for ch in draw(_DECL_NAME))


_DECL = st.builds(
    lambda name, value, comment: f"{name}:{comment}{value}",
    _decl_name(), _DECL_VALUE,
    st.sampled_from(["", " ", "/* display: none */", "/*x*/ "]))
_RULE = st.builds(
    lambda sel, decls: f"{sel} {{ {';'.join(decls)} }}",
    st.sampled_from(["td", ".a", "#x", "p, li.b", "div > em"]),
    st.lists(_DECL, max_size=4))
_SHEET_PART = st.one_of(
    _RULE,
    st.builds(lambda at, rules: f"{at} {{ {' '.join(rules)} }}",
              st.sampled_from(["@media screen", "@MEDIA print",
                               "@supports (display: grid)",
                               "@media (min-width: 1px)", "@font-face"]),
              st.lists(_RULE, max_size=3)),
    st.sampled_from(["/* .a { display: none } */", "@import 'x.css';"]),
)


@given(st.lists(_SHEET_PART, max_size=6))
@settings(max_examples=300, deadline=None)
def test_css_declaration_prefilter_keeps_every_rule(parts):
    """``_parse_decls`` skips a block that names no kept property;
    ``parse_css_rules`` gives the same rules as when every block is
    split (``_split_decls``)."""
    from exstruct_spark.kernels import css

    sheet = "\n".join(parts)
    filtered = css.parse_css_rules(sheet)
    prefilter = css._parse_decls
    css._parse_decls = css._split_decls
    try:
        unfiltered = css.parse_css_rules(sheet)
    finally:
        css._parse_decls = prefilter
    assert filtered == unfiltered


@given(st.text(max_size=40))
@settings(max_examples=300, deadline=None)
def test_parse_css_length_total(s):
    from exstruct_spark.kernels.units import parse_css_length

    v = parse_css_length(s, default=None)
    assert v is None or isinstance(v, float)


@given(st.text(max_size=120))
@settings(max_examples=300, deadline=None)
def test_normalize_url_total_and_idempotent(s):
    from exstruct_spark.kernels.extract import normalize_url

    v = normalize_url(s)
    assert isinstance(v, str)
    assert normalize_url(v) == v  # canonical form is a fixpoint


@given(
    st.sets(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=40
    )
)
@settings(max_examples=200, deadline=None)
def test_nonempty_clusters_partition_cells(keys):
    """Every cell lands in exactly one cluster box; boxes are tight."""
    from exstruct_spark.kernels.clusters import nonempty_clusters

    cells = {k: 1 for k in keys}
    boxes = nonempty_clusters(cells)
    covered = 0
    for r, c in cells:
        inside = [
            b for b in boxes if b[0] <= r <= b[2] and b[1] <= c <= b[3]
        ]
        assert len(inside) >= 1  # boxes of distinct components may overlap
        covered += 1
    assert covered == len(cells)
    # each box is tight: its corners bound at least one member cell
    for r1, c1, r2, c2 in boxes:
        rs = [r for (r, c) in cells if r1 <= r <= r2 and c1 <= c <= c2]
        cs = [c for (r, c) in cells if r1 <= r <= r2 and c1 <= c <= c2]
        assert min(rs) == r1 and max(rs) == r2
        assert min(cs) == c1 and max(cs) == c2


@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8),
                  st.integers(0, 8), st.integers(0, 8)).map(
            lambda t: (min(t[0], t[2]), min(t[1], t[3]),
                       max(t[0], t[2]), max(t[1], t[3]))
        ),
        min_size=1, max_size=12,
    )
)
@settings(max_examples=200, deadline=None)
def test_merge_rectangles_covers_inputs(rects):
    """Merging never loses area: every input rect is contained in some
    output rect; merging is idempotent."""
    from exstruct_spark.kernels.clusters import merge_rectangles

    merged = merge_rectangles(rects)
    for r in rects:
        assert any(
            m[0] <= r[0] and m[1] <= r[1] and m[2] >= r[2] and m[3] >= r[3]
            for m in merged
        )
    # idempotent as a set (the reference's first-match union loop does
    # not guarantee output ORDER stays sorted after in-place growth)
    assert set(merge_rectangles(merged)) == set(merged)


@given(
    st.dictionaries(
        st.integers(0, 9).map(str),
        st.one_of(st.integers(), st.text(max_size=5)),
        min_size=0, max_size=8,
    ),
    st.integers(1, 10),
    st.tuples(st.integers(0, 6), st.integers(0, 6),
              st.integers(0, 6), st.integers(0, 6)).map(
        lambda t: (min(t[0], t[2]), min(t[1], t[3]),
                   max(t[0], t[2]), max(t[1], t[3]))
    ),
)
@settings(max_examples=300, deadline=None)
def test_filter_row_to_area_total(cmap, r, area):
    """Slicing is total, never returns an empty-celled row, and the
    normalized slice re-based again is a no-op (fixpoint)."""
    from exstruct_spark.kernels.areas import filter_row_to_area

    row = {"r": r, "c": cmap}
    out = filter_row_to_area(row, area, normalize=False)
    if out is not None:
        assert out["c"] or out.get("links")
        assert out["r"] == r
        # all kept columns lie inside the band
        assert all(area[1] <= int(k) <= area[3] for k in out["c"])
    out_n = filter_row_to_area(row, area, normalize=True)
    if out_n is not None:
        # re-based keys start at 0 within the area's width
        assert all(0 <= int(k) <= area[3] - area[1] for k in out_n["c"])


@given(
    st.text(
        alphabet="{}[]()'\"`\\/,:;=> \nfunctionewChar.setOp01xé",
        max_size=120,
    )
)
@settings(max_examples=300, deadline=2000)
def test_charts_from_script_is_total(s):
    """The chart-config tokenizer is TOTAL on arbitrary script text: it
    terminates and returns a list, bare and inside constructor wrappers —
    the property two review-confirmed executor hangs violated."""
    from exstruct_spark.kernels.chartconfig import charts_from_script

    assert isinstance(charts_from_script(s), list)
    assert isinstance(charts_from_script("new Chart(ctx, " + s + ")"), list)
    assert isinstance(charts_from_script("x.setOption(" + s + ");"), list)
    assert isinstance(charts_from_script("vegaEmbed('#v', " + s + ")"), list)
    assert isinstance(
        charts_from_script("arrayToDataTable(" + s + ")"), list)
    # the draw(...) options are only read for a chart that has a table
    for wrap in ("Plotly.newPlot('d', ", "new Dygraph(el, ",
                 "new Chartist.Bar('#c', ", "d.addColumn(",
                 "arrayToDataTable([['k', 'n'], ['x', 1]]); c.draw(d, "):
        assert isinstance(charts_from_script(wrap + s + ")"), list)


@given(
    st.integers(min_value=2, max_value=8),
    st.binary(min_size=1, max_size=3000),
)
@settings(max_examples=150, deadline=15000)
def test_gif_lzw_roundtrip_property(mcs, raw):
    """GIF LZW is a lossless pair on ANY symbol stream (symbols clamped
    to the code space): encode -> decode is the identity.  Random bytes
    exercise width growth; hypothesis shrinking hunts the KwKwK and
    table-overflow boundaries."""
    from exstruct_spark.kernels.gif import _lzw_decode, _lzw_encode

    data = bytes(b % (1 << mcs) for b in raw)
    assert bytes(_lzw_decode(_lzw_encode(data, mcs), mcs, len(data))) == data


@given(st.binary(max_size=600))
@settings(max_examples=200, deadline=15000)
def test_gif_decode_never_hangs_on_garbage(raw):
    """decode_gif on arbitrary bytes either raises ValueError or returns
    frames — never loops, never raises anything else (fallback-not-fail
    at the media boundary depends on this)."""
    from exstruct_spark.kernels.gif import decode_gif

    try:
        frames, delays = decode_gif(b"GIF89a" + raw)
        assert frames and len(frames) == len(delays)
    except ValueError:
        pass


@given(st.binary(max_size=400))
@settings(max_examples=150, deadline=15000)
def test_jpeg_decode_never_hangs_on_garbage(raw):
    """decode_jpeg on arbitrary bytes after a valid SOI either raises
    ValueError or returns an image — never loops, never raises anything
    else (the media stage's fallback-not-fail depends on this)."""
    from exstruct_spark.kernels.jpeg import decode_jpeg

    try:
        img = decode_jpeg(b"\xff\xd8" + raw)
        assert img.ndim == 3 and img.shape[2] == 3
    except ValueError:
        pass


@settings(max_examples=120, deadline=None)
@given(
    html=st.text(
        alphabet='<>trd/ab"\'=x \n&;',
        max_size=160,
    ),
    ops=st.lists(
        st.one_of(
            st.fixed_dictionaries({
                "op": st.one_of(
                    st.sampled_from(
                        ["set_value", "set_link", "set_fill_color",
                         "add_row", "delete_row", "bogus"]),
                    st.integers(),                 # non-string op name
                    st.dictionaries(st.text(max_size=2),
                                    st.integers(), max_size=1),
                ),
                "table": st.integers(-1, 3),
                "row": st.integers(-1, 4),
                "col": st.integers(-1, 3),
                "value": st.text(max_size=5),
                "href": st.text(max_size=5),
                "color": st.text(max_size=6),
                "values": st.lists(st.text(max_size=3), max_size=3),
                "junk_key": st.integers(),         # extra kwarg
            }),
            st.integers(),                         # non-dict op entry
            st.none(),
            st.text(max_size=4),
            # wave-2 ops with their OWN kwarg shapes (so the applied
            # paths run, not just the unexpected-kwarg TypeError net)
            st.fixed_dictionaries({
                "op": st.just("merge_cells"), "table": st.integers(-1, 3),
                "r1": st.integers(-1, 4), "c1": st.integers(-1, 4),
                "r2": st.integers(-1, 4), "c2": st.integers(-1, 4)}),
            st.fixed_dictionaries({
                "op": st.just("unmerge_cells"), "table": st.integers(-1, 3),
                "row": st.integers(-1, 4), "col": st.integers(-1, 4)}),
            st.fixed_dictionaries({
                "op": st.just("draw_grid_border"),
                "table": st.integers(-1, 3),
                "r1": st.integers(-1, 4), "c1": st.integers(-1, 4),
                "r2": st.integers(-1, 4), "c2": st.integers(-1, 4),
                "style": st.text(max_size=8)}),
            st.fixed_dictionaries({
                "op": st.just("set_bold"), "table": st.integers(-1, 3),
                "row": st.integers(-1, 4), "col": st.integers(-1, 3),
                "bold": st.booleans()}),
            st.fixed_dictionaries({
                "op": st.just("set_font_size"),
                "table": st.integers(-1, 3), "row": st.integers(-1, 4),
                "col": st.integers(-1, 3),
                "size": st.one_of(st.integers(-5, 600),
                                  st.text(max_size=3))}),
            st.fixed_dictionaries({
                "op": st.just("set_font_color"),
                "table": st.integers(-1, 3), "row": st.integers(-1, 4),
                "col": st.integers(-1, 3), "color": st.text(max_size=6)}),
            st.fixed_dictionaries({
                "op": st.just("set_alignment"),
                "table": st.integers(-1, 3), "row": st.integers(-1, 4),
                "col": st.integers(-1, 3),
                "horizontal": st.one_of(st.none(), st.text(max_size=7)),
                "vertical": st.one_of(st.none(), st.text(max_size=7))}),
            st.fixed_dictionaries({
                "op": st.just("set_value_if"),
                "table": st.integers(-1, 3), "row": st.integers(-1, 4),
                "col": st.integers(-1, 3),
                "expected": st.text(max_size=3),
                "value": st.text(max_size=3)}),
            st.fixed_dictionaries({
                "op": st.just("set_range_values"),
                "table": st.integers(-1, 3), "row": st.integers(-1, 4),
                "col": st.integers(-1, 3),
                "values": st.one_of(
                    st.lists(st.lists(st.text(max_size=2), max_size=2),
                             max_size=2),
                    st.lists(st.text(max_size=2), max_size=2))}),
            st.fixed_dictionaries({
                "op": st.just("set_style"), "table": st.integers(-1, 3),
                "r1": st.integers(-1, 4), "c1": st.integers(-1, 4),
                "r2": st.integers(-1, 4), "c2": st.integers(-1, 4),
                "bold": st.one_of(st.none(), st.booleans()),
                "font_size": st.one_of(st.none(), st.integers(-5, 600)),
                "fill_color": st.one_of(st.none(), st.text(max_size=6)),
                "horizontal": st.one_of(st.none(), st.text(max_size=7))}),
            st.fixed_dictionaries({
                "op": st.just("set_dimensions"),
                "table": st.integers(-1, 3),
                "rows": st.one_of(st.none(),
                                  st.lists(st.integers(-2, 6),
                                           max_size=3)),
                "row_height": st.one_of(st.none(),
                                        st.integers(-5, 50)),
                "columns": st.one_of(st.none(),
                                     st.lists(st.integers(-2, 6),
                                              max_size=3)),
                "column_width": st.one_of(st.none(),
                                          st.integers(-5, 50))}),
            st.fixed_dictionaries({
                "op": st.just("apply_table_style"),
                "table": st.integers(-1, 3),
                "style": st.text(max_size=8)}),
            st.fixed_dictionaries({
                "op": st.just("create_chart"),
                "table": st.integers(-1, 3),
                "chart_type": st.text(max_size=6),
                "r1": st.integers(-1, 4), "c1": st.integers(-1, 4),
                "r2": st.integers(-1, 4), "c2": st.integers(-1, 4),
                "series_from_rows": st.booleans()}),
            st.fixed_dictionaries({
                "op": st.just("restore_design_snapshot"),
                "design_snapshot": st.one_of(
                    st.none(), st.integers(),
                    st.dictionaries(st.text(max_size=6),
                                    st.text(max_size=4), max_size=3),
                    st.fixed_dictionaries({
                        "table": st.integers(-1, 3),
                        "table_tag": st.text(max_size=10),
                        "rows": st.lists(st.text(max_size=8),
                                         max_size=3),
                        "cells": st.lists(
                            st.lists(st.text(max_size=6), max_size=3),
                            max_size=3)}))}),
        ),
        max_size=4,
    ),
)
def test_cell_edit_ops_total(html, ops):
    """apply_ops is TOTAL over arbitrary tag soup and RAW arbitrary op
    lists — non-dict entries, non-string/unhashable op names, extra
    keys the op functions do not accept: never raises, one status per
    op, statuses drawn from the reference's PatchStatus alphabet."""
    from exstruct_spark.kernels.edits import apply_ops

    out, statuses = apply_ops(html, ops)
    assert isinstance(out, str)
    assert len(statuses) == len(ops)
    assert set(statuses) <= {"applied", "skipped"}


# -- the batch kernel is total: every route, one row, Arrow-ready strings --
_SURROGATE = "\\ud800"  # a JSON escape of a lone surrogate
_LABELS = ["utf-7", "unicode_escape", "raw_unicode_escape", "punycode",
           "idna", "undefined"]


@st.composite
def _route_input(draw) -> bytes:
    """One document of any route, some with a lone-surrogate escape in
    their JSON or a meta charset that is no page encoding."""
    word = draw(st.text(alphabet="abcé漢 ", max_size=6))
    name = word + draw(st.sampled_from(["", _SURROGATE,
                                        _SURROGATE + "\\udc00x"]))
    kind = draw(st.sampled_from(
        ["html", "ldjson", "label", "pdf", "rss", "atom", "json_feed",
         "robots", "utf16", "garbage"]))
    if kind == "html":
        return ("<p>" + word + " enough words for a content block.</p>"
                ).encode()
    if kind == "ldjson":
        return ("<script type='application/ld+json'>{\"@type\": \"Thing\","
                " \"name\": \"" + name + "\"}</script><p>" + word
                + " enough words for a content block.</p>").encode()
    if kind == "label":
        return (b"<meta charset=" + draw(st.sampled_from(_LABELS)).encode()
                + b"><p>+AGEA- \\ud800 caf" + draw(st.binary(max_size=4))
                + b"\xe9 enough words for a content block.</p>")
    if kind == "pdf":
        return (b"%PDF-1.4\n1 0 obj << /Length 20 >> stream\nBT ("
                + word.encode("latin-1", "replace") + b") Tj ET\nendstream"
                b" endobj\ntrailer << >>\n%%EOF")
    if kind == "rss":
        return ("<?xml version='1.0'?><rss><channel><title>" + word
                + "</title><item><title>i</title></item></channel></rss>"
                ).encode()
    if kind == "atom":
        return ("<feed xmlns='http://www.w3.org/2005/Atom'><title>" + word
                + "</title><entry><title>e</title></entry></feed>").encode()
    if kind == "json_feed":
        return ("{\"version\": \"https://jsonfeed.org/version/1.1\","
                " \"title\": \"" + name + "\", \"items\": [{\"id\": \"1\","
                " \"content_text\": \"" + name + "\"}]}").encode()
    if kind == "robots":
        return ("User-agent: *\nDisallow: /" + word + "\n").encode()
    if kind == "utf16":
        return b"\xff\xfe" + ("<p>" + word + " utf-16 page</p>").encode(
            "utf-16-le")
    return draw(st.binary(max_size=64))


_LONE = re.compile("[\ud800-\udfff]")


@given(st.lists(_route_input(), min_size=1, max_size=6))
@settings(max_examples=150, deadline=None)
def test_batch_kernel_total_over_every_route(docs):
    """``golden.extract_pdf`` (the body of the Spark stage) gives one row
    per input for documents of every route, including lone-surrogate
    JSON escapes and meta charsets that are no page encoding; no string
    it returns holds a lone surrogate, so the Arrow hand-off takes it."""
    import pandas as pd
    import pyarrow as pa

    from exstruct_spark.golden import extract_pdf

    urls = [f"https://total.example/{i}" for i in range(len(docs))]
    out = extract_pdf(pd.DataFrame({"url": urls, "html": docs}))
    assert list(out["url"]) == urls
    for rec in out.to_dict("records"):
        for value in rec.values():
            assert not (isinstance(value, str) and _LONE.search(value)), rec
        json.loads(rec["extraction_json"])
    pa.Table.from_pandas(out)


def test_lone_surrogates_become_replacement_characters(parser):
    """A lone surrogate from a JSON escape reaches the record as U+FFFD,
    under both serializers; a clean record is unchanged."""
    ld = ("<script type='application/ld+json'>{\"@type\": \"Thing\","
          " \"name\": \"a\\ud800b\"}</script><p>Enough visible words for a"
          " content block here.</p>").encode()
    rec = extract_document("u://ld", ld)
    assert rec["status"] == "ok"
    assert "a\ufffdb" in rec["extraction_json"]
    feed = (b'{"version": "https://jsonfeed.org/version/1.1",'
            b' "title": "t\\ud800", "items": []}')
    rec = extract_document("u://feed", feed)
    assert "t\ufffd" in rec["main_text"]
    assert "t\ufffd" in rec["extraction_json"]
    clean = extract_document("u://ld", ld.replace(b"\\ud800", b"-"))
    assert "a-b" in clean["extraction_json"]


def test_meta_charsets_that_are_no_page_encoding_take_latin1():
    """A meta charset naming a Python codec that raises or decodes to
    lone surrogates is read like an unknown label: latin-1."""
    for label in _LABELS:
        raw = (b"<meta charset=" + label.encode()
               + b"><p>+AGEA- \\ud800 caf\xe9</p>")
        assert decode_html_bytes(raw) == raw.decode("latin-1"), label
    assert decode_html_bytes(b"<meta charset=bogus><p>caf\xe9</p>") \
        == "<meta charset=bogus><p>café</p>"
