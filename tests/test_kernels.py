"""Unit tests on pure extraction kernels (no Spark) — mirrors the
reference's dominant test pattern (SURVEY.md §5: pure-kernel unit tests)."""

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from exstruct_spark.config import DetectionConfig, ExtractOptions
from exstruct_spark.kernels.a1 import (
    alpha_to_col_index,
    col_index_to_alpha,
    make_range,
    parse_range_zero_based,
)
from exstruct_spark.kernels.coerce import coerce_scalar
from exstruct_spark.kernels.dom import parse_html, decode_html_bytes, strip_tags_text
from exstruct_spark.kernels.serialize import canonical_json, strip_empty
from exstruct_spark.kernels.shapes import angle_to_compass, extract_nested_lists, extract_svg_shapes
from exstruct_spark.kernels.tables import detect_grid_candidates, extract_table
from exstruct_spark.kernels.charts import extract_charts
from exstruct_spark.kernels.boilerplate import extract_main_text
from exstruct_spark.kernels.extract import extract_document, rendered_walk


def _walk(html: str):
    """The rendered walk of ``html``: the node lists extraction hands
    each family."""
    return rendered_walk(parse_html(html))


# --- coercion (parity: reference cells.py:1946-1969 behaviour;
#     tests/core/test_cells_and_tables.py:38-53 asserts "123"->int, "1.50"->1.5)
@pytest.mark.parametrize(
    "raw,expected",
    [
        ("123", 123),
        ("-7", -7),
        ("1.50", 1.5),
        ("0.25", 0.25),
        ("1,234", 1234),
        ("1,234.50", 1234.5),
        ("2025-01-01 00:00:00", "2025-01-01 00:00:00"),
        ("12abc", "12abc"),
        ("", ""),
        ("1e5", "1e5"),  # scientific notation NOT coerced
    ],
)
def test_coerce_scalar(raw, expected):
    got = coerce_scalar(raw)
    assert got == expected
    assert type(got) is type(expected)


def test_coerce_int_stays_int_in_json():
    assert json.dumps({"a": coerce_scalar("123"), "b": coerce_scalar("1.50")}) == '{"a": 123, "b": 1.5}'


# --- A1 helpers (parity: models/__init__.py:569-600, core/ranges.py:25-48)
def test_a1_roundtrip():
    for idx, alpha in [(0, "A"), (25, "Z"), (26, "AA"), (27, "AB"), (701, "ZZ"), (702, "AAA")]:
        assert col_index_to_alpha(idx) == alpha
        assert alpha_to_col_index(alpha) == idx
    assert make_range(0, 0, 4, 3) == "A1:D5"
    assert parse_range_zero_based("B3:E9") == (2, 1, 8, 4)
    assert parse_range_zero_based("Sheet1!$B$3:$E$9") == (2, 1, 8, 4)


# --- canonical serializer (parity: io/__init__.py:92-128, io/serialize.py:70-73)
def test_strip_empty_recursive():
    v = {"a": "", "b": None, "c": [], "d": {}, "e": 0, "f": 0.0, "g": False,
         "h": [1, "", None, {"x": ""}], "i": {"j": "", "k": "keep"}}
    assert strip_empty(v) == {"e": 0, "f": 0.0, "g": False, "h": [1], "i": {"k": "keep"}}


def test_canonical_json_compact_unicode():
    s = canonical_json({"t": "売上", "n": 1.5, "empty": ""})
    assert s == '{"t":"売上","n":1.5}'


# --- DOM
def test_dom_parse_and_text():
    root = parse_html("<html><body><p>Hello <b>world</b></p><script>x<y</script></body></html>")
    body = root.find_first("body")
    assert body.text_content() == "Hello world"
    ps = root.find_all("p")
    assert len(ps) == 1


def test_dom_tolerates_malformed():
    root = parse_html("<p>alpha<div><span>beta")
    assert "alpha" in root.text_content()
    assert "beta" in root.text_content()
    parse_html("")  # must not raise


def test_dom_implicit_li_close():
    root = parse_html("<ul><li>one<li>two<li>three</ul>")
    ul = root.find_first("ul")
    lis = [c for c in ul.element_children() if c.tag == "li"]
    assert [li.text_content() for li in lis] == ["one", "two", "three"]


def test_decode_html_bytes():
    assert decode_html_bytes("売上".encode("utf-8")) == "売上"
    assert decode_html_bytes(b"") == ""
    latin = "caf\xe9".encode("latin-1")
    assert "caf" in decode_html_bytes(latin)
    # BOMs: UTF-16 never survives the utf-8 try and its NUL-interleaved
    # bytes hide the meta charset from the sniff — BOM check comes first
    s = "<p>héllo wörld</p>"
    assert decode_html_bytes(b"\xff\xfe" + s.encode("utf-16-le")) == s
    assert decode_html_bytes(b"\xfe\xff" + s.encode("utf-16-be")) == s
    assert decode_html_bytes(b"\xef\xbb\xbf" + s.encode("utf-8")) == s
    # meta-declared legacy charset still sniffs
    sj = '<meta charset="shift_jis"><p>テスト</p>'
    assert decode_html_bytes(sj.encode("shift_jis")) == sj


def test_strip_tags_text():
    assert strip_tags_text("<p>a&amp;b</p><style>.x{}</style>") == "a&b"


# --- tables
CFG = DetectionConfig()


def test_extract_table_sparse_rows_and_types():
    root = parse_html(
        "<table><tr><th>name</th><th>qty</th></tr>"
        "<tr><td>alpha</td><td>123</td></tr>"
        "<tr><td></td><td>1.50</td></tr></table>"
    )
    t = extract_table(root.find_first("table"), 0, CFG)
    assert t["range"] == "A1:B3"
    rows = t["rows"]
    assert rows[0] == {"r": 1, "c": {"0": "name", "1": "qty"}}
    assert rows[1]["c"] == {"0": "alpha", "1": 123}
    # empty cell dropped (sparse), numeric "1.50" -> 1.5 float
    assert rows[2]["c"] == {"1": 1.5}
    assert t["_metrics"]["header"] is True
    assert t["score"] >= CFG.min_score


def test_extract_table_merged_cells():
    root = parse_html(
        "<table><tr><td rowspan='2'>R</td><td>a</td></tr>"
        "<tr><td>b</td></tr>"
        "<tr><td colspan='2'>wide</td></tr></table>"
    )
    t = extract_table(root.find_first("table"), 0, CFG)
    mc = t["merged_cells"]
    assert mc["schema"] == ["r1", "c1", "r2", "c2", "v"]
    # rows 1-based, cols 0-based (reference MergedCells convention)
    assert [1, 0, 2, 0, "R"] in mc["items"]
    assert [3, 0, 3, 1, "wide"] in mc["items"]
    # occupancy: row 2's 'b' lands in col 1 (col 0 occupied by rowspan)
    r2 = [r for r in t["rows"] if r["r"] == 2][0]
    assert r2["c"] == {"1": "b"}


def test_extract_table_links():
    root = parse_html(
        "<table><tr><td><a href='https://x.example/1'>one</a></td><td>2</td></tr></table>"
    )
    t = extract_table(root.find_first("table"), 0, CFG)
    assert t["rows"][0]["links"] == {"0": "https://x.example/1"}


def test_table_truncation_logged():
    cfg = CFG.with_params(max_rows=2, max_cols=2)
    html = "<table>" + "".join(
        f"<tr><td>{i}</td><td>{i}</td><td>{i}</td></tr>" for i in range(5)
    ) + "</table>"
    t = extract_table(parse_html(html).find_first("table"), 0, cfg)
    assert t["truncated"] is True
    assert max(r["r"] for r in t["rows"]) <= 2


def test_detect_grid_candidates():
    html = (
        "<div class='grid'>"
        + "".join(
            "<div>" + "".join(f"<div><span>v{r}{c}</span></div>" for c in range(3)) + "</div>"
            for r in range(3)
        )
        + "</div>"
    )
    got = detect_grid_candidates(_walk(html).containers, CFG)
    assert len(got) == 1
    assert got[0]["kind"] == "grid"
    assert len(got[0]["rows"]) == 3


# --- shapes
def test_compass_buckets():
    assert angle_to_compass(1, 0) == "E"
    assert angle_to_compass(0, 1) == "S"  # SVG y grows downward
    assert angle_to_compass(0, -1) == "N"
    assert angle_to_compass(-1, 0) == "W"
    assert angle_to_compass(1, 1) == "SE"


def test_svg_shapes_and_arrows():
    root = parse_html(
        "<svg><rect x='0' y='0' width='10' height='10'/>"
        "<text x='5' y='5'>A</text>"
        "<rect x='0' y='100' width='10' height='10'/>"
        "<text x='5' y='105'>B</text>"
        "<line x1='5' y1='10' x2='5' y2='100' marker-end='url(#m)'/></svg>"
    )
    shapes, arrows = extract_svg_shapes(root.find_first("svg"))
    assert [s["id"] for s in shapes] == [1, 2]
    assert shapes[0]["text"] == "A" and shapes[1]["text"] == "B"
    assert arrows == [
        {"begin_id": 1, "end_id": 2, "direction": "S",
         "resolution": "heuristic", "confidence": 0.6,
         "approximation_level": 1}
    ]


def test_nested_lists_tree():
    trees = extract_nested_lists(_walk(
        "<ul><li>root<ul><li>child1</li><li>child2<ul><li>leaf</li></ul></li></ul></li></ul>"
    ).groups["ul"])
    assert trees == [
        {
            "text": "root",
            "nodes": [
                {"text": "child1"},
                {"text": "child2", "nodes": [{"text": "leaf"}]},
            ],
        }
    ]


def test_flat_list_not_a_tree():
    assert extract_nested_lists(
        _walk("<ul><li>a</li><li>b</li></ul>").groups["ul"]) == []


def test_definition_list_tree():
    """<dl> maps structurally: each dt is a level-1 node, its following
    dds are its children (inherently depth 2); HTML5 div-wrapped groups
    unwrap; a dl with no dt+dd pair stays ordinary content; end-to-end
    the dl joins the lists family in document order."""
    import json as _json

    from exstruct_spark.golden import ExtractOptions, extract_document

    walk = _walk(
        "<dl><dt>CPU</dt><dd>8-core</dd><dd>3.2 GHz</dd>"
        "<div><dt>RAM</dt><dd>32 GB</dd></div></dl>")
    assert extract_nested_lists(walk.groups["dl"]) == [
        {"text": "CPU", "nodes": [{"text": "8-core"},
                                  {"text": "3.2 GHz"}]},
        {"text": "RAM", "nodes": [{"text": "32 GB"}]},
    ]
    # terms without definitions carry no structure
    bare = _walk("<dl><dt>a</dt><dt>b</dt></dl>")
    assert extract_nested_lists(bare.groups["dl"]) == []

    html = ("<body><dl><dt>K</dt><dd>V</dd></dl>"
            "<p>Content paragraph long enough for density gates.</p>"
            "</body>")
    rec = extract_document("u://dl", html.encode(), ExtractOptions())
    assert _json.loads(rec["extraction_json"])["lists"] == [
        {"text": "K", "nodes": [{"text": "V"}]}]


# --- charts
def test_chart_extraction():
    walk = _walk(
        "<figure><svg><polyline points='0,10 10,50 20,30'/></svg>"
        "<figcaption>Sales</figcaption></figure>"
    )
    charts = extract_charts(walk.groups["figure"], walk.groups["script"])
    assert len(charts) == 1
    c = charts[0]
    assert c["chart_type"] == "Line"
    assert c["title"] == "Sales"
    assert c["y_axis_range"] == [10.0, 50.0]
    assert c["series"][0]["n_points"] == 3


def test_chart_rect_lengths_read_their_leading_number():
    """A bar's ``width``/``height`` is read like ``points``: its leading
    number, or 0.  An unquoted ``height=5/`` keeps its ``/`` (``"5/"``)
    and a length may carry a unit; neither turns the page into a
    fallback record that loses its tables."""
    html = ("<figure><svg><rect x=1 y=1 width=5 height=5/>"
            "<rect width='4px' height='8px'/><rect width=auto height=x>"
            "</rect></svg></figure>"
            "<table><tr><th>k</th><th>v</th></tr><tr><td>a</td><td>1</td>"
            "</tr></table>").encode()
    rec = extract_document("https://c.example/bars", html)
    assert rec["status"] == "ok"
    x = json.loads(rec["extraction_json"])
    assert len(x["tables"]) == 1
    chart, = x["charts"]
    assert chart["chart_type"] == "Column"
    assert chart["y_axis_range"] == [0.0, 8.0]
    assert chart["series"][0]["n_points"] == 3


# --- boilerplate
def test_main_text_strips_boilerplate():
    html = (
        "<html><body><nav><a href='/a'>aaaa</a><a href='/b'>bbbb</a></nav>"
        "<main><h1>Title Words Here</h1>"
        "<p>This is the real article content with enough characters to keep.</p></main>"
        "<footer><a href='/c'>cccc</a></footer></body></html>"
    )
    text = extract_main_text(parse_html(html), ExtractOptions())
    assert "real article content" in text
    assert "aaaa" not in text and "cccc" not in text
    assert text.splitlines()[0] == "Title Words Here"  # heading rides along


def test_main_text_class_id_hints():
    """Readability-style class/id hints: negative TOKENS (sidebar,
    comments, ad, cookie...) drop a subtree even when its density
    stats pass; positive tokens (article/content/...) exempt; token
    equality, not substring — 'adventure' must not match 'ad'."""
    html = (
        "<html><body><main>"
        "<div class='sidebar'><p>Sidebar promo text long enough to "
        "pass every density threshold easily here.</p></div>"
        "<div id='comments-area'><p>Comment body long enough to pass "
        "every density threshold easily here.</p></div>"
        "<div class='article-comments'><p>Positive token keeps this "
        "paragraph in the extracted main text.</p></div>"
        "<p class='ad'>Advert paragraph long enough to pass the block "
        "length threshold easily here.</p>"
        "<p class='adventure'>Adventure paragraph stays: token split "
        "must not substring-match ad.</p>"
        "<div class='cookie-consent'><p>We use cookies banner text "
        "long enough to pass the thresholds.</p></div>"
        "<p>Real content paragraph long enough to pass the minimum "
        "block chars threshold.</p>"
        "</main></body></html>"
    )
    text = extract_main_text(parse_html(html), ExtractOptions())
    assert "Real content" in text
    assert "Adventure paragraph stays" in text
    assert "Positive token keeps" in text
    assert "Sidebar promo" not in text
    assert "Comment body" not in text
    assert "Advert paragraph" not in text
    assert "cookies banner" not in text


# --- fused extraction
def test_extract_document_ok_and_fallback():
    page = (
        "<html><head><title>T</title></head><body><main>"
        "<p>Body paragraph long enough to be counted as content here.</p>"
        "<table><tr><th>a</th><th>b</th></tr><tr><td>1</td><td>2</td></tr></table>"
        "</main></body></html>"
    )
    rec = extract_document("https://x/1", page.encode())
    assert rec["status"] == "ok"
    assert rec["n_tables"] == 1
    parsed = json.loads(rec["extraction_json"])
    assert parsed["doc"] == "https://x/1"
    assert parsed["tables"][0]["rows"][1]["c"] == {"0": 1, "1": 2}

    empty = extract_document("https://x/2", b"")
    assert empty["status"] == "fallback"
    assert json.loads(empty["extraction_json"])["fallback_reason"] == "empty_document"


def test_extract_document_deterministic():
    page = "<html><body><p>stable content for hashing goes here ok.</p></body></html>".encode()
    a = extract_document("u", page)
    b = extract_document("u", page)
    assert a == b


def test_sections_and_class_map():
    html = (
        "<html><body>"
        "<article><h2>Area One</h2><p class='lead body'>Long enough paragraph "
        "content sits here fine.</p>"
        "<table><tr><th>a</th><th>b</th></tr><tr><td>1</td><td>2</td></tr></table>"
        "</article>"
        "<section><h3>Area Two</h3><p class='lead'>Second region paragraph "
        "with plenty of characters.</p></section>"
        "</body></html>"
    ).encode()
    x = json.loads(extract_document("u", html)["extraction_json"])
    secs = x["sections"]
    assert [s["tag"] for s in secs] == ["article", "section"]
    assert secs[0]["title"] == "Area One"
    assert secs[0]["table_ids"] == [0]  # containment join table -> region
    assert "table_ids" not in secs[1]
    # value -> positions inverted index (A1 colors_map shape): positions
    # are document-order node indexes, 2 occurrences of 'lead', 1 of 'body'
    assert list(x["class_map"]) == ["lead", "body"]
    assert len(x["class_map"]["lead"]) == 2
    assert len(x["class_map"]["body"]) == 1
    # both classes of the first <p> share one position; the second 'lead'
    # occurs later in document order
    assert x["class_map"]["body"][0] == x["class_map"]["lead"][0]
    assert x["class_map"]["lead"][1] > x["class_map"]["lead"][0]


def test_deep_nesting_extracts_ok():
    bomb = ("<div>" * 30000 + "deep text that should extract").encode()
    rec = extract_document("u", bomb)
    assert rec["status"] == "ok"
    assert "deep text" in rec["main_text"]


def test_pdf_routing():
    pdf_bytes = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length 70 >> stream\n"
        b"BT /F1 12 Tf 72 712 Td (Hello PDF world) Tj "
        b"[(and ) (array text)] TJ ET\n"
        b"endstream endobj\n"
        b"5 0 obj << /Title (My Doc \\(v2\\)) >> endobj\n"
        b"trailer << /Info 5 0 R >>\n%%EOF"
    )
    rec = extract_document("u://doc.pdf", pdf_bytes)
    assert rec["status"] == "ok"
    assert "Hello PDF world" in rec["main_text"]
    assert "and array text" in rec["main_text"]
    x = json.loads(rec["extraction_json"])
    assert x["content_type"] == "pdf"
    assert x["title"] == "My Doc (v2)"
    assert x["n_pages"] == 1
    assert x["approximation_level"] == 1

    # opaque/non-Flate pdf -> metadata-only approximation, never fails
    rec2 = extract_document("u", b"%PDF-1.7\nbinary<<garbage>>stream\x00\x01\x02")
    assert rec2["status"] == "ok"
    assert json.loads(rec2["extraction_json"])["approximation_level"] == 2


def test_pdf_string_forms():
    """Round 7 depth: hex strings (<hex> Tj, odd digit zero-padded),
    the ' and " move-and-show operators, one level of balanced
    unescaped parens, mixed literal+hex TJ arrays, UTF-16BE BOM
    titles, and no spurious corrupt count from the 'endstream'
    suffix re-matching the stream keyword."""
    import zlib

    from exstruct_spark.kernels.pdf import extract_pdf_document

    content = (b"BT (Hello (nested) world) Tj "
               b"<48656C6C6F20686578> Tj "
               b"(line one) ' "
               b"1 2 (quoted show) \" "
               b"[(arr ) <2068657821>] TJ "
               b"<486> Tj ET")
    pdf = (b"%PDF-1.4\n1 0 obj\n"
           b"<< /Length 99 /Filter /FlateDecode >>\nstream\n"
           + zlib.compress(content) + b"\nendstream\nendobj\n"
           b"2 0 obj\n<< /Title <FEFF00480069> /Type /Page >>\nendobj\n"
           b"%%EOF")
    out = extract_pdf_document(pdf)
    # document-order scan with LINE assembly: consecutive Tj fragments
    # join into one line (real generators emit one Tj per fragment);
    # the ' and " operators move to the next line before showing
    assert out["text"].splitlines() == [
        "Hello (nested) worldHello hex", "line one",
        "quoted showarr  hex!H`"]  # <486> pads to 0x48 0x60
    assert out["title"] == "Hi"          # UTF-16BE BOM hex title
    assert out["n_pages"] == 1 and out["approximation_level"] == 1
    # endstream must not re-match as a stream keyword (corrupt stays 0)
    assert out["stream_stats"] == {
        "decoded": 1, "corrupt": 0, "truncated": 0}

    # UTF-16BE literal string via escapes decodes through the BOM path
    lit = (b"%PDF-1.4\nBT (\xfe\xff\x00H\x00i) Tj ET\n%%EOF")
    assert extract_pdf_document(lit)["text"] == "Hi"


def test_pdf_encrypted_degrades_to_structure():
    """A trailer /Encrypt reference means strings/streams are
    ciphertext — harvesting them yields noise, so the route degrades
    honestly to structure-only with encrypted:true."""
    from exstruct_spark.kernels.pdf import extract_pdf_document

    pdf = (b"%PDF-1.6\n1 0 obj << /Type /Page >> endobj\n"
           b"BT (\x8f\x02\xa9 garbage ciphertext) Tj ET\n"
           b"trailer << /Root 2 0 R /Encrypt 7 0 R >>\n%%EOF")
    out = extract_pdf_document(pdf)
    assert out == {"text": "", "title": "", "n_pages": 1,
                   "approximation_level": 2, "encrypted": True}


def test_pdf_line_assembly():
    """Reading-order line assembly (pdftotext-style heuristic):
    fragments split mid-word by kerning join with no separator; TJ
    kern adjustments beyond the word threshold (-180/1000 em) insert
    spaces; Td/TD with a vertical move, T* and Tm break lines; a pure
    horizontal Td inserts a space."""
    from exstruct_spark.kernels.pdf import extract_pdf_document

    content = (b"BT "
               b"[(Hel) -20 (lo) -250 (world)] TJ "  # kern: word gap
               b"0 -14 Td (next line) Tj "           # vertical move
               b"12 0 Td (same line) Tj "            # horizontal move
               b"T* (after star) Tj "
               b"1 0 0 1 72 500 Tm (after matrix) Tj "
               b"ET")
    out = extract_pdf_document(b"%PDF-1.4\n" + content + b"\n%%EOF")
    assert out["text"].splitlines() == [
        "Hello world",            # -20 intra-word, -250 word gap
        "next line same line",    # Td(0,-14) breaks, Td(12,0) spaces
        "after star",
        "after matrix",
    ]


def test_pdf_tounicode_cmaps():
    """/ToUnicode CMaps (spec 9.10.3): subset-font glyph codes decode
    to real text — the dominant real-PDF shape, where Tj bytes are
    gibberish under any fixed charset.  Covers: 1-byte codespace with
    bfchar + incrementing bfrange, a 2-byte Identity-H-style font with
    a surrogate-pair destination, the resource-name -> font-object ->
    CMap-stream join across a Flate-compressed content stream, font
    state resetting per stream, and graceful degrade on corrupt CMaps
    and unmapped names (fixed-charset fallback, never replacement
    noise)."""
    import zlib

    from exstruct_spark.kernels.pdf import extract_pdf_document

    cmap = (b"begincmap\n1 begincodespacerange\n<00> <FF>\n"
            b"endcodespacerange\n3 beginbfchar\n<01> <0048>\n"
            b"<02> <00E9>\n<03> <006C>\nendbfchar\n"
            b"1 beginbfrange\n<04> <05> <006C>\nendbfrange\nendcmap")
    content = b"BT /F1 12 Tf (\x01\x02\x03\x04) Tj T* <05> Tj ET"
    pdf = (b"%PDF-1.4\n"
           b"1 0 obj << /Type /Page /Resources << /Font "
           b"<< /F1 5 0 R >> >> /Contents 2 0 R >> endobj\n"
           b"2 0 obj << /Length 1 /Filter /FlateDecode >>\nstream\n"
           + zlib.compress(content) + b"\nendstream endobj\n"
           b"5 0 obj << /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>"
           b" endobj\n"
           b"6 0 obj << /Length 1 >>\nstream\n" + cmap
           + b"\nendstream endobj\n%%EOF")
    out = extract_pdf_document(pdf)
    # bfchar maps 01->H 02->é 03->l; bfrange <04><05> base l -> l, m
    assert out["text"] == "Héll\nm"
    assert out["font_stats"] == {"fonts_mapped": 1}

    # 2-byte codespace; bf destination may be a surrogate PAIR
    cmap2 = (b"begincmap 1 begincodespacerange <0000> <FFFF> "
             b"endcodespacerange 2 beginbfchar <0041> <0057> "
             b"<0042> <D83DDE00> endbfchar endcmap")
    pdf2 = (b"%PDF-1.4\n"
            b"1 0 obj << /Resources << /Font << /TT0 3 0 R >> >> >>"
            b" endobj\n"
            b"3 0 obj << /ToUnicode 4 0 R >> endobj\n"
            b"4 0 obj << /Length 1 >>\nstream\n" + cmap2
            + b"\nendstream endobj\n"
            b"BT /TT0 9 Tf <00410042> Tj ET\n%%EOF")
    assert extract_pdf_document(pdf2)["text"] == "W\U0001F600"

    # unmapped font name -> the pre-CMap fixed-charset path, unchanged
    assert extract_pdf_document(
        b"%PDF-1.4\nBT /F9 1 Tf (Hi) Tj ET\n%%EOF")["text"] == "Hi"

    # corrupt CMap (bad hex) -> skipped, no font_stats, text survives
    pdf4 = (b"%PDF-1.4\n1 0 obj << /Resources << /Font "
            b"<< /F1 2 0 R >> >> >> endobj\n"
            b"2 0 obj << /ToUnicode 9 0 R >> endobj\n"
            b"9 0 obj << >>\nstream\nbeginbfchar <zz> <qq> endbfchar\n"
            b"endstream endobj\nBT /F1 1 Tf (ok) Tj ET\n%%EOF")
    r4 = extract_pdf_document(pdf4)
    assert r4["text"] == "ok" and "font_stats" not in r4

    # partial CMap: unmapped 1-byte codes keep their latin-1 identity
    pdf5 = (b"%PDF-1.4\n1 0 obj << /Resources << /Font "
            b"<< /F1 2 0 R >> >> >> endobj\n"
            b"2 0 obj << /ToUnicode 9 0 R >> endobj\n"
            b"9 0 obj << >>\nstream\nbegincmap 1 beginbfchar "
            b"<58> <0059> endbfchar endcmap\nendstream endobj\n"
            b"BT /F1 1 Tf (aXb) Tj ET\n%%EOF")
    assert extract_pdf_document(pdf5)["text"] == "aYb"


def test_pdf_objstm_font_and_page_dicts():
    """PDF 1.5 object streams (/Type /ObjStm): font dicts, resource
    dicts and page dicts live INSIDE compressed containers on modern
    PDFs — they are re-materialized as numbered objects so the
    ToUnicode join and the /Type /Page count see them."""
    import zlib

    from exstruct_spark.kernels.pdf import extract_pdf_document

    inner = [
        (3, b"<< /Type /Font /ToUnicode 6 0 R >>"),
        (4, b"<< /Type /Page /Resources << /Font << /F1 3 0 R >> >>"
            b" /Contents 2 0 R >>"),
    ]
    offsets, bodies, pos = [], [], 0
    for num, body in inner:
        offsets.append((num, pos))
        bodies.append(body)
        pos += len(body)
    header = b" ".join(b"%d %d" % p for p in offsets) + b" "
    payload = header + b"".join(bodies)
    cmap = (b"begincmap 1 begincodespacerange <00> <FF> "
            b"endcodespacerange 1 beginbfchar <41> <05A0> "
            b"endbfchar endcmap")
    content = b"BT /F1 10 Tf (AAA) Tj ET"
    pdf = (b"%PDF-1.5\n"
           b"1 0 obj << /Type /ObjStm /N 2 /First "
           + str(len(header)).encode()
           + b" /Filter /FlateDecode >>\nstream\n"
           + zlib.compress(payload) + b"\nendstream endobj\n"
           b"2 0 obj << /Length 1 /Filter /FlateDecode >>\nstream\n"
           + zlib.compress(content) + b"\nendstream endobj\n"
           b"6 0 obj << /Length 1 >>\nstream\n" + cmap
           + b"\nendstream endobj\n%%EOF")
    out = extract_pdf_document(pdf)
    assert out["text"] == "֠֠֠"
    assert out["font_stats"] == {"fonts_mapped": 1}
    assert out["n_pages"] == 1

    # corrupt ObjStm offset table: fewer objects, never an exception
    bad = pdf.replace(b"/First " + str(len(header)).encode(),
                      b"/First 99999")
    r = extract_pdf_document(bad)
    assert r["n_pages"] == 0 and "AAA" in r["text"]  # fallback decode


def test_pdf_flatedecode_streams():
    """VERDICT r6 #3 done-criterion: FlateDecode content streams inflate
    and yield real text through the G6 route; corrupt streams skip and
    bombs truncate at the cap, both visible in stream_stats."""
    import zlib

    from exstruct_spark.kernels.pdf import (
        MAX_INFLATED_PER_STREAM, extract_pdf_document)

    def flate_pdf(*payloads, trailer=b""):
        body = b"%PDF-1.4\n"
        body += b"2 0 obj << /Type /Pages /Count 1 >> endobj\n"
        body += b"3 0 obj << /Type /Page /Contents 4 0 R >> endobj\n"
        for i, p in enumerate(payloads):
            body += (
                b"%d 0 obj << /Length %d /Filter /FlateDecode >> stream\n"
                % (4 + i, len(p))
            ) + p + b"\nendstream endobj\n"
        return body + trailer + b"\n%%EOF"

    # compressed text recovered end-to-end (the common real-PDF shape)
    comp = zlib.compress(
        b"BT /F1 12 Tf (Compressed stream text) Tj "
        b"[(plus ) (an array)] TJ ET")
    pdf_bytes = flate_pdf(comp, trailer=b"5 0 obj << /Title (T) >> endobj")
    rec = extract_document("u://c.pdf", pdf_bytes)
    assert rec["status"] == "ok"
    assert "Compressed stream text" in rec["main_text"]
    assert "plus an array" in rec["main_text"]
    x = json.loads(rec["extraction_json"])
    assert x["approximation_level"] == 1
    assert "stream_stats" not in x  # clean decode: no cap/corrupt noise

    # corrupt stream: skipped + counted, document still extracts
    good = zlib.compress(b"(still here) Tj")
    bad = b"\x78\x9c" + b"\xff" * 64  # valid header, garbage body
    d = extract_pdf_document(flate_pdf(good, bad))
    assert "still here" in d["text"]
    assert d["stream_stats"] == {
        "decoded": 1, "corrupt": 1, "truncated": 0}

    # decompression bomb: truncated at the per-stream cap, counted,
    # and the recoverable prefix text still harvests
    bomb = zlib.compress(
        b"(before the bomb) Tj " + b"\x00" * (MAX_INFLATED_PER_STREAM + 64))
    d2 = extract_pdf_document(flate_pdf(bomb))
    assert d2["stream_stats"]["truncated"] == 1
    assert "before the bomb" in d2["text"]
    # the cap surfaces in the extraction record (no-silent-caps)
    rec2 = extract_document("u://b.pdf", flate_pdf(bomb))
    assert json.loads(
        rec2["extraction_json"])["stream_stats"]["truncated"] == 1


def test_table_caption_name_and_absolutize_links():
    html = (
        "<table><caption>Sales Q1</caption>"
        "<tr><th>a</th></tr><tr><td>1</td></tr></table>"
        "<p><a href='/rel/path'>link text long enough</a></p>"
    ).encode()
    x = json.loads(extract_document("https://h.example/dir/page", html)["extraction_json"])
    assert x["tables"][0]["name"] == "Sales Q1"
    assert "/rel/path" in x["links_map"]  # verbatim by default

    opts = ExtractOptions(absolutize_links=True)
    x2 = json.loads(
        extract_document("https://h.example/dir/page", html, opts)["extraction_json"]
    )
    assert "https://h.example/rel/path" in x2["links_map"]


def test_absolutize_links_keeps_an_href_urljoin_rejects():
    """Under ``absolutize_links`` an href ``urljoin`` rejects (a
    malformed IPv6 host) stays verbatim, as ``normalize_url`` passes a
    malformed netloc through; the page keeps its tables and other
    links."""
    html = (b"<table><tr><th>k</th><th>v</th></tr><tr><td>a</td><td>1</td>"
            b"</tr></table><p><a href='http://[x/'>bad</a> "
            b"<a href='/ok'>ok</a></p>")
    for opts in (ExtractOptions(absolutize_links=True),
                 ExtractOptions(absolutize_links=True, normalize_links=True)):
        rec = extract_document("https://h.example/dir/page", html, opts)
        assert rec["status"] == "ok"
        x = json.loads(rec["extraction_json"])
        assert len(x["tables"]) == 1
        assert list(x["links_map"]) == ["http://[x/", "https://h.example/ok"]


# --- round 2: raw-text close-tag case-insensitivity (ADVICE r1)
def test_uppercase_script_close_tag():
    html = "<html><body><SCRIPT>var x = 1;</SCRIPT><p>Real content survives here.</p></body></html>"
    root = parse_html(html)
    assert "Real content survives" in root.text_content()
    assert "var x" not in root.text_content()


def test_scripty_tag_does_not_terminate_script():
    # '</scripty>' must NOT close the raw-text span (word boundary)
    html = "<script>a </scripty> b</script><p>after</p>"
    root = parse_html(html)
    assert root.text_content() == "after"
    script = root.find_first("script")
    assert "</scripty>" in "".join(c for c in script.children if isinstance(c, str))


# --- round 2: color normalization (F1) + colors_map (A1 parity)
def test_normalize_color():
    from exstruct_spark.kernels.colors import normalize_color

    assert normalize_color("#fff") == "FFFFFF"
    assert normalize_color("#FF8800") == "FF8800"
    assert normalize_color("#ff880080") == "FF8800"  # alpha dropped
    assert normalize_color("rgb(255, 0, 10)") == "FF000A"
    assert normalize_color("rgba(1,2,3,0.5)") == "010203"
    assert normalize_color("red") == "FF0000"
    assert normalize_color("Navy") == "000080"
    assert normalize_color("transparent") is None
    assert normalize_color("not-a-color") is None
    assert normalize_color("") is None


def test_table_colors_map():
    root = parse_html(
        "<table>"
        "<tr><th bgcolor='#ff0'>h1</th><th style='background-color: red'>h2</th></tr>"
        "<tr><td style='padding:2px;background:#FF0000'>1</td><td>2</td></tr>"
        "</table>"
    )
    t = extract_table(root.find_first("table"), 0, CFG)
    cm = t["colors_map"]
    # value -> positions, row 1-based / col 0-based (reference
    # core/cells.py:277-310 coordinate convention); row-major order
    assert cm == {"FFFF00": [[1, 0]], "FF0000": [[1, 1], [2, 0]]}


def test_merged_cell_values_coerced():
    root = parse_html(
        "<table><tr><td colspan='2'>1,234.50</td><td>x</td></tr>"
        "<tr><td>a</td><td>b</td><td>c</td></tr></table>"
    )
    t = extract_table(root.find_first("table"), 0, CFG)
    items = t["merged_cells"]["items"]
    # merged master value shares the typed value domain of rows.c
    assert items[0] == [1, 0, 1, 1, 1234.5]
    assert t["rows"][0]["c"]["0"] == 1234.5


def test_row_header_th_does_not_trigger_header_bonus():
    # <th> only in column 0 (row headers): the direct header signal must
    # not fire; row 0 = ["9","8"] is numeric -> not header-like either
    root = parse_html(
        "<table><tr><th>9</th><td>8</td></tr>"
        "<tr><th>7</th><td>6</td></tr></table>"
    )
    t = extract_table(root.find_first("table"), 0, CFG)
    assert t["_metrics"]["header"] is False

    # <th> across row 0 -> direct signal fires even for numeric headers
    root2 = parse_html(
        "<table><tr><th>9</th><th>8</th></tr>"
        "<tr><td>7</td><td>6</td></tr></table>"
    )
    t2 = extract_table(root2.find_first("table"), 0, CFG)
    assert t2["_metrics"]["header"] is True


def test_links_map_positions():
    html = (
        "<p><a href='/x'>first</a> then <a href='/y'>second</a> and "
        "<a href='/x'>again</a></p>"
    ).encode()
    x = json.loads(extract_document("u", html)["extraction_json"])
    lm = x["links_map"]
    assert list(lm) == ["/x", "/y"]  # first-seen order
    assert len(lm["/x"]) == 2 and len(lm["/y"]) == 1
    # document-order positions: /x occurs before and after /y
    assert lm["/x"][0] < lm["/y"][0] < lm["/x"][1]


def test_chart_series_bind_to_companion_grid():
    """J7 parity: series name/x/y ranges are REAL A1 refs into the linked
    <table> artifact, and materializing y_range from the table rows
    recovers values consistent with the grid."""
    html = (
        "<figure><svg>"
        "<text class='y-axis-title' x='1' y='1'>Revenue</text>"
        "<polyline points='0,10 10,20 20,30 30,40'/></svg>"
        "<figcaption>Quarterly</figcaption>"
        "<table><tr><th>quarter</th><th>revenue</th></tr>"
        "<tr><td>Q1</td><td>10</td></tr><tr><td>Q2</td><td>20</td></tr>"
        "<tr><td>Q3</td><td>30</td></tr><tr><td>Q4</td><td>40</td></tr>"
        "</table></figure>"
    ).encode()
    x = json.loads(extract_document("u", html)["extraction_json"])
    chart = x["charts"][0]
    table = x["tables"][0]
    assert chart["data_table_id"] == table["id"]
    assert chart["y_axis_title"] == "Revenue"
    s = chart["series"][0]
    assert s["name_range"] == "B1"
    assert s["x_range"] == "A2:A5"
    assert s["y_range"] == "B2:B5"
    # materialize y_range against the table rows: col B = key "1",
    # rows 2..5 (1-based r)
    vals = [r["c"]["1"] for r in table["rows"] if 2 <= r["r"] <= 5]
    assert vals == [10, 20, 30, 40]
    # header name cell matches name_range
    hdr = [r["c"]["1"] for r in table["rows"] if r["r"] == 1]
    assert hdr == ["revenue"]


def test_chart_without_table_keeps_synthetic_range():
    html = (
        "<figure><svg><polyline points='0,10 10,50 20,30'/></svg>"
        "<figcaption>Sales</figcaption></figure>"
    ).encode()
    x = json.loads(extract_document("u", html)["extraction_json"])
    s = x["charts"][0]["series"][0]
    assert s["y_range"] == "A1:C1"
    assert "name_range" not in s


def test_connector_equi_tiers():
    """J4 parity (_resolve_connector ladder, reference
    libreoffice_backend.py:526-579): id-wired connectors resolve at
    level 0 / confidence 1.0 ('direct'), one-sided wiring is 'partial',
    geometry-only stays 'heuristic'.  The id-wired arrow here points the
    OPPOSITE way from geometry to prove the equi tier wins."""
    root = parse_html(
        "<svg>"
        "<rect id='start' x='0' y='0' width='10' height='10'/>"
        "<text x='5' y='5'>Begin</text>"
        "<rect id='end' x='0' y='100' width='10' height='10'/>"
        "<text x='5' y='105'>Finish</text>"
        # geometry says 1 -> 2, but data refs say end -> start
        "<line x1='5' y1='10' x2='5' y2='100' marker-end='url(#m)'"
        " data-begin='#end' data-end='start'/>"
        # name-equi tier: label text as the ref, begin only -> partial
        "<line x1='5' y1='10' x2='5' y2='100' marker-end='url(#m)'"
        " data-begin='Finish'/>"
        "</svg>"
    )
    shapes, arrows = extract_svg_shapes(root.find_first("svg"))
    a0, a1 = arrows
    assert (a0["begin_id"], a0["end_id"]) == (2, 1)  # refs beat geometry
    assert (a0["resolution"], a0["confidence"], a0["approximation_level"]) == (
        "direct", 1.0, 0,
    )
    assert (a1["begin_id"], a1["end_id"]) == (2, 2)  # name equi + 1-NN
    assert a1["resolution"] == "partial" and a1["confidence"] == 0.9


def test_print_area_views_slice_and_rebase():
    """PrintAreaView parity (reference io/__init__.py:199-235): declared
    A1 areas slice table rows to the region; normalize re-bases column
    keys to col-c1 and row index to r-area_r1 (area's first row -> 0)."""
    from exstruct_spark.kernels.areas import filter_row_to_area

    html = (
        "<table>"
        "<tr><th>h1</th><th>h2</th><th>h3</th></tr>"
        "<tr><td>a</td><td>1</td><td>2</td></tr>"
        "<tr><td>b</td><td>3</td><td><a href='/x'>4</a></td></tr>"
        "</table>"
    ).encode()
    opts = ExtractOptions(print_areas=("B2:C3",))
    x = json.loads(extract_document("u", html, opts)["extraction_json"])
    view = x["area_views"][0]
    assert view["area"] == "B2:C3"
    rows = view["tables"][0]["rows"]
    # raw view: original coordinates, columns outside B..C dropped
    assert rows == [
        {"r": 2, "c": {"1": 1, "2": 2}},
        {"r": 3, "c": {"1": 3, "2": 4}, "links": {"2": "/x"}},
    ]

    opts_n = ExtractOptions(print_areas=("B2:C3",), normalize_areas=True)
    xn = json.loads(extract_document("u", html, opts_n)["extraction_json"])
    rows_n = xn["area_views"][0]["tables"][0]["rows"]
    # re-based: cols keyed from 0, first area row normalizes to r=0
    assert rows_n == [
        {"r": 0, "c": {"0": 1, "1": 2}},
        {"r": 1, "c": {"0": 3, "1": 4}, "links": {"1": "/x"}},
    ]

    # row fully outside the area -> dropped entirely
    assert filter_row_to_area({"r": 9, "c": {"1": "v"}}, (1, 1, 2, 2)) is None
    # row inside band but all cells outside columns -> dropped
    assert filter_row_to_area({"r": 2, "c": {"0": "v"}}, (1, 1, 2, 2)) is None


def test_detect_grid_tolerates_ragged_rows():
    """Round 2 (VERDICT item 10): one ragged row (an extra cell) must not
    kill a grid candidate — parity with the reference's shrink/merge
    robustness (core/cells.py:1405-1717)."""
    html = (
        "<div class='grid'>"
        "<div><div>h1</div><div>h2</div><div>h3</div></div>"
        "<div><div>a</div><div>1</div><div>2</div><div>extra</div></div>"
        "<div><div>b</div><div>3</div><div>4</div></div>"
        "</div>"
    )
    got = detect_grid_candidates(_walk(html).containers, CFG)
    assert len(got) == 1
    assert got[0]["kind"] == "grid"
    assert len(got[0]["rows"]) == 3
    # the ragged row keeps its extra cell at its true position
    r2 = [r for r in got[0]["rows"] if r["r"] == 2][0]
    assert r2["c"]["3"] == "extra"


def test_detect_grid_shrinks_sparse_borders():
    """A mostly-empty decorative border row is peeled (shrink-to-content
    analogue) so the candidate's range covers only the dense grid."""
    html = (
        "<div class='grid'>"
        "<div><div></div><div></div><div></div><div></div><div></div><div>x</div></div>"
        + "".join(
            "<div>" + "".join(f"<div>v{r}{c}</div>" for c in range(6)) + "</div>"
            for r in range(3)
        )
        + "</div>"
    )
    got = detect_grid_candidates(_walk(html).containers, CFG)
    assert len(got) == 1
    # the sparse first row (1/6 filled) is trimmed -> range starts at row 2
    assert got[0]["range"] == "A2:F4"
    assert all(r["r"] >= 2 for r in got[0]["rows"])


def test_units_and_css_lengths():
    """F6 parity: EMU/pt/px conversions use the reference's constants
    (12700 EMU per pt, ooxml_drawing.py:24) and geometry attrs accept CSS
    units."""
    from exstruct_spark.kernels.units import (
        emu_to_points, emu_to_px, ooxml_rot_to_degrees, parse_css_length,
        points_to_px,
    )

    assert emu_to_points(12700) == 1.0
    assert emu_to_px(9525) == 1.0
    assert points_to_px(72) == 96.0
    assert ooxml_rot_to_degrees(5400000) == 90.0
    assert ooxml_rot_to_degrees("x") is None
    assert parse_css_length("10") == 10.0
    assert parse_css_length("9pt") == 12.0
    assert parse_css_length("1in") == 96.0
    assert abs(parse_css_length("2.54cm") - 96.0) < 1e-9
    assert parse_css_length("2em") is None  # layout-relative: degraded

    # unit-bearing svg geometry flows into shapes as px
    root = parse_html("<svg><rect x='0' y='0' width='9pt' height='1in'/></svg>")
    shapes, _ = extract_svg_shapes(root.find_first("svg"))
    assert (shapes[0]["w"], shapes[0]["h"]) == (12.0, 96.0)


def test_rotated_shape_bbox_and_metadata():
    """F5 rotation trig: a rotated rect records its rotation (like the
    reference shape model's rotation field) and label containment uses
    the ROTATED envelope."""
    root = parse_html(
        "<svg>"
        # 40x10 rect rotated 90deg about its center (30,15) -> occupies
        # roughly x in [25,35], y in [-5,35]
        "<rect x='10' y='10' width='40' height='10'"
        " transform='rotate(90 30 15)'/>"
        "<text x='30' y='32'>L</text>"  # inside rotated envelope only
        "</svg>"
    )
    shapes, _ = extract_svg_shapes(root.find_first("svg"))
    s = shapes[0]
    assert s["rotation"] == 90.0
    assert (s["l"], s["t"], s["w"], s["h"]) == (10.0, 10.0, 40.0, 10.0)
    assert s["text"] == "L"  # containment used the rotated box


def test_normalize_url():
    from exstruct_spark.kernels.extract import normalize_url

    assert normalize_url("HTTP://Example.COM:80/a/./b/../c?q=1#frag") == \
        "http://example.com/a/c?q=1"
    assert normalize_url("https://h.example:443/") == "https://h.example/"
    assert normalize_url("https://h.example/dir/") == "https://h.example/dir/"
    # relative / non-http pass through verbatim (join keys preserved)
    assert normalize_url("/rel/path") == "/rel/path"
    assert normalize_url("mailto:x@y.z") == "mailto:x@y.z"
    # userinfo is case-SENSITIVE: host lowercased, credentials untouched
    assert normalize_url("http://User:Pw@H.Example:80/") == "http://User:Pw@h.example/"
    # malformed double-port netloc: verbatim, fixpoint in ONE call
    assert normalize_url("http://h:80:80/") == "http://h:80:80/"
    # non-default port kept; empty trailing-colon port dropped
    assert normalize_url("http://h.example:8080/") == "http://h.example:8080/"
    assert normalize_url("http://h.example:/") == "http://h.example/"
    # bracketed IPv6: port split respects the bracket, not inner colons
    assert normalize_url("http://[::1]:80/x") == "http://[::1]/x"
    assert normalize_url("http://[::1]:8080/x") == "http://[::1]:8080/x"

    html = b"<p><a href='HTTP://H.Example/a/../b#x'>link text here ok</a></p>"
    opts = ExtractOptions(normalize_links=True)
    x = json.loads(extract_document("u", html, opts)["extraction_json"])
    assert list(x["links_map"]) == ["http://h.example/b"]


def test_empty_run_early_termination():
    """W3 parity: a long run of empty rows stops the scan (logged as
    truncation) instead of walking thousands of empty <tr>s."""
    cfg = CFG.with_params(max_empty_run=5)
    html = (
        "<table><tr><td>head</td><td>x</td></tr>"
        + "<tr><td></td></tr>" * 50
        + "<tr><td>tail</td><td>y</td></tr></table>"
    )
    t = extract_table(parse_html(html).find_first("table"), 0, cfg)
    assert t["truncated"] is True
    assert max(r["r"] for r in t["rows"]) == 1  # tail never reached


def test_empty_run_ignores_formatting_and_rowspan_rows():
    """ADVICE r2: rows carrying only links/background colors, or rows fully
    covered by a tall rowspan, are NOT empty for the early-termination
    counter — real trailing data must survive."""
    cfg = CFG.with_params(max_empty_run=3)
    html = (
        "<table><tr><td rowspan='6'>tall</td><td>x</td></tr>"
        + "<tr><td></td></tr>" * 5  # textless but covered by the rowspan
        + "<tr><td bgcolor='red'></td></tr>"  # color-only row
        + "<tr><td><a href='u'></a></td></tr>"  # link-only row
        + "<tr><td>tail</td></tr></table>"
    )
    t = extract_table(parse_html(html).find_first("table"), 0, cfg)
    assert t.get("truncated") is not True
    assert max(r["r"] for r in t["rows"]) == 9  # tail reached


def test_scrub_backend_metadata():
    """P7 parity (reference _BACKEND_METADATA_CLEAR, io/__init__.py:32-89):
    provenance fields vanish from arrows; geometry/direction stay."""
    html = (
        "<svg><rect x='0' y='0' width='10' height='10'/>"
        "<rect x='0' y='100' width='10' height='10'/>"
        "<line x1='5' y1='10' x2='5' y2='100' marker-end='url(#m)'/></svg>"
    ).encode()
    plain = json.loads(extract_document("u", html)["extraction_json"])
    assert "resolution" in plain["arrows"][0]
    scrubbed = json.loads(
        extract_document(
            "u", html, ExtractOptions(scrub_backend_metadata=True)
        )["extraction_json"]
    )
    a = scrubbed["arrows"][0]
    assert set(a) == {"begin_id", "end_id", "direction"}


def test_style_beats_bgcolor():
    # CSS cascade: inline style wins over the bgcolor presentational hint
    from exstruct_spark.kernels.colors import cell_background

    assert cell_background({"bgcolor": "red", "style": "background: blue"}) == "0000FF"
    assert cell_background({"bgcolor": "red"}) == "FF0000"


def test_normalize_url_rfc_dot_segments():
    from exstruct_spark.kernels.extract import normalize_url

    # empty segments preserved (servers may distinguish //)
    assert normalize_url("http://h/a//b") == "http://h/a//b"
    # trailing '..' implies a trailing slash (RFC 3986 5.2.4)
    assert normalize_url("http://h/a/b/..") == "http://h/a/"
    assert normalize_url("http://h/..") == "http://h/"


def test_lsh_planes_cap_raises():
    from exstruct_spark.queries import _lsh_w_rows

    with pytest.raises(ValueError):
        _lsh_w_rows(65)


def test_grid_gates_use_post_shrink_spans():
    """A sparse decorative border must not sink a dense grid: gates are
    computed on the post-shrink effective area (finding: pre-shrink
    denominators made trimming strictly harmful)."""
    # 3 dense 4-wide rows under a 1-of-8-cells decorative row; with the
    # old pre-shrink denominator (4 rows x 8 cols = 32) density would be
    # 12/32 = 0.375 + no header row at r==0 -> score ~0.475... this grid
    # must survive with a clean post-shrink score instead
    html = (
        "<div class='grid'>"
        "<div>" + "<div></div>" * 7 + "<div>x</div></div>"
        + "".join(
            "<div>" + "".join(f"<div>w{r}{c}</div>" for c in range(4)) + "</div>"
            for r in range(3)
        )
        + "</div>"
    )
    got = detect_grid_candidates(_walk(html).containers, CFG)
    assert len(got) == 1
    m = got[0]["_metrics"]
    assert m["density"] == 1.0  # 12 cells / (3x4) effective area
    assert got[0]["range"] == "A2:D4"


def test_nonempty_clusters_and_merge():
    from exstruct_spark.kernels.clusters import merge_rectangles, nonempty_clusters

    # two 4-connected blocks separated by an empty band
    cells = {(0, 0): 1, (0, 1): 2, (1, 0): 3, (1, 1): 4,
             (5, 0): 5, (5, 1): 6, (6, 0): 7, (6, 1): 8}
    assert nonempty_clusters(cells) == [(0, 0, 1, 1), (5, 0, 6, 1)]
    # diagonal contact is NOT 4-connected
    assert len(nonempty_clusters({(0, 0): 1, (1, 1): 1})) == 2

    # overlap merges; containment is preserved (reference semantics)
    assert merge_rectangles([(0, 0, 2, 2), (1, 1, 3, 3)]) == [(0, 0, 3, 3)]
    assert merge_rectangles([(0, 0, 5, 5), (1, 1, 2, 2)]) == [
        (0, 0, 5, 5), (1, 1, 2, 2),
    ]


def test_grid_detector_splits_disconnected_blocks():
    """Two dense blocks separated by an empty band inside one container
    emit TWO candidates (nonempty-CC split, reference cells.py:1277-1320),
    each with its own range and header scoring."""
    def block(rows, tag):
        return "".join(
            "<div>" + "".join(f"<div>{tag}{r}{c}</div>" for c in range(3)) + "</div>"
            for r in range(rows)
        )
    empty_band = "<div><div></div><div></div><div></div></div>" * 2
    html = "<div class='grid'>" + block(3, "a") + empty_band + block(3, "b") + "</div>"
    got = detect_grid_candidates(_walk(html).containers, CFG)
    assert len(got) == 2
    assert got[0]["range"] == "A1:C3"
    assert got[1]["range"] == "A6:C8"
    assert got[0]["_metrics"]["density"] == 1.0
    assert got[1]["_metrics"]["density"] == 1.0


def test_multi_series_chart_grid_binding():
    """Two polylines + a 3-column companion table: series s binds to
    column s+1; a third svg series beyond the table's width stays
    synthetic."""
    html = (
        "<figure><svg>"
        "<polyline points='0,1 1,2 2,3'/>"
        "<polyline points='0,4 1,5 2,6'/>"
        "<polyline points='0,7 1,8 2,9'/>"
        "</svg>"
        "<table><tr><th>x</th><th>a</th><th>b</th></tr>"
        "<tr><td>1</td><td>10</td><td>20</td></tr>"
        "<tr><td>2</td><td>11</td><td>21</td></tr></table>"
        "</figure>"
    ).encode()
    x = json.loads(extract_document("u", html)["extraction_json"])
    s0, s1, s2 = x["charts"][0]["series"]
    assert (s0["name_range"], s0["y_range"]) == ("B1", "B2:B3")
    assert (s1["name_range"], s1["y_range"]) == ("C1", "C2:C3")
    assert "name_range" not in s2 and s2["y_range"] == "A3:C3"


def test_style_last_declaration_wins():
    from exstruct_spark.kernels.colors import cell_background

    assert cell_background({"style": "background: red; background: blue"}) == "0000FF"
    # last declaration invalid -> previous valid one wins
    assert cell_background({"style": "background: red; background: var(--x)"}) == "FF0000"


def test_normalize_url_trailing_dot_after_empty_segment():
    from exstruct_spark.kernels.extract import normalize_url

    assert normalize_url("http://h/a//.") == "http://h/a//"
    assert normalize_url("http://h/a/.") == "http://h/a/"


def test_extraction_mode_presets():
    """Mode dial parity (reference engine.py:260-277): light = text +
    tables only; standard scrubs provenance; verbose keeps everything."""
    html = (
        "<svg><rect x='0' y='0' width='9' height='9'/>"
        "<rect x='0' y='50' width='9' height='9'/>"
        "<line x1='4' y1='9' x2='4' y2='50' marker-end='url(#m)'/></svg>"
        "<table><tr><th>a</th></tr><tr><td>1</td></tr></table>"
        "<p><a href='/x'>some link text here</a></p>"
    ).encode()
    light = json.loads(
        extract_document("u", html, ExtractOptions.from_mode("light"))["extraction_json"]
    )
    assert "tables" in light
    assert all(k not in light for k in ("shapes", "arrows", "links_map", "class_map"))

    std = json.loads(
        extract_document("u", html, ExtractOptions.from_mode("standard"))["extraction_json"]
    )
    assert "resolution" not in std["arrows"][0]

    verb = json.loads(
        extract_document("u", html, ExtractOptions.from_mode("verbose"))["extraction_json"]
    )
    assert verb["arrows"][0]["resolution"] == "heuristic"

    with pytest.raises(ValueError):
        ExtractOptions.from_mode("nope")


def test_bpe_train_and_encode():
    """Classic BPE on a toy corpus: merges come out in frequency order
    with lexicographic ties, and encoding applies them exactly."""
    from exstruct_spark.kernels.bpe import encode_word, train_bpe

    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = train_bpe(freqs, n_merges=4)
    # 'es' (9) then 'est' (9) dominate; 'lo' (7) then 'low' (7) follow
    assert merges[:4] == [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")]
    ranks = {p: i for i, p in enumerate(merges)}
    assert encode_word("newest", ranks) == ["n", "e", "w", "est"]
    assert encode_word("lowest", ranks) == ["low", "est"]
    assert encode_word("xyz", ranks) == ["x", "y", "z"]
    # determinism: identical inputs, identical table
    assert train_bpe(dict(freqs), n_merges=4) == merges


def test_bpe_pretokenize_matches_regex_families():
    from exstruct_spark.kernels.bpe import pretokenize

    assert pretokenize("ab1 2cd, e-f") == ["ab", "1", "2", "cd", ",", "e", "-", "f"]
    assert pretokenize("") == []
    assert pretokenize(None) == []


# --- inline <script> chart-config tokenizer (F7 parity —
#     reference core/charts.py:16-170's depth/quote-aware SERIES parser,
#     transplanted to the web's Chart.js/ECharts carrier)
def test_chartconfig_tokenizer_nested_quotes_and_callbacks():
    from exstruct_spark.kernels.chartconfig import charts_from_script

    script = """
    const ctx = document.getElementById('c');
    // a comment with a stray { brace
    new Chart(ctx, {
      type: 'line',
      data: {
        labels: ['Q1', "Q2", 'Q3', 'Q4'],
        datasets: [
          {label: 'north "region"', data: [1, 2.5, 3, 4], borderColor: '#36a2eb'},
          {label: "south 'region'", data: [5, 6, 7, 8],},
        ],
      },
      options: {
        plugins: {title: {display: true, text: 'Revenue ("net") {braces}'}},
        scales: {y: {ticks: {callback: function(v) { return v + "}"; }}}},
        onClick: (e) => { console.log('}'); },
      },
    });
    """
    charts = charts_from_script(script)
    assert len(charts) == 1
    c = charts[0]
    assert c["chart_type"] == "Line"
    assert c["title"] == 'Revenue ("net") {braces}'
    assert c["labels"] == ["Q1", "Q2", "Q3", "Q4"]
    assert c["series"] == [
        ('north "region"', [1.0, 2.5, 3.0, 4.0]),
        ("south 'region'", [5.0, 6.0, 7.0, 8.0]),
    ]


def test_chartconfig_echarts_and_multiple_charts():
    from exstruct_spark.kernels.chartconfig import charts_from_script

    script = """
    chart1.setOption({
      title: {text: 'Usage'},
      xAxis: {type: 'category', data: ['a', 'b']},
      series: [{name: 'cpu', type: 'bar', data: [10, 20]}]
    });
    new Chart(x, {type: 'pie', data: {datasets: [{data: [1, 2, 3]}]}});
    """
    charts = charts_from_script(script)
    assert len(charts) == 2
    assert charts[0]["chart_type"] == "Column"
    assert charts[0]["title"] == "Usage"
    assert charts[0]["series"] == [("cpu", [10.0, 20.0])]
    assert charts[1]["chart_type"] == "Pie"
    assert charts[1]["series"] == [("s0", [1.0, 2.0, 3.0])]


def test_chartconfig_malformed_never_raises():
    from exstruct_spark.kernels.chartconfig import charts_from_script

    for bad in (
        "", None, "new Chart(ctx, {type: 'line', data: {",  # unterminated
        "new Chart(ctx);", "setOption(", "new Chart(c, 'nope')",
        "new Chart(c, {data: {datasets: 'not-a-list'}})",
        "x.setOption({series: [{data: ['strings', 'only']}]})",
    ):
        assert isinstance(charts_from_script(bad or ""), list)


def test_script_chart_binds_companion_grid():
    """A figure with a <canvas>+<script> Chart.js config AND a companion
    table: series bind to REAL A1 ranges into the table grid (same J7
    shape as SVG charts); without a table the ranges stay synthetic."""
    html = """
    <figure><figcaption>rev</figcaption><canvas></canvas>
    <script>new Chart(ctx, {type: 'bar', data: {
      labels: ['q1','q2'],
      datasets: [{label: 'north', data: [3, 4]}, {label: 'south', data: [5, 6]}]
    }});</script>
    <table><tr><th>q</th><th>north</th><th>south</th></tr>
    <tr><td>q1</td><td>3</td><td>5</td></tr>
    <tr><td>q2</td><td>4</td><td>6</td></tr></table></figure>
    """
    x = json.loads(extract_document("u", html.encode())["extraction_json"])
    assert len(x["charts"]) == 1
    c = x["charts"][0]
    assert c["chart_type"] == "Column"
    assert c["config_source"] == "script"
    assert c["data_table_id"] == x["tables"][0]["id"]
    s0, s1 = c["series"]
    assert s0 == {"name": "north", "name_range": "B1", "x_range": "A2:A3",
                  "y_range": "B2:B3", "n_points": 2}
    assert s1["y_range"] == "C2:C3"
    # standalone script (no figure): parsed, unbound
    solo = "<script>new Chart(c, {type:'line', data:{datasets:[{label:'z', data:[1,2,3]}]}})</script>"
    x2 = json.loads(extract_document("u", solo.encode())["extraction_json"])
    assert x2["charts"][0]["series"][0]["y_range"] == "A1:C1"
    assert "data_table_id" not in x2["charts"][0]


# --- CSS-border grid signal (G1 parity — reference border maps,
#     core/cells.py:940-1078)
def test_has_visible_border():
    from exstruct_spark.kernels.borders import has_visible_border

    yes = [
        {"style": "border: 1px solid #ccc"},
        {"style": "padding:2px; border-top: 2px dashed red"},
        {"style": "BORDER-STYLE: Solid"},
        {"style": "border-left-width: 3px"},
        {"border": "1"},
        {"border": " 2 "},
    ]
    no = [
        {}, None,
        {"style": "border: none"},
        {"style": "border: 0"},
        {"style": "border-width: 0px"},
        {"style": "border: hidden"},
        {"style": "background: red"},
        {"style": "border-radius: 4px"},  # radius/color alone: no border
        {"style": "border-color: red"},
        {"border": "0"},
        {"border": "abc"},
    ]
    for attrs in yes:
        assert has_visible_border(attrs), attrs
    for attrs in no:
        assert not has_visible_border(attrs or {}), attrs

    # per-side LAST-WINS (ADVICE r6): a later reset really overrides —
    # the merged style string from kernels/css.py is in cascade order
    yes_cascade = [
        # reset then re-enable one side
        {"style": "border: none; border-top: 1px solid"},
        # shorthand none resets style but width reverts to initial
        # (medium): a later per-side style revives the border
        {"style": "border: none; border-top-style: solid"},
        # width zeroed then a full side shorthand re-enables
        {"style": "border-width: 0; border-left: 2px dashed"},
        # only one side killed, the other three survive
        {"style": "border: 1px solid; border-top: none"},
        # CSS border info wins over the presentational hint
        {"border": "0", "style": "border: 1px solid"},
    ]
    no_cascade = [
        # inline/late 'none' overrides an earlier visible border
        {"style": "border: 1px solid; border: none"},
        # late width zero kills all sides
        {"style": "border: 1px solid; border-width: 0"},
        # late style none kills all sides
        {"style": "border: 1px solid; border-style: none"},
        # per-side kills covering all four sides
        {"style": "border: 1px solid; border-top: none;"
                  "border-right: none; border-bottom: 0;"
                  "border-left: hidden"},
        # CSS 'none' beats border="1" (real-cascade priority)
        {"border": "1", "style": "border: none"},
    ]
    for attrs in yes_cascade:
        assert has_visible_border(attrs), attrs
    for attrs in no_cascade:
        assert not has_visible_border(attrs), attrs


def test_border_signal_detects_nonuniform_div_grid():
    """A bordered div layout whose rows have NON-uniform child counts
    (structural gate rejects it) is detected from its border mask —
    previously zero candidates (VERDICT r2 'What's missing' #2)."""
    cell = "style='border:1px solid #999'"
    html = (
        "<div class='layout'>"
        f"<div><div {cell}>name</div><div {cell}>qty</div><div {cell}>price</div></div>"
        f"<div><div {cell}>alpha</div><div {cell}>3</div><div {cell}>5</div>"
        "<div>stray</div><div>note</div></div>"  # ragged width: 5
        f"<div><div {cell}>beta</div><div {cell}>7</div><div {cell}>9</div></div>"
        f"<div><div {cell}>gamma</div></div>"  # ragged width: 1
        "</div>"
    )
    # structural gate alone rejects: widths 3,5,3,1 -> near-modal 2/4
    got = detect_grid_candidates(_walk(html).containers, CFG)
    assert len(got) == 1
    g = got[0]
    assert g["kind"] == "grid" and g["signal"] == "border"
    assert g["range"] == "A1:C4"
    assert g["rows"][0]["c"] == {"0": "name", "1": "qty", "2": "price"}
    assert g["rows"][1]["c"]["1"] == 3  # coerced
    assert g["rows"][3]["c"] == {"0": "gamma"}
    # the unbordered stray cells sit outside the border-cluster box
    assert all("3" not in r["c"] and "4" not in r["c"] for r in g["rows"])


def test_border_signal_row_level_and_attr_borders():
    """border='1' attrs and row-level borders count; an unbordered layout
    with the same non-uniform structure stays undetected."""
    rows_spec = [3, 5, 3, 1]  # widths reject the structural gate (2/4 near-modal)

    def make(bordered: bool) -> str:
        attr = " border='1'" if bordered else ""
        body = "".join(
            f"<div{attr}>"
            + "".join(f"<div>r{r}c{c}</div>" for c in range(w))
            + "</div>"
            for r, w in enumerate(rows_spec)
        )
        return f"<div>{body}</div>"

    got = detect_grid_candidates(_walk(make(True)).containers, CFG)
    assert len(got) == 1 and got[0]["signal"] == "border"
    assert detect_grid_candidates(_walk(make(False)).containers, CFG) == []


def test_header_aggregates_first_two_rows():
    """A5 parity (reference core/cells.py:1334-1358): a numeric row 0 with
    the real header in row 1 still counts as a header table; a 1-cell row
    no longer qualifies on its own (>= 2 nonempty per the reference)."""
    html = (
        "<table><tr><td>1</td><td>2</td></tr>"
        "<tr><td>name</td><td>qty</td></tr>"
        "<tr><td>alpha</td><td>3</td></tr></table>"
    )
    t = extract_table(parse_html(html).find_first("table"), 0, CFG)
    assert t["_metrics"]["header"] is True

    solo = "<table><tr><td>title</td></tr><tr><td>7</td><td>8</td></tr></table>"
    t2 = extract_table(parse_html(solo).find_first("table"), 0, CFG)
    assert t2["_metrics"]["header"] is False


def test_merged_ranges_companion_list():
    """Reference SheetData carries merged_cells AND merged_ranges A1
    strings (models/__init__.py:208-214)."""
    html = (
        "<table><tr><td rowspan='2'>R</td><td>a</td></tr>"
        "<tr><td>b</td></tr>"
        "<tr><td colspan='2'>wide</td></tr></table>"
    )
    t = extract_table(parse_html(html).find_first("table"), 0, CFG)
    assert t["merged_ranges"] == ["A1:A2", "A3:B3"]
    assert len(t["merged_ranges"]) == len(t["merged_cells"]["items"])


def test_auto_areas_split_at_empty_row_gaps():
    """Auto print-area derivation (the COM page-break analogue): a table
    whose sparse rows jump from r=2 to r=5 splits into two bands; a
    gapless table yields exactly its own range."""
    from exstruct_spark.kernels.areas import auto_areas

    gap_table = {
        "id": 0, "range": "A1:C6",
        "rows": [
            {"r": 1, "c": {"0": "h1", "1": "h2", "2": "h3"}},
            {"r": 2, "c": {"0": "a", "1": 1}},
            {"r": 5, "c": {"0": "b", "1": 2}},
            {"r": 6, "c": {"2": 3}},
        ],
    }
    assert auto_areas([gap_table]) == ["A1:C2", "A5:C6"]
    dense = {"id": 1, "range": "B2:D4",
             "rows": [{"r": r, "c": {"1": r}} for r in (2, 3, 4)]}
    assert auto_areas([dense]) == ["B2:D4"]


def test_auto_area_views_match_declared_views():
    """VERDICT r2 #9 'Done' gate: extracting with auto_areas on produces
    the IDENTICAL views as declaring the derived ranges as print_areas —
    one slicer, two sources of areas."""
    html = (
        "<h2>section one</h2>"
        "<table><tr><th>name</th><th>qty</th></tr>"
        "<tr><td>alpha</td><td>3</td></tr>"
        "<tr><td></td><td></td></tr><tr><td></td><td></td></tr>"
        "<tr><td>beta</td><td>7</td></tr>"
        "<tr><td>gamma</td><td>9</td></tr></table>"
    ).encode()
    auto = json.loads(
        extract_document("u", html, ExtractOptions(auto_areas=True))[
            "extraction_json"
        ]
    )
    assert auto["auto_areas"] == ["A1:B2", "A5:B6"]
    declared = json.loads(
        extract_document(
            "u", html,
            ExtractOptions(print_areas=tuple(auto["auto_areas"])),
        )["extraction_json"]
    )
    assert auto["auto_area_views"] == declared["area_views"]
    # normalize flows through the auto path too
    auto_norm = json.loads(
        extract_document(
            "u", html, ExtractOptions(auto_areas=True, normalize_areas=True)
        )["extraction_json"]
    )
    v2 = auto_norm["auto_area_views"][1]
    assert v2["normalized"] is True
    assert v2["tables"][0]["rows"][0]["r"] == 0  # re-based to band origin


def test_chartconfig_never_hangs_and_lexes_regex_literals():
    """Review r3: stray tokens and JS regex literals must neither hang the
    parser (a confirmed 120s+ executor hang pre-fix) nor corrupt brace
    depth."""
    from exstruct_spark.kernels.chartconfig import (
        _code_view,
        charts_from_script,
        find_config_objects,
        parse_js_value,
    )

    # no-progress tokens: must terminate (pre-fix: infinite loop)
    assert parse_js_value("[1, )")[0] is not None
    assert parse_js_value("{a: )")[0] is not None
    charts_from_script("new Chart(c, {data: {labels: [1, )}})")

    # the confirmed real-world hang: a brace inside a regex literal
    cfg = """
    new Chart(ctx, {type: 'line',
      data: {labels: ['a'], datasets: [{label: 'x', data: [1, 2]}]},
      options: {scales: {y: {ticks: {
        callback: (c) => String(c).replace(/\\}/g, '')}}}},
    });
    """
    charts = charts_from_script(cfg)
    assert len(charts) == 1
    assert charts[0]["series"] == [("x", [1.0, 2.0])]

    # char class with braces/slashes: depth survives, config still parses
    echarts = charts_from_script(
        "x.setOption({series: [{name: 'n', type: 'bar', data: [3]}], "
        "f: v => v.replace(/[{}/]+/g, '-')})"
    )
    assert echarts and echarts[0]["series"] == [("n", [3.0])]
    script = "new Chart(c, )"
    assert find_config_objects(script, _code_view(script)) == []


def test_chartconfig_echarts_dataset_api():
    """Round 7: the modern ECharts dataset API — series without data
    map to dataset.source columns (header row names them, column 0 is
    the labels, sourceHeader auto-detected); explicit series data
    still wins; headerless numeric sources have no names/labels row."""
    import json

    from exstruct_spark.golden import extract_document

    def charts(script):
        html = (f"<html><body><div id='c'></div>"
                f"<script>{script}</script></body></html>").encode()
        return json.loads(extract_document(
            "http://t/ds", html)["extraction_json"]).get("charts")

    c = charts("var option = {dataset: {source: ["
               "['product','2015','2016'],"
               "['Matcha',43.3,85.8],['Milk Tea',83.1,73.4]]},"
               "xAxis: {type: 'category'}, "
               "series: [{type: 'bar'},{type: 'bar'}]};"
               "myChart.setOption(option);")[0]
    assert [sr["name"] for sr in c["series"]] == ["2015", "2016"]
    assert [sr["n_points"] for sr in c["series"]] == [2, 2]
    assert c["y_axis_range"] == [43.3, 85.8] and c["n_labels"] == 2

    c2 = charts("myChart.setOption({dataset: {source: [[1, 10],"
                "[2, 20]]}, series: [{type: 'line'}]});")[0]
    assert c2["series"][0]["n_points"] == 2   # headerless: all rows

    c3 = charts("myChart.setOption({dataset: {source: [['x','a'],"
                "[1, 99]]}, series: [{type: 'line', name: 'own', "
                "data: [5, 6, 7]}]});")[0]
    assert c3["series"][0] == {"name": "own", "y_range": "A1:C1",
                               "n_points": 3}


def test_chartconfig_y_axis_titles():
    """Round 7: y_axis_title (reference Chart model field) extracted
    from every dialect's axis-title location — Chart.js v3
    scales.y.title.text and v2 yAxes[0].scaleLabel.labelString,
    Highcharts yAxis.title.text, ECharts yAxis.name, Plotly
    layout.yaxis.title."""
    import json

    from exstruct_spark.golden import extract_document

    def chart(script):
        html = (f"<html><body><canvas id='c'></canvas>"
                f"<script>{script}</script></body></html>").encode()
        return json.loads(extract_document(
            "http://t/ax", html)["extraction_json"])["charts"][0]

    assert chart(
        "new Chart(x, {type:'line', data:{labels:['a'], datasets:"
        "[{label:'d', data:[1]}]}, options:{scales:{y:{title:"
        "{display:true, text:'Revenue'}}}}});")["y_axis_title"]         == "Revenue"
    assert chart(
        "new Chart(x, {type:'bar', data:{labels:['a'], datasets:"
        "[{label:'d', data:[1]}]}, options:{scales:{yAxes:"
        "[{scaleLabel:{labelString:'Count'}}]}}});")["y_axis_title"]         == "Count"
    assert chart(
        "Highcharts.chart('c', {yAxis: {title: {text: 'Units'}}, "
        "series: [{name:'S', data:[1,2]}]});")["y_axis_title"]         == "Units"
    assert chart(
        "myChart.setOption({yAxis: {type:'value', name:'kWh'}, "
        "xAxis:{data:['a']}, series:[{type:'line', data:[5]}]});"
        )["y_axis_title"] == "kWh"
    assert chart(
        "Plotly.newPlot('c', [{y: [1,2], name: 'T'}], "
        "{yaxis: {title: {text: 'Load'}}});")["y_axis_title"] == "Load"
    # absent axis title: key absent, not empty
    assert "y_axis_title" not in chart(
        "new Chart(x, {type:'line', data:{labels:['a'], "
        "datasets:[{label:'d', data:[1]}]}});")

    # gviz vAxis.title and Vega-Lite encoding.y.title complete the set
    assert chart(
        "var data = google.visualization.arrayToDataTable("
        "[['Y','S'],['a',1],['b',2]]);"
        "var ch = new google.visualization.ColumnChart(x);"
        "ch.draw(data, {title: 'T', vAxis: {title: 'Widgets'}});"
        )["y_axis_title"] == "Widgets"
    assert chart(
        "vegaEmbed('#c', {mark: 'bar', encoding: {x: {field: 'cat', "
        "type: 'nominal'}, y: {field: 'val', type: 'quantitative', "
        "title: 'Amount'}}, data: {values: [{cat:'a', val:1},"
        "{cat:'b', val:2}]}});")["y_axis_title"] == "Amount"


def test_chartconfig_jquery_highcharts_form():
    """Round 7: the jQuery plugin form $('#c').highcharts({...}) —
    config is the FIRST argument; the Highcharts chart.type block
    still maps 'bar' to horizontal; the no-arg getter form yields
    nothing."""
    import json

    from exstruct_spark.golden import extract_document

    html = ("<html><body><div id='c'></div><script>"
            "$('#c').highcharts({chart: {type: 'bar'}, "
            "title: {text: 'T'}, xAxis: {categories: ['a','b']}, "
            "series: [{name: 'S', data: [3, 4]}]});"
            "var g = $('#x').highcharts();"
            "</script></body></html>").encode()
    out = json.loads(extract_document(
        "http://t/jq", html)["extraction_json"])["charts"]
    assert len(out) == 1
    assert out[0]["chart_type"] == "Bar" and out[0]["title"] == "T"
    assert out[0]["series"][0]["name"] == "S"


def test_chartconfig_gviz_datatable_api():
    """Round 7: the imperative Google Charts DataTable idiom —
    addColumn(type, label) + addRows([...]) — normalizes like
    arrayToDataTable; receiver reuse keys each addRows to its own
    preceding columns; object-form addColumn({label}) supported."""
    import json

    from exstruct_spark.golden import extract_document

    def charts(script):
        html = (f"<html><body><div id='c'></div>"
                f"<script>{script}</script></body></html>").encode()
        return json.loads(extract_document(
            "http://t/gdt", html)["extraction_json"]).get("charts")

    got = charts(
        "var data = new google.visualization.DataTable();"
        "data.addColumn('string', 'Year');"
        "data.addColumn({type: 'number', label: 'Sales'});"
        "data.addColumn('number');"
        "data.addRows([['2019', 1000, 400], ['2020', 1170, 460]]);"
        "var chart = new google.visualization.BarChart(x);"
        "chart.draw(data, {title: 'Perf'});")
    c = got[0]
    assert c["chart_type"] == "Bar" and c["title"] == "Perf"
    assert [sr["name"] for sr in c["series"]] == ["Sales", "number"]
    assert c["y_axis_range"] == [400.0, 1170.0]

    # a lone addRows with <2 columns, or no addColumn, yields nothing
    assert charts("d.addRows([[1, 2]]);") is None


def test_chartconfig_variable_indirection():
    """Round 7: `const cfg = {...}; new Chart(ctx, cfg)` — the other
    common real-page shape — resolves the identifier to its object
    assignment (nearest above the call; hoisted var below as
    fallback).  A function-call argument must NOT resolve, and a
    literal argument still wins unchanged."""
    import json

    from exstruct_spark.golden import extract_document

    def charts(script):
        html = (f"<html><body><canvas id='c'></canvas>"
                f"<script>{script}</script></body></html>").encode()
        return json.loads(extract_document(
            "http://t/ci", html)["extraction_json"]).get("charts")

    got = charts("const cfg = {type: 'bar', data: {labels: ['a','b'], "
                 "datasets: [{label: 's1', data: [1,2]}]}};"
                 "new Chart(document.getElementById('c'), cfg);")
    assert got[0]["chart_type"] == "Column"
    assert got[0]["series"][0]["name"] == "s1"

    # assignment after the call (var hoisting)
    got2 = charts("new Chart(ctx, chartConfig);"
                  "var chartConfig = {type: 'line', data: {labels: "
                  "['x'], datasets: [{label: 'v', data: [3]}]}};")
    assert got2[0]["chart_type"] == "Line"

    # ECharts setOption by name takes the FIRST identifier
    got3 = charts("var option = {series: [{name: 'q', type: 'pie', "
                  "data: [{name:'a', value:1},{name:'b', value:2}]}]};"
                  "myChart.setOption(option, opts);")
    assert got3[0]["chart_type"] == "Pie"

    # a function-call argument is not a config name
    assert charts("new Chart(ctx, buildConfig());") is None

    # two charts, each resolving its own nearest assignment
    got4 = charts("var a = {type:'bar', data:{labels:['l'], datasets:"
                  "[{label:'one', data:[1]}]}}; new Chart(x, a);"
                  "var a = {type:'pie', data:{labels:['m'], datasets:"
                  "[{label:'two', data:[2]}]}}; new Chart(y, a);")
    assert [c["chart_type"] for c in got4] == ["Column", "Pie"]


def test_chartconfig_setoption_takes_first_argument():
    """ECharts setOption(option, {notMerge: true}) — the config is the
    FIRST argument (review r3: the last-object rule dropped every ECharts
    chart constructed with a second settings argument)."""
    from exstruct_spark.kernels.chartconfig import charts_from_script

    charts = charts_from_script(
        "chart.setOption({title: {text: 'T'}, series: [{name: 's', "
        "type: 'line', data: [1, 2]}]}, {notMerge: true});"
    )
    assert len(charts) == 1
    assert charts[0]["title"] == "T"
    # new Chart still takes the LAST object (ctx options come first)
    charts2 = charts_from_script(
        "new Chart(document.getElementById('c'), "
        "{type: 'pie', data: {datasets: [{data: [1]}]}});"
    )
    assert len(charts2) == 1 and charts2[0]["chart_type"] == "Pie"


def test_chartconfig_js_escape_decoding():
    from exstruct_spark.kernels.chartconfig import parse_js_value

    assert parse_js_value(r'"a\nb"')[0] == "a\nb"
    assert parse_js_value(r'"café"')[0] == "café"
    assert parse_js_value(r'"\u{1F600}"')[0] == "\U0001F600"
    assert parse_js_value(r'"\x41\q\""')[0] == 'Aq"'


def test_figure_with_svg_and_script_emits_both_charts():
    """Review r3: scripts inside an svg-bearing figure were silently lost
    (excluded from standalone processing, skipped by the figure path)."""
    html = (
        "<figure><svg><polyline points='0,1 1,2'/></svg>"
        "<script>new Chart(c, {type: 'line', data: {datasets: "
        "[{label: 'z', data: [1, 2, 3]}]}})</script></figure>"
    ).encode()
    x = json.loads(extract_document("u", html)["extraction_json"])
    assert len(x["charts"]) == 2
    assert x["charts"][0]["chart_type"] == "Line"  # the svg chart
    assert x["charts"][1]["config_source"] == "script"
    assert x["charts"][1]["series"][0]["name"] == "z"


def test_auto_areas_do_not_split_through_rowspan():
    """Review r3: a tall rowspan's covered rows are content — the band
    boundary must not cut through a merged region."""
    html = (
        "<table><tr><td>h1</td><td>h2</td></tr>"
        "<tr><td rowspan='4'>tall</td><td>x</td></tr>"
        "<tr><td></td></tr><tr><td></td></tr><tr><td></td></tr>"
        "<tr><td>a</td><td>b</td></tr></table>"
    ).encode()
    x = json.loads(
        extract_document("u", html, ExtractOptions(auto_areas=True))[
            "extraction_json"
        ]
    )
    assert x["auto_areas"] == ["A1:B6"]  # one band — no split at rows 3-5


def test_pathological_script_degrades_chart_only():
    """Fallback-not-fail at the artifact level: a recursion-bomb script
    loses its own charts, never the document's other artifacts."""
    bomb = "new Chart(c, {a: " + "[" * 3000 + "]" * 3000 + "})"
    html = (
        "<table><tr><th>h1</th><th>h2</th></tr><tr><td>a</td><td>1</td></tr></table>"
        f"<script>{bomb}</script>"
    ).encode()
    rec = extract_document("u", html)
    assert rec["status"] == "ok"
    x = json.loads(rec["extraction_json"])
    assert len(x["tables"]) == 1  # table survived
    assert "charts" not in x or x["charts"] == []


def test_chartconfig_highcharts_dialect():
    """Highcharts.chart('container', {...}): config is the last object;
    type comes from chart.type, labels from xAxis.categories."""
    from exstruct_spark.kernels.chartconfig import charts_from_script

    charts = charts_from_script("""
    Highcharts.chart('container', {
      chart: {type: 'column'},
      title: {text: 'Fruit'},
      xAxis: {categories: ['apple', 'pear']},
      series: [{name: 'north', data: [5, 3]}, {name: 'south', data: [2, 4]}]
    });
    """)
    assert len(charts) == 1
    c = charts[0]
    assert c["chart_type"] == "Column"
    assert c["title"] == "Fruit"
    assert c["labels"] == ["apple", "pear"]
    assert c["series"] == [("north", [5.0, 3.0]), ("south", [2.0, 4.0])]


def test_chartconfig_highcharts_bar_is_horizontal():
    """ADVICE r3: chart.type is the Highcharts-only location, where
    'bar' means HORIZONTAL — map it to 'Bar'; Chart.js/ECharts 'bar'
    stays vertical ('Column'); Highcharts 'column' stays 'Column'."""
    from exstruct_spark.kernels.chartconfig import charts_from_script

    hc_bar = charts_from_script(
        "Highcharts.chart('c', {chart: {type: 'bar'},"
        " series: [{name: 'a', data: [1, 2]}]});"
    )
    assert hc_bar[0]["chart_type"] == "Bar"

    chartjs_bar = charts_from_script(
        "new Chart(ctx, {type: 'bar',"
        " data: {labels: ['x'], datasets: [{label: 'a', data: [1]}]}});"
    )
    assert chartjs_bar[0]["chart_type"] == "Column"

    echarts_bar = charts_from_script(
        "chart.setOption({series: [{name: 'a', type: 'bar', data: [1]}]});"
    )
    assert echarts_bar[0]["chart_type"] == "Column"


def test_chartconfig_division_after_value_degrades_per_element():
    """ADVICE r3: '/' following a parsed value is division, not a regex
    literal — data: [10/2, 4] loses ONLY the unparseable element, the
    well-formed trailing elements survive."""
    from exstruct_spark.kernels.chartconfig import (
        charts_from_script,
        parse_js_value,
    )

    v, _ = parse_js_value("[10/2, 4]")
    assert [x for x in v if x is not None] == [10, 4]

    charts = charts_from_script(
        "new Chart(ctx, {type: 'line', data: {labels: ['a', 'b', 'c'],"
        " datasets: [{label: 's', data: [10/2, 4, 7]}]}});"
    )
    assert len(charts) == 1
    # 10 parses, '/2' is the unparseable remainder (no expression
    # evaluator); 4 and 7 must NOT be swallowed by a bogus regex-literal
    # scan — only the post-slash operand is lost
    assert charts[0]["series"] == [("s", [10.0, 4.0, 7.0])]


def test_chartconfig_unterminated_unicode_escape_terminates():
    """Review r3 second pass: an unterminated \\u{ escape must decode via
    the bare-char rule, not reset the scan index (a confirmed hang)."""
    from exstruct_spark.kernels.chartconfig import charts_from_script, parse_js_value

    assert parse_js_value(r'"\u{41"')[0] == "u{41"
    charts = charts_from_script(
        "new Chart(ctx, {data:{labels:['\\u{41'], datasets:[{data:[1]}]}})"
    )
    assert len(charts) == 1 and charts[0]["series"] == [("s0", [1.0])]


def test_chartconfig_callback_argument_not_taken_as_config():
    """Highcharts.chart('c', cfg, function(chart){...}) — the callback's
    body must not shadow the real config (review r3 second pass)."""
    from exstruct_spark.kernels.chartconfig import charts_from_script

    charts = charts_from_script("""
    Highcharts.chart('c', {chart:{type:'line'},
      series:[{name:'s1', data:[1,2]}]}, function (chart) {
        console.log(chart); });
    """)
    assert len(charts) == 1
    assert charts[0]["series"] == [("s1", [1.0, 2.0])]
    # arrow-callback variant
    charts2 = charts_from_script(
        "Highcharts.chart('c', {series:[{name:'a', data:[3]}]}, "
        "(chart) => { chart.reflow(); });"
    )
    assert len(charts2) == 1 and charts2[0]["series"] == [("a", [3.0])]


def test_auto_areas_color_only_rows_not_gaps():
    """Review r3 second pass: a bgcolor-only separator row is content per
    the scan's own definition — auto_areas must not split there."""
    html = (
        "<table><tr><td>h1</td><td>h2</td></tr>"
        "<tr><td>a</td><td>1</td></tr>"
        "<tr><td bgcolor='red'></td><td bgcolor='red'></td></tr>"
        "<tr><td>b</td><td>2</td></tr></table>"
    ).encode()
    x = json.loads(
        extract_document("u", html, ExtractOptions(auto_areas=True))[
            "extraction_json"
        ]
    )
    assert x["auto_areas"] == ["A1:B4"]


def test_aria_declared_table_extraction():
    """G7 twin: role=table/row/cell structures are DECLARED tables —
    extracted through the same artifact builder as <table> (coercion,
    aria-colspan merges, colors_map, links, columnheader header signal,
    aria-label as the ListObject-style name) with no detection gates."""
    import json

    from exstruct_spark.config import ExtractOptions
    from exstruct_spark.kernels.dom import parse_html
    from exstruct_spark.kernels.tables import (
        detect_grid_candidates,
        extract_table,
    )

    html = """
    <div role="table" aria-label="Sales Q1">
      <div role="row"><span role="columnheader">region</span>
           <span role="columnheader">rev</span></div>
      <div role="row"><span role="cell">north</span>
           <span role="cell">1.50</span></div>
      <div role="row"><span role="cell" aria-colspan="2"
           style="background:#ff0000">wide</span></div>
      <div role="row"><span role="cell"><a href="/x">link</a></span>
           <span role="cell">7</span></div>
    </div>"""
    root = parse_html(html)
    opts = ExtractOptions()
    node = next(n for n in root.iter() if n.attrs.get("role") == "table")
    art = extract_table(node, 0, opts.detection)
    assert art["name"] == "Sales Q1"
    assert art["range"] == "A1:B4"
    assert art["rows"][1]["c"]["1"] == 1.5          # coerced
    assert art["merged_ranges"] == ["A3:B3"]        # aria-colspan
    assert art["colors_map"] == {"FF0000": [[3, 0]]}
    assert art["rows"][3]["links"] == {"0": "/x"}
    assert art["_metrics"]["header"] is True        # columnheader row

    # the declared path OWNS the subtree: heuristic detection must not
    # re-claim it as a div grid
    assert detect_grid_candidates(rendered_walk(root).containers,
                                  opts.detection) == []


def test_native_table_with_redundant_aria_role():
    """ADVICE r4 (high): a native <table role="table"> — the very common
    redundant-ARIA pattern — must keep the tr/td walk, not route to the
    ARIA row/cell collector (which would find nothing and drop the
    table silently)."""
    out = extract_document(
        "u",
        b"<html><body><table role='table'>"
        b"<tr><td>alpha</td><td>1</td></tr>"
        b"<tr><td>beta</td><td>2</td></tr>"
        b"<tr><td>gamma</td><td>3</td></tr>"
        b"</table></body></html>",
    )
    assert out["n_tables"] == 1
    tab = json.loads(out["extraction_json"])["tables"][0]
    assert tab["range"] == "A1:B3"
    assert tab["rows"][0]["c"] == {"0": "alpha", "1": 1}
    # role="grid" on a native table likewise keeps tr/td
    out2 = extract_document(
        "u",
        b"<table role='grid'><tr><td>a</td><td>1</td></tr>"
        b"<tr><td>b</td><td>2</td></tr><tr><td>c</td><td>3</td></tr>"
        b"</table>",
    )
    assert out2["n_tables"] == 1


def test_aria_role_case_and_whitespace_normalized():
    """ADVICE r4 (low): role=" Table " must be normalized identically at
    the collection site (extract.py) and the claim/extract sites — a
    capitalized role used to be claimed away from detection but never
    collected, silently losing the content."""
    out = extract_document(
        "u",
        b"<html><body><div role=' Table ' aria-label='X'>"
        b"<div role='row'><span role='cell'>a</span>"
        b"<span role='cell'>1</span></div>"
        b"<div role='row'><span role='cell'>b</span>"
        b"<span role='cell'>2</span></div>"
        b"<div role='row'><span role='cell'>c</span>"
        b"<span role='cell'>3</span></div>"
        b"</div></body></html>",
    )
    assert out["n_tables"] == 1
    assert json.loads(out["extraction_json"])["tables"][0]["name"] == "X"


def test_aria_grid_archetype_end_to_end():
    """The aria_grid rich archetype flows through the full engine: one
    declared table, aria-label name, the colspan'd total row merged."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    i = RICH_ARCHETYPES.index("aria_grid")
    page = build_rich_page(i)
    assert page["archetype"] == "aria_grid"
    rec = extract_document(page["url"], page["html"], ExtractOptions())
    ex = json.loads(rec["extraction_json"])
    tables = ex["tables"]
    assert len(tables) == 1
    t = tables[0]
    assert t["name"] == "metrics grid"
    assert t["range"] == "A1:C5"
    assert t["merged_ranges"] == ["A5:C5"]
    assert [t["rows"][0]["c"][str(c)] for c in range(3)] == ["h0", "h1", "h2"]


def test_nested_aria_tables_extract_separately():
    """A role=table nested inside an outer table's cell: the OUTER grid
    must not absorb the inner rows (pruned walk), and the inner table
    extracts as its own artifact through the engine."""
    import json

    from exstruct_spark.config import ExtractOptions
    from exstruct_spark.golden import extract_document
    from exstruct_spark.kernels.dom import parse_html
    from exstruct_spark.kernels.tables import extract_table

    inner = (
        "<div role='table' aria-label='inner'>"
        "<div role='row'><span role='cell'>i1</span>"
        "<span role='cell'>i2</span></div>"
        "</div>"
    )
    html = (
        "<div role='table' aria-label='outer'>"
        "<div role='row'><span role='cell'>a</span>"
        f"<span role='cell'>{inner}</span></div>"
        "<div role='row'><span role='cell'>b</span>"
        "<span role='cell'>c</span></div>"
        "</div>"
    )
    root = parse_html(html)
    opts = ExtractOptions()
    outer_node = next(
        n for n in root.iter() if n.attrs.get("aria-label") == "outer"
    )
    art = extract_table(outer_node, 0, opts.detection)
    assert art["range"] == "A1:B2"  # inner's row did NOT become row 2/3
    # the inner cell's text still contributes to the OUTER cell value
    # (text_content is subtree text, same as a <table> inside a <td>)
    assert art["rows"][0]["c"]["1"] == "i1i2"  # inline spans collapse

    rec = extract_document(
        "https://x/nested", f"<html><body><main>{html}</main></body></html>".encode(),
        ExtractOptions(),
    )
    tables = json.loads(rec["extraction_json"])["tables"]
    names = [t["name"] for t in tables]
    assert "outer" in names and "inner" in names
    inner_art = next(t for t in tables if t["name"] == "inner")
    assert inner_art["range"] == "A1:B1"


def test_aria_adversarial_probes_degrade_not_fail():
    """X3 fallback-not-fail on the declared-table path: nesting bombs,
    row bombs, absurd spans and garbage roles all degrade row-locally
    (caps + truncation flags), never raise, never hang."""
    from exstruct_spark.config import ExtractOptions
    from exstruct_spark.golden import extract_document

    opts = ExtractOptions()
    bomb = ("<div role='table'>" * 3000).encode()
    rec = extract_document("https://x/a", bomb, opts)
    assert rec["status"] == "ok" and rec["n_tables"] == 0

    rows = ("<div role='table'>"
            + "<div role='row'><span role='cell'>x</span></div>" * 20000
            + "</div>").encode()
    rec = extract_document("https://x/b", rows, opts)
    assert rec["status"] == "ok" and rec["n_tables"] == 1
    assert rec["truncated"]  # max_rows cap fired, logged not silent

    span = (b"<div role='table'><div role='row'>"
            b"<span role='cell' aria-colspan='99999'>x</span></div></div>")
    rec = extract_document("https://x/c", span, opts)
    assert rec["status"] == "ok" and rec["n_tables"] == 1

    for html in (b"<div role='table'></div>",
                 b"<div role='table'><div role='row'>"
                 b"<div role='banana'>x</div></div></div>"):
        rec = extract_document("https://x/d", html, opts)
        assert rec["status"] == "ok" and rec["n_tables"] == 0


def _span_then_gap(form: str, rowspan: int, gap: int) -> bytes:
    """A two-column grid: a first row whose first cell spans ``rowspan``
    rows, ``gap`` empty rows, then one data row — as ``<table>`` or as
    an ARIA ``role="table"`` grid."""
    if form == "table":
        head = f"<table><tr><td rowspan='{rowspan}'>top</td><td>x</td></tr>"
        return (head + "<tr></tr>" * gap
                + "<tr><td>tail</td><td>9</td></tr></table>").encode()
    head = (f"<div role='table'><div role='row'><div role='cell' "
            f"aria-rowspan='{rowspan}'>top</div><div role='cell'>x</div></div>")
    return (head + "<div role='row'></div>" * gap
            + "<div role='row'><div role='cell'>tail</div>"
            "<div role='cell'>9</div></div></div>").encode()


@pytest.mark.parametrize("rowspan,gap,want_range,want_truncated", [
    # rows under a tall span count as content: the data row survives
    (251, 250, "A1:B252", False),
    # max_empty_run (200) empty rows end the scan; one fewer does not
    (1, 200, "A1:B1", True),
    (1, 199, "A1:B201", False),
])
@pytest.mark.parametrize("form", ["table", "aria"])
def test_empty_run_rule_same_for_table_and_aria(form, rowspan, gap,
                                                want_range, want_truncated):
    """The ARIA grid applies the ``<table>`` empty-run rule: rows under
    an active rowspan are not empty, and the run ends at
    ``max_empty_run`` empty rows."""
    rec = extract_document("https://x/t", _span_then_gap(form, rowspan, gap))
    (table,) = json.loads(rec["extraction_json"])["tables"]
    assert table["range"] == want_range
    assert bool(table.get("truncated")) is want_truncated
    assert rec["truncated"] is want_truncated


def _cell(text, attrs="", header=False, rowspan=1, colspan=1, href=None):
    """One generated grid cell (see ``_grid_page``)."""
    return (header, text, rowspan, colspan, attrs, href)


def _grid_page(form: str, groups: list, style: str = "") -> str:
    """One declared grid as a page, as ``<table>`` markup or as ARIA
    ``role="table"`` markup.  ``groups`` is ``[(group_attrs, rows)]``;
    ``group_attrs`` None puts the rows directly under the table, a
    string wraps them in a ``<tbody>`` / ``role="rowgroup"`` carrying
    those attributes.  ``rows`` is ``[(row_attrs, cells)]`` with cells
    from ``_cell``."""
    aria = form == "aria"
    out = [f"<html><head><style>{style}</style></head><body>",
           "<div role='table'>" if aria else "<table>"]
    for group_attrs, rows in groups:
        if group_attrs is not None:
            out.append(f"<div role='rowgroup'{group_attrs}>" if aria
                       else f"<tbody{group_attrs}>")
        for row_attrs, cells in rows:
            out.append(f"<div role='row'{row_attrs}>" if aria
                       else f"<tr{row_attrs}>")
            for header, text, rowspan, colspan, attrs, href in cells:
                body = f"<a href='{href}'>{text}</a>" if href else text
                if aria:
                    role = "columnheader" if header else "cell"
                    out.append(
                        f"<div role='{role}' aria-rowspan='{rowspan}' "
                        f"aria-colspan='{colspan}'{attrs}>{body}</div>")
                else:
                    tag = "th" if header else "td"
                    out.append(
                        f"<{tag} rowspan='{rowspan}' colspan='{colspan}'"
                        f"{attrs}>{body}</{tag}>")
            out.append("</div>" if aria else "</tr>")
        if group_attrs is not None:
            out.append("</div>" if aria else "</tbody>")
    out.append("</div>" if aria else "</table>")
    return "".join(out) + "</body></html>"


_ROW_AB = ("", [_cell("a"), _cell("b")])
_ROWS_AB = [{"r": 1, "c": {"0": "a", "1": "b"}}]
# name -> (groups, range, rows, colors_map): what a browser shows
_HIDDEN_AND_PAINT_PROBES = {
    "display_none_cell": (
        [(None, [("", [_cell("a"), _cell("SECRET", " style='display:none'"),
                       _cell("b")])])],
        "A1:B1", _ROWS_AB, None),
    "visibility_hidden_cell": (
        [(None, [("", [_cell("a"),
                       _cell("SECRET", " style='visibility:hidden'"),
                       _cell("b")])])],
        "A1:C1", [{"r": 1, "c": {"0": "a", "2": "b"}}], None),
    "visibility_hidden_row": (
        [(None, [(" style='visibility:hidden'",
                  [_cell("SECRET"), _cell("S2")]), _ROW_AB])],
        "A2:B2", [{"r": 2, "c": {"0": "a", "1": "b"}}], None),
    "visibility_collapse_row": (
        [(None, [(" style='visibility:collapse'",
                  [_cell("SECRET"), _cell("S2")]), _ROW_AB])],
        "A1:B1", _ROWS_AB, None),
    "display_none_rowgroup": (
        [(" style='display:none'", [("", [_cell("SECRET"), _cell("S2")])]),
         ("", [_ROW_AB])],
        "A1:B1", _ROWS_AB, None),
    "painted_rowgroup": (
        [(" style='background:#ff0000'", [_ROW_AB])],
        "A1:B1", _ROWS_AB, {"FF0000": [[1, 0], [1, 1]]}),
}
# a role=cell inside a role=cell is ONE cell (the outer one)
_NESTED_ARIA_CELL = (
    "<div role='table'><div role='row'>"
    "<div role='cell'><div role='cell'>X</div></div>"
    "<div role='cell'>y</div></div></div>")
# a plain display:none wrapper hides the ARIA rows or cells inside it,
# as a display:none <tbody> hides its rows
_HIDDEN_ARIA_ROW_WRAPPER = (
    "<div role='table'><div style='display:none'><div role='row'>"
    "<div role='cell'>SECRET</div><div role='cell'>S2</div></div></div>"
    "<div role='row'><div role='cell'>a</div><div role='cell'>b</div>"
    "</div></div>")
_HIDDEN_ARIA_CELL_WRAPPER = (
    "<div role='table'><div role='row'><div role='cell'>a</div>"
    "<div style='display:none'><div role='cell'>SECRET</div></div>"
    "<div role='cell'>b</div></div></div>")


@pytest.mark.parametrize("form,html,want", [
    pytest.param(form, _grid_page(form, groups), (rng, rows, colors),
                 id=f"{name}-{form}")
    for name, (groups, rng, rows, colors) in _HIDDEN_AND_PAINT_PROBES.items()
    for form in ("table", "aria")
] + [
    pytest.param("aria", _NESTED_ARIA_CELL,
                 ("A1:B1", [{"r": 1, "c": {"0": "X", "1": "y"}}], None),
                 id="nested_cell-aria"),
    pytest.param("aria", _HIDDEN_ARIA_ROW_WRAPPER, ("A1:B1", _ROWS_AB, None),
                 id="hidden_row_wrapper-aria"),
    pytest.param("aria", _HIDDEN_ARIA_CELL_WRAPPER,
                 ("A1:B1", _ROWS_AB, None), id="hidden_cell_wrapper-aria"),
])
def test_hidden_and_paint_rules_same_for_table_and_aria(form, html, want):
    """Hidden cells, rows and rowgroups and rowgroup paint read the same
    in a ``<table>`` and in its ARIA twin: hidden text never reaches the
    artifact, and a nested cell is not a second cell."""
    rec = extract_document("https://x/t", html.encode())
    (table,) = json.loads(rec["extraction_json"])["tables"]
    assert (table["range"], table["rows"], table.get("colors_map")) == want


def test_nested_table_rows_addressed_like_apply_ops():
    """A nested ``<table>``'s rows are not rows of the outer table: the
    outer artifact's row/column of every cell is the address
    ``apply_ops`` edits, so an extract-then-edit client edits the cell
    it read."""
    from exstruct_spark.kernels.edits import apply_ops

    html = ("<table><tr><th>h1</th><th>h2</th></tr>"
            "<tr><td>a<table><tr><td>i1</td></tr></table></td><td>b</td></tr>"
            "<tr><td>c</td><td>d</td></tr></table>")

    def outer_rows(page):
        rec = extract_document("https://x/n", page.encode())
        return json.loads(rec["extraction_json"])["tables"][0]["rows"]

    rows = outer_rows(html)
    assert [row["r"] for row in rows] == [1, 2, 3]
    for row in rows:
        for col in row["c"]:
            edited, status = apply_ops(html, [{
                "op": "set_value", "table": 0, "row": row["r"] - 1,
                "col": int(col), "value": "EDITED"}])
            assert status == ["applied"]
            after = {(r["r"], c): v for r in outer_rows(edited)
                     for c, v in r["c"].items()}
            assert after[(row["r"], col)] == "EDITED"


@pytest.mark.parametrize("form", ["table", "aria"])
def test_table_name_from_own_caption_only(form):
    """A ``<caption>`` names the table it belongs to: an outer table
    (or ARIA container) holding a captioned inner table in a cell does
    not take the inner caption as its name."""
    inner = ("<table><caption>Inner name</caption>"
             "<tr><td>i1</td><td>i2</td></tr></table>")
    if form == "table":
        html = (f"<table><tr><td>a{inner}</td><td>b</td></tr>"
                "<tr><td>c</td><td>d</td></tr></table>")
        want_outer = ""
    else:
        html = (f"<div role='table' aria-label='Outer name'><div role='row'>"
                f"<div role='cell'>a{inner}</div><div role='cell'>b</div>"
                "</div></div>")
        want_outer = "Outer name"
    rec = extract_document("https://x/c", html.encode())
    outer, inner_art = json.loads(rec["extraction_json"])["tables"]
    assert outer.get("name", "") == want_outer
    assert inner_art["name"] == "Inner name"


_GRID_STYLE = (".h{display:none}.v{visibility:hidden}.k{visibility:collapse}"
               ".p{background:#0000ff}")
_grid_attrs = st.sampled_from([
    "", "", "", " hidden", " style='display:none'",
    " style='visibility:hidden'", " style='visibility:collapse'",
    " style='background:#ff0000'", " class='h'", " class='v'", " class='k'",
    " class='p'"])
_grid_cell = st.builds(
    _cell, st.sampled_from(["", "x", "7", "2.5", "Name", "a b"]),
    _grid_attrs, st.booleans(), st.integers(1, 3), st.integers(1, 3),
    st.sampled_from([None, None, "/a", "/b"]))
_grid_groups = st.lists(st.tuples(
    st.none() | _grid_attrs,
    st.lists(st.tuples(_grid_attrs, st.lists(_grid_cell, max_size=4)),
             min_size=1, max_size=4)), min_size=1, max_size=3)


@given(_grid_groups)
@settings(max_examples=300, deadline=None)
def test_table_and_aria_grids_agree(groups):
    """Differential: any generated grid extracts the same as ``<table>``
    markup and as ARIA markup — cells, merges, links, colors, header
    set, range and ``truncated`` — under small caps so truncation and
    the empty-run rule fire too."""
    from exstruct_spark.kernels import tables
    from exstruct_spark.kernels.css import build_resolver

    cfg = DetectionConfig(max_rows=6, max_cols=5, max_empty_run=2)
    grids, artifacts = [], []
    for form in ("table", "aria"):
        root = parse_html(_grid_page(form, groups, _GRID_STYLE))
        css = build_resolver(root.find_all("style"))
        node = next(n for n in root.iter() if n.tag == "table"
                    or n.attrs.get("role") == "table")
        rows = (tables._table_rows(node) if form == "table"
                else tables._aria_rows(node))
        grids.append(tables._expand_grid(
            rows, [], node.find_first("a") is not None, cfg, css))
        artifacts.append(extract_table(node, 0, cfg, css=css))
    assert grids[0] == grids[1]
    assert artifacts[0] == artifacts[1]


def test_bpe_oracle_encode_pass_cap_never_binds():
    """The generated doc_bpe_real DuckDB oracle unrolls greedy encoding
    into a FIXED number of passes (10).  A pass with no applicable merge
    is an exact no-op, so the unroll is exact as long as no pretoken
    needs more passes than that — each pass strictly reduces symbol
    count, so needed passes <= max pretoken length - 1.  Pin that bound
    on both sf corpora (max length 8 today; if the corpus generator
    ever produces 11+-char pretokens this fails loudly instead of the
    oracle silently diverging)."""
    import pandas as pd

    from exstruct_spark.kernels.bpe import pretokenize

    for sf in ("0.001", "0.01"):
        df = pd.read_parquet(f"/root/testdata/sf{sf}/documents.parquet")
        max_len = max(
            (len(w) for t in df["text"].fillna("") for w in pretokenize(t)),
            default=0,
        )
        assert max_len <= 11, (
            f"sf{sf} max pretoken length {max_len} exceeds the oracle's "
            "10-pass encode unroll; raise n_enc_passes in _sql_doc_bpe_real"
        )


def test_cell_edit_ops_kernel():
    """kernels/edits.py: the op family splices the right byte spans —
    nested tables don't confuse row/cell addressing, omitted </tr> is
    tolerated, unknown ops and bad addresses skip without aborting
    (reference edit/types.py PatchStatus parity)."""
    from exstruct_spark.kernels.edits import apply_ops

    inner = "<table><tr><td>i1</td></tr></table>"
    html = (
        "<table>"
        f"<tr><th>h1</th><th>h2</th></tr>"
        f"<tr><td>a{inner}</td><td>b</td></tr>"
        "<tr><td>c</td><td>d</td>"          # omitted </tr>
        "</table>"
    )
    out, st = apply_ops(html, [
        # row 2 col 1 of the OUTER table is 'd' (inner table's cells and
        # rows must not shift the addressing)
        {"op": "set_value", "table": 0, "row": 2, "col": 1, "value": "<D&>"},
        # the nested table is table index 1 in document order
        {"op": "set_value", "table": 1, "row": 0, "col": 0, "value": "I"},
        {"op": "delete_row", "table": 0, "row": 0},
        {"op": "add_row", "table": 0, "row": 0, "values": ["x", "y"],
         "header": True},
        {"op": "set_link", "table": 0, "row": 0, "col": 1, "href": "/y"},
        {"op": "set_value", "table": 0, "row": 9, "col": 0, "value": "no"},
        {"op": "set_fill_color", "table": 0, "row": 0, "col": 0,
         "color": "#123456"},
    ])
    assert st == ["applied"] * 5 + ["skipped", "applied"]
    assert "&lt;D&amp;&gt;" in out
    assert "<tr><td>I</td></tr>" in out.replace("</tr></table>", "</tr></table>")
    assert "h1" not in out                       # deleted header row
    assert '<th style="background:#123456">x</th>' in out
    assert '<th><a href="/y">y</a></th>' in out
    # extraction agrees with the edited structure
    ex = extract_document("u", out.encode())
    tabs = json.loads(ex["extraction_json"])["tables"]
    assert tabs[0]["rows"][0]["c"]["0"] == "x"
    assert tabs[0]["rows"][0]["links"] == {"1": "/y"}
    assert tabs[0]["colors_map"] == {"123456": [[1, 0]]}


def test_cell_edit_fill_color_preserves_other_styles():
    from exstruct_spark.kernels.edits import apply_ops

    html = ('<table><tr><td style="color:red;background:#000">v</td>'
            "</tr></table>")
    out, st = apply_ops(html, [
        {"op": "set_fill_color", "table": 0, "row": 0, "col": 0,
         "color": "#ffffff"},
    ])
    assert st == ["applied"]
    assert "color:red" in out and "background:#ffffff" in out
    assert "#000" not in out


def test_image_pair_harvesting_kernel():
    """Multimodal pairing input (LAION-style): every <img src> is
    collected in document order with alt text, the enclosing figure's
    figcaption (preferred caption), and declared integer dimensions;
    srcless imgs drop, junk dims drop, light mode excludes the family."""
    from exstruct_spark.config import ExtractOptions

    html = (
        "<html><body>"
        "<img src='/a.png' alt='a cat' width='320' height='240'>"
        "<figure><img src='/b.jpg' alt='fallback alt'>"
        "<figcaption>  A dog on a beach </figcaption></figure>"
        "<img alt='no src'>"
        "<img src='/c.webp' width='junk'>"
        "<p>text</p></body></html>"
    ).encode()
    out = extract_document("u", html)
    imgs = json.loads(out["extraction_json"])["images"]
    assert imgs == [
        {"src": "/a.png", "alt": "a cat", "w": 320, "h": 240},
        {"src": "/b.jpg", "alt": "fallback alt",
         "caption": "A dog on a beach"},
        {"src": "/c.webp"},
    ]
    light = extract_document("u", html, ExtractOptions.from_mode("light"))
    assert "images" not in json.loads(light["extraction_json"])


def test_cell_edit_unclosed_td_and_gt_in_attribute():
    """Round-5 review findings: an unclosed <td> whose row DOES close
    must not swallow the </tr> when spliced, and a '>' inside a quoted
    attribute value must not truncate the tag token."""
    from exstruct_spark.kernels.edits import apply_ops

    # unclosed <td> followed by </tr>
    html = "<table><tr><td>x</tr><tr><td>y</td></tr></table>"
    out, st = apply_ops(html, [
        {"op": "set_value", "table": 0, "row": 0, "col": 0, "value": "Z"},
    ])
    assert st == ["applied"]
    assert out == "<table><tr><td>Z</tr><tr><td>y</td></tr></table>"
    ex = extract_document("u", out.encode())
    tabs = json.loads(ex["extraction_json"]).get("tables") or []
    assert tabs, "edited table must still extract"
    assert tabs[0]["rows"][0]["c"]["0"] == "Z"

    # '>' inside a quoted attribute
    html = '<table><tr><td title="a>b">x</td><td>y</td></tr></table>'
    out, st = apply_ops(html, [
        {"op": "set_value", "table": 0, "row": 0, "col": 0, "value": "Q"},
        {"op": "set_fill_color", "table": 0, "row": 0, "col": 1,
         "color": "#ff0000"},
    ])
    assert st == ["applied", "applied"]
    assert '<td title="a>b">Q</td>' in out
    assert '<td style="background:#ff0000">y</td>' in out


def test_bpe_token_count_none_text():
    """Review finding: the warm-path rewrite must keep the old contract
    that None text counts as zero tokens (TypeError would escape the
    ValueError fallback nets)."""
    from exstruct_spark.kernels.bpe import bpe_token_count

    assert bpe_token_count(None, {}, {}) == 0


def test_css_rule_parsing_and_precedence():
    """kernels/css.py: selector parsing (tag/.class/#id compounds,
    unsupported selectors skipped), comment/at-rule handling, and the
    cascade contract — document-order last-wins between rules, inline
    style over class rules, class rules over bgcolor presentational
    hints."""
    from exstruct_spark.kernels.colors import cell_background
    from exstruct_spark.kernels.css import StyleResolver, parse_css_rules
    from exstruct_spark.kernels.dom import parse_html

    rules = parse_css_rules("""
      @charset "utf-8";
      @import url(site.css);           /* statement at-rules: skipped
                                          WITHOUT eating the next rule
                                          (review finding) */
      /* comment with { braces } */
      .a { background-color: red }
      td.b, #x { background: blue; padding: 4px }
      @media print { .a { background-color: white } }
      div > .c { background: green }   /* child combinator: kept */
      .d:hover { background: green }   /* non-structural pseudo: skipped */
      .e { color: green }              /* no kept props: dropped */
      .f { border: 1px solid !important }
      ul + p { background: red }       /* adjacent sibling: kept */
      a b c d e { background: red }    /* chain > MAX_CHAIN: skipped */
      tr:nth-child(2n + 1) { background: gray }  /* structural: kept */
    """)
    assert [
        (chain, combs, spec, [p for p, _v, _i in decls])
        for (chain, combs, spec), decls in rules
    ] == [
        (((None, ("a",), None, (), ()),), (), (0, 1, 0),
         ["background-color"]),
        ((("td", ("b",), None, (), ()),), (), (0, 1, 1), ["background"]),
        (((None, (), "x", (), ()),), (), (1, 0, 0), ["background"]),
        ((("div", (), None, (), ()), (None, ("c",), None, (), ())),
         (">",), (0, 1, 1), ["background"]),
        (((None, ("f",), None, (), ()),), (), (0, 1, 0), ["border"]),
        ((("ul", (), None, (), ()), ("p", (), None, (), ())), ("+",),
         (0, 0, 2), ["background"]),
        ((("tr", (), None, (("child", 2, 1, False),), ()),), (),
         (0, 1, 1), ["background"]),
    ]
    # a stray unpaired quote inside a block is a literal, not an
    # everything-swallowing string (third-review finding)
    r = parse_css_rules(
        "@media screen { a::after { content: it's } } p { background: red }")
    assert len(r) == 1 and r[0][0][0] == (("p", (), None, (), ()),)
    assert rules[4][1] == [("border", "1px solid", True)]  # important flag

    def cell(html):
        return parse_html(html).find_first("td")

    # build via style nodes: same rules, through the real entry point
    root = parse_html(
        "<style>.a { background-color: red }"
        ".a { background-color: lime }"          # doc-order last wins
        "td.b { background: blue }</style>")
    css = StyleResolver(root.find_all("style"))
    assert cell_background(
        css.effective_attrs(cell("<td class='a'>v</td>"))) == "00FF00"
    # inline beats class
    assert cell_background(css.effective_attrs(
        cell("<td class='a' style='background:navy'>v</td>"))) == "000080"
    # class beats the bgcolor presentational hint
    assert cell_background(css.effective_attrs(
        cell("<td class='a' bgcolor='red'>v</td>"))) == "00FF00"
    # tag-qualified class only matches that tag
    assert cell_background(
        css.effective_attrs(cell("<td class='b'>v</td>"))) == "0000FF"
    span = parse_html("<span class='b'>v</span>").find_first("span")
    assert css.effective_attrs(span) is span.attrs  # identity: no match
    # no rules at all: identity even for classed nodes
    from exstruct_spark.kernels.css import build_resolver
    empty = build_resolver([])
    node = cell("<td class='a'>v</td>")
    assert empty.effective_attrs(node) is node.attrs


def test_styled_grid_matches_inline_twin():
    """VERDICT r5 #1 done-criterion: a class-styled layout extracts
    IDENTICALLY to its inline-style twin — same detection, same grid,
    same colors_map — and the styled_grid archetype flows end-to-end
    with the class-declared fill in colors_map."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    def grid(rows_markup):
        return ("<html><body><div>"
                + "".join(rows_markup) + "</div></body></html>").encode()

    vals = [[7, 8, 9], [1, 2, 3, 4, 5], [4, 5, 6], [2]]
    inline_rows = [
        "<div>" + "".join(
            f"<div style='border:1px solid #999'>{v}</div>" for v in row
        ) + "</div>" for row in vals]
    classed_rows = [
        "<div>" + "".join(
            f"<div class='gc'>{v}</div>" for v in row
        ) + "</div>" for row in vals]
    rec_inline = extract_document("http://t/i", grid(inline_rows))
    rec_classed = extract_document(
        "http://t/i",  # same url so the JSONs are byte-comparable
        ("<html><head><style>.gc{border:1px solid #999}</style></head>"
         "<body><div>" + "".join(classed_rows) + "</div></body></html>"
         ).encode())
    ti = json.loads(rec_inline["extraction_json"])["tables"]
    tc = json.loads(rec_classed["extraction_json"])["tables"]
    assert ti == tc and ti[0]["range"] == "A1:E4"

    # archetype end-to-end: border-class div grid detected + the
    # declared table's class fill lands in colors_map
    i = RICH_ARCHETYPES.index("styled_grid")
    page = build_rich_page(i)
    assert page["archetype"] == "styled_grid"
    rec = extract_document(page["url"], page["html"], ExtractOptions())
    ex = json.loads(rec["extraction_json"])
    tables = ex["tables"]
    kinds = [(t.get("kind"), t.get("signal")) for t in tables]
    assert (None, None) in kinds          # the declared <table>
    assert ("grid", "border") in kinds    # the class-bordered layout
    declared = tables[kinds.index((None, None))]
    assert declared["colors_map"] == {"FFEE00": [[1, 0]]}
    bordered = tables[kinds.index(("grid", "border"))]
    assert bordered["range"] == "A1:E4"


def test_css_combinators_and_specificity():
    """VERDICT r6 #1 done-criterion: descendant/child combinator rules
    match against the ancestor path, cascade order is (specificity,
    document order) with id > class > tag, and the combinator-only
    archetype extracts identically to its inline twin."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.kernels.colors import cell_background
    from exstruct_spark.kernels.css import StyleResolver
    from exstruct_spark.kernels.dom import parse_html
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    def resolver(css_text):
        root = parse_html(f"<style>{css_text}</style>")
        return StyleResolver(root.find_all("style"))

    # --- combinator matching against the real ancestor path ---------
    css = resolver(
        "table.pricing td { background: red }"
        ".outer > .inner { background: blue }"
        "div td { background: lime }")
    doc = parse_html(
        "<table class='pricing'><tr><td id='a'>x</td></tr></table>"
        "<table><tr><td id='b'>y</td></tr></table>"
        "<div class='outer'><p class='inner' id='c'></p>"
        "<span><p class='inner' id='d'></p></span></div>"
        "<div><table><tr><td id='e'>z</td></tr></table></div>")
    by_id = {n.get("id"): n for n in doc.iter() if n.get("id")}
    # td under table.pricing matches; td under a bare table does not
    assert cell_background(css.effective_attrs(by_id["a"])) == "FF0000"
    assert css.effective_attrs(by_id["b"]) is by_id["b"].attrs
    # child combinator: direct child matches, grandchild does not
    assert cell_background(css.effective_attrs(by_id["c"])) == "0000FF"
    assert css.effective_attrs(by_id["d"]) is by_id["d"].attrs
    # descendant combinator spans multiple levels
    assert cell_background(css.effective_attrs(by_id["e"])) == "00FF00"

    # --- specificity: id > class > tag, doc order breaks ties --------
    spec = resolver(
        "#win { background: green }"      # id: wins despite doc order
        "td.x { background: blue }"       # 1 class + 1 tag
        ".x { background: red }"          # 1 class: loses to td.x
        "td { background: yellow }")      # tag only: lowest
    cell = parse_html("<td class='x' id='win'>v</td>").find_first("td")
    assert cell_background(spec.effective_attrs(cell)) == "008000"
    cell2 = parse_html("<td class='x'>v</td>").find_first("td")
    assert cell_background(spec.effective_attrs(cell2)) == "0000FF"
    cell3 = parse_html("<td>v</td>").find_first("td")
    assert cell_background(spec.effective_attrs(cell3)) == "FFFF00"
    # equal specificity: document-order last-wins (unchanged contract)
    tie = resolver(".t { background: red } .t { background: lime }")
    cell4 = parse_html("<td class='t'>v</td>").find_first("td")
    assert cell_background(tie.effective_attrs(cell4)) == "00FF00"
    # a combinator chain's specificity counts ALL compounds: div .y
    # (tag+class) beats .y (class) regardless of document order
    chain = resolver(".y { background: red } div .y { background: lime }")
    cell5 = parse_html(
        "<div><td class='y'>v</td></div>").find_first("td")
    assert cell_background(chain.effective_attrs(cell5)) == "00FF00"

    # --- twin identity: combinator-styled grid == inline twin --------
    def grid(rows_markup, head=""):
        return (f"<html><head>{head}</head><body>"
                + rows_markup + "</body></html>").encode()

    vals = [[7, 8, 9], [1, 2, 3, 4, 5], [4, 5, 6], [2]]
    inline = "<div>" + "".join(
        "<div>" + "".join(
            f"<div style='border:1px solid #888'>{v}</div>" for v in row
        ) + "</div>" for row in vals) + "</div>"
    combi = "<div class='pricing'>" + "".join(
        "<div>" + "".join(f"<div>{v}</div>" for v in row) + "</div>"
        for row in vals) + "</div>"
    rec_i = extract_document("http://t/c", grid(inline))
    rec_c = extract_document("http://t/c", grid(
        combi,
        head="<style>div.pricing > div > div "
             "{ border: 1px solid #888 }</style>"))
    ti = json.loads(rec_i["extraction_json"])["tables"]
    tc = json.loads(rec_c["extraction_json"])["tables"]
    assert ti == tc and ti[0]["range"] == "A1:E4"

    # archetype end-to-end: combinator border grid + id-scoped th fill
    i = RICH_ARCHETYPES.index("styled_grid_descendant")
    page = build_rich_page(i)
    assert page["archetype"] == "styled_grid_descendant"
    rec = extract_document(page["url"], page["html"], ExtractOptions())
    ex = json.loads(rec["extraction_json"])
    kinds = [(t.get("kind"), t.get("signal")) for t in ex["tables"]]
    assert ("grid", "border") in kinds
    assert (None, None) in kinds
    declared = ex["tables"][kinds.index((None, None))]
    # same coordinate convention the styled_grid twin pins: header row
    # cells land at [[1, 0], [1, 1]]
    assert declared["colors_map"] == {"00CCFF": [[1, 0], [1, 1]]}
    bordered = ex["tables"][kinds.index(("grid", "border"))]
    assert bordered["range"] == "A1:E4"


def test_css_structural_pseudo_classes():
    """Round 7: structural pseudo-classes — ``tr:nth-child(even)``
    zebra striping (THE standard real-web way tables get row
    backgrounds), full An+B grammar, first/last/only(-of-type)
    variants, row-paint inheritance to cells, and specificity counting
    pseudos in the class bucket.  Twin identity: a zebra-striped table
    extracts the same colors_map as its inline-styled twin."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.kernels.colors import cell_background
    from exstruct_spark.kernels.css import StyleResolver, _parse_nth
    from exstruct_spark.kernels.dom import parse_html
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    # --- An+B grammar ------------------------------------------------
    assert _parse_nth("odd") == (2, 1) and _parse_nth("even") == (2, 0)
    assert _parse_nth("3") == (0, 3) and _parse_nth("2n+1") == (2, 1)
    assert _parse_nth("-n+2") == (-1, 2) and _parse_nth("n") == (1, 0)
    assert _parse_nth("3n-1") == (3, -1)
    assert _parse_nth("garbage") is None and _parse_nth("n+") is None

    def resolver(css_text):
        root = parse_html(f"<style>{css_text}</style>")
        return StyleResolver(root.find_all("style"))

    # --- positional matching over a real sibling list ----------------
    css = resolver(
        "li:nth-child(even) { background: red }"
        "li:first-child { background: blue }"
        "li:last-child { background: lime }"
        "li:nth-child(-n+2) { border-top: 1px solid }"
        "em:only-of-type { background: yellow }")
    doc = parse_html(
        "<ul><li>1</li><li>2</li><li>3</li><li>4</li><li>5</li></ul>"
        "<p><em>solo</em><b>x</b></p>"
        "<p><em>a</em><em>b</em></p>")
    lis = [n for n in doc.iter() if n.tag == "li"]
    bgs = [cell_background(css.effective_attrs(n)) for n in lis]
    # first-child (blue, later rule would lose the tie but -n+2 border
    # doesn't carry background), evens red, last lime
    assert bgs == ["0000FF", "FF0000", None, "FF0000", "00FF00"]
    # -n+2: first two get the border, later ones don't
    assert "border-top" in css.effective_attrs(lis[1])["style"]
    assert "border-top" not in (
        css.effective_attrs(lis[2]).get("style") or "")
    ems = [n for n in doc.iter() if n.tag == "em"]
    assert cell_background(css.effective_attrs(ems[0])) == "FFFF00"
    assert css.effective_attrs(ems[1]) is ems[1].attrs  # two ems: no
    assert css.effective_attrs(ems[2]) is ems[2].attrs

    # nth-of-type counts only same-tag siblings
    t = resolver("p:nth-of-type(2) { background: red }")
    doc2 = parse_html("<div><h1>t</h1><p id='p1'>a</p><p id='p2'>b</p></div>")
    ps = [n for n in doc2.iter() if n.tag == "p"]
    assert t.effective_attrs(ps[0]) is ps[0].attrs
    assert cell_background(t.effective_attrs(ps[1])) == "FF0000"

    # --- specificity: pseudo counts as a class -----------------------
    spec = resolver(
        "tr:first-child { background: red }"   # tag + pseudo = (0,1,1)
        "tr { background: blue }")             # tag only: loses
    row = parse_html("<table><tr id='r'><td>v</td></tr></table>")
    tr = row.find_first("tr")
    assert cell_background(spec.effective_attrs(tr)) == "FF0000"

    # implied-tbody re-parenting: a <caption>/<colgroup> never counts
    # as a row sibling, so zebra parity matches a browser
    cap = resolver("tr:nth-child(even) { background: #EEF }")
    doc3 = parse_html(
        "<table><caption>c</caption><tr><td>1</td></tr>"
        "<tr><td>2</td></tr><tr><td>3</td></tr></table>")
    trs3 = [n for n in doc3.iter() if n.tag == "tr"]
    assert [cell_background(cap.effective_attrs(t)) for t in trs3] == [
        None, "EEEEFF", None]

    # --- zebra twin identity through the full extractor --------------
    def page(body, head=""):
        return (f"<html><head>{head}</head><body>{body}"
                "</body></html>").encode()

    rows = [("a", 1), ("b", 2), ("c", 3), ("d", 4)]
    striped = ("<table><tr><th>k</th><th>v</th></tr>" + "".join(
        f"<tr><td>{k}</td><td>{v}</td></tr>" for k, v in rows)
        + "</table>")
    inline = ("<table><tr><th>k</th><th>v</th></tr>" + "".join(
        (f"<tr style='background-color:#EEF'><td>{k}</td><td>{v}</td></tr>"
         if i % 2 == 0 else f"<tr><td>{k}</td><td>{v}</td></tr>")
        for i, (k, v) in enumerate(rows)) + "</table>")
    rec_s = extract_document("http://t/z", page(
        striped, head="<style>tr:nth-child(even) "
                      "{ background-color: #EEF }</style>"))
    rec_i = extract_document("http://t/z", page(inline))
    ts = json.loads(rec_s["extraction_json"])["tables"]
    ti = json.loads(rec_i["extraction_json"])["tables"]
    assert ts == ti
    assert ts[0]["colors_map"] == {"EEEEFF": [[2, 0], [2, 1],
                                              [4, 0], [4, 1]]}

    # cell's own background (even a presentational bgcolor hint) wins
    # over the inherited row paint, like a browser
    rec_o = extract_document("http://t/o", page(
        "<table><tr bgcolor='red'><td bgcolor='blue'>x</td>"
        "<td>y</td></tr></table>"))
    cm = json.loads(rec_o["extraction_json"])["tables"][0]["colors_map"]
    assert cm == {"0000FF": [[1, 0]], "FF0000": [[1, 1]]}

    # --- archetype end-to-end ---------------------------------------
    i = RICH_ARCHETYPES.index("striped_table")
    pg = build_rich_page(i)
    assert pg["archetype"] == "striped_table"
    rec = extract_document(pg["url"], pg["html"], ExtractOptions())
    ex = json.loads(rec["extraction_json"])
    zt = [t for t in ex["tables"] if t.get("colors_map")][0]
    painted_rows = {pos[0] for pos in zt["colors_map"]["DDEEFF"]}
    assert painted_rows and all(r % 2 == 0 for r in painted_rows)


def test_css_sibling_attr_not_selectors():
    """Round 7 (continuation): sibling combinators (``tr + tr`` is THE
    canonical row-divider idiom), the full attribute-selector operator
    set, and single-compound ``:not`` — each proven at the resolver
    grain, then the divider_table archetype end-to-end against its
    inline twin."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.kernels.colors import cell_background
    from exstruct_spark.kernels.css import StyleResolver, parse_css_rules
    from exstruct_spark.kernels.dom import parse_html
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    def resolver(css_text):
        root = parse_html(f"<style>{css_text}</style>")
        return StyleResolver(root.find_all("style"))

    # --- attribute-selector operator set -----------------------------
    ops = resolver(
        "[disabled] { background: red }"
        "td[align=right] { background: blue }"
        "a[href^='https:'] { background: lime }"
        "img[src$=\".png\"] { background: yellow }"
        "div[class~=note] { background: navy }"
        "p[lang|=en] { background: teal }"
        "span[title*='mid dle'] { background: olive }"
        "b[data-x='UP' i] { background: maroon }")
    doc = parse_html(
        "<table><tr><td align='right'>1</td><td>2</td></tr></table>"
        "<input disabled><a href='https://x.example/'>l</a>"
        "<a href='http://x.example/'>m</a>"
        "<img src='pic.png'><img src='pic.jpg'>"
        "<div class='a note b'>n</div><div class='notes'>o</div>"
        "<p lang='en-GB'>p</p><p lang='fr'>q</p>"
        "<span title='has mid dle part'>s</span>"
        "<b data-x='up'>B</b>")

    def bg(tag, idx=0):
        nodes = [n for n in doc.iter() if n.tag == tag]
        return cell_background(ops.effective_attrs(nodes[idx]))

    assert bg("input") == "FF0000"          # bare presence, None value
    assert bg("td", 0) == "0000FF" and bg("td", 1) is None
    assert bg("a", 0) == "00FF00" and bg("a", 1) is None   # ^=
    assert bg("img", 0) == "FFFF00" and bg("img", 1) is None  # $=
    assert bg("div", 0) == "000080" and bg("div", 1) is None  # ~= word
    assert bg("p", 0) == "008080" and bg("p", 1) is None    # |= prefix
    assert bg("span") == "808000"           # *= quoted value w/ space
    assert bg("b") == "800000"              # i flag: case-insensitive
    # attr selector counts as a class in specificity: [align] beats tag
    spec = resolver("td[align] { background: red } td { background: blue }")
    td = parse_html("<table><tr><td align='c'>v</td></tr></table>"
                    ).find_first("td")
    assert cell_background(spec.effective_attrs(td)) == "FF0000"

    # --- sibling combinators over the implied-tbody family -----------
    sib = resolver("tr + tr { border-top: 1px solid #666 }"
                   "th ~ th { background: #EEE }")
    t = parse_html(
        "<table><caption>c</caption>"
        "<thead><tr><th>h1</th><th>h2</th><th>h3</th></tr></thead>"
        "<tr><td>1</td></tr><tr><td>2</td></tr><tr><td>3</td></tr>"
        "</table>")
    trs = [n for n in t.iter() if n.tag == "tr"]
    # the thead row has no previous sibling; the FIRST loose row's
    # previous top-level slot is the thead section (a tr can't match a
    # thead), later loose rows get the divider
    assert "border-top" not in (sib.effective_attrs(trs[0]).get("style")
                                or "")
    assert "border-top" not in (sib.effective_attrs(trs[1]).get("style")
                                or "")
    assert "border-top" in sib.effective_attrs(trs[2])["style"]
    assert "border-top" in sib.effective_attrs(trs[3])["style"]
    ths = [n for n in t.iter() if n.tag == "th"]
    assert sib.effective_attrs(ths[0]) is ths[0].attrs
    assert cell_background(sib.effective_attrs(ths[1])) == "EEEEEE"
    assert cell_background(sib.effective_attrs(ths[2])) == "EEEEEE"
    # '+' continues the chain from the SIBLING (h2 + table: the table
    # right after a heading, not any table)
    after = resolver("h2 + table td { background: red }")
    d2 = parse_html("<h2>t</h2><table><tr><td>a</td></tr></table>"
                    "<table><tr><td>b</td></tr></table>")
    tds2 = [n for n in d2.iter() if n.tag == "td"]
    assert cell_background(after.effective_attrs(tds2[0])) == "FF0000"
    assert after.effective_attrs(tds2[1]) is tds2[1].attrs

    # --- :not --------------------------------------------------------
    neg = resolver("tr:not(.total) { background: #FED }"
                   "td:not([align]) { border-left: 1px solid }")
    t3 = parse_html("<table><tr><td align='right'>1</td><td>2</td></tr>"
                    "<tr class='total'><td>3</td></tr></table>")
    trs3 = [n for n in t3.iter() if n.tag == "tr"]
    assert cell_background(neg.effective_attrs(trs3[0])) == "FFEEDD"
    assert cell_background(neg.effective_attrs(trs3[1])) is None
    tds3 = [n for n in t3.iter() if n.tag == "td"]
    assert "border-left" not in (neg.effective_attrs(tds3[0]).get("style")
                                 or "")
    assert "border-left" in neg.effective_attrs(tds3[1])["style"]
    # nested :not is skipped whole, never guessed
    assert parse_css_rules(":not(:not(a)) { background: red }") == []

    # --- :is()/:where() compound lists --------------------------------
    isw = resolver(":is(td, th.x) { background: red }"
                   ":where(li) { background: blue }")
    d7 = parse_html("<table><tr><th class='x'>h</th><th>g</th>"
                    "<td>1</td></tr></table><ul><li>i</li></ul>")
    assert cell_background(isw.effective_attrs(d7.find_first("td"))) \
        == "FF0000"
    ths7 = [nn for nn in d7.iter() if nn.tag == "th"]
    assert cell_background(isw.effective_attrs(ths7[0])) == "FF0000"
    assert isw.effective_attrs(ths7[1]) is ths7[1].attrs  # th w/o .x: no
    li7 = d7.find_first("li")
    assert cell_background(isw.effective_attrs(li7)) == "0000FF"
    # :is takes MAX arg specificity (beats a plain class rule written
    # later); :where takes zero (loses to a later tag rule)
    sp = resolver(":is(#z, td) { background: red }"
                  ".y { background: blue }"
                  ":where(.k) { background: lime }"
                  "em { background: navy }")
    d8 = parse_html("<table><tr><td class='y'>v</td></tr></table>"
                    "<em class='k'>e</em>")
    # (1,0,0) from :is(#z, td) beats (0,1,0) of .y despite doc order
    assert cell_background(sp.effective_attrs(d8.find_first("td"))) \
        == "FF0000"
    # :where = (0,0,0) loses to the later (0,0,1) tag rule
    assert cell_background(sp.effective_attrs(d8.find_first("em"))) \
        == "000080"
    # combinators inside :is are out of scope: whole selector skips
    assert parse_css_rules(":is(div td) { background: red }") == []

    # --- CSS ident escapes (the Tailwind idiom) -----------------------
    tw = resolver(r".md\:border { border: 1px solid }"
                  r".w-\[10px\] { background: #EEE }")
    dtw = parse_html("<div class='md:border'>a</div>"
                     "<div class='w-[10px]'>b</div>")
    divs = [nn for nn in dtw.iter() if nn.tag == "div"]
    assert "border" in tw.effective_attrs(divs[0])["style"]
    assert cell_background(tw.effective_attrs(divs[1])) == "EEEEEE"

    # --- @media/@supports descent (flattened, document order) --------
    flat = parse_css_rules(
        ".a { background: red }"
        "@media screen { .b { background: blue } }"
        "@media print { .c { background: white } }"   # print: skipped
        "@media (min-width: 600px) { @media screen and (max-width: 900px)"
        " { .d { border: 1px solid } } }"             # nested: flattened
        "@supports (display: grid) { .e { background: lime } }"
        "@keyframes spin { from { background: red } }"  # skipped whole
        ".f { background: gray }")
    names = [chain[0][1][0] for (chain, _c, _s), _d in flat]
    assert names == ["a", "b", "d", "e", "f"]
    # a screen @media rule really styles elements end-to-end
    mq = resolver("@media screen { tr + tr { border-top: 1px solid } }")
    t4 = parse_html("<table><tr><td>1</td></tr><tr><td>2</td></tr></table>")
    trs4 = [nn for nn in t4.iter() if nn.tag == "tr"]
    assert "border-top" in mq.effective_attrs(trs4[1])["style"]

    # --- !important priority (author-origin cascade levels) ----------
    imp = resolver(".warn { background-color: #FCF8E3 !important }"
                   "#big td { background: red }")
    d5 = parse_html("<table id='big'><tr>"
                    "<td class='warn' style='background: navy'>a</td>"
                    "<td style='background: navy !important'>b</td>"
                    "</tr></table>")
    tds5 = [nn for nn in d5.iter() if nn.tag == "td"]
    # rule important beats inline normal AND the higher-specificity
    # normal #id rule
    assert cell_background(imp.effective_attrs(tds5[0])) == "FCF8E3"
    # inline important beats rule normal (and would beat rule important)
    assert cell_background(imp.effective_attrs(tds5[1])) == "000080"
    imp2 = resolver("td { background: lime !important }")
    d6 = parse_html("<table><tr><td style='background: red !important'>"
                    "x</td></tr></table>")
    td6 = d6.find_first("td")
    assert cell_background(imp2.effective_attrs(td6)) == "FF0000"

    # --- tokenizer survives quoted combinator/space values -----------
    q = parse_css_rules("td[title=\"a > b\"] { background: red }")
    assert len(q) == 1
    (chain, combs, _spec), _decls = q[0]
    assert len(chain) == 1 and combs == ()
    assert chain[0][4] == (("title", "=", "a > b", False),)

    # --- divider twin identity through the full extractor ------------
    def page(body, head=""):
        return (f"<html><head>{head}</head><body>{body}"
                "</body></html>").encode()

    rows = [("a", 10), ("b", 20), ("c", 30)]
    plain = ("<table><tr><th>k</th><th>v</th></tr>" + "".join(
        f"<tr><td>{k}</td><td align='right'>{v}</td></tr>"
        for k, v in rows) + "</table>")
    # tr + tr matches EVERY row with a previous sibling — the header is
    # the first data row's sibling, so all three data rows divide
    divider = ' style="border-top:1px solid #666"'
    inline = ("<table><tr><th>k</th><th>v</th></tr>" + "".join(
        ("<tr" + divider + ">"
         f"<td>{k}</td>"
         f"<td align='right' style='background-color:#F5F5DC'>{v}</td>"
         "</tr>")
        for k, v in rows) + "</table>")
    rec_s = extract_document("http://t/d", page(
        plain, head="<style>tr + tr { border-top: 1px solid #666 } "
                    "td[align=right] { background-color: #F5F5DC }"
                    "</style>"))
    rec_i = extract_document("http://t/d", page(inline))
    ts = json.loads(rec_s["extraction_json"])["tables"]
    ti = json.loads(rec_i["extraction_json"])["tables"]
    assert ts == ti
    assert ts[0]["colors_map"] == {"F5F5DC": [[2, 1], [3, 1], [4, 1]]}

    # --- archetype end-to-end ----------------------------------------
    i = RICH_ARCHETYPES.index("divider_table")
    pg = build_rich_page(i)
    assert pg["archetype"] == "divider_table"
    rec = extract_document(pg["url"], pg["html"], ExtractOptions())
    ex = json.loads(rec["extraction_json"])
    dv = [tb for tb in ex["tables"] if tb.get("colors_map")][0]
    painted = dv["colors_map"]["F5F5DC"]
    # every painted cell is in the amount column (col 1), rows 2..n
    assert painted and all(pos[1] == 1 and pos[0] >= 2 for pos in painted)


def test_visibility_blank_box_semantics():
    """Round 7 continuation: visibility:hidden paints NOTHING but keeps
    the layout slot — a blank cell that holds its grid position (unlike
    display:none's shift) — while visibility:collapse removes rows/
    row-groups like display:none; invisible text never reaches
    main_text; class-declared visibility resolves through the CSS
    resolver."""
    import json

    from exstruct_spark.golden import extract_document

    def tables_of(html):
        return json.loads(extract_document(
            "http://t/v", html.encode())["extraction_json"])["tables"]

    # hidden cell: blank but occupying — column positions hold (the
    # sparse row model expresses the blank as an absent key while 'c'
    # KEEPS column 2; display:none would have shifted it to column 1)
    t = tables_of(
        "<html><body><table>"
        "<tr><td>a</td><td style='visibility:hidden'>SECRET</td>"
        "<td>c</td></tr>"
        "<tr><td>d</td><td>e</td><td>f</td></tr>"
        "</table></body></html>")[0]
    assert t["rows"] == [
        {"r": 1, "c": {"0": "a", "2": "c"}},
        {"r": 2, "c": {"0": "d", "1": "e", "2": "f"}}], t["rows"]
    assert "SECRET" not in json.dumps(t)

    # collapse row: removed, later rows shift up (like display:none)
    t2 = tables_of(
        "<html><body><table>"
        "<tr><td>k</td><td>v</td></tr>"
        "<tr style='visibility:collapse'><td>gone</td><td>row</td></tr>"
        "<tr><td>x</td><td>y</td></tr>"
        "</table></body></html>")[0]
    assert len(t2["rows"]) == 2 and "gone" not in json.dumps(t2)

    # hidden ROW: stays in the grid, all cells blank, paints nothing
    t3 = tables_of(
        "<html><head><style>.ghost { visibility: hidden }</style>"
        "</head><body><table>"
        "<tr><td>k</td><td>v</td></tr>"
        "<tr class='ghost' style='background:#F00'>"
        "<td>unseen</td><td>row</td></tr>"
        "<tr><td>x</td><td>y</td></tr>"
        "</table></body></html>")
    # the blank row HOLDS its slot: the next row is r=3 (collapse or
    # display:none would have pulled it up to r=2), the blank row
    # itself has no sparse entry
    assert t3[0]["rows"] == [
        {"r": 1, "c": {"0": "k", "1": "v"}},
        {"r": 3, "c": {"0": "x", "1": "y"}}], t3[0]["rows"]
    assert "unseen" not in json.dumps(t3[0])
    assert not t3[0].get("colors_map")

    # invisible text never reaches main_text (inline and class forms)
    rec = extract_document("http://t/vt", (
        "<html><head><style>.sr { visibility: hidden }</style></head>"
        "<body><p>Visible words that form real page content here.</p>"
        "<p style='visibility:hidden'>invisible inline words</p>"
        "<div class='sr'>invisible class words</div>"
        "</body></html>").encode())
    assert "Visible words" in rec["main_text"]
    assert "invisible" not in rec["main_text"]


def test_rendered_visibility_contract():
    """Round 7: the extractor sees what a browser RENDERS — template/
    noscript subtrees are inert (no text, no tables, no links from
    them), hidden/display:none content drops (attr, inline, and
    class-declared .hidden via the resolver), hidden table rows shift
    later rows up, hidden cells shift left, and a later display
    override un-hides (last-wins)."""
    import json

    from exstruct_spark.golden import extract_document

    html = ("<html><head><style>.gone{display:none}</style></head><body>"
            "<p>This is the visible article text with plenty of words "
            "to keep around.</p>"
            "<template><p>template markup must never appear anywhere "
            "in the output</p>"
            "<table><tr><td>t1</td><td>t2</td></tr></table>"
            "<a href='/tpl'>tpl</a></template>"
            "<div hidden><p>hidden attribute text must never appear "
            "in the output</p></div>"
            "<p style='display:none'>inline display-none text must "
            "never appear</p>"
            "<p class='gone'>class-hidden banner text must never "
            "appear in output</p>"
            "<p style='display:none;display:block'>later display "
            "override keeps this text visible in the page</p>"
            "<table><tr><td>a</td><td>1</td></tr>"
            "<tr hidden><td>secret</td><td>2</td></tr>"
            "<tr class='gone'><td>classgone</td><td>3</td></tr>"
            "<tr><td>b</td><td style='display:none'>shifted</td>"
            "<td>4</td></tr></table>"
            "<table hidden><tr><td>h1</td><td>h2</td></tr></table>"
            "<div class='gone'><table><tr><td>x</td><td>9</td></tr>"
            "</table></div>"
            "</body></html>").encode()
    rec = extract_document("http://t/vis", html)
    txt = rec["main_text"]
    assert "visible article text" in txt
    assert "override keeps this text" in txt
    for banned in ("template markup", "hidden attribute", "display-none",
                   "class-hidden"):
        assert banned not in txt
    ex = json.loads(rec["extraction_json"])
    # exactly ONE table survives: visible rows only, hidden row/cell
    # positions re-flowed like a browser lays them out
    assert len(ex["tables"]) == 1
    t = ex["tables"][0]
    assert t["range"] == "A1:B2"
    assert t["rows"] == [{"r": 1, "c": {"0": "a", "1": 1}},
                         {"r": 2, "c": {"0": "b", "1": 4}}]
    # template links never reach links_map
    assert "/tpl" not in json.dumps(ex.get("links_map", {}))

    # heuristic div-grids obey the same contract: a hidden container or
    # a template subtree never yields a grid candidate
    grid = "".join(
        "<div>" + "".join(
            f"<div style='border:1px solid #888'>{r * 3 + c}</div>"
            for c in range(3)) + "</div>"
        for r in range(4))
    html2 = (f"<html><body>"
             f"<div style='display:none'><div>{grid}</div></div>"
             f"<template><div>{grid}</div></template>"
             f"<div>{grid}</div></body></html>").encode()
    ex2 = json.loads(extract_document(
        "http://t/hg", html2)["extraction_json"])
    grids = [t for t in ex2["tables"] if t.get("kind") == "grid"]
    assert len(grids) == 1 and grids[0]["range"] == "A1:C4"

    # rowgroup layer: thead paint inherits to header cells (the
    # standard header-band idiom) and a hidden tbody hides its rows
    html3 = ("<html><head><style>thead{background:#333}</style></head>"
             "<body><table><thead><tr><th>k</th><th>v</th></tr></thead>"
             "<tbody><tr><td>a</td><td>1</td></tr></tbody>"
             "<tbody hidden><tr><td>x</td><td>9</td></tr></tbody>"
             "</table></body></html>").encode()
    t3 = json.loads(extract_document(
        "http://t/rg", html3)["extraction_json"])["tables"][0]
    assert t3["range"] == "A1:B2"
    assert t3["colors_map"] == {"333333": [[1, 0], [1, 1]]}


def test_stylesheet_media_print_filter():
    """Round 7: a print-only stylesheet never styles the rendered page
    — the kernel's stylesheets field, which is also the corpus join's
    key list, skips media='print' links unless the media list also
    names screen/all."""
    import json

    from exstruct_spark.golden import extract_document

    html = ("<html><head>"
            "<link rel='stylesheet' href='/screen.css'>"
            "<link rel='stylesheet' media='print' href='/print.css'>"
            "<link rel='stylesheet' media='screen, print' "
            "href='/both.css'></head><body>"
            "<p>Enough visible words for a content block here.</p>"
            "</body></html>").encode()
    ex = json.loads(extract_document(
        "http://t/m", html)["extraction_json"])
    assert ex["stylesheets"] == ["http://t/screen.css",
                                 "http://t/both.css"]

    # rel="alternate stylesheet" is a user-selectable theme: never
    # applied (or listed) by default, like a browser
    html_alt = ("<html><head>"
                "<link rel='stylesheet' href='/main.css'>"
                "<link rel='alternate stylesheet' title='dark' "
                "href='/dark.css'>"
                "<link rel='stylesheet' disabled href='/off.css'>"
                "</head><body>"
                "<p>Enough visible words for a content block here.</p>"
                "</body></html>").encode()
    ex_alt = json.loads(extract_document(
        "http://t/alt", html_alt)["extraction_json"])
    assert ex_alt["stylesheets"] == ["http://t/main.css"]

    # print-only <style> blocks are skipped by the resolver the same
    # way; screen/all (or no media) blocks apply
    html2 = ("<html><head>"
             "<style media='print'>td { background: #F00 }</style>"
             "<style media='screen'>td { background: #0F0 }</style>"
             "</head><body><table><tr><td>x</td><td>y</td></tr>"
             "</table></body></html>").encode()
    t2 = json.loads(extract_document(
        "http://t/mp", html2)["extraction_json"])["tables"][0]
    assert t2["colors_map"] == {"00FF00": [[1, 0], [1, 1]]}


def test_colgroup_column_paint():
    """Round 7: <colgroup>/<col> column backgrounds (span-expanded,
    class-rule-resolvable) inherit to cells under the browser's paint
    order — cell's own background > row paint > column paint — and a
    hostile span is capped, never expanded."""
    import json

    from exstruct_spark.golden import extract_document

    html = ("<html><body><table>"
            "<colgroup><col><col span='2' style='background:#FFEE00'>"
            "</colgroup>"
            "<tr><td>a</td><td>1</td><td>2</td></tr>"
            "<tr style='background:#DDEEFF'><td>b</td>"
            "<td bgcolor='red'>3</td><td>4</td></tr>"
            "</table></body></html>").encode()
    cm = json.loads(extract_document(
        "http://t/cg", html)["extraction_json"])["tables"][0]["colors_map"]
    assert cm == {"FFEE00": [[1, 1], [1, 2]],
                  "DDEEFF": [[2, 0], [2, 2]],
                  "FF0000": [[2, 1]]}

    # class-styled <col> resolves through the same CSS resolver
    html2 = ("<html><head><style>col.hl { background: #00FF00 }</style>"
             "</head><body><table><colgroup><col class='hl'><col>"
             "</colgroup><tr><td>x</td><td>y</td></tr></table>"
             "</body></html>").encode()
    cm2 = json.loads(extract_document(
        "http://t/cg2", html2)["extraction_json"])["tables"][0]["colors_map"]
    assert cm2 == {"00FF00": [[1, 0]]}

    # hostile span: capped at max_cols, table still extracts
    html3 = ("<html><body><table><col span='999999' "
             "style='background:#ABCDEF'>"
             "<tr><td>1</td><td>2</td></tr></table></body></html>").encode()
    ex3 = json.loads(extract_document(
        "http://t/cg3", html3)["extraction_json"])
    assert ex3["tables"][0]["colors_map"] == {
        "ABCDEF": [[1, 0], [1, 1]]}


def test_external_css_kernel_cascade():
    """kernels/css.py external-sheet rules (corpus join): they feed the
    same resolver as <style> blocks but cascade BELOW them at equal
    specificity; inline still beats both; caps bound hostile input."""
    import json

    from exstruct_spark.golden import extract_document
    from exstruct_spark.kernels.colors import cell_background
    from exstruct_spark.kernels.css import (
        MAX_RULES, build_resolver, rules_from_sheets)
    from exstruct_spark.kernels.dom import parse_html

    # external rule alone resolves
    ext = rules_from_sheets([".x { background: red }"])
    css = build_resolver([], ext)
    cell = parse_html("<td class='x'>v</td>").find_first("td")
    assert cell_background(css.effective_attrs(cell)) == "FF0000"
    # document <style> beats external at equal specificity
    root = parse_html("<style>.x { background: lime }</style>")
    css2 = build_resolver(root.find_all("style"), ext)
    assert cell_background(css2.effective_attrs(cell)) == "00FF00"
    # but a MORE SPECIFIC external rule still wins (real cascade)
    ext3 = rules_from_sheets(["td.x#i { background: navy }"])
    css3 = build_resolver(root.find_all("style"), ext3)
    cell3 = parse_html("<td class='x' id='i'>v</td>").find_first("td")
    assert cell_background(css3.effective_attrs(cell3)) == "000080"
    # None/empty sheets skipped without dropping later ones
    assert rules_from_sheets([None, "", ".y { background: red }"])
    # rule cap holds across many sheets
    bomb = [".a { background: red }" * 1000] * 10
    assert len(rules_from_sheets(bomb)) <= MAX_RULES

    # kernel end-to-end: extract_document(external_css=...) == inline
    # twin, and the stylesheets field records the resolved link href
    grid = "".join(
        "<div>" + "".join(f"<div>{v}</div>" for v in row) + "</div>"
        for row in [[7, 8, 9], [1, 2, 3, 4, 5], [4, 5, 6], [2]])
    inline = "".join(
        "<div>" + "".join(
            f"<div style='border:1px solid #888'>{v}</div>" for v in row
        ) + "</div>" for row in [[7, 8, 9], [1, 2, 3, 4, 5], [4, 5, 6], [2]])
    rec_ext = extract_document(
        "http://t/x",
        ("<html><head><base href='https://cdn.example/a/'>"
         "<link rel='stylesheet' href='site.css'></head>"
         "<body><div class='pricing'>" + grid + "</div></body></html>"
         ).encode(),
        external_css=["div.pricing > div > div { border: 1px solid #888 }"],
    )
    rec_inl = extract_document(
        "http://t/x",
        ("<html><body><div>" + inline + "</div></body></html>").encode())
    ex, ei = (json.loads(r["extraction_json"]) for r in (rec_ext, rec_inl))
    assert ex["tables"] == ei["tables"]
    # base-href-resolved stylesheet ref recorded as metadata
    assert ex["stylesheets"] == ["https://cdn.example/a/site.css"]


def test_chartconfig_vegalite_dialect():
    """Vega-Lite (fifth dialect): pure-JSON specs via vegaEmbed calls
    and application/json blocks.  Covers color-field series splitting,
    bar orientation from the quantitative channel, arc->Pie with
    theta/color, title objects, url-bound data skipped, and the
    end-to-end archetype with companion-grid binding."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.kernels.chartconfig import charts_from_script
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    charts = charts_from_script("""
      vegaEmbed('#v1', {
        "$schema": "https://vega.github.io/schema/vega-lite/v5.json",
        title: {text: 'Quarterly'}, mark: 'bar',
        data: {values: [
          {q: 'a', n: 1, g: 'east'}, {q: 'b', n: 2.5, g: 'east'},
          {q: 'a', n: 4, g: 'west'}, {q: 'b', n: 5, g: 'west'},
        ]},
        encoding: {x: {field: 'q', type: 'nominal'},
                   y: {field: 'n', type: 'quantitative'},
                   color: {field: 'g', type: 'nominal'}},
      });
      vegaEmbed('#v2', {mark: 'bar',
        data: {values: [{v: 5, r: 'r1'}, {v: 7, r: 'r2'}]},
        encoding: {x: {field: 'v', type: 'quantitative'},
                   y: {field: 'r', type: 'nominal'}}});
      vegaEmbed('#v3', {mark: {type: 'arc'},
        data: {values: [{k: 'x', t: 10}, {k: 'y', t: 20}]},
        encoding: {theta: {field: 't', type: 'quantitative'},
                   color: {field: 'k', type: 'nominal'}}});
      vegaEmbed('#v4', {mark: 'line', data: {url: 'remote.json'},
        encoding: {x: {field: 'a'}, y: {field: 'b'}}});
    """)
    assert [c["chart_type"] for c in charts] == ["Column", "Bar", "Pie"]
    q = charts[0]
    assert q["title"] == "Quarterly"
    assert q["labels"] == ["a", "b"]
    assert q["series"] == [("east", [1.0, 2.5]), ("west", [4.0, 5.0])]
    assert charts[1]["labels"] == ["r1", "r2"]
    assert charts[2]["labels"] == ["x", "y"]
    assert charts[2]["series"] == [("t", [10.0, 20.0])]

    # whole-script JSON embedding (script type=application/json)
    spec = {"$schema": "https://vega.github.io/schema/vega-lite/v5.json",
            "mark": "line", "title": "Trend",
            "data": {"values": [{"x": "m1", "y": 3}, {"x": "m2", "y": 4}]},
            "encoding": {"x": {"field": "x", "type": "ordinal"},
                         "y": {"field": "y", "type": "quantitative"}}}
    charts = charts_from_script(json.dumps(spec))
    assert len(charts) == 1 and charts[0]["chart_type"] == "Line"
    assert charts[0]["series"] == [("y", [3.0, 4.0])]
    # a JSON block WITHOUT the vega-lite $schema is not a chart
    spec.pop("$schema")
    assert charts_from_script(json.dumps(spec)) == []

    # archetype end-to-end: typed chart bound to the companion grid
    i = RICH_ARCHETYPES.index("vegalite_chart")
    page = build_rich_page(i)
    assert page["archetype"] == "vegalite_chart"
    rec = extract_document(page["url"], page["html"], ExtractOptions())
    ex = json.loads(rec["extraction_json"])
    chart = ex["charts"][0]
    assert chart["chart_type"] == "Column"
    assert chart["title"] == "Unit shipments"
    names = [s["name"] for s in chart["series"]]
    assert names == ["north", "south"]
    assert all("y_range" in s for s in chart["series"])


def test_chartconfig_apexcharts_dialect():
    """Round 7 continuation (seventh JS dialect): ApexCharts configs —
    lowercase xaxis/yaxis, chart.type where 'bar' is VERTICAL unless
    plotOptions.bar.horizontal, the numeric-series + labels pie form —
    parse through the shared series-list converter, and the apex_chart
    archetype binds to its companion grid end-to-end."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.kernels.chartconfig import charts_from_script
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    col = charts_from_script(
        "var options = { chart: { type: 'bar' },"
        " plotOptions: { bar: { horizontal: false } },"
        " series: [{ name: 'Net', data: [44, 55] },"
        "          { name: 'Rev', data: [76, 85] }],"
        " xaxis: { categories: ['Feb', 'Mar'] },"
        " yaxis: { title: { text: '$k' } },"
        " title: { text: 'Results' } };"
        "var chart = new ApexCharts(document.querySelector('#c'),"
        " options); chart.render();")
    assert col == [{
        "chart_type": "Column", "title": "Results",
        "labels": ["Feb", "Mar"],
        "series": [("Net", [44.0, 55.0]), ("Rev", [76.0, 85.0])],
        "y_axis_title": "$k"}]
    # apex 'bar' flips to horizontal ONLY via plotOptions (Highcharts
    # keeps its own semantics: bar == horizontal)
    hbar = charts_from_script(
        "new ApexCharts(el, { chart: { type: 'bar' },"
        " plotOptions: { bar: { horizontal: true } },"
        " series: [{ data: [400, 430] }],"
        " xaxis: { categories: ['KR', 'CA'] } }).render();")
    assert hbar[0]["chart_type"] == "Bar"
    hc = charts_from_script(
        "Highcharts.chart('c', { chart: { type: 'bar' },"
        " series: [{ name: 'x', data: [1, 2] }],"
        " xAxis: { categories: ['a', 'b'] } });")
    assert hc[0]["chart_type"] == "Bar"
    # Highcharts uses plotOptions too — its presence alone (even a
    # plotOptions.bar block without a 'horizontal' key) must not flip
    # the dialect to apex semantics
    hc2 = charts_from_script(
        "Highcharts.chart('c', { chart: { type: 'bar' },"
        " plotOptions: { bar: { dataLabels: { enabled: true } } },"
        " series: [{ data: [1, 2] }],"
        " xAxis: { categories: ['a', 'b'] } });")
    assert hc2[0]["chart_type"] == "Bar"
    # donut: plain-number series + top-level labels
    pie = charts_from_script(
        "new ApexCharts(q('#d'), { chart: { type: 'donut' },"
        " series: [44, 55, 41],"
        " labels: ['A', 'B', 'C'] });")
    assert pie == [{
        "chart_type": "Pie", "title": "", "labels": ["A", "B", "C"],
        "series": [("s0", [44.0, 55.0, 41.0])]}]

    # archetype end-to-end: typed chart bound to the companion grid
    i = RICH_ARCHETYPES.index("apex_chart")
    page = build_rich_page(i)
    assert page["archetype"] == "apex_chart"
    rec = extract_document(page["url"], page["html"], ExtractOptions())
    ex = json.loads(rec["extraction_json"])
    chart = ex["charts"][0]
    assert chart["chart_type"] == "Column"
    assert chart["title"] == "Quarterly units"
    assert chart["y_axis_title"] == "units"
    assert [s["name"] for s in chart["series"]] == ["units"]
    assert all("y_range" in s for s in chart["series"])


def test_chartconfig_amcharts_dialect():
    """Round 7 continuation (eighth JS dialect): amCharts v3 classic —
    dataProvider rows + categoryField labels + graphs[].valueField
    series, the pie titleField/valueField form, rotate for horizontal
    bars — and the amcharts_chart archetype end-to-end."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.kernels.chartconfig import charts_from_script
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    serial = charts_from_script(
        'AmCharts.makeChart("c", {"type": "serial",'
        '"categoryField": "country",'
        '"titles": [{"text": "Visits"}],'
        '"valueAxes": [{"title": "n"}],'
        '"dataProvider": [{"country": "USA", "visits": 30, "clicks": 1},'
        '{"country": "CN", "visits": 18, "clicks": 2}],'
        '"graphs": [{"valueField": "visits", "title": "Visits",'
        ' "type": "column"}, {"valueField": "clicks"}]});')
    assert serial == [{
        "chart_type": "Column", "title": "Visits",
        "labels": ["USA", "CN"],
        "series": [("Visits", [30.0, 18.0]), ("clicks", [1.0, 2.0])],
        "y_axis_title": "n"}]
    # rotate: true is the horizontal-bar form
    rot = charts_from_script(
        'AmCharts.makeChart("c", {"type": "serial", "rotate": true,'
        '"categoryField": "k",'
        '"dataProvider": [{"k": "a", "v": 1}],'
        '"graphs": [{"valueField": "v", "type": "column"}]});')
    assert rot[0]["chart_type"] == "Bar"
    # pie form: titleField/valueField at the config level
    pie = charts_from_script(
        'AmCharts.makeChart("p", {"type": "pie",'
        '"titleField": "country", "valueField": "litres",'
        '"dataProvider": [{"country": "CZ", "litres": 156.9},'
        '{"country": "IE", "litres": 131.1}]});')
    assert pie == [{
        "chart_type": "Pie", "title": "", "labels": ["CZ", "IE"],
        "series": [("litres", [156.9, 131.1])]}]

    # archetype end-to-end: typed chart bound to the companion grid
    i = RICH_ARCHETYPES.index("amcharts_chart")
    page = build_rich_page(i)
    assert page["archetype"] == "amcharts_chart"
    rec = extract_document(page["url"], page["html"], ExtractOptions())
    ex = json.loads(rec["extraction_json"])
    chart = ex["charts"][0]
    assert chart["chart_type"] == "Column"
    assert chart["title"] == "Country visits"
    assert chart["y_axis_title"] == "visits"
    assert [s["name"] for s in chart["series"]] == ["visits"]
    assert all("y_range" in s for s in chart["series"])


def test_chartconfig_c3_billboard_dialect():
    """Ninth JS dialect: C3.js / billboard.js — COLUMN-oriented
    data.columns with the series name leading each array, the data.x
    label column, data.rows header form, axis.rotated horizontal bars,
    per-column data.types, pie columns-as-slices — and the c3_chart
    archetype end-to-end."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.kernels.chartconfig import charts_from_script
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    full = charts_from_script(
        "c3.generate({bindto: '#c',"
        "data: { x: 'x', columns: [['x','a','b'],"
        "['s1', 1, 2], ['s2', 3, 4]], type: 'bar' },"
        "axis: { y: { label: { text: 'Y' } } },"
        "title: { text: 'T' }});")
    assert full == [{
        "chart_type": "Column", "title": "T", "labels": ["a", "b"],
        "series": [("s1", [1.0, 2.0]), ("s2", [3.0, 4.0])],
        "y_axis_title": "Y"}]
    # billboard.js fork: bb.generate, rows form, types dict, plain
    # string axis.y.label, categories labels
    bb = charts_from_script(
        "bb.generate({data: {rows: [['A','B'],[10,20],[30,40]],"
        "types: {A: 'line'}},"
        "axis: {x: {categories: ['p','q']}, y: {label: 'vol'}}});")
    assert bb == [{
        "chart_type": "Line", "title": "", "labels": ["p", "q"],
        "series": [("A", [10.0, 30.0]), ("B", [20.0, 40.0])],
        "y_axis_title": "vol"}]
    # rotated -> horizontal bars
    rot = charts_from_script(
        "c3.generate({data: {columns: [['v', 5]], type: 'bar'},"
        "axis: {rotated: true}});")
    assert rot[0]["chart_type"] == "Bar"
    # pie/donut: each column is ONE slice
    pie = charts_from_script(
        "c3.generate({data: {columns: [['apples', 30], ['pears', 70]],"
        "type: 'donut'}});")
    assert pie == [{
        "chart_type": "Pie", "title": "", "labels": ["apples", "pears"],
        "series": [("value", [30.0, 70.0])]}]

    i = RICH_ARCHETYPES.index("c3_chart")
    page = build_rich_page(i)
    assert page["archetype"] == "c3_chart"
    rec = extract_document(page["url"], page["html"], ExtractOptions())
    ex = json.loads(rec["extraction_json"])
    chart = ex["charts"][0]
    assert chart["chart_type"] == "Column"
    assert chart["title"] == "Monthly throughput"
    assert chart["y_axis_title"] == "ops"
    assert [s["name"] for s in chart["series"]] == ["reads", "writes"]
    assert all("y_range" in s for s in chart["series"])


def test_chartconfig_fusioncharts_dialect():
    """Tenth JS dialect: FusionCharts — new FusionCharts({type,
    dataSource}), STRING values coerced, ms/stacked prefixes and
    2d/3d suffixes stripped from type names, bar* horizontal in this
    dialect, single-series [{label,value}] and multi-series
    categories/dataset forms — and the fusioncharts_chart archetype
    end-to-end."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.kernels.chartconfig import charts_from_script
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    single = charts_from_script(
        "var fc = new FusionCharts({type: 'column2d',"
        "dataSource: {chart: {caption: 'Rev', yAxisName: 'M'},"
        "data: [{label: 'a', value: '12'},"
        "{label: 'b', value: '14.5'}]}});")
    assert single == [{
        "chart_type": "Column", "title": "Rev", "labels": ["a", "b"],
        "series": [("M", [12.0, 14.5])], "y_axis_title": "M"}]
    multi = charts_from_script(
        "new FusionCharts({type: 'mscolumn3d', dataSource: {"
        "chart: {caption: 'C'},"
        "categories: [{category: [{label: 'x'}, {label: 'y'}]}],"
        "dataset: [{seriesname: 'EU', data: [{value: '1'},"
        "{value: '2'}]}, {seriesname: 'US', data: [{value: '3'},"
        "{value: '4'}]}]}});")
    assert multi == [{
        "chart_type": "Column", "title": "C", "labels": ["x", "y"],
        "series": [("EU", [1.0, 2.0]), ("US", [3.0, 4.0])]}]
    # bar* is horizontal in FusionCharts; pie3d -> Pie
    assert charts_from_script(
        "new FusionCharts({type: 'bar2d', dataSource: {chart: {},"
        "data: [{label: 'x', value: 3}]}});")[0]["chart_type"] == "Bar"
    assert charts_from_script(
        "new FusionCharts({type: 'doughnut2d', dataSource: {chart: {},"
        "data: [{label: 'x', value: 3}]}});")[0]["chart_type"] == "Pie"

    i = RICH_ARCHETYPES.index("fusioncharts_chart")
    page = build_rich_page(i)
    assert page["archetype"] == "fusioncharts_chart"
    rec = extract_document(page["url"], page["html"], ExtractOptions())
    ex = json.loads(rec["extraction_json"])
    chart = ex["charts"][0]
    assert chart["chart_type"] == "Column"
    assert chart["title"] == "Regional sales"
    assert chart["y_axis_title"] == "units"
    assert all("y_range" in s for s in chart["series"])


def test_chartconfig_dygraph_dialect():
    """Eleventh JS dialect: Dygraphs — data is a CSV STRING ('+'-joined
    literals) with the header naming x + series, or an array-of-arrays
    with opts.labels; title/ylabel map directly; always Line — and the
    dygraph_chart archetype end-to-end."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.kernels.chartconfig import charts_from_script
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    csv = charts_from_script(
        "g = new Dygraph(document.getElementById('d'),\n"
        "  'Date,Temp,Pressure\\n' +\n"
        "  '2008-05-07,75,100\\n' +\n"
        "  '2008-05-08,70,80\\n',\n"
        "  { title: 'Weather', ylabel: 'F', legend: 'always' });")
    assert csv == [{
        "chart_type": "Line", "title": "Weather",
        "labels": ["2008-05-07", "2008-05-08"],
        "series": [("Temp", [75.0, 70.0]), ("Pressure", [100.0, 80.0])],
        "y_axis_title": "F"}]
    arr = charts_from_script(
        "new Dygraph(el, [[1, 10, 5], [2, 20, 6]],"
        " {labels: ['x', 'A', 'B']});")
    assert arr == [{
        "chart_type": "Line", "title": "", "labels": ["1", "2"],
        "series": [("A", [10.0, 20.0]), ("B", [5.0, 6.0])]}]
    # optionless call; ragged CSV rows drop the missing cells only
    bare = charts_from_script('new Dygraph(el, "x,y\\n1,2\\n3\\n4,5\\n");')
    assert bare[0]["series"] == [("y", [2.0, 5.0])]

    i = RICH_ARCHETYPES.index("dygraph_chart")
    page = build_rich_page(i)
    assert page["archetype"] == "dygraph_chart"
    rec = extract_document(page["url"], page["html"], ExtractOptions())
    ex = json.loads(rec["extraction_json"])
    chart = ex["charts"][0]
    assert chart["chart_type"] == "Line"
    assert chart["title"] == "Station readings"
    assert chart["y_axis_title"] == "deg F"
    assert [s["name"] for s in chart["series"]] == ["High", "Low"]
    assert all("y_range" in s for s in chart["series"])


def test_chartconfig_echarts_object_row_dataset():
    """ECharts dataset.source with OBJECT rows: column order from
    `dimensions` when declared (dimension 0 = category), else the first
    row's key order (ECharts' own detection); a dataset LIST uses its
    first entry."""
    from exstruct_spark.kernels.chartconfig import charts_from_script

    dims = charts_from_script(
        "myChart.setOption({dataset: {dimensions: ['product', 'y15',"
        " 'y16'], source: [{product: 'Matcha', y15: 43.3, y16: 85.8},"
        "{product: 'Milk', y15: 83.1, y16: 73.4}]},"
        "series: [{type: 'bar'}, {type: 'bar'}]});")
    assert dims == [{
        "chart_type": "Column", "title": "",
        "labels": ["Matcha", "Milk"],
        "series": [("y15", [43.3, 83.1]), ("y16", [85.8, 73.4])]}]
    keys = charts_from_script(
        "c.setOption({dataset: {source: [{k:'a', v:1},{k:'b', v:2}]},"
        "series: [{type:'line'}]});")
    assert keys == [{
        "chart_type": "Line", "title": "", "labels": ["a", "b"],
        "series": [("v", [1.0, 2.0])]}]
    lst = charts_from_script(
        "c.setOption({dataset: [{source: [{k:'a', v:5}]}],"
        "series: [{type:'bar'}]});")
    assert lst[0]["series"] == [("v", [5.0])]


def test_chartconfig_chartist_and_frappe_dialects():
    """Thirteenth + fourteenth JS families: Chartist (type in the
    CONSTRUCTOR name — Bar/Line/Pie; series of value arrays or
    {name, data} objects; Pie flat series + labels) and Frappe Charts
    (data.labels + datasets[].values — `values` distinguishes it from
    Chart.js datasets, which always carry `data`)."""
    from exstruct_spark.kernels.chartconfig import charts_from_script

    ct = charts_from_script(
        "new Chartist.Bar('#c', {labels: ['W1','W2'],"
        " series: [[5, 4], [3, 2]]}, {seriesBarDistance: 10});")
    assert ct == [{
        "chart_type": "Column", "title": "", "labels": ["W1", "W2"],
        "series": [("s0", [5.0, 4.0]), ("s1", [3.0, 2.0])]}]
    pie = charts_from_script(
        "new Chartist.Pie('#p', {labels:['a','b'], series:[30,70]});")
    assert pie[0]["chart_type"] == "Pie"
    assert pie[0]["series"] == [("value", [30.0, 70.0])]
    named = charts_from_script(
        "new Chartist.Line('#l', {series: [{name: 'T',"
        " data: [1,2]}]});")
    assert named[0]["series"] == [("T", [1.0, 2.0])]

    fr = charts_from_script(
        "new frappe.Chart('#f', {title: 'Sales',"
        "data: { labels: ['a','b'], datasets: [{name: 'EU',"
        " values: [3, 7]}] }, type: 'bar'});")
    assert fr == [{
        "chart_type": "Column", "title": "Sales", "labels": ["a", "b"],
        "series": [("EU", [3.0, 7.0])]}]
    assert charts_from_script(
        "new frappe.Chart('#x', {type:'percentage',"
        "data:{labels:['y'],datasets:[{values:[1]}]}});"
    )[0]["chart_type"] == "Pie"
    # Chart.js configs (datasets with `data`) still route to chartjs
    cj = charts_from_script(
        "new Chart(ctx, {type: 'bar', data: {labels: ['x'],"
        "datasets: [{label: 'L', data: [9]}]}});")
    assert cj[0]["series"] == [("L", [9.0])]

    # archetypes end-to-end, grid-bound
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page
    for name, n_series in (("chartist_chart", 2), ("frappe_chart", 1)):
        page = build_rich_page(RICH_ARCHETYPES.index(name))
        assert page["archetype"] == name
        rec = extract_document(page["url"], page["html"],
                               ExtractOptions())
        chart = json.loads(rec["extraction_json"])["charts"][0]
        assert chart["chart_type"] == "Column"
        assert len(chart["series"]) == n_series
        assert all("y_range" in s for s in chart["series"])


def test_chartconfig_amcharts4_stockchart_and_pairs():
    """amCharts v4 JSON-config form (createFromConfig: data rows +
    series[].dataFields), Highcharts stockChart/mapChart markers,
    [x, y] pair rows yielding y values, the Highcharts untyped-series
    line default, and empty-series placeholder rejection."""
    from exstruct_spark.kernels.chartconfig import charts_from_script

    v4 = charts_from_script(
        "am4core.createFromConfig({"
        "titles: [{text: 'Sales'}],"
        "data: [{c:'a', v:1, w:9},{c:'b', v:2, w:8}],"
        "series: [{type: 'ColumnSeries', name: 'S',"
        " dataFields: {valueY:'v', categoryX:'c'}},"
        "{type: 'LineSeries', dataFields: {valueY:'w', categoryX:'c'}}]"
        "}, 'div', am4charts.XYChart);")
    assert v4 == [{
        "chart_type": "Column", "title": "Sales", "labels": ["a", "b"],
        "series": [("S", [1.0, 2.0]), ("w", [9.0, 8.0])]}]
    pie = charts_from_script(
        "am4core.createFromConfig({data:[{c:'x',v:30},{c:'y',v:70}],"
        "series:[{type:'PieSeries', dataFields:{value:'v',"
        " category:'c'}}]}, 'd', am4charts.PieChart);")
    assert pie[0]["chart_type"] == "Pie" \
        and pie[0]["labels"] == ["x", "y"]
    # categoryY/valueX is the rotated (horizontal bar) form
    rot = charts_from_script(
        "am4core.createFromConfig({data:[{c:'x',v:3}],"
        "series:[{type:'ColumnSeries', dataFields:{valueX:'v',"
        " categoryY:'c'}}]}, 'd', am4charts.XYChart);")
    assert rot[0]["chart_type"] == "Bar"

    # stockChart marker; [x, y] ms-timestamp pairs yield the y column;
    # untyped Highcharts series default to Line
    hc = charts_from_script(
        "Highcharts.stockChart('c', {title:{text:'AAPL'},"
        "series:[{name:'price', data:[[1609459200000, 132.7],"
        "[1609545600000, 133.9]]}]});")
    assert hc == [{
        "chart_type": "Line", "title": "AAPL", "labels": [],
        "series": [("price", [132.7, 133.9])]}]

    # placeholder configs with no data anywhere emit nothing
    assert charts_from_script(
        "x.setOption({series: [{name: 'n'}]});") == []


def test_make_document_roundtrip():
    """exstruct_make twin (VERDICT r5 #6): extract(make(J)) reproduces
    J's table family — rows, merged_cells, colors_map, links, caption
    name and range — across every declared-table archetype; malformed
    records degrade to skipped entries instead of raising; grid extents
    are capped."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.kernels.make import make_document
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    def extract_tables(html_bytes):
        rec = extract_document("http://t/mk", html_bytes, ExtractOptions())
        return json.loads(rec["extraction_json"]).get("tables", [])

    for name in ("colored_table", "aria_grid", "styled_grid",
                 "vegalite_chart", "plotly_chart"):
        page = build_rich_page(RICH_ARCHETYPES.index(name))
        ex = json.loads(extract_document(
            page["url"], page["html"], ExtractOptions())["extraction_json"])
        declared = [t for t in ex.get("tables", []) if "kind" not in t]
        out = extract_tables(make_document(
            {"title": ex.get("title"), "tables": declared}).encode())
        assert len(out) == len(declared), name
        for a, b in zip(declared, out):
            for k in ("rows", "merged_cells", "colors_map", "name",
                      "range"):
                assert a.get(k) == b.get(k), (name, k)

    # a hand-built record with links and a merged master round-trips too
    J = {"title": "Made", "tables": [{
        "id": 0, "name": "t", "rows": [
            {"r": 1, "c": {"0": "k", "1": "v"},
             "links": {"1": "https://x.example/a"}},
            {"r": 2, "c": {"0": "total", "2": 9}},
        ],
        "merged_cells": {"schema": ["r1", "c1", "r2", "c2", "v"],
                         "items": [[2, 0, 2, 1, "total"]]},
        "colors_map": {"FFEE00": [[1, 0]]},
    }]}
    t = extract_tables(make_document(J).encode())[0]
    assert t["rows"] == J["tables"][0]["rows"]
    assert t["merged_cells"]["items"] == [[2, 0, 2, 1, "total"]]
    assert t["colors_map"] == {"FFEE00": [[1, 0]]}
    assert t["name"] == "t"

    # totality + caps: garbage coordinates skipped, huge spans refused
    bad = {"tables": [
        {"rows": [{"r": "x", "c": {"0": "a"}},
                  {"r": 1, "c": {"zz": "b", "0": "keep"}}]},
        {"merged_cells": {"items": [[1, 0, 10**9, 10**9, "v"],
                                    "junk", [1]]}},
        "not-a-table",
    ]}
    html = make_document(bad)
    assert "keep" in html and len(html) < 10_000


def test_figcaption_table_name_fallback():
    """An enclosing <figure>'s figcaption ('Table 1: ...') names an
    otherwise unnamed table; <caption> and aria-label still win."""
    import json

    from exstruct_spark.config import ExtractOptions
    from exstruct_spark.golden import extract_document

    html = (b"<figure><figcaption>Table 1: Quarterly revenue"
            b"</figcaption><table><tr><th>q</th><th>v</th></tr>"
            b"<tr><td>Q1</td><td>5</td></tr></table></figure>")
    x = json.loads(extract_document(
        "u://fc", html, ExtractOptions())["extraction_json"])
    assert x["tables"][0]["name"] == "Table 1: Quarterly revenue"

    cap = (b"<figure><figcaption>FC</figcaption><table>"
           b"<caption>CAP</caption><tr><th>a</th></tr>"
           b"<tr><td>1</td></tr></table></figure>")
    x2 = json.loads(extract_document(
        "u://c", cap, ExtractOptions())["extraction_json"])
    assert x2["tables"][0]["name"] == "CAP"


def test_pre_blocks_keep_formatting():
    """<pre> blocks emit verbatim: indentation and line breaks are
    content in code, and a training corpus that collapses them ships
    broken code.  <br> inside pre becomes a newline; density scoring
    still uses collapsed text."""
    from exstruct_spark.config import ExtractOptions
    from exstruct_spark.golden import extract_document

    html = (b"<body><p>Intro paragraph long enough to be kept by "
            b"the density gates.</p>"
            b"<pre>def f(x):\n    if x &gt; 0:\n        return x * 2\n"
            b"    return None</pre>"
            b"<pre>first long enough line<br>second long enough line"
            b"</pre></body>")
    t = extract_document("u://pre", html, ExtractOptions())["main_text"]
    assert ("def f(x):\n    if x > 0:\n        return x * 2\n"
            "    return None") in t
    assert "first long enough line\nsecond long enough line" in t


def test_presentation_tables_are_layout():
    """role=presentation/none is the author's own declaration that a
    <table> is LAYOUT (the table-layout-era idiom): it never becomes a
    data table, its block content flows as ordinary main text, and a
    real <table> nested inside it still extracts."""
    import json

    from exstruct_spark.config import ExtractOptions
    from exstruct_spark.golden import extract_document

    html = (
        "<body><table role='presentation'><tr><td>"
        "<h1>Page Title Here</h1>"
        "<p>Layout-table era content paragraph long enough now.</p>"
        "</td><td><table><tr><th>k</th></tr><tr><td>a</td></tr>"
        "</table></td></tr></table>"
        "<p>Outside paragraph long enough for density gates.</p>"
        "</body>"
    )
    rec = extract_document("u://p", html.encode(), ExtractOptions())
    x = json.loads(rec["extraction_json"])
    assert rec["n_tables"] == 1  # only the nested REAL table
    assert x["tables"][0]["rows"][0]["c"] == {"0": "k"}
    assert "Layout-table era content" in rec["main_text"]
    assert "Page Title Here" in rec["main_text"]
    # role=none is the synonym
    none_html = ("<body><table role='none'><tr><td>x</td></tr></table>"
                 "<p>Paragraph long enough for the density gates."
                 "</p></body>")
    rec2 = extract_document("u://n", none_html.encode(),
                            ExtractOptions())
    assert rec2["n_tables"] == 0


def test_main_text_invisible_ink_stripped():
    """Corpus hygiene: soft hyphens, zero-width spaces, word joiners
    and BOMs are stripped from main text on every route; ZWNJ/ZWJ are
    KEPT (orthographically meaningful in Persian/Indic scripts)."""
    from exstruct_spark.config import ExtractOptions
    from exstruct_spark.golden import extract_document

    html = ("<body><p>soft\u00adhyphen zero\u200bwidth "
            "join\u200cZWNJ bom\ufeffX word\u2060joiner "
            "long enough paragraph to be kept by the gates."
            "</p></body>").encode()
    t = extract_document("u://z", html, ExtractOptions())["main_text"]
    assert "softhyphen" in t and "zerowidth" in t
    assert "bomX" in t and "wordjoiner" in t
    assert "join\u200cZWNJ" in t


def test_feed_and_sitemap_routes():
    """G6 dispatch widened with the crawl's other XML kinds: RSS 2.0
    (channel/item, void-parsed <link> URL text recovered, escaped-HTML
    descriptions stripped, podcast enclosures), Atom (entry/link@href
    rel=alternate preferred), urlset/sitemapindex loc inventories with
    caps, and feed main_text for the text-side corpus ops.  The first
    real tag decides — HTML never enters the branch."""
    import json

    from exstruct_spark.config import ExtractOptions
    from exstruct_spark.golden import extract_document
    from exstruct_spark.kernels.feeds import sniff_feed_kind

    rss = (b"<?xml version=\"1.0\"?>\n<!-- c -->\n"
           b"<rss version=\"2.0\"><channel>"
           b"<title>Example Blog</title><link>https://ex.com</link>"
           b"<item><title>Post One</title><link>https://ex.com/1</link>"
           b"<pubDate>Mon, 04 May 2021 08:00:00 GMT</pubDate>"
           b"<description>&lt;p&gt;Summary &lt;b&gt;one&lt;/b&gt;"
           b"&lt;/p&gt;</description>"
           b"<enclosure url=\"https://ex.com/ep1.mp3\" "
           b"type=\"audio/mpeg\" length=\"123\"/></item>"
           b"<item><title>Post Two</title><link>https://ex.com/2</link>"
           b"</item></channel></rss>")
    rec = extract_document("u://feed", rss, ExtractOptions())
    x = json.loads(rec["extraction_json"])
    assert rec["status"] == "ok"
    assert x["content_type"] == "feed" and x["kind"] == "rss"
    assert x["title"] == "Example Blog"
    assert x["items"][0] == {
        "title": "Post One", "link": "https://ex.com/1",
        "published": "Mon, 04 May 2021 08:00:00 GMT",
        "summary": "Summary one",
        "enclosure": "https://ex.com/ep1.mp3",
        "enclosure_type": "audio/mpeg"}
    assert x["items"][1] == {"title": "Post Two",
                             "link": "https://ex.com/2"}
    assert "Post One — Summary one" in rec["main_text"]
    assert rec["n_lists"] == 2  # items ride the list counter

    atom = (b"<feed xmlns=\"http://www.w3.org/2005/Atom\">"
            b"<title>Atom Feed</title>"
            b"<entry><title>E1</title>"
            b"<link rel=\"self\" href=\"https://a/self\"/>"
            b"<link rel=\"alternate\" href=\"https://a/1\"/>"
            b"<published>2022-01-01T00:00:00Z</published>"
            b"<summary>sum one</summary></entry></feed>")
    xa = json.loads(extract_document(
        "u://a", atom, ExtractOptions())["extraction_json"])
    assert xa["kind"] == "atom" and xa["title"] == "Atom Feed"
    assert xa["items"][0]["link"] == "https://a/1"  # alternate wins
    assert xa["items"][0]["published"] == "2022-01-01T00:00:00Z"

    sm = (b"<?xml version=\"1.0\"?><urlset>"
          b"<url><loc>https://e/1</loc>"
          b"<lastmod>2024-01-05</lastmod>"
          b"<changefreq>daily</changefreq></url>"
          b"<url><loc>https://e/2</loc></url></urlset>")
    xs = json.loads(extract_document(
        "u://s", sm, ExtractOptions())["extraction_json"])
    assert xs == {"doc": "u://s", "content_type": "sitemap",
                  "kind": "sitemap", "urls": [
                      {"loc": "https://e/1", "lastmod": "2024-01-05",
                       "changefreq": "daily"},
                      {"loc": "https://e/2"}]}
    smi = (b"<sitemapindex><sitemap><loc>https://e/a.xml</loc>"
           b"<lastmod>2024-02-01</lastmod></sitemap></sitemapindex>")
    xi = json.loads(extract_document(
        "u://si", smi, ExtractOptions())["extraction_json"])
    assert xi["kind"] == "sitemapindex"
    assert xi["urls"] == [{"loc": "https://e/a.xml",
                           "lastmod": "2024-02-01"}]

    # HTML (and junk) never routes as a feed
    assert sniff_feed_kind("<!DOCTYPE html><html>") is None
    assert sniff_feed_kind("plain text, no tags") is None
    # a commented-out <rss> above an HTML page must not misroute
    assert sniff_feed_kind("<!-- <rss v=2> --><html>") is None
    assert sniff_feed_kind("<!-- n -->\n<?xml?><rss>") == "rss"

    # JSON Feed (jsonfeed.org): same record shape as RSS/Atom; junk
    # items skipped + counted; malformed JSON degrades with a reason;
    # plain JSON never routes
    jf = json.dumps({
        "version": "https://jsonfeed.org/version/1.1",
        "title": "JF Blog", "language": "en-GB",
        "items": [
            {"id": "1", "title": "Post", "url": "https://j/1",
             "date_published": "2023-04-01T10:00:00Z",
             "content_text": "Body text here", "tags": ["a", "b"],
             "author": {"name": "Kit"},
             "attachments": [{"url": "https://j/ep.mp3",
                              "mime_type": "audio/mpeg"}]},
            "junk-item",
        ]}).encode()
    jrec = extract_document("u://jf", jf, ExtractOptions())
    jx = json.loads(jrec["extraction_json"])
    assert jx["kind"] == "jsonfeed" and jx["lang"] == "en-gb"
    assert jx["items"][0] == {
        "title": "Post", "link": "https://j/1",
        "published": "2023-04-01T10:00:00Z",
        "summary": "Body text here", "categories": ["a", "b"],
        "author": "Kit", "enclosure": "https://j/ep.mp3",
        "enclosure_type": "audio/mpeg"}
    assert jx["items_truncated"] == 1
    bad = (b'{ "version": "https://jsonfeed.org/version/1",'
           b' items: oops }')
    r2 = extract_document("u://bad", bad, ExtractOptions())
    assert r2["status"] == "fallback" \
        and r2["fallback_reason"].startswith("feed:")
    r3 = extract_document("u://p", b'{"a": 1}', ExtractOptions())
    assert "kind" not in json.loads(r3["extraction_json"])

    # robots.txt: the crawl-governance input — REP group semantics
    # (consecutive user-agent lines share a group), Sitemap directives
    # group-independent, comments stripped, crawl-delay numeric
    rb = (b"# robots\nUser-agent: *\nDisallow: /private/\n"
          b"Allow: /private/ok.html\nCrawl-delay: 2\n\n"
          b"User-agent: BadBot\nUser-agent: WorseBot\nDisallow: /\n\n"
          b"Sitemap: https://ex.com/sitemap.xml\n")
    rrec = extract_document("u://r", rb, ExtractOptions())
    rx = json.loads(rrec["extraction_json"])
    assert rx["content_type"] == "robots"
    assert rx["groups"][0] == {
        "agents": ["*"], "disallow": ["/private/"],
        "allow": ["/private/ok.html"], "crawl_delay": 2.0}
    assert rx["groups"][1] == {"agents": ["BadBot", "WorseBot"],
                               "disallow": ["/"]}
    assert rx["sitemaps"] == ["https://ex.com/sitemap.xml"]
    # an HTML page mentioning 'User-agent:' in text never routes
    hh = extract_document(
        "u://h", b"<html><body>User-agent: joke</body></html>",
        ExtractOptions())
    assert json.loads(hh["extraction_json"]).get(
        "content_type") != "robots"

    # OPML feed inventories (blogrolls / podcast exports): outline
    # xmlUrl is the feed-discovery key; grouping outlines skipped
    opml = (b"<?xml version='1.0'?><opml version='2.0'>"
            b"<head><title>My Feeds</title></head><body>"
            b"<outline text='Tech'>"
            b"<outline text='Blog A' title='Blog A' type='rss'"
            b" xmlUrl='https://a/feed.xml' htmlUrl='https://a/'/>"
            b"<outline text='Blog B' xmlUrl='https://b/rss'/>"
            b"</outline></body></opml>")
    orec = extract_document("u://o", opml, ExtractOptions())
    ox = json.loads(orec["extraction_json"])
    assert ox["content_type"] == "opml" and ox["title"] == "My Feeds"
    assert ox["outlines"] == [
        {"xml_url": "https://a/feed.xml", "title": "Blog A",
         "html_url": "https://a/"},
        {"xml_url": "https://b/rss", "title": "Blog B"}]
    assert "Blog A" in orec["main_text"]

    # feed language claim + item categories (curation join keys)
    rl = (b"<rss><channel><title>T</title>"
          b"<language>en-US</language>"
          b"<item><title>I</title><category>Tech</category>"
          b"<category>AI</category></item></channel></rss>")
    xl = json.loads(extract_document(
        "u://l", rl, ExtractOptions())["extraction_json"])
    assert xl["lang"] == "en-us"
    assert xl["items"][0]["categories"] == ["Tech", "AI"]
    al = (b"<feed xml:lang='de'><title>A</title><entry><title>E"
          b"</title><category term='News'/>"
          b"<author><name>Sam Lee</name><email>s@l</email></author>"
          b"</entry></feed>")
    xal = json.loads(extract_document(
        "u://al", al, ExtractOptions())["extraction_json"])
    assert xal["lang"] == "de"
    assert xal["items"][0]["categories"] == ["News"]
    assert xal["items"][0]["author"] == "Sam Lee"
    ra = (b"<rss><channel><item><title>I</title>"
          b"<author>a@b.c (Jo Doe)</author></item></channel></rss>")
    assert json.loads(extract_document(
        "u://ra", ra, ExtractOptions())["extraction_json"]
    )["items"][0]["author"] == "a@b.c (Jo Doe)"

    # raw-doc archetypes end-to-end (no HTML wrapper): rss, atom,
    # sitemap each route through the dispatch at corpus volume
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page
    i = RICH_ARCHETYPES.index("rss_feed")
    page = build_rich_page(i)
    assert page["archetype"] == "rss_feed"
    frec = extract_document(page["url"], page["html"], ExtractOptions())
    fx = json.loads(frec["extraction_json"])
    assert frec["status"] == "ok" and fx["content_type"] == "feed"
    assert fx["items"] and fx["items"][0]["enclosure"].endswith(".mp3")
    ap = build_rich_page(RICH_ARCHETYPES.index("atom_feed"))
    ax2 = json.loads(extract_document(
        ap["url"], ap["html"], ExtractOptions())["extraction_json"])
    assert ax2["kind"] == "atom" and ax2["lang"] == "en"
    assert ax2["items"][0]["link"].startswith("https://rich.example/e/")
    assert ax2["items"][0]["author"].startswith("Author")
    sp = build_rich_page(RICH_ARCHETYPES.index("sitemap_doc"))
    sx2 = json.loads(extract_document(
        sp["url"], sp["html"], ExtractOptions())["extraction_json"])
    assert sx2["kind"] == "sitemap"
    assert sx2["urls"][0]["loc"].startswith("https://rich.example/page/")
    assert "lastmod" in sx2["urls"][0]
    h = json.loads(extract_document(
        "u://h", b"<html><body><p>hi</p></body></html>",
        ExtractOptions())["extraction_json"])
    assert h.get("content_type") is None


def test_embedded_media_pointers():
    """embeds family: iframe/video/audio/embed/object srcs in one
    document-order bucket — the multimodal-curation input a video/audio
    pipeline mines (a youtube iframe src IS the video URL join key).
    <source> children carry video/audio URLs; about:blank/javascript:
    placeholders skipped; light mode excludes the family."""
    import json

    from exstruct_spark.config import ExtractOptions
    from exstruct_spark.golden import extract_document

    html = (
        "<html><body>"
        "<iframe src='https://www.youtube.com/embed/xyz' title='Video'"
        " width='560' height='315'></iframe>"
        "<video poster='/p.jpg' width='640'>"
        "<source src='/clip.webm' type='video/webm'>"
        "<source src='/clip.mp4'></video>"
        "<audio src='/pod.mp3'></audio>"
        "<embed src='/legacy.swf' type='application/x-shockwave-flash'>"
        "<object data='/doc.pdf' type='application/pdf'></object>"
        "<iframe src='about:blank'></iframe>"
        "<iframe src='javascript:void(0)'></iframe>"
        "<p>Content paragraph long enough to pass density gates ok.</p>"
        "</body></html>"
    )
    rec = extract_document("u://e", html.encode(), ExtractOptions())
    em = json.loads(rec["extraction_json"])["embeds"]
    assert [e["tag"] for e in em] == [
        "iframe", "video", "audio", "embed", "object"]
    assert em[0]["src"] == "https://www.youtube.com/embed/xyz"
    assert em[0]["title"] == "Video" and em[0]["w"] == 560
    assert em[1]["src"] == "/clip.webm" and em[1]["poster"] == "/p.jpg"
    assert em[2]["src"] == "/pod.mp3"
    assert em[4]["src"] == "/doc.pdf"

    # <track> subtitle pointers: the media+transcript pair a speech
    # pipeline mines; capped at 4 per media element
    th = ("<body><video src='/v.mp4'>"
          "<track src='/v.en.vtt' kind='subtitles' srclang='en'>"
          "<track src='/v.de.vtt' kind='subtitles' srclang='de'>"
          "</video><p>Paragraph long enough for the gates.</p></body>")
    te = json.loads(extract_document(
        "u://t", th.encode(), ExtractOptions())["extraction_json"])
    assert te["embeds"][0]["tracks"] == [
        {"src": "/v.en.vtt", "kind": "subtitles", "lang": "en"},
        {"src": "/v.de.vtt", "kind": "subtitles", "lang": "de"}]
    light = extract_document(
        "u://e", html.encode(), ExtractOptions.from_mode("light"))
    assert "embeds" not in json.loads(light["extraction_json"])

    # AMP components ride the same buckets (same attribute surface):
    # an AMP page's images/videos must not be invisible
    amp = (
        "<html amp><body>"
        "<amp-img src='/hero.jpg' srcset='/h-sm.jpg 400w,"
        " /h-lg.jpg 1200w' alt='Hero' width='1200'></amp-img>"
        "<amp-video src='/v.mp4' poster='/p.jpg'>"
        "<source src='/v.webm'></amp-video>"
        "<amp-youtube data-videoid='xyz9' width='480'></amp-youtube>"
        "<amp-iframe src='https://maps.ex/embed'></amp-iframe>"
        "<p>AMP page content long enough for density gates.</p>"
        "</body></html>"
    )
    ax = json.loads(extract_document(
        "u://amp", amp.encode(), ExtractOptions())["extraction_json"])
    assert ax["images"][0]["src"] == "/h-lg.jpg"  # widest srcset wins
    aem = {e["tag"]: e for e in ax["embeds"]}
    assert aem["amp-video"]["poster"] == "/p.jpg"
    assert aem["amp-youtube"]["src"] == \
        "https://www.youtube.com/watch?v=xyz9"
    assert aem["amp-iframe"]["src"] == "https://maps.ex/embed"


def test_crawl_navigation_metadata():
    """page_meta crawl-navigation signals: meta-refresh redirect
    targets, rel=amphtml (the AMP near-dup twin — a dedup join key),
    rel=next/prev pagination, the first feed alternate, rel=icon
    (multi-token 'shortcut icon' too), and the first <time datetime>
    (the publication-date carrier when og/article dates are absent).
    hreflang alternates stay in their own family."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document

    html = (
        "<html><head>"
        "<meta http-equiv='refresh' content=\"3; URL='/moved'\">"
        "<link rel='canonical' href='https://ex.com/a'>"
        "<link rel='amphtml' href='https://ex.com/a/amp'>"
        "<link rel='next' href='/a?page=2'>"
        "<link rel='prev' href='/a?page=0'>"
        "<link rel='alternate' type='application/rss+xml'"
        " href='/feed.xml'>"
        "<link rel='alternate' type='application/atom+xml'"
        " href='/second-feed.xml'>"
        "<link rel='alternate' hreflang='de' href='/de/a'>"
        "<link rel='shortcut icon' href='/favicon.ico'>"
        "</head><body><article>"
        "<time datetime='2021-05-04T08:00:00Z'>May 4</time>"
        "<time datetime='2022-01-01'>later, ignored</time>"
        "<p>Long enough content paragraph for the block threshold.</p>"
        "</article></body></html>"
    )
    rec = extract_document("u://m", html.encode(), ExtractOptions())
    x = json.loads(rec["extraction_json"])
    pm = x["page_meta"]
    assert pm["refresh"] == "/moved"
    assert pm["amphtml"] == "https://ex.com/a/amp"
    assert pm["next"] == "/a?page=2" and pm["prev"] == "/a?page=0"
    assert pm["feed"] == "/feed.xml"          # first feed wins
    assert pm["icon"] == "/favicon.ico"
    assert pm["time:datetime"] == "2021-05-04T08:00:00Z"
    assert pm["canonical"] == "https://ex.com/a"
    # hreflang alternates keep their own family, not page_meta
    assert x["alternates"] == [{"hreflang": "de", "href": "/de/a"}]
    # refresh without a url= part yields no key
    plain = extract_document(
        "u://r", b"<head><meta http-equiv='refresh' content='30'>"
        b"</head>", ExtractOptions())
    assert "refresh" not in json.loads(
        plain["extraction_json"]).get("page_meta", {})


def test_structured_data_harvesting():
    """schema.org structured data (round 6): JSON-LD entities incl.
    nested @type objects and @graph, microdata items with the
    spec's tag-specific value rules and nested itemscopes, malformed
    JSON skipped, caps honored, light mode excludes the family, and
    the archetype flows end-to-end."""
    import json

    from exstruct_spark.config import ExtractOptions
    from exstruct_spark.golden import extract_document
    from exstruct_spark.kernels.dom import parse_html
    from exstruct_spark.kernels.structured import (
        MAX_ENTITIES,
        from_ldjson_scripts,
        from_microdata,
    )
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    html = b"""<html><head>
    <script type="application/ld+json">
    {"@context": "https://schema.org", "@graph": [
      {"@type": "Article", "headline": "Results", "wordCount": 840,
       "author": {"@type": "Person", "name": "A. Writer"}},
      {"@type": "BreadcrumbList"}]}
    </script>
    <script type="application/ld+json">{broken</script>
    <script>var notLd = 1;</script>
    </head><body>
    <div itemscope itemtype="https://schema.org/Product">
      <span itemprop="name">Widget</span>
      <meta itemprop="sku" content="W-42">
      <img itemprop="image" src="/w.png">
      <a itemprop="url" href="/widget">more</a>
      <time itemprop="released" datetime="2024-01-02">Jan 2</time>
      <div itemprop="offers" itemscope itemtype="https://schema.org/Offer">
        <span itemprop="name">Deal</span><span itemprop="price">9.99</span>
      </div>
    </div></body></html>"""
    rec = extract_document("http://t/sd", html)
    sd = json.loads(rec["extraction_json"])["structured_data"]
    by_type = {e["type"]: e for e in sd}
    assert set(by_type) == {"Article", "Person", "BreadcrumbList",
                            "Product", "Offer"}
    art = by_type["Article"]
    assert art["source"] == "ld+json"
    assert art["props"]["headline"] == "Results"
    assert art["props"]["wordCount"] == 840
    assert art["props"]["author"] == "A. Writer"  # nested name stands in
    prod = by_type["Product"]
    assert prod["source"] == "microdata"
    assert prod["props"] == {"name": "Widget", "sku": "W-42",
                             "image": "/w.png", "url": "/widget",
                             "released": "2024-01-02", "offers": "Deal"}
    assert by_type["Offer"]["props"] == {"name": "Deal", "price": "9.99"}

    # RDFa Lite (the THIRD carrier, VERDICT r6 #5): vocab/typeof/
    # property, CURIE and IRI names reduced to bare segments, content
    # attr on any tag, href/src carriers, nested typeof stands in by
    # its own name, same record shape and caps
    rdfa_html = b"""<html><body vocab="https://schema.org/">
    <div typeof="Product">
      <span property="name">Gizmo</span>
      <span property="schema:sku" content="G-7">G7</span>
      <a property="url" href="/gizmo">buy</a>
      <img property="https://schema.org/image" src="/g.png">
      <div property="offers" typeof="schema:Offer">
        <span property="name">Sale</span>
        <span property="price" content="19.99">$19.99</span>
      </div>
    </div></body></html>"""
    rec2 = extract_document("http://t/rdfa", rdfa_html)
    sd2 = json.loads(rec2["extraction_json"])["structured_data"]
    by_type2 = {e["type"]: e for e in sd2}
    assert set(by_type2) == {"Product", "Offer"}
    prod2 = by_type2["Product"]
    assert prod2["source"] == "rdfa"
    assert prod2["props"] == {"name": "Gizmo", "sku": "G-7",
                              "url": "/gizmo", "image": "/g.png",
                              "offers": "Sale"}
    assert by_type2["Offer"]["props"] == {"name": "Sale",
                                          "price": "19.99"}
    # the declared <html lang> joins page_meta (curation signal)
    lang_html = b"<html lang='de-AT'><body><p>x</p></body></html>"
    rec_l = extract_document("http://t/lang", lang_html)
    pm = json.loads(rec_l["extraction_json"])["page_meta"]
    assert pm["lang"] == "de-AT"

    # untyped-with-typeof-"" degenerate: stable record, never a crash
    from exstruct_spark.kernels.structured import from_rdfa
    deg = from_rdfa(_walk("<div typeof=''><span property='a'>x"
                          "</span></div>").rdfa_scopes)
    assert deg == [{"source": "rdfa", "type": "Item",
                    "props": {"a": "x"}}]
    # entity cap holds for the rdfa family too
    bomb = _walk("<div>" + "<i typeof='T'></i>" * 200 + "</div>")
    assert len(from_rdfa(bomb.rdfa_scopes)) == MAX_ENTITIES

    # light mode excludes; entity cap binds
    rec2 = extract_document("http://t/sd", html,
                            ExtractOptions.from_mode("light"))
    assert "structured_data" not in json.loads(rec2["extraction_json"])
    bomb = "[" + ",".join(
        '{"@type": "Thing", "name": "x"}' for _ in range(200)) + "]"
    root = parse_html(
        f'<script type="application/ld+json">{bomb}</script>')
    assert len(from_ldjson_scripts(root.find_all("script"))) \
        == MAX_ENTITIES
    deep = "<div itemscope>" + "<div>" * 3000 + "<span itemprop='name'>n" \
        "</span>" + "</div>" * 3000 + "</div>"
    assert from_microdata(_walk(deep).micro_scopes)[0]["props"] == {
        "name": "n"}
    # a 3000-deep JSON block skips (RecursionError tier), it must not
    # sink the script list's other blocks
    deep_json = "[" * 3000 + "]" * 3000
    root2 = parse_html(
        f'<script type="application/ld+json">{deep_json}</script>'
        '<script type="application/ld+json">'
        '{"@type": "Thing", "name": "ok"}</script>')
    got = from_ldjson_scripts(root2.find_all("script"))
    assert [e["props"].get("name") for e in got] == ["ok"]

    # fifth-review findings, pinned: NaN/Infinity floats never reach
    # the JSON; untyped items get a stable type; list-of-entity props
    # keep the first name; doubly-nested names don't stand in; a
    # JSON-LD bomb can't evict microdata; content attrs only carry
    # values on <meta>; multi-token itemprop fans out
    nan_html = (b'<html><head><script type="application/ld+json">'
                b'{"@type":"Thing","x":NaN,"y":1e999,"z":2.5}</script>'
                b'</head><body><p>t</p></body></html>')
    ej = extract_document("http://t/n", nan_html)["extraction_json"]
    json.loads(ej)
    assert "NaN" not in ej and "Infinity" not in ej
    r = from_microdata(_walk(
        '<div itemscope><span itemprop="name">x</span></div>').micro_scopes)
    assert r[0]["type"] == "Item"
    r = from_ldjson_scripts(parse_html(
        '<script type="application/ld+json">{"@type":"Article",'
        '"author":[{"@type":"Person","name":"A"}]}</script>'
    ).find_all("script"))
    assert r[0]["props"]["author"] == "A"
    r = from_microdata(_walk(
        '<div itemscope itemtype="https://schema.org/Product">'
        '<div itemprop="offers" itemscope '
        'itemtype="https://schema.org/Offer">'
        '<div itemprop="seller" itemscope '
        'itemtype="https://schema.org/Organization">'
        '<span itemprop="name">Acme</span></div>'
        '<span itemprop="name">Deal</span></div></div>').micro_scopes)
    assert {e["type"]: e for e in r}["Product"]["props"]["offers"] == "Deal"
    bomb_html = ('<html><head><script type="application/ld+json">['
                 + ",".join('{"@type":"Thing","name":"x"}'
                            for _ in range(100))
                 + ']</script></head><body>'
                 '<div itemscope itemtype="https://schema.org/Product">'
                 '<span itemprop="name">W</span></div>'
                 '<p>t</p></body></html>').encode()
    sd_b = json.loads(extract_document("http://t/b", bomb_html)
                      ["extraction_json"])["structured_data"]
    assert any(e.get("source") == "microdata" for e in sd_b)
    r = from_microdata(_walk(
        '<div itemscope><a itemprop="url" href="/w" content="blob">m'
        '</a></div>').micro_scopes)
    assert r[0]["props"]["url"] == "/w"
    r = from_microdata(_walk(
        '<div itemscope><span itemprop="name headline">W</span></div>'
    ).micro_scopes)
    assert r[0]["props"] == {"name": "W", "headline": "W"}

    # archetype end-to-end
    i = RICH_ARCHETYPES.index("structured_article")
    page = build_rich_page(i)
    assert page["archetype"] == "structured_article"
    rec3 = extract_document(page["url"], page["html"], ExtractOptions())
    sd3 = json.loads(rec3["extraction_json"])["structured_data"]
    types = [e["type"] for e in sd3]
    assert "Article" in types and "Person" in types and "Product" in types

    # page_meta: OpenGraph/Twitter/meta/canonical harvesting (first
    # occurrence wins; non-kept names like viewport excluded)
    html_m = (b"<html><head>"
              b"<meta property='og:title' content='Big'>"
              b"<meta property='og:title' content='dup'>"
              b"<meta name='description' content='  a  summary '>"
              b"<meta name='viewport' content='width=device-width'>"
              b"<meta name='twitter:card' content='summary'>"
              b"<link rel='canonical' href='https://c.example/x'>"
              b"</head><body><p>text body here</p></body></html>")
    pm = json.loads(extract_document("http://t/pm", html_m)
                    ["extraction_json"])["page_meta"]
    assert pm == {"og:title": "Big", "description": "a summary",
                  "twitter:card": "summary",
                  "canonical": "https://c.example/x"}
    rec4 = extract_document("http://t/pm", html_m,
                            ExtractOptions.from_mode("light"))
    assert "page_meta" not in json.loads(rec4["extraction_json"])

    # hreflang alternates: the multilingual-crawl clustering key;
    # first per language wins, non-hreflang alternates excluded
    html_a = (b"<html><head>"
              b"<link rel='alternate' hreflang='en' href='/en'>"
              b"<link rel='alternate' hreflang='JA' href='/ja'>"
              b"<link rel='alternate' hreflang='en' href='/dup'>"
              b"<link rel='alternate' type='application/rss+xml' "
              b"href='/feed'></head><body><p>t</p></body></html>")
    alts = json.loads(extract_document("http://t/a", html_a)
                      ["extraction_json"])["alternates"]
    assert alts == [{"hreflang": "en", "href": "/en"},
                    {"hreflang": "ja", "href": "/ja"}]


def test_base_href_link_resolution():
    """<base href> redirects relative-link absolutization (the HTML
    base-URL rule; first base with an href wins, itself resolved
    against the document url); absolute hrefs and base-less documents
    are unchanged."""
    import json

    from exstruct_spark.config import ExtractOptions
    from exstruct_spark.golden import extract_document

    html = (b"<html><head><base href='/assets/'>"
            b"<base href='https://ignored.example/'></head>"
            b"<body><p><a href='a.css'>x</a>"
            b" <a href='https://abs.example/z'>z</a></p></body></html>")
    opts = ExtractOptions(absolutize_links=True)
    rec = extract_document("https://site.example/dir/doc.html", html, opts)
    links = json.loads(rec["extraction_json"])["links_map"]
    assert set(links) == {"https://site.example/assets/a.css",
                          "https://abs.example/z"}
    # default (verbatim hrefs): base changes nothing
    rec2 = extract_document("https://site.example/dir/doc.html", html,
                            ExtractOptions())
    assert set(json.loads(rec2["extraction_json"])["links_map"]) == \
        {"a.css", "https://abs.example/z"}


def test_chartconfig_google_charts_dialect():
    """Google Charts (sixth dialect): arrayToDataTable rows with a
    header row naming the series, constructor-derived type, options
    title; non-numeric cells and annotation columns degrade gracefully;
    a DataTable with no numeric series is skipped."""
    from exstruct_spark.kernels.chartconfig import charts_from_script

    charts = charts_from_script("""
      google.charts.load('current', {packages: ['corechart']});
      function draw() {
        var data = google.visualization.arrayToDataTable([
          ['Quarter', 'North', 'South'],
          ['Q1', 10, 4.5],
          ['Q2', 20, 6],
          ['Q3', 15, 'n/a'],
        ]);
        var chart = new google.visualization.ColumnChart(
            document.getElementById('d'));
        chart.draw(data, {title: 'Sales by region', legend: 'bottom'});
      }
    """)
    assert len(charts) == 1
    c = charts[0]
    assert c["chart_type"] == "Column"
    assert c["title"] == "Sales by region"
    assert c["labels"] == ["Q1", "Q2", "Q3"]
    assert c["series"] == [("North", [10.0, 20.0, 15.0]),
                           ("South", [4.5, 6.0])]

    # a script building SEVERAL charts labels each with ITS OWN
    # constructor/draw pair — nearest-following by offset (ADVICE r6),
    # with fallback to the whole script when data follows the ctor
    multi = charts_from_script("""
      var d1 = google.visualization.arrayToDataTable([
        ['q', 'a'], ['Q1', 1], ['Q2', 2]]);
      var c1 = new google.visualization.ColumnChart(el1);
      c1.draw(d1, {title: 'First chart'});
      var d2 = google.visualization.arrayToDataTable([
        ['q', 'b'], ['Q1', 3], ['Q2', 4]]);
      var c2 = new google.visualization.PieChart(el2);
      c2.draw(d2, {title: 'Second chart'});
    """)
    assert [(c["chart_type"], c["title"]) for c in multi] == [
        ("Column", "First chart"), ("Pie", "Second chart")]
    late_data = charts_from_script("""
      var c = new google.visualization.BarChart(el);
      var d = google.visualization.arrayToDataTable([
        ['q', 'a'], ['Q1', 1]]);
      c.draw(d, {title: 'After ctor'});
    """)
    assert [(c["chart_type"], c["title"]) for c in late_data] == [
        ("Bar", "After ctor")]

    # pie via the charts namespace; header-only tables skipped
    charts = charts_from_script("""
      var d = google.visualization.arrayToDataTable(
        [['Task', 'Hours'], ['Work', 8], ['Sleep', 7]]);
      new google.charts.PieChart(el).draw(d, {title: 'Day'});
      var empty = google.visualization.arrayToDataTable([['x', 'y']]);
    """)
    assert len(charts) == 1
    assert charts[0]["chart_type"] == "Pie"
    assert charts[0]["labels"] == ["Work", "Sleep"]
    assert charts[0]["series"] == [("Hours", [8.0, 7.0])]

    # third-review findings: the title comes from the DRAW OPTIONS
    # object (an hAxis sub-title earlier in the options must not win),
    # and object cells ({label,type} headers, {v,f} data) unwrap
    charts = charts_from_script("""
      var d = google.visualization.arrayToDataTable([
        ['Year', {label: 'Sales', type: 'number'}],
        [{v: 2020, f: 'FY20'}, 10],
        [{v: 2021, f: 'FY21'}, {v: 12}],
      ]);
      new google.visualization.LineChart(el).draw(d,
        {hAxis: {title: 'Year'}, title: 'Annual sales'});
    """)
    assert len(charts) == 1
    c = charts[0]
    assert c["title"] == "Annual sales"
    assert c["labels"] == ["FY20", "FY21"]
    assert c["series"] == [("Sales", [10.0, 12.0])]

    # fourth-review findings: {v,f} VALUE cells keep the raw number
    # (the formatted '$1,000' string must not drop the point), a
    # NumberFormat/DataView constructed before the chart must not eat
    # the type, division inside draw() args must not lex as a regex,
    # and the arrayToDataTable(data, true) no-header form parses
    charts = charts_from_script("""
      var fmt = new google.visualization.NumberFormat({pattern: '#'});
      var d = google.visualization.arrayToDataTable([
        ['Q', 'Sales'], ['Q1', {v: 1000, f: '$1,000'}]]);
      var chart = new google.visualization.ColumnChart(el);
      chart.draw(pick(total/2) || d, {title: 'Rev'});
    """)
    assert charts[0]["chart_type"] == "Column"
    assert charts[0]["title"] == "Rev"
    assert charts[0]["series"] == [("Sales", [1000.0])]
    charts = charts_from_script("""
      var d = google.visualization.arrayToDataTable(
        [['Q1', 10], ['Q2', 20]], true);
      new google.visualization.BarChart(el).draw(d, {});
    """)
    assert charts[0]["series"] == [("s0", [10.0, 20.0])]
    assert charts[0]["labels"] == ["Q1", "Q2"]


def test_responsive_image_harvesting():
    """VERDICT r5 #3: srcset (largest width descriptor wins), <picture>
    <source> candidates, density-only srcsets, and data-src lazy-load
    fallback all yield one deterministic best URL; round-5 code returned
    the spacer or the small fallback for every one of these."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.kernels.extract import _best_image_src, \
        _srcset_candidates
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    assert _srcset_candidates("a.jpg 400w, b.jpg 1600w , c.jpg 2x") == [
        ("a.jpg", 400, None), ("b.jpg", 1600, None), ("c.jpg", None, 2.0)]

    class _Im:
        def __init__(self, **attrs):
            self.attrs = attrs

    # widest width descriptor wins over density and listing order
    assert _best_image_src(
        _Im(src="s.jpg", srcset="a.jpg 2x, b.jpg 800w, c.jpg 1600w"),
        None) == "c.jpg"
    # density-only: largest density
    assert _best_image_src(
        _Im(src="s.jpg", srcset="a.jpg 1x, b.jpg 3x, c.jpg 2x"),
        None) == "b.jpg"
    # no descriptors: first candidate
    assert _best_image_src(_Im(srcset="a.jpg, b.jpg"), None) == "a.jpg"
    # picture sources join the pool
    assert _best_image_src(
        _Im(src="fb.jpg", srcset="a.jpg 400w"),
        ["w.webp 1200w", "j.jpg 600w"]) == "w.webp"
    # plain src passes through; placeholder defers to data-src
    assert _best_image_src(_Im(src="real.png"), None) == "real.png"
    assert _best_image_src(
        _Im(**{"src": "data:image/gif;base64,R0lGOD",
               "data-src": "real.png"}), None) == "real.png"
    # placeholder with no lazy attr: kept as-is (old behavior)
    assert _best_image_src(_Im(src="data:image/gif;base64,Q"), None) \
        == "data:image/gif;base64,Q"

    # archetype end-to-end: three images, each resolved to the real URL
    i = RICH_ARCHETYPES.index("responsive_gallery")
    page = build_rich_page(i)
    assert page["archetype"] == "responsive_gallery"
    rec = extract_document(page["url"], page["html"], ExtractOptions())
    images = json.loads(rec["extraction_json"])["images"]
    srcs = [im["src"] for im in images]
    assert len(srcs) == 3
    assert "-1600.jpg" in srcs[0]          # widest srcset candidate
    assert ".webp" in srcs[1]              # first (widthless) source
    assert "/img/lazy-" in srcs[2]         # data-src, not the spacer
    assert images[0]["caption"] == "Skyline at dusk"
    assert images[2]["alt"] == "lazy boat"


def test_noscript_fallback_images():
    """<noscript> is the standard lazy-load FALLBACK carrier: its <img>
    nodes join the images family (deduped against rendered srcs,
    marked noscript:true) while the subtree stays inert for text,
    links and every other collector."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document

    html = (
        "<html><body>"
        # JS-config lazy loading: placeholder-only rendered img, the
        # real URL ONLY inside noscript
        "<img src='data:image/gif;base64,Q' class='lazy'>"
        "<noscript><img src='/img/only-here.jpg' alt='photo' "
        "width='640' height='480'></noscript>"
        # classic pairing: data-src already yields the URL, the
        # noscript twin is a duplicate and must NOT double-harvest
        "<img src='data:image/gif;base64,Q' data-src='/img/pair.jpg'>"
        "<noscript><img src='/img/pair.jpg'></noscript>"
        # noscript text/links stay inert
        "<noscript><p>enable JS</p><a href='/x'>x</a></noscript>"
        "</body></html>"
    )
    rec = extract_document("u://n", html.encode(), ExtractOptions())
    x = json.loads(rec["extraction_json"])
    images = x["images"]
    srcs = [im["src"] for im in images]
    # rendered images first (placeholder kept as-is, data-src resolved),
    # then the noscript-only carrier
    assert "/img/pair.jpg" in srcs and srcs.count("/img/pair.jpg") == 1
    only = [im for im in images if im["src"] == "/img/only-here.jpg"]
    assert len(only) == 1 and only[0]["noscript"] is True
    assert only[0]["alt"] == "photo" and only[0]["w"] == 640
    assert "enable JS" not in rec["main_text"]
    assert all("/x" not in k for k in x.get("links_map", {}))

    # a page whose ONLY image lives in noscript still emits the family
    solo = ("<html><body><noscript><img src='/solo.png'></noscript>"
            "<p>text</p></body></html>")
    rec2 = extract_document("u://s", solo.encode(), ExtractOptions())
    x2 = json.loads(rec2["extraction_json"])
    assert [im["src"] for im in x2["images"]] == ["/solo.png"]
    assert (images[2]["w"], images[2]["h"]) == (640, 480)


def test_cell_edit_tokenizer_linear_on_unbalanced_quotes():
    """ADVICE r5 high: the old regex tokenizer's quote alternation was
    ambiguous and went exponential (~2.7x per 2 chars) on
    unbalanced-quote input — a ~60-byte crafted tag hung an executor
    forever via MCP edit_document or apply_cell_edits.  The ops now
    find cells in the kernel's parse tree, whose scan is linear: both
    hostile inputs stay fast through ``apply_ops``."""
    import time
    from exstruct_spark.kernels.edits import apply_ops

    # the crafted tag is no tag at all, so there is no table to edit
    attack = "<td " + '"a' * 30 + "<"
    t0 = time.monotonic()
    out, st = apply_ops(attack, [
        {"op": "set_value", "table": 0, "row": 0, "col": 0, "value": "Q"},
    ])
    assert time.monotonic() - t0 < 0.5
    assert st == ["skipped"] and out == attack

    # same shape, 100x larger, embedded in a real op application
    big = "<table><tr><td>keep</td>" + "<td " + '"a' * 3000 + "<"
    t0 = time.monotonic()
    out, st = apply_ops(big, [
        {"op": "set_value", "table": 0, "row": 0, "col": 0, "value": "Q"},
    ])
    assert time.monotonic() - t0 < 1.0
    assert st == ["applied"] and "<td>Q</td>" in out


def test_cell_edit_wave2_style_and_conditional_ops():
    """Wave-2 ops (VERDICT r5 #4): style splices preserve unrelated
    declarations and replace exact-name matches only; set_value_if
    applies on match and skips on mismatch; set_range_values is
    all-or-nothing."""
    from exstruct_spark.kernels.edits import apply_ops

    html = ("<table><tr><td style='color:blue;padding:2px'>a</td>"
            "<td>b</td></tr><tr><td>c</td><td>d</td></tr></table>")
    out, st = apply_ops(html, [
        {"op": "set_bold", "table": 0, "row": 0, "col": 0},
        {"op": "set_font_color", "table": 0, "row": 0, "col": 0,
         "color": "#112233"},
        {"op": "set_font_size", "table": 0, "row": 0, "col": 1,
         "size": 14},
        {"op": "set_alignment", "table": 0, "row": 1, "col": 0,
         "horizontal": "right", "vertical": "top"},
        {"op": "set_alignment", "table": 0, "row": 1, "col": 1},  # none
        {"op": "set_font_size", "table": 0, "row": 0, "col": 0,
         "size": "12"},                                     # non-numeric
        {"op": "set_font_color", "table": 0, "row": 0, "col": 1,
         "color": 'x";injected=1'},                         # breakout
    ])
    assert st == ["applied"] * 4 + ["skipped"] * 3
    # exact-name replace: color replaced, padding kept, font-weight added
    assert "padding:2px" in out
    assert "color:#112233" in out and "color:blue" not in out
    assert "font-weight:bold" in out
    assert 'style="font-size:14pt"' in out
    assert "text-align:right" in out and "vertical-align:top" in out

    out2, st2 = apply_ops(html, [
        {"op": "set_value_if", "table": 0, "row": 0, "col": 0,
         "expected": "a", "value": "A!"},
        {"op": "set_value_if", "table": 0, "row": 0, "col": 1,
         "expected": "WRONG", "value": "nope"},
    ])
    assert st2 == ["applied", "skipped"]
    assert ">A!</td>" in out2 and ">b</td>" in out2

    out3, st3 = apply_ops(html, [
        {"op": "set_range_values", "table": 0, "row": 0, "col": 0,
         "values": [["r0c0", "r0c1"], ["r1c0", "r1c1"]]},
        {"op": "set_range_values", "table": 0, "row": 1, "col": 1,
         "values": [["x", "OUT"]]},   # exceeds width: all-or-nothing
    ])
    assert st3 == ["applied", "skipped"]
    for v in ("r0c0", "r0c1", "r1c0", "r1c1"):
        assert f">{v}</td>" in out3
    assert "OUT" not in out3 and ">x<" not in out3

    # review findings: fill-color values that would break out of the
    # quoted attribute are REJECTED (same hardening as the font ops);
    # set_value_if compares whitespace-collapsed text (what extraction
    # JSON reports), so markup newlines don't spuriously skip
    out4, st4 = apply_ops(html, [
        {"op": "set_fill_color", "table": 0, "row": 0, "col": 0,
         "color": 'red" onclick="alert(1)'},
    ])
    assert st4 == ["skipped"] and "onclick" not in out4
    ws_html = "<table><tr><td>foo\n  bar</td></tr></table>"
    out5, st5 = apply_ops(ws_html, [
        {"op": "set_value_if", "table": 0, "row": 0, "col": 0,
         "expected": "foo bar", "value": "Q"},
    ])
    assert st5 == ["applied"] and ">Q</td>" in out5


def test_cell_edit_merge_unmerge_roundtrip():
    """merge_cells/unmerge_cells in GRID coordinates: the merged HTML
    re-extracts with the reference-convention merged_cells items; a
    merge crossing an existing span skips; unmerge restores the grid
    shape with blank cells at the vacated positions."""
    import json

    from exstruct_spark.golden import ExtractOptions, extract_document
    from exstruct_spark.kernels.edits import apply_ops

    html = ("<table>"
            "<tr><td>a0</td><td>a1</td><td>a2</td></tr>"
            "<tr><td>b0</td><td>b1</td><td>b2</td></tr>"
            "<tr><td>c0</td><td>c1</td><td>c2</td></tr></table>")
    merged, st = apply_ops(html, [
        {"op": "merge_cells", "table": 0, "r1": 0, "c1": 0,
         "r2": 1, "c2": 1},
    ])
    assert st == ["applied"]
    assert 'rowspan="2"' in merged and 'colspan="2"' in merged
    for gone in ("a1", "b0", "b1"):
        assert f">{gone}<" not in merged
    rec = extract_document("http://t/m", merged.encode(), ExtractOptions())
    t = json.loads(rec["extraction_json"])["tables"][0]
    # reference MergedCells convention: r 1-based, c 0-based
    assert t["merged_cells"]["items"] == [[1, 0, 2, 1, "a0"]]
    assert t["range"] == "A1:C3"
    # row 1 keeps its non-merged cell at grid col 2
    row1 = [r for r in t["rows"] if r["r"] == 2][0]
    assert row1["c"] == {"2": "b2"}

    # merging across the existing span skips; merging the free 2x1
    # block beside it applies; a rectangle past the table's width is a
    # bad address, not a fabricated over-wide colspan (review finding)
    out2, st2 = apply_ops(merged, [
        {"op": "merge_cells", "table": 0, "r1": 1, "c1": 1,
         "r2": 2, "c2": 2},   # crosses the 2x2 span
        {"op": "merge_cells", "table": 0, "r1": 0, "c1": 2,
         "r2": 1, "c2": 2},   # the free right column
        {"op": "merge_cells", "table": 0, "r1": 2, "c1": 0,
         "r2": 2, "c2": 7},   # past the 3-wide grid
    ])
    assert st2 == ["skipped", "applied", "skipped"]
    assert 'colspan="8"' not in out2

    # unmerge restores a full 3x3 grid, vacated cells blank
    restored, st3 = apply_ops(merged, [
        {"op": "unmerge_cells", "table": 0, "row": 0, "col": 0},
        {"op": "unmerge_cells", "table": 0, "row": 2, "col": 0},  # plain
    ])
    assert st3 == ["applied", "skipped"]
    rec2 = extract_document("http://t/u", restored.encode(),
                            ExtractOptions())
    t2 = json.loads(rec2["extraction_json"])["tables"][0]
    assert "merged_cells" not in t2
    cells = {(r["r"], int(c)): v for r in t2["rows"]
             for c, v in r["c"].items()}
    assert cells == {(1, 0): "a0", (1, 2): "a2", (2, 2): "b2",
                     (3, 0): "c0", (3, 1): "c1", (3, 2): "c2"}


def test_cell_edit_draw_grid_border():
    """draw_grid_border (reference edit/types.py): border splice over a
    grid rectangle; existing border declarations replaced, other styles
    kept; fully-contained merged cells included; a rect that splits a
    merged cell or covers no cells skips; unsafe style values skip."""
    from exstruct_spark.kernels.edits import apply_ops

    html = ("<table><tr><td style='color:red;border:none'>a</td>"
            "<td>b</td><td>c</td></tr>"
            "<tr><td colspan='2'>d</td><td>e</td></tr></table>")
    out, st = apply_ops(html, [
        {"op": "draw_grid_border", "table": 0, "r1": 0, "c1": 0,
         "r2": 1, "c2": 1},
        {"op": "draw_grid_border", "table": 0, "r1": 0, "c1": 1,
         "r2": 1, "c2": 1},      # splits the colspan'd d
        {"op": "draw_grid_border", "table": 0, "r1": 0, "c1": 5,
         "r2": 0, "c2": 6},      # no cells
        {"op": "draw_grid_border", "table": 0, "r1": 0, "c1": 2,
         "r2": 0, "c2": 2, "style": 'x" onload="p()'},  # breakout
    ])
    assert st == ["applied", "skipped", "skipped", "skipped"]
    # a rowspan reaching INTO the rect from above also splits it
    html2 = ("<table><tr><td rowspan='2'>a</td><td>b</td></tr>"
             "<tr><td>c</td></tr></table>")
    _, st2 = apply_ops(html2, [{"op": "draw_grid_border", "table": 0,
                                "r1": 1, "c1": 0, "r2": 1, "c2": 1}])
    assert st2 == ["skipped"]
    assert out.count("border:1px solid #000") == 3
    assert "color:red" in out and "border:none" not in out
    assert ">c</td>" in out and "onload" not in out
    # the un-bordered cells stayed untouched byte-for-byte
    assert "<td>c</td>" in out and "<td>e</td>" in out


def test_cell_edit_unbalanced_quote_keeps_cell_indexing():
    """An UNBALANCED quote in an attribute value: the kernel's grammar
    reads no tag there (its '<' stays text), so extraction reports
    ``y|z`` at columns 0 and 1 — and the edit at each column lands on
    the cell extraction reads there."""
    from exstruct_spark.kernels.edits import apply_ops

    html = ('<table><tr><td title="oops>x</td>'
            '<td class="c">y</td><td>z</td></tr></table>')

    def first_row(page):
        rec = extract_document("https://x/q", page.encode())
        return json.loads(rec["extraction_json"])["tables"][0]["rows"][0]

    assert first_row(html)["c"] == {"0": "y", "1": "z"}
    out, st = apply_ops(html, [
        {"op": "set_value", "table": 0, "row": 0, "col": 0, "value": "Q"},
    ])
    assert st == ["applied"]
    assert '<td class="c">Q</td>' in out      # the cell read at col 0
    assert "<td>z</td>" in out                # col 1 untouched
    assert first_row(out)["c"] == {"0": "Q", "1": "z"}


def test_chartconfig_plotly_dialect():
    """Plotly (fourth dialect): the config is an ARRAY of traces, the
    title a separate layout argument.  Covers default-scatter typing,
    pie values/labels, horizontal bars (orientation 'h' -> Bar with
    y-category labels), plain-string layout titles, and skipping calls
    whose data argument is an identifier."""
    from exstruct_spark.kernels.chartconfig import charts_from_script

    charts = charts_from_script("""
      Plotly.newPlot('d0', someVariable);
      Plotly.newPlot('d1', [
        {x: ['a','b','c'], y: [1, 2.5, 3], type: 'bar', name: 'east'},
        {x: ['a','b','c'], y: [4, 5, 6], name: 'west'},
      ], {title: {text: 'Quarterly'}}, {responsive: true});
      Plotly.react('d2', [{values: [10, 20], labels: ['x','y'],
                           type: 'pie'}], {title: 'Share'});
      Plotly.newPlot('d3', [{x: [5, 7], y: ['r1','r2'], type: 'bar',
                             orientation: 'h'}],
                     {}, function cb() { return '}'; });
    """)
    assert [c["chart_type"] for c in charts] == ["Column", "Pie", "Bar"]
    q = charts[0]
    assert q["title"] == "Quarterly"
    assert q["labels"] == ["a", "b", "c"]
    assert q["series"] == [("east", [1.0, 2.5, 3.0]),
                           ("west", [4.0, 5.0, 6.0])]
    assert charts[1]["labels"] == ["x", "y"]
    assert charts[2]["labels"] == ["r1", "r2"]


def test_plotly_archetype_end_to_end():
    """The plotly_chart rich archetype flows through the full engine:
    the trace-array dialect yields a chart whose series bind to the
    companion table."""
    from exstruct_spark.kernels.extract import extract_document
    from exstruct_spark.pages import RICH_ARCHETYPES, build_rich_page

    i = RICH_ARCHETYPES.index("plotly_chart")
    page = build_rich_page(i, 42)
    assert page["archetype"] == "plotly_chart"
    out = extract_document(page["url"], bytes(page["html"]))
    ex = json.loads(out["extraction_json"])
    charts = ex.get("charts") or []
    assert charts, "plotly chart must extract"
    ch = charts[0]
    assert ch["chart_type"] == "Column"
    assert ch["title"] == "Quarterly revenue"
    assert [s["name"] for s in ch["series"]] == ["north", "south"]
    assert out["n_tables"] >= 1   # companion table extracted too


def test_cell_edit_wave3_design_ops():
    """Wave-3 ops (VERDICT r6 #4): set_style over a grid range,
    set_dimensions row/column carriers, apply_table_style class join,
    create_chart -> Chart.js script the F7 parser round-trips, and
    restore_design_snapshot as a byte-exact inverse of the design ops."""
    import json

    from exstruct_spark.golden import extract_document
    from exstruct_spark.kernels.edits import apply_ops, design_snapshot

    html = ("<html><body><table><tr><td>q</td><td>north</td>"
            "<td>south</td></tr><tr><td>Q1</td><td>10</td><td>4</td></tr>"
            "<tr><td>Q2</td><td>20</td><td>6</td></tr></table>"
            "</body></html>")

    # set_style: combined fields over a range; merged-split + no-field
    # + breakout-value ops skip
    out, st = apply_ops(html, [
        {"op": "set_style", "table": 0, "r1": 0, "c1": 0, "r2": 0,
         "c2": 2, "bold": True, "fill_color": "#ddeeff",
         "horizontal": "center"},
        {"op": "set_style", "table": 0, "r1": 1, "c1": 0, "r2": 2,
         "c2": 0},                              # no style fields
        {"op": "set_style", "table": 0, "r1": 0, "c1": 0, "r2": 0,
         "c2": 0, "color": 'x";pwn="1'},        # breakout
    ])
    assert st == ["applied", "skipped", "skipped"]
    assert out.count("font-weight:bold") == 3
    assert out.count("background-color:#ddeeff") == 3
    assert out.count("text-align:center") == 3

    # set_dimensions: height on <tr>, width on unmerged column cells
    out2, st2 = apply_ops(html, [
        {"op": "set_dimensions", "table": 0, "rows": [0],
         "row_height": 32, "columns": [1], "column_width": 120},
        {"op": "set_dimensions", "table": 0},            # nothing given
        {"op": "set_dimensions", "table": 0, "rows": [9],
         "row_height": 10},                              # bad index
    ])
    assert st2 == ["applied", "skipped", "skipped"]
    assert out2.count('<tr style="height:32px">') == 1
    assert out2.count("width:120px") == 3

    # apply_table_style: class joins (no duplicate), data-table-name;
    # non-token names rejected; the class surfaces in class_map
    out3, st3 = apply_ops(html, [
        {"op": "apply_table_style", "table": 0,
         "style": "TableStyleMedium2", "table_name": "Sales"},
        {"op": "apply_table_style", "table": 0,
         "style": "TableStyleMedium2"},          # already present: no dup
        {"op": "apply_table_style", "table": 0,
         "style": 'x" onmouseover="1'},          # breakout
    ])
    assert st3 == ["applied", "applied", "skipped"]
    assert out3.count("TableStyleMedium2") == 1
    assert 'data-table-name="Sales"' in out3
    ex3 = json.loads(extract_document(
        "http://t/ts", out3.encode())["extraction_json"])
    assert "TableStyleMedium2" in ex3["class_map"]

    # create_chart: the injected Chart.js config round-trips through
    # the extractor's F7 parser with the grid's own series
    out4, st4 = apply_ops(html, [
        {"op": "create_chart", "table": 0, "chart_type": "column",
         "r1": 0, "c1": 0, "r2": 2, "c2": 2, "title": "Quarterly"},
        {"op": "create_chart", "table": 0, "chart_type": "nope",
         "r1": 0, "c1": 0, "r2": 2, "c2": 2},    # unknown type
        {"op": "create_chart", "table": 0, "chart_type": "line",
         "r1": 0, "c1": 0, "r2": 0, "c2": 2},    # too small
    ])
    assert st4 == ["applied", "skipped", "skipped"]
    ex4 = json.loads(extract_document(
        "http://t/cc", out4.encode())["extraction_json"])
    charts = ex4["charts"]
    assert len(charts) == 1
    c = charts[0]
    assert c["chart_type"] == "Column"  # Chart.js 'bar' is vertical
    assert c["title"] == "Quarterly"
    assert [sr["name"] for sr in c["series"]] == ["north", "south"]
    assert [sr["n_points"] for sr in c["series"]] == [2, 2]
    assert c["y_axis_range"] == [4.0, 20.0]  # the grid's own numbers
    assert c["n_labels"] == 2

    # series_from_rows transposes: series named by the first column
    out5, st5 = apply_ops(html, [
        {"op": "create_chart", "table": 0, "chart_type": "line",
         "r1": 0, "c1": 0, "r2": 2, "c2": 2, "series_from_rows": True},
    ])
    assert st5 == ["applied"]
    ex5 = json.loads(extract_document(
        "http://t/cr", out5.encode())["extraction_json"])
    assert [sr["name"]
            for sr in ex5["charts"][0]["series"]] == ["Q1", "Q2"]

    # restore_design_snapshot: byte-exact inverse of the design wave
    snap = design_snapshot(html, 0)
    styled, st6 = apply_ops(html, [
        {"op": "set_style", "table": 0, "r1": 0, "c1": 0, "r2": 2,
         "c2": 2, "bold": True, "color": "#123456"},
        {"op": "set_dimensions", "table": 0, "rows": [0, 1, 2],
         "row_height": 24},
        {"op": "apply_table_style", "table": 0, "style": "Dark1"},
        {"op": "draw_grid_border", "table": 0, "r1": 0, "c1": 0,
         "r2": 2, "c2": 2},
    ])
    assert st6 == ["applied"] * 4
    assert styled != html
    restored, st7 = apply_ops(styled, [
        {"op": "restore_design_snapshot", "design_snapshot": snap},
    ])
    assert st7 == ["applied"]
    assert restored == html
    # a STRUCTURALLY edited table skips the restore (shape mismatch)
    grown, _ = apply_ops(styled, [
        {"op": "add_row", "table": 0, "row": 1, "values": ["X", 1, 2]},
    ])
    _, st8 = apply_ops(grown, [
        {"op": "restore_design_snapshot", "design_snapshot": snap},
    ])
    assert st8 == ["skipped"]
    # garbage snapshots skip, never raise
    for bad in (None, 42, {}, {"table": 0}, {"table": 99,
                "table_tag": "<table>", "rows": [], "cells": []}):
        _, stx = apply_ops(html, [
            {"op": "restore_design_snapshot", "design_snapshot": bad}])
        assert stx == ["skipped"]


# ---------------------------------------------------------------------------
# round-7 self-review regression pins
# ---------------------------------------------------------------------------

def test_media_applies_on_screen_semantics():
    """r7 review: browser media semantics, not substring matching —
    media='not print' DOES apply on screen; 'print and (color)' does
    not; comma lists apply when ANY query does."""
    from exstruct_spark.kernels.css import media_applies_on_screen as m

    for media in (None, "", "  ", "screen", "all", "not print",
                  "only screen and (max-width: 600px)",
                  "(max-width: 600px)", "not (max-width: 600px)",
                  "print, screen", "screen, print", "not print, print"):
        assert m(media), media
    for media in ("print", "only print", "PRINT", "speech",
                  "print and (color)", "print,print", "not screen",
                  "not all"):
        assert not m(media), media

    # end-to-end: the 'not print' sheet is harvested, the print-
    # conditional one is not
    from exstruct_spark.golden import extract_document
    html = ("<html><head>"
            "<link rel='stylesheet' media='not print' href='/np.css'>"
            "<link rel='stylesheet' media='print and (color)' "
            "href='/pc.css'></head><body>"
            "<p>Enough visible words for a content block here.</p>"
            "</body></html>").encode()
    ex = json.loads(extract_document(
        "http://t/np", html)["extraction_json"])
    assert ex["stylesheets"] == ["http://t/np.css"]

    # a <style media='not print'> block applies too
    html2 = ("<html><head>"
             "<style media='not print'>td { background: #0F0 }</style>"
             "</head><body><table><tr><td>x</td><td>y</td></tr>"
             "</table></body></html>").encode()
    t2 = json.loads(extract_document(
        "http://t/np2", html2)["extraction_json"])["tables"][0]
    assert t2["colors_map"] == {"00FF00": [[1, 0], [1, 1]]}


def test_zebra_parity_thead_with_loose_rows():
    """r7 review: browsers re-parent loose <tr>s into an implied
    <tbody>, so a <thead> must not shift their nth-child parity — the
    SECOND loose row is the even one."""
    from exstruct_spark.golden import extract_document
    html = ("<html><head><style>"
            "tr:nth-child(even) td { background: #EEEEEE }"
            "</style></head><body><table>"
            "<thead><tr><td>h1</td><td>h2</td></tr></thead>"
            "<tr><td>r1a</td><td>r1b</td></tr>"
            "<tr><td>r2a</td><td>r2b</td></tr>"
            "</table></body></html>").encode()
    t = json.loads(extract_document(
        "http://t/zebra", html)["extraction_json"])["tables"][0]
    # the SECOND loose row (grid row 3: thead=1, r1=2, r2=3) carries
    # the stripe — under the old sibling counting the thead shifted
    # parity and r1 (grid row 2) was striped instead
    assert t["colors_map"] == {"EEEEEE": [[3, 0], [3, 1]]}

    # last-child counts within the run: the final loose row matches
    from exstruct_spark.kernels.dom import parse_html as _ph
    from exstruct_spark.kernels.css import build_resolver
    root = _ph("<html><head><style>tr:last-child{background:#ABCDEF}"
               "</style></head><body><table>"
               "<tr><td>a</td></tr><tr><td>b</td></tr>"
               "<tfoot><tr><td>f</td></tr></tfoot></table></body></html>")
    styles = []
    def walk(n):
        for c in n.element_children():
            if c.tag == "style":
                styles.append(c)
            walk(c)
    walk(root)
    res = build_resolver(styles)
    trs = []
    def wtr(n):
        for c in n.element_children():
            if c.tag == "tr":
                trs.append(c)
            wtr(c)
    wtr(root)
    got = [(res.effective_attrs(tr).get("style") or "") for tr in trs]
    # loose run: [a, b] -> b is last-child of its implied tbody;
    # tfoot's tr is the only child of tfoot -> also last-child
    assert got == ["", "background:#ABCDEF", "background:#ABCDEF"]


def test_external_rules_never_evict_style_rules():
    """r7 review: a rule-heavy external sheet must not push same-
    document <style> rules past the MAX_RULES cap (that would invert
    cascade priority under the cap)."""
    from exstruct_spark.kernels.css import (
        MAX_RULES, StyleResolver, parse_css_rules)
    from exstruct_spark.kernels.dom import parse_html as _ph

    big_css = "".join(
        f".f{i} {{ background: #0000{i % 10}0 }}" for i in range(MAX_RULES + 50)
    )
    extra = parse_css_rules(big_css)[:MAX_RULES]
    root = _ph("<html><head><style>td { background: #FF0000 }</style>"
               "</head><body></body></html>")
    styles = []
    def walk(n):
        for c in n.element_children():
            if c.tag == "style":
                styles.append(c)
            walk(c)
    walk(root)
    res = StyleResolver(styles, extra_rules=extra)
    assert len(res.rules) <= MAX_RULES
    # the same-document rule survived, at the END (highest doc-order)
    decls = res.rules[-1][1]
    assert ("background", "#FF0000") in [
        (p, v) for p, v, _imp in decls], decls


def test_external_sheet_parse_memo():
    """r7 review: identical external sheet text parses once per
    process, not once per document row."""
    from exstruct_spark.kernels.css import _parse_sheet_cached

    text = ".a { border: 1px solid #000 } .b { background: #FFF }"
    first = _parse_sheet_cached(text)
    again = _parse_sheet_cached(text)
    assert first is again  # memo hit, not a re-parse
    assert _parse_sheet_cached(text + " ") is not first


def test_joined_sheet_byte_order_mark_is_dropped():
    """A corpus sheet saved with a UTF-8 byte-order mark reaches the
    kernel with a leading U+FEFF; its first rule still applies."""
    html = (b"<html><head><link rel=stylesheet href='/s.css'></head><body>"
            b"<table><tr><td>a</td><td>1</td></tr>"
            b"<tr><td>b</td><td>2</td></tr></table></body></html>")

    def colors(text):
        rec = extract_document("https://x.test/p", html, external_css=[
            {"u": "https://x.test/s.css", "t": text}])
        return json.loads(rec["extraction_json"])["tables"][0].get(
            "colors_map")

    sheet = "td { background-color:#00FF00 }"
    assert colors("\ufeff" + sheet) == colors(sheet) == {
        "00FF00": [[1, 0], [1, 1], [2, 0], [2, 1]]}


def test_gviz_receiver_reuse_resets_columns():
    """r7 review: 'data = new google.visualization.DataTable()' starts
    a NEW column set — the second chart must not inherit the first
    chart's addColumn calls."""
    from exstruct_spark.kernels.chartconfig import charts_from_script
    s = """
    var data = new google.visualization.DataTable();
    data.addColumn('string', 'Month'); data.addColumn('number', 'Sales');
    data.addRows([['Jan', 1], ['Feb', 2]]);
    var c1 = new google.visualization.BarChart(e1);
    c1.draw(data, {title: 'Sales'});
    data = new google.visualization.DataTable();
    data.addColumn('string', 'City'); data.addColumn('number', 'Pop');
    data.addRows([['NY', 8], ['LA', 4]]);
    var c2 = new google.visualization.PieChart(e2);
    c2.draw(data, {title: 'Population'});
    """
    charts = charts_from_script(s)
    names = [[n for n, _ in ch["series"]] for ch in charts]
    assert names == [["Sales"], ["Pop"]], names


def test_gviz_context_nearest_draw_only():
    """r7 review: a chart whose own draw() has no title must NOT
    inherit the next chart's title/vAxis."""
    from exstruct_spark.kernels.chartconfig import charts_from_script
    s = """
    var dataA = google.visualization.arrayToDataTable([['M','Units'],['Jan',1]]);
    var a = new google.visualization.ColumnChart(e1);
    a.draw(dataA, {vAxis: {title: 'Units'}});
    var dataB = google.visualization.arrayToDataTable([['M','USD'],['Jan',9]]);
    var b = new google.visualization.LineChart(e2);
    b.draw(dataB, {title: 'Revenue', vAxis: {title: 'USD'}});
    """
    charts = charts_from_script(s)
    assert [ch["title"] for ch in charts] == ["", "Revenue"]
    assert [ch.get("y_axis_title") for ch in charts] == ["Units", "USD"]


def test_set_style_rejects_top_crossing_rowspan():
    """r7 review: a rowspan entering the style rectangle from ABOVE
    splits it — the op must skip (raise), not silently leave the
    entered positions unstyled."""
    from exstruct_spark.kernels.edits import apply_ops
    html = ("<html><body><table>"
            "<tr><td rowspan='3'>tall</td><td>a</td></tr>"
            "<tr><td>b</td></tr>"
            "<tr><td>c</td></tr>"
            "</table></body></html>")
    out, statuses = apply_ops(html, [
        {"op": "set_style", "table": 0, "r1": 1, "c1": 0, "r2": 2,
         "c2": 1, "bold": True},
    ])
    assert statuses == ["skipped"]
    assert out == html
    # the same range NOT crossing the merged cell applies
    _, ok = apply_ops(html, [
        {"op": "set_style", "table": 0, "r1": 1, "c1": 1, "r2": 2,
         "c2": 1, "bold": True},
    ])
    assert ok == ["applied"]


def test_create_chart_hostile_text_roundtrip():
    """r7 review: cell text containing '</script>' must not break out
    of the injected script, and a '&'/'<' title must round-trip raw
    (script content is never entity-decoded)."""
    from exstruct_spark.kernels.edits import apply_ops
    from exstruct_spark.kernels.chartconfig import charts_from_script
    import re as _re
    html = ("<html><body><table>"
            "<tr><td>M</td><td>V</td></tr>"
            "<tr><td>&lt;/script&gt;</td><td>1</td></tr>"
            "<tr><td>Feb</td><td>2</td></tr>"
            "</table></body></html>")
    out, statuses = apply_ops(html, [
        {"op": "create_chart", "table": 0, "r1": 0, "c1": 0, "r2": 2,
         "c2": 1, "chart_type": "bar", "title": "P&L <2024>"},
    ])
    assert statuses == ["applied"]
    assert out.count("<script>") == 1 and out.count("</script>") == 1
    script = _re.search(r"<script>(.*?)</script>", out, _re.S).group(1)
    charts = charts_from_script(script)
    assert charts and charts[0]["title"] == "P&L <2024>"
    assert charts[0]["labels"][0] == "</script>"


def test_pdf_flate_cap_counts_only_flate_streams():
    """r7 review: MAX_STREAMS counts FlateDecode candidates only — an
    image-heavy PDF keeps its text streams; flate candidates beyond
    the cap are ledgered, never silently dropped."""
    import zlib as _zlib
    from exstruct_spark.kernels.pdf import (
        MAX_STREAMS, _decode_text_streams, extract_pdf_document)

    text_stream = _zlib.compress(b"BT (recovered text) Tj ET")
    image = (b"<< /Filter /DCTDecode /Length 4 >>\nstream\n\xff\xd8\xff\xd9\n"
             b"endstream\n")
    flate = (b"<< /Filter /FlateDecode >>\nstream\n" + text_stream +
             b"\nendstream\n")
    pdf = b"%PDF-1.4\n" + image * (MAX_STREAMS + 10) + flate + b"%%EOF"
    doc = extract_pdf_document(pdf)
    assert "recovered text" in doc["text"]

    over = b"%PDF-1.4\n" + flate * (MAX_STREAMS + 3) + b"%%EOF"
    chunks, stats = _decode_text_streams(over)
    assert stats["decoded"] == MAX_STREAMS
    assert stats["skipped_over_cap"] == 3


def test_pdf_lzw_ascii_filters_and_chains():
    """Round 7 (continuation): LZWDecode, ASCII85Decode and
    ASCIIHexDecode streams — singly and CHAINED
    ([/ASCII85Decode /FlateDecode], the classic pre-binary-transport
    generator output) — all feed the same text harvest; predictor
    streams are counted + skipped; a corrupt LZW code stream degrades
    like a corrupt flate one."""
    import base64 as _b64
    import zlib as _zlib

    from exstruct_spark.kernels.pdf import (
        _lzw_decode, extract_pdf_document)

    def lzw_encode(data: bytes) -> bytes:
        """Classic greedy LZW code stream; widths assigned by replaying
        the DECODER's early-change schedule (pdfminer/pdf.js timing:
        bump after the table add that makes next_code+1 == 2^width), so
        the fixture exercises exactly the schedule the kernel decodes."""
        table = {bytes([i]): i for i in range(256)}
        next_code = 258
        codes = [256]
        w = b""
        for ch in data:
            c = bytes([ch])
            if w + c in table:
                w += c
                continue
            codes.append(table[w])
            table[w + c] = next_code
            next_code += 1
            w = c
        if w:
            codes.append(table[w])
        codes.append(257)
        # decoder-replay width assignment: the decoder adds one table
        # entry per code from the SECOND real code onward and bumps
        # width right after the add
        widths = []
        next_code, width = 258, 9
        seen_first = False
        for code in codes:
            widths.append(width)
            if code == 256:
                next_code, width, seen_first = 258, 9, False
            elif code != 257:
                if seen_first:
                    next_code += 1
                    if next_code + 1 >= (1 << width) and width < 12:
                        width += 1
                seen_first = True
        buf = n = 0
        out = bytearray()
        for code, wd in zip(codes, widths):
            buf = (buf << wd) | code
            n += wd
            while n >= 8:
                n -= 8
                out.append((buf >> n) & 0xFF)
        if n:
            out.append((buf << (8 - n)) & 0xFF)
        return bytes(out)

    # round-trip sanity at the decoder grain: short (single-width) and
    # long (crosses the 9->10 bit boundary) plus the KwKwK case
    short = b"BT (lzw text recovered) Tj ET"
    assert _lzw_decode(lzw_encode(short), 1 << 20) == (short, False)
    kwk = b"aaabbbaaabbbaaa" * 3
    assert _lzw_decode(lzw_encode(kwk), 1 << 20) == (kwk, False)
    import random as _random
    rng = _random.Random(7)
    longdata = bytes(rng.randrange(0, 8) for _ in range(6000))
    assert _lzw_decode(lzw_encode(longdata), 1 << 20) == (longdata, False)
    # corrupt: a code far ahead of the table
    bad = bytes([0x80, 0x40, 0xFF, 0xFF, 0xFF])
    assert _lzw_decode(bad, 1 << 20) is None

    def pdf_with(body: bytes, filt: bytes, extra: bytes = b"") -> bytes:
        return (b"%PDF-1.4\n1 0 obj << /Length " +
                str(len(body)).encode() + b" /Filter " + filt + extra +
                b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF")

    # LZW stream end-to-end
    d = extract_pdf_document(pdf_with(
        lzw_encode(b"BT (via lzw) Tj ET"), b"/LZWDecode"))
    assert "via lzw" in d["text"]
    assert d["stream_stats"] == {"decoded": 1, "corrupt": 0,
                                 "truncated": 0}

    # ASCIIHex and ASCII85 wrappers, single and chained with flate
    hex_body = b"BT (hex wrapped) Tj ET".hex().encode() + b">"
    d = extract_pdf_document(pdf_with(hex_body, b"/ASCIIHexDecode"))
    assert "hex wrapped" in d["text"]
    a85_body = _b64.a85encode(
        _zlib.compress(b"BT (a85 flate chain) Tj ET")) + b"~>"
    d = extract_pdf_document(pdf_with(
        a85_body, b"[/ASCII85Decode /FlateDecode]"))
    assert "a85 flate chain" in d["text"]
    # abbreviated inline-image names work too
    d = extract_pdf_document(pdf_with(
        _b64.a85encode(b"BT (abbrev) Tj ET") + b"~>", b"/A85"))
    assert "abbrev" in d["text"]

    # predictor streams: skipped + ledgered, never mis-decoded
    pred = _zlib.compress(b"\x00" * 40)
    d = extract_pdf_document(pdf_with(
        pred, b"/FlateDecode",
        extra=b" /DecodeParms << /Predictor 12 /Columns 4 >>"))
    assert d["stream_stats"]["predictor_skipped"] == 1
    assert d["stream_stats"]["decoded"] == 0

    # corrupt LZW counts like corrupt flate
    d = extract_pdf_document(pdf_with(bad, b"/LZWDecode"))
    assert d["stream_stats"]["corrupt"] == 1

    # a previous object's /Filter must not leak onto a filterless
    # stream that follows it (object-header window scoping)
    leak = (b"%PDF-1.4\n"
            b"1 0 obj << /Filter /FlateDecode /Length 5 >>\nstream\n"
            + _zlib.compress(b"BT (compressed ok) Tj ET")
            + b"\nendstream\nendobj\n"
            b"2 0 obj << /Length 20 >>\nstream\n"
            b"BT (plain stream) Tj ET\nendstream\nendobj\n%%EOF")
    d = extract_pdf_document(leak)
    assert "compressed ok" in d["text"] and "plain stream" in d["text"]
    assert d["stream_stats"]["corrupt"] == 0  # the plain stream never
    # entered the decoder as a phantom flate candidate


def test_gviz_draw_binding_interleaved_and_reassigned():
    """r7 third-pass review pins: (a) a table built before another
    chart's draw still binds to ITS OWN draw by variable; (b) a
    property assignment (cfg.data = …) must not capture 'data' as the
    variable; (c) a reassigned receiver takes the LAST constructor
    before its draw."""
    from exstruct_spark.kernels.chartconfig import charts_from_script

    # (a) interleaved: dataB assigned before chart A draws
    s = """
    var dataA = google.visualization.arrayToDataTable([['M','U'],['J',1]]);
    var dataB = google.visualization.arrayToDataTable([['M','$'],['J',9]]);
    var a = new google.visualization.ColumnChart(e1);
    a.draw(dataA, {});
    var b = new google.visualization.LineChart(e2);
    b.draw(dataB, {title: 'Revenue', vAxis: {title: 'USD'}});
    """
    got = [(c["chart_type"], c["title"]) for c in charts_from_script(s)]
    assert got == [("Column", ""), ("Line", "Revenue")], got

    # (b) property assignment: no false variable capture
    s2 = """
    cfg.data = google.visualization.arrayToDataTable([['M','A'],['x',1]]);
    var c1 = new google.visualization.ColumnChart(e1);
    c1.draw(cfg.data, {title:'Mine'});
    var data = google.visualization.arrayToDataTable([['M','B'],['y',2]]);
    var c2 = new google.visualization.PieChart(e2);
    c2.draw(data, {title:'Other'});
    """
    got = [(c["chart_type"], c["title"]) for c in charts_from_script(s2)]
    assert got == [("Column", "Mine"), ("Pie", "Other")], got

    # (c) receiver reassignment: last ctor before the draw wins
    s3 = """
    var data = google.visualization.arrayToDataTable([['M','A'],['x',1]]);
    var chart = new google.visualization.PieChart(p);
    chart.draw(data, {title:'First'});
    var data2 = google.visualization.arrayToDataTable([['M','B'],['y',2]]);
    chart = new google.visualization.ColumnChart(c);
    chart.draw(data2, {title:'Second'});
    """
    got = [(c["chart_type"], c["title"]) for c in charts_from_script(s3)]
    assert got == [("Pie", "First"), ("Column", "Second")], got


def test_media_query_html_whitespace():
    """r7 third-pass review: any HTML whitespace separates media
    keywords — 'not\\tscreen' / 'not\\nprint' parse like their
    space-separated forms."""
    from exstruct_spark.kernels.css import media_applies_on_screen as m
    assert not m("not\tscreen")
    assert not m("not\nscreen")
    assert m("not\tprint")
    assert m("only\nscreen")
    assert not m("only\tprint")


def test_gviz_property_receiver_types():
    """r7 fourth-pass review: property receivers (this.a = new …;
    this.a.draw(data)) must still bind their own constructor type."""
    from exstruct_spark.kernels.chartconfig import charts_from_script
    s = """
    var dataA = google.visualization.arrayToDataTable([['M','A'],['x',1]]);
    var dataB = google.visualization.arrayToDataTable([['M','B'],['y',2]]);
    this.a = new google.visualization.ColumnChart(e1);
    this.b = new google.visualization.LineChart(e2);
    this.a.draw(dataA, {title:'A'});
    this.b.draw(dataB, {title:'B'});
    """
    got = [(c["chart_type"], c["title"]) for c in charts_from_script(s)]
    assert got == [("Column", "A"), ("Line", "B")], got


def test_gviz_dotted_receiver_disambiguation():
    """r7 fifth-pass review: `other.chart = new PieChart` must not
    rebind `this.chart`'s type — the constructor search matches the
    draw's FULL dotted receiver path."""
    from exstruct_spark.kernels.chartconfig import charts_from_script
    s = """
    var d1 = google.visualization.arrayToDataTable([['M','A'],['x',1]]);
    var d2 = google.visualization.arrayToDataTable([['M','B'],['y',2]]);
    this.chart = new google.visualization.ColumnChart(e1);
    other.chart = new google.visualization.PieChart(e2);
    other.chart.draw(d2, {title:'O'});
    this.chart.draw(d1, {title:'T'});
    """
    got = [(c["chart_type"], c["title"]) for c in charts_from_script(s)]
    assert got == [("Column", "T"), ("Pie", "O")], got


def test_admitted_sheets_document_order():
    """r7 fifth-pass review: admitted external sheets are ordered by
    the kernel's own document-order list, never by join-side array
    position, and an entry whose URL is not on the list is dropped."""
    from exstruct_spark.kernels.extract import _admitted_sheets

    ext = [
        {"u": "https://s/b.css", "t": "B"},
        {"u": "https://s/a.css", "t": "A"},
        {"u": "https://s/phantom.css", "t": "X"},  # not on the list
    ]
    sheets = ["https://s/a.css", "https://s/b.css"]
    assert _admitted_sheets(ext, sheets) == ["A", "B"]
    # same-URL multiplicity (e.g. an @import entry before its
    # importer) keeps array order within the URL
    ext2 = [
        {"u": "https://s/a.css", "t": "imported"},
        {"u": "https://s/a.css", "t": "importer"},
    ]
    assert _admitted_sheets(ext2, ["https://s/a.css"]) == [
        "imported", "importer"]
    # legacy plain strings order after listed sheets, as given
    assert _admitted_sheets(["x", "y"], []) == ["x", "y"]


def test_gviz_window_alias_receiver():
    """r7 sixth-pass review: `window.c = new …Chart` and bare `c` are
    the same binding — the constructor search treats the window.
    prefix as optional on both sides."""
    from exstruct_spark.kernels.chartconfig import charts_from_script
    s = """
    window.c1 = new google.visualization.ColumnChart(e1);
    window.c2 = new google.visualization.PieChart(e2);
    var d2 = google.visualization.arrayToDataTable([['M','B'],['y',2]]);
    c2.draw(d2, {title:'B'});
    """
    got = [(c["chart_type"], c["title"]) for c in charts_from_script(s)]
    assert got == [("Pie", "B")], got
    s2 = """
    var c2 = new google.visualization.PieChart(e2);
    var d2 = google.visualization.arrayToDataTable([['M','B'],['y',2]]);
    window.c2.draw(d2, {title:'B'});
    """
    got = [(c["chart_type"], c["title"]) for c in charts_from_script(s2)]
    assert got == [("Pie", "B")], got


def test_style_import_refs_strict_prefix_and_media():
    """Round 7 late: inline <style> @import targets join the page's
    applicable-stylesheet list under the browser's STRICT top-of-sheet
    rule (ignored after any other rule) and per-import media tails;
    print-only <style> blocks contribute nothing."""
    from exstruct_spark.kernels.extract import (
        _style_import_hrefs, _stylesheet_refs)

    assert _style_import_hrefs(
        "@import url(a.css); @import 'b.css' screen; "
        "td{x:y} @import url(c.css);") == ["a.css", "b.css"]
    assert _style_import_hrefs(
        '@charset "utf-8"; @layer base; @import url(a.css);'
    ) == ["a.css"]
    assert _style_import_hrefs("td{c:d} @import url(a.css);") == []
    assert _style_import_hrefs(
        "/* c */ @import url(a.css) print; "
        "@import url(b.css) not print;") == ["b.css"]

    from exstruct_spark.kernels.dom import parse_html as _ph
    root = _ph("<html><head><link rel=stylesheet href='l.css'>"
               "<style>@import url(s.css);</style>"
               "<style media=print>@import url(p.css);</style>"
               "</head><body></body></html>")
    links, styles = [], []
    def walk(n):
        for c in n.element_children():
            if c.tag == "link":
                links.append(c)
            if c.tag == "style":
                styles.append(c)
            walk(c)
    walk(root)
    assert _stylesheet_refs(links, "http://t/x/", styles) == [
        "http://t/x/l.css", "http://t/x/s.css"]


def test_visibility_property_name_anchored():
    """ADVICE r7: 'backface-visibility:hidden' (a common inline
    carousel/animation idiom) is NOT the visibility property — the
    subtree stays visible and its text reaches main_text; same
    anchoring for display ('-webkit-display' style vendor noise)."""
    from exstruct_spark.golden import extract_document
    from exstruct_spark.kernels.dom import is_hidden, is_invisible, visibility_of

    assert visibility_of(
        {"style": "backface-visibility:hidden"}) is None
    assert not is_invisible(
        {"style": "-webkit-backface-visibility:hidden"})
    # the real property still wins, last-declaration rule intact
    assert visibility_of(
        {"style": "backface-visibility:visible;visibility:hidden"}
    ) == "hidden"
    assert not is_hidden({"style": "-moz-display:none"})
    assert is_hidden({"style": "display:none"})

    html = ("<html><body><div style='backface-visibility:hidden'>"
            "<p>Carousel content paragraph that is plainly visible "
            "to any real browser user.</p></div></body></html>")
    rec = extract_document("http://t/bv", html.encode())
    assert "Carousel content paragraph" in rec["main_text"]
    assert rec["status"] == "ok"


def test_sniff_feed_unterminated_comment_window():
    """ADVICE r7: a head comment whose '-->' closes beyond the 4096-char
    sniff window must still comment out the '<rss' inside it — the
    unterminated '<!--' reads comment-to-end, matching the tokenizer's
    rule, so the real HTML page is not misrouted to the feed route."""
    from exstruct_spark.golden import extract_document
    from exstruct_spark.kernels.feeds import sniff_feed_kind

    page = ("<!-- legacy feed copy: <rss version='2.0'> "
            + "x" * 5000 + " --><html><body><p>"
            + "Real page body text, long enough to keep as content."
            + "</p></body></html>")
    assert sniff_feed_kind(page) is None
    rec = extract_document("http://t/cw", page.encode())
    assert "Real page body text" in rec["main_text"]
    # a genuine feed with a TERMINATED head comment still routes
    assert sniff_feed_kind(
        "<!-- banner --><rss version=\"2.0\"><channel/></rss>") == "rss"


def test_parser_comment_open_inside_script_raw_text():
    """r8 tokenizer regression guard: '<!--' inside script raw text must
    not open a comment that swallows markup after '</script>' (the scan
    re-anchors at the raw-text close; a lazy comment match would extend
    to the next '-->' anywhere later in the document)."""
    from exstruct_spark.kernels.dom import parse_html

    html = ("<html><head><script>var x = 1 <!-- 2;</script>"
            "<base href='https://cdn.example/css/'>"
            "<link rel='stylesheet' href='t.css'></head>"
            "<body><p>kept text</p></body><!-- tail --></html>")
    root = parse_html(html)
    base = root.find_first("base")
    assert base is not None and base.attrs["href"] == "https://cdn.example/css/"
    link = root.find_first("link")
    assert link is not None and link.attrs["href"] == "t.css"
    p = root.find_first("p")
    assert p is not None and p.text_content() == "kept text"
    script = root.find_first("script")
    assert script.children == ["var x = 1 <!-- 2;"]
