"""The one HTML grammar: ``dom._parse_html_fast`` is total, and the
native scanner (``htmlscan.c``) builds the same trees it does."""

from __future__ import annotations

import gc
import os
import subprocess
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from adversarial_pages import ADVERSARIAL
from exstruct_spark.kernels import dom
from exstruct_spark.pages import build_page, build_rich_page


def tree_signature(root) -> list:
    """Everything a kernel can read off a parsed tree: per node in
    document order its tag, attrs, i0/i1, source offsets s0/s1/e0/e1,
    parent (by index) and children (strings verbatim, nodes by index),
    plus len(doc_nodes)."""
    dl = root.doc_nodes
    index = {id(n): k for k, n in enumerate(dl)}
    assert root.parent is None and dl[0] is root
    sig = [len(dl)]
    for k, n in enumerate(dl):
        assert n.doc_nodes is dl
        parent = None if n.parent is None else index[id(n.parent)]
        if k:
            assert n in n.parent.children
        sig.append((n.tag, n.attrs, n.i0, n.i1, n.s0, n.s1, n.e0, n.e1,
                    parent,
                    [c if type(c) is str else ("#node", index[id(c)])
                     for c in n.children]))
    return sig


def assert_same_tree(native_parse, html: str, xml_mode: bool) -> None:
    want = tree_signature(dom._parse_html_fast(html, xml_mode))
    got = tree_signature(native_parse(html, xml_mode))
    assert got == want


# named cases: each exact regex behaviour the native port reproduces
NAMED = {
    # alternatives in _TOKEN_RE order; a '<' that starts none stays text
    "stray_lt": "a < b <1 <> </ > <-x </1 x<",
    "end_tag_without_gt": "<p>x</p</div",
    "doctype_and_pi": "<!DOCTYPE html><?xml version='1.0'?><p>x<!x <?y",
    "bang_dash": "<!- x -><p>y</p>",
    # possessive attribute run: '(/?)' never captures
    "void_self_close": "<p>a<br/>b<img src=x/>c<div/>d</div></p>",
    "self_close_spaced": "<x a='1'/ ><y/\n>t</y>",
    # a quote with no partner fails the start tag, so '<' stays text
    "unterminated_double": '<a href="x>text</a><p>after</p>',
    "unterminated_single": "<a title='x>y</a><b>z</b>",
    "quote_spans_gt": "<a title=\"x>y\" href='>'>link</a>",
    # '$' also matches just before a final newline
    "comment_final_newline": "<p>x</p><!-- open\n",
    "comment_open_at_end": "<p>x</p><!--",
    "comment_newline_only": "<p>x</p><!--\n",
    "cdata_final_newline": "x<![CDATA[ y\n",
    "cdata_closed": "x<![CDATA[ <p>y</p> ]]>z",
    "comment_double_newline": "<p>x</p><!-- open\n\n",
    # raw-text close: case-insensitive, Unicode \b
    "script_upper_close": "<script>a<b</SCRIPT><p>seen</p>",
    "script_word_boundary": "<script>1</scripty>2</script_>3</script>ok",
    "script_unicode_word": "<script>1</scripté>2</script1>3</script>ok",
    "script_fold_long_s": "<script>1</ſcript>ok",
    "script_fold_dotted_i": "<script>1</scrİpt>2</scrıpt>ok",
    "style_close": "<style>p{}</STYLE ><p>seen</p>",
    "script_unterminated": "<p>a</p><script>var x = 1;",
    "script_empty_unterminated": "<p>a</p><script>",
    "script_close_no_gt": "<script>x</script",
    "comment_in_script": "<script>'<!--'</script><p>real</p>-->",
    # implicit closes and their barriers
    "implicit_close": "<ul><li>a<li>b<ul><li>c<li>d</ul><li>e</ul>"
                      "<table><tr><td>1<td>2<tr><th>3</table><p>x<p>y",
    "void_end_tag": "<p>a</br>b</img></p>",
    "stray_end": "</div></p>text</span>",
    "mixed_case_tags": "<DiV Class=X><P>a</p></DIV>",
    "entities": "<p t='&amp;&lt;'>a&amp;b &#x41; &bogus; &</p>",
    # str kinds 1, 2 and 4
    "kind1": "<p title='café'>naïve ÿ</p>",
    "kind2": "<p title='売上'>€ 利益 <b>表</b></p>",
    "kind4": "<p title='😀'>😀 <i>𝒳</i></p><script>😀</SCRİPT>x",
}

XML_NAMED = {
    "xml_self_close": "<rss><item><link/>u<title>t</title></item></rss>",
    "xml_link_text": "<item><link>https://x</link><br>t</br></item>",
    "xml_self_close_space": "<a><b x='1' / ><c/ ></a>",
}


@pytest.mark.parametrize("xml_mode", [False, True])
@pytest.mark.parametrize("name", sorted(NAMED) + sorted(XML_NAMED))
def test_named_case(native_parse, name, xml_mode):
    assert_same_tree(native_parse, {**NAMED, **XML_NAMED}[name], xml_mode)


@pytest.mark.parametrize("xml_mode", [False, True])
def test_corpus_pages(native_parse, xml_mode):
    for i in range(60):
        for page in (build_page(i), build_rich_page(i)):
            assert_same_tree(native_parse,
                             dom.decode_html_bytes(page["html"]), xml_mode)


@pytest.mark.parametrize("xml_mode", [False, True])
@pytest.mark.parametrize("name", [n for n, _ in ADVERSARIAL])
def test_adversarial_pages(native_parse, name, xml_mode):
    raw = dict(ADVERSARIAL)[name]
    assert_same_tree(native_parse, dom.decode_html_bytes(raw), xml_mode)


# markup-shaped text: fragments that steer the scanner into every branch
_FRAGMENTS = st.sampled_from([
    "<", ">", "/", "\"", "'", "=", " ", "\n", "<!--", "-->", "<![CDATA[",
    "]]>", "<!", "<?", "</", "script", "SCRIPT", "style", "ſ", "İ", "p",
    "li", "td", "tr", "th", "table", "div", "ul", "br", "img", "a", "b",
    "href", "x-y", ":", "_", "1", "é", "€", "😀", "&amp;", "&", "&#60;",
])
MARKUP = st.lists(_FRAGMENTS | st.text(max_size=4), max_size=40).map("".join)
HYPOTHESIS = settings(max_examples=2000, deadline=None,
                      suppress_health_check=[HealthCheck.too_slow])


@pytest.mark.parametrize("xml_mode", [False, True])
def test_native_matches_python_hypothesis(native_parse, xml_mode):
    @HYPOTHESIS
    @given(html=MARKUP | st.text())
    def check(html):
        assert_same_tree(native_parse, html, xml_mode)

    check()


def assert_offsets(root, html: str) -> None:
    """The source offsets bound each element: ``html[s0:s1]`` is its
    start tag, ``html[e0:e1]`` its end tag or empty, ``s0 <= s1 <= e0 <=
    e1``, and it lies inside its parent's content ``[s1, e0]``, after
    its previous element sibling."""
    n = len(html)
    assert (root.s0, root.s1, root.e0, root.e1) == (0, 0, n, n)
    for node in root.doc_nodes[1:]:
        assert node.s0 <= node.s1 <= node.e0 <= node.e1
        m = dom._TOKEN_RE.fullmatch(html, node.s0, node.s1)
        assert m and m.lastindex == 3 and m.group(1).lower() == node.tag
        if node.e0 < node.e1:
            if node.tag in dom._RAW_TEXT_TAGS:
                # the raw-text close folds case (U+0130 in '</scrİpt>')
                assert html.startswith("</", node.e0)
            else:
                m = dom._TOKEN_RE.fullmatch(html, node.e0, node.e1)
                assert m and m.lastindex == 4
                assert m.group(4).lower() == node.tag
        parent = node.parent
        assert parent.s1 <= node.s0 and node.e1 <= parent.e0
    for node in root.doc_nodes:
        prev_end = node.s1
        for child in node.element_children():
            assert child.s0 >= prev_end
            prev_end = child.e1


@pytest.mark.parametrize("xml_mode", [False, True])
@pytest.mark.parametrize("name", sorted(NAMED) + sorted(XML_NAMED))
def test_offsets_named_case(parser, name, xml_mode):
    html = {**NAMED, **XML_NAMED}[name]
    assert_offsets(dom.parse_html(html, xml_mode), html)


def test_offsets_corpus_and_adversarial_pages(parser):
    pages = [page["html"] for i in range(30)
             for page in (build_page(i), build_rich_page(i))]
    pages += [raw for _, raw in ADVERSARIAL]
    for raw in pages:
        html = dom.decode_html_bytes(raw)
        for xml_mode in (False, True):
            assert_offsets(dom.parse_html(html, xml_mode), html)


@pytest.mark.parametrize("xml_mode", [False, True])
def test_offsets_hypothesis(parser, xml_mode):
    @settings(max_examples=500, deadline=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture])
    @given(html=MARKUP | st.text())
    def check(html):
        assert_offsets(dom.parse_html(html, xml_mode), html)

    check()


def test_offsets_of_implicit_closes():
    """Worked example: an element closed by a later start tag, by an
    ancestor's end tag or by the end of input ends where that token
    starts; a void element ends at its start tag."""
    html = "<table><tr><td>a<td>b</tr></table><br><p>x"
    root = dom.parse_html(html)
    spans = [(n.tag, html[n.s0:n.s1], html[n.s1:n.e0], html[n.e0:n.e1])
             for n in root.doc_nodes[1:]]
    assert spans == [
        ("table", "<table>", "<tr><td>a<td>b</tr>", "</table>"),
        ("tr", "<tr>", "<td>a<td>b", "</tr>"),
        ("td", "<td>", "a", ""),
        ("td", "<td>", "b", ""),
        ("br", "<br>", "", ""),
        ("p", "<p>", "x", ""),
    ]


@pytest.mark.parametrize("xml_mode", [False, True])
def test_python_grammar_is_total(xml_mode):
    """The grammar never raises on a str, so no input depends on an
    exception path."""
    @HYPOTHESIS
    @given(html=MARKUP | st.text())
    def check(html):
        root = dom._parse_html_fast(html, xml_mode)
        assert root.i1 == len(root.doc_nodes)

    check()


def test_parse_html_raises_instead_of_a_second_grammar():
    """A real error reaches the caller (extract_document turns it into
    the fallback row) instead of a retry with another grammar."""
    with pytest.raises(TypeError):
        dom.parse_html(b"<p>bytes are not a str</p>")


def test_unbuildable_native_falls_back_with_one_warning(tmp_path):
    """No usable cache directory: the Python parser, text walk, table
    grid and serializer run, one WARNING names the reason on stderr,
    stdout stays clean."""
    not_a_dir = tmp_path / "cache"
    not_a_dir.write_text("")
    code = ("from exstruct_spark.kernels import dom, serialize, tables; "
            "assert dom._native is None and "
            "dom._parse is dom._parse_html_fast; "
            "assert dom.Node.text_content is dom._text_content_py; "
            "assert tables._grid is None; "
            "assert serialize._encode is None; "
            "root = dom.parse_html('<p>x<br>y <script>z</script></p>'); "
            "assert root.text_content() == 'x y'; "
            "assert serialize.canonical_json({'a': [None, 'é']}) == "
            "'{\"a\":[\"é\"]}'")
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "XDG_CACHE_HOME": str(not_a_dir)}, timeout=120)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout == ""
    warnings = [ln for ln in proc.stderr.splitlines()
                if "native HTML parser unavailable" in ln]
    assert len(warnings) == 1


def test_parse_error_becomes_the_fallback_row(monkeypatch):
    from exstruct_spark.kernels.extract import extract_document

    def broken(html, xml_mode=False):
        raise RecursionError("parser failure")

    monkeypatch.setattr(dom, "_parse", broken)
    rec = extract_document("u://x", b"<p>some text here</p>")
    assert rec["status"] == "fallback"
    assert rec["fallback_reason"] == "RecursionError"
    assert rec["main_text"] == "some text here"


def _live_nodes() -> int:
    return sum(type(o) is dom.Node for o in gc.get_objects())


def _rich_page(archetype: str) -> dict:
    from exstruct_spark.pages import RICH_ARCHETYPES

    return build_rich_page(RICH_ARCHETYPES.index(archetype))


def _every_input() -> list:
    """``(url, raw)`` of every corpus archetype, rich page, adversarial
    input and non-page route."""
    from adversarial_pages import ROUTES
    from exstruct_spark.pages import ARCHETYPES, RICH_ARCHETYPES

    pages = [build_page(i) for i in range(len(ARCHETYPES))]
    pages += [build_rich_page(i) for i in range(len(RICH_ARCHETYPES))]
    return ([(p["url"], p["html"]) for p in pages]
            + [(f"https://adversarial.example/{name}", raw)
               for name, raw in ADVERSARIAL + ROUTES])


@pytest.mark.parametrize("doc", ["large_page", "rss_feed", "fallback",
                                 "every_input"])
def test_extracted_tree_is_freed_without_the_cyclic_gc(parser, doc,
                                                       monkeypatch):
    """``extract_document`` releases its parse tree on the HTML route,
    the feed route and the fallback path, and leaves no cyclic garbage
    on any input: with the cyclic GC off, no ``Node`` outlives the call
    and a collection afterwards finds nothing to free."""
    from exstruct_spark.kernels import extract
    from perfbench.inputs import large_page

    if doc == "every_input":
        docs = _every_input()
    elif doc == "rss_feed":
        page = _rich_page("rss_feed")
        docs = [(page["url"], page["html"])]
    else:
        page = large_page(1, 0)
        docs = [(page["url"], page["html"])]
    if doc == "fallback":
        def failing(*args, **kwargs):
            raise ValueError("kernel failure")
        monkeypatch.setattr(extract, "extract_main_text", failing)
    gc.collect()
    gc.disable()
    try:
        before = _live_nodes()
        recs = [extract.extract_document(url, raw) for url, raw in docs]
        after = _live_nodes()
        garbage = gc.collect()
    finally:
        gc.enable()
    if doc != "every_input":
        assert recs[0]["status"] == ("fallback" if doc == "fallback"
                                     else "ok")
    assert after == before
    assert garbage == 0


@pytest.mark.parametrize("frame", ["every_input", "large_pages"])
def test_extracted_batch_leaves_no_cyclic_garbage(parser, frame):
    """The batch kernel the engine runs with the cyclic GC paused,
    ``golden.extract_pdf``, leaves nothing for a collection to free.
    The frame is built first, with the GC on: building a pandas frame
    makes cycles of its own."""
    import pandas as pd

    from exstruct_spark.golden import extract_pdf
    from perfbench.inputs import large_pages

    if frame == "every_input":
        docs = _every_input()
    else:
        docs = [(p["url"], p["html"]) for p in large_pages(1, 40)]
    pdf = pd.DataFrame({"url": [u for u, _ in docs],
                        "html": [raw for _, raw in docs]})
    gc.collect()
    gc.disable()
    try:
        out = extract_pdf(pdf)
        garbage = gc.collect()
    finally:
        gc.enable()
    assert len(out) == len(docs)
    assert garbage == 0


def test_released_tree_keeps_its_children():
    root = dom.parse_html("<div><p>a</p><p>b</p></div>")
    p = root.find_first("p")
    assert p.parent.tag == "div" and root.parent is None
    dom.release(root)
    assert root.doc_nodes is None
    assert [c.tag for c in root.children[0].children] == ["p", "p"]
