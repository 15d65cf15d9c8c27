"""The one subtree text walk: ``htmlscan.c``'s ``text`` (installed as
``Node.text_content``) returns exactly the string its specification,
``dom._text_content_py``, returns, for every node of generated trees,
under both parsers and in xml mode, at the same string representation,
with children marked ``unrendered`` skipped by both.
"""

from __future__ import annotations

import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from exstruct_spark.kernels import dom

# every character str.isspace() counts that markup rarely carries, the
# ASCII ones, and text at each string width (latin-1, BMP, non-BMP)
SPACES = ["\x1c", "\x1d", "\x1e", "\x1f", "\x85", "\xa0", "　",
          " ", " ", "\t", "\n", "\r", "\x0b", "\x0c"]
WORDS = ["a", "bc", "é", "ÿ", "漢字", "😀", "𝄞x", "&amp;", "&nbsp;", "&#x1F600;"]
# block elements and <br> separate words; raw-text tags are skipped
TAGS = ["div", "p", "li", "td", "tr", "table", "section", "h1", "pre", "br",
        "span", "b", "a", "em", "script", "style", "template", "noscript",
        "img", "x-y"]

_OPEN = st.sampled_from(TAGS).map(lambda t: f"<{t}>")
_CLOSE = st.sampled_from(TAGS).map(lambda t: f"</{t}>")
_EMPTY = st.sampled_from(TAGS).map(lambda t: f"<{t}></{t}>")
_SELF = st.sampled_from(TAGS).map(lambda t: f"<{t}/>")
_TOKEN = (st.sampled_from(SPACES) | st.sampled_from(WORDS) | _OPEN | _CLOSE
          | _EMPTY | _SELF | st.text(max_size=3))
FLAT = st.lists(_TOKEN, max_size=40).map("".join)


@st.composite
def nested(draw):
    """Markup inside a deep run of open tags, some of them closed."""
    opens = draw(st.lists(_OPEN, min_size=1, max_size=200))
    inner = draw(FLAT)
    closes = draw(st.integers(0, len(opens)))
    return "".join(opens) + inner + "".join(
        o.replace("<", "</") for o in reversed(opens[:closes]))


MARKUP = FLAT | nested()


def _trees(draw_children):
    """Node trees built directly: adjacent and empty strings, which no
    parser produces."""
    return st.tuples(st.sampled_from(TAGS), draw_children).map(_node)


def _node(spec) -> dom.Node:
    tag, children = spec
    node = dom.Node(tag)
    node.children = list(children)
    return node


_TEXT = st.sampled_from(SPACES + WORDS + [""]) | st.text(max_size=4)
BUILT = st.recursive(
    _trees(st.lists(_TEXT, max_size=4)),
    lambda inner: _trees(st.lists(inner | _TEXT, max_size=5)),
    max_leaves=40)

HYPOTHESIS = settings(max_examples=1000, deadline=None,
                      suppress_health_check=[HealthCheck.too_slow])


def assert_same_text(native, node) -> None:
    want = dom._text_content_py(node)
    got = native.text(node)
    assert got == want
    # same width: ASCII stays ASCII, nothing is stored wider than needed.
    # Compared on fresh concatenations, which keep each string's width:
    # a one-character Latin-1 result of the Python walk is the shared
    # interpreter singleton, whose size grows by the UTF-8 copy any
    # earlier encode (an Arrow conversion, say) left cached on it
    assert sys.getsizeof(got + got) == sys.getsizeof(want + want)


def walk(node):
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(c for c in n.children if type(c) is dom.Node)


@pytest.fixture
def native(native_parse):
    return dom._native


@pytest.mark.parametrize("xml_mode", [False, True])
@pytest.mark.parametrize("parse", ["native", "python"])
def test_native_text_matches_python_hypothesis(native, parse, xml_mode):
    parse_fn = native.parse if parse == "native" else dom._parse_html_fast

    @HYPOTHESIS
    @given(html=MARKUP)
    def check(html):
        for node in parse_fn(html, xml_mode).doc_nodes:
            assert_same_text(native, node)

    check()


def test_native_text_matches_python_on_built_trees(native):
    @HYPOTHESIS
    @given(root=BUILT)
    def check(root):
        for node in walk(root):
            assert_same_text(native, node)

    check()


def test_native_text_skips_marked_children_like_python(native):
    """From a rendered node, both walks skip a child marked
    ``unrendered`` with its subtree; from a marked node they read every
    child (a read started inside a hidden subtree reads all of it)."""
    @HYPOTHESIS
    @given(root=BUILT, data=st.data())
    def check(root, data):
        nodes = list(walk(root))
        for node in nodes:
            node.unrendered = data.draw(st.booleans())
        for node in nodes:
            assert_same_text(native, node)

    check()
    root = native.parse("<p>a<span>b</span>c<div>d</div>e</p>")
    p, span, div = root.doc_nodes[1:]
    dom.mark_subtree(span)
    dom.mark_subtree(div)
    assert p.text_content() == dom._text_content_py(p) == "ace"
    assert span.text_content() == dom._text_content_py(span) == "b"
    assert p.preformatted_text() == "ace"
    dom.mark_subtree(p)
    assert p.text_content() == dom._text_content_py(p) == "abc d e"
    assert p.preformatted_text() == "abcde"


def test_deep_nesting_walks_without_recursion(native):
    root = native.parse("<div><b>" * 20000 + "deep　text" + "</b>" * 7)
    assert root.text_content() == "deep text"
    assert_same_text(native, root)


def test_text_content_is_the_native_method(native):
    """``Node.text_content`` is the native walk itself, a method
    descriptor of ``Node``: no Python frame runs per call."""
    assert dom.Node.text_content is native.text_content
    assert type(native.text_content).__name__ == "method_descriptor"
    with pytest.raises(TypeError):
        native.text_content("<p>not a node</p>")
    with pytest.raises(TypeError):
        native.text(None)


def test_malformed_children_raise_instead_of_crashing(native):
    """Children are a list of ``str`` and ``Node``; anything else is a
    ``TypeError``, never a read through a wrong pointer."""
    node = dom.Node("p")
    node.children = ["ok", 3]
    with pytest.raises(TypeError):
        native.text(node)
    node.children = ("not", "a list")
    with pytest.raises(TypeError):
        native.text(node)
