"""Lightweight DOM and the one HTML grammar that builds it.

The web analogue of the reference's single-pass OOXML scan
(``core/ooxml_drawing.py:186-257``, streaming ``iterparse`` with bounded
memory): each document is parsed ONCE and every artifact family (text,
tables, shapes, charts, lists, links) is derived from the same tree
(SURVEY.md §4 R5 — manual stage fusion, since Catalyst cannot fuse across
Python UDF boundaries).

No third-party HTML libraries are available in this environment
(lxml/selectolax absent), so this is a small regex-driven tree builder:
tolerant of unclosed tags, stray end tags, and void elements, and total
(it never raises on a ``str``).  ``_parse_html_fast`` is the grammar's
specification; ``native/htmlscan.c`` is a native port of its scan and build
loop that ``parse_html`` runs when it could be compiled (``native``),
tested against the Python parser for identical trees.

The subtree text walk is native the same way: ``_text_content_py`` is
its specification, and when the module is built ``Node.text_content``
is ``htmlscan.c``'s ``text``, installed as a method descriptor (no Python
frame per call), tested against the Python body for identical strings.
Without a build both Python bodies run; there is no other runtime path.
"""

from __future__ import annotations

import codecs
import re
from html import unescape as _unescape
from typing import Iterator, Optional

from exstruct_spark.kernels import native

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
RAW_TEXT_SKIP = frozenset({"script", "style", "template", "noscript"})
# containers whose CONTENT a browser never renders (script/style hold
# raw text, not elements, so pruning descent matters only for these)
RENDER_INERT = frozenset({"template", "noscript"})
# property name ANCHORED on the left (ADVICE r7): an unanchored match
# hits inside 'backface-visibility:hidden' / vendor-prefixed longhands
# and silently hides visible subtrees; same hardening for display
_DISPLAY_RE = re.compile(r"(?<![-\w])display\s*:\s*([a-zA-Z-]+)")


def is_hidden(attrs: dict) -> bool:
    """True when attrs hide the element from rendering: the ``hidden``
    attribute, or a ``display:none`` as the LAST display declaration of
    the (possibly class-rule-merged) style string — last-wins, so a
    later ``display:table-row`` un-hides."""
    if "hidden" in attrs:
        return True
    style = attrs.get("style")
    if style and "display" in style:
        decls = _DISPLAY_RE.findall(style)
        if decls and decls[-1].lower() == "none":
            return True
    return False


_VISIBILITY_RE = re.compile(r"(?<![-\w])visibility\s*:\s*([a-zA-Z-]+)")


def visibility_of(attrs: dict):
    """The LAST declared visibility value (lowercased) of the (possibly
    class-rule-merged) style string, or None.  ``hidden`` paints
    nothing but KEEPS the layout slot (a blank cell, unlike
    display:none's removed one); ``collapse`` on rows/row-groups
    removes them like display:none.  Descendant ``visibility: visible``
    reverts are out of the declared subset (deterministic over-hide on
    that rare idiom, documented)."""
    style = attrs.get("style")
    if style and "visibility" in style:
        decls = _VISIBILITY_RE.findall(style)
        if decls:
            return decls[-1].lower()
    return None


def is_invisible(attrs: dict) -> bool:
    """True when the element renders NO ink at all — removed from
    layout (``is_hidden``) or blank-boxed (``visibility_of`` hidden/
    collapse).  The right predicate for TEXT collection, where a blank
    box contributes exactly as much as a removed one: nothing."""
    return is_hidden(attrs) or visibility_of(attrs) in (
        "hidden", "collapse")
BLOCK_ELEMENTS = frozenset(
    (
        "address article aside blockquote body caption dd details dialog div dl dt "
        "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr "
        "html li main nav ol p pre section summary table tbody td tfoot th thead tr ul"
    ).split()
)
# end tags that implicitly close a still-open same-name sibling scope
_IMPLICIT_CLOSE = {
    "li": {"li"},
    "p": {"p"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "tr": {"tr", "td", "th"},
    "option": {"option"},
    "dd": {"dd", "dt"},
    "dt": {"dd", "dt"},
    "thead": {"tr", "td", "th"},
    "tbody": {"tr", "td", "th", "thead"},
    "tfoot": {"tr", "td", "th", "tbody"},
}

_WS_RE = re.compile(r"\s+")
_NO_ATTRS: dict = {}  # shared empty attrs (never mutated)


def _text_content_py(node: "Node") -> str:
    """Whitespace-collapsed text of the subtree, skipping script/style
    and, when ``node`` is rendered, every ``unrendered`` child subtree:
    the boundary of a hidden subtree is cut, and a walk started inside
    one reads all of it.

    The specification of the native walk (``htmlscan.c`` ``text``),
    which runs as ``Node.text_content`` whenever the scanner is built;
    this body runs only without it.  Parity role: ``_extract_text``
    over ``.//a:t`` nodes (reference ooxml_drawing.py:924-930) —
    concatenate then strip.  Iterative (explicit stack) so adversarially
    deep nesting cannot blow the recursion limit (fallback-not-fail
    applies to MALFORMED input; deep-but-valid input should extract
    normally).
    """
    if node.tag in RAW_TEXT_SKIP:
        return ""
    children = node.children
    # fast paths for the dominant leaf shapes (table cells, anchors,
    # headings): no children, or a single text child (r8)
    if not children:
        return ""
    if len(children) == 1 and type(children[0]) is str:
        return _WS_RE.sub(" ", children[0]).strip()
    parts: list = []
    cut = not node.unrendered
    # stack holds nodes to enter and sentinel strings to emit
    stack: list = list(reversed(children))
    while stack:
        item = stack.pop()
        if type(item) is str:
            parts.append(item)
            continue
        c = item
        if c.tag in RAW_TEXT_SKIP or (cut and c.unrendered):
            continue
        is_block = c.tag in BLOCK_ELEMENTS or c.tag == "br"
        if is_block:
            parts.append(" ")
            stack.append(" ")  # emitted after the subtree drains
        stack.extend(reversed(c.children))  # C-level push (r8)
    return _WS_RE.sub(" ", "".join(parts)).strip()


class Node:
    """One element. ``children`` holds ``Node`` and ``str`` (text) members.

    Parse-time traversal index: nodes are created in document order, which
    IS pre-order of the final tree (every new node attaches to the
    rightmost path, so it is the pre-order maximum at creation).  Each
    node therefore owns a CONTIGUOUS slice ``[i0:i1)`` of the shared
    ``doc_nodes`` list, recorded for free while parsing: ``i0`` at
    creation, ``i1`` when the element scope closes.  Subtree traversal of
    a parsed document is then one C-level list slice — no per-node Python
    walk.  The tree is never mutated after parse (all kernels are
    read-only over it), so the index cannot go stale.  Every tree comes
    from ``parse_html`` (the native parser or ``_parse_html_fast``), and
    both set ``doc_nodes``, ``i0`` and ``i1``, so traversal has no
    unindexed path.

    The ancestor link is an index too: ``pi`` is the parent's ``i0``, and
    ``parent`` reads ``doc_nodes[pi]``.  So the only cycle in a tree is
    ``doc_nodes`` itself, which ``release`` empties: the tree is then
    freed by reference counting, not by the cyclic GC.  A node is not
    valid after its document is released.

    Source offsets: ``s0``/``s1`` bound the element's start tag in the
    parsed string (``html[s0:s1]`` is the tag), ``e0``/``e1`` its close
    (``html[e0:e1]`` is the end tag, ``html[s1:e0]`` the content and
    ``html[s0:e1]`` the whole element).  An element closed without its
    own end tag (by a later start tag, an ancestor's end tag or the end
    of input) has ``e0 == e1`` at the start of the token that closed it;
    a void or self-closed element has ``e0 == e1 == s1``.  The root spans
    the whole string.  Extraction never reads them; edits splice at them.

    Rendering mark: ``unrendered`` is True on every node of a subtree a
    browser does not render (a ``<template>``/``<noscript>`` subtree, or
    one whose effective attrs are ``is_invisible``).  Both parsers set it
    False; it is the one write after parse, made once per document
    (``css.mark_unrendered`` and the inert skip of
    ``extract.rendered_walk``, the one rendered walk, which extraction,
    the stylesheet-ref harvest and the cell edits share) before any
    family reads the tree.  A text walk started on a rendered node
    skips a marked child (one started inside a marked subtree reads all
    of it), and every rendered-content family drops marked nodes.
    """

    __slots__ = ("tag", "attrs", "children", "doc_nodes", "i0", "i1", "pi",
                 "s0", "s1", "e0", "e1", "unrendered")

    def __init__(self, tag: str, attrs: Optional[dict] = None):
        self.tag = tag
        self.attrs = attrs if attrs is not None else _NO_ATTRS
        self.children: list = []
        self.doc_nodes = None
        self.i0 = 0
        self.i1 = 0
        # the parent's i0, set by the parser; None only on the root
        self.pi = None
        self.s0 = self.s1 = self.e0 = self.e1 = 0
        self.unrendered = False

    @property
    def parent(self) -> Optional["Node"]:
        """Ancestor link for CSS combinator matching (kernels/css.py);
        None only on the document root."""
        pi = self.pi
        return None if pi is None else self.doc_nodes[pi]

    # -- traversal -------------------------------------------------------
    def _subtree(self) -> list:
        """Pre-order node list including self (document order)."""
        dl = self.doc_nodes
        if self.i0 == 0 and self.i1 == len(dl):
            return dl
        return dl[self.i0 : self.i1]

    def iter(self) -> Iterator["Node"]:
        """Pre-order traversal including self (document order)."""
        return iter(self._subtree())

    def find_all(self, *tags: str) -> list:
        if len(tags) == 1:
            want_one = tags[0]
            return [n for n in self._subtree() if n.tag == want_one]
        want = set(tags)
        return [n for n in self._subtree() if n.tag in want]

    def find_first(self, *tags: str):
        dl = self.doc_nodes
        i1 = self.i1
        if len(tags) == 1:
            want_one = tags[0]
            for i in range(self.i0, i1):
                n = dl[i]
                if n.tag == want_one:
                    return n
            return None
        want = set(tags)
        for i in range(self.i0, i1):
            n = dl[i]
            if n.tag in want:
                return n
        return None

    def first_rendered(self, *tags: str):
        """The first node of the subtree (self included), in document
        order, whose tag is one of ``tags`` and that is not
        ``unrendered``; None if there is none."""
        first = self.find_first(*tags)  # stops early: the common case
        if first is None or not first.unrendered:
            return first
        return next((n for n in self.find_all(*tags) if not n.unrendered),
                    None)

    def element_children(self) -> list:
        return [c for c in self.children if type(c) is Node]

    # -- text ------------------------------------------------------------
    # replaced by the native walk when htmlscan.c is built (module end)
    text_content = _text_content_py

    def preformatted_text(self) -> str:
        """VERBATIM text of the subtree (``<pre>``/``<code>`` blocks):
        no whitespace collapsing — code indentation and line breaks are
        content there, and a training corpus that collapses them ships
        broken code.  ``<br>`` becomes a newline; script/style skipped;
        CR/LF normalized; outer blank lines trimmed; ``unrendered``
        children skipped as ``text_content`` skips them."""
        if self.tag in RAW_TEXT_SKIP:
            return ""
        parts: list = []
        cut = not self.unrendered
        stack: list = list(reversed(self.children))
        while stack:
            item = stack.pop()
            if type(item) is str:
                parts.append(item)
                continue
            if item.tag in RAW_TEXT_SKIP or (cut and item.unrendered):
                continue
            if item.tag == "br":
                parts.append("\n")
            stack.extend(reversed(item.children))
        text = "".join(parts).replace("\r\n", "\n").replace("\r", "\n")
        return text.strip("\n").rstrip()

    def get(self, name: str, default=None):
        return self.attrs.get(name, default)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<Node {self.tag} attrs={self.attrs} n_children={len(self.children)}>"


# -- the HTML grammar -------------------------------------------------------
# One regex step per tag (text runs are the gaps between tags), feeding
# the tree rules: lowercased tag/attr names, entity decoding, void
# elements, implicit closes, raw-text script/style.  native/htmlscan.c ports
# this loop; every rule it must reproduce is named in its header.
# The possessive '*+' in _TOKEN_RE needs Python >= 3.11.

_TOKEN_RE = re.compile(
    # TAG tokens only — text runs are the GAPS between matches, emitted
    # by slicing (r8: one finditer step per tag instead of one match()
    # call per token halves the Python loop iterations; a stray '<'
    # that starts no valid token simply stays inside the gap text, and
    # the concatenated text content is unchanged).  Comments/CDATA kept
    # before doctype (prefix overlap).
    r"<([a-zA-Z][a-zA-Z0-9:-]*)"                              # start tag name
    # attrs: bulk-run the plain-char class, possessive outer star (same
    # language as the old single-char alternation — deterministic, so
    # possessiveness cannot change any match — with ~1.2x fewer engine
    # steps and no backtracking state)
    r"((?:[^>\"']+|\"[^\"]*\"|'[^']*')*+)(/?)>"               # attrs + self-close
    r"|</([a-zA-Z][a-zA-Z0-9:-]*)[^>]*>"                      # end tag
    r"|<!--.*?(?:-->|$)"               # comments (unterminated -> EOF)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"      # CDATA blocks
    r"|<![^>]*>?|<\?[^>]*>?",          # doctype / processing instructions
    re.S,
)
_ATTR_RE = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?"
)
_RAW_TEXT_TAGS = ("script", "style")
# open elements an implicit close never reaches past (a <li> does not
# close an <li> of an outer list)
_CLOSE_BARRIERS = frozenset(("table", "ul", "ol", "div", "section", "body"))
# close-tag scan for raw-text elements: case-insensitive with a word
# boundary (html.parser CDATA semantics) — '</SCRIPT>' must terminate the
# span and '</scripty>' must NOT (a case-sensitive str.find does neither)
_RAW_CLOSE_RE = {t: re.compile(rf"</{t}\b", re.I) for t in _RAW_TEXT_TAGS}


# attr strings repeat heavily within and across pages (class=/href=
# boilerplate), and parsed attr dicts are never mutated (same convention
# as the shared _NO_ATTRS) — so memoize raw attr string -> dict.  Bounded:
# cleared wholesale at 16k entries (per-executor process, a few MB max).
_ATTR_CACHE: dict = {}

# raw start-tag spelling -> (lowered tag, implicit closers, is_void,
# is_raw_text): one dict probe replaces a lower() allocation plus three
# set/dict lookups per start tag (r8).  Bounded like _ATTR_CACHE.
_TAG_INFO: dict = {}


def _tag_info(spelling: str) -> tuple:
    """``_TAG_INFO`` miss: compute, and cache while there is room."""
    tl = spelling.lower()
    info = (tl, _IMPLICIT_CLOSE.get(tl), tl in VOID_ELEMENTS,
            tl in _RAW_TEXT_TAGS)
    if len(_TAG_INFO) < 4096:
        _TAG_INFO[spelling] = info
    return info


def _parse_attrs(raw: str) -> dict:
    cached = _ATTR_CACHE.get(raw)
    if cached is not None:
        return cached
    attrs: dict = {}
    for m in _ATTR_RE.finditer(raw):
        name = m.group(1).lower()
        if name in attrs:
            continue  # a repeated attribute is ignored: the first wins
        val = m.group(2)
        if val is None:
            attrs[name] = None
            continue
        if val[:1] in ("'", '"'):
            val = val[1:-1]
        if "&" in val:
            val = _unescape(val)
        attrs[name] = val
    if len(_ATTR_CACHE) >= 16384:
        _ATTR_CACHE.clear()
    _ATTR_CACHE[raw] = attrs
    return attrs


def _parse_html_fast(html: str, xml_mode: bool = False) -> Node:
    """``xml_mode`` (the feed route): XML semantics where they differ
    from HTML5 — a trailing ``/`` in a start tag SELF-CLOSES any
    element (HTML ignores it), and the HTML void list does not apply
    (``<link>url</link>`` is a text container in RSS)."""
    root = Node("#document")
    doc_nodes = [root]
    add_node = doc_nodes.append
    root.doc_nodes = doc_nodes
    stack = [root]
    pos = 0
    n = len(html)
    unescape = _unescape
    new_node = Node.__new__  # slot-filled inline below (r8: bypassing
    # the Python-level __init__ call saves real time at ~60 nodes/doc)
    search = _TOKEN_RE.search
    # search-from-pos loop, NOT finditer: after a raw-text (script/
    # style) body is consumed the scan must RE-ANCHOR at the close tag
    # — a '<!--' inside the raw text would otherwise start a lazy
    # comment match that extends past '</script>' to the next '-->'
    # and swallow real markup (caught by the engine test suite)
    while True:
        m = search(html, pos)
        if m is None:
            break
        start, mend = m.span()
        if start > pos:
            # text gap between tags (stray '<' chars that start no
            # token stay in the gap — same concatenated content as the
            # old per-token text runs)
            text = html[pos:start]
            if "&" in text:
                text = unescape(text)
            stack[-1].children.append(text)
        pos = mend
        # dispatch on lastindex: 3 = start tag (g3 '(/?)' always
        # participates), 4 = end tag, None = comment/doctype token
        last = m.lastindex
        if last == 3:
            start_tag, attr_raw, self_close = m.group(1, 2, 3)
            # one cache probe replaces lower() + implicit-close /
            # void / raw-text lookups (tag spellings repeat massively)
            info = _TAG_INFO.get(start_tag)
            if info is None:
                info = _tag_info(start_tag)
            tag, closers, is_void, is_raw = info
            if closers:
                for i in range(len(stack) - 1, 0, -1):
                    t = stack[i].tag
                    if t in closers:
                        end = len(doc_nodes)
                        for closed in stack[i:]:
                            closed.i1 = end
                            closed.e0 = closed.e1 = start
                        del stack[i:]
                        break
                    if t in _CLOSE_BARRIERS:
                        break
            node = new_node(Node)
            node.tag = tag
            node.attrs = (
                _parse_attrs(attr_raw)
                if attr_raw and not attr_raw.isspace() else _NO_ATTRS
            )
            node.children = []
            node.doc_nodes = doc_nodes
            i0 = len(doc_nodes)
            node.i0 = i0
            node.i1 = i0 + 1  # leaf until proven otherwise (scope close)
            parent = stack[-1]
            node.pi = parent.i0
            # a leaf ends at its start tag until its scope closes
            node.s0 = start
            node.s1 = node.e0 = node.e1 = mend
            node.unrendered = False
            parent.children.append(node)
            add_node(node)
            if xml_mode:
                # XML: '<x .../>'' self-closes anything; no void list
                if self_close or attr_raw.rstrip().endswith("/"):
                    continue
            elif self_close or is_void:
                continue
            if is_raw:
                # raw text until the matching close tag (html.parser CDATA
                # semantics: no entity decoding, no nested tags)
                mclose = _RAW_CLOSE_RE[tag].search(html, pos)
                if mclose is None:
                    node.children.append(html[pos:])
                    pos = node.e0 = n
                else:
                    close_idx = node.e0 = mclose.start()
                    if close_idx > pos:
                        node.children.append(html[pos:close_idx])
                    gt = html.find(">", close_idx)
                    pos = n if gt == -1 else gt + 1
                node.e1 = pos
                continue
            stack.append(node)
        elif last == 4:
            end_raw = m.group(4)
            info = _TAG_INFO.get(end_raw)
            if info is None:
                info = _tag_info(end_raw)
            tag = info[0]
            if info[2] and not xml_mode:  # void end tag: ignored
                continue
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    end = len(doc_nodes)
                    for closed in stack[i:]:
                        closed.i1 = end
                        closed.e0 = closed.e1 = start
                    stack[i].e1 = mend
                    del stack[i:]
                    break
            # else: stray end tag ignored
        # last is None: comments / doctype / CDATA dropped
    if pos < n:
        # trailing text after the last tag
        text = html[pos:n]
        if "&" in text:
            text = unescape(text)
        stack[-1].children.append(text)
    end = len(doc_nodes)
    for open_node in stack:  # includes root: i0=0, i1=total
        open_node.i1 = end
        open_node.e0 = open_node.e1 = n
    return root


_native = native.load()
if _native is not None:
    _native.init(Node, _NO_ATTRS, _ATTR_CACHE, _parse_attrs, _TAG_INFO,
                 _tag_info, _unescape, _CLOSE_BARRIERS, RAW_TEXT_SKIP,
                 BLOCK_ELEMENTS)
    _parse = _native.parse
    Node.text_content = _native.text_content
else:
    _parse = _parse_html_fast


def parse_html(html: str, xml_mode: bool = False) -> Node:
    """Parse an HTML string into a ``Node`` tree.  Never raises on
    malformed markup (the grammar is total over ``str``).  ``xml_mode``
    applies XML self-closing/void semantics (the feed route).  Runs the
    native scanner when it was built, else ``_parse_html_fast``: the
    same tree either way."""
    return _parse(html, xml_mode)


def mark_subtree(node: Node) -> None:
    """Set ``unrendered`` on ``node`` and every node below it."""
    for n in node.doc_nodes[node.i0:node.i1]:
        n.unrendered = True


def release(root: Node) -> None:
    """Let a parsed document be freed by reference counting: empty its
    ``doc_nodes`` list, the one reference cycle in the tree (every node
    holds the list that holds it).  Its nodes are not valid afterwards.
    The root drops the emptied index as well, so a released tree reads
    as an unindexed one: ``children`` still links every node."""
    dl = root.doc_nodes
    root.doc_nodes = None
    dl.clear()


# Python codecs a meta charset can name that are no page encoding (none
# is an Encoding Standard label): some raise whatever ``errors`` says
# (idna, punycode, undefined), the others decode to lone surrogates,
# which no UTF-8 string can carry (utf-7 and the escape codecs).  A page
# naming one takes the unknown-label path.
_NOT_PAGE_CODECS = frozenset((
    "idna", "punycode", "undefined", "utf-7", "unicode-escape",
    "raw-unicode-escape"))


def decode_html_bytes(raw: bytes) -> str:
    """Bytes -> text with charset sniffing, never raising.

    UTF-8 first (Common-Crawl default), then a cheap meta-charset sniff,
    then latin-1 (total function).  Degradation is recorded by the caller
    as ``fallback_reason`` (fallback-not-fail, reference
    core/pipeline.py:1097).
    """
    if not raw:
        return ""
    # BOMs first: a UTF-16 page never survives the utf-8 try, and its
    # NUL-interleaved bytes hide the meta charset from the sniff below
    if raw[:3] == b"\xef\xbb\xbf":
        return raw[3:].decode("utf-8", errors="replace")
    if raw[:2] == b"\xff\xfe":
        return raw[2:].decode("utf-16-le", errors="replace")
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        pass
    head = raw[:2048].decode("latin-1", errors="ignore").lower()
    m = re.search(r'charset=["\']?([a-z0-9_\-]+)', head)
    if m:
        try:
            if codecs.lookup(m.group(1)).name not in _NOT_PAGE_CODECS:
                return raw.decode(m.group(1), errors="replace")
        except LookupError:
            pass
    return raw.decode("latin-1", errors="replace")


def strip_tags_text(html: str) -> str:
    """Naive full-document text (the degraded/fallback extraction path —
    analogue of ``build_cells_tables_workbook``'s text-only degradation,
    reference core/pipeline.py:1196-1268)."""
    no_script = re.sub(
        r"<(script|style|template|noscript)\b[^>]*>.*?</\1\s*>",
        " ",
        html,
        flags=re.I | re.S,
    )
    txt = re.sub(r"<[^>]+>", " ", no_script)
    txt = (
        txt.replace("&amp;", "&")
        .replace("&lt;", "<")
        .replace("&gt;", ">")
        .replace("&quot;", '"')
        .replace("&#39;", "'")
        .replace("&nbsp;", " ")
    )
    return _WS_RE.sub(" ", txt).strip()
