"""Main-content extraction: text-density + link-density block classification.

Boilerpipe/trafilatura-style heuristics (per BASELINE.json north_star) —
the web analogue of exstruct's density/coverage/header candidate gates
(reference core/cells.py:1209-1381): segment the DOM into text blocks,
score each block, keep content blocks, join as main text.

Rules (deterministic, config-driven — thresholds in ``ExtractOptions``):
  1. blocks live under semantic content roots when present (the first
     rendered <article>/<main>, else <body>), and a subtree the browser
     does not render (``Node.unrendered``) holds none;
  2. <nav>/<header>/<footer>/<aside> subtrees and high link-density
     blocks are boilerplate; so are subtrees whose class/id TOKENS
     carry a negative hint (sidebar/comment/ad/cookie/...) without a
     positive one (article/content/...) — the Readability signal:
     authors label their boilerplate more reliably than any density
     statistic detects it;
  3. a block is content iff link_density <= max_link_density and
     len(text) >= min_block_chars, OR it is a heading adjacent to kept
     content (headings ride along with their section);
  4. table/figure/svg content is handled by the dedicated parsers, not
     here — their text is excluded from main text only when inside
     <figure>; plain <table> text is kept out of main_text (it is
     represented structurally), matching exstruct's separation of rows
     vs shapes/charts.
"""

from __future__ import annotations

from exstruct_spark.config import ExtractOptions
from exstruct_spark.kernels.dom import Node

_BOILERPLATE_TAGS = frozenset({"nav", "header", "footer", "aside"})

# Readability/Boilerpipe-style class/id hints: authors LABEL their
# boilerplate ("sidebar", "comments", "ad", "cookie-banner") far more
# reliably than any density statistic detects it.  TOKEN equality over
# [-_ ]-split class/id values — a substring match would drop
# "download"/"adventure" on the 'ad' token.  Positive tokens exempt
# (Readability's +25/-25 scoring collapsed to: positive wins), so
# "article-comments" stays IN only when the author also said article.
_NEGATIVE_HINT_TOKENS = frozenset({
    "ad", "ads", "advert", "advertisement", "advertising", "sponsor",
    "sponsored", "promo", "sidebar", "comment", "comments", "footer",
    "related", "share", "social", "banner", "cookie", "cookies",
    "consent", "popup", "modal", "breadcrumb", "breadcrumbs", "pager",
    "pagination", "widget", "disclaimer", "newsletter", "subscribe",
    "menu", "nav", "navbar", "masthead", "skyscraper", "outbrain",
    "taboola",
})
_POSITIVE_HINT_TOKENS = frozenset({
    "article", "content", "main", "post", "entry", "body", "text",
    "story", "blog",
})
def _hint_is_boilerplate(attrs: dict) -> bool:
    """True when class/id tokens carry a negative hint and no positive
    one.  Cheap fast path: most elements have no class/id at all."""
    cls = attrs.get("class")
    eid = attrs.get("id")
    if not cls and not eid:
        return False
    raw = f"{cls or ''} {eid or ''}".lower()
    toks = raw.replace("-", " ").replace("_", " ").split()
    neg = False
    for t in toks:
        if t in _POSITIVE_HINT_TOKENS:
            return False
        if t in _NEGATIVE_HINT_TOKENS:
            neg = True
    return neg
_BLOCK_TAGS = frozenset(
    {"p", "li", "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre", "dd", "dt"}
)
_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_SKIP_SUBTREES = frozenset({"table", "figure", "svg", "form", "select"}) | _BOILERPLATE_TAGS


def _link_text_len(node: Node) -> int:
    # walks the doc-list index in place: no subtree-slice allocation (r8)
    dl = node.doc_nodes
    total = 0
    for i in range(node.i0, node.i1):
        n = dl[i]
        if n.tag == "a" and not n.unrendered:
            total += len(n.text_content())
    return total


def _collect_blocks(node: Node, out: list) -> None:
    """Collect candidate text blocks in document order, pruning
    unrendered, boilerplate and structurally-parsed subtrees.  Iterative
    so deep nesting cannot blow the recursion limit."""
    stack = [node]
    first = True
    while stack:
        n = stack.pop()
        if not first:
            if n.unrendered:
                continue
            if n.tag in _SKIP_SUBTREES:
                # role=presentation/none tables are LAYOUT by the
                # author's own declaration — their block content is
                # ordinary page text, not structural table data
                if not (n.tag == "table" and (
                        (n.attrs.get("role") or "").strip().lower()
                        in ("presentation", "none"))):
                    continue
            if n.attrs and _hint_is_boilerplate(n.attrs):
                continue
            if n.tag in _BLOCK_TAGS:
                out.append(n)  # block content is atomic
                continue
        first = False
        ch = n.children
        for i in range(len(ch) - 1, -1, -1):
            c = ch[i]
            if type(c) is Node:
                stack.append(c)


def _content_root(root: Node) -> Node:
    """The first rendered <article>, else <main>, else <body>."""
    for tag in ("article", "main"):
        found = root.first_rendered(tag)
        if found is not None:
            return found
    body = root.find_first("body")
    return body if body is not None else root


def extract_main_text(root: Node, opts: ExtractOptions) -> str:
    """DOM -> main text, one kept block per line.  Reads the tree's
    rendering mark (``Node.unrendered``): hidden banners, modals and
    ``<template>`` copies are no content."""
    content_root = _content_root(root)
    blocks: list = []
    _collect_blocks(content_root, blocks)

    kept: list = []
    decisions: list = []  # (node, text, is_content)
    for blk in blocks:
        text = blk.text_content()
        if not text:
            decisions.append((blk, text, False))
            continue
        link_len = _link_text_len(blk)
        link_density = link_len / len(text) if text else 1.0
        is_content = (
            link_density <= opts.max_link_density
            and len(text) >= opts.min_block_chars
        )
        decisions.append((blk, text, is_content))

    # headings ride along with adjacent kept content (rule 3)
    for i, (blk, text, is_content) in enumerate(decisions):
        if is_content:
            # <pre> blocks emit VERBATIM (indentation and line breaks
            # are content in code); scoring above used collapsed text
            kept.append(blk.preformatted_text()
                        if blk.tag == "pre" else text)
        elif blk.tag in _HEADING_TAGS and text:
            nxt = next(
                ((b, t, c) for b, t, c in decisions[i + 1 :] if t), None
            )
            if nxt is not None and nxt[2]:
                kept.append(text)
    return "\n".join(kept)
