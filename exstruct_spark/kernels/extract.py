"""Fused per-document extraction: html bytes -> main text + structured JSON.

This is the single kernel shared verbatim by the reference extractor
(golden fixtures) and the Spark ``mapInPandas`` stage — one HTML parse per
document, every artifact family emitted from the same tree (SURVEY.md §4
R5 manual fusion; §7.4 byte-identity by construction).

Pipeline per doc (the analogue of run_extraction_pipeline, reference
core/pipeline.py:1083-1193):
  decode -> parse DOM -> title -> main text (boilerplate classifier)
         -> tables (declared <table> first — ListObjects analogue — then
            heuristic div-grids) -> shapes/arrows (<svg>) -> charts
            (<figure>) -> nested-list trees -> links_map
         -> canonical compact JSON (serialized HERE, before Arrow)
Any failure in the rich phase degrades to text-only output with a
``fallback_reason`` — a document never fails the job (reference
core/pipeline.py:1097-1193, dev-docs "do not take down the process").
"""

from __future__ import annotations

import re
import unicodedata
from bisect import bisect_left
from operator import attrgetter
from typing import NamedTuple, Optional
from urllib.parse import urljoin, urlsplit, urlunsplit

from exstruct_spark.config import ExtractOptions
from exstruct_spark.kernels.areas import area_views, auto_areas
from exstruct_spark.kernels.boilerplate import extract_main_text
from exstruct_spark.kernels.charts import extract_charts
from exstruct_spark.kernels.css import (
    HIDING_ATTRS, _style_text, build_resolver, mark_unrendered,
    media_applies_on_screen, rules_from_sheets,
)
from exstruct_spark.kernels.dom import (
    RENDER_INERT,
    decode_html_bytes,
    mark_subtree,
    parse_html,
    release,
    strip_tags_text,
)
from exstruct_spark.kernels.feeds import (
    extract_feed,
    extract_json_feed,
    extract_robots,
    feed_main_text,
    sniff_feed_kind,
    sniff_json_feed,
    sniff_robots,
)
from exstruct_spark.kernels.pdf import extract_pdf_document, is_pdf
from exstruct_spark.kernels.serialize import canonical_json, sha256_hex
from exstruct_spark.kernels.shapes import extract_nested_lists, extract_svg_shapes
from exstruct_spark.kernels.structured import (
    from_ldjson_scripts,
    from_link_alternates,
    from_meta_tags,
    from_microdata,
    from_rdfa,
)
from exstruct_spark.kernels.tables import (
    detect_grid_candidates, extract_table, is_table_like)

_DEFAULT_OPTS = ExtractOptions()

# the one result record: (field name, Spark SQL type) in column order.
# The golden frame's columns and the Spark stage's schema derive from it.
RECORD_FIELDS = (
    ("url", "string"),
    ("status", "string"),           # 'ok' | 'fallback'
    ("fallback_reason", "string"),
    ("main_text", "string"),
    ("extraction_json", "string"),
    ("text_sha256", "string"),
    ("json_sha256", "string"),
    ("n_tables", "int"),
    ("n_shapes", "int"),
    ("n_arrows", "int"),
    ("n_charts", "int"),
    ("n_lists", "int"),
    ("n_links", "int"),
    ("bytes_in", "bigint"),
    ("truncated", "boolean"),
)
_RECORD_NAMES = tuple(name for name, _ in RECORD_FIELDS)

# invisible-ink characters stripped from main text (the standard
# corpus-hygiene set): soft hyphen, zero-width space, word joiner,
# BOM/zero-width no-break space.  ZWNJ/ZWJ (200C/200D) are KEPT — they
# are orthographically meaningful in Persian/Arabic/Indic scripts.
_ZERO_WIDTH_RE = re.compile("[­​⁠﻿]")


def normalize_main_text(s: str) -> str:
    """NFC + invisible-ink strip — one normalizer for every route
    (HTML, PDF, feed) so text_sha256 is charset-noise-free."""
    return unicodedata.normalize("NFC", _ZERO_WIDTH_RE.sub("", s))


def _section_views(sections: list, table_starts: list,
                   table_ids: list) -> list:
    """Region-scoped views: the PrintAreaView analogue (reference
    models/__init__.py:178-185, 437-455 + the rows⋈area containment join
    io/__init__.py:199-235).  Each rendered <section>/<article> becomes
    a view: first rendered heading as title, contained table artifact ids
    (containment = DOM subtree membership — the in-document J1 join),
    text size.
    ``table_starts`` holds the ``i0`` of each table artifact's node in
    ascending order and ``table_ids`` its artifact id: a section's
    subtree is its ``[i0, i1)`` slice, so its tables are one bisected
    run."""
    views: list = []
    for i, sec in enumerate(s for s in sections if not s.unrendered):
        heading = sec.first_rendered("h1", "h2", "h3", "h4", "h5", "h6")
        contained = table_ids[bisect_left(table_starts, sec.i0):
                              bisect_left(table_starts, sec.i1)]
        text = sec.text_content()
        view: dict = {"id": i, "tag": sec.tag}
        if heading is not None:
            title = heading.text_content()
            if title:
                view["title"] = title
        if contained:
            view["table_ids"] = contained
        view["text_chars"] = len(text)
        views.append(view)
    return views


def _srcset_candidates(srcset: str) -> list:
    """``srcset`` value -> [(url, width_px, density)] in listed order
    (width/density None when the candidate has no descriptor).  Minimal
    deterministic parse: comma-separated candidates, first whitespace
    token is the URL, one optional ``<n>w`` / ``<x>x`` descriptor."""
    out: list = []
    for part in srcset.split(","):
        toks = part.split()
        if not toks:
            continue
        cand_url = toks[0]
        width = density = None
        if len(toks) > 1:
            d = toks[1].lower()
            try:
                if d.endswith("w"):
                    width = int(d[:-1])
                elif d.endswith("x"):
                    density = float(d[:-1])
            except ValueError:
                pass
        out.append((cand_url, width, density))
    return out


def _is_placeholder_src(src: str) -> bool:
    """Lazy-load placeholder ``src`` values: inline data URIs and
    about:blank (the universal spacer patterns) — the real URL lives in
    ``data-src``/``data-original``/``data-lazy-src`` on such images."""
    low = src.lower()
    return low.startswith("data:") or low == "about:blank"


_LAZY_SRC_ATTRS = ("data-src", "data-original", "data-lazy-src")


def _best_image_src(im, picture_srcsets: Optional[list]) -> str:
    """One deterministic best URL for an ``<img>`` (VERDICT r5 #3):
    responsive/lazy markup carries the real image URL in ``srcset``,
    ``<picture><source>`` or ``data-src`` — an ``src``-only reader
    silently harvests spacer GIFs or nothing.

    Order: largest ``w`` descriptor across the img's own ``srcset`` plus
    any enclosing ``<picture>``'s ``<source srcset>`` values; else
    largest density descriptor; else the first srcset candidate; else
    ``src`` unless it is a lazy-load placeholder; else the first
    populated ``data-src``-family attribute; else ''.
    """
    cands: list = []
    own = (im.attrs.get("srcset") or "").strip()
    if own:
        cands.extend(_srcset_candidates(own))
    if picture_srcsets:
        for ss in picture_srcsets:
            cands.extend(_srcset_candidates(ss))
    if cands:
        widest = max(
            (c for c in cands if c[1] is not None),
            key=lambda c: c[1], default=None)
        if widest is not None:
            return widest[0]
        densest = max(
            (c for c in cands if c[2] is not None),
            key=lambda c: c[2], default=None)
        if densest is not None:
            return densest[0]
        return cands[0][0]
    src = (im.attrs.get("src") or "").strip()
    if src and not _is_placeholder_src(src):
        return src
    for attr in _LAZY_SRC_ATTRS:
        lazy = (im.attrs.get(attr) or "").strip()
        if lazy:
            return lazy
    return src


def _put_dims(entry: dict, attrs) -> dict:
    """``entry`` with the declared integer ``width``/``height`` of
    ``attrs`` added as ``w``/``h``."""
    for attr, key in (("width", "w"), ("height", "h")):
        v = (attrs.get(attr) or "").strip()
        if v.isdigit():
            entry[key] = int(v)
    return entry


def _image_entry(im, src: str, caption: Optional[str] = None,
                 noscript: bool = False) -> dict:
    """One ``images`` entry for ``<img>`` ``im`` with best URL ``src``:
    the ``<noscript>`` flag, alt text, the figure caption and the
    declared dimensions, each only when present."""
    entry: dict = {"src": src, "noscript": True} if noscript else {"src": src}
    alt = (im.attrs.get("alt") or "").strip()
    if alt:
        entry["alt"] = alt
    if caption:
        entry["caption"] = caption
    return _put_dims(entry, im.attrs)


MAX_EMBEDS = 64        # embedded-media pointers kept per document


def declared_tables(nodes: list, cfg, alpha_keys: bool = False, css=None,
                    anchored: bool = False):
    """The declared table artifacts of ``nodes`` (a document's
    ``is_table_like`` nodes in rendered-walk order) as ``(node,
    artifact, anchors)``, in artifact order.  An ``unrendered`` table is
    no artifact, and neither is an empty one.  With ``anchored``,
    ``anchors`` is the grid's address map (``tables._expand_grid``),
    else None.  Extraction and the cell edit ops (kernels/edits.py) both
    number tables through this loop."""
    n = 0
    for node in nodes:
        if node.unrendered:
            continue
        anchors = ([], {}) if anchored else None
        art = extract_table(node, n, cfg, alpha_keys, css, anchors)
        if art is not None:
            n += 1
            yield node, art, anchors


_DEFAULT_PORTS = {"http": ":80", "https": ":443"}


def normalize_url(href: str) -> str:
    """Canonicalize an (absolute) URL: lowercase scheme/host, strip the
    default port and fragment, collapse dot segments, ensure a path.

    The web analogue of the reference's relationship-target normalization
    (``_normalize_zip_path``, ooxml_drawing.py:907-921 — base-join then
    dot-segment resolution) — S5's second half, so links_map keys from
    different pages agree on one spelling per resource.  Relative hrefs
    and non-HTTP schemes pass through unchanged (join keys stay verbatim
    unless ``absolutize`` resolved them first)."""
    try:
        parts = urlsplit(href)
    except ValueError:
        return href
    if parts.scheme not in ("http", "https") or not parts.netloc:
        return href
    # userinfo is case-SENSITIVE — split it off before lowercasing, and
    # strip the default port only when it is a genuine sole port suffix
    # (digits after the last ':', host part itself colon-free unless
    # bracketed IPv6).  A malformed netloc like 'h:80:80' passes through
    # verbatim, so normalization reaches its fixpoint in ONE call
    # (ADVICE r2 — the advertised idempotency held only on well-formed
    # input before).
    userinfo, at, hostport = parts.netloc.rpartition("@")
    host, port = hostport, ""
    if ":" in hostport:
        maybe_host, _, maybe_port = hostport.rpartition(":")
        if (maybe_port.isdigit() or maybe_port == "") and (
            ":" not in maybe_host or maybe_host.endswith("]")
        ):
            host, port = maybe_host, maybe_port
    host = host.lower()
    default = _DEFAULT_PORTS[parts.scheme.lower()].lstrip(":")
    if port == default or port == "":
        port = ""
    netloc = (userinfo + at) + host + (":" + port if port else "")
    # RFC 3986 §5.2.4 remove_dot_segments: empty segments ('//') are
    # PRESERVED (servers may distinguish them), and a trailing '.'/'..'
    # leaves a trailing slash
    raw = parts.path.split("/")
    segments: list = [""]  # leading '' keeps the path absolute
    for seg in raw[1:] if raw and raw[0] == "" else raw:
        if seg == ".":
            continue
        if seg == "..":
            if len(segments) > 1:
                segments.pop()
            continue
        segments.append(seg)
    if raw and raw[-1] in (".", ".."):
        # RFC 3986 5.2.4: a trailing dot segment leaves a trailing slash
        # (unconditionally — '/a//.' keeps its preserved empty segment
        # AND gains the slash: '/a//')
        segments.append("")
    path = "/".join(segments) or "/"
    if not path.startswith("/"):
        path = "/" + path
    return urlunsplit((parts.scheme.lower(), netloc, path, parts.query, ""))


_MAX_STYLESHEET_REFS = 16  # per document, link order


# @import is only valid at the TOP of a sheet (after optional @charset
# and @layer STATEMENTS); browsers ignore it after any other rule.  One
# rule for inline <style> blocks and for corpus-joined sheets (the
# engine's one-level import chase reads them with it too)
_IMPORT_PRELUDE_RE = re.compile(
    r"(?is)\s*(?:@charset\s+[^;]*;|@layer\s+[^;{]*;)")
_IMPORT_STMT_RE = re.compile(
    r"(?is)\s*@import\s+(?:url\(\s*)?[\"']?"
    r"([^\"'()\s;]+)[\"']?\s*\)?([^;]*);")
_CSS_COMMENT_RE = re.compile(r"/\*.*?(?:\*/|$)", re.S)
_MAX_IMPORT_SCAN = 4096  # bytes of sheet prefix scanned for @import


def _style_import_hrefs(style_text: str) -> list:
    """Top-of-sheet ``@import`` targets of one sheet (a ``<style>``
    block or a linked sheet's text), in order, honoring each import's
    media tail (``@import url(x) print;`` never applies on screen).  A
    leading U+FEFF (a byte-order mark kept as text) is dropped, as
    ``css.rules_from_sheets`` drops it."""
    text = _CSS_COMMENT_RE.sub(
        "", style_text.removeprefix("\ufeff")[:_MAX_IMPORT_SCAN])
    out: list = []
    pos = 0
    while True:
        m = _IMPORT_PRELUDE_RE.match(text, pos)
        if m is not None:
            pos = m.end()
            continue
        m = _IMPORT_STMT_RE.match(text, pos)
        if m is None:
            break
        pos = m.end()
        if not media_applies_on_screen(m.group(2)):
            continue
        href = m.group(1).strip()
        if href:
            out.append(href)
    return out


def _join(base: str, href: str) -> Optional[str]:
    """``urljoin``, or None where it rejects the URL (a malformed IPv6
    host such as ``http://[x/``)."""
    try:
        return urljoin(base, href)
    except ValueError:
        return None


def _sheet_hrefs(link_nodes: list, style_nodes):
    """Unresolved stylesheet hrefs in ``_stylesheet_refs`` order: each
    applicable ``<link rel=stylesheet>``'s, then the top-of-sheet
    ``@import`` targets of each on-screen ``<style>`` block."""
    for ln in link_nodes:
        attrs = ln.attrs
        rel_tokens = (attrs.get("rel") or "").strip().lower().split()
        # rel="alternate stylesheet" is a user-selectable theme —
        # browsers do NOT apply it by default; a disabled link is inert
        # the same way.  A non-screen sheet (media="print", …) never
        # styles the rendered page; media="not print" DOES (r7 review fix)
        if ("stylesheet" in rel_tokens and "alternate" not in rel_tokens
                and "disabled" not in attrs
                and media_applies_on_screen(attrs.get("media"))):
            href = (attrs.get("href") or "").strip()
            if href:
                yield href
    for sn in style_nodes:
        if media_applies_on_screen(sn.attrs.get("media")):
            yield from _style_import_hrefs(_style_text(sn))


def _stylesheet_refs(link_nodes: list, base_url: str,
                     style_nodes: list = ()) -> list:
    """Resolved external-stylesheet URLs in document order — the
    per-page key set the external-CSS corpus join
    (engine.attach_external_css) resolves against: ``<link
    rel=stylesheet href>`` targets first, then top-of-sheet ``@import``
    targets of inline ``<style>`` blocks (the legacy-theme idiom —
    their rules cascade with the other external sheets, the documented
    below-<style> approximation).  Deduplicated first-wins; capped
    (caps-not-crashes); an href ``urljoin`` rejects is skipped."""
    out: list = []
    seen: set = set()
    for href in _sheet_hrefs(link_nodes, style_nodes):
        resolved = _join(base_url, href)
        if resolved is not None and resolved not in seen:
            seen.add(resolved)
            out.append(resolved)
            if len(out) >= _MAX_STYLESHEET_REFS:
                break
    return out


def _admitted_sheets(external_css, sheets: list) -> list:
    """Corpus-joined entries -> the sheet TEXTS this page actually
    applies, in join order.

    Entries are ``{u: link_url, t: text}`` structs (Arrow hands them
    over as dicts): a text is admitted only when its link URL is on
    ``sheets`` — the kernel's applicable list (_stylesheet_refs: real
    attribute parse, media semantics, caps).  The corpus join keys on
    that same list (``stylesheet_refs``), so a joined entry is always
    on it; the check keeps a hand-built ``external_css`` column to the
    same rule.  Plain-string entries (direct kernel calls, pre-join
    tests) carry no URL and are admitted as-is.

    ORDER comes from ``sheets`` (the kernel's document-order list),
    with array position as the secondary key (keeps a link's @imports
    before the importing sheet)."""
    allowed = {u: i for i, u in enumerate(sheets or ())}
    entries: list = []
    for pos, e in enumerate(external_css):
        if isinstance(e, dict):
            i = allowed.get(e.get("u"))
            if i is not None and e.get("t"):
                entries.append((i, pos, e["t"]))
        elif isinstance(e, str):
            entries.append((len(allowed), pos, e))
    entries.sort(key=lambda x: (x[0], x[1]))
    return [t for _i, _p, t in entries]


def _links_map(anchors: list, base_url: str = "", absolutize: bool = False,
               normalize: bool = False) -> dict:
    """href -> POSITIONS over content links: the true inverted-index shape
    of the reference's ``formulas_map`` (value -> list of coordinates,
    core/cells.py:313-362, models/__init__.py:208-221).  A position is the
    anchor's document-order node index — the DOM analogue of a cell
    coordinate — so downstream link-graph joins can recover WHERE each
    href occurs, not just how often (counts stay derivable as len()).

    ``anchors`` is a list of (doc_order_index, node) pairs; an
    ``unrendered`` anchor is no link (a ``display:none`` hover menu
    included: one rendering rule for every rendered family).
    ``absolutize``: resolve relative hrefs against the document url (the
    S5 relationship-resolution analogue, reference ooxml_drawing.py:
    863-921) — off by default to keep hrefs verbatim as join keys.
    """
    positions: dict = {}
    for idx, a in anchors:
        href = a.get("href")
        if href and not a.unrendered:
            if absolutize and base_url:
                # an href urljoin rejects (a malformed IPv6 host) stays
                # verbatim, as normalize_url passes it through
                href = _join(base_url, href) or href
            if normalize:
                href = normalize_url(href)
            positions.setdefault(href, []).append(idx)
    # deterministic order: first-seen (dict preserves insertion)
    return positions


def _route(raw: bytes) -> tuple:
    """Content-type routing (parser-per-kind dispatch — the analogue of
    the reference's backend dispatcher, core/cells.py:1897-1943):
    ``(kind, html)``.  ``kind`` is 'pdf', a ``sniff_feed_kind`` result,
    'json_feed', 'robots', 'empty' or 'html'; ``html`` is the decoded
    text ('' for a PDF).  Feeds and sitemaps are the crawl's OTHER XML
    document kinds: the first real tag decides, so HTML pages never
    take a feed route."""
    if is_pdf(raw):
        return "pdf", ""
    html = decode_html_bytes(raw)
    if html:
        feed_kind = sniff_feed_kind(html)
        if feed_kind:
            return feed_kind, html
        if sniff_json_feed(html):
            return "json_feed", html
        if "<" not in html[:256] and sniff_robots(html):
            return "robots", html
    return ("html" if html.strip() else "empty"), html


def _document_base(url: str, base_nodes: list) -> str:
    """``<base href>``: the FIRST base with a non-empty href wins (HTML
    spec), resolved against the page URL; the page URL without one, or
    when ``urljoin`` rejects that href (the spec's fallback base URL)."""
    for b in base_nodes:
        href = (b.attrs.get("href") or "").strip()
        if href:
            return _join(url, href) or url
    return url


class RenderedWalk(NamedTuple):
    """What ``rendered_walk`` collects from one document, each list in
    document order."""
    groups: dict             # tag -> nodes (shared buckets: see the walk)
    table_like: list         # ``is_table_like`` nodes: <table> and ARIA
    render_candidates: list  # nodes whose attrs carry a ``HIDING_ATTRS``
    noscripts: list          # <noscript> elements (marked, not walked)
    micro_scopes: list       # ``itemscope`` nodes
    rdfa_scopes: list        # ``typeof`` nodes
    class_positions: dict    # class name -> node indexes
    containers: list         # <div>/<section> nodes of the first <body>


_BUCKET_TAGS = ("body", "title", "table", "figure", "svg", "a", "script",
                "img", "style", "picture", "base", "meta", "link", "time")
_I0 = attrgetter("i0")


def rendered_walk(root) -> RenderedWalk:
    """ONE traversal of a parsed document collects every artifact
    family in document order (the memoized-single-parse discipline,
    SURVEY.md §4 R5).  ``<template>``/``<noscript>`` subtrees are inert
    in a browser: each is marked ``unrendered`` and skipped, so its
    markup feeds no collector.  The one rendered walk of
    ``extract_document``, ``stylesheet_refs`` and the cell edit ops
    (kernels/edits.py)."""
    groups: dict = {t: [] for t in _BUCKET_TAGS}
    # embedded-media pointers share ONE bucket so document order across
    # kinds is preserved.  AMP components carry the SAME attribute
    # surface as their HTML twins (src/srcset/poster/width/height), so
    # they ride the same buckets — an AMP page's images/videos would
    # otherwise be invisible to the families
    groups["iframe"] = groups["video"] = groups["audio"] = \
        groups["embed"] = groups["object"] = \
        groups["amp-video"] = groups["amp-audio"] = \
        groups["amp-iframe"] = groups["amp-youtube"] = []
    groups["amp-img"] = groups["img"]
    # ul/ol/dl (and section/article) share buckets so document order
    # across kinds is preserved (outer-before-inner claiming; dl joins
    # the lists family as dt->dd trees)
    groups["ul"] = groups["ol"] = groups["dl"] = []
    section_bucket = groups["section"] = groups["article"] = []
    # grid detection's containers: every <div> and <section>
    containers = groups["div"] = []
    class_positions: dict = {}
    micro_scopes: list = []
    rdfa_scopes: list = []
    # document-order table-LIKE elements: <table> plus ARIA
    # role="table"/"grid" declarations (the G7 declared-table twin —
    # extract_table dispatches on the node)
    table_like: list = []
    noscripts: list = []
    # nodes whose own attrs may hide them (css.mark_unrendered)
    render_candidates: list = []
    get_bucket = groups.get
    # An integer skip guard over the C-fast indexed iteration
    # (root.iter() is the prebuilt doc list; a generator resume per node
    # costs ~10% corpus throughput — measured in the round-7 soak A/B).
    # r8: the inert-tag test rides the SAME dict get as bucket dispatch
    # (a sentinel value in ``groups``) and the per-tag special cases
    # dispatch on bucket IDENTITY — no per-node tuple membership or
    # string compares on the hot walk.
    inert = object()
    groups.update(dict.fromkeys(RENDER_INERT, inert))
    a_bucket = groups["a"]
    table_bucket = groups["table"]
    skip_until = -1
    cannot_hide = HIDING_ATTRS.isdisjoint
    for doc_idx, n in enumerate(root.iter()):
        if doc_idx < skip_until:
            continue
        bucket = get_bucket(n.tag)
        if bucket is not None:
            if bucket is inert:
                if n.i1 > doc_idx:
                    # <noscript> is the standard lazy-load FALLBACK
                    # carrier: real pages ship `<img data-src=...>
                    # <noscript><img src=real></noscript>`, so the
                    # images family reads its <img> nodes (the one
                    # exception to the rendering mark)
                    if n.tag == "noscript":
                        noscripts.append(n)
                    mark_subtree(n)
                    skip_until = n.i1
                    continue
            elif bucket is a_bucket:
                # anchors keep their document-order index: it is the
                # position key of the links_map inverted index (A2)
                bucket.append((doc_idx, n))
            elif bucket is table_bucket:
                bucket.append(n)
                if is_table_like(n):
                    table_like.append(n)
            elif bucket is section_bucket:
                bucket.append(n)
                if n.tag == "section":  # <article> shares the bucket
                    containers.append(n)
            else:
                bucket.append(n)
        attrs = n.attrs
        if attrs:
            if not cannot_hide(attrs):
                render_candidates.append(n)
            if "itemscope" in attrs:
                micro_scopes.append(n)
            if "typeof" in attrs:
                rdfa_scopes.append(n)
            # the ARIA form (a <table> was judged above)
            if ("role" in attrs and bucket is not table_bucket
                    and is_table_like(n)):
                table_like.append(n)
            cls = attrs.get("class")
            if cls:
                for name in cls.split():
                    # class -> positions (A1 colors_map shape: value ->
                    # coordinate list, reference core/cells.py:277-310)
                    class_positions.setdefault(name, []).append(doc_idx)
    body = groups["body"][0] if groups["body"] else root
    return RenderedWalk(
        groups, table_like, render_candidates, noscripts, micro_scopes,
        rdfa_scopes, class_positions,
        containers[bisect_left(containers, body.i0, key=_I0):
                   bisect_left(containers, body.i1, key=_I0)])


def stylesheet_refs(url: str, raw: Optional[bytes]) -> list:
    """The page's applicable external-stylesheet URLs, exactly the
    ``stylesheets`` field ``extract_document`` gives the same bytes:
    the same decode and route (PDF, feed, robots.txt and empty
    documents have none), the same parse, the rendered walk's
    ``<base>``/``<link>``/``<style>`` nodes and ``_stylesheet_refs``.
    This is the key list of the external-CSS corpus join
    (engine.harvest_stylesheet_refs)."""
    kind, html = _route(raw or b"")
    if kind != "html":
        return []
    root = parse_html(html)
    try:
        found = rendered_walk(root).groups
        return _stylesheet_refs(found["link"],
                                _document_base(url, found["base"]),
                                found["style"])
    finally:
        release(root)


def _spans_between(html: str, nodes: list):
    """The source of ``html`` outside the elements ``nodes`` (disjoint,
    in document order), in pieces."""
    pos = 0
    for n in nodes:
        yield html[pos:n.s0]
        pos = n.e1
    yield html[pos:]


def _render_cascade(root, url: str, walk: RenderedWalk,
                    external_css=None, want_sheets: bool = False) -> tuple:
    """``(base, sheets, css, hidden)`` of a parsed page, its hidden
    subtrees marked; ``walk`` is the page's ``rendered_walk``.
    ``base`` is the document base, ``sheets`` the applicable-stylesheet
    list (computed only when corpus-joined sheets ride in or
    ``want_sheets``; the corpus join keyed on the same list) and ``css``
    the resolver of the page's ``<style>`` rules with the admitted
    joined sheets cascading below them, or None without rules;
    ``hidden`` lists the roots of the marked subtrees.  The one cascade
    of ``extract_document`` and the cell edit ops (kernels/edits.py)."""
    found = walk.groups
    base = _document_base(url, found["base"])
    # length test, not truthiness: Arrow hands list columns to the
    # kernel as numpy arrays, whose bool() is ambiguous
    joined = external_css is not None and len(external_css) > 0
    sheets = (_stylesheet_refs(found["link"], base, found["style"])
              if joined or want_sheets else [])
    css = build_resolver(
        found["style"],
        rules_from_sheets(_admitted_sheets(external_css, sheets))
        if joined else None)
    if not css.rules:
        # rule-free resolver: every effective_attrs call is an identity
        # return — pass None so the per-cell/per-block call sites take
        # their attrs fast path outright (r8)
        css = None
    return base, sheets, css, mark_unrendered(root, walk.render_candidates,
                                              css)


_LONE_SURROGATE_RE = re.compile("[\ud800-\udfff]")


def _record(url: str, status: str, fallback_reason: str, main_text: str,
            extraction: dict, bytes_in: int, n_tables: int = 0,
            n_shapes: int = 0, n_arrows: int = 0, n_charts: int = 0,
            n_lists: int = 0, n_links: int = 0,
            truncated: bool = False) -> dict:
    """The ``RECORD_FIELDS`` record of one document: serializes
    ``extraction`` and hashes it and the (already normalized) text.

    A lone surrogate (a JSON ``\\ud800`` escape in ld+json or a JSON
    feed) has no UTF-8 form, so neither the hash nor the Arrow hand-off
    could carry it: it becomes U+FFFD, which is what the WHATWG UTF-8
    encoder writes.  The hash's strict encode is the detector, so a
    clean record pays nothing."""
    extraction_json = canonical_json(extraction)
    try:
        text_sha, json_sha = sha256_hex(main_text), sha256_hex(extraction_json)
    except UnicodeEncodeError:
        main_text = _LONE_SURROGATE_RE.sub("\ufffd", main_text)
        extraction_json = _LONE_SURROGATE_RE.sub("\ufffd", extraction_json)
        text_sha, json_sha = sha256_hex(main_text), sha256_hex(extraction_json)
    return dict(zip(_RECORD_NAMES, (
        url, status, fallback_reason, main_text, extraction_json,
        text_sha, json_sha,
        n_tables, n_shapes, n_arrows, n_charts, n_lists, n_links,
        bytes_in, truncated,
    )))


def extract_document(
    url: str, html_bytes: Optional[bytes], opts: ExtractOptions = _DEFAULT_OPTS,
    external_css=None,
) -> dict:
    """One document -> flat result record (plain Python scalars only)
    with the fields of ``RECORD_FIELDS``; ``status`` is 'ok' or
    'fallback'.

    ``external_css``: optional corpus-joined stylesheets for this page
    (link order), from engine.attach_external_css — the crawl contains
    most linked CSS files as its own documents.  Entries are
    ``{u: link_url, t: text}`` structs; only entries whose link URL is
    on the page's own applicable-stylesheet list (_stylesheet_refs —
    the single media/attribute authority) are applied, feeding the same
    StyleResolver as same-document ``<style>`` blocks and cascading
    below them at equal specificity.  Plain-string entries (direct
    kernel calls) are applied unconditionally.
    """
    raw = html_bytes or b""
    bytes_in = len(raw)
    fallback_reason = ""
    status = "ok"
    main_text = ""
    extraction: dict = {"doc": url}
    n_tables = n_shapes = n_arrows = n_charts = n_lists = n_links = 0
    truncated = False

    kind, html = _route(raw)
    if kind == "pdf":
        try:
            pdf = extract_pdf_document(raw)
            extraction["content_type"] = "pdf"
            if pdf["title"]:
                extraction["title"] = pdf["title"]
            if pdf["n_pages"]:
                extraction["n_pages"] = pdf["n_pages"]
            extraction["approximation_level"] = pdf["approximation_level"]
            stats = pdf.get("stream_stats")
            if stats and (stats["corrupt"] or stats["truncated"]):
                # no-silent-caps: corrupt/over-cap streams are visible
                # in the extraction record, not just dropped
                extraction["stream_stats"] = stats
            main_text = normalize_main_text(pdf["text"])
        except Exception as exc:
            status = "fallback"
            fallback_reason = f"pdf:{type(exc).__name__}"
            extraction["fallback_reason"] = fallback_reason
        return _record(url, status, fallback_reason, main_text, extraction,
                       bytes_in)

    # a parsed tree is released in a ``finally`` on every route, so the
    # fallback path frees it too (dom.release: no cyclic garbage)
    root = None
    if kind != "html" and kind != "empty":
        try:
            if kind == "robots":
                feed = extract_robots(html)
            elif kind == "json_feed":
                feed = extract_json_feed(html)
            else:
                root = parse_html(html, xml_mode=True)
                feed = extract_feed(root, kind)
            extraction.update(feed)
            main_text = normalize_main_text(feed_main_text(feed))
            n_lists = len(feed.get("items", ()))
        except Exception as exc:
            status = "fallback"
            fallback_reason = f"feed:{type(exc).__name__}"
            extraction["fallback_reason"] = fallback_reason
        finally:
            if root is not None:
                release(root)
        return _record(url, status, fallback_reason, main_text, extraction,
                       bytes_in, n_lists=n_lists)

    if kind == "empty":
        status = "fallback"
        fallback_reason = "empty_document"
    else:
        try:
            root = parse_html(html)
            walk = rendered_walk(root)
            groups = walk.groups

            # class-rule resolution (kernels/css.py): same-document
            # <style> blocks feed the border/color kernels — the web
            # twin of the reference's indirect-styling resolution
            # (theme/indexed colors, core/cells.py:578-686) — with the
            # corpus-joined sheets cascading below them, and hidden
            # subtrees are marked before any family reads the tree.
            # The stylesheet list is computed only when something
            # consumes it (joined sheets, structured-metadata output).
            effective_base, sheets, css, hidden = _render_cascade(
                root, url, walk, external_css, opts.include_structured)

            title = (
                groups["title"][0].text_content() if groups["title"] else ""
            )
            if title:
                extraction["title"] = title

            main_text = extract_main_text(root, opts)
            if not main_text and hidden:
                # the degraded text below reads the markup: cut out the
                # source of every hidden subtree first (template and
                # noscript content strip_tags_text drops itself)
                html = "".join(_spans_between(html, hidden))

            if opts.include_tables:
                tables = []
                figure_table_ids: dict = {}
                fig_of_table: dict = {}
                # i0 and artifact id of each table artifact's node, in
                # document order (table_like is walk-ordered)
                table_starts: list = []
                table_ids: list = []
                for fig in groups["figure"]:
                    for t in fig.find_all("table"):
                        fig_of_table[id(t)] = id(fig)
                for t_node, art, _ in declared_tables(
                        walk.table_like, opts.detection, opts.alpha_keys, css):
                    truncated = truncated or bool(art.get("truncated"))
                    if id(t_node) in fig_of_table:
                        # the whole artifact: charts bind series ranges to
                        # the companion grid, not just its id (J7)
                        figure_table_ids[fig_of_table[id(t_node)]] = art
                    table_starts.append(t_node.i0)
                    table_ids.append(art["id"])
                    tables.append(art)
                for g in detect_grid_candidates(
                    walk.containers, opts.detection, opts.alpha_keys, css
                ):
                    g["id"] = len(tables)
                    tables.append(g)
                candidates = [
                    f"table{t['id']}!{t['range']}"
                    for t in tables
                    if t["score"] >= opts.detection.min_score
                    and t["_metrics"]["n_cells"] >= opts.detection.min_cells
                ]
                for t in tables:
                    del t["_metrics"]
                if tables:
                    extraction["tables"] = tables
                    extraction["table_candidates"] = candidates
                if opts.print_areas and tables:
                    views = area_views(
                        tables, opts.print_areas, opts.normalize_areas
                    )
                    if views:
                        extraction["area_views"] = views
                if opts.auto_areas and tables:
                    # structure-derived areas (the auto_print_areas
                    # analogue): empty-row gaps split each table into row
                    # bands; the SAME slicer produces the views, so
                    # declared-vs-auto parity is testable directly
                    derived = auto_areas(tables)
                    if derived:
                        extraction["auto_areas"] = derived
                        auto_views = area_views(
                            tables, tuple(derived), opts.normalize_areas
                        )
                        if auto_views:
                            extraction["auto_area_views"] = auto_views
                n_tables = len(tables)
            else:
                figure_table_ids = {}
                table_starts = table_ids = []

            if opts.include_shapes:
                shapes_all: list = []
                arrows_all: list = []
                for svg in groups["svg"]:
                    if svg.unrendered:
                        continue
                    shapes, arrows = extract_svg_shapes(svg)
                    base = len(shapes_all)
                    for s in shapes:
                        s["id"] += base
                    for a in arrows:
                        if a.get("begin_id") is not None:
                            a["begin_id"] += base
                        if a.get("end_id") is not None:
                            a["end_id"] += base
                    shapes_all.extend(shapes)
                    arrows_all.extend(arrows)
                if opts.scrub_backend_metadata:
                    # P7: provenance fields are backend-internal (reference
                    # _BACKEND_METADATA_CLEAR, io/__init__.py:32-89)
                    for a in arrows_all:
                        for k in ("resolution", "confidence",
                                  "approximation_level"):
                            a.pop(k, None)
                if shapes_all:
                    extraction["shapes"] = shapes_all
                if arrows_all:
                    extraction["arrows"] = arrows_all
                n_shapes, n_arrows = len(shapes_all), len(arrows_all)

            if opts.include_charts:
                charts = extract_charts(
                    groups["figure"], groups["script"], figure_table_ids)
                if charts:
                    extraction["charts"] = charts
                n_charts = len(charts)

            if opts.include_lists:
                lists = extract_nested_lists(groups["ul"])
                if lists:
                    extraction["lists"] = lists
                n_lists = len(lists)

            if opts.include_links:
                links = _links_map(
                    groups["a"], effective_base, opts.absolutize_links,
                    opts.normalize_links,
                )
                if links:
                    extraction["links_map"] = links
                n_links = len(links)

            if opts.include_images and (groups["img"] or walk.noscripts):
                # image-text pair harvesting (the LAION-style multimodal
                # curation input): every <img src> in document order with
                # its alt text, the enclosing <figure>'s figcaption (the
                # better caption when present), and declared dimensions.
                # media.image_pairs_stage explodes these into (url, src,
                # text) rows for caption-dataset mining.
                fig_caption: dict = {}
                for fig in groups["figure"]:
                    cap = fig.first_rendered("figcaption")
                    if cap is None:
                        continue
                    cap_text = cap.text_content().strip()
                    if not cap_text:
                        continue
                    for im in fig.find_all("img"):
                        fig_caption[id(im)] = cap_text
                # responsive markup: an <img> inside <picture> inherits
                # its sibling <source srcset> candidates (VERDICT r5 #3)
                picture_srcsets: dict = {}
                for pic in groups["picture"]:
                    srcsets = [
                        ss for ss in (
                            (s.attrs.get("srcset") or "").strip()
                            for s in pic.element_children()
                            if s.tag == "source"
                        ) if ss
                    ]
                    if not srcsets:
                        continue
                    for im in pic.find_all("img"):
                        picture_srcsets[id(im)] = srcsets
                images = []
                for im in groups["img"]:
                    if im.unrendered:
                        continue
                    src = _best_image_src(im, picture_srcsets.get(id(im)))
                    if src:
                        images.append(_image_entry(
                            im, src, fig_caption.get(id(im))))
                # noscript fallback images join AFTER the rendered ones,
                # deduped by src: when the lazy <img data-src> already
                # yielded the URL the noscript twin is a duplicate; when
                # the rendered img was placeholder-only (JS-config lazy
                # loading) the noscript copy is the ONLY carrier.  A
                # <noscript> inside a hidden subtree carries nothing.
                noscript_imgs = [im for ns in walk.noscripts
                                 if not ns.parent.unrendered
                                 for im in ns.find_all("img")]
                if noscript_imgs:
                    seen_srcs = {e["src"] for e in images}
                    for im in noscript_imgs:
                        src = _best_image_src(im, None)
                        if src and src not in seen_srcs:
                            seen_srcs.add(src)
                            images.append(_image_entry(im, src,
                                                       noscript=True))
                if images:
                    extraction["images"] = images

            if opts.include_embeds and groups["iframe"]:
                # embedded-media pointers (iframe/video/audio/embed/
                # object, one shared bucket in document order): the
                # multimodal-curation input a video/audio pipeline
                # mines — a youtube/vimeo iframe src IS the video URL
                # key such a corpus joins on
                embeds = []
                for node in groups["iframe"]:
                    if len(embeds) >= MAX_EMBEDS:
                        break
                    if node.unrendered:
                        continue
                    tag = node.tag
                    attrs = node.attrs
                    src = (attrs.get("data" if tag == "object" else "src")
                           or "").strip()
                    if not src and tag in ("video", "audio",
                                           "amp-video", "amp-audio"):
                        # <source> children carry the URL when the
                        # media tag itself has no src
                        for ch in node.element_children():
                            if ch.tag == "source":
                                src = (ch.attrs.get("src") or "").strip()
                                if src:
                                    break
                    if not src and tag == "amp-youtube":
                        # the component carries only the video id — the
                        # canonical watch URL is its identity
                        vid = (attrs.get("data-videoid") or "").strip()
                        if vid:
                            src = ("https://www.youtube.com/watch?v="
                                   + vid)
                    low = src.lower()
                    if (not src or low == "about:blank"
                            or low.startswith(("javascript:", "data:"))):
                        continue
                    entry = {"tag": tag, "src": src}
                    mtype = (attrs.get("type") or "").strip()
                    if mtype:
                        entry["type"] = mtype[:64]
                    title = (attrs.get("title") or "").strip()
                    if title:
                        entry["title"] = title[:256]
                    if tag in ("video", "amp-video"):
                        poster = (attrs.get("poster") or "").strip()
                        if poster:
                            entry["poster"] = poster
                    if tag in ("video", "audio",
                               "amp-video", "amp-audio"):
                        # <track> subtitle/caption pointers: the
                        # media+transcript PAIR a speech pipeline mines
                        tracks = []
                        for ch in node.element_children():
                            if ch.tag != "track" or len(tracks) >= 4:
                                continue
                            tsrc = (ch.attrs.get("src") or "").strip()
                            if not tsrc:
                                continue
                            trec = {"src": tsrc}
                            for a, k in (("kind", "kind"),
                                         ("srclang", "lang")):
                                v = (ch.attrs.get(a) or "").strip()
                                if v:
                                    trec[k] = v[:32]
                            tracks.append(trec)
                        if tracks:
                            entry["tracks"] = tracks
                    embeds.append(_put_dims(entry, attrs))
                if embeds:
                    extraction["embeds"] = embeds

            if opts.include_structured:
                # schema.org structured data: the author-DECLARED
                # entities (JSON-LD blocks + microdata markup), the
                # highest-signal metadata a crawl extractor can
                # harvest — the web analogue of the reference's typed
                # document models (models/__init__.py)
                # each family carries its OWN entity cap — a JSON-LD
                # bomb must not evict the page's microdata records
                entities = from_ldjson_scripts(groups["script"])
                entities.extend(from_microdata(walk.micro_scopes))
                entities.extend(from_rdfa(walk.rdfa_scopes))
                if entities:
                    extraction["structured_data"] = entities
                page_meta = from_meta_tags(groups["meta"], groups["link"],
                                           groups["time"])
                # the document's DECLARED language (<html lang>) — the
                # cheap complement to content-based doc_langid for a
                # curation pipeline; author-declared, so page_meta is
                # its home alongside og/twitter/canonical
                html_el = root.find_first("html")
                if html_el is not None:
                    lang = (html_el.attrs.get("lang") or "").strip()
                    if lang and len(lang) <= 35:  # BCP 47 length bound
                        page_meta.setdefault("lang", lang)
                if page_meta:
                    extraction["page_meta"] = page_meta
                alternates = from_link_alternates(groups["link"])
                if alternates:
                    extraction["alternates"] = alternates
                if sheets:  # computed once, before the resolver
                    extraction["stylesheets"] = sheets

            if opts.include_sections:
                sections = _section_views(groups["section"], table_starts,
                                          table_ids)
                if sections:
                    extraction["sections"] = sections

            if opts.include_class_map and walk.class_positions:
                extraction["class_map"] = walk.class_positions
        except Exception as exc:  # fallback-not-fail (pipeline.py:1097)
            status = "fallback"
            fallback_reason = f"{type(exc).__name__}"
            extraction = {"doc": url}
            main_text = ""
            n_tables = n_shapes = n_arrows = n_charts = n_lists = n_links = 0
        finally:
            if root is not None:
                release(root)

    if status == "fallback" or not main_text:
        # degraded text-only path (build_cells_tables_workbook analogue,
        # reference core/pipeline.py:1196-1268)
        degraded = strip_tags_text(html) if html else ""
        if not main_text:
            main_text = degraded
        if status == "fallback":
            extraction["fallback_reason"] = fallback_reason or "no_main_text"

    # NFC-normalize so byte identity is well-defined across sources
    return _record(url, status, fallback_reason, normalize_main_text(main_text),
                   extraction, bytes_in, n_tables, n_shapes, n_arrows,
                   n_charts, n_lists, n_links, truncated)
