"""schema.org structured-data harvesting: JSON-LD + microdata.

A Common-Crawl-scale extraction pipeline's highest-signal metadata is
the page's own declared structure — ``<script type="application/
ld+json">`` blocks and microdata (``itemscope``/``itemprop``) markup.
This is the web's analogue of the reference's typed document models
(SheetData/Chart/Shape, models/__init__.py): entities the author
DECLARED, as opposed to the heuristic families the detector infers.

Output: a flat list of entity records, each
``{"source": "ld+json"|"microdata", "type": <schema.org type>,
"props": {name: scalar}}`` — scalar-valued properties only, with
nested entities surfacing as their own records (depth-first document
order).  Deterministic, caps-not-crashes (entity/prop/string caps,
malformed JSON skipped, never raised).
"""

from __future__ import annotations

import json
import math
import re

from exstruct_spark.kernels.dom import Node

MAX_ENTITIES = 64
MAX_PROPS = 32
MAX_VALUE_CHARS = 512


def _type_name(t) -> str:
    """@type / itemtype -> bare schema.org type name."""
    if isinstance(t, list) and t:
        t = t[0]
    s = str(t or "").strip()
    # itemtype is a URL (https://schema.org/Product); @type usually bare
    return s.rstrip("/").rsplit("/", 1)[-1][:128]


def _scalar(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        # json.loads accepts NaN/Infinity; emitting them back would
        # make extraction_json invalid RFC-8259 for strict consumers
        return v if math.isfinite(v) else None
    if isinstance(v, int):
        return v
    if isinstance(v, str):
        s = " ".join(v.split())
        return s[:MAX_VALUE_CHARS] if s else None
    return None


def _walk_ldjson(value, out: list) -> None:
    """Depth-first entity collection over a parsed JSON-LD value: every
    dict carrying @type becomes a record (scalar props kept; a nested
    dict's ``name`` stands in for the object value); @graph and lists
    recurse."""
    if len(out) >= MAX_ENTITIES:
        return
    if isinstance(value, list):
        for item in value:
            _walk_ldjson(item, out)
        return
    if not isinstance(value, dict):
        return
    t = value.get("@type")
    if t:
        props: dict = {}
        for k, v in value.items():
            if k.startswith("@") or len(props) >= MAX_PROPS:
                continue
            sv = _scalar(v)
            if sv is None and isinstance(v, dict):
                # nested entity: its name stands in; the entity itself
                # is collected as its own record below
                sv = _scalar(v.get("name"))
            if sv is None and isinstance(v, list) and v:
                sv = _scalar(v[0])
                if sv is None and isinstance(v[0], dict):
                    # multi-author-style list of entities: the first
                    # one's name stands in, same as the dict form
                    sv = _scalar(v[0].get("name"))
            if sv is not None:
                props[str(k)[:64]] = sv
        tname = _type_name(t)
        if tname and len(out) < MAX_ENTITIES:
            out.append({"source": "ld+json", "type": tname,
                        "props": props})
    for k, v in value.items():
        if isinstance(v, (dict, list)) and k != "@context":
            _walk_ldjson(v, out)


def from_ldjson_scripts(script_nodes: list) -> list:
    """``<script type="application/ld+json">`` nodes -> entity records.
    Malformed JSON skips the block (fallback-not-fail)."""
    out: list = []
    for sn in script_nodes:
        stype = (sn.attrs.get("type") or "").strip().lower()
        if stype != "application/ld+json":
            continue
        text = "".join(c for c in sn.children if type(c) is str)
        if not text.strip():
            continue
        try:
            # RecursionError too: json.loads (and the walk) recurse on
            # nesting depth, and a crafted 2000-deep block must skip
            # like any other malformed payload, not sink the document's
            # whole rich phase
            parsed = json.loads(text)
            _walk_ldjson(parsed, out)
        except (ValueError, RecursionError):
            continue
        if len(out) >= MAX_ENTITIES:
            break
    return out


def _microdata_value(node: Node):
    """An itemprop element's value per the microdata spec's
    tag-specific rules (content attr, href/src carriers, else text)."""
    attrs = node.attrs
    tag = node.tag
    # the content-attribute rule applies to <meta> only (microdata
    # spec); a stray SEO-plugin content attr on a/img/time must not
    # shadow the tag-specific carriers below
    if tag == "meta" and attrs.get("content"):
        return _scalar(attrs["content"])
    if tag in ("a", "area", "link") and attrs.get("href"):
        return _scalar(attrs["href"])
    if tag in ("img", "audio", "video", "source", "iframe", "embed") \
            and attrs.get("src"):
        return _scalar(attrs["src"])
    if tag == "time" and attrs.get("datetime"):
        return _scalar(attrs["datetime"])
    if tag in ("data", "meter") and attrs.get("value"):
        return _scalar(attrs["value"])
    return _scalar(node.text_content())


def _own_name_value(scope: Node, scope_ids: set):
    """The ``name`` itemprop value belonging to THIS scope (descendants
    of further nested itemscopes excluded)."""
    stack = list(reversed(scope.element_children()))
    while stack:
        ch = stack.pop()
        if id(ch) in scope_ids:
            continue  # a deeper item owns its own subtree
        if "name" in (ch.attrs.get("itemprop") or "").split():
            return _microdata_value(ch)
        for sub in reversed(ch.element_children()):
            stack.append(sub)
    return None


def from_microdata(scopes: list) -> list:
    """Microdata items -> entity records.  Each ``itemscope`` element
    of ``scopes`` (the rendered walk's, in document order) is one
    record; its props are the ``itemprop`` descendants OUTSIDE any
    nested itemscope (the nested item is its own record and stands in
    by its first ``name`` prop, mirroring the JSON-LD walk)."""
    out: list = []
    scope_ids = {id(n) for n in scopes}
    for scope in scopes[:MAX_ENTITIES]:
        props: dict = {}
        # iterative walk (adversarially deep nesting must not blow the
        # recursion limit — same discipline as Node.text_content)
        stack = [(ch, False) for ch in reversed(scope.element_children())]
        while stack:
            ch, in_nested = stack.pop()
            nested = id(ch) in scope_ids
            # itemprop is a space-separated token LIST per the spec
            names = (ch.attrs.get("itemprop") or "").split()
            if names and not in_nested and len(props) < MAX_PROPS:
                if nested:
                    # nested item: ITS OWN name itemprop stands in —
                    # scan only the nested scope's direct subtree,
                    # excluding doubly-nested scopes (else a deeper
                    # item's name wrongly stands in)
                    val = _own_name_value(ch, scope_ids)
                else:
                    val = _microdata_value(ch)
                if val is not None:
                    for name in names:
                        if len(props) >= MAX_PROPS:
                            break
                        props.setdefault(name[:64], val)
            deeper = in_nested or nested
            for sub in reversed(ch.element_children()):
                stack.append((sub, deeper))
        out.append({
            "source": "microdata",
            # untyped items keep a stable non-empty type (canonical
            # serialization strips empty values, and consumers index
            # records by type)
            "type": _type_name(scope.attrs.get("itemtype")) or "Item",
            "props": props,
        })
    return out


def _rdfa_prop_name(token: str) -> str:
    """RDFa property token -> bare name: CURIE prefixes (``schema:name``)
    and full IRIs (``https://schema.org/name``) both reduce to the last
    segment, matching how microdata/JSON-LD prop names surface."""
    t = token.rstrip("/").rsplit("/", 1)[-1]
    return t.rsplit(":", 1)[-1][:64]


def _rdfa_value(node: Node):
    """A ``property`` element's value per RDFa Lite: explicit
    ``content`` wins, then the tag-specific href/src/datetime carriers
    (shared with microdata), then text content."""
    if node.attrs.get("content"):
        # unlike microdata, RDFa's content attribute applies on ANY tag
        return _scalar(node.attrs["content"])
    return _microdata_value(node)


def _own_rdfa_name(scope: Node, scope_ids: set):
    """The ``name`` property value belonging to THIS typeof scope."""
    stack = list(reversed(scope.element_children()))
    while stack:
        ch = stack.pop()
        if id(ch) in scope_ids:
            continue
        names = [_rdfa_prop_name(t)
                 for t in (ch.attrs.get("property") or "").split()]
        if "name" in names:
            return _rdfa_value(ch)
        for sub in reversed(ch.element_children()):
            stack.append(sub)
    return None


def from_rdfa(scopes: list) -> list:
    """RDFa Lite items -> entity records (the THIRD schema.org carrier,
    VERDICT r6 Missing #5 — older news/commerce sites): every element
    with ``typeof`` (``scopes``, the rendered walk's) is one record; its
    props are the ``property`` descendants outside nested typeof scopes,
    nested entities standing in by their own ``name`` property — the
    same record shape, caps and walk discipline as the microdata
    family."""
    out: list = []
    scope_ids = {id(n) for n in scopes}
    for scope in scopes[:MAX_ENTITIES]:
        props: dict = {}
        stack = [(ch, False) for ch in reversed(scope.element_children())]
        while stack:
            ch, in_nested = stack.pop()
            nested = id(ch) in scope_ids
            names = (ch.attrs.get("property") or "").split()
            if names and not in_nested and len(props) < MAX_PROPS:
                if nested:
                    val = _own_rdfa_name(ch, scope_ids)
                else:
                    val = _rdfa_value(ch)
                if val is not None:
                    for name in names:
                        if len(props) >= MAX_PROPS:
                            break
                        props.setdefault(_rdfa_prop_name(name), val)
            deeper = in_nested or nested
            for sub in reversed(ch.element_children()):
                stack.append((sub, deeper))
        # typeof is a space-separated type list, each possibly a CURIE
        # (schema:Product) or IRI — first token, bare name
        t_first = (scope.attrs.get("typeof") or "").split()
        tname = _rdfa_prop_name(t_first[0])[:128] if t_first else ""
        out.append({
            "source": "rdfa",
            "type": tname or "Item",
            "props": props,
        })
    return out


# the meta-tag page-metadata keys a curation pipeline keeps: OpenGraph
# and Twitter cards pass through by prefix; plus the classic head tags
_META_NAMES = {"description", "keywords", "author", "robots",
               "twitter:card", "twitter:title", "twitter:description",
               "twitter:image", "twitter:site", "twitter:creator"}
MAX_META = 32


# meta-refresh: "5; url=/new" (quote and case variants)
_REFRESH_URL_RE = re.compile(r"url\s*=\s*['\"]?([^'\"\s;]+)", re.I)
# link-rel keys a crawl pipeline navigates on: canonical (dedup
# authority), amphtml (the AMP twin is a near-dup of the canonical —
# a dedup join key), next/prev (pagination chains), icon
_LINK_REL_KEYS = {"canonical": "canonical", "amphtml": "amphtml",
                  "next": "next", "prev": "prev", "icon": "icon"}
_FEED_TYPES = {"application/rss+xml", "application/atom+xml",
               "application/feed+json"}


def from_meta_tags(meta_nodes: list, link_nodes: list,
                   time_nodes: list = ()) -> dict:
    """``<meta>``/``<link>`` head metadata -> one flat dict: OpenGraph
    (``og:*`` / ``article:*`` properties), Twitter cards, the classic
    description/keywords/author names, plus the CRAWL-NAVIGATION
    signals a pipeline joins on — canonical, the AMP twin
    (rel=amphtml), pagination (rel=next/prev), the first feed
    alternate (rss/atom/json-feed), rel=icon, meta-refresh redirect
    targets, and the first ``<time datetime>`` value (the common
    publication-date carrier when og/article dates are absent).
    First occurrence wins (the browser rule for duplicated metadata);
    key/value caps bound hostile heads."""
    out: dict = {}
    for m in meta_nodes:
        if len(out) >= MAX_META:
            break
        attrs = m.attrs
        content = attrs.get("content")
        if not content:
            continue
        equiv = (attrs.get("http-equiv") or "").strip().lower()
        if equiv == "refresh" and "refresh" not in out:
            um = _REFRESH_URL_RE.search(str(content))
            if um:
                out["refresh"] = um.group(1)[:MAX_VALUE_CHARS]
            continue
        key = (attrs.get("property") or "").strip().lower()
        if not (key.startswith("og:") or key.startswith("article:")):
            key = (attrs.get("name") or "").strip().lower()
            if key not in _META_NAMES:
                continue
        key = key[:64]
        if key and key not in out:
            out[key] = " ".join(str(content).split())[:MAX_VALUE_CHARS]
    for ln in link_nodes:
        if len(out) >= MAX_META:
            break  # the cap holds for every link insert too (ADVICE
            # r6: appending after the meta loop's check could exceed
            # MAX_META by one on a hostile head)
        attrs = ln.attrs
        rels = (attrs.get("rel") or "").strip().lower().split()
        href = (attrs.get("href") or "").strip()
        if not rels or not href:
            continue
        if "alternate" in rels:
            ltype = (attrs.get("type") or "").strip().lower()
            if ltype in _FEED_TYPES and "feed" not in out:
                out["feed"] = href[:MAX_VALUE_CHARS]
            continue  # hreflang alternates live in from_link_alternates
        for rel in rels:
            key = _LINK_REL_KEYS.get(rel)
            if key and key not in out:
                out[key] = href[:MAX_VALUE_CHARS]
    for tn in time_nodes:
        if len(out) >= MAX_META or "time:datetime" in out:
            break
        dt = (tn.attrs.get("datetime") or "").strip()
        if dt:
            out["time:datetime"] = dt[:MAX_VALUE_CHARS]
    return out


MAX_ALTERNATES = 32


def from_link_alternates(link_nodes: list) -> list:
    """``<link rel="alternate" hreflang=...>`` pairs — the canonical
    cross-language clustering key for a multilingual crawl (CCNet-style
    dedup joins documents on their declared translation set).  Document
    order, first occurrence per hreflang wins, capped."""
    out: list = []
    seen: set = set()
    for ln in link_nodes:
        if len(out) >= MAX_ALTERNATES:
            break
        attrs = ln.attrs
        rels = (attrs.get("rel") or "").lower().split()
        if "alternate" not in rels:
            continue
        hreflang = (attrs.get("hreflang") or "").strip().lower()
        href = (attrs.get("href") or "").strip()
        if not hreflang or not href or hreflang in seen:
            continue
        seen.add(hreflang)
        out.append({"hreflang": hreflang[:32],
                    "href": href[:MAX_VALUE_CHARS]})
    return out
