"""Shape/arrow extraction from inline <svg>: the flowchart-graph analogue.

Parity map (behaviour, not code):
  * sequential 1-based ids over non-connector shapes in document order
                      ~ reference core/shapes.py:399-402 (SURVEY.md §2.5 W1;
                        determinism depends only on per-doc content)
  * text label assignment by point-in-box containment
  * connector endpoints resolved to nearest shape bounding box (1-NN
    point-to-box Euclidean) with approximation metadata
                      ~ _nearest_shape_id / _distance_to_box
                        (libreoffice_backend.py:662-686) and the 3-tier
                        resolution ladder (libreoffice_backend.py:526-579)
  * 8-point compass direction from atan2 ~ compute_line_angle_deg /
                        angle_to_compass (core/shapes.py:16-46)

All geometry is vectorizable numpy per doc; shape counts are tiny so plain
floats suffice (never a cluster-wide join — SURVEY.md §2.3 J3).
"""

from __future__ import annotations

import math
import re
from typing import Optional

from exstruct_spark.kernels.dom import Node
from exstruct_spark.kernels.units import parse_css_length

# compass order matches a standard 8-point rose starting at East,
# counter-clockwise negative (SVG y grows downward, so S means dy > 0)
_COMPASS = ["E", "SE", "S", "SW", "W", "NW", "N", "NE"]

_NUM_RE = re.compile(r"[-+]?\d*\.?\d+(?:[eE][-+]?\d+)?")
_ROTATE_RE = re.compile(
    r"rotate\(\s*([-+]?\d*\.?\d+)(?:[\s,]+([-+]?\d*\.?\d+)[\s,]+([-+]?\d*\.?\d+))?\s*\)"
)


def _f(node: Node, attr: str, default: float = 0.0) -> float:
    # geometry attrs accept CSS units (width='9pt') — normalized to px
    # (F6 unit conversion, kernels/units.py)
    v = parse_css_length(node.get(attr), None)
    return default if v is None else v


def _rotation_of(node: Node):
    """SVG ``transform="rotate(a [cx cy])"`` -> (deg, cx, cy) or None.

    The web analogue of OOXML's xfrm ``rot`` attribute (reference
    ooxml_drawing.py:638-644 decodes 60000ths-of-a-degree; SVG carries
    degrees directly)."""
    t = node.get("transform")
    if not t:
        return None
    m = _ROTATE_RE.search(t)
    if not m:
        return None
    deg = float(m.group(1))
    cx = float(m.group(2)) if m.group(2) is not None else 0.0
    cy = float(m.group(3)) if m.group(3) is not None else 0.0
    return deg, cx, cy


def _rotate_bbox(box: tuple, deg: float, cx: float, cy: float) -> tuple:
    """Axis-aligned bbox of a rotated rectangle (F5 rotation trig):
    rotate the four corners around (cx, cy) — SVG rotate is clockwise in
    screen coords — and take the envelope.  Mirrors the reference's
    rotation-aware geometry (ooxml_drawing.py:310-337 carries rotation
    into the shape model; endpoint math in _rotate_connector_delta)."""
    l, t, w, h = box
    rad = math.radians(deg)
    cos_a, sin_a = math.cos(rad), math.sin(rad)
    xs, ys = [], []
    for px, py in ((l, t), (l + w, t), (l, t + h), (l + w, t + h)):
        dx, dy = px - cx, py - cy
        xs.append(cx + dx * cos_a - dy * sin_a)
        ys.append(cy + dx * sin_a + dy * cos_a)
    return (min(xs), min(ys), max(xs) - min(xs), max(ys) - min(ys))


def angle_to_compass(dx: float, dy: float) -> str:
    """(dx, dy) in SVG coords (y down) -> 8-point compass bucket.

    Parity: compute_line_angle_deg + angle_to_compass (reference
    core/shapes.py:16-46): atan2 -> degrees -> nearest of 8 buckets.
    """
    deg = math.degrees(math.atan2(dy, dx)) % 360.0
    idx = int(((deg + 22.5) % 360.0) // 45.0)
    return _COMPASS[idx]


def _shape_bbox(node: Node) -> Optional[tuple]:
    """svg shape element -> (l, t, w, h) bbox in px, or None."""
    if node.tag == "rect":
        return (_f(node, "x"), _f(node, "y"), _f(node, "width"), _f(node, "height"))
    if node.tag == "ellipse":
        cx, cy = _f(node, "cx"), _f(node, "cy")
        rx, ry = _f(node, "rx"), _f(node, "ry")
        return (cx - rx, cy - ry, 2 * rx, 2 * ry)
    if node.tag == "circle":
        cx, cy, r = _f(node, "cx"), _f(node, "cy"), _f(node, "r")
        return (cx - r, cy - r, 2 * r, 2 * r)
    return None


def _distance_to_box(px: float, py: float, box: tuple) -> float:
    """Euclidean point-to-rectangle distance (0 inside).

    Parity: _distance_to_box (reference libreoffice_backend.py:676-686).
    """
    l, t, w, h = box
    dx = max(l - px, 0.0, px - (l + w))
    dy = max(t - py, 0.0, py - (t + h))
    return math.hypot(dx, dy)


def _nearest_shape_id(px: float, py: float, shapes: list) -> Optional[int]:
    """1-NN endpoint -> shape id; ties break on lower id (document order).

    Parity: _nearest_shape_id (reference libreoffice_backend.py:662-674).
    """
    best_id, best_d = None, float("inf")
    for s in shapes:
        d = _distance_to_box(px, py, s["_box"])
        if d < best_d:
            best_id, best_d = s["id"], d
    return best_id


def _line_endpoints(node: Node) -> Optional[tuple]:
    if node.tag == "line":
        return (
            _f(node, "x1"),
            _f(node, "y1"),
            _f(node, "x2"),
            _f(node, "y2"),
        )
    if node.tag == "path":
        nums = [float(x) for x in _NUM_RE.findall(node.get("d", "") or "")]
        if len(nums) >= 4:
            return (nums[0], nums[1], nums[-2], nums[-1])
    if node.tag == "polyline":
        nums = [float(x) for x in _NUM_RE.findall(node.get("points", "") or "")]
        if len(nums) >= 4:
            return (nums[0], nums[1], nums[-2], nums[-1])
    return None


def extract_svg_shapes(svg: Node) -> tuple:
    """One inline <svg> -> (shapes, arrows).

    Shapes: ``{id, text?, l, t, w, h}`` — id sequential 1-based in document
    order over non-connector elements (W1).  Arrows: ``{begin_id, end_id,
    direction, approximation_level?}`` from line/path/polyline elements
    carrying an arrow marker (``marker-end``) or class hint.  An
    ``unrendered`` element is neither.
    """
    shapes: list = []
    labels: list = []
    connectors: list = []
    elem_id_map: dict = {}  # svg element id attr -> shape id (tier-1 key)
    next_id = 1
    for node in svg.iter():
        if node.tag == "svg" or node.unrendered:
            continue
        box = _shape_bbox(node)
        if box is not None:
            rot = _rotation_of(node)
            shape = {
                "id": next_id,
                "l": box[0],
                "t": box[1],
                "w": box[2],
                "h": box[3],
            }
            if rot is not None and rot[0] % 360.0 != 0.0:
                # declared geometry stays verbatim; rotation recorded like
                # the reference shape model, and the CONTAINMENT box used
                # for label/connector joins is the rotated envelope
                shape["rotation"] = rot[0]
                box = _rotate_bbox(box, *rot)
            shape["_box"] = box
            shapes.append(shape)
            eid = node.get("id")
            if eid and eid not in elem_id_map:
                elem_id_map[eid] = next_id
            next_id += 1
            continue
        if node.tag == "text":
            labels.append((_f(node, "x"), _f(node, "y"), node.text_content()))
            continue
        ends = _line_endpoints(node)
        if ends is not None:
            is_arrow = bool(
                node.get("marker-end")
                or node.get("marker-start")
                or "arrow" in (node.get("class") or "")
            )
            refs = (node.get("data-begin"), node.get("data-end"))
            connectors.append((ends, is_arrow, node.tag, refs))

    # label assignment: point-in-box containment, first match in id order;
    # unmatched labels go to the nearest shape
    for lx, ly, text in labels:
        if not text:
            continue
        target = None
        for s in shapes:
            l, t, w, h = s["_box"]
            if l <= lx <= l + w and t <= ly <= t + h:
                target = s
                break
        if target is None and shapes:
            target = min(shapes, key=lambda s: _distance_to_box(lx, ly, s["_box"]))
        if target is not None:
            target["text"] = (
                f"{target['text']} {text}" if target.get("text") else text
            )

    # tier-2 key: first shape claiming each label text (the UNO
    # shape-name equi-join analogue, libreoffice_backend.py:526-545)
    name_map: dict = {}
    for s in shapes:
        text = s.get("text")
        if text and text not in name_map:
            name_map[text] = s["id"]

    def _direct(ref):
        """Tier 1: element-id equi (url(#x) / '#x' / 'x' forms accepted);
        tier 2: shape-label equi.  None -> unresolved (heuristic next)."""
        if not ref:
            return None
        key = ref.strip()
        if key.startswith("url(") and key.endswith(")"):
            key = key[4:-1]
        key = key.lstrip("#")
        return elem_id_map.get(key) or name_map.get(key)

    arrows: list = []
    for (x1, y1, x2, y2), is_arrow, tag, (bref, eref) in connectors:
        if not is_arrow:
            continue
        begin_id, end_id = _direct(bref), _direct(eref)
        n_direct = (begin_id is not None) + (end_id is not None)
        if begin_id is None:
            begin_id = _nearest_shape_id(x1, y1, shapes)
        if end_id is None:
            end_id = _nearest_shape_id(x2, y2, shapes)
        # provenance ladder parity (_classify_connector_resolution,
        # reference libreoffice_backend.py:859-878): both endpoints by
        # id/name equi -> direct (level 0, confidence 1.0); one -> partial
        # (0.9); geometry-only -> heuristic (0.6)
        if n_direct == 2:
            resolution, confidence, level = "direct", 1.0, 0
        elif n_direct == 1:
            resolution, confidence, level = "partial", 0.9, 1
        else:
            resolution, confidence, level = "heuristic", 0.6, 1
        arrows.append(
            {
                "begin_id": begin_id,
                "end_id": end_id,
                "direction": angle_to_compass(x2 - x1, y2 - y1),
                "resolution": resolution,
                "confidence": confidence,
                "approximation_level": level,
            }
        )

    for s in shapes:
        del s["_box"]
        # canonical key order: id, text, l, t, w, h, rotation?
        ordered = {"id": s["id"]}
        if s.get("text"):
            ordered["text"] = s["text"]
        ordered.update({k: s[k] for k in ("l", "t", "w", "h")})
        if "rotation" in s:
            ordered["rotation"] = s["rotation"]
        s.clear()
        s.update(ordered)
    return shapes, arrows


def _list_item_tree(li: Node, depth: int, max_depth: int) -> dict:
    """One ``<li>`` as ``{text, nodes}``: its own text, and its nested
    lists' items as child nodes down to ``max_depth``; ``unrendered``
    children are skipped, and the text on either side of one joins as
    if it were not there.  Module-level, not a closure: a recursive
    closure refers to itself through its cell, a reference cycle only
    the cyclic GC can free."""
    own_text_parts = []
    child_nodes: list = []
    # text, then only unrendered elements: the next text joins it
    after_text = skipped = False
    for ch in li.children:
        if isinstance(ch, str):
            if after_text and skipped:
                own_text_parts[-1] += ch
            else:
                own_text_parts.append(ch)
            after_text, skipped = True, False
            continue
        if ch.unrendered:
            skipped = True
            continue
        after_text = False
        if ch.tag in ("ul", "ol") and depth < max_depth:
            for sub in ch.element_children():
                if sub.tag == "li" and not sub.unrendered:
                    child_nodes.append(
                        _list_item_tree(sub, depth + 1, max_depth))
        elif ch.tag not in ("ul", "ol"):
            own_text_parts.append(ch.text_content())
    node: dict = {"text": re.sub(r"\s+", " ", " ".join(own_text_parts)).strip()}
    if child_nodes:
        node["nodes"] = child_nodes
    return node


def extract_nested_lists(lists: list, max_depth: int = 12) -> list:
    """Deep <ul>/<ol> nesting -> SmartArt-like recursive node trees.
    ``lists`` are the document's ``<ul>``/``<ol>``/``<dl>`` nodes in
    document order (the rendered walk's shared bucket); an outer list
    claims its subtree, so an inner one is read only through it.

    Parity: _build_smartart_tree level-stack algorithm (reference
    core/shapes.py:268-291) — HTML nesting already encodes the levels, so
    the tree is read off directly; only lists with nesting depth >= 2
    qualify (flat lists are ordinary content).  ``<dl>`` definition
    lists (the spec-sheet key/value idiom) map structurally: each
    ``<dt>`` is a level-1 node and its following ``<dd>``s are its
    children — inherently depth 2, so a dl with any dt+dd pair
    qualifies.
    An ``unrendered`` list, item, term or definition is none.
    Returns list of ``{text, nodes: [...]}`` trees.
    """

    def depth_of(lst: Node, depth: int = 1) -> int:
        best = depth
        for n in lst.find_all("ul", "ol"):
            if n is not lst and not n.unrendered:
                best = max(best, depth + 1)
        return best

    trees: list = []
    # a claimed list's subtree is its [i0, i1) slice, skipped whole
    claimed_to = -1
    def norm(s: str) -> str:
        return re.sub(r"\s+", " ", s).strip()

    for lst in lists:
        if lst.i0 < claimed_to or lst.unrendered:
            continue
        claimed_to = lst.i1
        if lst.tag == "dl":
            items = []
            cur = None
            kids: list = []
            for ch in lst.element_children():
                if ch.tag == "div":  # HTML5 allows div-wrapped groups
                    kids.extend(ch.element_children())
                else:
                    kids.append(ch)
            kids = [ch for ch in kids if not ch.unrendered]
            for ch in kids:
                if ch.tag == "dt":
                    cur = {"text": norm(ch.text_content())}
                    items.append(cur)
                elif ch.tag == "dd":
                    node = {"text": norm(ch.text_content())}
                    if cur is None:
                        items.append(node)  # stray dd: keep, flat
                    else:
                        cur.setdefault("nodes", []).append(node)
            if any("nodes" in it for it in items):
                trees.extend(items)
            continue
        if depth_of(lst) < 2:
            continue
        items = [_list_item_tree(li, 1, max_depth)
                 for li in lst.element_children()
                 if li.tag == "li" and not li.unrendered]
        trees.extend(items)
    return trees
