"""Length-unit conversion: the EMU/pt <-> CSS-px bridge (F6 parity).

The reference converts OOXML EMU geometry to points with
``_EMU_PER_POINT = 12700`` (reference core/ooxml_drawing.py:24,933-947)
and decodes rotation as ``rot / 60000`` degrees
(ooxml_drawing.py:638-644).  The web surface speaks CSS lengths instead,
so this kernel maps EMU to pt/px and pt to px, plus a tolerant
CSS-length parser for SVG/HTML attributes (``width='9pt'``).

Constants: 1 inch = 914400 EMU = 72 pt = 96 CSS px, so
1 pt = 12700 EMU and 1 px = 9525 EMU.
"""

from __future__ import annotations

import re
from typing import Optional

EMU_PER_INCH = 914400.0
EMU_PER_POINT = 12700.0          # reference ooxml_drawing.py:24
EMU_PER_PX = 9525.0              # 914400 / 96
PX_PER_POINT = 96.0 / 72.0

_CSS_LEN_RE = re.compile(
    r"^\s*([-+]?\d*\.?\d+(?:[eE][-+]?\d+)?)\s*(px|pt|in|cm|mm|pc|)\s*$", re.I
)
_PX_PER_UNIT = {
    "": 1.0,          # unitless SVG/HTML attribute values are px
    "px": 1.0,
    "pt": PX_PER_POINT,
    "pc": 16.0,       # 1 pica = 12 pt = 16 px
    "in": 96.0,
    "cm": 96.0 / 2.54,
    "mm": 96.0 / 25.4,
}


def emu_to_points(v: float) -> float:
    """EMU -> pt (parity: _emu_attr_to_points, ooxml_drawing.py:933-947)."""
    return v / EMU_PER_POINT


def emu_to_px(v: float) -> float:
    return v / EMU_PER_PX


def points_to_px(v: float) -> float:
    return v * PX_PER_POINT


def ooxml_rot_to_degrees(raw) -> Optional[float]:
    """OOXML 60000ths-of-a-degree -> degrees (ooxml_drawing.py:638-644)."""
    try:
        return float(raw) / 60000.0
    except (TypeError, ValueError):
        return None


def parse_css_length(raw, default: Optional[float] = None) -> Optional[float]:
    """CSS/SVG length string -> px float, or ``default`` if unparseable.

    Relative units (em/%/vw) need layout context that a streaming
    extractor doesn't have — they fall through to ``default``
    (fallback-not-fail)."""
    if raw is None:
        return default
    if isinstance(raw, (int, float)):
        return float(raw)
    try:
        return float(raw)  # fast path: bare numbers dominate real markup
    except (TypeError, ValueError):
        pass
    m = _CSS_LEN_RE.match(str(raw))
    if not m:
        return default
    return float(m.group(1)) * _PX_PER_UNIT[m.group(2).lower()]
