"""Real WebP-lossless (VP8L) decode — stdlib + numpy only, no codec libs.

Fifth real image codec (after PNG, GIF, baseline+progressive JPEG):
WebP's lossless bitstream is LZ77 + canonical prefix codes + a color
cache over ARGB pixels, with four invertible transforms (spatial
predictors, color decorrelation, subtract-green, palette indexing with
pixel bundling) and an optional meta-prefix entropy image.  Everything
here is implemented from the public bitstream format; nothing is
copied from any decoder.

Verification standard (same as the JPEG spec-pin): the system's
libwebp — a REAL third-party codec, loaded via ctypes at TEST time,
never linked here — both generates encoder-grade vectors
(``WebPEncodeLosslessRGB[A]``) and serves as the pixel oracle
(``WebPDecodeRGBA``); pytest pins this decoder byte-identical to it
across photos, gradients, palettes at every bundling width, and alpha.
The 120-entry distance-to-neighbor table below is the spec's table,
derived BEHAVIORALLY: 120 hand-crafted single-backward-reference
streams were decoded with libwebp and the copied pixel observed
(scripts cannot guess it wrong — the pytest re-derivation would fail).

Scope (honest limits, ValueError beyond them):
  * VP8L version 0 (the only deployed version), all four transforms,
    meta prefix codes, color cache, LZ77 over the full window;
  * NOT lossy VP8 (boolean-coder DCT — a different codec entirely),
    NOT animations (ANMF frames carry their own VP8/VP8L payloads).
"""

from __future__ import annotations

import struct

import numpy as np

MAX_PIXELS = 64_000_000
# separate, much lower cap for the ENTROPY-CODED pixel paths: unlike
# PNG/GIF (zlib/numpy at C speed under the 64M cap) this decoder does
# interpreter-speed per-pixel work across up to five passes, so one
# huge blob could stall an executor task for minutes — beyond this,
# Vp8lCapExceeded degrades the blob to the real header-metadata tier
# (a capability limit, NOT a corrupt file — strict mode must be able
# to tell them apart)
VP8L_MAX_PIXELS = 4_000_000


class Vp8lCapExceeded(ValueError):
    """Image exceeds the interpreter-speed pixel budget — the file may
    be perfectly valid; callers degrade instead of flagging corruption."""


def _iter_webp_chunks(raw: bytes):
    """Shared RIFF/WEBP chunk walk: yields (chunk_id: bytes, body) with
    word-aligned advance; raises ValueError on a truncated chunk or a
    non-WebP container."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP container")
    pos = 12
    while pos + 8 <= len(raw):
        cid = bytes(raw[pos:pos + 4])
        (size,) = struct.unpack("<I", raw[pos + 4:pos + 8])
        body = raw[pos + 8:pos + 8 + size]
        if len(body) != size:
            raise ValueError("truncated WebP chunk")
        yield cid, body
        pos += 8 + size + (size & 1)  # chunks are word-aligned

# distance code 1..120 -> (dx, dy) close-neighborhood offsets
# (T.81-style public constant from the WebP lossless specification)
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]

# code-length-code symbol transmission order (shared with DEFLATE-style
# schemes; public spec constant)
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
             14, 15]


class _Bits:
    """LSB-first bit reader over the VP8L payload.  Fixed-width fields
    read low-bit-first; prefix codes read bit by bit, each new bit
    extending the code at the low end of the traversal (MSB-first code
    accumulation, the DEFLATE convention)."""

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0  # bit position
        self.nbits = len(data) * 8

    def u(self, n: int) -> int:
        p = self.pos
        if p + n > self.nbits:
            raise ValueError("VP8L bitstream truncated")
        v = 0
        for i in range(n):
            v |= ((self.d[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos = p + n
        return v

    def bit(self) -> int:
        p = self.pos
        if p >= self.nbits:
            raise ValueError("VP8L bitstream truncated")
        self.pos = p + 1
        return (self.d[p >> 3] >> (p & 7)) & 1

    def read_code(self, tree):
        kind, payload = tree
        if kind == "single":
            return payload
        code = 0
        for length in range(1, 16):
            code = (code << 1) | self.bit()
            sym = payload.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid prefix code")


def _canon_table(lengths: dict):
    """{symbol: length>0} -> decode tree.  Canonical assignment: codes
    in (length, symbol) order — the construction libwebp accepted for
    every probe stream, i.e. the spec's."""
    nonzero = {s: l for s, l in lengths.items() if l > 0}
    if not nonzero:
        raise ValueError("empty prefix code")
    if len(nonzero) == 1:
        return ("single", next(iter(nonzero)))
    maxlen = max(nonzero.values())
    if maxlen > 15:
        raise ValueError("prefix code length > 15")
    bl_count = [0] * (maxlen + 1)
    for l in nonzero.values():
        bl_count[l] += 1
    # completeness check (kraft sum == 1): an over-subscribed or
    # incomplete code is a malformed stream
    kraft = 0
    for l, c in enumerate(bl_count[1:], start=1):
        kraft += c << (maxlen - l)
    if kraft != (1 << maxlen):
        raise ValueError("invalid prefix code (kraft)")
    next_code = [0] * (maxlen + 1)
    code = 0
    for l in range(1, maxlen + 1):
        code = (code + bl_count[l - 1]) << 1
        next_code[l] = code
    table = {}
    for sym in sorted(nonzero):
        l = nonzero[sym]
        table[(l, next_code[l])] = sym
        next_code[l] += 1
    return ("table", table)


def _read_prefix_code(br: _Bits, alphabet_size: int):
    if br.bit():  # simple code: 1 or 2 symbols, lengths {0} or {1,1}
        n = br.bit() + 1
        s0 = br.u(8) if br.bit() else br.u(1)
        if n == 1:
            return ("single", s0)
        s1 = br.u(8)
        if s0 == s1:
            raise ValueError("duplicate simple-code symbol")
        return _canon_table({s0: 1, s1: 1})
    ncl = 4 + br.u(4)
    cl_lengths = {}
    for s in _CL_ORDER[:ncl]:
        l = br.u(3)
        if l:
            cl_lengths[s] = l
    cl_tree = _canon_table(cl_lengths)
    if br.bit():
        length_nbits = 2 + 2 * br.u(3)
        max_symbol = 2 + br.u(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = {}
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = br.read_code(cl_tree)
        if cl < 16:
            if cl:
                lengths[symbol] = cl
                prev_len = cl
            symbol += 1
        else:
            if cl == 16:
                repeat = 3 + br.u(2)
                fill = prev_len
            elif cl == 17:
                repeat = 3 + br.u(3)
                fill = 0
            else:
                repeat = 11 + br.u(7)
                fill = 0
            if symbol + repeat > alphabet_size:
                raise ValueError("prefix lengths overrun alphabet")
            if fill:
                for _ in range(repeat):
                    lengths[symbol] = fill
                    symbol += 1
            else:
                symbol += repeat
    return _canon_table(lengths)


def _prefix_val(slot: int, br: _Bits) -> int:
    """LZ77 length/distance prefix decoding: 40-slot log scheme."""
    if slot < 4:
        return slot + 1
    ebits = (slot - 2) >> 1
    offset = (2 + (slot & 1)) << ebits
    return offset + br.u(ebits) + 1


def _subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_image_stream(br: _Bits, w: int, h: int, is_root: bool):
    """One entropy-coded ARGB image (the main image when ``is_root``,
    else an entropy/transform/palette sub-image) -> list of w*h uint32
    ARGB pixels in scan order."""
    cache_bits = 0
    if br.bit():
        cache_bits = br.u(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad color-cache size")
    meta = None
    meta_bits = 0
    meta_w = 0
    ngroups = 1
    if is_root and br.bit():
        meta_bits = br.u(3) + 2
        meta_w = _subsample(w, meta_bits)
        meta_px = _decode_image_stream(
            br, meta_w, _subsample(h, meta_bits), False)
        meta = [(p >> 8) & 0xFFFF for p in meta_px]
        ngroups = max(meta) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    groups = []
    for _ in range(ngroups):
        green = _read_prefix_code(br, 256 + 24 + cache_size)
        red = _read_prefix_code(br, 256)
        blue = _read_prefix_code(br, 256)
        alpha = _read_prefix_code(br, 256)
        dist = _read_prefix_code(br, 40)
        groups.append((green, red, blue, alpha, dist))
    cache = [0] * cache_size
    shift = 32 - cache_bits if cache_bits else 0
    n = w * h
    px = [0] * n
    pos = 0
    g_green, g_red, g_blue, g_alpha, g_dist = groups[0]
    cur_meta = -1
    while pos < n:
        if meta is not None:
            x = pos % w
            mi = ((pos // w) >> meta_bits) * meta_w + (x >> meta_bits)
            if mi != cur_meta:
                gi = meta[mi]
                if gi >= ngroups:
                    raise ValueError("meta group out of range")
                g_green, g_red, g_blue, g_alpha, g_dist = groups[gi]
                cur_meta = mi
        sym = br.read_code(g_green)
        if sym < 256:
            # channel order in the stream is red, blue, alpha — read
            # them in statements (an inline | expression would consume
            # bits in evaluation order, a silent desync)
            red = br.read_code(g_red)
            blue = br.read_code(g_blue)
            alpha = br.read_code(g_alpha)
            argb = (alpha << 24) | (red << 16) | (sym << 8) | blue
            px[pos] = argb
            pos += 1
            if cache_size:
                cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> shift] = argb
        elif sym < 280:
            length = _prefix_val(sym - 256, br)
            dcode = _prefix_val(br.read_code(g_dist), br)
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("backward reference out of range")
            if cache_size:
                for _ in range(length):
                    argb = px[pos - dist]
                    px[pos] = argb
                    pos += 1
                    cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> shift] = argb
            else:
                for _ in range(length):
                    px[pos] = px[pos - dist]
                    pos += 1
            # pixel AFTER a reference re-evaluates the meta group
            cur_meta = -1
        else:
            idx = sym - 280
            if idx >= cache_size:
                raise ValueError("color-cache index out of range")
            px[pos] = cache[idx]
            pos += 1
    return px


def _avg2(a: int, b: int) -> int:
    return ((((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)) & 0xFFFFFFFF


def _clamp_add_sub_full(l, t, tl):
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _clamp_add_sub_half(ave, tl):
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        d = a - ((tl >> sh) & 0xFF)
        # C truncation toward zero for the /2
        half = d // 2 if d >= 0 else -((-d) // 2)
        v = a + half
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _select(t, l, tl):
    s = 0
    for sh in (24, 16, 8, 0):
        cl = (l >> sh) & 0xFF
        ct = (t >> sh) & 0xFF
        c = (tl >> sh) & 0xFF
        s += abs(cl - c) - abs(ct - c)
    return t if s <= 0 else l


def _add_px(a: int, b: int) -> int:
    return (((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00) | (
        ((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF)


def _inv_predictor(px, w, h, bits, sub, sub_w):
    for pos in range(w * h):
        y, x = divmod(pos, w)
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = px[pos - 1]
        elif x == 0:
            pred = px[pos - w]
        else:
            mode = (sub[(y >> bits) * sub_w + (x >> bits)] >> 8) & 0xFF
            left = px[pos - 1]
            top = px[pos - w]
            if mode == 0:
                pred = 0xFF000000
            elif mode == 1:
                pred = left
            elif mode == 2:
                pred = top
            elif mode == 3:
                pred = px[pos - w + 1]
            elif mode == 4:
                pred = px[pos - w - 1]
            elif mode == 5:
                pred = _avg2(_avg2(left, px[pos - w + 1]), top)
            elif mode == 6:
                pred = _avg2(left, px[pos - w - 1])
            elif mode == 7:
                pred = _avg2(left, top)
            elif mode == 8:
                pred = _avg2(px[pos - w - 1], top)
            elif mode == 9:
                pred = _avg2(top, px[pos - w + 1])
            elif mode == 10:
                pred = _avg2(_avg2(left, px[pos - w - 1]),
                             _avg2(top, px[pos - w + 1]))
            elif mode == 11:
                pred = _select(top, left, px[pos - w - 1])
            elif mode == 12:
                pred = _clamp_add_sub_full(left, top, px[pos - w - 1])
            elif mode == 13:
                pred = _clamp_add_sub_half(_avg2(left, top),
                                           px[pos - w - 1])
            else:
                raise ValueError(f"bad predictor mode {mode}")
        px[pos] = _add_px(px[pos], pred)
    return px


def _inv_color_transform(px, w, h, bits, sub, sub_w):
    # vectorized: map each pixel to its block's transform element, then
    # apply the signed-int8 deltas as numpy int16 math (exact semantics
    # of the scalar form — arithmetic >> 5 on int16 floors like Python)
    a = np.asarray(px, dtype=np.uint32).reshape(h, w)
    cte = np.asarray(sub, dtype=np.uint32).reshape(-1, sub_w)
    ys = np.arange(h) >> bits
    xs = np.arange(w) >> bits
    blk = cte[np.ix_(ys, xs)]
    g2r = (blk & 0xFF).astype(np.uint8).astype(np.int8).astype(np.int16)
    g2b = ((blk >> 8) & 0xFF).astype(np.uint8).astype(np.int8).astype(
        np.int16)
    r2b = ((blk >> 16) & 0xFF).astype(np.uint8).astype(np.int8).astype(
        np.int16)
    green = ((a >> 8) & 0xFF).astype(np.uint8).astype(np.int8).astype(
        np.int16)
    red = (((a >> 16) & 0xFF).astype(np.int16)
           + ((g2r * green) >> 5)) & 0xFF
    red_s = red.astype(np.uint8).astype(np.int8).astype(np.int16)
    blue = ((a & 0xFF).astype(np.int16) + ((g2b * green) >> 5)
            + ((r2b * red_s) >> 5)) & 0xFF
    out = ((a & np.uint32(0xFF00FF00))
           | (red.astype(np.uint32) << 16) | blue.astype(np.uint32))
    return out.reshape(-1)


def _inv_subtract_green(px):
    # vectorized per-channel add mod 256
    a = np.asarray(px, dtype=np.uint32)
    g = (a >> 8) & 0xFF
    r = (((a >> 16) & 0xFF) + g) & 0xFF
    b = (a + g) & 0xFF
    return (a & np.uint32(0xFF00FF00)) | (r << 16) | b


def _inv_color_index(px, packed_w, w, h, palette, xbits):
    # vectorized: palette lookup (out-of-range index -> 0, libwebp
    # semantics) with bit-unbundling via broadcast shifts
    pal = np.asarray(palette + [0], dtype=np.uint32)
    oob = len(palette)
    if xbits == 0:
        idx = (np.asarray(px, dtype=np.uint32) >> 8) & 0xFF
        idx = np.where(idx < oob, idx, oob)
        return pal[idx]
    per = 1 << xbits
    depth = 8 >> xbits
    mask = (1 << depth) - 1
    g = ((np.asarray(px, dtype=np.uint32).reshape(h, packed_w) >> 8)
         & 0xFF)
    shifts = (np.arange(per, dtype=np.uint32) * depth)[None, None, :]
    idx = ((g[:, :, None] >> shifts) & mask).reshape(h, packed_w * per)
    idx = idx[:, :w]
    idx = np.where(idx < oob, idx, oob)
    return pal[idx].reshape(-1)


def decode_vp8l(raw: bytes) -> np.ndarray:
    """Full WebP container (or bare VP8L chunk payload) -> (H, W, 4)
    uint8 RGBA.  ValueError on malformed/lossy/animated input."""
    payload = None
    if raw[:4] == b"RIFF" and raw[8:12] == b"WEBP":
        for cid, body in _iter_webp_chunks(raw):
            if cid == b"VP8L":
                payload = body
                break
            if cid == b"VP8 ":
                raise ValueError("lossy VP8 — no pixel decoder here")
        if payload is None:
            raise ValueError("no VP8L chunk")
    elif raw[:1] == b"\x2f":
        payload = raw
    else:
        raise ValueError("not a WebP/VP8L stream")
    if len(payload) < 5 or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    br = _Bits(payload)
    br.u(8)
    w = br.u(14) + 1
    h = br.u(14) + 1
    br.u(1)  # alpha hint
    if br.u(3) != 0:
        raise ValueError("unsupported VP8L version")
    if w * h > VP8L_MAX_PIXELS:
        raise Vp8lCapExceeded("VP8L dimensions exceed max_pixels cap")
    px = _decode_argb(br, w, h)
    arr = np.asarray(px, dtype=np.uint32).reshape(h, w)
    out = np.empty((h, w, 4), dtype=np.uint8)
    out[:, :, 0] = (arr >> 16) & 0xFF   # R
    out[:, :, 1] = (arr >> 8) & 0xFF    # G
    out[:, :, 2] = arr & 0xFF           # B
    out[:, :, 3] = (arr >> 24) & 0xFF   # A
    return out


def _decode_argb(br: _Bits, w: int, h: int) -> list:
    """Level-0 image stream: optional transforms + entropy-coded image
    + inverse transform application -> list of w*h ARGB ints.  Shared
    by the main VP8L image and the ALPH alpha stream (which is exactly
    a headerless level-0 stream)."""
    transforms = []
    seen = set()
    xsize = w
    while br.bit():
        t = br.u(2)
        if t in seen:
            raise ValueError("duplicate transform")
        seen.add(t)
        if t == 0 or t == 1:  # predictor / color transform
            bits = br.u(3) + 2
            sub_w = _subsample(xsize, bits)
            sub = _decode_image_stream(br, sub_w, _subsample(h, bits),
                                       False)
            transforms.append(("pred" if t == 0 else "color",
                               bits, sub, sub_w, xsize))
        elif t == 2:
            transforms.append(("subgreen",))
        else:  # color indexing
            n_colors = br.u(8) + 1
            pal_raw = _decode_image_stream(br, n_colors, 1, False)
            palette = [pal_raw[0] & 0xFFFFFFFF]
            for i in range(1, n_colors):
                palette.append(_add_px(palette[-1], pal_raw[i]))
            xbits = (3 if n_colors <= 2 else 2 if n_colors <= 4
                     else 1 if n_colors <= 16 else 0)
            transforms.append(("index", xsize, palette, xbits))
            xsize = _subsample(xsize, xbits)
    px = _decode_image_stream(br, xsize, h, True)
    for tf in reversed(transforms):
        if tf[0] == "index":
            _, orig_w, palette, xbits = tf
            px = _inv_color_index(px, xsize, orig_w, h, palette, xbits)
            xsize = orig_w
        elif tf[0] == "subgreen":
            px = _inv_subtract_green(px)
        elif tf[0] == "pred":
            _, bits, sub, sub_w, tw = tf
            if isinstance(px, np.ndarray):
                # the predictor inverse is per-pixel Python int math —
                # numpy scalars would silently wrap/warn differently
                px = px.tolist()
            px = _inv_predictor(px, tw, h, bits, sub, sub_w)
        else:
            _, bits, sub, sub_w, tw = tf
            px = _inv_color_transform(px, tw, h, bits, sub, sub_w)
    return px


# ---------------------------------------------------------------------
# ALPH chunk: the alpha plane of LOSSY WebP files.  Compression 1 is a
# headerless VP8L image stream (alpha rides the green channel), so the
# machinery above decodes it; compression 0 is raw bytes.  Filtering is
# the PNG-style horizontal/vertical/gradient prediction.
# ---------------------------------------------------------------------

def _unfilter_alpha(plane: np.ndarray, method: int) -> np.ndarray:
    h, w = plane.shape
    if method == 0:
        return plane
    if method == 1:
        # horizontal, FULLY vectorized (no per-row Python — a 1 x 16M
        # plane must not loop 16M times): within a row the predictor
        # chain is a prefix sum; each row's seed is the reconstructed
        # first element of the row above, itself the prefix sum of
        # column 0 — so one axis-0 cumsum for the seeds + one axis-1
        # cumsum for the rows, all mod 256
        seeds = np.zeros(h, dtype=np.int64)
        if h > 1:
            seeds[1:] = np.cumsum(plane[:, 0].astype(np.int64))[:-1]
        return ((np.cumsum(plane, axis=1, dtype=np.int64)
                 + seeds[:, None]) & 0xFF).astype(np.uint8)
    if method == 2:
        # vertical: row 0 unfilters horizontally, the rest is one
        # axis-0 prefix sum
        base = plane.astype(np.int64)
        base[0] = np.cumsum(base[0]) & 0xFF
        return (np.cumsum(base, axis=0) & 0xFF).astype(np.uint8)
    # gradient (inherently sequential in both axes)
    out = np.empty_like(plane)
    out[0] = (np.cumsum(plane[0], dtype=np.int64) & 0xFF).astype(np.uint8)
    for y in range(1, h):
        prev = out[y - 1]
        row = plane[y]
        left = int(prev[0])
        top_left = left
        for x in range(w):
            top = int(prev[x])
            g = left + top - top_left
            g = 0 if g < 0 else 255 if g > 255 else g
            left = (int(row[x]) + g) & 0xFF
            top_left = top
            out[y, x] = left
    return out


def decode_alph(raw: bytes) -> np.ndarray:
    """Full WebP container with an ALPH chunk -> (H, W) uint8 alpha
    plane (the REAL alpha of a lossy file, whose RGB this module
    honestly cannot decode).  ValueError when absent/malformed."""
    alph = None
    w = h = None
    for cid, body in _iter_webp_chunks(raw):
        if cid == b"ALPH":
            alph = body
        elif cid == b"VP8X" and len(body) >= 10:
            w = 1 + int.from_bytes(body[4:7], "little")
            h = 1 + int.from_bytes(body[7:10], "little")
        elif cid == b"VP8 " and len(body) >= 10 and (body[0] & 1) == 0:
            if body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 keyframe start code")
            if w is None:
                w = int.from_bytes(body[6:8], "little") & 0x3FFF
                h = int.from_bytes(body[8:10], "little") & 0x3FFF
    if alph is None:
        raise ValueError("no ALPH chunk")
    if not w or not h:
        raise ValueError("no dimensions for alpha plane")
    return decode_alph_body(alph, w, h)


def decode_alph_body(alph: bytes, w: int, h: int) -> np.ndarray:
    """Bare ALPH chunk body + known dimensions -> (H, W) uint8 alpha
    plane (shared by the still path above and the ANMF frame path in
    kernels/media.py)."""
    if not alph:
        raise ValueError("empty ALPH body")
    head = alph[0]
    compression = head & 3
    filt = (head >> 2) & 3
    # the tight interpreter-speed cap applies where per-pixel Python
    # runs: the entropy-coded path and the gradient unfilter; the raw
    # none/horizontal/vertical paths are numpy-speed (cumsum/add per
    # row) and only need the generic bound
    cap = (VP8L_MAX_PIXELS if (compression == 1 or filt == 3)
           else MAX_PIXELS)
    if w * h > cap:
        raise Vp8lCapExceeded("alpha plane exceeds max_pixels cap")
    # preprocessing bits (4-5) are encoder-side level reduction: no
    # decoder action
    if compression == 0:
        if len(alph) - 1 < w * h:
            raise ValueError("raw alpha plane truncated")
        plane = np.frombuffer(alph, dtype=np.uint8,
                              count=w * h, offset=1).reshape(h, w).copy()
    elif compression == 1:
        br = _Bits(bytes(alph[1:]))
        px = _decode_argb(br, w, h)
        plane = ((np.asarray(px, dtype=np.uint32).reshape(h, w) >> 8)
                 & 0xFF).astype(np.uint8)
    else:
        raise ValueError(f"unknown alpha compression {compression}")
    if filt > 3:
        raise ValueError(f"unknown alpha filter {filt}")
    return _unfilter_alpha(plane, filt)


# ---------------------------------------------------------------------
# minimal encoder: literal-only VP8L (no LZ77 / transforms / cache).
# Exists for deterministic corpora — the reverse of the probe protocol:
# pytest pins that libwebp decodes THESE streams to the exact pixels,
# validating the writer against the third-party codec too.
# ---------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.bits: list = []

    def put(self, v: int, n: int) -> None:        # fixed width, LSB-first
        bits = self.bits
        for i in range(n):
            bits.append((v >> i) & 1)

    def code(self, c: int, n: int) -> None:        # prefix code, MSB-first
        bits = self.bits
        for i in range(n - 1, -1, -1):
            bits.append((c >> i) & 1)

    def tobytes(self) -> bytes:
        out = bytearray()
        bits = self.bits
        for i in range(0, len(bits), 8):
            b = 0
            for j, bit in enumerate(bits[i:i + 8]):
                b |= bit << j
            out.append(b)
        return bytes(out)


def _canon_encode(lengths: dict) -> dict:
    """{sym: len} -> {sym: (code, len)} (same canonical order the
    decoder builds)."""
    maxlen = max(lengths.values())
    bl = [0] * (maxlen + 1)
    for l in lengths.values():
        bl[l] += 1
    code = 0
    nxt = [0] * (maxlen + 1)
    for l in range(1, maxlen + 1):
        code = (code + bl[l - 1]) << 1
        nxt[l] = code
    out = {}
    for s in sorted(lengths):
        l = lengths[s]
        out[s] = (nxt[l], l)
        nxt[l] += 1
    return out


def _flat_lengths(symbols: list) -> dict:
    """Complete prefix code over the used symbols: start everyone at
    ceil(log2(n)) bits and greedily shorten until kraft == 1.  Not
    optimal, always valid.  Needs n >= 2 (a single symbol has no
    complete code — callers use the simple-code form instead)."""
    n = len(symbols)
    if n < 2:
        raise ValueError("_flat_lengths needs >= 2 symbols")
    L = max(1, (n - 1).bit_length())
    lens = {s: L for s in symbols}

    def kraft(d):
        m = max(d.values())
        return sum(1 << (m - l) for l in d.values()), 1 << m

    i = 0
    while True:
        num, den = kraft(lens)
        if num == den:
            break
        s = symbols[i % n]
        if lens[s] > 1:
            trial = dict(lens)
            trial[s] -= 1
            tn, td = kraft(trial)
            if tn <= td:
                lens = trial
        i += 1
    return lens


def _emit_code_lengths(w: _BitWriter, symbols: list,
                       alphabet_size: int) -> dict:
    """Write one prefix code over the used ``symbols`` (simple when 1-2
    symbols, else code-length-coded flat lengths with 18-runs for the
    zero gaps); returns the encode table."""
    syms = sorted(symbols)
    if len(syms) == 1:
        w.put(1, 1)  # simple
        w.put(0, 1)  # one symbol
        s = syms[0]
        if s < 2:
            w.put(0, 1)
            w.put(s, 1)
        else:
            w.put(1, 1)
            w.put(s, 8)
        return {s: (0, 0)}
    if len(syms) == 2 and all(s < 256 for s in syms):
        w.put(1, 1)
        w.put(1, 1)  # two symbols
        s0, s1 = syms
        if s0 < 2:
            w.put(0, 1)
            w.put(s0, 1)
        else:
            w.put(1, 1)
            w.put(s0, 8)
        w.put(s1, 8)
        return {s0: (0, 1), s1: (1, 1)}
    sym_lengths = _flat_lengths(syms)
    seq = []  # (cl_symbol, extra, extra_bits)
    pos = 0
    for s in syms:
        gap = s - pos
        while gap > 0:
            run = min(gap, 138)
            if run < 11:
                seq.extend([(0, 0, 0)] * run)
            else:
                seq.append((18, run - 11, 7))
            gap -= run
        seq.append((sym_lengths[s], 0, 0))
        pos = s + 1
    gap = alphabet_size - pos
    while gap > 0:
        run = min(gap, 138)
        if run < 11:
            seq.extend([(0, 0, 0)] * run)
        else:
            seq.append((18, run - 11, 7))
        gap -= run
    used = sorted({t[0] for t in seq})
    cl_lens = (_flat_lengths(used) if len(used) > 1
               else {used[0]: 1, (used[0] + 1) % 19: 1})
    clc = _canon_encode(cl_lens)
    w.put(0, 1)  # not simple
    need = max(_CL_ORDER.index(s) for s in cl_lens) + 1
    ncl = max(4, need)
    w.put(ncl - 4, 4)
    for s in _CL_ORDER[:ncl]:
        w.put(cl_lens.get(s, 0), 3)
    w.put(0, 1)  # no max-symbol shortcut
    for (clsym, extra, ebits) in seq:
        c, l = clc[clsym]
        w.code(c, l)
        if ebits:
            w.put(extra, ebits)
    return _canon_encode(sym_lengths)


def encode_vp8l_lossless(arr: np.ndarray) -> bytes:
    """(H, W, 3|4) uint8 -> a valid lossless WebP file.  Literal-only
    coding (per-channel prefix codes from the image's own histograms;
    no LZ77/transforms/cache) — deterministic and spec-valid, tuned for
    corpus generation rather than ratio.  Round-trips byte-exactly
    through both this module's decoder and libwebp (pytest-pinned)."""
    arr = np.asarray(arr)
    if arr.ndim != 3 or arr.shape[2] not in (3, 4):
        raise ValueError("encode_vp8l_lossless wants (H, W, 3|4) uint8")
    h, w_dim = arr.shape[:2]
    if h > 16384 or w_dim > 16384:
        raise ValueError("dimension exceeds VP8L's 14-bit limit")
    if arr.shape[2] == 3:
        alpha = np.full((h, w_dim), 255, np.uint8)
    else:
        alpha = arr[:, :, 3]
    r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
    w = _BitWriter()
    w.put(0x2F, 8)
    w.put(w_dim - 1, 14)
    w.put(h - 1, 14)
    w.put(int((alpha != 255).any()), 1)
    w.put(0, 3)   # version
    w.put(0, 1)   # no transforms
    w.put(0, 1)   # no color cache
    w.put(0, 1)   # no meta prefix codes
    enc_g = _emit_code_lengths(
        w, sorted({int(v) for v in g.ravel()}), 280)
    enc_r = _emit_code_lengths(
        w, sorted({int(v) for v in r.ravel()}), 256)
    enc_b = _emit_code_lengths(
        w, sorted({int(v) for v in b.ravel()}), 256)
    enc_a = _emit_code_lengths(
        w, sorted({int(v) for v in alpha.ravel()}), 256)
    _emit_code_lengths(w, [0], 40)  # distance tree: unused
    code = w.code
    for gv, rv, bv, av in zip(g.ravel(), r.ravel(), b.ravel(),
                              alpha.ravel()):
        c, l = enc_g[int(gv)]
        if l:
            code(c, l)
        c, l = enc_r[int(rv)]
        if l:
            code(c, l)
        c, l = enc_b[int(bv)]
        if l:
            code(c, l)
        c, l = enc_a[int(av)]
        if l:
            code(c, l)
    payload = w.tobytes()
    chunk = (b"VP8L" + struct.pack("<I", len(payload)) + payload
             + (b"\x00" if len(payload) & 1 else b""))
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
