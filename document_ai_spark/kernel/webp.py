"""Pure-stdlib+numpy WebP codec: real decode for LOSSLESS (VP8L) images,
header-probe for lossy VP8 / extended VP8X containers.

Built from the public "WebP Lossless Bitstream Specification" and the
RIFF container spec — the same from-scratch treatment kernel/jpeg.py and
kernel/gif.py got (capability analog of the reference's PIL/docling
image handling, reference services/ai_service/document_conversion/*).

VP8L scope (the complete lossless bitstream, §2-5 of the spec):
  * LSB-first bit reading; 14-bit width/height header;
  * prefix codes: SIMPLE (1-2 symbols) and NORMAL (code-length codes in
    the fixed 19-symbol order, 16/17/18 repeats, optional max_symbol
    cap), canonical code assignment per RFC 1951, codes read MSB-first;
  * the five per-group codes (green+length+cache / red / blue / alpha /
    distance), LZ77 backward references (length/distance prefix values,
    the 120-entry 2-D distance map, plane codes > 119), color cache
    (0x1e35a7bd multiplicative hash), META prefix codes (entropy image
    subdividing the plane into 2^bits blocks);
  * all four transforms, inverted in reverse stream order: PREDICTOR
    (14 modes, contiguous-buffer top-right semantics), COLOR (signed
    3.5 fixed-point ColorTransformDelta), SUBTRACT-GREEN, and
    COLOR-INDEXING (delta-coded palette + sub-byte index bundling).

Encoder twin (:func:`encode_webp_vp8l`): deterministic, used by the q48
truth corpus — SUBTRACT-GREEN + literal-only prefix codes by default,
with opt-in palette (color-indexing + bundling), color-cache, simple
run-length LZ77 (distance 1), and meta-prefix modes so every decoder
path above is exercised by a round-trip test, not just the one our own
files use.

Lossy VP8 frame decode is a genuinely different codec (boolean
arithmetic coder + DCT) and stays behind the external-codec seam;
:func:`probe_webp` still recovers true dimensions from the VP8 keyframe
header (0x9d012a sync + 14-bit dims) and the VP8X canvas fields, the
same honest metadata treatment MP4 gets in kernel/media.py.

Every function is total-with-ValueError and a pure function of the
bytes — byte-identical at any partition count (the kernel determinism
contract).
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np

# guard against decompression bombs, matching media.py's PNG envelope
_MAX_PIXELS = 1 << 24  # 16 Mpx

# code-length-code symbol order (spec §"Decoding the Code Lengths")
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# 2-D distance map for LZ77 plane codes 1..120 (spec §"Decoding of
# Distances"): (dx, dy) neighborhood offsets ordered by the spec's table;
# plane code 0 in the stream means table index 0 after the 1-offset.
_DIST_MAP = (
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
    (-6, 6), (2, 8), (-2, 8), (8, 3), (-8, 3), (5, 7), (-5, 7), (7, 5),
    (-7, 5), (8, 4), (4, 8), (-4, 8), (8, 5), (-8, 5), (5, 8), (-5, 8),
)


def is_webp(payload: bytes) -> bool:
    return payload[:4] == b"RIFF" and payload[8:12] == b"WEBP"


# ---------------------------------------------------------------------------
# bit I/O — VP8L packs fields LSB-first; prefix CODES are read MSB-first
# (the RFC 1951 convention the spec inherits)


class _Bits:
    __slots__ = ("data", "bytepos", "acc", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.bytepos = 0
        self.acc = 0
        self.n = 0

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.bytepos >= len(self.data):
                raise ValueError("webp: bitstream truncated")
            self.acc |= self.data[self.bytepos] << self.n
            self.bytepos += 1
            self.n += 8
        v = self.acc & ((1 << nbits) - 1)
        self.acc >>= nbits
        self.n -= nbits
        return v


class _BitWriter:
    __slots__ = ("out", "acc", "n")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, val: int, nbits: int) -> None:
        self.acc |= (val & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def write_code(self, code: int, length: int) -> None:
        for j in range(length - 1, -1, -1):
            self.write((code >> j) & 1, 1)

    def bytes(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# prefix codes


def _canonical_table(lengths: List[int]):
    """RFC 1951 canonical codes from a length list -> decode tree:
    ('const', sym) for a single-symbol code (spec: read in 0 bits), else
    ('tab', {(len, code): sym}, max_len)."""
    nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
    if not nz:
        raise ValueError("webp: empty prefix code")
    if len(nz) == 1:
        return ("const", nz[0][1])
    max_len = max(l for l, _ in nz)
    bl_count = [0] * (max_len + 1)
    for l, _ in nz:
        bl_count[l] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for bits in range(1, max_len + 1):
        code = (code + bl_count[bits - 1]) << 1
        next_code[bits] = code
    table = {}
    for sym, l in enumerate(lengths):
        if l:
            table[(l, next_code[l])] = sym
            next_code[l] += 1
    return ("tab", table, max_len)


def _read_sym(br: _Bits, tree) -> int:
    if tree[0] == "const":
        return tree[1]
    table, max_len = tree[1], tree[2]
    code = 0
    for length in range(1, max_len + 1):
        code = (code << 1) | br.read(1)
        s = table.get((length, code))
        if s is not None:
            return s
    raise ValueError("webp: invalid prefix code")


def _read_prefix_code(br: _Bits, alphabet_size: int):
    if br.read(1):  # simple code: 1 or 2 symbols
        num_symbols = br.read(1) + 1
        first = br.read(8) if br.read(1) else br.read(1)
        if num_symbols == 1:
            return ("const", first)
        second = br.read(8)
        return ("tab", {(1, 0): first, (1, 1): second}, 1)
    num_codes = br.read(4) + 4
    if num_codes > 19:
        raise ValueError("webp: bad code-length-code count")
    clc_len = [0] * 19
    for i in range(num_codes):
        clc_len[_CLC_ORDER[i]] = br.read(3)
    clc_tree = _canonical_table(clc_len)
    if br.read(1):  # explicit cap on the number of decoded length symbols
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    i = 0
    while i < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = _read_sym(br, clc_tree)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev_len = s
        elif s == 16:
            i += _fill(lengths, i, prev_len, 3 + br.read(2))
        elif s == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
    return _canonical_table(lengths)


def _fill(lengths: List[int], i: int, val: int, n: int) -> int:
    for k in range(n):
        if i + k < len(lengths):
            lengths[i + k] = val
    return n


def _lz77_value(br: _Bits, code: int) -> int:
    """length/distance prefix value: codes 0-3 literal, then exponential
    ranges with extra bits (spec §"LZ77 Backward Reference")."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _plane_to_dist(code: int, width: int) -> int:
    if code > 119:
        return code - 120 + 1
    dx, dy = _DIST_MAP[code]
    dist = dy * width + dx
    return dist if dist >= 1 else 1


# ---------------------------------------------------------------------------
# entropy-coded image (shared by the main image, transform data and the
# meta-prefix entropy image)


def _read_groups(br: _Bits, n_groups: int, cache_size: int) -> list:
    groups = []
    lit_alpha = 256 + 24 + cache_size
    for _ in range(n_groups):
        g = _read_prefix_code(br, lit_alpha)
        r = _read_prefix_code(br, 256)
        b = _read_prefix_code(br, 256)
        a = _read_prefix_code(br, 256)
        d = _read_prefix_code(br, 40)
        groups.append((g, r, b, a, d))
    return groups


def _decode_image(br: _Bits, width: int, height: int, allow_meta: bool) -> np.ndarray:
    """-> uint32 ARGB array of width*height (flat, row-major)."""
    if width * height > _MAX_PIXELS:
        raise ValueError("webp: image too large")
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise ValueError("webp: bad color cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    meta = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.read(1):
        meta_bits = br.read(3) + 2
        mw = _subsample(width, meta_bits)
        mh = _subsample(height, meta_bits)
        ent = _decode_image(br, mw, mh, allow_meta=False)
        meta = (((ent >> 8) & 0xFFFF)).astype(np.int64)
        n_groups = int(meta.max()) + 1 if meta.size else 1
    groups = _read_groups(br, n_groups, cache_size)

    n = width * height
    out = np.zeros(n, dtype=np.uint32)
    pos = 0
    x = 0
    mw = _subsample(width, meta_bits) if meta is not None else 0
    while pos < n:
        if meta is not None:
            y = pos // width
            gi = int(meta[(y >> meta_bits) * mw + (x >> meta_bits)])
            g_t, r_t, b_t, a_t, d_t = groups[gi]
        else:
            g_t, r_t, b_t, a_t, d_t = groups[0]
        s = _read_sym(br, g_t)
        if s < 256:  # literal ARGB pixel
            red = _read_sym(br, r_t)
            blue = _read_sym(br, b_t)
            alpha = _read_sym(br, a_t)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            if cache_size:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            pos += 1
            x += 1
        elif s < 256 + 24:  # LZ77 backward reference
            length = _lz77_value(br, s - 256)
            dcode = _read_sym(br, d_t)
            dist = _plane_to_dist(_lz77_value(br, dcode) - 1, width)
            if dist > pos or pos + length > n:
                raise ValueError("webp: backward reference out of range")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                if cache_size:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
                pos += 1
            x = pos % width
        else:  # color-cache reference
            idx = s - 256 - 24
            if idx >= cache_size:
                raise ValueError("webp: cache index out of range")
            out[pos] = cache[idx]
            pos += 1
            x += 1
        if x >= width:
            x -= width
    return out


def _subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


# ---------------------------------------------------------------------------
# transforms (inverse application, reverse stream order)


def _inv_subtract_green(img: np.ndarray) -> np.ndarray:
    g = (img >> 8) & 0xFF
    r = ((img >> 16) & 0xFF) + g
    b = (img & 0xFF) + g
    return (img & np.uint32(0xFF00FF00)) | ((r & 0xFF) << 16) | (b & 0xFF)


def _ctd(t: int, c: int) -> int:
    """ColorTransformDelta: signed 3.5 fixed-point (int8 t * int8 c) >> 5."""
    t = t - 256 if t > 127 else t
    c = c - 256 if c > 127 else c
    return (t * c) >> 5


# transform inverses run a per-pixel Python loop (the predictors carry a
# serial left/top dependency); bound them tighter than the global
# envelope so a 16 Mpx predictor-transform file cannot pin an executor
# core for minutes — oversize transform files isolate as ValueError
# (null-feature row), the same contract as a zlib bomb.
_MAX_TRANSFORM_PIXELS = 1 << 22  # 4 Mpx (~2048x2048)

def _avg2(a: int, b: int) -> int:
    """Per-byte (a+b)>>1 on packed 32-bit ARGB ints without unpacking —
    the classic SWAR trick: carry-safe halving of each byte lane."""
    return (a & b) + (((a ^ b) & 0xFEFEFEFE) >> 1)


def _add_packed(res: int, pred: int) -> int:
    """Per-byte (res+pred) & 0xFF on packed ARGB: split alternating byte
    lanes so lane carries cannot cross."""
    lo = ((res & 0x00FF00FF) + (pred & 0x00FF00FF)) & 0x00FF00FF
    hi = ((res & 0xFF00FF00) + (pred & 0xFF00FF00)) & 0xFF00FF00
    return hi | lo


def _clamp_add_sub_full(a: int, b: int, c: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((a >> sh) & 0xFF) + ((b >> sh) & 0xFF) - ((c >> sh) & 0xFF)
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _clamp_add_sub_half(ave: int, c: int) -> int:
    # per channel: clamp(a + trunc((a - c) / 2)) — C TRUNCATION toward
    # zero, not Python floor (libwebp/spec semantics; for negative odd
    # deltas floor is off by one)
    out = 0
    for sh in (24, 16, 8, 0):
        x = (ave >> sh) & 0xFF
        d = x - ((c >> sh) & 0xFF)
        v = x + (d // 2 if d >= 0 else -((-d) // 2))
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _select(t: int, l: int, tl: int) -> int:
    pa = pb = 0
    for sh in (24, 16, 8, 0):
        tc = (t >> sh) & 0xFF
        lc = (l >> sh) & 0xFF
        tlc = (tl >> sh) & 0xFF
        p = lc + tc - tlc
        pa += abs(p - lc)  # distance to LEFT
        pb += abs(p - tc)  # distance to TOP
    return l if pa < pb else t


def _inv_predictor(img: np.ndarray, width: int, height: int, bits: int, modes: np.ndarray) -> np.ndarray:
    """Inverse predictor transform: residual + prediction per channel,
    mod 256. Works on a flat contiguous buffer, so TR of the rightmost
    pixel is the current row's first pixel — the spec's addressing.
    Plain-int SWAR arithmetic (no per-pixel numpy allocation)."""
    if width * height > _MAX_TRANSFORM_PIXELS:
        raise ValueError("webp: predictor-transform image exceeds the pure-Python inverse budget")
    tw = _subsample(width, bits)
    modes_l = [((int(m) >> 8) & 0xFF) for m in modes]
    out = [int(p) for p in img]
    for pos in range(width * height):
        x = pos % width
        y = pos // width
        if x == 0 and y == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = out[pos - 1]               # L
        elif x == 0:
            pred = out[pos - width]           # T
        else:
            mode = modes_l[(y >> bits) * tw + (x >> bits)]
            L = out[pos - 1]
            T = out[pos - width]
            if mode == 1:
                pred = L
            elif mode == 2:
                pred = T
            elif mode == 7:
                pred = _avg2(L, T)
            elif mode == 0:
                pred = 0xFF000000
            else:
                TL = out[pos - width - 1]
                TR = out[pos - width + 1]     # x=w-1 wraps: spec buffer semantics
                if mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = _select(T, L, TL)
                elif mode == 12:
                    pred = _clamp_add_sub_full(L, T, TL)
                elif mode == 13:
                    pred = _clamp_add_sub_half(_avg2(L, T), TL)
                else:
                    raise ValueError(f"webp: predictor mode {mode}")
        out[pos] = _add_packed(out[pos], pred)
    return np.array(out, dtype=np.uint32)


def _inv_color(img: np.ndarray, width: int, height: int, bits: int, data: np.ndarray) -> np.ndarray:
    """Inverse color transform: the transform-image pixel packs the
    ColorTransformElement as alpha=255, red=red_to_blue,
    green=green_to_blue, blue=green_to_red (spec §"Color Transform")."""
    if width * height > _MAX_TRANSFORM_PIXELS:
        raise ValueError("webp: color-transform image exceeds the pure-Python inverse budget")
    tw = _subsample(width, bits)
    data_l = [int(v) for v in data]
    out = [int(p) for p in img]
    for pos in range(width * height):
        x, y = pos % width, pos // width
        cte = data_l[(y >> bits) * tw + (x >> bits)]
        g2r = cte & 0xFF          # blue channel of the cte pixel
        g2b = (cte >> 8) & 0xFF   # green channel
        r2b = (cte >> 16) & 0xFF  # red channel
        px = out[pos]
        green = (px >> 8) & 0xFF
        red = (((px >> 16) & 0xFF) + _ctd(g2r, green)) & 0xFF
        blue = ((px & 0xFF) + _ctd(g2b, green) + _ctd(r2b, red)) & 0xFF
        out[pos] = (px & 0xFF00FF00) | (red << 16) | blue
    return np.array(out, dtype=np.uint32)


def _inv_palette(img: np.ndarray, width: int, palette: np.ndarray) -> np.ndarray:
    """Inverse color-indexing: unbundle sub-byte indices (earliest pixel
    in the LOW bits of the green byte), then palette-lookup."""
    size = len(palette)
    xbits = 3 if size <= 2 else 2 if size <= 4 else 1 if size <= 16 else 0
    if xbits == 0:
        idx = (img >> 8) & 0xFF
    else:
        per = 1 << xbits
        depth = 8 >> xbits
        mask = (1 << depth) - 1
        packed_w = _subsample(width, xbits)
        rows = img.reshape(-1, packed_w)
        g = (rows >> 8) & 0xFF
        cols = []
        for k in range(per):
            cols.append((g >> (k * depth)) & mask)
        idx = np.stack(cols, axis=2).reshape(rows.shape[0], -1)[:, :width].reshape(-1)
    if int(idx.max(initial=0)) >= size:
        raise ValueError("webp: palette index out of range")
    return palette[idx.astype(np.int64)]


def _read_transforms(br: _Bits, width: int, height: int):
    """Read the transform chain; returns (transforms newest-last, width
    of the image actually entropy-coded). Only color-indexing changes
    the coded width (bundling)."""
    transforms = []
    seen = set()
    w = width
    while br.read(1):
        t = br.read(2)
        if t in seen:
            raise ValueError("webp: duplicate transform")
        seen.add(t)
        if t == 0:  # predictor
            bits = br.read(3) + 2
            data = _decode_image(br, _subsample(w, bits), _subsample(height, bits), False)
            transforms.append(("pred", bits, data))
        elif t == 1:  # color transform
            bits = br.read(3) + 2
            data = _decode_image(br, _subsample(w, bits), _subsample(height, bits), False)
            transforms.append(("color", bits, data))
        elif t == 2:
            transforms.append(("subg",))
        else:  # color indexing
            size = br.read(8) + 1
            pal_img = _decode_image(br, size, 1, False)
            # palette entries are DELTA-coded per channel
            pal = np.zeros(size, dtype=np.uint32)
            prev = 0
            for i in range(size):
                d = int(pal_img[i])
                a = (((prev >> 24) + (d >> 24)) & 0xFF)
                r = (((prev >> 16) + (d >> 16)) & 0xFF)
                g = (((prev >> 8) + (d >> 8)) & 0xFF)
                b = ((prev + d) & 0xFF)
                prev = (a << 24) | (r << 16) | (g << 8) | b
                pal[i] = prev
            transforms.append(("pal", pal))
            xbits = 3 if size <= 2 else 2 if size <= 4 else 1 if size <= 16 else 0
            w = _subsample(w, xbits)
    return transforms, w


# ---------------------------------------------------------------------------
# public decode / probe


def decode_vp8l(data: bytes) -> Tuple[int, int, np.ndarray]:
    """VP8L chunk payload -> (width, height, uint8 gray array). Gray is
    BT.601 integer luma of the ARGB pixels (identical weights to
    media.py's PNG path)."""
    if not data or data[0] != 0x2F:
        raise ValueError("webp: bad VP8L signature")
    br = _Bits(data[1:])
    width = br.read(14) + 1
    height = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("webp: unsupported VP8L version")
    if width * height > _MAX_PIXELS:
        raise ValueError("webp: image too large")
    transforms, coded_w = _read_transforms(br, width, height)
    img = _decode_image(br, coded_w, height, allow_meta=True)
    w = coded_w
    for t in reversed(transforms):
        if t[0] == "pal":
            img = _inv_palette(img, width, t[1])
            w = width
        elif t[0] == "subg":
            img = _inv_subtract_green(img)
        elif t[0] == "pred":
            img = _inv_predictor(img, w, height, t[1], t[2])
        elif t[0] == "color":
            img = _inv_color(img, w, height, t[1], t[2])
    if w != width:
        raise ValueError("webp: color-indexing transform missing")
    r = ((img >> 16) & 0xFF).astype(np.int64)
    g = ((img >> 8) & 0xFF).astype(np.int64)
    b = (img & 0xFF).astype(np.int64)
    gray = ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)
    return width, height, gray.reshape(height, width)


def _chunks(payload: bytes):
    pos = 12
    n = len(payload)
    while pos + 8 <= n:
        tag = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        yield tag, body
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned


def decode_webp(payload: bytes) -> Tuple[int, int, np.ndarray]:
    """RIFF WEBP container -> (w, h, gray) for lossless files; raises
    ValueError('webp: lossy ...') for VP8 frames (external-codec seam —
    use probe_webp for their true dimensions)."""
    if not is_webp(payload):
        raise ValueError("webp: bad RIFF header")
    for tag, body in _chunks(payload):
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            raise ValueError("webp: lossy VP8 needs an external codec")
    raise ValueError("webp: no image chunk")


def probe_webp(payload: bytes) -> Tuple[int, int, str]:
    """-> (width, height, variant in {'lossless','lossy','extended'}):
    header-derived true dimensions for all three container layouts."""
    if not is_webp(payload):
        raise ValueError("webp: bad RIFF header")
    for tag, body in _chunks(payload):
        if tag == b"VP8X" and len(body) >= 10:
            w = 1 + int.from_bytes(body[4:7], "little")
            h = 1 + int.from_bytes(body[7:10], "little")
            return w, h, "extended"
        if tag == b"VP8L" and len(body) >= 5 and body[0] == 0x2F:
            bits = int.from_bytes(body[1:5], "little")
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, "lossless"
        if tag == b"VP8 " and len(body) >= 10:
            if body[0] & 1:
                raise ValueError("webp: VP8 interframe has no dimensions")
            if body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("webp: bad VP8 sync code")
            w = int.from_bytes(body[6:8], "little") & 0x3FFF
            h = int.from_bytes(body[8:10], "little") & 0x3FFF
            return w, h, "lossy"
    raise ValueError("webp: no image chunk")


# ---------------------------------------------------------------------------
# encoder twin


def _huff_lengths(counts: dict, max_len: int) -> dict:
    """symbol -> code length, standard Huffman capped at max_len by
    count-halving (rebuild with ceil(count/2) until the tree fits —
    monotone, terminates at all-1 counts where depth <= ceil(log2 n)).
    A single-symbol alphabet gets length 0 (coded in 0 bits, the spec's
    special case)."""
    import heapq

    if not counts:
        raise ValueError("empty alphabet")
    if len(counts) == 1:
        return {next(iter(counts)): 0}
    work = dict(counts)
    while True:
        # heap entries (count, kind, key): kind 0 = leaf symbol, 1 =
        # internal node id — keeps tuple comparison total + deterministic
        heap = [(c, 0, s) for s, c in sorted(work.items())]
        heapq.heapify(heap)
        children: dict = {}
        nid = 0
        while len(heap) > 1:
            c1, k1, s1 = heapq.heappop(heap)
            c2, k2, s2 = heapq.heappop(heap)
            children[nid] = ((k1, s1), (k2, s2))
            heapq.heappush(heap, (c1 + c2, 1, nid))
            nid += 1
        lengths: dict = {}
        stack = [(heap[0][1], heap[0][2], 0)]
        while stack:
            kind, key, depth = stack.pop()
            if kind == 0:
                lengths[key] = max(1, depth)
            else:
                a, b = children[key]
                stack.append((a[0], a[1], depth + 1))
                stack.append((b[0], b[1], depth + 1))
        if max(lengths.values()) <= max_len:
            return lengths
        work = {s: (c + 1) >> 1 for s, c in work.items()}


def _canonical_codes(lengths: dict) -> dict:
    """symbol -> (code, length), canonical per RFC 1951 (sorted by
    (length, symbol))."""
    syms = sorted((l, s) for s, l in lengths.items() if l > 0)
    codes = {}
    code = 0
    prev_len = 0
    for l, s in syms:
        code <<= l - prev_len
        codes[s] = (code, l)
        code += 1
        prev_len = l
    return codes


def _write_prefix_code(bw: _BitWriter, lengths: dict, alphabet_size: int) -> dict:
    """Serialize one prefix code; returns symbol -> (code, length) for
    the payload phase. Uses a SIMPLE code when the alphabet fits (1-2
    symbols, values < 256), else the normal code-length coding (every
    slot emitted literally — small images, clarity over bits)."""
    # single-symbol alphabets arrive as {sym: 0} from _huff_lengths
    nz = sorted(s for s, l in lengths.items()) if list(lengths.values()) == [0] else sorted(
        s for s, l in lengths.items() if l > 0
    )
    if 1 <= len(nz) <= 2 and all(s < 256 for s in nz):
        bw.write(1, 1)                      # simple
        bw.write(len(nz) - 1, 1)            # num_symbols - 1
        first = nz[0]
        if first <= 1:
            bw.write(0, 1)                  # 1-bit first symbol
            bw.write(first, 1)
        else:
            bw.write(1, 1)
            bw.write(first, 8)
        if len(nz) == 2:
            bw.write(nz[1], 8)
        if len(nz) == 1:
            return {nz[0]: (0, 0)}
        return {nz[0]: (0, 1), nz[1]: (1, 1)}
    if len(nz) == 1:
        # single symbol >= 256: normal coding, one length-1 slot — the
        # decoder's single-symbol special case reads it in 0 bits
        lengths = {nz[0]: 1}
    bw.write(0, 1)  # normal
    slot_lens = [lengths.get(s, 0) for s in range(alphabet_size)]
    clc_counts: dict = {}
    for l in slot_lens:
        clc_counts[l] = clc_counts.get(l, 0) + 1
    clc_lengths = _huff_lengths(clc_counts, 7)
    if len(clc_lengths) == 1:
        # a single code-length symbol still needs a nonzero 3-bit length
        clc_lengths = {next(iter(clc_lengths)): 1}
    bw.write(19 - 4, 4)  # emit all 19 code-length-code slots
    for sym in _CLC_ORDER:
        bw.write(clc_lengths.get(sym, 0), 3)
    clc_codes = _canonical_codes(clc_lengths)
    bw.write(0, 1)  # no max_symbol cap: every slot is emitted
    only = len(clc_codes) == 1
    for l in slot_lens:
        if not only:
            c, n = clc_codes[l]
            bw.write_code(c, n)
        # single-symbol code-length code: decoder reads it in 0 bits
    payload = _canonical_codes({s: l for s, l in lengths.items() if l > 0})
    if len(payload) == 1:
        sym = next(iter(payload))
        payload[sym] = (0, 0)  # decoder's single-symbol case: 0 bits
    return payload


def encode_webp_vp8l(
    gray: np.ndarray,
    palette: bool = False,
    cache_bits: int = 0,
    rle: bool = False,
    meta_bits: int = 0,
) -> bytes:
    """Deterministic lossless WebP from a 2-D uint8 gray array. Default:
    SUBTRACT-GREEN + literal-only prefix codes (r/b/a collapse to
    single-symbol codes). Options exist so round-trip tests exercise
    every decoder path: ``palette`` (color-indexing + bundling, requires
    <= 16 distinct values), ``cache_bits`` (color cache), ``rle``
    (LZ77 distance-1 runs through the distance map), ``meta_bits``
    (a one-group meta-prefix entropy image)."""
    if gray.ndim != 2 or gray.dtype != np.uint8:
        raise ValueError("encode_webp_vp8l: need 2-D uint8")
    h, w = gray.shape
    if not (0 < w <= 16384 and 0 < h <= 16384):
        raise ValueError("encode_webp_vp8l: dims out of range")
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version

    flat = gray.reshape(-1)
    if palette:
        values = sorted(int(v) for v in np.unique(flat))
        if len(values) > 16:
            raise ValueError("encode_webp_vp8l: palette needs <= 16 values")
        bw.write(1, 1)  # transform present
        bw.write(3, 2)  # color indexing
        size = len(values)
        bw.write(size - 1, 8)
        # palette image: delta-coded gray entries (a=255, r=g=b=value)
        deltas = []
        prev = 0
        for v in values:
            d_r = (v - ((prev >> 16) & 0xFF)) & 0xFF
            d_g = (v - ((prev >> 8) & 0xFF)) & 0xFF
            d_b = (v - (prev & 0xFF)) & 0xFF
            d_a = (0xFF - ((prev >> 24) & 0xFF)) & 0xFF
            deltas.append((d_a << 24) | (d_r << 16) | (d_g << 8) | d_b)
            prev = 0xFF000000 | (v << 16) | (v << 8) | v
        _encode_entropy_image(bw, np.array(deltas, dtype=np.uint32), size, 1, sub=True)
        # bundle indices into the green channel of a reduced-width image
        lut = {v: i for i, v in enumerate(values)}
        xbits = 3 if size <= 2 else 2 if size <= 4 else 1
        per = 1 << xbits
        depth = 8 >> xbits
        packed_w = _subsample(w, xbits)
        idx = np.vectorize(lut.get)(gray).astype(np.uint32)
        pix = np.zeros((h, packed_w), dtype=np.uint32)
        for k in range(per):
            col = idx[:, k::per]
            pix[:, : col.shape[1]] |= col << (k * depth)
        img = (np.uint32(0xFF000000) | (pix << 8)).reshape(-1)
        bw.write(0, 1)  # end of transforms
        _encode_entropy_image(bw, img, packed_w, h, cache_bits=cache_bits, rle=rle, meta_bits=meta_bits)
    else:
        bw.write(1, 1)  # transform present
        bw.write(2, 2)  # subtract green
        bw.write(0, 1)  # end of transforms
        img = (np.uint32(0xFF000000) | (flat.astype(np.uint32) << 8)).reshape(-1)
        _encode_entropy_image(bw, img, w, h, cache_bits=cache_bits, rle=rle, meta_bits=meta_bits)

    data = bw.bytes()
    riff = b"VP8L" + len(data).to_bytes(4, "little") + data
    if len(data) & 1:
        riff += b"\x00"
    return b"RIFF" + (4 + len(riff)).to_bytes(4, "little") + b"WEBP" + riff


def _encode_entropy_image(
    bw: _BitWriter,
    img: np.ndarray,
    width: int,
    height: int,
    cache_bits: int = 0,
    rle: bool = False,
    meta_bits: int = 0,
    sub: bool = False,
) -> None:
    """Emit one entropy-coded ARGB image (optionally with color cache,
    distance-1 RLE backrefs, and a trivial one-group meta image).
    ``sub=True`` marks an <entropy-coded image> (transform data / meta
    entropy image): per the spec grammar it carries NO meta-prefix bit —
    only the level-0 <spatially-coded image> does."""
    n = width * height
    cache_size = (1 << cache_bits) if cache_bits else 0

    # ---- plan the symbol stream first (so histograms are exact)
    ops = []  # ('lit', px) | ('cache', idx) | ('run', length)
    cache = [0] * cache_size
    pos = 0
    pixels = [int(p) for p in img]
    while pos < n:
        px = pixels[pos]
        if rle and pos > 0 and px == pixels[pos - 1]:
            run = 1
            while pos + run < n and pixels[pos + run] == px and run < 4096:
                run += 1
            if run >= 3:
                ops.append(("run", run))
                if cache_size:
                    i = (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)
                    cache[i] = px
                pos += run
                continue
        if cache_size:
            i = (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[i] == px:
                ops.append(("cache", i))
                pos += 1
                continue
            cache[i] = px
        ops.append(("lit", px))
        pos += 1

    g_counts: dict = {}
    r_counts: dict = {}
    b_counts: dict = {}
    a_counts: dict = {}
    d_counts: dict = {}
    for op in ops:
        if op[0] == "lit":
            px = op[1]
            g_counts[(px >> 8) & 0xFF] = g_counts.get((px >> 8) & 0xFF, 0) + 1
            r_counts[(px >> 16) & 0xFF] = r_counts.get((px >> 16) & 0xFF, 0) + 1
            b_counts[px & 0xFF] = b_counts.get(px & 0xFF, 0) + 1
            a_counts[(px >> 24) & 0xFF] = a_counts.get((px >> 24) & 0xFF, 0) + 1
        elif op[0] == "cache":
            g_counts[256 + 24 + op[1]] = g_counts.get(256 + 24 + op[1], 0) + 1
        else:
            lcode, _, _ = _lz77_code(op[1])
            g_counts[256 + lcode] = g_counts.get(256 + lcode, 0) + 1
            # distance prefix VALUE 2 -> plane code index 1 -> (1,0) ->
            # dist 1; value 2 is prefix symbol 1
            d_counts[1] = d_counts.get(1, 0) + 1
    for c in (r_counts, b_counts, a_counts, d_counts):
        if not c:
            c[0] = 1  # decoder always reads 5 codes; give empties one symbol

    # ---- header bits
    bw.write(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.write(cache_bits, 4)
    if not sub:
        if meta_bits:
            bw.write(1, 1)
            bw.write(meta_bits - 2, 3)
            mw = _subsample(width, meta_bits)
            mh = _subsample(height, meta_bits)
            zeros = np.full(mw * mh, 0xFF000000, dtype=np.uint32)  # meta index 0
            _encode_entropy_image(bw, zeros, mw, mh, sub=True)
        else:
            bw.write(0, 1)

    g_codes = _write_prefix_code(bw, _huff_lengths(g_counts, 15), 256 + 24 + cache_size)
    r_codes = _write_prefix_code(bw, _huff_lengths(r_counts, 15), 256)
    b_codes = _write_prefix_code(bw, _huff_lengths(b_counts, 15), 256)
    a_codes = _write_prefix_code(bw, _huff_lengths(a_counts, 15), 256)
    d_codes = _write_prefix_code(bw, _huff_lengths(d_counts, 15), 40)

    # ---- payload
    for op in ops:
        if op[0] == "lit":
            px = op[1]
            c, l = g_codes[(px >> 8) & 0xFF]
            bw.write_code(c, l)
            c, l = r_codes[(px >> 16) & 0xFF]
            bw.write_code(c, l)
            c, l = b_codes[px & 0xFF]
            bw.write_code(c, l)
            c, l = a_codes[(px >> 24) & 0xFF]
            bw.write_code(c, l)
        elif op[0] == "cache":
            c, l = g_codes[256 + 24 + op[1]]
            bw.write_code(c, l)
        else:
            lcode, extra_bits, extra_val = _lz77_code(op[1])
            c, l = g_codes[256 + lcode]
            bw.write_code(c, l)
            if extra_bits:
                bw.write(extra_val, extra_bits)
            c, l = d_codes[1]  # prefix value 2 -> plane code (1,0) -> dist 1
            bw.write_code(c, l)


def encode_webp_vp8_shell(width: int, height: int) -> bytes:
    """A lossy-WebP SHELL: valid RIFF container + VP8 keyframe header
    (frame tag, 0x9d012a sync, 14-bit dims) over an empty coefficient
    body — probe_webp recovers the true dimensions, decode correctly
    refuses (lossy frames live behind the external-codec seam). The
    VP8 twin of media.encode_mp4_shell."""
    if not (0 < width <= 16383 and 0 < height <= 16383):
        raise ValueError("encode_webp_vp8_shell: dims out of range")
    # frame tag: keyframe (bit0=0), version 0, show_frame, partition size 0
    tag = (0 | (0 << 1) | (1 << 4) | (0 << 5)).to_bytes(3, "little")
    body = tag + b"\x9d\x01\x2a" + width.to_bytes(2, "little") + height.to_bytes(2, "little")
    chunk = b"VP8 " + len(body).to_bytes(4, "little") + body
    if len(body) & 1:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def _lz77_code(value: int) -> Tuple[int, int, int]:
    """Inverse of _lz77_value: value -> (prefix code, n extra bits,
    extra bits value)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    hi = v.bit_length() - 1
    extra = hi - 1
    code = 2 * hi + ((v >> extra) & 1)
    rem = v & ((1 << extra) - 1)
    return code, extra, rem
