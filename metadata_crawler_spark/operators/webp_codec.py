"""Pure-stdlib WebP (VP8L lossless) codec — no PIL, no jars.

Closes the WebP half of the X5 compressed-codec stub (multimodal decode
tier 1; reference analog ``open_dataset`` engine dispatch,
/root/reference/src/metadata_crawler/api/storage_backend.py:102-149).
WebP is the second most common modern web image format; its LOSSLESS
coding mode (VP8L) is a self-contained spec — canonical prefix codes,
LZ77 over pixels, a color cache, and four reversible transforms — all
implementable with stdlib + numpy, and being lossless it round-trips
bit-exactly, so the decoder is testable by construction against the
fixture encoder. The LOSSY mode (VP8 intra-frame video coding: boolean
arithmetic coder + loop filter) stays the honest import-guard stub.

- ``decode_webp``: RIFF walk to the VP8L chunk, then the full VP8L
  decode path: LSB-first bitreader, simple + normal (code-length-coded,
  incl. 16/17/18 repeats and the max_symbol trim) prefix codes, meta
  prefix (entropy image) dispatch, color cache, LZ77 backward
  references (both the plain ``dist_code > 120`` form and the 120-entry
  close-neighbor map), and the four inverse transforms — PREDICTOR (all
  14 modes), COLOR (per-block cross-channel deltas), SUBTRACT-GREEN,
  COLOR-INDEXING (delta-coded palette + sub-byte index packing for
  <=16-color palettes). Returns (h, w, 4) RGBA uint8 (or (h, w, 3) when
  the header says alpha is unused).
- ``encode_webp``: fixture-side writer with selectable features so each
  decoder path is exercised by construction: literal-only baseline,
  subtract-green, predictor(left) with a real entropy-coded mode
  sub-image, color cache, distance-1 LZ77 runs, and palette mode with
  packing. Real histogram-driven canonical Huffman codes (length-capped,
  Kraft-repaired), not degenerate fixed tables, so the decoder's
  canonical-code reconstruction is tested against a second independent
  implementation of the same spec.

Honest limits (all raise or are documented, never silently wrong):
lossy VP8 raises ValueError (PIL tier above handles it where
installed); animated WebP (VP8X/ANMF) decodes only via the header
probe (media_probe.py); the close-neighbor distance map and the
Select/ClampAddSubtract predictor arithmetic follow the public spec
text but are exercised only by crafted streams here, not by a second
encoder implementation.
"""

from __future__ import annotations

import struct

import numpy as np

# Order in which code-length-code lengths are stored (spec section 6.2.2;
# same role as DEFLATE's, different permutation).
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# Close-neighbor distance map (spec section 5.2): dist_code 1..120 name a
# (dx, dy) backward pixel offset; dist = dx + dy * width (clamped to
# >= 1). The window is exactly the spec's plane-code grid — the current
# row's 8 left neighbors plus a 16-wide (dx in [-7, 8]) x 7-row block
# above — ordered by (squared distance, |dx|, positive-dx-first). That
# rule reproduces the spec's published 120-entry table EXACTLY (pinned
# entry-by-entry in tests/test_webp_codec.py against the independently
# checksummed plane-code lookup grid, a permutation of 0..119).


def _dist_map() -> tuple:
    cands = [(dx, 0) for dx in range(1, 9)] + [
        (dx, dy) for dy in range(1, 8) for dx in range(-7, 9)
    ]
    cands.sort(key=lambda p: (p[0] ** 2 + p[1] ** 2, abs(p[0]), p[0] < 0))
    return tuple(cands)


_DIST_MAP = _dist_map()
assert len(_DIST_MAP) == 120 and _DIST_MAP[0] == (0, 1)


# --------------------------------------------------------------------------
# bit I/O (VP8L is LSB-first; prefix-code bits are read MSB-of-code first,
# the DEFLATE convention)


class _BitReader:
    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("truncated VP8L stream")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, length: int) -> None:
        """Prefix-code bits go out MSB-first."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def bytes(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


# --------------------------------------------------------------------------
# canonical prefix codes


class _PrefixCode:
    """Decoder-side canonical code: (length, code) -> symbol tree walk."""

    __slots__ = ("table", "single", "max_len")

    def __init__(self, lengths: list[int]):
        used = [(s, l) for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise ValueError("VP8L: empty prefix code")
        if len(used) == 1:
            self.single = used[0][0]
            self.table = {}
            self.max_len = 0
            return
        self.single = None
        # Kraft completeness check — an over/under-subscribed code means a
        # corrupt stream and would otherwise decode garbage silently.
        kraft = sum(1 / (1 << l) for _s, l in used)
        if abs(kraft - 1.0) > 1e-12:
            raise ValueError("VP8L: incomplete prefix code")
        max_len = max(l for _s, l in used)
        bl_count = [0] * (max_len + 1)
        for _s, l in used:
            bl_count[l] += 1
        next_code = [0] * (max_len + 2)
        code = 0
        for l in range(1, max_len + 1):
            code = (code + bl_count[l - 1]) << 1
            next_code[l] = code
        table: dict[tuple[int, int], int] = {}
        for s, l in used:  # enumerate() kept symbols ascending
            table[(l, next_code[l])] = s
            next_code[l] += 1
        self.table = table
        self.max_len = max_len

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for length in range(1, self.max_len + 1):
            code = (code << 1) | br.read(1)
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("VP8L: bad prefix code word")


def _huffman_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Code lengths from frequencies; length-capped with Kraft repair
    (the standard clamp-then-demote fix). Deterministic: ties broken on
    symbol value."""
    items = sorted(freqs.items())
    if not items:
        return {}
    if len(items) == 1:
        return {items[0][0]: 1}
    import heapq

    heap = [(f, s, ("leaf", s)) for s, f in items]
    heapq.heapify(heap)
    tiebreak = max(s for s, _ in items) + 1
    while len(heap) > 1:
        f1, _t1, n1 = heapq.heappop(heap)
        f2, _t2, n2 = heapq.heappop(heap)
        heapq.heappush(heap, (f1 + f2, tiebreak, ("node", n1, n2)))
        tiebreak += 1
    lengths: dict[int, int] = {}

    def walk(node, depth):
        if node[0] == "leaf":
            lengths[node[1]] = max(depth, 1)
        else:
            walk(node[1], depth + 1)
            walk(node[2], depth + 1)

    walk(heap[0][2], 0)
    # cap + repair Kraft
    for s in lengths:
        if lengths[s] > max_len:
            lengths[s] = max_len
    total = sum(1 << (max_len - l) for l in lengths.values())
    limit = 1 << max_len
    if total > limit:
        # demote shortest codes until the Kraft sum fits
        for s in sorted(lengths, key=lambda s: (lengths[s], s)):
            while total > limit and lengths[s] < max_len:
                total -= 1 << (max_len - lengths[s] - 1)
                lengths[s] += 1
            if total <= limit:
                break
    if total < limit:
        # promote the longest-coded symbols to absorb the slack
        for s in sorted(lengths, key=lambda s: (-lengths[s], s)):
            while total + (1 << (max_len - lengths[s])) <= limit and lengths[s] > 1:
                total += 1 << (max_len - lengths[s])
                lengths[s] -= 1
            if total == limit:
                break
    if total != limit:
        raise AssertionError("huffman repair failed")
    return lengths


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical assignment (ascending symbol
    within each length)."""
    if len(lengths) == 1:
        (s,) = lengths
        return {s: (0, 0)}  # single-symbol: zero bits on the wire
    max_len = max(lengths.values())
    bl_count = [0] * (max_len + 1)
    for l in lengths.values():
        bl_count[l] += 1
    next_code = [0] * (max_len + 1)
    code = 0
    for l in range(1, max_len + 1):
        code = (code + bl_count[l - 1]) << 1
        next_code[l] = code
    out: dict[int, tuple[int, int]] = {}
    for s in sorted(lengths):
        l = lengths[s]
        out[s] = (next_code[l], l)
        next_code[l] += 1
    return out


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        if br.read(1):
            first = br.read(8)
        else:
            first = br.read(1)
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            if first >= alphabet_size:
                raise ValueError("VP8L: simple-code symbol out of range")
            lengths[first] = 1
            pc = _PrefixCode.__new__(_PrefixCode)
            pc.single = first
            pc.table = {}
            pc.max_len = 0
            return pc
        second = br.read(8)
        if first >= alphabet_size or second >= alphabet_size:
            raise ValueError("VP8L: simple-code symbol out of range")
        lengths[first] = 1
        lengths[second] = 1
        return _PrefixCode(lengths)
    # normal: code-length-coded lengths
    num_clc = 4 + br.read(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _PrefixCode(clc_lengths)
    if br.read(1):  # explicit max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        s = clc.decode(br)
        if s < 16:
            lengths[symbol] = s
            symbol += 1
            if s:
                prev_len = s
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if symbol >= alphabet_size:
                    raise ValueError("VP8L: code-length repeat overflow")
                lengths[symbol] = prev_len
                symbol += 1
        elif s == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
        if symbol > alphabet_size:
            raise ValueError("VP8L: code-length repeat overflow")
    return _PrefixCode(lengths)


# --------------------------------------------------------------------------
# LZ77 value prefix coding (lengths and distance codes share the scheme)


def _lz77_read(sym: int, br: _BitReader) -> int:
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


def _lz77_split(value: int) -> tuple[int, int, int]:
    """value -> (symbol, extra_bits_value, n_extra_bits); inverse of
    _lz77_read."""
    if value <= 4:
        return value - 1, 0, 0
    u = value - 1
    nbits = u.bit_length() - 2
    sym = 2 * nbits + 2 + ((u >> nbits) & 1)
    return sym, u & ((1 << nbits) - 1), nbits


# --------------------------------------------------------------------------
# decoder


def _cache_key(pix: tuple[int, int, int, int], bits: int) -> int:
    argb = (pix[0] << 24) | (pix[1] << 16) | (pix[2] << 8) | pix[3]
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


def _decode_image_stream(
    br: _BitReader, w: int, h: int, level0: bool
) -> tuple[np.ndarray, list]:
    """Decode one VP8L entropy-coded image to an (h*w, 4) uint8 ARGB
    array. Returns (pixels, transforms) — transforms non-empty only at
    level 0."""
    transforms = []
    if level0:
        seen_types = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen_types:
                raise ValueError("VP8L: duplicate transform")
            seen_types.add(ttype)
            if ttype == 3:  # color indexing: changes the coded width
                n_colors = br.read(8) + 1
                pal_px, _ = _decode_image_stream(br, n_colors, 1, False)
                palette = np.cumsum(pal_px.astype(np.int64), axis=0).astype(
                    np.uint8
                )  # delta-coded entries
                if n_colors <= 2:
                    pack_bits = 3
                elif n_colors <= 4:
                    pack_bits = 2
                elif n_colors <= 16:
                    pack_bits = 1
                else:
                    pack_bits = 0
                transforms.append(("palette", palette, pack_bits, w))
                if pack_bits:
                    w = (w + (1 << pack_bits) - 1) >> pack_bits
            elif ttype in (0, 1):  # predictor / color transform sub-image
                size_bits = br.read(3) + 2
                bw = (w + (1 << size_bits) - 1) >> size_bits
                bh = (h + (1 << size_bits) - 1) >> size_bits
                sub, _ = _decode_image_stream(br, bw, bh, False)
                transforms.append(
                    ("predictor" if ttype == 0 else "color", sub, size_bits)
                )
            else:  # 2: subtract green, no payload
                transforms.append(("subtract_green",))

    cache_bits = 0
    cache = None
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("VP8L: bad color-cache size")
        cache = [(0, 0, 0, 0)] * (1 << cache_bits)

    entropy_img = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.read(1):  # meta prefix codes
        meta_bits = br.read(3) + 2
        ew = (w + (1 << meta_bits) - 1) >> meta_bits
        eh = (h + (1 << meta_bits) - 1) >> meta_bits
        epx, _ = _decode_image_stream(br, ew, eh, False)
        entropy_img = (
            (epx[:, 1].astype(np.int32) << 8) | epx[:, 2].astype(np.int32)
        ).reshape(eh, ew)
        n_groups = int(entropy_img.max()) + 1

    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _read_prefix_code(br, green_size),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 40),
            )
        )

    n = w * h
    px = np.zeros((n, 4), dtype=np.uint8)  # ARGB
    pos = 0
    g_code = r_code = b_code = a_code = d_code = None
    cur_group = -1
    while pos < n:
        if entropy_img is not None:
            x, y = pos % w, pos // w
            gidx = int(entropy_img[y >> meta_bits, x >> meta_bits])
        else:
            gidx = 0
        if gidx != cur_group:
            g_code, r_code, b_code, a_code, d_code = groups[gidx]
            cur_group = gidx
        s = g_code.decode(br)
        if s < 256:  # literal
            g = s
            r = r_code.decode(br)
            b = b_code.decode(br)
            a = a_code.decode(br)
            px[pos] = (a, r, g, b)
            if cache is not None:
                t = (a, r, g, b)
                cache[_cache_key(t, cache_bits)] = t
            pos += 1
        elif s < 280:  # LZ77 backward reference
            length = _lz77_read(s - 256, br)
            dist_code = _lz77_read(d_code.decode(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dx + dy * w
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("VP8L: backward reference out of range")
            if cache is None and dist >= length:
                px[pos : pos + length] = px[pos - dist : pos - dist + length]
                pos += length
            else:  # overlapping copy (or cache bookkeeping) must be serial
                for _ in range(length):
                    px[pos] = px[pos - dist]
                    if cache is not None:
                        t = tuple(int(v) for v in px[pos])
                        cache[_cache_key(t, cache_bits)] = t
                    pos += 1
        else:  # color-cache hit
            if cache is None:
                raise ValueError("VP8L: cache symbol without color cache")
            idx = s - 280
            px[pos] = cache[idx]
            pos += 1
    return px, transforms


def _avg2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return ((a.astype(np.int32) + b.astype(np.int32)) // 2).astype(np.int32)


_BLACK = np.array([255, 0, 0, 0], dtype=np.int32)  # ARGB opaque black


def _predict(img: np.ndarray, x: int, y: int, w: int, mode: int) -> np.ndarray:
    """Spec predictor P(mode) at (x, y) over already-reconstructed
    neighbors (ARGB int32). Edge rules: (0,0)->black, first row->L,
    first column->T, regardless of mode; TR at the right edge wraps to
    the leftmost pixel of the row above."""
    if x == 0 and y == 0:
        return _BLACK
    if y == 0:
        return img[0, x - 1]
    if x == 0:
        return img[y - 1, 0]
    L = img[y, x - 1]
    T = img[y - 1, x]
    TL = img[y - 1, x - 1]
    TR = img[y - 1, x + 1] if x + 1 < w else img[y - 1, 0]
    if mode == 0:
        return _BLACK
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:  # Select: Manhattan-closer of L/T to the gradient
        p = L + T - TL
        pl = int(np.abs(p - L).sum())
        pt = int(np.abs(p - T).sum())
        return L if pl < pt else T
    if mode == 12:  # ClampAddSubtractFull
        return np.clip(L + T - TL, 0, 255)
    if mode == 13:  # ClampAddSubtractHalf
        ave = _avg2(L, T)
        return np.clip(ave + (ave - TL) // 2, 0, 255)
    raise ValueError(f"VP8L: bad predictor mode {mode}")


def _apply_predictor_inverse(
    px: np.ndarray, w: int, h: int, sub: np.ndarray, size_bits: int
) -> np.ndarray:
    """Inverse predictor transform: pixel += prediction (mod 256/channel).
    Per-pixel Python — fixture-scale images only."""
    img = px.reshape(h, w, 4).astype(np.int32)
    bw = (w + (1 << size_bits) - 1) >> size_bits
    modes = sub[:, 2].reshape(-1, bw)  # green channel of the sub-image
    for y in range(h):
        for x in range(w):
            mode = int(modes[y >> size_bits, x >> size_bits])
            pred = _predict(img, x, y, w, mode)
            img[y, x] = (img[y, x] + pred) & 0xFF
    return img.reshape(-1, 4).astype(np.uint8)


def _ct_delta(t: np.ndarray, c: np.ndarray) -> np.ndarray:
    """ColorTransformDelta: (int8 t * int8 c) >> 5, elementwise."""
    return (t.astype(np.int8).astype(np.int32) * c.astype(np.int8).astype(np.int32)) >> 5


def _apply_color_inverse(
    px: np.ndarray, w: int, h: int, sub: np.ndarray, size_bits: int
) -> np.ndarray:
    img = px.reshape(h, w, 4).astype(np.int32)
    bw = (w + (1 << size_bits) - 1) >> size_bits
    bh = (h + (1 << size_bits) - 1) >> size_bits
    blocks = sub.reshape(bh, bw, 4)
    ys = np.arange(h) >> size_bits
    xs = np.arange(w) >> size_bits
    bx = blocks[ys][:, xs]  # (h, w, 4) ARGB block params
    g2r = bx[:, :, 3]  # blue channel carries green_to_red
    g2b = bx[:, :, 2]  # green channel carries green_to_blue
    r2b = bx[:, :, 1]  # red channel carries red_to_blue
    green = img[:, :, 2]
    red = (img[:, :, 1] + _ct_delta(g2r, green)) & 0xFF
    blue = (img[:, :, 3] + _ct_delta(g2b, green) + _ct_delta(r2b, red)) & 0xFF
    img[:, :, 1] = red
    img[:, :, 3] = blue
    return img.reshape(-1, 4).astype(np.uint8)


def decode_vp8l(payload: bytes) -> np.ndarray:
    if not payload or payload[0] != 0x2F:
        raise ValueError("not a VP8L stream")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    alpha_used = br.read(1)
    if br.read(3) != 0:
        raise ValueError("VP8L: unknown version")
    px, transforms = _decode_image_stream(br, w, h, True)
    # inverse transforms, reverse read order
    cur_w = w
    for t in transforms:
        if t[0] == "palette" and t[2]:
            cur_w = (t[3] + (1 << t[2]) - 1) >> t[2]
    for t in reversed(transforms):
        if t[0] == "subtract_green":
            g = px[:, 2].astype(np.int32)
            px[:, 1] = ((px[:, 1] + g) & 0xFF).astype(np.uint8)
            px[:, 3] = ((px[:, 3] + g) & 0xFF).astype(np.uint8)
        elif t[0] == "predictor":
            px = _apply_predictor_inverse(px, cur_w, h, t[1], t[2])
        elif t[0] == "color":
            px = _apply_color_inverse(px, cur_w, h, t[1], t[2])
        elif t[0] == "palette":
            _tag, palette, pack_bits, orig_w = t
            idx = px[:, 2].astype(np.int64).reshape(h, -1)  # green channel
            if pack_bits:
                per = 1 << pack_bits  # indices per packed byte
                ibits = 8 >> pack_bits
                shifts = np.arange(per) * ibits
                unpacked = (idx[:, :, None] >> shifts[None, None, :]) & (
                    (1 << ibits) - 1
                )
                idx = unpacked.reshape(h, -1)[:, :orig_w]
            flat = idx.reshape(-1)
            out = np.zeros((flat.shape[0], 4), dtype=np.uint8)
            ok = flat < palette.shape[0]
            out[ok] = palette[flat[ok]]
            px = out
            cur_w = orig_w
    img = px.reshape(h, w, 4)
    rgba = img[:, :, [1, 2, 3, 0]]  # ARGB -> RGBA
    return rgba if alpha_used else rgba[:, :, :3]


def decode_webp(blob: bytes) -> np.ndarray:
    """RIFF walk to the image chunk; VP8L decodes for real, VP8 (lossy)
    raises — it's a video intra-frame codec, the honest PIL-tier stub."""
    b = bytes(blob)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise ValueError("not a WebP file")
    i = 12
    while i + 8 <= len(b):
        fourcc = b[i : i + 4]
        (size,) = struct.unpack("<I", b[i + 4 : i + 8])
        payload = b[i + 8 : i + 8 + size]
        if fourcc == b"VP8L":
            return decode_vp8l(payload)
        if fourcc == b"VP8 ":
            raise ValueError(
                "lossy VP8 WebP needs the PIL tier (boolean arithmetic "
                "coder); only lossless VP8L decodes jar-free"
            )
        i += 8 + size + (size & 1)
    raise ValueError("WebP: no VP8/VP8L chunk")


# --------------------------------------------------------------------------
# fixture-side encoder


class _SymbolWriter:
    """Buffered symbol stream for one prefix-code alphabet: collect, build
    the Huffman code from the real histogram, then replay."""

    def __init__(self):
        self.symbols: list[tuple[int, int, int]] = []  # (sym, extra, nbits)
        self.freqs: dict[int, int] = {}

    def add(self, sym: int, extra: int = 0, nbits: int = 0) -> None:
        self.symbols.append((sym, extra, nbits))
        self.freqs[sym] = self.freqs.get(sym, 0) + 1


def _write_prefix_code(
    bw: _BitWriter, freqs: dict[int, int], alphabet_size: int
) -> dict[int, tuple[int, int]]:
    """Emit a prefix-code definition; return symbol -> (code, length)."""
    if not freqs:
        freqs = {0: 1}  # unused code: emit a trivial 1-symbol simple code
    syms = sorted(freqs)
    if len(syms) <= 2 and max(syms) < 256:
        # simple code
        bw.write(1, 1)
        bw.write(len(syms) - 1, 1)
        first = syms[0]
        if first <= 1:
            bw.write(0, 1)
            bw.write(first, 1)
        else:
            bw.write(1, 1)
            bw.write(first, 8)
        if len(syms) == 1:
            return {first: (0, 0)}
        bw.write(syms[1], 8)
        return {first: (0, 1), syms[1]: (1, 1)}
    lengths = _huffman_lengths(freqs)
    codes = _canonical_codes(lengths)
    # code-length code over the per-symbol lengths (literal only, no RLE)
    full = [lengths.get(s, 0) for s in range(alphabet_size)]
    clc_freqs: dict[int, int] = {}
    for l in full:
        clc_freqs[l] = clc_freqs.get(l, 0) + 1
    if len(clc_freqs) == 1:
        # degenerate: add an unused second symbol so the code is complete
        spare = 0 if 0 not in clc_freqs else 15
        clc_freqs[spare] = 0
        clc_lengths = {s: 1 for s in clc_freqs}
    else:
        clc_lengths = _huffman_lengths(clc_freqs, max_len=7)
    clc_codes = _canonical_codes(clc_lengths)
    bw.write(0, 1)  # not simple
    bw.write(19 - 4, 4)  # all 19 code-length-code lengths follow
    for s in _CLC_ORDER:
        bw.write(clc_lengths.get(s, 0), 3)
    bw.write(0, 1)  # no explicit max_symbol
    for l in full:
        c, cl = clc_codes[l]
        bw.write_code(c, cl)
    return codes


def _encode_literal_image(
    bw: _BitWriter,
    px: np.ndarray,  # (n, 4) ARGB uint8
    w: int,
    *,
    cache_bits: int = 0,
    lz77_runs: bool = False,
) -> None:
    """Entropy-coded image body: optional color cache + distance-1 LZ77
    runs, one prefix-code group, histogram-built codes."""
    bw.write(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.write(cache_bits, 4)
        cache = [None] * (1 << cache_bits)
    bw.write(0, 1)  # no meta prefix codes (callers pass level0 streams;
    # sub-images skip this bit — see _encode_subimage)
    g_w, r_w, b_w, a_w, d_w = (_SymbolWriter() for _ in range(5))
    n = px.shape[0]
    i = 0
    while i < n:
        pix = tuple(int(v) for v in px[i])
        if lz77_runs and i > 0 and pix == tuple(int(v) for v in px[i - 1]):
            run = 1
            while (
                i + run < n
                and run < 4096
                and tuple(int(v) for v in px[i + run]) == pix
            ):
                run += 1
            sym, extra, nbits = _lz77_split(run)
            g_w.add(256 + sym, extra, nbits)
            dsym, dextra, dnbits = _lz77_split(1 + 120)  # plain dist form
            d_w.add(dsym, dextra, dnbits)
            if cache_bits:
                for j in range(i, i + run):
                    t = tuple(int(v) for v in px[j])
                    cache[_cache_key(t, cache_bits)] = t
            i += run
            continue
        if cache_bits:
            key = _cache_key(pix, cache_bits)
            if cache[key] == pix:
                g_w.add(280 + key)
                i += 1
                continue
            cache[key] = pix
        a, r, g, b = pix
        g_w.add(g)
        r_w.add(r)
        b_w.add(b)
        a_w.add(a)
        i += 1
    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    g_codes = _write_prefix_code(bw, g_w.freqs, green_size)
    r_codes = _write_prefix_code(bw, r_w.freqs, 256)
    b_codes = _write_prefix_code(bw, b_w.freqs, 256)
    a_codes = _write_prefix_code(bw, a_w.freqs, 256)
    d_codes = _write_prefix_code(bw, d_w.freqs, 40)
    # replay, interleaving channels in pixel order
    gi = ri = bi = ai = di = 0
    for sym, extra, nbits in g_w.symbols:
        c, cl = g_codes[sym]
        bw.write_code(c, cl)
        if 256 <= sym < 280:
            bw.write(extra, nbits)
            dsym, dextra, dnbits = d_w.symbols[di]
            di += 1
            dc, dcl = d_codes[dsym]
            bw.write_code(dc, dcl)
            if dnbits:
                bw.write(dextra, dnbits)
        elif sym < 256:
            rs = r_w.symbols[ri]
            ri += 1
            bs = b_w.symbols[bi]
            bi += 1
            as_ = a_w.symbols[ai]
            ai += 1
            rc, rcl = r_codes[rs[0]]
            bw.write_code(rc, rcl)
            bc, bcl = b_codes[bs[0]]
            bw.write_code(bc, bcl)
            ac, acl = a_codes[as_[0]]
            bw.write_code(ac, acl)
        # cache hits carry no extra fields


def _encode_subimage(bw: _BitWriter, px: np.ndarray, w: int) -> None:
    """Non-level0 entropy-coded image (transform sub-images, palettes):
    no transform list, no meta-prefix bit is CONSUMED by the decoder at
    this level — but the cache bit is."""
    bw.write(0, 1)  # no color cache
    g_w, r_w, b_w, a_w = (_SymbolWriter() for _ in range(4))
    for pix in px:
        a, r, g, b = (int(v) for v in pix)
        g_w.add(g)
        r_w.add(r)
        b_w.add(b)
        a_w.add(a)
    g_codes = _write_prefix_code(bw, g_w.freqs, 256 + 24)
    r_codes = _write_prefix_code(bw, r_w.freqs, 256)
    b_codes = _write_prefix_code(bw, b_w.freqs, 256)
    a_codes = _write_prefix_code(bw, a_w.freqs, 256)
    _write_prefix_code(bw, {}, 40)  # unused distance code
    for i in range(px.shape[0]):
        a, r, g, b = (int(v) for v in px[i])
        for codes, s in ((g_codes, g), (r_codes, r), (b_codes, b), (a_codes, a)):
            c, cl = codes[s]
            bw.write_code(c, cl)


def encode_webp(
    arr: np.ndarray,
    *,
    subtract_green: bool = False,
    predictor: bool = False,
    predictor_mode: int = 1,
    predictor_bits: int = 4,
    color_transform: tuple[int, int, int] | None = None,
    cache_bits: int = 0,
    lz77_runs: bool = False,
    palette: bool = False,
) -> bytes:
    """Fixture-side VP8L encoder. ``arr`` is (h, w, 3|4) uint8. Feature
    flags turn on the corresponding decoder path; palette is exclusive
    of the pixel-domain options. ``predictor_mode`` picks any of the 14
    spec predictors (uniform across blocks); ``color_transform`` is a
    uniform (green_to_red, green_to_blue, red_to_blue) int8 triple."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] not in (3, 4):
        raise ValueError("need (h, w, 3|4) uint8")
    h, w = arr.shape[:2]
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ValueError("VP8L dims out of range")
    has_alpha = arr.shape[2] == 4
    rgba = (
        arr
        if has_alpha
        else np.concatenate([arr, np.full((h, w, 1), 255, np.uint8)], axis=2)
    )
    argb = rgba[:, :, [3, 0, 1, 2]].reshape(-1, 4).astype(np.int32)  # ARGB

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if has_alpha else 0, 1)
    bw.write(0, 3)  # version

    if palette:
        if subtract_green or predictor or lz77_runs or cache_bits:
            raise ValueError("palette mode is exclusive in this encoder")
        flat = np.ascontiguousarray(argb.astype(np.uint8))
        uniq, inv = np.unique(flat.view(np.uint32).reshape(-1), return_inverse=True)
        pal = np.ascontiguousarray(uniq).view(np.uint8).reshape(-1, 4)
        n_colors = pal.shape[0]
        if n_colors > 256:
            raise ValueError("palette mode needs <=256 distinct colors")
        bw.write(1, 1)  # a transform follows
        bw.write(3, 2)  # color indexing
        bw.write(n_colors - 1, 8)
        deltas = np.diff(
            np.vstack([np.zeros((1, 4), np.int32), pal.astype(np.int32)]), axis=0
        ) % 256
        _encode_subimage(bw, deltas.astype(np.uint8), n_colors)
        bw.write(0, 1)  # no more transforms
        if n_colors <= 2:
            pack_bits = 3
        elif n_colors <= 4:
            pack_bits = 2
        elif n_colors <= 16:
            pack_bits = 1
        else:
            pack_bits = 0
        idx = inv.reshape(h, w)
        if pack_bits:
            per = 1 << pack_bits
            ibits = 8 >> pack_bits
            packed_w = (w + per - 1) // per
            padded = np.zeros((h, packed_w * per), dtype=np.int64)
            padded[:, :w] = idx
            shifts = np.arange(per) * ibits
            packed = (
                (padded.reshape(h, packed_w, per) << shifts[None, None, :])
                .sum(axis=2)
                .astype(np.int64)
            )
            idx_img = packed
            coded_w = packed_w
        else:
            idx_img = idx
            coded_w = w
        px = np.zeros((h * coded_w, 4), dtype=np.uint8)
        px[:, 0] = 255
        px[:, 2] = idx_img.reshape(-1).astype(np.uint8)  # green channel
        _encode_literal_image(bw, px, coded_w)
        return _riff_wrap(bw.bytes())

    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
        g = argb[:, 2]
        argb = argb.copy()
        argb[:, 1] = (argb[:, 1] - g) % 256
        argb[:, 3] = (argb[:, 3] - g) % 256
    if color_transform is not None:
        g2r, g2b, r2b = color_transform
        bw.write(1, 1)
        bw.write(1, 2)
        size_bits = predictor_bits
        bw.write(size_bits - 2, 3)
        bwid = (w + (1 << size_bits) - 1) >> size_bits
        bhei = (h + (1 << size_bits) - 1) >> size_bits
        sub = np.zeros((bwid * bhei, 4), dtype=np.uint8)
        sub[:, 0] = 255
        sub[:, 3] = np.uint8(g2r & 0xFF)  # blue channel carries g2r
        sub[:, 2] = np.uint8(g2b & 0xFF)  # green carries g2b
        sub[:, 1] = np.uint8(r2b & 0xFF)  # red carries r2b
        _encode_subimage(bw, sub, bwid)
        # forward: subtract the deltas the decoder will add back (it
        # derives the red_to_blue term from the RECONSTRUCTED red)
        argb = argb.copy()
        green = argb[:, 2].copy()
        red = argb[:, 1].copy()  # the r2b term uses the ORIGINAL red
        t_g2r = np.full_like(green, g2r)
        t_g2b = np.full_like(green, g2b)
        t_r2b = np.full_like(green, r2b)
        argb[:, 1] = (argb[:, 1] - _ct_delta(t_g2r, green)) % 256
        argb[:, 3] = (
            argb[:, 3] - _ct_delta(t_g2b, green) - _ct_delta(t_r2b, red)
        ) % 256
    if predictor:
        bw.write(1, 1)
        bw.write(0, 2)
        size_bits = predictor_bits
        bw.write(size_bits - 2, 3)
        bwid = (w + (1 << size_bits) - 1) >> size_bits
        bhei = (h + (1 << size_bits) - 1) >> size_bits
        sub = np.zeros((bwid * bhei, 4), dtype=np.uint8)
        sub[:, 0] = 255
        sub[:, 2] = np.uint8(predictor_mode)  # mode in the green channel
        _encode_subimage(bw, sub, bwid)
        # forward transform: residual = pixel - prediction over the
        # RECONSTRUCTED neighborhood (== original pixels), raster order
        img = argb.reshape(h, w, 4)
        resid = np.zeros_like(img)
        for y in range(h):
            for x in range(w):
                pred = _predict(img, x, y, w, predictor_mode)
                resid[y, x] = (img[y, x] - pred) % 256
        argb = resid.reshape(-1, 4)
    bw.write(0, 1)  # end of transforms
    _encode_literal_image(
        bw,
        argb.astype(np.uint8),
        w,
        cache_bits=cache_bits,
        lz77_runs=lz77_runs,
    )
    return _riff_wrap(bw.bytes())


def _riff_wrap(vp8l_payload: bytes) -> bytes:
    chunk = b"VP8L" + struct.pack("<I", len(vp8l_payload)) + vp8l_payload
    if len(vp8l_payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
