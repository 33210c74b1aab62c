"""Pure-Python/numpy VP8L (lossless WebP) codec.

Closes most of the remaining WebP boundary: lossless WebP is a
self-contained entropy-coded format (canonical prefix codes + LZ77 +
color cache + four reversible transforms) that needs no codec
library. Lossy WebP (VP8 frames: boolean arithmetic coding, DCT,
loop filter) is not supported — decode_webp raises
NotImplementedError for 'VP8 ' chunks.

Decoder coverage (per the WebP Lossless Bitstream Specification):

* RIFF/WEBP container with a VP8L chunk
* canonical prefix codes, both "simple" (1-2 symbol) and
  code-length-coded forms (incl. repeat codes 16/17/18 and the
  single-symbol zero-bit tree)
* color cache (hash 0x1e35a7bd), LZ77 backward references with the
  length/distance extra-bit scheme and the 120-entry plane-code
  distance mapping
* meta prefix (entropy) images selecting per-tile code groups
* all four transforms, inverted in reverse order: PREDICTOR (all 14
  modes), COLOR (signed cross-channel deltas), SUBTRACT_GREEN, and
  COLOR_INDEXING (incl. sub-byte pixel packing for palettes <= 16)

The encoder exists to exercise the decoder honestly: it emits
spec-valid streams in controlled modes — literal-only, color-cache,
1D LZ77, and each transform — so every decode path above has a
roundtrip test against independently constructed pixels. It is not a
compression-competitive encoder.
"""

from __future__ import annotations

import struct

import numpy as np

# order in which code-length-code lengths are stored (spec section 6.2.2)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# plane-code -> (dx, dy) distance mapping (spec section 5.2.2), codes 1..120
_PLANE_CODES = (
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
)


class _BitReader:
    """LSB-first bit reader over bytes (VP8L bit order)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        p = self.pos
        byte_i = p >> 3
        shift = p & 7
        nbytes = (n + shift + 7) >> 3
        chunk = self.data[byte_i : byte_i + nbytes]
        if len(chunk) < nbytes:
            raise ValueError("VP8L bitstream truncated")
        v = (int.from_bytes(chunk, "little") >> shift) & ((1 << n) - 1)
        self.pos = p + n
        return v


class _BitWriter:
    """LSB-first bit writer."""

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

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# canonical prefix codes
# ---------------------------------------------------------------------------


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """Symbol -> (code, length), canonical assignment: codes ordered by
    (length, symbol), numerically increasing (DEFLATE-style)."""
    syms = sorted(
        (s for s in range(len(lengths)) if lengths[s] > 0),
        key=lambda s: (lengths[s], s),
    )
    codes = {}
    code = 0
    prev_len = 0
    for s in syms:
        code <<= lengths[s] - prev_len
        codes[s] = (code, lengths[s])
        code += 1
        prev_len = lengths[s]
    return codes


class _PrefixCode:
    """Decode side: bit-by-bit canonical tree walk (codes read MSB of
    the codeword first, which is successive stream bits)."""

    def __init__(self, lengths: list[int]):
        nonzero = [s for s in range(len(lengths)) if lengths[s] > 0]
        if not nonzero:
            raise ValueError("VP8L empty prefix code")
        if len(nonzero) == 1:
            self.single: int | None = nonzero[0]
            self.table: dict[tuple[int, int], int] = {}
            return
        # completeness (Kraft) check
        kraft = sum(2 ** -lengths[s] for s in nonzero)
        if abs(kraft - 1.0) > 1e-9:
            raise ValueError("VP8L prefix code is not complete")
        self.single = None
        self.table = {
            (ln, code): s
            for s, (code, ln) in _canonical_codes(lengths).items()
        }
        self.max_len = max(lengths[s] for s in nonzero)

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | br.read(1)
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("VP8L invalid prefix code in stream")


class _PrefixEncoder:
    def __init__(self, lengths: list[int]):
        self.codes = _canonical_codes(lengths)
        self.lengths = lengths

    def write(self, bw: _BitWriter, sym: int) -> None:
        code, ln = self.codes[sym]
        # codes are consumed MSB-first by the tree walk -> emit reversed
        rev = int(f"{code:0{ln}b}"[::-1], 2)
        bw.write(rev, ln)


def _complete_two_level(n: int, short: int) -> list[int]:
    """Complete canonical code over n symbols using lengths short and
    short+1: k symbols at `short` where k = 2^(short+1) - n."""
    k = (1 << (short + 1)) - n
    if not 0 < k <= n:
        raise ValueError("cannot build two-level code")
    return [short] * k + [short + 1] * (n - k)


def _read_code_lengths(br: _BitReader, alphabet_size: int) -> list[int]:
    """Spec 6.2.2: code-length-coded prefix code."""
    num_clc = 4 + br.read(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _PrefixCode(clc_lengths)
    if br.read(1):  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    i = 0
    while i < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        s = clc.decode(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.read(2)
            lengths[i : i + rep] = [prev] * min(rep, alphabet_size - i)
            i += rep
        elif s == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
    return lengths


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    if br.read(1):  # simple
        num_symbols = 1 + br.read(1)
        if br.read(1):  # first symbol is 8 bits
            sym0 = br.read(8)
        else:
            sym0 = br.read(1)
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            if sym0 >= alphabet_size:
                raise ValueError("VP8L simple code symbol out of range")
            lengths[sym0] = 1  # length unused for single-symbol tree
            return _PrefixCode(lengths)
        sym1 = br.read(8)
        if sym0 >= alphabet_size or sym1 >= alphabet_size or sym0 == sym1:
            raise ValueError("VP8L simple code symbols invalid")
        lengths[sym0] = 1
        lengths[sym1] = 1
        return _PrefixCode(lengths)
    lengths = _read_code_lengths(br, alphabet_size)
    return _PrefixCode(lengths)


def _write_code_lengths(bw: _BitWriter, lengths: list[int]) -> None:
    """Encoder twin of _read_code_lengths: no repeats, direct symbols.
    Handles the one- and two-distinct-length cases our modes emit."""
    used = sorted({l for l in lengths if l > 0})
    if not used or len(used) > 2:
        raise ValueError("encoder supports 1-2 distinct code lengths")
    if len(used) == 1:
        clc_lengths = {used[0]: 1}
    else:
        clc_lengths = {used[0]: 1, used[1]: 1}
    max_sym = max(used)
    num_clc = 0
    for i, s in enumerate(_CLC_ORDER):
        if s in clc_lengths:
            num_clc = i + 1
    num_clc = max(num_clc, 4)
    bw.write(num_clc - 4, 4)
    for i in range(num_clc):
        bw.write(clc_lengths.get(_CLC_ORDER[i], 0), 3)
    bw.write(0, 1)  # no max_symbol shortcut
    enc = _PrefixEncoder(
        [clc_lengths.get(s, 0) for s in range(19)]
    ) if len(used) == 2 else None
    for ln in lengths:
        if enc is not None:
            enc.write(bw, ln)
        # single distinct length: zero-bit code, nothing to write


# ---------------------------------------------------------------------------
# entropy-coded image stream
# ---------------------------------------------------------------------------


def _lz77_value(br: _BitReader, sym: int) -> int:
    """Length/distance prefix symbol -> value with extra bits."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


def _lz77_sym(value: int) -> tuple[int, int, int]:
    """Inverse of _lz77_value: value -> (symbol, extra_bits, extra_val)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    bits = v.bit_length() - 1
    # candidates with extra = bits-1 or bits
    for extra in (bits - 1, bits):
        for low in (0, 1):
            offset = (2 + low) << extra
            if offset <= v < offset + (1 << extra):
                return 2 + 2 * extra + low, extra, v - offset
    raise ValueError(f"cannot encode lz77 value {value}")


class _Groups:
    """Per-tile prefix-code groups (meta prefix image support)."""

    def __init__(self, groups, meta, meta_bits, xsize):
        self.groups = groups
        self.meta = meta  # 2-D array of group indices or None
        self.meta_bits = meta_bits
        self.xsize = xsize

    def at(self, x: int, y: int):
        if self.meta is None:
            return self.groups[0]
        return self.groups[self.meta[y >> self.meta_bits, x >> self.meta_bits]]


def _read_groups(
    br: _BitReader, xsize: int, ysize: int, cache_bits: int, allow_meta: bool
) -> _Groups:
    meta = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.read(1):
        meta_bits = 2 + br.read(3)
        mw = (xsize + (1 << meta_bits) - 1) >> meta_bits
        mh = (ysize + (1 << meta_bits) - 1) >> meta_bits
        argb = _decode_image_stream(br, mw, mh, allow_meta=False)
        meta = (
            ((argb >> 8) & 0xFFFF).reshape(mh, mw).astype(np.int64)
        )
        n_groups = int(meta.max()) + 1
    groups = []
    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    for _ in range(n_groups):
        g = _read_prefix_code(br, green_size)
        r = _read_prefix_code(br, 256)
        b = _read_prefix_code(br, 256)
        a = _read_prefix_code(br, 256)
        d = _read_prefix_code(br, 40)
        groups.append((g, r, b, a, d))
    return _Groups(groups, meta, meta_bits, xsize)


def _decode_image_stream(
    br: _BitReader, xsize: int, ysize: int, allow_meta: bool
) -> np.ndarray:
    """Decode an entropy-coded ARGB image -> uint32 flat array of
    xsize*ysize pixels (A<<24 | R<<16 | G<<8 | B)."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"VP8L color cache bits {cache_bits} invalid")
    groups = _read_groups(br, xsize, ysize, cache_bits, allow_meta)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    n = xsize * ysize
    out = np.zeros(n, dtype=np.uint32)
    pos = 0
    while pos < n:
        x, y = pos % xsize, pos // xsize
        gcode, rcode, bcode, acode, dcode = groups.at(x, y)
        s = gcode.decode(br)
        if s < 256:  # literal
            g = s
            r = rcode.decode(br)
            b = bcode.decode(br)
            a = acode.decode(br)
            px = (a << 24) | (r << 16) | (g << 8) | b
            out[pos] = px
            pos += 1
            if cache is not None:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        elif s < 256 + 24:  # backward reference
            length = _lz77_value(br, s - 256)
            dist_code = _lz77_value(br, dcode.decode(br))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _PLANE_CODES[dist_code - 1]
                dist = max(1, dy * xsize + dx)
            if dist > pos or pos + length > n:
                raise ValueError("VP8L backward reference out of range")
            for i in range(length):
                px = int(out[pos - dist + i])
                out[pos + i] = px
                if cache is not None:
                    cache[
                        (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = px
            pos += length
        else:  # color cache hit
            if cache is None:
                raise ValueError("VP8L cache symbol without color cache")
            idx = s - 256 - 24
            out[pos] = cache[idx]
            pos += 1
    return out


# ---------------------------------------------------------------------------
# transforms (inverse)
# ---------------------------------------------------------------------------


def _split(argb: np.ndarray):
    return (
        (argb >> 24) & 0xFF,
        (argb >> 16) & 0xFF,
        (argb >> 8) & 0xFF,
        argb & 0xFF,
    )


def _join(a, r, g, b) -> np.ndarray:
    return (
        (a.astype(np.uint32) << 24)
        | (r.astype(np.uint32) << 16)
        | (g.astype(np.uint32) << 8)
        | b.astype(np.uint32)
    )


def _inv_subtract_green(argb: np.ndarray) -> np.ndarray:
    a, r, g, b = _split(argb)
    return _join(a, (r + g) & 0xFF, g, (b + g) & 0xFF)


def _delta(t: np.ndarray | int, c: np.ndarray | int) -> np.ndarray | int:
    """ColorTransformDelta: (int8(t) * int8(c)) >> 5 (arithmetic)."""
    t8 = np.asarray(t, dtype=np.uint8).astype(np.int8).astype(np.int32)
    c8 = np.asarray(c, dtype=np.uint8).astype(np.int8).astype(np.int32)
    return (t8 * c8) >> 5


def _inv_color_transform(
    argb: np.ndarray, h: int, w: int, bits: int, timg: np.ndarray
) -> np.ndarray:
    a, r, g, b = (c.reshape(h, w) for c in _split(argb))
    tw = (w + (1 << bits) - 1) >> bits
    th = (h + (1 << bits) - 1) >> bits
    t = timg.reshape(th, tw)
    ys, xs = np.mgrid[0:h, 0:w]
    tpx = t[ys >> bits, xs >> bits]
    g2r = (tpx >> 8) & 0xFF
    g2b = (tpx >> 16) & 0xFF
    r2b = tpx & 0xFF
    r = (r + _delta(g2r, g)) & 0xFF
    b = (b + _delta(g2b, g)) & 0xFF
    b = (b + _delta(r2b, r)) & 0xFF
    return _join(a, r, g, b).reshape(-1)


def _predict(buf: np.ndarray, x: int, y: int, w: int, mode: int) -> int:
    """Spec predictor: prediction for pixel (x, y) from its already-
    available neighbors in buf (reconstructed image on the decode
    side; original image on the encode side — identical values). At
    the last column TR = first pixel of the current row (the spec's
    memory-layout rule)."""

    def comps(v):
        if isinstance(v, np.ndarray):
            return v  # already a component vector (nested averages)
        return np.array(
            [(v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF],
            dtype=np.int64,
        )

    def pack(c):
        c = np.clip(c, 0, 255)
        return int((c[0] << 24) | (c[1] << 16) | (c[2] << 8) | c[3])

    def avg2(u, v):
        return (comps(u) + comps(v)) >> 1

    if x == 0 and y == 0:
        return 0xFF000000
    if y == 0:
        return int(buf[0, x - 1])
    if x == 0:
        return int(buf[y - 1, 0])
    L = int(buf[y, x - 1])
    T = int(buf[y - 1, x])
    TL = int(buf[y - 1, x - 1])
    TR = int(buf[y - 1, x + 1]) if x + 1 < w else int(buf[y, 0])
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return pack(avg2(avg2(L, TR), T))
    if mode == 6:
        return pack(avg2(L, TL))
    if mode == 7:
        return pack(avg2(L, T))
    if mode == 8:
        return pack(avg2(TL, T))
    if mode == 9:
        return pack(avg2(T, TR))
    if mode == 10:
        return pack(avg2(avg2(L, TL), avg2(T, TR)))
    if mode == 11:  # Select
        pL, pT, pTL = comps(L), comps(T), comps(TL)
        perr = int(np.abs(pT - pTL).sum() - np.abs(pL - pTL).sum())
        return L if perr <= 0 else T
    if mode == 12:  # ClampedAddSubtractFull
        return pack(comps(L) + comps(T) - comps(TL))
    if mode == 13:  # ClampedAddSubtractHalf
        ave = avg2(L, T)
        d = ave - comps(TL)
        return pack(ave + np.sign(d) * (np.abs(d) >> 1))
    raise ValueError(f"VP8L predictor mode {mode} invalid")


def _inv_predictor(
    argb: np.ndarray, h: int, w: int, bits: int, pimg: np.ndarray
) -> np.ndarray:
    """Inverse predictor transform — sequential scan-order accumulation
    (each pixel's prediction uses already-reconstructed neighbors)."""
    tw = (w + (1 << bits) - 1) >> bits
    modes = ((pimg >> 8) & 0xFF).reshape(-1, tw)
    px = argb.astype(np.int64).reshape(h, w)
    out = np.zeros((h, w), dtype=np.int64)
    for y in range(h):
        for x in range(w):
            mode = int(modes[y >> bits, x >> bits])
            pred = _predict(out, x, y, w, mode)
            out[y, x] = _add_px(int(px[y, x]), pred)
    return out.astype(np.uint32).reshape(-1)


def _add_px(residual: int, pred: int) -> int:
    """Per-channel modular add of residual and prediction."""
    res = int(residual)
    p = int(pred)
    out = 0
    for shift in (24, 16, 8, 0):
        out |= (((res >> shift) + (p >> shift)) & 0xFF) << shift
    return out


def _inv_color_indexing(
    argb: np.ndarray, h: int, w: int, palette: np.ndarray, packed_w: int
) -> np.ndarray:
    """Inverse color-indexing: green channel holds palette indices;
    palettes <= 16 entries pack several pixels per green byte."""
    n_pal = len(palette)
    if n_pal <= 2:
        width_bits = 3
    elif n_pal <= 4:
        width_bits = 2
    elif n_pal <= 16:
        width_bits = 1
    else:
        width_bits = 0
    g = ((argb >> 8) & 0xFF).reshape(h, packed_w)
    if width_bits:
        per = 1 << width_bits  # pixels per packed byte
        bits = 8 >> width_bits  # bits per pixel index
        shifts = (np.arange(per) * bits)[None, None, :]
        idx = (g[:, :, None] >> shifts) & ((1 << bits) - 1)
        idx = idx.reshape(h, packed_w * per)[:, :w]
    else:
        idx = g
    if int(idx.max(initial=0)) >= n_pal:
        raise ValueError("VP8L palette index out of range")
    return palette[idx.reshape(-1)]


def _read_transforms(br: _BitReader, xsize: int, ysize: int):
    """Read the transform list; returns (transforms, coded_xsize).
    COLOR_INDEXING with a small palette shrinks the coded width."""
    transforms = []
    seen = set()
    coded_w = xsize
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("VP8L transform repeated")
        seen.add(ttype)
        if ttype == 0:  # PREDICTOR
            bits = 2 + br.read(3)
            tw = (coded_w + (1 << bits) - 1) >> bits
            th = (ysize + (1 << bits) - 1) >> bits
            timg = _decode_image_stream(br, tw, th, allow_meta=False)
            transforms.append(("predictor", bits, timg))
        elif ttype == 1:  # COLOR
            bits = 2 + br.read(3)
            tw = (coded_w + (1 << bits) - 1) >> bits
            th = (ysize + (1 << bits) - 1) >> bits
            timg = _decode_image_stream(br, tw, th, allow_meta=False)
            transforms.append(("color", bits, timg))
        elif ttype == 2:  # SUBTRACT_GREEN
            transforms.append(("subtract_green",))
        else:  # COLOR_INDEXING
            n_pal = 1 + br.read(8)
            pal_argb = _decode_image_stream(br, n_pal, 1, allow_meta=False)
            # palette entries are delta-coded componentwise
            pal = np.zeros(n_pal, dtype=np.uint32)
            prev = 0
            for i in range(n_pal):
                prev = _add_px(int(pal_argb[i]), prev)
                pal[i] = prev
            if n_pal <= 2:
                coded_w = (coded_w + 7) >> 3
            elif n_pal <= 4:
                coded_w = (coded_w + 3) >> 2
            elif n_pal <= 16:
                coded_w = (coded_w + 1) >> 1
            transforms.append(("palette", pal))
    return transforms, coded_w


def decode_vp8l(data: bytes) -> np.ndarray:
    """Decode a VP8L chunk body -> uint8 (h, w, 4) RGBA array."""
    br = _BitReader(data)
    if br.read(8) != 0x2F:
        raise ValueError("bad VP8L signature")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")
    transforms, coded_w = _read_transforms(br, w, h)
    argb = _decode_image_stream(br, coded_w, h, allow_meta=True)
    for t in reversed(transforms):
        if t[0] == "palette":
            argb = _inv_color_indexing(argb, h, w, t[1], coded_w)
            coded_w = w
        elif t[0] == "subtract_green":
            argb = _inv_subtract_green(argb)
        elif t[0] == "color":
            argb = _inv_color_transform(argb, h, coded_w, t[1], t[2])
        elif t[0] == "predictor":
            argb = _inv_predictor(argb, h, coded_w, t[1], t[2])
    a, r, g, b = _split(argb)
    return (
        np.stack([r, g, b, a], axis=1)
        .astype(np.uint8)
        .reshape(h, w, 4)
    )


def decode_webp(payload: bytes) -> np.ndarray:
    """Decode a lossless WebP container -> uint8 (h, w, 4) RGBA.
    Lossy 'VP8 ' chunks raise NotImplementedError."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP payload")
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("truncated WebP chunk")
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            raise NotImplementedError(
                "lossy WebP (VP8 chunk) is not supported; only lossless "
                "VP8L decodes"
            )
        pos += 8 + size + (size & 1)
    raise ValueError("WebP container has no VP8L/VP8 chunk")


# ---------------------------------------------------------------------------
# encoder (decoder-exercise modes)
# ---------------------------------------------------------------------------


def _write_prefix_header(bw: _BitWriter, lengths: list[int]) -> _PrefixEncoder:
    bw.write(0, 1)  # not simple
    _write_code_lengths(bw, lengths)
    return _PrefixEncoder(lengths)


def _green_lengths(cache_bits: int) -> list[int]:
    n = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    return _complete_two_level(n, 8)


def _emit_image_stream(
    bw: _BitWriter,
    argb: np.ndarray,
    cache_bits: int = 0,
    lz77_rows: bool = False,
    xsize: int = 0,
    is_main: bool = False,
    plane_dist: bool = False,
) -> None:
    """Write an entropy-coded image: literals, optional color cache,
    optional 1D LZ77 row copies (dist_code > 120 path)."""
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if is_main:
        bw.write(0, 1)  # no meta prefix (sub-images carry no meta bit)
    g_lengths = _green_lengths(cache_bits)
    genc = _write_prefix_header(bw, g_lengths)
    renc = _write_prefix_header(bw, [8] * 256)
    benc = _write_prefix_header(bw, [8] * 256)
    aenc = _write_prefix_header(bw, [8] * 256)
    denc = _write_prefix_header(bw, _complete_two_level(40, 5))
    cache = [None] * (1 << cache_bits) if cache_bits else None
    pixels = [int(v) for v in argb]
    pos = 0
    n = len(pixels)
    while pos < n:
        px = pixels[pos]
        # 1D LZ77: if the previous row repeats, emit one backward ref
        if (
            lz77_rows
            and xsize
            and pos >= xsize
            and pos % xsize == 0
            and pixels[pos : pos + xsize] == pixels[pos - xsize : pos]
        ):
            lsym, lbits, lval = _lz77_sym(xsize)
            genc.write(bw, 256 + lsym)
            bw.write(lval, lbits)
            # dist = xsize is plane code (0, 1); 1D form is xsize + 120
            dist_code = 1 if plane_dist else xsize + 120
            dsym, dbits, dval = _lz77_sym(dist_code)
            denc.write(bw, dsym)
            bw.write(dval, dbits)
            if cache is not None:
                for i in range(xsize):
                    v = pixels[pos + i]
                    cache[(0x1E35A7BD * v & 0xFFFFFFFF) >> (32 - cache_bits)] = v
            pos += xsize
            continue
        if cache is not None:
            slot = (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[slot] == px:
                genc.write(bw, 256 + 24 + slot)
                pos += 1
                continue
            cache[slot] = px
        genc.write(bw, (px >> 8) & 0xFF)
        renc.write(bw, (px >> 16) & 0xFF)
        benc.write(bw, px & 0xFF)
        aenc.write(bw, (px >> 24) & 0xFF)
        pos += 1


def encode_webp(
    rgba: np.ndarray,
    cache_bits: int = 0,
    lz77_rows: bool = False,
    plane_dist: bool = False,
    subtract_green: bool = False,
    predictor_mode: int | None = None,
    color_deltas: tuple[int, int, int] | None = None,
    palette: np.ndarray | None = None,
) -> bytes:
    """Encode uint8 (h, w, 4) RGBA to lossless WebP in a chosen
    decoder-exercise mode. Transform flags are mutually composable the
    way the spec orders them (indexing is exclusive of the others in
    this encoder for simplicity)."""
    rgba = np.ascontiguousarray(rgba, dtype=np.uint8)
    h, w = rgba.shape[:2]
    r = rgba[:, :, 0].astype(np.uint32)
    g = rgba[:, :, 1].astype(np.uint32)
    b = rgba[:, :, 2].astype(np.uint32)
    a = rgba[:, :, 3].astype(np.uint32)
    argb = ((a << 24) | (r << 16) | (g << 8) | b).reshape(-1)
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    coded_w = w
    if palette is not None:
        pal = palette.astype(np.uint32)
        lut = {int(v): i for i, v in enumerate(pal)}
        idx = np.array([lut[int(v)] for v in argb], dtype=np.uint32).reshape(h, w)
        bw.write(1, 1)
        bw.write(3, 2)  # COLOR_INDEXING
        bw.write(len(pal) - 1, 8)
        deltas = np.zeros(len(pal), dtype=np.uint32)
        prev = 0
        for i, v in enumerate(pal):
            deltas[i] = _sub_px(int(v), prev)
            prev = int(v)
        _emit_image_stream(bw, deltas)
        n_pal = len(pal)
        if n_pal <= 2:
            width_bits, coded_w = 3, (w + 7) >> 3
        elif n_pal <= 4:
            width_bits, coded_w = 2, (w + 3) >> 2
        elif n_pal <= 16:
            width_bits, coded_w = 1, (w + 1) >> 1
        else:
            width_bits, coded_w = 0, w
        if width_bits:
            per = 1 << width_bits
            bits = 8 >> width_bits
            pad = (-w) % per
            packed = np.pad(idx, ((0, 0), (0, pad))).reshape(h, coded_w, per)
            gchan = (packed << (np.arange(per) * bits)[None, None, :]).sum(
                axis=2
            )
        else:
            gchan = idx
        argb = (0xFF000000 | (gchan.astype(np.uint32) << 8)).reshape(-1)
    if predictor_mode is not None:
        bits = 4
        tw = (coded_w + 15) >> 4
        th = (h + 15) >> 4
        bw.write(1, 1)
        bw.write(0, 2)  # PREDICTOR
        bw.write(bits - 2, 3)
        timg = np.full(
            tw * th, 0xFF000000 | (predictor_mode << 8), dtype=np.uint32
        )
        _emit_image_stream(bw, timg)
        argb = _fwd_predictor(argb, h, coded_w, bits, timg)
    if color_deltas is not None:
        g2r, g2b, r2b = color_deltas
        bits = 4
        tw = (coded_w + 15) >> 4
        th = (h + 15) >> 4
        bw.write(1, 1)
        bw.write(1, 2)  # COLOR
        bw.write(bits - 2, 3)
        tpx = 0xFF000000 | ((g2b & 0xFF) << 16) | ((g2r & 0xFF) << 8) | (r2b & 0xFF)
        timg = np.full(tw * th, tpx, dtype=np.uint32)
        _emit_image_stream(bw, timg)
        argb = _fwd_color_transform(argb, h, coded_w, bits, timg)
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # SUBTRACT_GREEN
        aa, rr, gg, bb = _split(argb)
        argb = _join(aa, (rr - gg) & 0xFF, gg, (bb - gg) & 0xFF)
    bw.write(0, 1)  # end of transforms
    _emit_image_stream(
        bw, argb, cache_bits=cache_bits, lz77_rows=lz77_rows, xsize=coded_w,
        is_main=True, plane_dist=plane_dist,
    )
    body = bw.finish()
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _sub_px(v: int, prev: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        out |= (((v >> shift) - (prev >> shift)) & 0xFF) << shift
    return out


def _fwd_predictor(
    argb: np.ndarray, h: int, w: int, bits: int, pimg: np.ndarray
) -> np.ndarray:
    """Forward predictor (encoder): residual = pixel - prediction.
    Predictions use the ORIGINAL pixels, which equal the decoder's
    reconstructed neighbors, so all 14 modes are supported."""
    orig = argb.reshape(h, w).astype(np.int64)
    tw = (w + (1 << bits) - 1) >> bits
    modes = ((pimg >> 8) & 0xFF).reshape(-1, tw)
    res = np.zeros((h, w), dtype=np.int64)
    for y in range(h):
        for x in range(w):
            mode = int(modes[y >> bits, x >> bits])
            pred = _predict(orig, x, y, w, mode)
            res[y, x] = _sub_px(int(orig[y, x]), pred)
    return res.astype(np.uint32).reshape(-1)


def _fwd_color_transform(
    argb: np.ndarray, h: int, w: int, bits: int, timg: np.ndarray
) -> np.ndarray:
    a, r, g, b = (c.reshape(h, w) for c in _split(argb))
    tw = (w + (1 << bits) - 1) >> bits
    t = timg.reshape(-1, tw)
    ys, xs = np.mgrid[0:h, 0:w]
    tpx = t[ys >> bits, xs >> bits]
    g2r = (tpx >> 8) & 0xFF
    g2b = (tpx >> 16) & 0xFF
    r2b = tpx & 0xFF
    # forward order inverts the decoder's add sequence
    b = (b - _delta(r2b, r)) & 0xFF
    b = (b - _delta(g2b, g)) & 0xFF
    r = (r - _delta(g2r, g)) & 0xFF
    return _join(a, r, g, b).reshape(-1)
