"""Baseline grayscale JPEG codec in pure numpy — no codec libraries.

`decode_jpeg` handles single-component baseline sequential DCT JFIF
streams (SOF0/1: 8-bit, Huffman, restart markers); colour,
progressive (SOF2), arithmetic-coded and hierarchical/lossless (SOF3+)
streams raise NotImplementedError naming the feature.
`encode_jpeg_gray` produces spec-compliant single-component streams:
the deterministic payloads the `exif_extract` query wraps in an EXIF
APP1 segment and the MJPEG-AVI frames of functions/avi.py (any
libjpeg-family tool can decode them).

Performance shape: entropy decode is table-driven — the scan is
pre-split on restart markers and unstuffed with vectorized numpy,
then each Huffman symbol costs ONE 65536-entry-LUT list indexing over
a precomputed 32-bit sliding-window word list. Dequantization and the
2-D IDCT (one einsum over every block at once) are vectorized numpy
over the whole image.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# constants: zigzag order, Annex K quantization + Huffman tables
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

STD_LUMA_QUANT = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

# Annex K Huffman table specs: (BITS counts per code length 1..16, VALUES)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis: dct2(X) = C @ X @ C.T."""
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    c = np.cos((2 * n + 1) * k * np.pi / 16) * 0.5
    c[0, :] = 1.0 / (2.0 * np.sqrt(2.0))
    return c


_C = _dct_matrix()


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Annex C canonical code assignment: symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decoder(bits: list[int], vals: list[int]) -> tuple[list, list]:
    """16-bit table-driven decoder (VERDICT r3 item 7 — replaces the
    per-bit tree walk): two 65536-entry lists mapping every possible
    16-bit lookahead to (symbol, code length). One list indexing per
    Huffman symbol instead of up-to-16 read_bit calls + dict probes.
    Entries not covered by any code hold symbol -1 (invalid stream)."""
    sym = [-1] * 65536
    ln = [0] * 65536
    for s, (code, l) in _huff_codes(bits, vals).items():
        base = code << (16 - l)
        span = 1 << (16 - l)
        sym[base : base + span] = [s] * span
        ln[base : base + span] = [l] * span
    return sym, ln


# ---------------------------------------------------------------------------
# entropy-coded segment handling: the scan is pre-split on restart
# markers and unstuffed (0xFF00 -> 0xFF) with vectorized numpy BEFORE
# bit-level decoding, so the per-symbol hot loop never tests for
# markers — it reads a 16-bit lookahead from a precomputed 32-bit
# sliding-window word list in O(1)
# ---------------------------------------------------------------------------


def _entropy_segments(payload: bytes, pos: int) -> list[np.ndarray]:
    """Split the entropy-coded data starting at `pos` into per-restart-
    interval unstuffed byte arrays (vectorized marker scan)."""
    data = np.frombuffer(payload, dtype=np.uint8)[pos:]
    ff = np.flatnonzero(data[:-1] == 0xFF)
    nxt = data[ff + 1]
    is_rst = (nxt >= 0xD0) & (nxt <= 0xD7)
    is_term = (nxt != 0) & ~is_rst
    end = int(ff[is_term][0]) if is_term.any() else len(data)
    rst_offsets = [int(p) for p in ff[is_rst] if p < end]
    segments, start = [], 0
    for p in rst_offsets:
        segments.append(data[start:p])
        start = p + 2
    segments.append(data[start:end])
    out = []
    for seg in segments:
        if len(seg) > 1:
            stuffed = np.flatnonzero((seg[:-1] == 0xFF) & (seg[1:] == 0))
            if len(stuffed):
                keep = np.ones(len(seg), dtype=bool)
                keep[stuffed + 1] = False
                seg = seg[keep]
        out.append(seg)
    return out


class _FastBits:
    """O(1) 16-bit lookahead over an unstuffed segment: w[j] holds the
    big-endian 32-bit word at byte j (built vectorized), so the bits at
    any position are one shift away. Padded with 0xFF (the JPEG pad
    convention); a decode running past the real end hits an invalid
    code or the MCU-count bound."""

    __slots__ = ("w", "pos")

    def __init__(self, seg: np.ndarray):
        b = np.concatenate([seg, np.full(6, 0xFF, dtype=np.uint8)]).astype(np.uint32)
        w = (b[:-3] << 24) | (b[1:-2] << 16) | (b[2:-1] << 8) | b[3:]
        self.w = w.tolist()
        self.pos = 0


def _decode_block(fb: _FastBits, dc_tab, ac_tab, pred: int, zz: np.ndarray) -> int:
    """One 8x8 block of zigzag coefficients into `zz` (pre-zeroed);
    returns the updated DC predictor. Hot loop: one list index per
    Huffman symbol + one shift per value field."""
    w = fb.w
    pos = fb.pos
    dc_sym, dc_len = dc_tab
    ac_sym, ac_len = ac_tab

    j, o = divmod(pos, 8)
    peek = (w[j] >> (16 - o)) & 0xFFFF
    size = dc_sym[peek]
    if size < 0:
        raise ValueError("invalid Huffman code in entropy segment")
    pos += dc_len[peek]
    if size:
        j, o = divmod(pos, 8)
        v = ((w[j] >> (16 - o)) & 0xFFFF) >> (16 - size)
        pos += size
        pred += v if v >= (1 << (size - 1)) else v - (1 << size) + 1
    zz[0] = pred
    k = 1
    while k < 64:
        j, o = divmod(pos, 8)
        peek = (w[j] >> (16 - o)) & 0xFFFF
        rs = ac_sym[peek]
        if rs < 0:
            raise ValueError("invalid Huffman code in entropy segment")
        pos += ac_len[peek]
        size = rs & 0x0F
        if size == 0:
            if rs == 0xF0:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += rs >> 4
        if k > 63:
            raise ValueError("AC run past end of block")
        j, o = divmod(pos, 8)
        v = ((w[j] >> (16 - o)) & 0xFFFF) >> (16 - size)
        pos += size
        zz[k] = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
        k += 1
    fb.pos = pos
    return pred


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Single-component baseline JPEG -> uint8 (H, W) array.

    Supports SOF0/1 (baseline sequential Huffman, 8-bit) with DRI/RSTn
    restart intervals. Colour (more than one component), progressive
    (SOF2), hierarchical/lossless (SOF3+), arithmetic-coded (SOF9+)
    and 12-bit streams raise NotImplementedError naming the feature."""
    if len(payload) < 4 or payload[0] != 0xFF or payload[1] != 0xD8:
        raise ValueError("not a JPEG payload (missing SOI)")
    quant: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, tuple] = {}
    ac_tabs: dict[int, tuple] = {}
    frame = None  # (h, w, tq)
    restart_interval = 0
    i = 2
    while i < len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"expected marker at byte {i}")
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
        seg = payload[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                prec, tid = seg[j] >> 4, seg[j] & 0x0F
                if prec != 0:
                    raise NotImplementedError("16-bit quantization tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(seg[j + 1 : j + 65], dtype=np.uint8)
                quant[tid] = tbl.reshape(8, 8)
                j += 65
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                n = sum(bits)
                vals = list(seg[j + 17 : j + 17 + n])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _huff_decoder(bits, vals)
                j += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/1 baseline
            if seg[0] != 8:
                raise NotImplementedError("only 8-bit precision supported")
            if seg[5] != 1:
                raise NotImplementedError(f"{seg[5]}-component (colour) JPEG")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            frame = (h, w, seg[8])
        elif marker == 0xC2:
            raise NotImplementedError("progressive JPEG (SOF2)")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7):
            raise NotImplementedError("hierarchical/lossless JPEG (SOF3+)")
        elif 0xC8 <= marker <= 0xCF and marker != 0xCC:
            raise NotImplementedError("arithmetic-coded JPEG")
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS -> entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            tables = (dc_tabs[seg[2] >> 4], ac_tabs[seg[2] & 0x0F])
            return _decode_scan(
                payload, i + 2 + seg_len, frame, tables, quant,
                restart_interval,
            )
        i += 2 + seg_len
    raise ValueError("no SOS marker found")


def _decode_scan(
    payload, pos, frame, tables, quant, restart_interval
) -> np.ndarray:
    """The one scan of a single-component baseline frame: Huffman
    decode every block into a zigzag store, then dequantize + IDCT all
    blocks at once."""
    h, w, tq = frame
    bh, bw = -(-h // 8), -(-w // 8)
    store = np.zeros((bh, bw, 64), dtype=np.int32)
    segments = _entropy_segments(payload, pos)
    fb = _FastBits(segments[0])
    seg_idx = 0
    pred = 0
    for n in range(bh * bw):
        if restart_interval and n and n % restart_interval == 0:
            # the predictor resets at each restart; the segment split
            # already consumed the byte-aligned marker
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("missing restart marker in scan")
            fb = _FastBits(segments[seg_idx])
            pred = 0
        pred = _decode_block(fb, *tables, pred, store[n // bw, n % bw])

    blocks = np.zeros((bh, bw, 64), dtype=np.float64)
    blocks[:, :, ZIGZAG] = store
    blocks = blocks.reshape(bh, bw, 8, 8) * quant[tq][None, None]
    pix = np.einsum("ki,yxkl,lj->yxij", _C, blocks, _C, optimize=True)
    pix = np.clip(np.round(pix) + 128.0, 0, 255).astype(np.uint8)
    return pix.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)[:h, :w]


# ---------------------------------------------------------------------------
# encoder (baseline, grayscale) — deterministic test payloads
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def encode_jpeg_gray(
    img: np.ndarray,
    qtab: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Single-component baseline JPEG of a (H, W) uint8 image with the
    Annex K luma Huffman tables. qtab=None uses an ALL-ONES quant table
    (near-lossless: only DCT/IDCT rounding), which makes constant-gray
    blocks decode bit-exactly; pass STD_LUMA_QUANT for a realistic
    lossy stream.
    restart_interval > 0 emits DRI + RSTn markers every that many MCUs
    (exercises the decoder's restart path)."""
    if qtab is None:
        qtab = np.ones((8, 8), dtype=np.int64)
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    zz = _plane_to_zigzag(
        np.pad(img, ((0, ph - h), (0, pw - w)), mode="edge"),
        qtab, ph // 8, pw // 8,
    ).reshape(-1, 64)

    dc_codes = _huff_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_codes = _huff_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    parts: list[bytes] = []
    bw = _BitWriter()
    pred = 0
    for n, blk in enumerate(zz):
        if restart_interval and n and n % restart_interval == 0:
            parts.append(bw.flush())
            parts.append(bytes([0xFF, 0xD0 + ((n // restart_interval) - 1) % 8]))
            bw = _BitWriter()
            pred = 0
        pred = _entropy_encode_blocks(bw, blk, pred, dc_codes, ac_codes)
    parts.append(bw.flush())
    data = b"".join(parts)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    qzz = qtab.reshape(-1)[ZIGZAG].astype(np.uint8).tobytes()
    dht_dc = bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS)
    dht_ac = bytes([0x10]) + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS)
    dri = (
        seg(0xDD, restart_interval.to_bytes(2, "big"))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + qzz)
        + seg(
            0xC0,
            bytes([8])
            + h.to_bytes(2, "big")
            + w.to_bytes(2, "big")
            + bytes([1, 1, 0x11, 0]),
        )
        + seg(0xC4, dht_dc)
        + seg(0xC4, dht_ac)
        + dri
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + data
        + b"\xff\xd9"
    )


def _entropy_encode_blocks(
    bw: "_BitWriter",
    blk: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    """Append one zigzag block's DC diff + AC runs; returns new pred."""
    diff = int(blk[0]) - pred
    pred = int(blk[0])
    size = _category(diff)
    code, ln = dc_codes[size]
    bw.write(code, ln)
    if size:
        bw.write(diff if diff > 0 else diff + (1 << size) - 1, size)
    nz = np.nonzero(blk[1:])[0]
    last_nz = (nz[-1] + 1) if nz.size else 0
    k, run = 1, 0
    while k <= last_nz:
        v = int(blk[k])
        if v == 0:
            run += 1
            k += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            bw.write(code, ln)
            run -= 16
        size = _category(v)
        code, ln = ac_codes[(run << 4) | size]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << size) - 1, size)
        run, k = 0, k + 1
    if last_nz < 63:
        code, ln = ac_codes[0x00]
        bw.write(code, ln)
    return pred


def _plane_to_zigzag(plane: np.ndarray, qtab: np.ndarray, bh: int, bw_: int) -> np.ndarray:
    """(H, W) plane -> (bh, bw_, 64) zigzag quantized blocks, padded by
    edge replication to the requested block grid."""
    h, w = plane.shape
    padded = np.pad(
        plane, ((0, bh * 8 - h), (0, bw_ * 8 - w)), mode="edge"
    ).astype(np.float64) - 128.0
    blocks = padded.reshape(bh, 8, bw_, 8).transpose(0, 2, 1, 3)
    coefs = np.einsum("ik,yxkl,jl->yxij", _C, blocks, _C, optimize=True)
    q = np.round(coefs / qtab[None, None]).astype(np.int32)
    return q.reshape(bh, bw_, 64)[:, :, ZIGZAG]
