"""EXIF metadata: build + parse JPEG APP1/Exif segments from spec.

Pure-stdlib implementation of the EXIF container (CIPA DC-008 /
EXIF 2.3, which embeds a TIFF 6.0 structure inside a JPEG APP1
segment marked `Exif\\0\\0`). EXIF needs ASCII (type 2) and
RATIONAL (type 5) values plus the Exif-private sub-IFD chain
(tag 34665), so this module carries its own IFD walker.

Reference parity: the reference repo (pandas/SQLite) has no media
metadata handling at all; this is part of the training-data-pipeline
surface (image provenance/orientation filtering at crawl scale).

Scope: IFD0 tags Make(271), Model(272), Orientation(274),
DateTime(306) and the Exif sub-IFD tags ExposureTime(33434),
ISOSpeedRatings(34855), PixelXDimension(40962), PixelYDimension(40963)
— the fields a crawl-cleaning pipeline actually filters on. Both byte
orders parse; the builder emits little-endian. Unknown tags are
ignored on parse (never an error): real crawl EXIF is full of
maker-note junk.
"""

from __future__ import annotations

import struct

TAG_MAKE = 271
TAG_MODEL = 272
TAG_ORIENTATION = 274
TAG_DATETIME = 306
TAG_EXIF_IFD = 34665
TAG_EXPOSURE = 33434  # RATIONAL (num, den), seconds
TAG_ISO = 34855
TAG_PIXEL_X = 40962
TAG_PIXEL_Y = 40963

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}
_EXIF_HEADER = b"Exif\x00\x00"


def _pack_entries(bo: str, entries: list[tuple[int, int, list]],
                  base_off: int) -> bytes:
    """Serialize one IFD (entry table + overflow area). `base_off` is
    the byte offset of this IFD from the TIFF header start; overflow
    values are laid out directly after the entry table."""
    entries = sorted(entries, key=lambda e: e[0])
    n = len(entries)
    data_off = base_off + 2 + n * 12 + 4
    head = struct.pack(bo + "H", n)
    overflow = bytearray()
    body = bytearray()
    for tag, typ, vals in entries:
        if typ == 2:
            raw = bytes(vals[0], "ascii") + b"\x00"
            cnt = len(raw)
        elif typ == 5:
            raw = b"".join(struct.pack(bo + "II", a, b) for a, b in vals)
            cnt = len(vals)
        else:
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            raw = struct.pack(bo + fmt * len(vals), *vals)
            cnt = len(vals)
        body += struct.pack(bo + "HHI", tag, typ, cnt)
        if len(raw) <= 4:
            body += raw.ljust(4, b"\x00")
        else:
            body += struct.pack(bo + "I", data_off + len(overflow))
            overflow += raw
            if len(overflow) & 1:
                overflow += b"\x00"
    return head + bytes(body) + struct.pack(bo + "I", 0) + bytes(overflow)


def build_exif_app1(
    make: str | None = None,
    model: str | None = None,
    orientation: int | None = None,
    datetime_str: str | None = None,
    exposure: tuple[int, int] | None = None,
    iso: int | None = None,
    pixel_x: int | None = None,
    pixel_y: int | None = None,
) -> bytes:
    """Build a complete APP1 segment (marker + length + Exif TIFF
    payload, little-endian) carrying the given fields. IFD0 holds the
    descriptive tags; the photo tags live in the chained Exif sub-IFD
    exactly as DC-008 requires (writers that flatten them into IFD0
    are non-conformant and many parsers reject them)."""
    bo = "<"
    ifd0: list[tuple[int, int, list]] = []
    if make is not None:
        ifd0.append((TAG_MAKE, 2, [make]))
    if model is not None:
        ifd0.append((TAG_MODEL, 2, [model]))
    if orientation is not None:
        ifd0.append((TAG_ORIENTATION, 3, [orientation]))
    if datetime_str is not None:
        ifd0.append((TAG_DATETIME, 2, [datetime_str]))
    sub: list[tuple[int, int, list]] = []
    if exposure is not None:
        sub.append((TAG_EXPOSURE, 5, [exposure]))
    if iso is not None:
        sub.append((TAG_ISO, 3, [iso]))
    if pixel_x is not None:
        sub.append((TAG_PIXEL_X, 4, [pixel_x]))
    if pixel_y is not None:
        sub.append((TAG_PIXEL_Y, 4, [pixel_y]))
    # two-pass layout: IFD0's serialized size depends only on its own
    # entries, so the sub-IFD offset is known after sizing IFD0 with a
    # placeholder pointer
    if sub:
        ifd0_probe = ifd0 + [(TAG_EXIF_IFD, 4, [0])]
        probe = _pack_entries(bo, ifd0_probe, 8)
        sub_off = 8 + len(probe)
        ifd0 = ifd0 + [(TAG_EXIF_IFD, 4, [sub_off])]
    tiff = (
        b"II" + struct.pack(bo + "H", 42) + struct.pack(bo + "I", 8)
        + _pack_entries(bo, ifd0, 8)
    )
    if sub:
        tiff += _pack_entries(bo, sub, len(tiff))
    payload = _EXIF_HEADER + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def insert_app1(jpeg: bytes, app1: bytes) -> bytes:
    """Splice an APP1 segment directly after SOI (the position DC-008
    mandates: APP1 must precede other APPn/DQT segments)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    return jpeg[:2] + app1 + jpeg[2:]


def _walk_ifd(tiff: bytes, bo: str, off: int) -> dict[int, object]:
    if off + 2 > len(tiff):
        raise ValueError("EXIF IFD offset out of range")
    (n,) = struct.unpack(bo + "H", tiff[off : off + 2])
    out: dict[int, object] = {}
    for i in range(n):
        e = off + 2 + i * 12
        if e + 12 > len(tiff):
            break
        tag, typ, cnt = struct.unpack(bo + "HHI", tiff[e : e + 8])
        size = _TYPE_SIZES.get(typ, 0) * cnt
        if size == 0:
            continue  # unknown type: skip, never fail
        if size <= 4:
            raw = tiff[e + 8 : e + 8 + size]
        else:
            (voff,) = struct.unpack(bo + "I", tiff[e + 8 : e + 12])
            if voff + size > len(tiff):
                continue
            raw = tiff[voff : voff + size]
        if typ == 2:
            out[tag] = raw.split(b"\x00", 1)[0].decode("ascii", "replace")
        elif typ == 3:
            vals = struct.unpack(bo + "H" * cnt, raw)
            out[tag] = vals[0] if cnt == 1 else list(vals)
        elif typ == 4:
            vals = struct.unpack(bo + "I" * cnt, raw)
            out[tag] = vals[0] if cnt == 1 else list(vals)
        elif typ == 5:
            pairs = [
                struct.unpack(bo + "II", raw[k * 8 : k * 8 + 8])
                for k in range(cnt)
            ]
            out[tag] = pairs[0] if cnt == 1 else pairs
    return out


def parse_exif(data: bytes) -> dict[str, object] | None:
    """Extract the supported EXIF fields from a JPEG (APP1 scan) or a
    bare `Exif\\0\\0`/TIFF payload. Returns None when the payload has
    no EXIF (the common crawl case — never an error), else a dict with
    keys make, model, orientation, datetime, exposure_num,
    exposure_den, iso, pixel_x, pixel_y (absent fields are None)."""
    tiff: bytes | None = None
    if data[:2] == b"\xff\xd8":  # JPEG: scan marker segments for APP1
        i = 2
        while i + 4 <= len(data):
            if data[i] != 0xFF:
                break
            marker = data[i + 1]
            if marker == 0xD9 or marker == 0xDA:
                break  # EOI / entropy data: no APP1 ahead of the scan
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
            seg = data[i + 4 : i + 2 + seg_len]
            if marker == 0xE1 and seg[: len(_EXIF_HEADER)] == _EXIF_HEADER:
                tiff = seg[len(_EXIF_HEADER) :]
                break
            i += 2 + seg_len
    elif data[: len(_EXIF_HEADER)] == _EXIF_HEADER:
        tiff = data[len(_EXIF_HEADER) :]
    elif data[:4] in (b"II*\x00", b"MM\x00*"):
        tiff = data
    if tiff is None or len(tiff) < 8:
        return None
    if tiff[:2] == b"II":
        bo = "<"
    elif tiff[:2] == b"MM":
        bo = ">"
    else:
        return None
    (magic,) = struct.unpack(bo + "H", tiff[2:4])
    if magic != 42:
        return None
    (ifd0_off,) = struct.unpack(bo + "I", tiff[4:8])
    try:
        ifd0 = _walk_ifd(tiff, bo, ifd0_off)
    except (ValueError, struct.error):
        return None
    sub: dict[int, object] = {}
    ptr = ifd0.get(TAG_EXIF_IFD)
    if isinstance(ptr, int):
        try:
            sub = _walk_ifd(tiff, bo, ptr)
        except (ValueError, struct.error):
            sub = {}
    exp = sub.get(TAG_EXPOSURE)
    return {
        "make": ifd0.get(TAG_MAKE),
        "model": ifd0.get(TAG_MODEL),
        "orientation": ifd0.get(TAG_ORIENTATION),
        "datetime": ifd0.get(TAG_DATETIME),
        "exposure_num": exp[0] if isinstance(exp, tuple) else None,
        "exposure_den": exp[1] if isinstance(exp, tuple) else None,
        "iso": sub.get(TAG_ISO),
        "pixel_x": sub.get(TAG_PIXEL_X),
        "pixel_y": sub.get(TAG_PIXEL_Y),
    }
