"""MP4 / ISO-BMFF (ISO/IEC 14496-12) box-structure metadata.

STRUCTURAL parsing only — no codec decode: at crawl scale the
high-value video signals (duration, dimensions, track layout, codec
fourcc, brand) live entirely in the box tree, so a 100 TB video
sweep reads a few KB of `moov` per file and never touches `mdat`.
This mirrors the WAT philosophy (metadata without payload) for the
video column.

Implemented from the public box grammar:

  * box header: u32 size + 4cc type; size==1 -> u64 largesize;
    size==0 -> box extends to end of file
  * containers recursed: moov trak mdia minf stbl edts udta
  * full boxes read: ftyp (major/minor/compatible brands),
    mvhd v0/v1 (movie timescale/duration), tkhd v0/v1 (track id,
    duration, 16.16 fixed width/height), mdhd v0/v1 (media
    timescale/duration, packed ISO-639 language), hdlr (handler
    4cc), stsd (first sample-entry fourcc + count), stts (sample
    count from the run-length table), stsz (sample count / constant
    size)

`build_mp4` is the in-repo test muxer (the encoder-for-decoder
pattern): a deterministic single-track
file with real ftyp/moov/mdat layout, so roundtrip tests and the
multimodal oracle pin the parser against independently-constructed
bytes.

Everything raises Mp4Error on truncated/malformed structure rather
than guessing.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

_CONTAINERS = {
    b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"udta"
}


class Mp4Error(ValueError):
    pass


@dataclass
class TrackMeta:
    track_id: int | None = None
    handler: str | None = None
    duration: int | None = None  # in MOVIE timescale (tkhd)
    media_timescale: int | None = None
    media_duration: int | None = None
    language: str | None = None
    width: float | None = None
    height: float | None = None
    codec: str | None = None
    n_sample_entries: int | None = None
    n_samples: int | None = None
    const_sample_size: int | None = None


@dataclass
class Mp4Meta:
    major_brand: str | None = None
    minor_version: int | None = None
    compatible_brands: list[str] = field(default_factory=list)
    timescale: int | None = None
    duration: int | None = None
    tracks: list[TrackMeta] = field(default_factory=list)

    @property
    def duration_seconds(self) -> float | None:
        if self.timescale and self.duration is not None:
            return self.duration / self.timescale
        return None


def iter_boxes(data: bytes, start: int = 0, end: int | None = None):
    """Yield (type 4cc bytes, payload offset, payload end) for each
    top-level box in data[start:end]."""
    end = len(data) if end is None else end
    off = start
    while off < end:
        if off + 8 > end:
            raise Mp4Error(f"truncated box header at {off}")
        size = struct.unpack_from(">I", data, off)[0]
        btype = data[off + 4 : off + 8]
        hdr = 8
        if size == 1:
            if off + 16 > end:
                raise Mp4Error("truncated largesize")
            size = struct.unpack_from(">Q", data, off + 8)[0]
            hdr = 16
        elif size == 0:
            size = end - off
        if size < hdr or off + size > end:
            raise Mp4Error(
                f"box {btype!r} size {size} overruns parent at {off}"
            )
        yield btype, off + hdr, off + size
        off += size


def _need(off: int, end: int, n: int, what: str) -> None:
    if end - off < n:
        raise Mp4Error(f"{what} box too short ({end - off} < {n})")


def _full(data: bytes, off: int, end: int, need_v0: int, need_v1: int):
    _need(off, end, 4, "full")
    v = data[off]
    _need(off, end, 4 + (need_v1 if v == 1 else need_v0), "full")
    return v, off + 4  # version byte + 3 flag bytes consumed


def _read_mvhd(data, off, end, meta: Mp4Meta):
    v, p = _full(data, off, end, 16, 28)
    if v == 1:
        meta.timescale = struct.unpack_from(">I", data, p + 16)[0]
        meta.duration = struct.unpack_from(">Q", data, p + 20)[0]
    else:
        meta.timescale = struct.unpack_from(">I", data, p + 8)[0]
        meta.duration = struct.unpack_from(">I", data, p + 12)[0]


def _read_tkhd(data, off, end, t: TrackMeta):
    v, p = _full(data, off, end, 80, 92)
    if v == 1:
        t.track_id = struct.unpack_from(">I", data, p + 16)[0]
        t.duration = struct.unpack_from(">Q", data, p + 24)[0]
        p2 = p + 32
    else:
        t.track_id = struct.unpack_from(">I", data, p + 8)[0]
        t.duration = struct.unpack_from(">I", data, p + 16)[0]
        p2 = p + 20
    # reserved(8) layer(2) alt(2) volume(2) reserved(2) matrix(36)
    p2 += 8 + 2 + 2 + 2 + 2 + 36
    w, h = struct.unpack_from(">II", data, p2)
    t.width = w / 65536.0
    t.height = h / 65536.0


def _read_mdhd(data, off, end, t: TrackMeta):
    v, p = _full(data, off, end, 18, 30)
    if v == 1:
        t.media_timescale = struct.unpack_from(">I", data, p + 16)[0]
        t.media_duration = struct.unpack_from(">Q", data, p + 20)[0]
        p2 = p + 28
    else:
        t.media_timescale = struct.unpack_from(">I", data, p + 8)[0]
        t.media_duration = struct.unpack_from(">I", data, p + 12)[0]
        p2 = p + 16
    packed = struct.unpack_from(">H", data, p2)[0]
    t.language = "".join(
        chr(0x60 + ((packed >> s) & 0x1F)) for s in (10, 5, 0)
    )


def _read_stsd(data, off, end, t: TrackMeta):
    _, p = _full(data, off, end, 4, 4)
    t.n_sample_entries = struct.unpack_from(">I", data, p)[0]
    if t.n_sample_entries > 0 and p + 12 <= end:
        t.codec = data[p + 8 : p + 12].decode("ascii", "replace")


def _read_stts(data, off, end, t: TrackMeta):
    _, p = _full(data, off, end, 4, 4)
    n = struct.unpack_from(">I", data, p)[0]
    _need(p + 4, end, 8 * n, "stts")
    total = 0
    for i in range(n):
        cnt = struct.unpack_from(">I", data, p + 4 + 8 * i)[0]
        total += cnt
    t.n_samples = total


def _read_stsz(data, off, end, t: TrackMeta):
    _, p = _full(data, off, end, 8, 8)
    const, n = struct.unpack_from(">II", data, p)
    t.const_sample_size = const if const else None
    if t.n_samples is None:
        t.n_samples = n


def parse_mp4(data: bytes) -> Mp4Meta:
    """Parse the box tree and return the structural metadata."""
    meta = Mp4Meta()

    def walk(start, end, track: TrackMeta | None):
        for btype, poff, pend in iter_boxes(data, start, end):
            if btype == b"ftyp":
                _need(poff, pend, 8, "ftyp")
                meta.major_brand = data[poff : poff + 4].decode(
                    "ascii", "replace"
                )
                meta.minor_version = struct.unpack_from(
                    ">I", data, poff + 4
                )[0]
                meta.compatible_brands = [
                    data[i : i + 4].decode("ascii", "replace")
                    for i in range(poff + 8, pend, 4)
                ]
            elif btype == b"mvhd":
                _read_mvhd(data, poff, pend, meta)
            elif btype == b"trak":
                t = TrackMeta()
                meta.tracks.append(t)
                walk(poff, pend, t)
            elif btype in _CONTAINERS:
                walk(poff, pend, track)
            elif track is not None:
                if btype == b"tkhd":
                    _read_tkhd(data, poff, pend, track)
                elif btype == b"mdhd":
                    _read_mdhd(data, poff, pend, track)
                elif btype == b"hdlr":
                    track.handler = data[poff + 8 : poff + 12].decode(
                        "ascii", "replace"
                    )
                elif btype == b"stsd":
                    _read_stsd(data, poff, pend, track)
                elif btype == b"stts":
                    _read_stts(data, poff, pend, track)
                elif btype == b"stsz":
                    _read_stsz(data, poff, pend, track)

    walk(0, len(data), None)
    return meta


# ---------------------------------------------------------------- muxer


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _lang_pack(lang: str) -> int:
    v = 0
    for ch in lang:
        v = (v << 5) | (ord(ch) - 0x60)
    return v


def build_mp4(
    width: int,
    height: int,
    duration: int,
    timescale: int = 90000,
    track_id: int = 1,
    handler: str = "vide",
    codec: str = "avc1",
    n_samples: int = 1,
    sample_size: int = 4,
    major_brand: str = "isom",
    language: str = "und",
    payload: bytes = b"\x00\x00\x00\x00",
) -> bytes:
    """Deterministic single-track MP4 for tests/oracles: real
    ftyp + moov(mvhd trak(tkhd mdia(mdhd hdlr minf(stbl(stsd stts
    stsz stco))))) + mdat layout, v0 full boxes."""
    ftyp = _box(
        b"ftyp",
        major_brand.encode() + struct.pack(">I", 0) + b"isomiso2",
    )
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, duration)
        + struct.pack(">I", 0x00010000)
        + struct.pack(">H", 0x0100)
        + b"\x00" * 10
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", track_id + 1),
    )
    tkhd = _box(
        b"tkhd",
        b"\x00\x00\x00\x07"
        + struct.pack(">II", 0, 0)
        + struct.pack(">I", track_id)
        + b"\x00" * 4
        + struct.pack(">I", duration)
        + b"\x00" * 8
        + struct.pack(">hhhh", 0, 0, 0, 0)
        + _UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _box(
        b"mdhd",
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, duration)
        + struct.pack(">HH", _lang_pack(language), 0),
    )
    hdlr = _box(
        b"hdlr",
        b"\x00\x00\x00\x00"
        + b"\x00" * 4
        + handler.encode()
        + b"\x00" * 12
        + b"spark-graft\x00",
    )
    entry = _box(codec.encode(), b"\x00" * 8 + struct.pack(">H", 1) + b"\x00" * 68)
    stsd = _box(
        b"stsd", b"\x00\x00\x00\x00" + struct.pack(">I", 1) + entry
    )
    stts = _box(
        b"stts",
        b"\x00\x00\x00\x00"
        + struct.pack(">I", 1)
        + struct.pack(">II", n_samples, max(1, duration // max(1, n_samples))),
    )
    stsz = _box(
        b"stsz",
        b"\x00\x00\x00\x00" + struct.pack(">II", sample_size, n_samples),
    )
    stco = _box(
        b"stco", b"\x00\x00\x00\x00" + struct.pack(">II", 1, 0)
    )
    stbl = _box(b"stbl", stsd + stts + stsz + stco)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    mdat = _box(b"mdat", payload)
    return ftyp + moov + mdat


_UNITY_MATRIX = struct.pack(
    ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)
