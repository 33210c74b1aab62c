"""AIFF and Sun AU audio containers (pure struct + numpy).

Completes the uncompressed-audio container set next to functions/
wav.py (RIFF little-endian): AIFF is the
big-endian IFF form (Apple), AU the historical Unix format still
common in archival crawls. Both decode to (samples int32 ndarray
[n, ch], samplerate, bits); normalizing by 2**(bits-1) lands on
decode_wav's [-1, 1] float convention, so the audio feature stage is
container-agnostic.

Implemented from the public specs:

  * AIFF (EA IFF 85 / Audio IFF 1.3): FORM/AIFF chunk walk, COMM
    (channels, frame count, sample width, sample rate as an 80-bit
    IEEE 754 extended float — parsed exactly: sign/15-bit exponent/
    explicit-integer-bit 64-bit mantissa), SSND offset/blockSize,
    big-endian two's-complement PCM at 8/16/24/32 bits
  * AU (.snd): magic, data offset/size, encoding 1 = G.711 mu-law
    (shared _ULAW tables from functions/wav.py), 2/3/4/5 = linear
    8/16/24/32-bit big-endian PCM, sample rate, channels

Encoders exist for both (the repo's encoder-for-decoder test
pattern). Malformed structure raises AudioContainerError.
"""

from __future__ import annotations

import struct

import numpy as np

from aml_entity_resolution_assignment_spark.functions.wav import (
    _ULAW,
    ulaw_encode,
)


class AudioContainerError(ValueError):
    pass


# ------------------------------------------------- 80-bit extended float


def _ext80_decode(b: bytes) -> float:
    """IEEE 754 extended (80-bit, m68k/SANE layout): 1 sign, 15 exp
    (bias 16383), 64-bit mantissa with EXPLICIT integer bit."""
    if len(b) != 10:
        raise AudioContainerError("extended float needs 10 bytes")
    se = struct.unpack(">H", b[:2])[0]
    mant = struct.unpack(">Q", b[2:])[0]
    sign = -1.0 if se & 0x8000 else 1.0
    exp = se & 0x7FFF
    if exp == 0 and mant == 0:
        return 0.0
    return sign * mant * 2.0 ** (exp - 16383 - 63)


def _ext80_encode(x: float) -> bytes:
    if x == 0:
        return b"\x00" * 10
    sign = 0x8000 if x < 0 else 0
    x = abs(x)
    exp = 16383 + 63
    # normalize so the explicit integer bit (bit 63) is set
    while x >= 1 << 64:
        x /= 2.0
        exp += 1
    while x < 1 << 63:
        x *= 2.0
        exp -= 1
    return struct.pack(">HQ", sign | exp, int(round(x)))


# --------------------------------------------------------------- AIFF


def encode_aiff(
    samples: np.ndarray, samplerate: int, sample_width: int = 16
) -> bytes:
    """samples: int array [n] or [n, ch], big-endian PCM out."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    nbytes = sample_width // 8
    comm = struct.pack(">hIh", ch, n, sample_width) + _ext80_encode(
        float(samplerate)
    )
    raw = s.astype(">i4").tobytes() if nbytes == 4 else b""
    if nbytes != 4:
        full = s.astype(np.int64)
        data = bytearray()
        for v in full.flatten():
            data += int(v).to_bytes(nbytes, "big", signed=True)
        raw = bytes(data)
    ssnd = struct.pack(">II", 0, 0) + raw
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
        + (b"\x00" if len(ssnd) % 2 else b"")
    )
    return b"FORM" + struct.pack(">I", len(body)) + body


def decode_aiff(payload: bytes) -> tuple[np.ndarray, int, int]:
    if payload[:4] != b"FORM" or payload[8:12] != b"AIFF":
        raise AudioContainerError("not an AIFF FORM")
    off = 12
    end = 8 + struct.unpack(">I", payload[4:8])[0]
    comm = ssnd = None
    while off + 8 <= min(end, len(payload)):
        cid = payload[off : off + 4]
        size = struct.unpack(">I", payload[off + 4 : off + 8])[0]
        body = payload[off + 8 : off + 8 + size]
        if len(body) < size:
            raise AudioContainerError(f"truncated chunk {cid!r}")
        if cid == b"COMM":
            comm = body
        elif cid == b"SSND":
            ssnd = body
        off += 8 + size + (size & 1)  # chunks are word-aligned
    if comm is None or ssnd is None:
        raise AudioContainerError("missing COMM or SSND")
    ch, n, width = struct.unpack(">hIh", comm[:8])
    rate = _ext80_decode(comm[8:18])
    nbytes = width // 8
    if nbytes not in (1, 2, 3, 4):
        raise AudioContainerError(f"unsupported sample width {width}")
    data_off = struct.unpack(">I", ssnd[:4])[0]
    raw = ssnd[8 + data_off : 8 + data_off + n * ch * nbytes]
    if len(raw) < n * ch * nbytes:
        raise AudioContainerError("truncated SSND payload")
    if nbytes == 3:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
        x = (b[:, 0] << 16) | (b[:, 1] << 8) | b[:, 2]
        x = np.where(x >= 1 << 23, x - (1 << 24), x)
    else:
        x = np.frombuffer(raw, dtype=f">i{nbytes}").astype(np.int64)
    return x.reshape(n, ch).astype(np.int32), int(round(rate)), width


# ----------------------------------------------------------------- AU

_AU_LINEAR = {2: 1, 3: 2, 4: 3, 5: 4}  # encoding -> bytes/sample


def encode_au(
    samples: np.ndarray,
    samplerate: int,
    encoding: int = 3,
) -> bytes:
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if encoding == 1:
        raw = ulaw_encode(s.flatten().astype(np.int64)).tobytes()
    elif encoding in _AU_LINEAR:
        nb = _AU_LINEAR[encoding]
        if nb in (2, 4):
            raw = s.astype(f">i{nb}").tobytes()
        else:
            data = bytearray()
            for v in s.astype(np.int64).flatten():
                data += int(v).to_bytes(nb, "big", signed=True)
            raw = bytes(data)
    else:
        raise AudioContainerError(f"unsupported AU encoding {encoding}")
    return (
        b".snd"
        + struct.pack(">IIIII", 24, len(raw), encoding, samplerate, ch)
        + raw
    )


def decode_au(payload: bytes) -> tuple[np.ndarray, int, int]:
    if payload[:4] != b".snd":
        raise AudioContainerError("not an AU file")
    off, size, enc, rate, ch = struct.unpack(">IIIII", payload[4:24])
    raw = payload[off : off + size]
    if len(raw) < size:
        raise AudioContainerError("truncated AU payload")
    if enc == 1:
        x = _ULAW[np.frombuffer(raw, dtype=np.uint8)].astype(np.int64)
    elif enc in _AU_LINEAR:
        nb = _AU_LINEAR[enc]
        if nb == 3:
            b = (
                np.frombuffer(raw, dtype=np.uint8)
                .reshape(-1, 3)
                .astype(np.int64)
            )
            x = (b[:, 0] << 16) | (b[:, 1] << 8) | b[:, 2]
            x = np.where(x >= 1 << 23, x - (1 << 24), x)
        else:
            x = np.frombuffer(raw, dtype=f">i{nb}").astype(np.int64)
    else:
        raise AudioContainerError(f"unsupported AU encoding {enc}")
    bits = 16 if enc == 1 else 8 * _AU_LINEAR[enc]
    return x.reshape(-1, ch).astype(np.int32), rate, bits
