"""VP8L lossless WebP codec (functions/webp.py): every decoder path
roundtripped through a controlled encoder mode — literals, color
cache, LZ77 row copies, and each of the four transforms — plus
container/corruption handling and the lossy-VP8 boundary."""

import struct

import numpy as np
import pytest

from aml_entity_resolution_assignment_spark.functions.webp import (
    _BitReader,
    _BitWriter,
    _lz77_sym,
    _lz77_value,
    _PrefixCode,
    _PrefixEncoder,
    _complete_two_level,
    decode_webp,
    encode_webp,
)


def _rgba(shape, seed=0):
    return np.random.default_rng(seed).integers(
        0, 256, (*shape, 4), dtype=np.uint8
    )


class TestPrimitives:
    def test_bit_io_roundtrip(self):
        bw = _BitWriter()
        vals = [(5, 3), (1, 1), (900, 14), (0, 2), (0x2F, 8), (12345, 17)]
        for v, n in vals:
            bw.write(v, n)
        br = _BitReader(bw.finish())
        for v, n in vals:
            assert br.read(n) == v

    def test_prefix_code_roundtrip(self):
        lengths = _complete_two_level(280, 8)
        enc = _PrefixEncoder(lengths)
        dec = _PrefixCode(lengths)
        bw = _BitWriter()
        syms = list(range(0, 280, 7))
        for s in syms:
            enc.write(bw, s)
        br = _BitReader(bw.finish())
        for s in syms:
            assert dec.decode(br) == s

    def test_lz77_sym_inverse(self):
        for v in list(range(1, 70)) + [127, 128, 500, 4096]:
            sym, bits, extra = _lz77_sym(v)
            bw = _BitWriter()
            bw.write(extra, bits)
            br = _BitReader(bw.finish() or b"\x00")
            assert _lz77_value(br, sym) == v, v


class TestRoundtrips:
    def test_literal_only(self):
        img = _rgba((7, 11), seed=1)
        np.testing.assert_array_equal(decode_webp(encode_webp(img)), img)

    def test_color_cache(self):
        # few distinct colors -> cache hits dominate
        rng = np.random.default_rng(2)
        colors = rng.integers(0, 256, (4, 4), dtype=np.uint8)
        img = colors[rng.integers(0, 4, (16, 16))]
        out = decode_webp(encode_webp(img, cache_bits=4))
        np.testing.assert_array_equal(out, img)

    def test_lz77_row_copies(self):
        img = np.tile(_rgba((1, 13), seed=3), (9, 1, 1))
        out = decode_webp(encode_webp(img, lz77_rows=True))
        np.testing.assert_array_equal(out, img)

    def test_lz77_with_cache(self):
        img = np.tile(_rgba((2, 8), seed=4), (5, 1, 1))
        out = decode_webp(encode_webp(img, cache_bits=3, lz77_rows=True))
        np.testing.assert_array_equal(out, img)

    def test_subtract_green(self):
        img = _rgba((6, 9), seed=5)
        out = decode_webp(encode_webp(img, subtract_green=True))
        np.testing.assert_array_equal(out, img)

    @pytest.mark.parametrize("mode", list(range(14)))
    def test_predictor_modes(self, mode):
        """All 14 spec predictors roundtrip (forward computes the same
        prediction from original neighbors as the decoder does from
        reconstructed ones)."""
        img = _rgba((9, 7), seed=6 + mode)
        out = decode_webp(encode_webp(img, predictor_mode=mode))
        np.testing.assert_array_equal(out, img)

    def test_lz77_plane_code_distance(self):
        """Row copy emitted as plane code (0, 1) instead of the 1D
        distance — exercises the 120-entry mapping table path."""
        img = np.tile(_rgba((1, 12), seed=40), (6, 1, 1))
        out = decode_webp(encode_webp(img, lz77_rows=True, plane_dist=True))
        np.testing.assert_array_equal(out, img)

    def test_color_transform(self):
        img = _rgba((8, 8), seed=9)
        for deltas in ((0, 0, 0), (16, -16, 5), (-128, 127, 64)):
            out = decode_webp(encode_webp(img, color_deltas=deltas))
            np.testing.assert_array_equal(out, img, err_msg=str(deltas))

    def test_stacked_transforms(self):
        img = _rgba((10, 6), seed=10)
        out = decode_webp(
            encode_webp(
                img,
                subtract_green=True,
                predictor_mode=1,
                color_deltas=(8, -4, 2),
                cache_bits=2,
            )
        )
        np.testing.assert_array_equal(out, img)

    @pytest.mark.parametrize("n_colors", [2, 4, 13, 40])
    def test_color_indexing_with_packing(self, n_colors):
        rng = np.random.default_rng(20 + n_colors)
        pal_rgba = rng.integers(0, 256, (n_colors, 4), dtype=np.uint8)
        pal = (
            (pal_rgba[:, 3].astype(np.uint32) << 24)
            | (pal_rgba[:, 0].astype(np.uint32) << 16)
            | (pal_rgba[:, 1].astype(np.uint32) << 8)
            | pal_rgba[:, 2].astype(np.uint32)
        )
        pal = np.unique(pal)  # palette entries must be distinct
        idx = rng.integers(0, len(pal), (11, 13))
        argb = pal[idx]
        img = np.stack(
            [
                (argb >> 16) & 0xFF,
                (argb >> 8) & 0xFF,
                argb & 0xFF,
                (argb >> 24) & 0xFF,
            ],
            axis=-1,
        ).astype(np.uint8)
        out = decode_webp(encode_webp(img, palette=pal))
        np.testing.assert_array_equal(out, img)

    def test_single_pixel_and_row(self):
        for shape in ((1, 1), (1, 9), (9, 1)):
            img = _rgba(shape, seed=shape[0] * 10 + shape[1])
            np.testing.assert_array_equal(decode_webp(encode_webp(img)), img)


class TestMetaPrefix:
    def test_two_group_meta_prefix_stream(self):
        """Hand-assembled VP8L stream with a meta prefix image mapping
        the left 4x4 tile to group 0 and the right tile to group 1.
        Group 1 uses SIMPLE 2-symbol codes only valid for the right
        half's two colors — decode succeeds only if per-tile group
        selection works."""
        from aml_entity_resolution_assignment_spark.functions.webp import (
            _complete_two_level,
            _emit_image_stream,
            decode_vp8l,
        )

        w, h, meta_bits = 8, 4, 2
        rng = np.random.default_rng(50)
        left = rng.integers(0, 256, (h, 4, 4), dtype=np.uint8)
        c1, c2 = (10, 20, 30, 40), (200, 150, 100, 255)
        right_choice = rng.integers(0, 2, (h, 4))
        bw = _BitWriter()
        bw.write(0x2F, 8)
        bw.write(w - 1, 14)
        bw.write(h - 1, 14)
        bw.write(0, 1)
        bw.write(0, 3)
        bw.write(0, 1)  # no transforms
        bw.write(0, 1)  # no color cache
        bw.write(1, 1)  # meta prefix present
        bw.write(meta_bits - 2, 3)
        # entropy image 2x1: group ids 0 and 1 in (r<<8 | g)
        meta_px = np.array([0xFF000000, 0xFF000100], dtype=np.uint32)
        _emit_image_stream(bw, meta_px)

        # group 0: two-level codes for everything
        def full_headers():
            encs = []
            for n, short in ((280, 8), (256, 8), (256, 8), (256, 8), (40, 5)):
                lengths = (
                    [short] * n if n == 256 else _complete_two_level(n, short)
                )
                bw.write(0, 1)  # not simple
                from aml_entity_resolution_assignment_spark.functions.webp import (
                    _PrefixEncoder,
                    _write_code_lengths,
                )

                _write_code_lengths(bw, lengths)
                encs.append(_PrefixEncoder(lengths))
            return encs

        g0 = full_headers()

        # group 1: simple 2-symbol codes per channel (g/r/b/a), single-
        # symbol dist
        def simple2(sym_a, sym_b):
            lo, hi = min(sym_a, sym_b), max(sym_a, sym_b)
            bw.write(1, 1)  # simple
            bw.write(1, 1)  # two symbols
            bw.write(1, 1)  # first symbol in 8 bits
            bw.write(lo, 8)
            bw.write(hi, 8)
            return {lo: (0, 1), hi: (1, 1)}

        g1 = {
            "g": simple2(c1[1], c2[1]),
            "r": simple2(c1[0], c2[0]),
            "b": simple2(c1[2], c2[2]),
            "a": simple2(c1[3], c2[3]),
        }
        bw.write(1, 1)  # dist: simple single-symbol
        bw.write(0, 1)
        bw.write(0, 1)
        bw.write(0, 1)  # symbol 0 in 1 bit

        def emit_simple(codes, sym):
            code, ln = codes[sym]
            bw.write(code, ln)

        expected = np.zeros((h, w, 4), dtype=np.uint8)
        for y in range(h):
            for x in range(w):
                if x < 4:
                    r, g, b, a = left[y, x]
                    expected[y, x] = (r, g, b, a)
                    g0[0].write(bw, int(g))
                    g0[1].write(bw, int(r))
                    g0[2].write(bw, int(b))
                    g0[3].write(bw, int(a))
                else:
                    r, g, b, a = c1 if right_choice[y, x - 4] == 0 else c2
                    expected[y, x] = (r, g, b, a)
                    emit_simple(g1["g"], g)
                    emit_simple(g1["r"], r)
                    emit_simple(g1["b"], b)
                    emit_simple(g1["a"], a)
        out = decode_vp8l(bw.finish())
        np.testing.assert_array_equal(out, expected)


class TestBoundary:
    def test_lossy_vp8_chunk_raises_not_implemented(self):
        riff = b"WEBP" + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4
        payload = b"RIFF" + struct.pack("<I", len(riff)) + riff
        with pytest.raises(NotImplementedError, match="lossy WebP"):
            decode_webp(payload)

    def test_corrupt_rejected(self):
        payload = encode_webp(_rgba((8, 8), seed=30))
        with pytest.raises(ValueError):
            decode_webp(b"JUNK" + payload[4:])
        for cut in range(12, len(payload) - 1, 3):
            try:
                decode_webp(payload[:cut])
            except ValueError:
                pass  # only ValueError may escape

    def test_multimodal_dispatch(self):
        from aml_entity_resolution_assignment_spark.operators.multimodal import (
            _decode_image,
        )

        img = _rgba((16, 16), seed=31)
        out = _decode_image(encode_webp(img, subtract_green=True))
        np.testing.assert_array_equal(out, img)


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
