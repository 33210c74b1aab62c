"""Property-based roundtrips for the pure-numpy codecs (hypothesis):
arbitrary shapes, channel counts, filter/transform modes. Every
property is a strict equality roundtrip — the codecs are lossless
(JPEG excluded: DCT quantization is lossy by design)."""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aml_entity_resolution_assignment_spark.functions.gif import (
    decode_gif,
    encode_gif,
)
from aml_entity_resolution_assignment_spark.functions.png import (
    decode_png,
    encode_png,
)
from aml_entity_resolution_assignment_spark.functions.wav import (
    decode_wav,
    encode_wav,
)
from aml_entity_resolution_assignment_spark.functions.webp import (
    decode_webp,
    encode_webp,
)

_sizes = st.integers(min_value=1, max_value=23)
_seeds = st.integers(min_value=0, max_value=2**31 - 1)
_common = dict(
    deadline=None, suppress_health_check=[HealthCheck.too_slow], max_examples=25
)


def _img(h, w, channels, seed):
    rng = np.random.default_rng(seed)
    shape = (h, w) if channels == 1 else (h, w, channels)
    return rng.integers(0, 256, shape, dtype=np.uint8)


@settings(**_common)
@given(
    h=_sizes,
    w=_sizes,
    channels=st.sampled_from([1, 2, 3, 4]),
    ftype=st.sampled_from([0, 1, 2, 3, 4, "cycle"]),
    interlace=st.booleans(),
    seed=_seeds,
)
def test_png_roundtrip(h, w, channels, ftype, interlace, seed):
    img = _img(h, w, channels, seed)
    out = decode_png(encode_png(img, filter_type=ftype, interlace=interlace))
    np.testing.assert_array_equal(out, img)


@settings(**_common)
@given(
    h=_sizes,
    w=_sizes,
    n_colors=st.integers(min_value=2, max_value=256),
    interlace=st.booleans(),
    n_frames=st.integers(min_value=1, max_value=3),
    seed=_seeds,
)
def test_gif_roundtrip(h, w, n_colors, interlace, n_frames, seed):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    frames = rng.integers(0, n_colors, (n_frames, h, w), dtype=np.uint8)
    decoded, _ = decode_gif(
        encode_gif(frames, pal, interlace=interlace and n_frames == 1)
    )
    assert decoded.shape == (n_frames, h, w, 3)
    for i in range(n_frames):
        np.testing.assert_array_equal(decoded[i], pal[frames[i]])


@settings(**_common)
@given(
    h=_sizes,
    w=_sizes,
    cache_bits=st.sampled_from([0, 2, 5]),
    subtract_green=st.booleans(),
    predictor=st.one_of(st.none(), st.integers(min_value=0, max_value=13)),
    seed=_seeds,
)
def test_webp_roundtrip(h, w, cache_bits, subtract_green, predictor, seed):
    img = _img(h, w, 4, seed)
    payload = encode_webp(
        img,
        cache_bits=cache_bits,
        subtract_green=subtract_green,
        predictor_mode=predictor,
    )
    np.testing.assert_array_equal(decode_webp(payload), img)


@settings(**_common)
@given(
    n=st.integers(min_value=1, max_value=600),
    ch=st.integers(min_value=1, max_value=3),
    bits=st.sampled_from([8, 16, 24, 32]),
    seed=_seeds,
)
def test_wav_roundtrip_exact_integers(n, ch, bits, seed):
    """Integer PCM roundtrips exactly at the stored quantization."""
    rng = np.random.default_rng(seed)
    if bits == 8:
        ints = rng.integers(0, 256, (n, ch), dtype=np.int64)
        expected = (ints - 128.0) / 128.0
    else:
        lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
        ints = rng.integers(lo, hi + 1, (n, ch), dtype=np.int64)
        expected = ints / float(1 << (bits - 1))
    out, rate = decode_wav(encode_wav(ints, sample_rate=8000, bits=bits))
    assert rate == 8000
    np.testing.assert_allclose(out, expected, atol=0, rtol=0)


if __name__ == "__main__":
    import pytest

    raise SystemExit(pytest.main([__file__, "-x", "-q"]))


@settings(**_common)
@given(
    h=_sizes,
    w=_sizes,
    depth=st.sampled_from([1, 2, 4]),
    ftype=st.sampled_from([0, 1, 2, 3, 4, "cycle"]),
    interlace=st.booleans(),
    palette=st.booleans(),
    seed=_seeds,
)
def test_png_subbyte_roundtrip(h, w, depth, ftype, interlace, palette, seed):
    from aml_entity_resolution_assignment_spark.functions.png import (
        encode_png_subbyte,
    )

    rng = np.random.default_rng(seed)
    s = rng.integers(0, 1 << depth, (h, w)).astype(np.uint8)
    pal = (
        rng.integers(0, 256, (1 << depth, 3)).astype(np.uint8)
        if palette
        else None
    )
    out = decode_png(
        encode_png_subbyte(
            s, depth, palette=pal, filter_type=ftype, interlace=interlace
        )
    )
    want = pal[s] if palette else s * (255 // ((1 << depth) - 1))
    np.testing.assert_array_equal(out, want)
