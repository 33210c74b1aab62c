"""Pure-numpy baseline grayscale JPEG codec: roundtrips through the
real bitstream (markers -> Huffman -> dequant -> IDCT), restart
markers, the multimodal decode integration, and the clearly-marked
unsupported-feature boundary."""

import numpy as np
import pytest

from aml_entity_resolution_assignment_spark.functions import jpeg as J


def _grad(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return ((yy * 3 + xx * 2) % 256).astype(np.uint8)


def test_constant_gray_blocks_bitexact():
    """All-ones quant: constant 8x8 blocks survive encode->decode
    bit-exactly."""
    for v in (0, 1, 37, 128, 200, 255):
        img = np.full((16, 24), v, dtype=np.uint8)
        dec = J.decode_jpeg(J.encode_jpeg_gray(img))
        assert dec.shape == img.shape and (dec == v).all(), v


def test_gray_roundtrip_near_lossless():
    rng = np.random.Generator(np.random.PCG64(7))
    img = rng.integers(0, 256, (40, 56), dtype=np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg_gray(img))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2


def test_gray_std_quant_lossy_psnr():
    img = _grad(48, 64)
    dec = J.decode_jpeg(J.encode_jpeg_gray(img, J.STD_LUMA_QUANT))
    mse = ((dec.astype(float) - img.astype(float)) ** 2).mean()
    assert 10 * np.log10(255**2 / mse) > 30


def test_gray_odd_dimensions():
    rng = np.random.Generator(np.random.PCG64(3))
    img = rng.integers(0, 256, (13, 21), dtype=np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg_gray(img))
    assert dec.shape == (13, 21)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2


def test_restart_markers_roundtrip():
    rng = np.random.Generator(np.random.PCG64(5))
    img = rng.integers(0, 256, (24, 40), dtype=np.uint8)  # 15 MCUs
    for interval in (1, 2, 4, 7):
        payload = J.encode_jpeg_gray(img, restart_interval=interval)
        assert b"\xff\xdd" in payload  # DRI present
        dec = J.decode_jpeg(payload)
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2, interval


def test_unsupported_features_raise_clearly():
    with pytest.raises(ValueError, match="SOI"):
        J.decode_jpeg(b"\x89PNG\r\n")
    # lossless (SOF3) stays a marked boundary
    bad = bytearray(J.encode_jpeg_gray(np.zeros((8, 8), np.uint8)))
    idx = bytes(bad).find(b"\xff\xc0")
    bad[idx + 1] = 0xC3
    with pytest.raises(NotImplementedError, match="lossless"):
        J.decode_jpeg(bytes(bad))
    bad[idx + 1] = 0xC9  # arithmetic-coded
    with pytest.raises(NotImplementedError, match="arithmetic"):
        J.decode_jpeg(bytes(bad))
    bad[idx + 1] = 0xC2  # progressive
    with pytest.raises(NotImplementedError, match="progressive"):
        J.decode_jpeg(bytes(bad))
    bad[idx + 1] = 0xC0
    bad[idx + 9] = 3  # component count of the SOF0 segment
    with pytest.raises(NotImplementedError, match="colour"):
        J.decode_jpeg(bytes(bad))


def test_byte_stuffing_paths():
    """Values that force 0xFF bytes in the entropy stream roundtrip
    (writer stuffs 0x00, reader unstuffs)."""
    rng = np.random.Generator(np.random.PCG64(11))
    for seed in range(4):
        img = rng.integers(0, 256, (16, 16), dtype=np.uint8)
        dec = J.decode_jpeg(J.encode_jpeg_gray(img))
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2


def test_multimodal_decode_image_jpeg_integration():
    from aml_entity_resolution_assignment_spark.operators.multimodal import (
        _image_feature,
    )

    img = np.full((16, 16), 77, dtype=np.uint8)
    feat = _image_feature(J.encode_jpeg_gray(img), dim=16)
    assert feat.shape == (16,)
    assert np.allclose(feat, 77 / 255.0)
