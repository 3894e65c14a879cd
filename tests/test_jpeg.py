"""Baseline JPEG codec (lucene_spark.jpeg — ITU-T T.81 sequential DCT,
pure numpy): encode/decode roundtrips across color modes, quality levels,
subsampling, restart markers, odd sizes; subset rejections; lossy-error
bounds appropriate to each configuration."""

import struct

import numpy as np
import pytest

from lucene_spark.jpeg import (
    K1_CHROMA, K1_LUMA, ZIGZAG, _quality_tables, decode_jpeg, encode_jpeg,
)


def _gradient(h, w):
    y, x = np.mgrid[0:h, 0:w]
    return np.clip(np.stack([x * 6, y * 5, x * 3 + y * 3], axis=2),
                   0, 255).astype(np.uint8)


def _err(a, b):
    return np.abs(a.astype(int) - b.astype(int))


def test_zigzag_is_a_permutation():
    assert sorted(ZIGZAG.tolist()) == list(range(64))


def test_uniform_color_is_near_exact():
    for c in ((0, 0, 0), (255, 255, 255), (128, 64, 200)):
        img = np.tile(np.array(c, np.uint8), (16, 24, 1))
        out = decode_jpeg(encode_jpeg(img, quality=95))
        assert _err(out, img).max() <= 2


@pytest.mark.parametrize("h,w", [(8, 8), (16, 16), (17, 23), (40, 33), (7, 5)])
def test_gradient_roundtrip_sizes(h, w):
    img = _gradient(h, w)
    out = decode_jpeg(encode_jpeg(img, quality=92))
    assert out.shape == (h, w, 3)
    assert _err(out, img).mean() < 2.0
    assert _err(out, img).max() <= 12


def test_grayscale_roundtrip():
    y, _ = np.mgrid[0:24, 0:17]
    g = np.clip(y * 9, 0, 255).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(g, quality=95))
    assert out.shape == (24, 17, 3)
    assert (out[:, :, 0] == out[:, :, 1]).all()
    assert _err(out[:, :, 0], g).max() <= 3


def test_subsampled_420_roundtrip():
    img = _gradient(32, 32)
    out = decode_jpeg(encode_jpeg(img, quality=92, subsample=True))
    assert out.shape == img.shape
    assert _err(out, img).mean() < 4.0


@pytest.mark.parametrize("dri", [1, 2, 5])
def test_restart_markers(dri):
    img = _gradient(40, 33)
    data = encode_jpeg(img, quality=92, restart_interval=dri)
    assert b"\xff\xdd" in data  # DRI segment present
    out = decode_jpeg(data)
    assert _err(out, img).max() <= 12


def test_quality_monotonicity():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (24, 24, 3), np.uint8)
    errs = []
    sizes = []
    for q in (95, 70, 30):
        data = encode_jpeg(img, quality=q)
        sizes.append(len(data))
        errs.append(_err(decode_jpeg(data), img).mean())
    assert errs[0] <= errs[1] <= errs[2]
    assert sizes[0] >= sizes[1] >= sizes[2]


def test_progressive_rejected():
    img = _gradient(8, 8)
    data = bytearray(encode_jpeg(img))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(data))


def test_not_jpeg_rejected():
    with pytest.raises(ValueError):
        decode_jpeg(b"hello world")
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # SOI+EOI, no scan


def test_byte_stuffing_roundtrip():
    """An image tuned to produce 0xFF bytes in the entropy stream still
    roundtrips (0xFF00 stuffing on encode, unstuffing on decode)."""
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (48, 48, 3), np.uint8)
    data = encode_jpeg(img, quality=85)
    out = decode_jpeg(data)
    # noise at q85 is lossy; bound loosely, the point is structural survival
    assert out.shape == img.shape
    assert _err(out, img).mean() < 30


def test_decoder_reads_own_dims_from_sof():
    img = _gradient(19, 11)
    data = encode_jpeg(img)
    i = data.find(b"\xff\xc0")
    h, w = struct.unpack_from(">HH", data, i + 5)
    assert (h, w) == (19, 11)


def _dqt_tables(data: bytes) -> dict[int, list[int]]:
    """Table id → the 64 8-bit DQT elements, as stored (zigzag order)."""
    out, i = {}, 2
    while i < len(data) and data[i + 1] != 0xDA:
        marker = data[i + 1]
        (ln,) = struct.unpack_from(">H", data, i + 2)
        if marker == 0xDB:
            body = data[i + 4 : i + 2 + ln]
            out[body[0] & 0x0F] = list(body[1:65])
        i += 2 + ln
    return out


@pytest.mark.parametrize("quality", [50, 75, 92])
def test_dqt_is_scaled_annex_k_in_zigzag_order(quality):
    img = _gradient(24, 24)
    data = encode_jpeg(img, quality=quality)
    qluma, qchroma = _quality_tables(quality)
    tables = _dqt_tables(data)
    assert tables[0] == qluma[ZIGZAG].tolist()
    assert tables[1] == qchroma[ZIGZAG].tolist()
    # K1 is natural (row-major) order: the zigzag stream's 3rd element is
    # row 1, column 0 — 12 in Annex K's luminance table, not K1_LUMA[2] = 10
    if quality == 50:
        assert tables[0][:3] == [16, 11, 12] and K1_LUMA[8] == 12
        assert tables[1][:3] == [17, 18, 18] and K1_CHROMA[8] == 18
    assert _err(decode_jpeg(data), img).max() <= 12
