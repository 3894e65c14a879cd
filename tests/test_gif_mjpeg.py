"""GIF codec (lucene_spark.gif — GIF-variant LZW, interlace, palettes,
transparency) and MJPEG-AVI container (multimodal.encode_mjpeg_avi /
decode_mjpeg_avi — RIFF walk + per-frame T.81 JPEG), plus the Spark
frame_sample kernel over a real compressed video column."""

import struct

import numpy as np
import pytest

from lucene_spark.gif import decode_gif, encode_gif, gif_frames
from lucene_spark.multimodal import (
    decode_image,
    decode_mjpeg_avi,
    decode_video,
    encode_mjpeg_avi,
)

PAL = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255],
                [10, 20, 30], [200, 200, 0]], np.uint8)


def _paletted(h, w, ncol=5, seed=0):
    idx = np.random.RandomState(seed).randint(0, ncol, (h, w))
    return PAL[:ncol][idx]


def test_gif_roundtrip_exact():
    img = _paletted(33, 47)
    np.testing.assert_array_equal(decode_gif(encode_gif(img)), img)


def test_gif_interlaced_roundtrip():
    img = _paletted(29, 15, seed=3)
    np.testing.assert_array_equal(
        decode_gif(encode_gif(img, interlaced=True)), img)


def test_gif_256_colors_and_lzw_reset():
    rng = np.random.RandomState(9)
    g = rng.randint(0, 256, (120, 90), dtype=np.uint8)
    img = np.stack([g, 255 - g, (g * 7) % 256], axis=2).astype(np.uint8)
    np.testing.assert_array_equal(decode_gif(encode_gif(img)), img)


def test_gif_transparency_composites_background():
    img = _paletted(10, 10, seed=1)
    data = encode_gif(img, transparent_color=(255, 0, 0))
    out = decode_gif(data)
    m = (img == np.array([255, 0, 0])).all(axis=2)
    # non-transparent pixels preserved; transparent ones = background entry
    np.testing.assert_array_equal(out[~m], img[~m])
    _, _, rgb, mask = next(gif_frames(data))
    assert mask is not None and mask.sum() == m.sum()


def _oversize_frame(data: bytes, screen_w: int, screen_h: int,
                    left: int = 0, top: int = 0) -> bytes:
    """Shrink the logical screen of a single-frame ``encode_gif`` stream
    and move its frame, so the frame descriptor runs past the screen."""
    out = bytearray(data)
    out[6:10] = struct.pack("<HH", screen_w, screen_h)
    desc = 13 + 3 * (2 << (out[10] & 7))  # past the global color table
    if out[desc] == 0x21:  # graphic-control extension
        desc += 8
    out[desc + 1 : desc + 5] = struct.pack("<HH", left, top)
    return bytes(out)


@pytest.mark.parametrize("left,top", [(0, 0), (4, 3), (12, 0)])
def test_gif_frame_clipped_to_screen(left, top):
    img = _paletted(10, 10, seed=4)
    out = decode_gif(_oversize_frame(encode_gif(img), 8, 6, left, top))
    assert out.shape == (6, 8, 3)
    vis = out[top:, left:]
    np.testing.assert_array_equal(vis, img[: vis.shape[0], : vis.shape[1]])


def test_gif_transparent_frame_clipped_to_screen():
    img = _paletted(10, 10, seed=1)
    data = encode_gif(img, transparent_color=(255, 0, 0))
    out = decode_gif(_oversize_frame(data, 7, 9, 2, 1))
    assert out.shape == (9, 7, 3)
    vis, src = out[1:, 2:], img[:8, :5]
    m = (src == np.array([255, 0, 0])).all(axis=2)
    np.testing.assert_array_equal(vis[~m], src[~m])


def test_gif_too_many_colors_rejected():
    rng = np.random.RandomState(2)
    img = rng.randint(0, 256, (32, 32, 3), np.uint8)  # ~1024 distinct
    with pytest.raises(ValueError):
        encode_gif(img)


def test_gif_not_gif_rejected():
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF")


def test_decode_image_dispatches_gif():
    img = _paletted(9, 11, seed=4)
    np.testing.assert_array_equal(decode_image(encode_gif(img)), img)


# ------------------------------------------------------------- MJPEG AVI


def _frames(n=6, h=16, w=24):
    y, x = np.mgrid[0:h, 0:w]
    return np.stack([
        np.clip(np.stack([x * 6 + 10 * i, y * 5, x * 3 + y * 3], axis=2),
                0, 255).astype(np.uint8)
        for i in range(n)])


def test_mjpeg_avi_roundtrip():
    frames = _frames()
    data = encode_mjpeg_avi(frames, fps=12, quality=95)
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI "
    dec, fps = decode_mjpeg_avi(data)
    assert fps == 12
    assert dec.shape == frames.shape
    assert np.abs(dec.astype(int) - frames.astype(int)).mean() < 2.0


def test_decode_video_dispatch():
    frames = _frames(3)
    dec, _ = decode_video(encode_mjpeg_avi(frames, quality=95))
    assert dec.shape == frames.shape
    from lucene_spark.multimodal import encode_rawvideo

    dec2, fps2 = decode_video(encode_rawvideo(frames, fps=7))
    np.testing.assert_array_equal(dec2, frames)
    assert fps2 == 7
    with pytest.raises(NotImplementedError):
        decode_video(b"\x00\x00\x01\xba mpeg-ps??????")


def test_frame_sample_over_mjpeg_avi_column(spark):
    from lucene_spark.multimodal import frame_sample

    frames = _frames(10)
    rows = [(i, bytearray(encode_mjpeg_avi(frames, quality=95)))
            for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = frame_sample(df, every_n=4).toPandas()
    # 10 frames sampled every 4 -> frames 0, 4, 8 per doc
    assert sorted(out.frame_idx.unique().tolist()) == [0, 4, 8]
    assert len(out) == 4 * 3
    assert (out.width == 24).all() and (out.height == 16).all()
