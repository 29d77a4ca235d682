"""Lossy WebP (VP8 key frames, optional ALPH plane) through the engine's
libwebp binding, operators/vp8l.py ``decode_webp``.

libwebp decodes; these tests pin what the binding adds: every quality
and shape comes back as an (H, W, 4) array in row/column order close to
the input, the alpha plane (coded losslessly by libwebp's default
encoder) comes back exact, the real-world python.webp decodes to the
canvas the engine's own container parser reports, and corrupt or inter
frames raise ValueError.
"""

from __future__ import annotations

import ctypes
import struct

import numpy as np
import pytest

from impala_cut_spark.operators.vp8l import decode_webp

PYWEBP = (
    "/root/.pyenv/versions/3.13.0/lib/python3.13/test/"
    "test_email/data/python.webp"
)


@pytest.fixture(scope="module")
def libwebp():
    lw = ctypes.CDLL("libwebp.so.7")
    lw.WebPEncodeRGBA.restype = ctypes.c_size_t
    lw.WebPEncodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.c_char_p),
    ]
    return lw


def _enc(lw, img: np.ndarray, q: float) -> bytes:
    img = np.ascontiguousarray(img.astype(np.uint8))
    h, w = img.shape[:2]
    out = ctypes.c_char_p()
    n = lw.WebPEncodeRGBA(img.tobytes(), w, h, w * 4, q, ctypes.byref(out))
    assert n > 0
    return ctypes.string_at(out, n)


def _opaque(rgb: np.ndarray) -> np.ndarray:
    return np.dstack([rgb, np.full(rgb.shape[:2] + (1,), 255, np.uint8)])


def _err(got: np.ndarray, img: np.ndarray) -> float:
    return float(np.abs(got[..., :3].astype(int) - img[..., :3]).mean())


def test_quality_sweep(libwebp):
    """q0-q100 on a photo: every quality decodes to the input's shape,
    opaque, with mean error falling as quality rises."""
    from impala_cut_spark.operators.imagelibs import decode_jpeg

    kit = decode_jpeg(
        open("/opt/spark/data/mllib/images/origin/kittens/54893.jpg", "rb").read()
    )
    img = _opaque(kit[:128, :160])
    errs = []
    for q in (0, 10, 35, 50, 75, 95, 100):
        got = decode_webp(_enc(libwebp, img, float(q)))
        assert got.shape == img.shape and (got[..., 3] == 255).all(), q
        errs.append(_err(got, img))
    assert errs == sorted(errs, reverse=True) and errs[0] < 8, errs


def test_shapes_and_content(libwebp):
    """Odd dimensions (partial edge MBs), single MB, flat (half
    transparent), gradient, tall/wide strips and noise keep their
    (H, W) and alpha; smooth content stays close to the input."""
    rng = np.random.default_rng(9)
    gy_, gx_ = np.mgrid[0:48, 0:80]
    grad = np.stack(
        [gx_ * 3 % 256, gy_ * 5 % 256, (gx_ + gy_) % 256, np.full_like(gx_, 255)], 2
    )
    smooth = [(np.full((16, 16, 4), 128, np.uint8), 75), (grad, 75)]
    noise = [
        (_opaque(rng.integers(0, 256, shape, np.uint8)), q)
        for shape, q in (((17, 33, 3), 50), ((23, 37, 3), 60),
                         ((129, 17, 3), 70), ((16, 257, 3), 70),
                         ((3, 5, 3), 60))
    ]
    for img, q in smooth + noise:
        got = decode_webp(_enc(libwebp, img, float(q)))
        assert got.shape == img.shape and (got[..., 3] == img[..., 3]).all()
    for img, q in smooth:
        assert _err(decode_webp(_enc(libwebp, img, float(q))), img) < 4


def test_real_python_webp():
    """CPython's python.webp (VP8X + lossless ALPH + VP8) decodes to the
    canvas the engine's webp_metadata parser reads, with transparency."""
    from impala_cut_spark.operators.multimodal import webp_metadata

    try:
        data = open(PYWEBP, "rb").read()
    except OSError:
        pytest.skip("stdlib python.webp not present")
    meta = webp_metadata(data)
    got = decode_webp(data)
    assert got.shape == (meta["height"], meta["width"], 4)
    assert meta["has_alpha"] and (got[..., 3] == 0).any() and (got[..., 3] == 255).any()


def test_corrupt_and_inter_frames_rejected():
    def riff(vp8: bytes) -> bytes:
        chunk = b"VP8 " + struct.pack("<I", len(vp8)) + vp8 + b"\x00" * (len(vp8) & 1)
        return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    with pytest.raises(ValueError):
        decode_webp(riff(b"\x00\x00\x00BAD"))  # bad start code
    with pytest.raises(ValueError):  # inter-frame tag bit
        decode_webp(riff(b"\x01\x00\x00\x9d\x01\x2a\x10\x00\x10\x00" + b"\x00" * 8))
    with pytest.raises(ValueError):
        decode_webp(riff(b""))


def test_lossy_alpha_via_decode_webp(libwebp):
    """Lossy RGB with an alpha plane: libwebp's default encoder codes
    alpha losslessly (raw for noise, VP8L for smooth planes), so the
    decoded alpha equals the input's."""
    rng = np.random.default_rng(12)
    gy, gx = np.mgrid[0:64, 0:48]
    for alpha in (
        (gx * 4 % 256).astype(np.uint8),
        rng.integers(0, 256, (64, 48), np.uint8),
    ):
        img = np.dstack([rng.integers(0, 256, (64, 48, 3), np.uint8), alpha])
        got = decode_webp(_enc(libwebp, img, 75.0))
        assert got.shape == img.shape and (got[..., 3] == alpha).all()
