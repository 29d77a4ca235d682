"""WebP (operators/vp8l.py): the libwebp decode binding and the
minimal VP8L encoder.

libwebp.so.7 is a runtime dependency of the engine, so these tests
load it unconditionally.  The binding must return libwebp's lossless
ENCODER output (subtract-green, predictor and color transforms,
palettes with pixel bundling, color cache, 2D-LZ77, meta prefix codes)
as the original pixels; our minimal encoder's frames must decode
byte-exactly under libwebp; hostile bytes must raise inside
``_DECODE_ERRORS``; and a missing library must fail loudly.

NOTE: libwebp's simple lossless encoder may rewrite RGB under alpha=0
pixels (non-exact cleanup), so RGB is compared only where alpha > 0.
"""

from __future__ import annotations

import ctypes
import struct

import numpy as np
import pytest

from impala_cut_spark.operators import multimodal, vp8l

pytestmark = pytest.mark.filterwarnings("ignore::DeprecationWarning")


@pytest.fixture(scope="module")
def libwebp():
    lw = ctypes.CDLL("libwebp.so.7")
    lw.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
    lw.WebPEncodeLosslessRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.c_char_p),
    ]
    lw.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_ubyte)
    lw.WebPDecodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ]
    return lw


def _lw_encode(lw, img: np.ndarray) -> bytes:
    img = np.ascontiguousarray(img.astype(np.uint8))
    h, w = img.shape[:2]
    out = ctypes.c_char_p()
    n = lw.WebPEncodeLosslessRGBA(img.tobytes(), w, h, w * 4, ctypes.byref(out))
    assert n > 0
    return ctypes.string_at(out, n)


def _lw_decode(lw, payload: bytes) -> np.ndarray:
    w, h = ctypes.c_int(), ctypes.c_int()
    ptr = lw.WebPDecodeRGBA(payload, len(payload), ctypes.byref(w), ctypes.byref(h))
    assert ptr, "libwebp rejected payload"
    return np.ctypeslib.as_array(ptr, shape=(h.value, w.value, 4)).copy()


def _cases() -> dict[str, np.ndarray]:
    rng = np.random.default_rng(3)
    from impala_cut_spark.operators.imagelibs import decode_jpeg

    kit = decode_jpeg(
        open("/opt/spark/data/mllib/images/origin/kittens/54893.jpg", "rb").read()
    )
    gy, gx = np.mgrid[0:64, 0:64]
    grad = np.stack(
        [gx * 4 % 256, gy * 4 % 256, (gx + gy) * 2 % 256, np.full_like(gx, 255)],
        axis=2,
    )
    pal3 = np.array(
        [[250, 10, 10, 255], [10, 250, 10, 255], [10, 10, 250, 255]], np.uint8
    )
    pal13 = rng.integers(0, 256, (13, 4), np.uint8)
    pal13[:, 3] = 255
    pal200 = rng.integers(0, 256, (200, 4), np.uint8)
    photo = np.dstack([kit[:256, :300], np.full((256, 300, 1), 255, np.uint8)])
    pa = photo.copy()
    pa[..., 3] = rng.integers(1, 256, size=pa.shape[:2], dtype=np.uint8)
    bic = np.where(
        (gx + gy)[:, :, None] % 2 == 0, np.uint8(10), np.uint8(200)
    ) * np.ones((64, 64, 4), np.uint8)
    bic[..., 3] = 255
    return {
        # flat/gradient: LZ77 + predictor transform
        "flat": np.full((40, 60, 4), 77, np.uint8),
        "gradient": grad.astype(np.uint8),
        # ≤2/≤4/≤16/>16 colors: color-indexing incl. every bundling width
        "bicolor": bic,
        "tricolor": pal3[rng.integers(0, 3, (33, 47))],
        "pal13": pal13[rng.integers(0, 13, (29, 31))],
        "pal200": pal200[rng.integers(0, 200, (50, 50))],
        # photographic: subtract-green + predictor + color transform +
        # meta prefix codes; the tiled one adds long-range 2D LZ77
        "photo": np.ascontiguousarray(photo),
        "photo-alpha": np.ascontiguousarray(pa),
        "big-tiled": np.ascontiguousarray(
            np.dstack(
                [np.tile(kit, (3, 3, 1))[:700, :800],
                 np.full((700, 800, 1), 255, np.uint8)]
            )
        ),
        # degenerate shapes
        "1x1": rng.integers(0, 256, (1, 1, 4), np.uint8),
        "1x300": (rng.integers(0, 4, (1, 300, 4), np.uint8) * 60),
        "300x1": (rng.integers(0, 4, (300, 1, 4), np.uint8) * 60),
        "noise": rng.integers(0, 256, (50, 70, 4), np.uint8),
    }


def test_decodes_libwebp_lossless_output(libwebp):
    """decode_webp returns the original pixels of libwebp's lossless
    encoding across every feature family and shape (rows, columns and
    channels in order)."""
    for name, img in _cases().items():
        got = vp8l.decode_webp(_lw_encode(libwebp, img))
        assert got.shape == img.shape, name
        assert (got[..., 3] == img[..., 3]).all(), name
        seen = img[..., 3] > 0
        assert (got[seen][:, :3] == img[seen][:, :3]).all(), name


def test_libwebp_decodes_our_encoder(libwebp):
    """Other direction: our minimal VP8L frames are spec-conformant
    under the reference decoder — including mixed-length canonical
    prefix codes from skewed histograms."""
    rng = np.random.default_rng(4)
    skew = np.full((20, 50, 4), 100, np.uint8)
    skew[0, :10] = [7, 13, 19, 255]
    skew[1, :3] = [200, 201, 202, 40]
    for img in (
        rng.integers(0, 256, (9, 13, 4), np.uint8),
        (rng.integers(0, 4, (1, 300, 4), np.uint8) * 60),
        skew,
        np.full((5, 5, 4), 7, np.uint8),
    ):
        riff = vp8l.encode_webp_lossless(img)
        got = _lw_decode(libwebp, riff)
        assert (got == img).all()
        # and the engine's binding agrees
        assert (vp8l.decode_webp(riff) == img).all()


def test_decode_image_dispatch(libwebp):
    """decode_image routes RIFF/WEBP to libwebp and keeps RGB: lossless
    → exact pixels; lossy VP8 with an ALPH plane (CPython's
    python.webp) → libwebp's RGB."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (8, 11, 3), np.uint8)
    rgba = np.dstack([img, np.full((8, 11, 1), 255, np.uint8)])
    payload = _lw_encode(libwebp, rgba)
    got = multimodal.decode_image(payload)
    assert got.shape == (8, 11, 3) and (got == img).all()
    lossy = (
        "/root/.pyenv/versions/3.13.0/lib/python3.13/test/"
        "test_email/data/python.webp"
    )
    try:
        data = open(lossy, "rb").read()
    except OSError:
        pytest.skip("stdlib python.webp not present")
    got = multimodal.decode_image(data)
    ref = _lw_decode(libwebp, data)[..., :3]
    assert got.shape == ref.shape and (got == ref).all()


def test_hypothesis_roundtrip():
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        st.integers(1, 12), st.integers(1, 12), st.integers(0, 2 ** 32 - 1),
        st.sampled_from([2, 4, 256]),
    )
    def rt(w, h, seed, vals):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, vals, (h, w, 4), np.uint8) * (255 // (vals - 1))
        assert (vp8l.decode_webp(vp8l.encode_webp_lossless(img)) == img).all()

    rt()

    # larger low-color frames cross the cost gate into the palette arm
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        st.integers(17, 45), st.integers(17, 45),
        st.integers(0, 2 ** 32 - 1), st.sampled_from([2, 3, 4, 16, 200]),
    )
    def rt_palette(w, h, seed, vals):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, vals, (h, w, 4), np.uint8) * (255 // max(vals - 1, 1))
        assert (vp8l.decode_webp(vp8l.encode_webp_lossless(img)) == img).all()

    rt_palette()


def test_corrupt_streams_rejected():
    def riff(body: bytes) -> bytes:
        chunk = b"VP8L" + struct.pack("<I", len(body)) + body
        chunk += b"\x00" * (len(body) & 1)
        return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    with pytest.raises(ValueError):
        vp8l.decode_webp(riff(b"\x00junk"))
    good = bytearray(vp8l.encode_vp8l(np.full((4, 4, 3), 9, np.uint8)))
    good[9] ^= 0xFF  # flip bits inside the prefix-code section
    with pytest.raises(ValueError):
        vp8l.decode_webp(riff(bytes(good)))
    with pytest.raises(ValueError):
        vp8l.decode_webp(b"RIFF\x04\x00\x00\x00WAVE")


def test_uniform_histogram_roundtrip(libwebp):
    """All 256 symbols of a channel equally frequent → every code
    length 8 → the code-length code has a SINGLE symbol.  The r10
    encoder emitted 1 bit per length there while decoders consume 0,
    desyncing the stream silently (ADVICE r10, medium).  The fix pads
    the code-length code with a dummy 1-bit symbol; libwebp must now
    round-trip the frame."""
    ramp = np.arange(256, dtype=np.uint8).reshape(16, 16)
    img = np.stack([ramp, ramp.T, ramp[::-1], ramp[:, ::-1]], axis=-1)
    riff = vp8l.encode_webp_lossless(img)
    assert (vp8l.decode_webp(riff) == img).all()
    assert (_lw_decode(libwebp, riff) == img).all()


def test_truncated_chunk_rejected():
    """A RIFF size field pointing past the payload must fail loudly,
    not decode a partial image (ADVICE r10, low)."""
    good = vp8l.encode_webp_lossless(np.full((4, 4, 3), 9, np.uint8))
    with pytest.raises(ValueError, match="libwebp rejected"):
        vp8l.decode_webp(good[:-3])
    bad = bytearray(good)
    bad[16:20] = (2 ** 30).to_bytes(4, "little")  # VP8L chunk size
    with pytest.raises(ValueError, match="libwebp rejected"):
        vp8l.decode_webp(bytes(bad))


def test_webp_metadata_truncated_chunk_rejected():
    """webp_metadata must not report a phantom canvas from a truncated
    VP8X/VP8L chunk (short slices int.from_bytes to zeros) — round-11
    hardening, same policy as the animation demuxer."""
    from impala_cut_spark.operators.multimodal import webp_metadata

    good = vp8l.encode_webp_lossless(np.full((6, 5, 3), 3, np.uint8))
    meta = webp_metadata(good)
    assert (meta["width"], meta["height"]) == (5, 6)
    with pytest.raises(ValueError, match="truncated chunk"):
        webp_metadata(good[:-2])


def test_palette_encoding_all_bundle_tiers(libwebp):
    """Round-11 encoder arm: ≤256-color images take the color-indexing
    transform with pixel bundling (8/4/2/1 px per coded byte).  Each
    tier must round-trip through libwebp, at odd widths that leave a
    partial packed byte at row end."""
    rng = np.random.default_rng(12)
    for n_colors, shape in ((2, (17, 23)), (4, (19, 21)), (16, (40, 41)),
                            (200, (23, 17)), (1, (15, 29))):
        pal = rng.integers(0, 256, (max(n_colors, 1), 4), np.uint8)
        pal = np.unique(pal, axis=0)  # distinct rows
        idx = rng.integers(0, len(pal), shape)
        img = pal[idx]  # (h, w, 4)
        body = vp8l.encode_vp8l(img)
        riff = vp8l.encode_webp_lossless(img)
        assert (vp8l.decode_webp(riff) == img).all(), n_colors
        assert (_lw_decode(libwebp, riff) == img).all(), n_colors
        if len(pal) <= 16:
            # the transform flag is stream bit 40 (after the 8-bit
            # signature, 2x14-bit dims, alpha hint, 3-bit version):
            # byte 5, bit 0 — it must be SET on the bundled arm
            assert body[5] & 1, n_colors
    # tiny images stay on the plain arm (table overhead dominates)
    tiny = rng.integers(0, 256, (4, 4, 3), np.uint8)
    tbody = vp8l.encode_vp8l(tiny)
    assert not (tbody[5] & 1)  # no transform
    assert (multimodal.decode_image(vp8l.encode_webp_lossless(tiny)) == tiny).all()


# -- hostile bytes -------------------------------------------------------------


def _riff(*chunks: tuple[bytes, bytes]) -> bytes:
    body = b"".join(
        four + struct.pack("<I", len(b)) + b + b"\x00" * (len(b) & 1)
        for four, b in chunks
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


def _hostile() -> dict[str, bytes]:
    good = vp8l.encode_webp_lossless(np.full((4, 4, 3), 9, np.uint8))
    past_end = bytearray(good)
    past_end[16:20] = (2 ** 30).to_bytes(4, "little")  # VP8L chunk size
    lw = ctypes.CDLL("libwebp.so.7")
    lw.WebPEncodeRGBA.restype = ctypes.c_size_t
    lw.WebPEncodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.c_char_p),
    ]
    rgba = np.random.default_rng(7).integers(0, 256, (8, 8, 4), np.uint8)
    out = ctypes.c_char_p()
    n = lw.WebPEncodeRGBA(rgba.tobytes(), 8, 8, 32, 75.0, ctypes.byref(out))
    lossy = ctypes.string_at(out, n)  # VP8X + ALPH + VP8
    alpha_junk = bytearray(lossy)
    i = lossy.index(b"ALPH") + 8
    alpha_junk[i : i + 21] = b"\x01" + b"\xa5" * 20
    frames = [np.full((4, 4, 4), 200, np.uint8)] * 2
    anim = vp8l.encode_webp_anim(frames, [10, 10])
    oversized = bytearray(anim)  # VP8X canvas 2x2 under 4x4 frames
    i = anim.index(b"VP8X") + 12
    oversized[i : i + 6] = (1).to_bytes(3, "little") * 2
    huge = bytes([0x2F]) + (16382 | 16382 << 14).to_bytes(4, "little")
    return {
        "truncated-riff": good[: len(good) // 2],
        "chunk-past-end": bytes(past_end),
        "junk-vp8": _riff((b"VP8 ", bytes(range(20)))),
        "junk-vp8l": _riff((b"VP8L", b"\x2f" + b"\xff" * 20)),
        "junk-alph": bytes(alpha_junk),
        "animation-to-still": anim,
        "anmf-exceeds-canvas": bytes(oversized),
        "vp8l-16383-square": _riff((b"VP8L", huge + bytes(27))),
    }


HOSTILE = _hostile()
#: a well-formed animation is hostile only to the still path
STILL_ONLY = {"animation-to-still"}


@pytest.fixture(scope="module")
def hostile_frames(spark):
    from impala_cut_spark.operators.multimodal import animation_frames

    names = sorted(HOSTILE)
    df = spark.createDataFrame(
        [(i, bytearray(HOSTILE[n])) for i, n in enumerate(names)],
        "asset_id bigint, payload binary",
    )
    rows: dict[str, list] = {n: [] for n in names}
    for r in animation_frames(df).collect():
        rows[names[r.asset_id]].append(r)
    return rows


@pytest.mark.parametrize("name", sorted(HOSTILE))
def test_hostile_webp_bytes(name, hostile_frames):
    """ROADMAP aim 3: every hostile WebP payload raises inside
    _DECODE_ERRORS on the still path and the animation path, and
    animation_frames degrades it to one parse_ok=false row."""
    payload = HOSTILE[name]
    with pytest.raises(multimodal._DECODE_ERRORS):
        multimodal.decode_image(payload)
    if name in STILL_ONLY:
        assert all(r.parse_ok for r in hostile_frames[name])
        return
    with pytest.raises(multimodal._DECODE_ERRORS):
        vp8l.decode_webp_anim(payload)
    (row,) = hostile_frames[name]
    assert row.parse_ok is False and row.frame_idx == -1


def test_corrupt_anmf_frame_raises_its_own_error(monkeypatch):
    """A corrupt frame inside a well-formed animation raises from that
    frame's decode; the whole payload is not re-decoded as a still."""
    frames = [np.full((4, 4, 4), v, np.uint8) for v in (40, 120, 200)]
    anim = bytearray(vp8l.encode_webp_anim(frames, [10, 10, 10]))
    third = [i for i in range(len(anim)) if anim[i : i + 4] == b"ANMF"][2]
    vp8l_at = third + 8 + 16 + 8  # ANMF header, then the VP8L chunk body
    assert anim[vp8l_at] == 0x2F
    anim[vp8l_at + 5 :] = b"\xff" * (len(anim) - vp8l_at - 5)
    seen: list[int] = []
    real = vp8l.decode_webp

    def spy(payload):
        seen.append(len(payload))
        return real(payload)

    monkeypatch.setattr(vp8l, "decode_webp", spy)
    with pytest.raises(ValueError, match="libwebp rejected"):
        vp8l.decode_webp_anim(bytes(anim))
    assert len(seen) == 3 and len(anim) not in seen


def test_missing_libwebp_fails_loudly(monkeypatch):
    """Without libwebp the loader's OSError is not a decode error:
    decode_image raises it and extract_features' per-asset decode does
    not degrade it to byte features."""
    import pandas as pd

    def no_library():
        raise OSError("libwebp.so.7: cannot open shared object file")

    monkeypatch.setattr(vp8l, "_libwebp", no_library)
    payload = vp8l.encode_webp_lossless(np.full((4, 4, 3), 9, np.uint8))
    assert not issubclass(OSError, multimodal._DECODE_ERRORS)
    with pytest.raises(OSError):
        multimodal.decode_image(payload)

    class _Plan:  # stands in for fan_out(assets): hands back the batch fn
        def mapInPandas(self, fn, schema):
            return fn

    monkeypatch.setattr(multimodal, "fan_out", lambda assets: _Plan())
    extract = multimodal.extract_features(None)
    batch = pd.DataFrame(
        {"asset_id": [1], "modality": ["image"], "payload": [payload]}
    )
    with pytest.raises(OSError):
        list(extract(iter([batch])))
    # the same batch function still serves PNG without libwebp
    png = multimodal.encode_png(np.full((2, 2, 3), 5, np.uint8))
    out = next(extract(iter([batch.assign(payload=[png])])))
    assert out["n_bytes"].tolist() == [len(png)]
