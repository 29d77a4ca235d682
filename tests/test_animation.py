"""Animation layer (GIF89a + animated WebP) — demux, composition,
mux round-trips, and the animation_frames operator.

Independent anchors: the JDK ImageIO GIF reader (through the test
session's JVM) decodes every frame of the engine's own animated-GIF
mux (raster parity per frame), and libwebp decodes every ANMF frame
the WebP demuxer slices out (RGBA parity per frame).  Composition rules (blend,
dispose-to-background, restore-previous, GIF transparency) are
asserted against hand-computed canvases from the container specs.
"""

from __future__ import annotations

import ctypes

import numpy as np
import pytest

from impala_cut_spark.operators.imagelibs import decode_gif_frames
from impala_cut_spark.operators.multimodal import animation_frames, encode_gif_anim
from impala_cut_spark.operators.vp8l import (
    decode_webp_anim,
    encode_webp_anim,
    webp_frames,
)


def _solid(h, w, rgba):
    out = np.zeros((h, w, len(rgba)), dtype=np.uint8)
    out[..., :] = rgba
    return out


class TestWebpAnim:
    def test_roundtrip_no_blend_no_dispose(self):
        rng = np.random.default_rng(5)
        frames = [rng.integers(0, 256, (6, 9, 4), dtype=np.uint8) for _ in range(4)]
        for f in frames:
            f[..., 3] = 255
        p = encode_webp_anim(frames, [10, 20, 30, 40], loop=3)
        anim = webp_frames(p)
        assert (anim["w"], anim["h"], anim["loop"]) == (9, 6, 3)
        out = decode_webp_anim(p)
        assert [d for _, d in out] == [10, 20, 30, 40]
        for (canvas, _), f in zip(out, frames):
            assert np.array_equal(canvas, f)

    def test_demux_frames_match_libwebp(self):
        """Each ANMF sub-bitstream the demuxer slices out must decode
        to the same RGBA via libwebp — independent validation of the
        chunk walk, sizes, and the VP8L frame payloads."""
        lw = ctypes.CDLL("libwebp.so.7")
        rng = np.random.default_rng(6)
        frames = [rng.integers(0, 256, (8, 8, 4), dtype=np.uint8) for _ in range(3)]
        p = encode_webp_anim(frames, [10, 10, 10])
        anim = webp_frames(p)
        lw.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
        lw.WebPFree.argtypes = [ctypes.c_void_p]
        from impala_cut_spark.operators.vp8l import encode_webp_lossless

        for fr, orig in zip(anim["frames"], frames):
            assert np.array_equal(fr["rgba"], orig)
            # hand the demuxed frame to libwebp in a standalone wrapper
            payload = encode_webp_lossless(fr["rgba"])
            w = ctypes.c_int()
            h = ctypes.c_int()
            ptr = lw.WebPDecodeRGBA(payload, len(payload),
                                    ctypes.byref(w), ctypes.byref(h))
            assert ptr
            n = w.value * h.value * 4
            got = np.ctypeslib.as_array(ptr, shape=(n,)).reshape(
                h.value, w.value, 4).copy()
            lw.WebPFree(ptr)
            assert np.array_equal(got, fr["rgba"])

    def test_dispose_clears_frame_rect(self):
        base = _solid(4, 4, (10, 20, 30, 255))
        patch = _solid(2, 2, (200, 0, 0, 255))
        p = encode_webp_anim([base, patch], [10, 10],
                             offsets=[(0, 0), (2, 2)], dispose=True)
        out = decode_webp_anim(p)
        assert np.array_equal(out[0][0], base)
        exp = np.zeros((4, 4, 4), np.uint8)
        exp[2:, 2:] = (200, 0, 0, 255)
        assert np.array_equal(out[1][0], exp)

    def test_blend_alpha_over(self):
        base = _solid(2, 2, (100, 100, 100, 255))
        # second frame: half-transparent red over the canvas
        top = _solid(2, 2, (200, 0, 0, 128))
        p = encode_webp_anim([base, top], [10, 10], blend=True)
        out = decode_webp_anim(p)
        got = out[1][0]
        # spec over-composite: a=1, fa=128/255
        fa = 128 / 255
        exp_r = round(200 * fa + 100 * (1 - fa))
        assert got[0, 0, 3] == 255
        assert abs(int(got[0, 0, 0]) - exp_r) <= 1
        assert abs(int(got[0, 0, 1]) - round(100 * (1 - fa))) <= 1

    def test_overwrite_vs_blend_with_transparent_frame(self):
        base = _solid(2, 2, (50, 60, 70, 255))
        clear = _solid(2, 2, (0, 0, 0, 0))
        # no blend: transparent frame OVERWRITES -> canvas transparent
        p = encode_webp_anim([base, clear], [10, 10], blend=False)
        assert (decode_webp_anim(p)[1][0] == 0).all()
        # blend: transparent frame leaves the canvas untouched
        p = encode_webp_anim([base, clear], [10, 10], blend=True)
        assert np.array_equal(decode_webp_anim(p)[1][0], base)

    def test_still_image_falls_back_to_single_frame(self):
        from impala_cut_spark.operators.vp8l import encode_webp_lossless

        img = _solid(3, 5, (1, 2, 3, 255))
        out = decode_webp_anim(encode_webp_lossless(img))
        assert len(out) == 1 and out[0][1] == 0
        assert np.array_equal(out[0][0], img)

    def test_malformed_containers_raise(self):
        with pytest.raises(ValueError):
            webp_frames(b"RIFF\x00\x00\x00\x00WEBPJUNK")
        img = _solid(2, 2, (9, 9, 9, 255))
        p = encode_webp_anim([img], [10])
        with pytest.raises(ValueError):
            webp_frames(p[:-5])  # truncated final chunk
        with pytest.raises(ValueError):
            encode_webp_anim([img], [10], offsets=[(1, 0)])  # odd offset


    def test_lossy_vp8_frames(self):
        """ANMF frames carrying lossy VP8 (+ALPH) bitstreams decode
        through the same path as lossless ones: two libwebp-encoded
        stills muxed by hand come back with their durations, the
        canvas shape and pixels close to the input."""
        import struct

        lw = ctypes.CDLL("libwebp.so.7")
        lw.WebPEncodeRGBA.restype = ctypes.c_size_t
        lw.WebPEncodeRGBA.argtypes = [
            ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
            ctypes.c_float, ctypes.POINTER(ctypes.c_char_p),
        ]

        def lossy_still(img):
            out = ctypes.c_char_p()
            n = lw.WebPEncodeRGBA(
                np.ascontiguousarray(img).tobytes(), img.shape[1],
                img.shape[0], img.shape[1] * 4, 90.0, ctypes.byref(out))
            assert n > 0
            return ctypes.string_at(out, n)

        def chunk(fourcc, body):
            return (fourcc + struct.pack("<I", len(body)) + body
                    + (b"\x00" if len(body) & 1 else b""))

        def inner_chunks(riff):
            # keep ALPH/VP8/VP8L sub-chunks, drop any VP8X
            pos, keep = 12, b""
            while pos + 8 <= len(riff):
                fc = riff[pos:pos + 4]
                (sz,) = struct.unpack_from("<I", riff, pos + 4)
                if fc in (b"ALPH", b"VP8 ", b"VP8L"):
                    keep += riff[pos:pos + 8 + sz + (sz & 1)]
                pos += 8 + sz + (sz & 1)
            return keep

        w, h = 16, 10
        gy, gx = np.mgrid[0:h, 0:w]
        opaque = [
            np.stack([gx * 15, gy * 25, np.full_like(gx, c), np.full_like(gx, 255)],
                     axis=-1).astype(np.uint8)
            for c in (40, 200)
        ]
        parts = [chunk(b"VP8X", bytes([0x02, 0, 0, 0])
                       + (w - 1).to_bytes(3, "little")
                       + (h - 1).to_bytes(3, "little")),
                 chunk(b"ANIM", b"\x00\x00\x00\x00\x00\x00")]
        for img, dur in zip(opaque, (40, 60)):
            hdr = (bytes(3) + bytes(3)
                   + (w - 1).to_bytes(3, "little")
                   + (h - 1).to_bytes(3, "little")
                   + dur.to_bytes(3, "little") + bytes([0x02]))
            parts.append(chunk(b"ANMF", hdr + inner_chunks(lossy_still(img))))
        body = b"WEBP" + b"".join(parts)
        out = decode_webp_anim(b"RIFF" + struct.pack("<I", len(body)) + body)
        assert [d for _, d in out] == [40, 60]
        for (canvas, _), img in zip(out, opaque):
            assert canvas.shape == (h, w, 4) and (canvas[..., 3] == 255).all()
            assert np.abs(canvas.astype(int) - img).mean() < 4


class TestGifAnim:
    def test_roundtrip_fullscreen_frames(self):
        rng = np.random.default_rng(7)
        frames = [
            (rng.integers(0, 3, (5, 7, 1), dtype=np.uint8).repeat(3, 2) * 80)
            for _ in range(3)
        ]
        p = encode_gif_anim(frames, [5, 10, 15], loop=2)
        out = decode_gif_frames(p)
        assert [d for _, d in out] == [5, 10, 15]
        for (canvas, _), f in zip(out, frames):
            assert np.array_equal(canvas[..., :3], f)
            assert (canvas[..., 3] == 255).all()

    def test_imageio_reads_every_frame_of_our_mux(self, spark):
        """Independent reader: the JDK ImageIO GIF plugin must see the
        same frame count and identical per-frame rasters."""
        rng = np.random.default_rng(8)
        frames = [
            (rng.integers(0, 4, (6, 6, 1), dtype=np.uint8).repeat(3, 2) * 63)
            for _ in range(4)
        ]
        p = encode_gif_anim(frames, [10] * 4)
        jvm = spark._jvm
        stream = jvm.javax.imageio.ImageIO.createImageInputStream(
            jvm.java.io.ByteArrayInputStream(bytearray(p)))
        reader = jvm.javax.imageio.ImageIO.getImageReaders(stream).next()
        reader.setInput(stream)
        assert reader.getNumImages(True) == 4
        for i, f in enumerate(frames):
            bi = reader.read(i)
            h, w = f.shape[:2]
            assert (bi.getWidth(), bi.getHeight()) == (w, h)
            argb = np.array(
                bi.getRGB(0, 0, w, h, None, 0, w), dtype=np.int64
            ).reshape(h, w)
            rgb = np.stack(
                [(argb >> 16) & 255, (argb >> 8) & 255, argb & 255], axis=-1
            ).astype(np.uint8)
            assert np.array_equal(rgb, f), f"frame {i}"

    def test_disposal_restore_previous(self):
        base = _solid(3, 3, (10, 10, 10))
        patch = _solid(1, 1, (250, 0, 0))
        last = _solid(1, 1, (0, 250, 0))
        # disposal 3 on the PATCH frames: each shows, then the canvas
        # reverts to the base — so frame 3 must NOT contain frame 2's
        # patch (the base keeps disposal 0 or it would revert to the
        # transparent initial canvas itself)
        p = encode_gif_anim([base, patch, last], [1, 1, 1],
                            offsets=[(0, 0), (1, 1), (2, 2)],
                            disposal=[0, 3, 3])
        out = decode_gif_frames(p)
        assert tuple(out[1][0][1, 1, :3]) == (250, 0, 0)
        c3 = out[2][0]
        assert tuple(c3[1, 1, :3]) == (10, 10, 10)  # patch reverted
        assert tuple(c3[2, 2, :3]) == (0, 250, 0)

    def test_transparent_pixels_reveal_previous_frame(self):
        f1 = _solid(3, 3, (11, 11, 11))
        f2 = _solid(3, 3, (99, 99, 99))
        f2[1, 1] = (7, 7, 7)
        p = encode_gif_anim([f1, f2], [1, 1], transparent_rgb=(7, 7, 7))
        out = decode_gif_frames(p)
        c2 = out[1][0]
        assert tuple(c2[1, 1, :3]) == (11, 11, 11)
        assert tuple(c2[0, 2, :3]) == (99, 99, 99)

    def test_decode_gif_still_unchanged(self):
        from impala_cut_spark.operators.imagelibs import decode_gif
        from impala_cut_spark.operators.multimodal import encode_gif

        rng = np.random.default_rng(9)
        img = rng.integers(0, 5, (8, 8, 1), dtype=np.uint8).repeat(3, 2) * 50
        assert np.array_equal(decode_gif(encode_gif(img)), img)
        frames = decode_gif_frames(encode_gif(img))
        assert len(frames) == 1
        assert np.array_equal(frames[0][0][..., :3], img)


class TestAnimationFramesOperator:
    def test_rows_and_degrade(self, spark):
        webp = encode_webp_anim(
            [_solid(4, 4, (1, 2, 3, 255)), _solid(4, 4, (4, 5, 6, 255))],
            [40, 60],
        )
        gif = encode_gif_anim(
            [_solid(2, 2, (9, 9, 9)), _solid(2, 2, (8, 8, 8)),
             _solid(2, 2, (7, 7, 7))],
            [5, 5, 5],
        )
        df = spark.createDataFrame(
            [(1, bytearray(webp)), (2, bytearray(gif)), (3, b"garbage")],
            "asset_id bigint, payload binary",
        )
        rows = {(r.asset_id, r.frame_idx): r
                for r in animation_frames(df).collect()}
        assert len(rows) == 2 + 3 + 1
        assert rows[(1, 0)].codec == "webp" and rows[(1, 0)].ts_ms == 0
        assert rows[(1, 1)].ts_ms == 40
        assert rows[(1, 1)].mean_rgba == pytest.approx((4 + 5 + 6 + 255) / 4)
        assert rows[(2, 2)].codec == "gif" and rows[(2, 2)].ts_ms == 100
        assert rows[(3, -1)].parse_ok is False
        assert all(r.parse_ok for k, r in rows.items() if k[0] != 3)
