"""Codec decode-throughput bench on realistic payloads (r8 verdict
What's-wrong #2): single-core MB/s and MP/s for every image codec the
multimodal path decodes, on ~30 KB-150 KB real or realistically-encoded
images, plus a 100 TB cost extrapolation.

Rewrites only the "## Codec throughput" section of SCALE.md.

    python tools/codec_bench.py
"""

from __future__ import annotations

import struct
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from impala_cut_spark.operators.imagelibs import (  # noqa: E402
    decode_gif,
    decode_jpeg,
    decode_png,
    decode_tiff,
)
from impala_cut_spark.operators.jpeg import encode_jpeg  # noqa: E402
from impala_cut_spark.operators.multimodal import encode_gif, encode_png  # noqa: E402
from impala_cut_spark.operators.tiff import encode_tiff  # noqa: E402

KITTEN = "/opt/spark/data/mllib/images/origin/kittens/54893.jpg"
PROGRESSIVE = "/usr/share/doc/nodejs/full-white-stripe.jpg"


def _big_image() -> np.ndarray:
    """1024×768 RGB with photographic statistics: the ImageIO-validated
    kitten tiled up (same corpus as the conformance tests, scaled)."""
    base = decode_jpeg(open(KITTEN, "rb").read())
    reps = (768 // base.shape[0] + 1, 1024 // base.shape[1] + 1, 1)
    return np.ascontiguousarray(np.tile(base, reps)[:768, :1024])


def _time(fn, payload, reps: int) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn(payload)
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    img = _big_image()
    mp = img.shape[0] * img.shape[1] / 1e6
    rows = []  # (codec, payload desc, KB, decode s, MB/s, MP/s)

    def add(codec, desc, payload, fn, pixels_mp, reps=3):
        dt = _time(fn, payload, reps)
        rows.append(
            (
                codec,
                desc,
                round(len(payload) / 1e3, 1),
                round(dt, 3),
                round(len(payload) / 1e6 / dt, 3),
                round(pixels_mp / dt, 3),
            )
        )
        print(f"  {codec:18s} {desc:34s} {dt:7.3f}s "
              f"{len(payload)/1e6/dt:7.3f} MB/s", flush=True)

    k = open(KITTEN, "rb").read()
    kit = decode_jpeg(k)
    add("jpeg-baseline", "libjpeg; real 4:2:0 photo (311x300)", k, decode_jpeg,
        kit.shape[0] * kit.shape[1] / 1e6, reps=5)
    add("jpeg-baseline", "libjpeg; our q90 4:4:4, 1 MP",
        encode_jpeg(img, quality=90), decode_jpeg, mp)
    add("jpeg-multiscan", "libjpeg; our q90 non-interleaved, 1 MP",
        encode_jpeg(img, quality=90, interleave=False), decode_jpeg, mp)
    p = open(PROGRESSIVE, "rb").read()
    pr = decode_jpeg(p)
    add("jpeg-progressive", "libjpeg; real SOF2 (600x400)", p, decode_jpeg,
        pr.shape[0] * pr.shape[1] / 1e6, reps=5)
    add("png", "libpng; our filter-0, 1 MP", encode_png(img), decode_png, mp)
    # GIF needs <=256 colors: web-safe posterize keeps photo statistics
    poster = (img // 51 * 51).astype(np.uint8)
    add("gif", "libgif; our LZW 216-color, 1 MP", encode_gif(poster),
        decode_gif, mp)
    # WebP: libwebp-encoded payloads through decode_webp (libwebp's
    # own decoder behind the engine's one ctypes binding)
    import ctypes

    from impala_cut_spark.operators.vp8l import decode_webp, decode_webp_anim

    lwc = ctypes.CDLL("libwebp.so.7")
    lwc.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
    lwc.WebPEncodeLosslessRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.c_char_p)]
    lwc.WebPEncodeRGBA.restype = ctypes.c_size_t
    lwc.WebPEncodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.c_char_p)]
    rgba = np.dstack([img, np.full(img.shape[:2] + (1,), 255, np.uint8)])
    wout = ctypes.c_char_p()
    wn = lwc.WebPEncodeLosslessRGBA(
        np.ascontiguousarray(rgba).tobytes(),
        img.shape[1], img.shape[0], img.shape[1] * 4, ctypes.byref(wout))
    add("webp-lossless", "libwebp VP8L photo, 1 MP",
        ctypes.string_at(wout, wn), decode_webp, mp, reps=5)
    lout = ctypes.c_char_p()
    ln = lwc.WebPEncodeRGBA(
        np.ascontiguousarray(rgba).tobytes(),
        img.shape[1], img.shape[0], img.shape[1] * 4, 75.0,
        ctypes.byref(lout))
    add("webp-vp8", "libwebp q75 VP8 photo, 1 MP",
        ctypes.string_at(lout, ln), decode_webp, mp, reps=5)
    # animated WebP: 8 quarter-MP lossy frames through the Python ANMF
    # walk and composition, each frame decoded by libwebp
    qimg = np.ascontiguousarray(rgba[:500, :500])
    aout = ctypes.c_char_p()
    an = lwc.WebPEncodeRGBA(
        qimg.tobytes(), 500, 500, 500 * 4, 75.0, ctypes.byref(aout))
    astill = ctypes.string_at(aout, an)

    def _chunkit(fourcc, bod):
        return (fourcc + struct.pack("<I", len(bod)) + bod
                + (b"\x00" if len(bod) & 1 else b""))

    sub = astill[12:]  # the VP8 chunk of the still container
    hdr = (bytes(6) + (499).to_bytes(3, "little") * 2
           + (40).to_bytes(3, "little") + bytes([0x02]))
    aparts = [_chunkit(b"VP8X", bytes([0x02, 0, 0, 0])
                       + (499).to_bytes(3, "little") * 2),
              _chunkit(b"ANIM", bytes(6))]
    aparts += [_chunkit(b"ANMF", hdr + sub)] * 8
    abody = b"WEBP" + b"".join(aparts)
    add("webp-anim", "8x quarter-MP VP8 frames",
        b"RIFF" + struct.pack("<I", len(abody)) + abody,
        decode_webp_anim, 8 * 0.25, reps=3)
    add("tiff-lzw", "libtiff; our LZW+predictor, 1 MP",
        encode_tiff(img, compression=5, predictor=2), decode_tiff, mp)
    add("tiff-packbits", "libtiff; our PackBits, 1 MP",
        encode_tiff(img, compression=32773), decode_tiff, mp)
    # the JVM rows need a temp SparkSession; skipped when none starts
    try:
        from pyspark.sql import SparkSession

        sp = (SparkSession.builder.master("local[2]")
              .config("spark.ui.enabled", "false").getOrCreate())
        # CCITT G4: a 1 MP dithered bilevel scan written by ImageIO
        # (fixture built by PNG → ImageIO.read → drawImage onto a
        # TYPE_BYTE_BINARY canvas: one byte-array transfer instead of
        # the 786k per-pixel setRGB py4j calls this used to make)
        jvm = sp._jvm
        bil = (img.mean(axis=2) > 128).astype(np.uint8)
        h2, w2 = bil.shape
        png_fix = encode_png(
            np.repeat(bil[:, :, None] * np.uint8(255), 3, axis=2)
        )
        src = jvm.javax.imageio.ImageIO.read(
            jvm.java.io.ByteArrayInputStream(bytearray(png_fix))
        )
        bi = jvm.java.awt.image.BufferedImage(w2, h2, 12)
        g2d = bi.createGraphics()
        g2d.drawImage(src, 0, 0, None)
        g2d.dispose()
        wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
        pr = wr.getDefaultWriteParam()
        pr.setCompressionMode(2)
        pr.setCompressionType("CCITT T.6")
        with tempfile.TemporaryDirectory() as tmp:
            g4_path = Path(tmp) / "g4.tif"
            ios = jvm.javax.imageio.ImageIO.createImageOutputStream(
                jvm.java.io.File(str(g4_path)))
            wr.setOutput(ios)
            wr.write(None, jvm.javax.imageio.IIOImage(bi, None, None), pr)
            ios.close()
            g4 = g4_path.read_bytes()
        gdt = _time(decode_tiff, g4, 3)
        rows.append(
            ("tiff-ccitt-g4", "libtiff; ImageIO bilevel scan, 1 MP",
             round(len(g4) / 1e3, 1), round(gdt, 3),
             round(len(g4) / 1e6 / gdt, 3), round(mp / gdt, 3))
        )
        sp.stop()
    except Exception as e:  # pragma: no cover
        print(f"  JVM rows skipped: {e}")

    # --- SCALE.md section -------------------------------------------------
    lines = [
        "## Codec throughput (tools/codec_bench.py)\n\n",
        "Single-core decode on realistic payloads (the ImageIO-validated\n"
        "kitten photo and real progressive files; 1 MP = the same photo\n"
        "tiled to 1024x768 and re-encoded).  min-of-N wall per decode.\n\n",
        "| codec | payload | KB | decode s | MB/s/core | MP/s/core |\n"
        "|---|---|---|---|---|---|\n",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |\n")
    jpeg_mbs = rows[0][4]
    core_hours = 100e12 / (jpeg_mbs * 1e6) / 3600
    fleet_hours = core_hours / 8000  # 1000 executors × 8 cores
    lines.append(
        f"""
100 TB extrapolation (crawl-image decode, the multimodal path's
dominant cost): at the measured ~{jpeg_mbs} MB/s/core for real
baseline JPEG, 100 TB of JPEG payload costs ~{core_hours:,.0f}
core-hours — ~{fleet_hours:.1f} wall-hours on a 1000-executor x
8-core fleet, ~${core_hours*0.05:,.0f} at $0.05/core-hour.
JPEG rows decode through the system's libjpeg (libjpeg-turbo, reached
through libgd's read; operators/imagelibs.py, a runtime dependency)
and the plumbing is the scale design: Arrow-batched mapInPandas,
embarrassingly parallel, no shuffle, with libgd loaded once per Python
worker on its first JPEG.

"""
    )
    lines.append(
        "PNG, GIF and TIFF rows decode through the system's libpng, "
        "libgif and libtiff (operators/imagelibs.py, runtime "
        "dependencies); the payloads come from this repo's encoders, "
        "except the G4 scan, which the JVM's ImageIO writes.\n\n"
    )
    lines.append(
        "WebP rows decode through libwebp (the engine's only WebP "
        "decoder, a runtime dependency) behind decode_webp; the "
        "animation row adds the Python ANMF walk and canvas "
        "composition, since the installed libwebp has no demux "
        "library.\n\n"
    )
    scale = Path(__file__).resolve().parent.parent / "SCALE.md"
    text = scale.read_text()
    header = "## Codec throughput"
    block = "".join(lines)
    i = text.find(header)
    if i >= 0:
        j = text.find("\n## ", i + len(header))
        end = len(text) if j < 0 else j + 1
        text = text[:i] + block + text[end:]
    else:
        k2 = text.find("## Methodology")
        text = (
            text[:k2] + block + "\n" + text[k2:] if k2 >= 0 else text + "\n" + block
        )
    scale.write_text(text)
    print("wrote SCALE.md ## Codec throughput")


if __name__ == "__main__":
    main()
