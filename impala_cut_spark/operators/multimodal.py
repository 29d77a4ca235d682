"""Multimodal-column plumbing: opaque ``binary`` payloads + typed metadata.

Decode is REAL for the formats real crawls are made of.  Binary PPM
(P6) and uncompressed 24-bit BMP decode here.  JPEG, PNG, GIF and TIFF
decode through the system's libjpeg (via libgd), libpng, libgif and
libtiff (operators/imagelibs.py), and both WebP codings through
libwebp (operators/vp8l.py decode_webp); all five libraries are
runtime dependencies.  Animated GIF/WebP compose in Python
(imagelibs.decode_gif_frames / vp8l.decode_webp_anim).  Container/frame
METADATA is real for MP4 (ISO 14496-12 box tree) and MPEG audio
(ISO 11172-3 frame headers) — the prune-before-decode stage.
Remaining codec formats (MP3/AAC sample data, video codecs) stay
STUBBED: ``decode_image`` raises NotImplementedError for those, and
``fake_features`` is the deterministic stand-in.  The
Spark-side plumbing is identical either way: schema, Arrow batch
shape, mapInPandas signatures, and the partitioning story match what
a full-codec production decode would use.

Scale: payloads stay in the executor as Arrow binary buffers; the
feature extractor is a mapInPandas over size-bounded batches
(spark.sql.execution.arrow.maxRecordsPerBatch) so one huge image
can't blow a batch. Metadata-only predicates prune before any decode.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from impala_cut_spark.operators.imagelibs import (
    decode_gif,
    decode_gif_frames,
    decode_jpeg,
    decode_png,
    decode_tiff,
)
from impala_cut_spark.partitioning import fan_out

#: every exception a corrupt/truncated asset can surface from the decoders:
#: ValueError (a payload libjpeg/libpng/libgif/libtiff/libwebp reject,
#: and the Python container walks), NotImplementedError (formats with
#: no decoder), and IndexError/KeyError/TypeError/EOFError/OverflowError/
#: struct.error/zlib.error from the remaining Python parsers.  The
#: extract/resize paths must never fail a job on one bad asset — they
#: degrade to byte features.  OSError (a missing codec library) is
#: deliberately absent: it fails the query.
_DECODE_ERRORS = (
    NotImplementedError,
    ValueError,
    IndexError,
    KeyError,
    TypeError,
    EOFError,
    OverflowError,
    struct.error,
    zlib.error,
)

#: schema of a multimodal asset table
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

FEATURE_DIM = 16

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ]
)


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Fabricate a deterministic asset table from documents: the utf-8
    text bytes stand in for an encoded media payload."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("doc_id") % 3 + 1).cast("int")).alias("modality"),
        F.lit("application/octet-stream").alias("mime"),
        (F.col("n_chars") % 640).cast("int").alias("width"),
        (F.col("n_chars") % 480).cast("int").alias("height"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def decode_image(payload: bytes) -> "np.ndarray":
    """Decode a raster payload to an (H, W, 3) uint8 array.

    Real for PPM (P6), uncompressed 24-bit BMP, JPEG, PNG, GIF87a/89a
    (first image) and TIFF (libjpeg, libpng, libgif and libtiff through
    operators/imagelibs.py) and BOTH WebP codings (libwebp through
    operators/vp8l.py decode_webp).  Remaining boundaries (animations,
    inter frames) raise."""
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from impala_cut_spark.operators.vp8l import decode_webp

        return decode_webp(payload)[..., :3].copy()
    raise NotImplementedError(
        "image decode stub for remaining codec formats: "
        "install pillow and replace with PIL.Image.open (PPM/BMP/PNG/GIF/"
        "TIFF, JPEG and both WEBP codings decode natively here)"
    )


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6): ASCII header 'P6 <w> <h> <maxval>' + raw RGB.
    maxval > 255 (16-bit, big-endian sample pairs per the netpbm spec)
    reduces to the high byte for the 8-bit RGB contract."""
    parts, pos = [], 2
    while len(parts) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to EOL
            pos = payload.index(b"\n", pos) + 1
            continue
        end = pos
        while end < len(payload) and not payload[end : end + 1].isspace():
            end += 1
        parts.append(int(payload[pos:end]))
        pos = end
    pos += 1  # single whitespace after maxval
    w, h, maxval = parts
    if maxval > 65535 or maxval < 1:
        raise ValueError(f"bad PPM maxval {maxval}")
    if maxval > 255:  # two bytes per sample, most significant first
        arr = np.frombuffer(payload, dtype=">u2", count=w * h * 3, offset=pos)
        scaled = arr.astype(np.float64) * (255.0 / maxval)
        return (scaled + 0.5).astype(np.uint8).reshape(h, w, 3)
    if maxval != 255:  # scale odd maxvals to full range
        arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
        return ((arr.astype(np.float64) * (255.0 / maxval)) + 0.5).astype(
            np.uint8
        ).reshape(h, w, 3)
    arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return arr.reshape(h, w, 3).copy()


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed BMP (BITMAPINFOHEADER, BI_RGB): 24-bit BGR, 32-bit
    BGRA (alpha/padding byte dropped), and 8-bit palette rows; bottom-up
    or top-down (negative height)."""
    import struct

    off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if comp not in (0, 3) or bpp not in (8, 24, 32):
        raise NotImplementedError(
            f"BMP bpp={bpp} compression={comp} not supported "
            "(8-bit palette / 24-bit / 32-bit BI_RGB decode natively)"
        )
    # BI_BITFIELDS: honor the channel masks instead of assuming BGRA —
    # masks live at byte 54 whether appended after a 40-byte info header
    # or embedded in a V4/V5 header.  Only whole-byte masks map onto the
    # uint8 channel-gather below; anything else is an honest boundary.
    chan_order = [2, 1, 0]  # default BGR(A) → RGB gather indices
    if comp == 3:
        if bpp != 32:
            raise NotImplementedError(f"BMP BI_BITFIELDS with bpp={bpp}")
        masks = struct.unpack_from("<III", payload, 54)
        byte_masks = {0xFF << (8 * k): k for k in range(4)}
        if any(m not in byte_masks for m in masks):
            raise NotImplementedError(f"BMP non-byte-aligned channel masks {masks}")
        chan_order = [byte_masks[m] for m in masks]  # R,G,B byte positions
    flip = h > 0
    h = abs(h)
    nb = bpp // 8
    stride = (w * nb + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=off)
    if bpp == 8:  # palette: BGRA quads follow the info header
        (used,) = struct.unpack_from("<I", payload, 46)
        ncol = used or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(
            payload, dtype=np.uint8, count=ncol * 4, offset=pal_off
        ).reshape(ncol, 4)[:, :3][:, ::-1]  # BGRx → RGB
        idx = rows.reshape(h, stride)[:, :w]
        if int(idx.max(initial=0)) >= ncol:
            raise ValueError("BMP palette index out of range")
        img = pal[idx]
    else:
        img = rows.reshape(h, stride)[:, : w * nb].reshape(h, w, nb)
        img = img[..., chan_order]  # masked/default gather → RGB, alpha dropped
    return (img[::-1] if flip else img).copy()


def encode_ppm(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → binary PPM payload (fixture/sink helper)."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def encode_bmp(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → uncompressed 24-bit bottom-up BI_RGB BMP
    (fixture/sink twin of _decode_bmp)."""
    import struct

    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for row in arr[::-1]:
        bgr = np.ascontiguousarray(row[:, ::-1]).tobytes()
        body += bgr + b"\x00" * (stride - len(bgr))
    hdr = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    )
    return bytes(hdr) + bytes(body)


# -- GIF encoders (decode: operators/imagelibs.py, giflib) --------------------


def encode_gif(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 with ≤256 distinct colors → GIF89a payload
    (global palette, single non-interlaced image, LZW) — the lossless
    fixture twin of decode_gif."""
    h, w = arr.shape[:2]
    flat = arr.reshape(-1, 3)
    palette, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError("encode_gif needs <=256 distinct colors")
    bits = max(1, int(len(palette) - 1).bit_length())
    psize = 1 << bits
    pal = np.zeros((psize, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    min_code = max(2, bits)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (bits - 1), 0, 0])  # GCT present, bg 0
    out += pal.tobytes()
    out += b"\x2c" + b"\x00\x00\x00\x00" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00"
    out += bytes([min_code])
    out += _gif_lzw_encode(idx.tolist(), min_code)
    out += b"\x00\x3b"
    return bytes(out)


def _gif_lzw_encode(idx: list, min_code: int) -> bytes:
    """Greedy longest-match GIF LZW over palette indices → the
    255-byte sub-blocked body (without the min-code byte or the
    zero terminator)."""
    clear = 1 << min_code
    eoi = clear + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code + 1
    acc = 0
    nacc = 0
    body = bytearray()

    def put(code: int, wdt: int) -> None:
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += wdt
        while nacc >= 8:
            body.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    put(clear, width)
    cur: tuple[int, ...] = ()
    for v in idx:
        nxt = cur + (int(v),)
        if nxt in table:
            cur = nxt
            continue
        put(table[cur], width)
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        else:  # table full: emit clear and rebuild (spec-sanctioned)
            put(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        cur = (int(v),)
    if cur:
        put(table[cur], width)
    put(eoi, width)
    if nacc:
        body.append(acc & 0xFF)
    out = bytearray()
    for i in range(0, len(body), 255):
        chunk = body[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    return bytes(out)


def encode_gif_anim(
    frames: list,
    delays_cs: list,
    offsets: list | None = None,
    disposal: int | list = 0,
    transparent_rgb: tuple | None = None,
    loop: int = 0,
) -> bytes:
    """Mux (H, W, 3) uint8 frames into an animated GIF89a (global
    palette over the union of colors, NETSCAPE2.0 loop extension, one
    Graphic Control Extension + image block per frame) — the
    fixture/round-trip twin of decode_gif_frames.  ``transparent_rgb``
    names a palette color whose pixels are written as transparent."""
    if len(frames) != len(delays_cs) or not frames:
        raise ValueError("encode_gif_anim: frames/delays mismatch")
    offsets = offsets or [(0, 0)] * len(frames)
    colors = np.unique(
        np.concatenate([f.reshape(-1, 3) for f in frames], axis=0), axis=0
    )
    if len(colors) > 255:
        raise ValueError("encode_gif_anim needs <=255 distinct colors")
    lut = {tuple(c): i for i, c in enumerate(colors)}
    tidx = -1
    if transparent_rgb is not None:
        tidx = lut.get(tuple(transparent_rgb), -1)
        if tidx < 0:
            raise ValueError("transparent_rgb not present in any frame")
    bits = max(1, int(len(colors) - 1).bit_length())
    psize = 1 << bits
    pal = np.zeros((psize, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    sw = max(x + f.shape[1] for (x, _), f in zip(offsets, frames))
    sh = max(y + f.shape[0] for (_, y), f in zip(offsets, frames))
    out = bytearray(b"GIF89a")
    out += sw.to_bytes(2, "little") + sh.to_bytes(2, "little")
    out += bytes([0x80 | (bits - 1), 0, 0])
    out += pal.tobytes()
    out += (b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
            + int(loop).to_bytes(2, "little") + b"\x00")
    min_code = max(2, bits)
    disposals = disposal if isinstance(disposal, list) else [disposal] * len(frames)
    for (x, y), fr, delay, disp in zip(offsets, frames, delays_cs, disposals):
        gflags = (disp & 7) << 2 | (1 if tidx >= 0 else 0)
        out += (b"\x21\xf9\x04" + bytes([gflags])
                + int(delay).to_bytes(2, "little")
                + bytes([max(tidx, 0)]) + b"\x00")
        ih, iw = fr.shape[:2]
        out += (b"\x2c" + x.to_bytes(2, "little") + y.to_bytes(2, "little")
                + iw.to_bytes(2, "little") + ih.to_bytes(2, "little")
                + b"\x00")
        idx = [lut[tuple(px)] for px in fr.reshape(-1, 3)]
        out += bytes([min_code]) + _gif_lzw_encode(idx, min_code) + b"\x00"
    out += b"\x3b"
    return bytes(out)


# -- PNG encoder (decode: operators/imagelibs.py, libpng) ---------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §6.6): nearest of left/up/up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """(H, W) | (H, W, 1|3|4) uint8 → PNG payload, every scanline
    forward-filtered with ``filter_type`` (0..4) — the fixture/sink
    twin of decode_png, parameterized so the round-trip test
    exercises each filter's inverse."""
    import struct
    import zlib

    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    ctype = {1: 0, 3: 2, 4: 6}[ch]
    stride = w * ch
    flat = arr.astype(np.uint8).reshape(h, stride).astype(np.int16)
    lines = bytearray()
    for y in range(h):
        cur = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int16)
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            left = np.concatenate([np.zeros(ch, dtype=np.int16), cur[:-ch]])
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            left = np.concatenate([np.zeros(ch, dtype=np.int16), cur[:-ch]])
            filt = cur - ((left + prev) >> 1)
        elif filter_type == 4:
            filt = np.empty(stride, dtype=np.int16)
            for x in range(stride):
                pa = int(cur[x - ch]) if x >= ch else 0
                pc = int(prev[x - ch]) if x >= ch else 0
                filt[x] = cur[x] - _paeth(pa, int(prev[x]), pc)
        else:
            raise ValueError(f"bad filter type {filter_type}")
        lines.append(filter_type)
        lines += (filt & 0xFF).astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _png_chunk(b"IEND", b"")
    )


def decode_wav(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Decode a RIFF/WAVE PCM payload → (sample_rate, n_channels,
    float64 samples in [-1, 1], shape (n_frames, n_channels)).

    Real for the codec-free / table-codec formats: uncompressed PCM
    (format tag 1 at 8/16/24/32-bit, tag 3 IEEE float32/64, the
    WAVE_FORMAT_EXTENSIBLE wrapper's SubFormat unwrap) and — round 8 —
    the G.711 telephony codecs A-law (tag 6) and μ-law (tag 7), whose
    expansion is a 16-line public-spec formula (ITU-T G.711), no codec
    library needed. Perceptual codecs (mp3/aac/ogg) raise — the same
    documented stub boundary as codec-bearing images (their frame
    METADATA parses via mp3_metadata)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "audio decode stub for non-WAV containers: install an audio "
            "codec lib (RIFF/WAVE PCM decodes natively here)"
        )
    pos, tag, rate, channels, bits, data = 12, None, None, None, None, None
    while pos + 8 <= len(payload):
        cid, sz = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        if pos + 8 + sz > len(payload):
            # trusting the size field would silently truncate the data
            # chunk (wrong durations/features) — fail loudly instead,
            # like the vp8l container walker (round 11)
            raise ValueError("wav: truncated chunk")
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            tag, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if tag == 0xFFFE and len(body) >= 40:  # WAVE_FORMAT_EXTENSIBLE
                # SubFormat GUID's leading u16 is the real format tag
                tag = struct.unpack_from("<H", body, 24)[0]
            if tag not in (1, 3, 6, 7):
                raise NotImplementedError(f"compressed WAV (format tag {tag}) not supported")
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if not channels or channels < 1:
        # file-supplied count — a corrupt fmt chunk must fall back to
        # byte features, not ZeroDivisionError the whole Spark job
        raise ValueError(f"WAV declares invalid channel count {channels}")
    if tag == 6:  # G.711 A-law
        samples = _alaw_expand(np.frombuffer(data, dtype=np.uint8)) / 32768.0
    elif tag == 7:  # G.711 μ-law
        samples = _ulaw_expand(np.frombuffer(data, dtype=np.uint8)) / 32768.0
    elif tag == 3 and bits == 32:  # IEEE float
        samples = np.frombuffer(data, dtype="<f4", count=len(data) // 4).astype(np.float64)
    elif tag == 3 and bits == 64:
        samples = np.frombuffer(data, dtype="<f8", count=len(data) // 8).copy()
    elif bits == 16:
        samples = np.frombuffer(data, dtype="<i2", count=len(data) // 2) / 32768.0
    elif bits == 8:
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif bits == 24:  # packed little-endian 3-byte signed
        n = len(data) // 3
        b = np.frombuffer(data, dtype=np.uint8, count=n * 3).reshape(n, 3).astype(np.int64)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v -= (v >> 23) << 24  # sign-extend
        samples = v / 8388608.0
    elif bits == 32:
        samples = np.frombuffer(data, dtype="<i4", count=len(data) // 4) / 2147483648.0
    else:
        raise NotImplementedError(f"{bits}-bit PCM not supported")
    n = (len(samples) // channels) * channels
    return rate, channels, samples[:n].reshape(-1, channels)


def _ulaw_expand(code: np.ndarray) -> np.ndarray:
    """ITU-T G.711 μ-law byte → linear PCM (float, 16-bit range)."""
    c = (~code.astype(np.int64)) & 0xFF
    sign = np.where(c & 0x80, -1.0, 1.0)
    exp = (c >> 4) & 7
    mant = c & 0x0F
    mag = ((mant.astype(np.float64) * 2 + 33) * (2.0 ** exp)) - 33
    return sign * mag * 4.0  # 14-bit magnitude → 16-bit range


def _alaw_expand(code: np.ndarray) -> np.ndarray:
    """ITU-T G.711 A-law byte → linear PCM (float, 16-bit range)."""
    c = (code.astype(np.int64) ^ 0x55) & 0xFF
    sign = np.where(c & 0x80, 1.0, -1.0)  # A-law: set sign bit = positive
    exp = (c >> 4) & 7
    mant = (c & 0x0F).astype(np.float64)
    mag = np.where(exp == 0, mant * 2 + 1, (mant * 2 + 33) * (2.0 ** (exp - 1)))
    return sign * mag * 8.0  # 13-bit magnitude → 16-bit range


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """(n_frames[, n_channels]) float in [-1,1] → 16-bit PCM WAV
    payload (fixture/sink helper)."""
    import struct

    arr = np.atleast_2d(np.asarray(samples, dtype=np.float64))
    if arr.shape[0] == 1 and arr.ndim == 2 and np.asarray(samples).ndim == 1:
        arr = arr.T
    channels = arr.shape[1]
    pcm = (np.clip(arr, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def audio_features(rate: int, channels: int, samples: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """Real signal-level features for decoded PCM: duration, RMS
    energy, peak, zero-crossing rate, then a coarse energy-over-time
    envelope filling the remaining dims — deterministic, codec-free."""
    f = np.zeros(dim, dtype=np.float64)
    mono = samples.mean(axis=1) if samples.ndim == 2 else samples
    n = len(mono)
    f[0] = n / float(rate) if rate else 0.0
    if n:
        f[1] = float(np.sqrt(np.mean(mono**2)))
        f[2] = float(np.abs(mono).max())
        # zero-crossing rate is defined over sample PAIRS — one sample
        # has none (np.mean over empty would inject NaN)
        f[3] = (
            float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
            if n > 1
            else 0.0
        )
        env_bins = dim - 4
        edges = np.linspace(0, n, env_bins + 1, dtype=np.int64)
        for i in range(env_bins):
            seg = mono[edges[i] : edges[i + 1]]
            f[4 + i] = float(np.sqrt(np.mean(seg**2))) if len(seg) else 0.0
    return f


def image_features(img: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """Real pixel-level features for decoded images: per-channel
    mean/std (scaled to [0,1]) + a 10-bin luminance histogram —
    ``dim`` values, deterministic."""
    f = np.zeros(dim, dtype=np.float64)
    pix = img.reshape(-1, 3).astype(np.float64)
    f[0:3] = pix.mean(axis=0) / 255.0
    f[3:6] = pix.std(axis=0) / 255.0
    lum = pix @ np.array([0.299, 0.587, 0.114])
    hist, _ = np.histogram(lum, bins=dim - 6, range=(0.0, 255.0))
    total = hist.sum()
    f[6:] = hist / total if total else hist
    return f


def fake_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for an embedding/feature extractor:
    bucketed byte histogram, L1-normalized."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist, _ = np.histogram(arr, bins=dim, range=(0, 256))
    total = hist.sum()
    return (hist / total if total else hist.astype(np.float64)).astype(np.float64)


def extract_features(assets: DataFrame) -> DataFrame:
    """mapInPandas feature extraction — the production shape: Arrow
    batches in, one feature row per asset out, no driver involvement.
    A missing codec library (OSError) is not a decode error: it fails
    the query rather than degrading every image to byte features."""

    def _one(p: bytes | None) -> np.ndarray:
        import struct

        p = p if p is not None else b""
        try:
            return image_features(decode_image(bytes(p)))
        except _DECODE_ERRORS:
            pass
        try:
            return audio_features(*decode_wav(bytes(p)))
        except _DECODE_ERRORS:
            # codec-bearing/opaque/truncated → byte features
            return fake_features(p)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "features": [f.tolist() for f in feats],
                }
            )

    return fan_out(assets).mapInPandas(_extract, FEATURE_SCHEMA)


# -- MP4 / ISO BMFF container metadata (public spec ISO/IEC 14496-12) --------

#: box types whose payload is a sequence of child boxes
_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts"}


def mp4_metadata(payload: bytes) -> dict:
    """Parse an ISO BMFF (MP4/MOV) container's box tree → metadata:
    ``{brand, duration_sec, n_tracks, tracks: [{handler, codec, width,
    height, n_samples, n_keyframes}]}``.

    This is the metadata-prune stage a 100 TB video pipeline runs
    BEFORE any expensive decode (filter by duration / codec / keyframe
    density); the box grammar is simple length-prefixed structs — no
    codec involved.  The sample DATA (h264/aac payloads) stays behind
    the documented codec stub boundary."""
    if len(payload) < 8 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload (no ftyp)")
    brand = payload[8:12].decode("ascii", "replace")
    out: dict = {"brand": brand, "duration_sec": None, "tracks": []}
    mvhd_scale = None

    def walk(lo: int, hi: int, path: tuple[bytes, ...]) -> None:
        nonlocal mvhd_scale
        pos = lo
        while pos + 8 <= hi:
            (size,) = struct.unpack_from(">I", payload, pos)
            typ = payload[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize
                (size,) = struct.unpack_from(">Q", payload, pos + 8)
                body = pos + 16
            elif size == 0:  # to end of enclosing box
                size = hi - pos
            end = pos + size
            if end > hi or size < 8:
                raise ValueError("corrupt ISO BMFF box size")
            if typ in _MP4_CONTAINERS:
                walk(body, end, path + (typ,))
            elif typ == b"mvhd":
                ver = payload[body]
                if ver == 1:
                    scale, dur = struct.unpack_from(">IQ", payload, body + 20)
                else:
                    scale, dur = struct.unpack_from(">II", payload, body + 12)
                mvhd_scale = scale
                out["duration_sec"] = round(dur / scale, 6) if scale else None
            elif typ == b"hdlr":
                out["tracks"].append(
                    {
                        "handler": payload[body + 8 : body + 12].decode("ascii", "replace"),
                        "codec": None,
                        "width": None,
                        "height": None,
                        "n_samples": None,
                        "n_keyframes": None,
                    }
                )
            elif typ == b"stsd" and out["tracks"]:
                (n_entries,) = struct.unpack_from(">I", payload, body + 4)
                if n_entries:
                    entry = body + 8
                    tr = out["tracks"][-1]
                    tr["codec"] = payload[entry + 4 : entry + 8].decode("ascii", "replace")
                    if tr["handler"] == "vide":
                        w, h = struct.unpack_from(">HH", payload, entry + 32)
                        tr["width"], tr["height"] = w, h
            elif typ == b"stsz" and out["tracks"]:
                (n,) = struct.unpack_from(">I", payload, body + 8)
                out["tracks"][-1]["n_samples"] = n
            elif typ == b"stss" and out["tracks"]:
                (n,) = struct.unpack_from(">I", payload, body + 4)
                out["tracks"][-1]["n_keyframes"] = n
            pos = end

    walk(0, len(payload), ())
    # stss absent ⇒ every sample is a sync sample (spec §8.6.2)
    for tr in out["tracks"]:
        if tr["n_keyframes"] is None and tr["n_samples"] is not None:
            tr["n_keyframes"] = tr["n_samples"]
    out["n_tracks"] = len(out["tracks"])
    return out


def build_minimal_mp4(
    duration_ms: int,
    n_samples: int,
    n_keyframes: int,
    width: int = 640,
    height: int = 360,
) -> bytes:
    """Minimal valid ISO BMFF tree (ftyp + moov[mvhd, video trak with
    stsd(avc1)/stsz/stss, audio trak with stsd(mp4a)/stsz]) — the
    fixture/sink twin of mp4_metadata, per ISO/IEC 14496-12."""

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    mvhd = box(
        b"mvhd",
        b"\x00" * 4 + b"\x00" * 8 + struct.pack(">II", 1000, int(duration_ms)) + b"\x00" * 80,
    )
    avc1 = (
        struct.pack(">I", 8 + 78)
        + b"avc1"
        + b"\x00" * 24
        + struct.pack(">HH", width, height)
        + b"\x00" * 50
    )
    stbl = (
        box(b"stsd", struct.pack(">II", 0, 1) + avc1)
        + box(b"stsz", struct.pack(">III", 0, 0, int(n_samples)))
        + box(
            b"stss",
            struct.pack(">II", 0, int(n_keyframes)) + b"\x00\x00\x00\x01" * int(n_keyframes),
        )
    )
    trak_v = box(
        b"trak",
        box(
            b"mdia",
            box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
            + box(b"minf", box(b"stbl", stbl)),
        ),
    )
    mp4a = struct.pack(">I", 8 + 28) + b"mp4a" + b"\x00" * 28
    trak_a = box(
        b"trak",
        box(
            b"mdia",
            box(b"hdlr", b"\x00" * 8 + b"soun" + b"\x00" * 12)
            + box(
                b"minf",
                box(
                    b"stbl",
                    box(b"stsd", struct.pack(">II", 0, 1) + mp4a)
                    + box(b"stsz", struct.pack(">III", 0, 0, 2 * int(n_samples))),
                ),
            ),
        ),
    )
    return box(b"ftyp", b"isom" + b"\x00\x00\x02\x00" + b"isomiso2avc1") + box(
        b"moov", mvhd + trak_v + trak_a
    )


def heif_metadata(payload: bytes) -> dict:
    """Parse a HEIF/AVIF still-image container (ISO/IEC 23008-12 over
    the 14496-12 box grammar) → metadata: ``{brand, primary_item,
    n_items, codec, width, height, bit_depth, rotation, has_alpha,
    is_grid, n_tiles}``.

    This is the metadata-prune stage for the two codecs modern crawls
    actually serve (AVIF/HEIC): route/filter by dimensions, codec,
    depth and derived-image structure BEFORE any sample decode — the
    AV1/HEVC payloads themselves stay behind the documented codec stub
    boundary (same contract as mp4_metadata/mp3_metadata).  Width and
    height come from the ``ispe`` property ASSOCIATED with the primary
    item via ``ipma`` → ``ipco`` indices (not a global max), alpha
    from an ``auxl``-referenced item, grids from a primary ``grid``
    item's ``dimg`` references.  Validated against real libheif
    (x265/aom) encoder output in tests/test_heif.py."""
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload (no ftyp)")
    brand = payload[8:12].decode("ascii", "replace")
    out: dict = {
        "brand": brand, "primary_item": None, "n_items": 0, "codec": None,
        "width": None, "height": None, "bit_depth": None, "rotation": 0,
        "has_alpha": False, "is_grid": False, "n_tiles": 0,
    }
    items: dict[int, str] = {}
    ipco_props: list[tuple[bytes, bytes]] = []
    ipma: dict[int, list[int]] = {}
    aux_refs: list[tuple[int, int]] = []   # (aux item, target)
    dimg_refs: dict[int, int] = {}         # from_item -> tile count

    def children(lo: int, hi: int):
        pos = lo
        while pos + 8 <= hi:
            (size,) = struct.unpack_from(">I", payload, pos)
            typ = payload[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:
                (size,) = struct.unpack_from(">Q", payload, pos + 8)
                body = pos + 16
            elif size == 0:
                size = hi - pos
            end = pos + size
            if end > hi or size < 8:
                raise ValueError("corrupt ISO BMFF box size")
            yield typ, body, end
            pos = end

    def parse_iinf(lo: int, hi: int) -> None:
        ver = payload[lo]
        pos = lo + 4
        if ver == 0:
            pos += 2
        else:
            pos += 4
        for typ, body, end in children(pos, hi):
            if typ != b"infe":
                continue
            v = payload[body]
            p = body + 4
            if v == 2:
                iid = struct.unpack_from(">H", payload, p)[0]
                p += 2
            elif v == 3:
                iid = struct.unpack_from(">I", payload, p)[0]
                p += 4
            else:
                continue
            p += 2  # protection index
            items[iid] = payload[p : p + 4].decode("ascii", "replace")

    def parse_ipma(lo: int, hi: int) -> None:
        ver = payload[lo]
        flags = int.from_bytes(payload[lo + 1 : lo + 4], "big")
        pos = lo + 4
        (n,) = struct.unpack_from(">I", payload, pos)
        pos += 4
        for _ in range(n):
            if ver == 0:
                iid = struct.unpack_from(">H", payload, pos)[0]
                pos += 2
            else:
                iid = struct.unpack_from(">I", payload, pos)[0]
                pos += 4
            cnt = payload[pos]
            pos += 1
            assoc = []
            for _ in range(cnt):
                if flags & 1:
                    v = struct.unpack_from(">H", payload, pos)[0]
                    pos += 2
                    assoc.append(v & 0x7FFF)
                else:
                    assoc.append(payload[pos] & 0x7F)
                    pos += 1
            ipma[iid] = assoc

    def parse_iref(lo: int, hi: int) -> None:
        ver = payload[lo]
        wide = 4 if ver else 2
        fmt = ">I" if ver else ">H"
        for typ, body, end in children(lo + 4, hi):
            from_id = struct.unpack_from(fmt, payload, body)[0]
            (cnt,) = struct.unpack_from(">H", payload, body + wide)
            tos = [
                struct.unpack_from(fmt, payload, body + wide + 2 + i * wide)[0]
                for i in range(cnt)
            ]
            if typ == b"auxl":
                for t in tos:
                    aux_refs.append((from_id, t))
            elif typ == b"dimg":
                dimg_refs[from_id] = cnt

    def walk_meta(lo: int, hi: int) -> None:
        for typ, body, end in children(lo, hi):
            if typ == b"pitm":
                v = payload[body]
                out["primary_item"] = (
                    struct.unpack_from(">H", payload, body + 4)[0]
                    if v == 0
                    else struct.unpack_from(">I", payload, body + 4)[0]
                )
            elif typ == b"iinf":
                parse_iinf(body, end)
            elif typ == b"iref":
                parse_iref(body, end)
            elif typ == b"iprp":
                for t2, b2, e2 in children(body, end):
                    if t2 == b"ipco":
                        for t3, b3, e3 in children(b2, e2):
                            ipco_props.append((t3, payload[b3:e3]))
                    elif t2 == b"ipma":
                        parse_ipma(b2, e2)

    for typ, body, end in children(0, len(payload)):
        if typ == b"meta":  # full box: skip version+flags
            walk_meta(body + 4, end)

    out["n_items"] = len(items)
    pid = out["primary_item"]
    if pid is None or pid not in items:
        raise ValueError("heif: no primary item")
    ptype = items[pid]
    if ptype == "grid":
        out["is_grid"] = True
        out["n_tiles"] = dimg_refs.get(pid, 0)
        tile_types = {items[i] for i in items if items[i] in ("av01", "hvc1")}
        out["codec"] = next(iter(tile_types), None)
    elif ptype in ("av01", "hvc1"):
        out["codec"] = ptype
    for idx in ipma.get(pid, []):
        if not 1 <= idx <= len(ipco_props):
            continue
        ptyp, pbody = ipco_props[idx - 1]
        if ptyp == b"ispe":
            out["width"], out["height"] = struct.unpack_from(">II", pbody, 4)
        elif ptyp == b"pixi":
            n = pbody[4]
            if n:
                out["bit_depth"] = pbody[5]
        elif ptyp == b"irot":
            out["rotation"] = (pbody[0] & 3) * 90
    out["has_alpha"] = any(t == pid for _, t in aux_refs) or (
        out["is_grid"] and any(items.get(f) == "grid" and f != pid
                               for f, _ in aux_refs)
    )
    return out


def build_minimal_avif(
    width: int,
    height: int,
    codec: str = "av01",
    bit_depth: int = 8,
    rotation: int = 0,
    alpha: bool = False,
) -> bytes:
    """Minimal valid HEIF/AVIF item tree (ftyp + meta[hdlr, pitm,
    iinf/infe, iref(auxl), iprp[ipco(ispe, pixi, irot), ipma]] + mdat
    with placeholder coded data) — the fixture/sink twin of
    heif_metadata, per ISO/IEC 23008-12.  The coded payload is a stub
    (sample decode is the documented boundary); every metadata field
    round-trips."""
    brand = b"avif" if codec == "av01" else b"heic"

    def box(typ: bytes, payload_: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload_)) + typ + payload_

    def full(typ: bytes, ver: int, flags: int, payload_: bytes) -> bytes:
        return box(typ, bytes([ver]) + flags.to_bytes(3, "big") + payload_)

    items = [(1, codec.encode())]
    if alpha:
        items.append((2, codec.encode()))
    infes = b"".join(
        full(b"infe", 2, 0, struct.pack(">HH", iid, 0) + typ + b"\x00")
        for iid, typ in items
    )
    iinf = full(b"iinf", 0, 0, struct.pack(">H", len(items)) + infes)
    props = [
        full(b"ispe", 0, 0, struct.pack(">II", width, height)),
        full(b"pixi", 0, 0, bytes([3, bit_depth, bit_depth, bit_depth])),
    ]
    assoc = [1, 2]
    if rotation:
        props.append(box(b"irot", bytes([(rotation // 90) & 3])))
        assoc.append(3)
    ipco = box(b"ipco", b"".join(props))
    entries = struct.pack(">HB", 1, len(assoc)) + bytes(a | 0x80 for a in assoc)
    if alpha:
        entries += struct.pack(">HB", 2, 1) + bytes([1 | 0x80])
    ipma = full(b"ipma", 0, 0, struct.pack(">I", len(items)) + entries)
    meta_children = [
        full(b"hdlr", 0, 0, b"\x00" * 4 + b"pict" + b"\x00" * 12 + b"\x00"),
        full(b"pitm", 0, 0, struct.pack(">H", 1)),
        iinf,
        box(b"iprp", ipco + ipma),
    ]
    if alpha:
        aux = full(
            b"iref", 0, 0, box(b"auxl", struct.pack(">HHH", 2, 1, 1))
        )
        meta_children.append(aux)
    meta = full(b"meta", 0, 0, b"".join(meta_children))
    ftyp = box(b"ftyp", brand + b"\x00\x00\x00\x00" + brand + b"mif1miaf")
    return ftyp + meta + box(b"mdat", b"\x00stub-coded-data")


#: output schema of video_metadata
VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("brand", T.StringType(), True),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("n_tracks", T.IntegerType(), True),
        T.StructField("video_codec", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("n_keyframes", T.LongType(), True),
        T.StructField("parse_ok", T.BooleanType(), False),
    ]
)


#: output schema of image_container_metadata
HEIF_META_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("brand", T.StringType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("bit_depth", T.IntegerType(), True),
        T.StructField("rotation", T.IntegerType(), True),
        T.StructField("has_alpha", T.BooleanType(), True),
        T.StructField("is_grid", T.BooleanType(), True),
        T.StructField("parse_ok", T.BooleanType(), False),
    ]
)


def image_container_metadata(assets: DataFrame) -> DataFrame:
    """Per-asset HEIF/AVIF container metadata via heif_metadata — the
    prune-before-decode stage for the modern crawl image codecs
    (route/filter by dimensions, codec, depth, rotation, alpha, grid
    structure without touching AV1/HEVC sample data).  Unparseable
    payloads yield parse_ok=false, never a job failure."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    m = heif_metadata(bytes(payload) if payload is not None else b"")
                    rows.append(
                        (int(aid), m["brand"], m["codec"], m["width"],
                         m["height"], m["bit_depth"], m["rotation"],
                         m["has_alpha"], m["is_grid"], True)
                    )
                except _DECODE_ERRORS:
                    rows.append(
                        (int(aid), None, None, None, None, None, None,
                         None, None, False)
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in HEIF_META_SCHEMA.fields]
            )

    return assets.select("asset_id", "payload").mapInPandas(
        _extract, schema=HEIF_META_SCHEMA
    )


def video_metadata(assets: DataFrame) -> DataFrame:
    """Per-asset MP4 container metadata via mp4_metadata — the
    prune-before-decode stage (drop/route assets by duration, codec,
    keyframe density WITHOUT touching sample data).  Unparseable
    payloads yield parse_ok=false, never a job failure."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    meta = mp4_metadata(bytes(payload) if payload is not None else b"")
                    vid = next(
                        (t for t in meta["tracks"] if t["handler"] == "vide"), None
                    )
                    rows.append(
                        (
                            int(aid),
                            meta["brand"],
                            meta["duration_sec"],
                            meta["n_tracks"],
                            vid["codec"] if vid else None,
                            vid["width"] if vid else None,
                            vid["height"] if vid else None,
                            vid["n_samples"] if vid else None,
                            vid["n_keyframes"] if vid else None,
                            True,
                        )
                    )
                except _DECODE_ERRORS:
                    rows.append(
                        (int(aid), None, None, None, None, None, None, None, None, False)
                    )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in VIDEO_META_SCHEMA.fields],
            )

    return assets.select("asset_id", "payload").mapInPandas(
        _extract, schema=VIDEO_META_SCHEMA
    )


# -- WebP container metadata (public spec: RIFF container + RFC 6386) -------


def webp_metadata(payload: bytes) -> dict:
    """Parse a WebP RIFF container's chunk list → metadata:
    ``{format, width, height, has_alpha, has_animation, has_icc,
    has_exif, chunks}`` — format is ``lossy`` (VP8 key frame, RFC 6386
    §9.1 uncompressed frame header), ``lossless`` (VP8L header) or
    ``extended`` (VP8X canvas).

    Like mp4_metadata/mp3_metadata this is the prune-before-decode
    stage: dimensions and feature flags come from fixed-layout headers,
    no entropy decode.  When both a VP8X canvas and an image-data chunk
    are present the dimensions cross-check (corrupt containers raise).
    Pixel decode for WebP stays behind the documented codec stub
    boundary."""
    if len(payload) < 16 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    out: dict = {
        "format": None,
        "width": None,
        "height": None,
        "has_alpha": False,
        "has_animation": False,
        "has_icc": False,
        "has_exif": False,
        "chunks": [],
    }
    canvas = None
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4].decode("ascii", "replace")
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = pos + 8
        if body + size > len(payload):
            # short slices past the end would int.from_bytes to zeros
            # and report a phantom 1x1 canvas — fail loudly (round 11)
            raise ValueError("webp: truncated chunk")
        out["chunks"].append(fourcc)
        if fourcc == "VP8X" and size >= 10:
            flags = payload[body]
            out["has_icc"] = bool(flags & 0x20)
            out["has_alpha"] = out["has_alpha"] or bool(flags & 0x10)
            out["has_exif"] = bool(flags & 0x08)
            out["has_animation"] = bool(flags & 0x02)
            cw = int.from_bytes(payload[body + 4 : body + 7], "little") + 1
            chh = int.from_bytes(payload[body + 7 : body + 10], "little") + 1
            canvas = (cw, chh)
            out["format"] = "extended"
            out["width"], out["height"] = cw, chh
        elif fourcc == "VP8 " and size >= 10:
            # RFC 6386 §9.1: 3-byte frame tag, key frames follow with
            # the 9D 01 2A start code + 14-bit dims (2-bit scale each)
            tag = int.from_bytes(payload[body : body + 3], "little")
            if not tag & 1:  # key frame
                if payload[body + 3 : body + 6] != b"\x9d\x01\x2a":
                    raise ValueError("VP8 key frame missing start code")
                (wbits,) = struct.unpack_from("<H", payload, body + 6)
                (hbits,) = struct.unpack_from("<H", payload, body + 8)
                w, h = wbits & 0x3FFF, hbits & 0x3FFF
                if canvas and not out["has_animation"] and canvas != (w, h):
                    raise ValueError(
                        f"VP8 frame {w}x{h} disagrees with VP8X canvas {canvas}"
                    )
                if out["format"] is None:
                    out["format"] = "lossy"
                    out["width"], out["height"] = w, h
        elif fourcc == "VP8L" and size >= 5:
            if payload[body] != 0x2F:
                raise ValueError("bad VP8L signature byte")
            bits = int.from_bytes(payload[body + 1 : body + 5], "little")
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
            out["has_alpha"] = out["has_alpha"] or bool((bits >> 28) & 1)
            if canvas and not out["has_animation"] and canvas != (w, h):
                raise ValueError(
                    f"VP8L image {w}x{h} disagrees with VP8X canvas {canvas}"
                )
            if out["format"] is None:
                out["format"] = "lossless"
                out["width"], out["height"] = w, h
        elif fourcc == "ALPH":
            out["has_alpha"] = True
        pos = body + size + (size & 1)  # chunks are even-padded
    if out["format"] is None:
        raise ValueError("WebP container holds no image chunk")
    return out


# -- MPEG audio (MP3) frame-header metadata (public spec ISO 11172-3) -------

#: bitrate tables in kbps, index 1..14 (index 0 = "free", 15 = bad)
_MP3_BITRATES = {
    # (mpeg1?, layer) → table
    (True, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (True, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (True, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (False, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (False, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (False, 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}

#: sample-rate tables by version bits (3=MPEG1, 2=MPEG2, 0=MPEG2.5)
_MP3_RATES = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}


def mp3_metadata(payload: bytes) -> dict:
    """Walk an MPEG audio (MP1/MP2/MP3) elementary stream's frame
    headers → ``{version, layer, bitrate_kbps, sample_rate, channels,
    n_frames, duration_sec, vbr}``.

    Like mp4_metadata this is the prune-before-decode stage: the frame
    grammar (ISO/IEC 11172-3 §2.4.1) is pure header arithmetic — sync,
    version/layer bits, bitrate + sample-rate table lookups, padding —
    so duration/bitrate filters run on a 100 TB crawl without touching
    a perceptual decoder.  Skips a leading ID3v2 tag (syncsafe size)
    and a trailing ID3v1 block; audio sample DATA stays behind the
    documented codec stub boundary.  ``bitrate_kbps`` is the stream
    bitrate for CBR, the mean over frames for VBR (``vbr`` = whether
    frame bitrates differ)."""
    pos = 0
    # ID3v2 header: "ID3" ver(2) flags(1) syncsafe-size(4)
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = 0
        for b in payload[6:10]:
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size
    n_frames = 0
    bitrates: list[int] = []
    duration = 0.0
    version = layer = sample_rate = channels = None
    end = len(payload)
    if end >= 128 and payload[end - 128 : end - 125] == b"TAG":  # ID3v1 trailer
        end -= 128
    while pos + 4 <= end:
        if payload[pos] != 0xFF or (payload[pos + 1] & 0xE0) != 0xE0:
            if n_frames:  # trailing garbage after a valid stream: stop
                break
            pos += 1  # leading garbage: resync
            continue
        b1, b2, b3 = payload[pos + 1], payload[pos + 2], payload[pos + 3]
        vbits = (b1 >> 3) & 3
        lbits = (b1 >> 1) & 3
        bidx = (b2 >> 4) & 0xF
        ridx = (b2 >> 2) & 3
        pad = (b2 >> 1) & 1
        mode = (b3 >> 6) & 3
        if vbits == 1 or lbits == 0 or bidx in (0, 15) or ridx == 3:
            if n_frames:
                break
            pos += 1
            continue
        mpeg1 = vbits == 3
        lyr = 4 - lbits  # bits 11/10/01 → layer 1/2/3
        kbps = _MP3_BITRATES[(mpeg1, lyr)][bidx - 1]
        rate = _MP3_RATES[vbits][ridx]
        if lyr == 1:
            flen = (12000 * kbps // rate + pad) * 4
            spf = 384
        elif lyr == 2:
            flen = 144000 * kbps // rate + pad
            spf = 1152
        else:  # layer III: MPEG2/2.5 frames carry one 576-sample granule
            flen = (144000 if mpeg1 else 72000) * kbps // rate + pad
            spf = 1152 if mpeg1 else 576
        if pos + flen > end:
            break  # truncated final frame
        if n_frames == 0:
            version = {3: "MPEG1", 2: "MPEG2", 0: "MPEG2.5"}[vbits]
            layer = lyr
            sample_rate = rate
            channels = 1 if mode == 3 else 2
        n_frames += 1
        bitrates.append(kbps)
        duration += spf / rate
        pos += flen
    if not n_frames:
        raise ValueError("no MPEG audio frames found")
    return {
        "version": version,
        "layer": layer,
        "bitrate_kbps": round(sum(bitrates) / len(bitrates), 3),
        "sample_rate": sample_rate,
        "channels": channels,
        "n_frames": n_frames,
        "duration_sec": round(duration, 6),
        "vbr": len(set(bitrates)) > 1,
    }


def build_mp3(
    n_frames: int,
    bitrate_idx: int = 9,
    rate_idx: int = 0,
    mono: bool = False,
    id3_size: int = 0,
) -> bytes:
    """Assemble a valid MPEG1 Layer III stream (optionally behind an
    ID3v2 tag) with ``n_frames`` zero-payload frames — the fixture/sink
    twin of mp3_metadata, from the same public header tables."""
    out = bytearray()
    if id3_size:
        out += b"ID3\x04\x00\x00" + bytes(
            [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
             (id3_size >> 7) & 0x7F, id3_size & 0x7F]
        )
        out += bytes(id3_size)
    kbps = _MP3_BITRATES[(True, 3)][bitrate_idx - 1]
    rate = _MP3_RATES[3][rate_idx]
    flen = 144000 * kbps // rate  # padding bit 0
    hdr = bytes(
        [
            0xFF,
            0xFB,  # MPEG1 (11), Layer III (01), no CRC (1)
            (bitrate_idx << 4) | (rate_idx << 2),
            (0xC0 if mono else 0x00) | 0x04,  # mode + original bit
        ]
    )
    for _ in range(int(n_frames)):
        out += hdr + bytes(flen - 4)
    return bytes(out)


#: output schema of codec_roundtrip_features
CODEC_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("n_px", T.LongType(), False),
        T.StructField("mean_byte", T.DoubleType(), False),
    ]
)


def codec_roundtrip_features(docs: DataFrame) -> DataFrame:
    """Codec-conformance feature pass, ORACLE-CHECKABLE BY DESIGN: each
    document's md5 digest becomes a deterministic image, ENCODED with a
    real codec chosen by doc_id % 6 (PNG / GIF / PPM / TIFF / BMP —
    all lossless — plus a JPEG arm), decoded back through decode_image's
    dispatch, and reduced to the mean pixel byte.  Because the paths
    are exact, DuckDB replays the expected mean DIRECTLY from
    md5(text)'s hex bytes with no image code at all — any encode/decode
    defect in the in-plan codec path breaks the hash match.

    The JPEG arm (round 9) rides an exactness corner of the spec: a
    16×16 grayscale image of four FLAT 8×8 blocks with EVEN values has
    only DC coefficients (8·(v−128), an even multiple of the quality-50
    luma quantizer q₀=16 divided exactly by 2), so quantization
    round-trips losslessly — while still driving the full entropy
    layer: DC prediction across MCUs, huffman coding, EOB, marker
    framing, and BOTH scan layouts (odd doc_ids emit the T.81
    non-interleaved one-SOS-per-component form).  The TIFF arm uses
    LZW + horizontal-differencing predictor.  Arrow-batched
    mapInPandas; one narrow map, no shuffle."""
    import hashlib
    import math

    from impala_cut_spark.operators.jpeg import encode_jpeg
    from impala_cut_spark.operators.tiff import encode_tiff

    def _batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = text if isinstance(text, str) else ""
                raw = hashlib.md5(s.encode("utf-8")).digest()
                b = np.frombuffer(raw, dtype=np.uint8)
                px = b.reshape(4, 4)
                codec = ("png", "gif", "ppm", "tiff", "jpeg", "bmp")[int(doc_id) % 6]
                n_px = 16
                if codec == "png":
                    payload = encode_png(px)
                elif codec == "gif":
                    payload = encode_gif(np.repeat(px[:, :, None], 3, axis=2))
                elif codec == "ppm":
                    payload = encode_ppm(np.repeat(px[:, :, None], 3, axis=2))
                elif codec == "bmp":
                    payload = encode_bmp(np.repeat(px[:, :, None], 3, axis=2))
                elif codec == "tiff":
                    payload = encode_tiff(
                        np.repeat(px[:, :, None], 3, axis=2),
                        compression=5,
                        predictor=2,
                    )
                else:  # jpeg: 4 flat even-valued blocks — exact at q50
                    vals = (b[:4] & 0xFE).astype(np.uint8)
                    img16 = np.zeros((16, 16), dtype=np.uint8)
                    img16[:8, :8] = vals[0]
                    img16[:8, 8:] = vals[1]
                    img16[8:, :8] = vals[2]
                    img16[8:, 8:] = vals[3]
                    payload = encode_jpeg(
                        img16, quality=50, interleave=int(doc_id) % 2 == 0
                    )
                    n_px = 256
                img = decode_image(payload)
                mean = float(img[:, :, 0].astype(np.int64).sum()) / float(n_px)
                rows.append(
                    (
                        int(doc_id),
                        codec,
                        n_px,
                        math.floor(mean * 1_000_000 + 0.5) / 1_000_000,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "codec", "n_px", "mean_byte"]
            )

    return docs.select("doc_id", "text").mapInPandas(
        _batch, schema=CODEC_FEATURE_SCHEMA
    )


def resize_image(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize via pure numpy indexing."""
    h, w = img.shape[:2]
    yi = (np.arange(height) * h // height).clip(0, h - 1)
    xi = (np.arange(width) * w // width).clip(0, w - 1)
    return img[yi][:, xi]


def resize_stub(assets: DataFrame, width: int, height: int) -> DataFrame:
    """Resize through a mapInPandas stage: REAL nearest-neighbor pixel
    work for decodable payloads (PPM/BMP, re-encoded as PPM); for
    codec-bearing payloads only the metadata is rewritten (the
    documented stub boundary)."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            payloads = []
            for p in out["payload"]:
                try:
                    img = decode_image(bytes(p) if p is not None else b"")
                    payloads.append(encode_ppm(resize_image(img, width, height)))
                except _DECODE_ERRORS:
                    payloads.append(p)  # stub: metadata-only
            out["payload"] = payloads
            out["width"] = np.int32(width)
            out["height"] = np.int32(height)
            yield out

    return assets.mapInPandas(_resize, ASSET_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ts_ms", T.IntegerType(), False),
        T.StructField("frame_payload", T.BinaryType(), True),
    ]
)


#: output schema of animation_frames — one row per composited frame
ANIM_FRAME_SCHEMA = (
    "asset_id bigint, codec string, frame_idx int, ts_ms int, "
    "width int, height int, mean_rgba double, parse_ok boolean"
)


def animation_frames(
    assets: DataFrame, id_col: str = "asset_id", payload_col: str = "payload"
) -> DataFrame:
    """One output row per COMPOSITED animation frame — real decode,
    not stride slicing (frame_sample's stub contract stays for raw
    streams): GIF89a animations through decode_gif_frames (giflib
    decode + GCE disposal/transparency composition) and animated WebP through
    decode_webp_anim (VP8X/ANIM/ANMF demux, libwebp frame decode,
    blend/dispose composition).  ``ts_ms`` is the frame's start time
    (cumulative prior durations; GIF centiseconds normalized to ms),
    ``mean_rgba`` the mean over the full RGBA canvas.  Malformed
    payloads degrade to ONE parse_ok=false row, never a job failure.
    Scale: Arrow-batched narrow map, no shuffle; one animation
    resident per iteration."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from impala_cut_spark.operators.vp8l import decode_webp_anim

        for pdf in batches:
            rows = []
            for aid, p in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(p) if p is not None else b""
                try:
                    if raw[:6] in (b"GIF87a", b"GIF89a"):
                        codec = "gif"
                        frames = [(c, d * 10) for c, d in decode_gif_frames(raw)]
                    elif raw[:4] == b"RIFF" and raw[8:12] == b"WEBP":
                        codec = "webp"
                        frames = decode_webp_anim(raw)
                    else:
                        raise ValueError("not an animation container")
                    ts = 0
                    for fi, (canvas, dur) in enumerate(frames):
                        h, w = canvas.shape[:2]
                        rows.append(
                            (int(aid), codec, fi, ts, w, h,
                             float(canvas.astype(np.float64).mean()), True)
                        )
                        ts += int(dur)
                except _DECODE_ERRORS:
                    rows.append((int(aid), None, -1, 0, 0, 0, 0.0, False))
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "codec", "frame_idx", "ts_ms",
                         "width", "height", "mean_rgba", "parse_ok"],
            )

    return assets.mapInPandas(_frames, ANIM_FRAME_SCHEMA)


def frame_sample(
    assets: DataFrame,
    frame_bytes: int = 64,
    every: int = 4,
    ms_per_frame: int = 40,
) -> DataFrame:
    """Frame sampling through a mapInPandas stage: slice each payload
    into fixed-size frames and keep every ``every``-th — the
    keyframe-extraction step of a video pipeline (40 ms/frame = 25
    fps), run at Arrow batch granularity with one output row per
    sampled frame.

    Stub boundary (same contract as decode_image): a real container
    (mp4/mkv) needs a codec library this container lacks — here the
    payload IS the frame stream (fixed-stride slicing), which keeps
    the Spark-side plumbing (schema, fan-out shape, binary Arrow
    transfer, batch memory bounds) fully real. Deterministic →
    oracle-checkable: DuckDB replays the slicing with range()+substr
    over the same utf-8 payloads (plans/pipeline2.py)."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, mods, idxs, tss, frames = [], [], [], [], []
            for aid, mod, p in zip(pdf["asset_id"], pdf["modality"], pdf["payload"]):
                raw = bytes(p) if p is not None else b""
                n_frames = max((len(raw) + frame_bytes - 1) // frame_bytes, 1)
                for fi in range(0, n_frames, every):
                    ids.append(aid)
                    mods.append(mod)
                    idxs.append(fi)
                    tss.append(fi * ms_per_frame)
                    frames.append(raw[fi * frame_bytes : (fi + 1) * frame_bytes])
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "modality": pd.Series(mods, dtype="object"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_ts_ms": pd.Series(tss, dtype="int32"),
                    "frame_payload": pd.Series(frames, dtype="object"),
                }
            )

    return assets.mapInPandas(_sample, FRAME_SCHEMA)


# -- FLAC / OGG container metadata (round 11) ----------------------------------
#
# The prune-before-decode stage for the remaining audio containers a
# crawl carries: FLAC's STREAMINFO block and the OGG page walk with
# Vorbis/Opus identification headers.  Sample DATA stays behind the
# documented codec stub boundary (the mp3_metadata contract); the
# writers below are the deterministic fixture twins (the
# build_minimal_mp4 precedent — no codec library exists in this
# container to anchor against, so the oracle row replays the
# round-trip and the page CRCs pin the container grammar).


def flac_metadata(payload: bytes) -> dict:
    """fLaC STREAMINFO → {sample_rate, channels, bits_per_sample,
    total_samples, duration_sec, n_blocks} (RFC 9639 layout)."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    out = None
    n_blocks = 0
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        btype = hdr & 0x7F
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + size]
        if len(body) != size:
            raise ValueError("flac: truncated metadata block")
        n_blocks += 1
        if btype == 0:  # STREAMINFO
            if size < 34:
                raise ValueError("flac: short STREAMINFO")
            bits = int.from_bytes(body[10:18], "big")
            rate = (bits >> 44) & 0xFFFFF
            channels = ((bits >> 41) & 0x7) + 1
            bps = ((bits >> 36) & 0x1F) + 1
            total = bits & ((1 << 36) - 1)
            out = {
                "sample_rate": rate, "channels": channels,
                "bits_per_sample": bps, "total_samples": total,
                "duration_sec": round(total / rate, 6) if rate else None,
            }
        pos += 4 + size
        if hdr & 0x80:  # last-metadata-block flag
            break
    if out is None:
        raise ValueError("flac: no STREAMINFO block")
    out["n_blocks"] = n_blocks
    return out


def build_flac_header(
    sample_rate: int, channels: int, bits_per_sample: int, total_samples: int
) -> bytes:
    """Minimal fLaC stream head (STREAMINFO only, last-block flag) —
    the fixture twin of flac_metadata; frame data is the stub
    boundary."""
    bits = (sample_rate << 44) | ((channels - 1) << 41) \
        | ((bits_per_sample - 1) << 36) | total_samples
    body = (b"\x00" * 10) + bits.to_bytes(8, "big") + b"\x00" * 16
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


#: OGG CRC-32: poly 0x04C11DB7, init 0, NOT reflected (unlike zlib)
_OGG_CRC_TABLE = []
for _i in range(256):
    _r = _i << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if _r & 0x80000000 \
            else (_r << 1) & 0xFFFFFFFF
    _OGG_CRC_TABLE.append(_r)


def _ogg_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[((crc >> 24) ^ b) & 0xFF]
    return crc


def ogg_metadata(payload: bytes) -> dict:
    """OGG page walk (RFC 3533: capture pattern, segment lacing,
    page CRC verified with the spec's unreflected CRC-32) + the codec
    identification header of the first packet — '\\x01vorbis' (channel
    count, sample rate) or 'OpusHead' (channels, pre-skip; granules
    run at 48 kHz).  Duration from the last page's granule position.
    Returns {codec, channels, sample_rate, n_pages, duration_sec}."""
    if payload[:4] != b"OggS":
        raise ValueError("not an OGG payload")
    pos = 0
    codec = None
    channels = None
    rate = None
    pre_skip = 0
    n_pages = 0
    last_granule = 0
    while pos + 27 <= len(payload):
        if payload[pos : pos + 4] != b"OggS":
            raise ValueError("ogg: lost page capture pattern")
        if payload[pos + 4] != 0:
            raise ValueError("ogg: unsupported stream structure version")
        granule = int.from_bytes(payload[pos + 6 : pos + 14], "little", signed=True)
        (crc,) = struct.unpack_from("<I", payload, pos + 22)
        nseg = payload[pos + 26]
        seg_table = payload[pos + 27 : pos + 27 + nseg]
        body_len = sum(seg_table)
        end = pos + 27 + nseg + body_len
        if end > len(payload):
            raise ValueError("ogg: truncated page")
        page = bytearray(payload[pos:end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc:
            raise ValueError("ogg: page CRC mismatch")
        body = payload[pos + 27 + nseg : end]
        if n_pages == 0:
            if body[:7] == b"\x01vorbis":
                codec = "vorbis"
                channels = body[11]
                (rate,) = struct.unpack_from("<I", body, 12)
            elif body[:8] == b"OpusHead":
                codec = "opus"
                channels = body[9]
                (pre_skip,) = struct.unpack_from("<H", body, 10)
                rate = 48000  # granules always run at 48 kHz for opus
            else:
                raise ValueError("ogg: unknown codec identification header")
        if granule >= 0:
            last_granule = max(last_granule, granule)
        n_pages += 1
        pos = end
    if n_pages == 0:
        raise ValueError("ogg: no pages")
    samples = last_granule - (pre_skip if codec == "opus" else 0)
    return {
        "codec": codec, "channels": channels, "sample_rate": rate,
        "n_pages": n_pages,
        "duration_sec": round(max(samples, 0) / rate, 6) if rate else None,
    }


def build_ogg_header(
    codec: str, channels: int, sample_rate: int, total_samples: int,
    n_data_pages: int = 1,
) -> bytes:
    """Minimal OGG stream (id-header page + empty data pages carrying
    the granule positions, CRC-stamped) — the fixture twin of
    ogg_metadata; packet payloads are the stub boundary."""

    def page(seq: int, granule: int, body: bytes, htype: int) -> bytes:
        segs = []
        rem = len(body)
        while rem >= 255:
            segs.append(255)
            rem -= 255
        segs.append(rem)
        hdr = bytearray(b"OggS\x00" + bytes([htype]))
        hdr += granule.to_bytes(8, "little", signed=True)
        hdr += (0x1D0).to_bytes(4, "little")  # serial
        hdr += seq.to_bytes(4, "little")
        hdr += b"\x00\x00\x00\x00"  # CRC placeholder
        hdr += bytes([len(segs)]) + bytes(segs)
        full = bytearray(hdr + body)
        struct.pack_into("<I", full, 22, _ogg_crc(bytes(full)))
        return bytes(full)

    if codec == "vorbis":
        ident = (b"\x01vorbis" + b"\x00\x00\x00\x00"
                 + bytes([channels]) + sample_rate.to_bytes(4, "little")
                 + b"\x00" * 12 + b"\xb8\x01")
        granule_total = total_samples
    elif codec == "opus":
        ident = (b"OpusHead\x01" + bytes([channels])
                 + (312).to_bytes(2, "little")  # pre-skip
                 + int(sample_rate).to_bytes(4, "little")
                 + b"\x00\x00\x00")
        granule_total = total_samples + 312
    else:
        raise ValueError("build_ogg_header: codec must be vorbis or opus")
    out = page(0, 0, ident, 0x02)  # beginning-of-stream
    for i in range(n_data_pages):
        frac = (i + 1) / n_data_pages
        granule = int(granule_total * frac)
        htype = 0x04 if i + 1 == n_data_pages else 0  # end-of-stream
        out += page(1 + i, granule, b"\x00", htype)
    return out
