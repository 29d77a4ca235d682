"""PNG, GIF, TIFF and JPEG through libpng, libgif, libtiff and libjpeg
(operators/imagelibs.py).

The pixel conformance tests (ImageIO parity, foreign-encoder files,
round trips) live in tests/test_operators.py and tests/test_animation.py.
This file pins what is specific to the bindings: the giflib and gd
struct layouts declared by hand, the header size guard, a missing
library failing loudly, formatted library messages, the one libtiff
warning let through, and a table of hostile payloads.

Each hostile payload is decoded in a child process under a 1 GiB
address-space cap and a wall cap, so a hang or a runaway allocation
shows as a failed case instead of a stuck suite.  It must raise inside
``multimodal._DECODE_ERRORS`` (or, for the named cases, decode), and
``extract_features``/``animation_frames`` must turn it into byte
features or one ``parse_ok=false`` row.
"""

from __future__ import annotations

import builtins
import importlib
import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pytest

from impala_cut_spark.operators import imagelibs, multimodal
from impala_cut_spark.operators.jpeg import encode_jpeg
from impala_cut_spark.operators.tiff import encode_tiff

ROOT = Path(__file__).resolve().parent.parent


def _gif(screen, bg, gct, images) -> bytes:
    """Hand-assemble a GIF89a: ``images`` are (x, y, index plane,
    local colour table or None, interlaced, GCE (disposal, delay,
    transparent index) or None)."""
    def ct_bits(ct):
        return max(1, int(len(ct) - 1).bit_length())

    def table(ct):
        out = np.zeros((1 << ct_bits(ct), 3), np.uint8)
        out[: len(ct)] = ct
        return out.tobytes()

    w, h = screen
    out = bytearray(b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little"))
    out += bytes([0x80 | (ct_bits(gct) - 1), bg, 0]) + table(gct)
    for x, y, idx, lct, interlaced, gce in images:
        if gce is not None:
            disposal, delay, transparent = gce
            out += (b"\x21\xf9\x04" + bytes([disposal << 2 | 1])
                    + delay.to_bytes(2, "little") + bytes([transparent, 0]))
        ih, iw = idx.shape
        flags = (0x40 if interlaced else 0) | (
            0x80 | (ct_bits(lct) - 1) if lct is not None else 0)
        out += (b"\x2c" + x.to_bytes(2, "little") + y.to_bytes(2, "little")
                + iw.to_bytes(2, "little") + ih.to_bytes(2, "little")
                + bytes([flags]))
        if lct is not None:
            out += table(lct)
        rows = idx
        if interlaced:
            order = [*range(0, ih, 8), *range(4, ih, 8), *range(2, ih, 4),
                     *range(1, ih, 2)]
            rows = idx[order]
        min_code = max(2, ct_bits(lct if lct is not None else gct))
        out += bytes([min_code])
        out += multimodal._gif_lzw_encode(rows.reshape(-1).tolist(), min_code)
        out += b"\x00"
    return bytes(out + b";")


def test_gif_struct_layout():
    """Every giflib field the binding reads comes back as the header
    wrote it: screen, background, global and local colour tables, the
    current image descriptor of each of two images, de-interlaced
    raster bits and the Graphic Control Extension."""
    rng = np.random.default_rng(41)
    gct = rng.integers(0, 256, (4, 3), np.uint8)
    lct = rng.integers(0, 256, (8, 3), np.uint8)
    first = rng.integers(0, 4, (6, 10))
    second = rng.integers(0, 8, (9, 8))
    payload = _gif((37, 23), 3, gct, [
        (2, 3, first, None, False, (2, 7, 1)),
        (5, 1, second, lct, True, None),
    ])
    sw, sh, bg, got_gct, images = imagelibs._gif_images(payload)
    assert (sw, sh, bg) == (37, 23, 3)
    assert np.array_equal(got_gct, gct)
    one, two = images
    assert (one["x"], one["y"], one["w"], one["h"]) == (2, 3, 10, 6)
    assert np.array_equal(one["rgb"], gct[first])
    assert np.array_equal(one["opaque"], first != 1)  # transparent index 1
    assert (one["disposal"], one["delay"]) == (2, 7)
    assert (two["x"], two["y"], two["w"], two["h"]) == (5, 1, 8, 9)
    assert np.array_equal(two["rgb"], lct[second])  # local table, de-interlaced
    assert two["opaque"].all() and (two["disposal"], two["delay"]) == (0, 0)
    still = imagelibs.decode_gif(payload)
    assert still.shape == (23, 37, 3) and (still[0, 0] == gct[3]).all()
    assert np.array_equal(still[3:9, 2:12], gct[first])
    frames = imagelibs.decode_gif_frames(payload)
    assert [d for _, d in frames] == [7, 0]
    canvas = frames[1][0]
    assert np.array_equal(canvas[1:10, 5:13, :3], lct[second])


def test_gd_struct_layout():
    """The gd image fields the binding reads (sx, sy, tpixels) come
    back as the frame header and the pixels wrote them: a 37×23 JPEG
    with a flat colour in each quadrant decodes to that shape, with each
    colour in its corner.  0xFF fill bytes before a marker are legal and
    pass the size guard's marker walk."""
    img = np.empty((23, 37, 3), np.uint8)
    corners = np.array([[200, 30, 30], [30, 200, 30], [30, 30, 200], [240, 240, 240]])
    img[:12, :19], img[:12, 19:], img[12:, :19], img[12:, 19:] = corners
    payload = encode_jpeg(img, quality=95)
    got = imagelibs.decode_jpeg(payload)
    assert got.shape == (23, 37, 3)
    for (y, x), want in zip(((0, 0), (0, 36), (22, 0), (22, 36)), corners):
        assert np.abs(got[y, x].astype(int) - want).max() <= 4, ((y, x), got[y, x])
    i = payload.index(b"\xff\xdb")
    filled = payload[:i] + b"\xff\xff\xff" + payload[i:]
    assert np.array_equal(imagelibs.decode_jpeg(filled), got)


def _palette_tiff(colormap: np.ndarray, index: np.ndarray) -> bytes:
    """A little-endian, one-strip, 8-bit palette TIFF (photometric 3)
    with a 256-entry ColorMap of R, then G, then B SHORTs."""
    import struct

    h, w = index.shape
    cmap = np.zeros((3, 256), "<u2")
    cmap[:, : len(colormap)] = colormap.T
    entries = [(256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
               (262, 3, 1, 3), (273, 4, 1, 0), (277, 3, 1, 1), (278, 3, 1, h),
               (279, 4, 1, h * w), (320, 3, 768, 0)]
    ifd_end = 8 + 2 + 12 * len(entries) + 4
    offsets = {273: ifd_end + cmap.nbytes, 320: ifd_end}
    out = b"II*\x00" + struct.pack("<IH", 8, len(entries))
    for tag, typ, count, value in entries:
        out += struct.pack("<HHII", tag, typ, count, offsets.get(tag, value))
    return out + b"\x00" * 4 + cmap.tobytes() + index.astype(np.uint8).tobytes()


def test_palette_tiff_with_8_bit_colormap_decodes():
    """libtiff warns "Assuming 8-bit colormap" when no ColorMap entry
    reaches 256 and then reads the entries as 8-bit; that warning alone
    is let through, so both colormap widths give the same pixels."""
    colours = np.array([[10, 20, 30], [200, 100, 50]])
    index = np.array([[0, 1], [1, 0]])
    want = colours[index]
    for cmap in (colours, colours * 257):
        assert np.array_equal(imagelibs.decode_tiff(_palette_tiff(cmap, index)), want)


def test_size_guard_refuses_before_allocating(monkeypatch):
    """Headers declaring more than MAX_PIXELS raise ValueError before
    any raster is allocated."""
    import struct
    import zlib

    def no_raster(*_a, **_k):
        raise AssertionError("raster allocated")

    png = bytearray(multimodal.encode_png(np.zeros((4, 4, 3), np.uint8)))
    png[16:24] = struct.pack(">II", 16384, 16384)
    png[29:33] = struct.pack(">I", zlib.crc32(bytes(png[12:29])))
    gif = bytearray(multimodal.encode_gif(np.zeros((4, 4, 3), np.uint8)))
    gif[6:10] = b"\xff\xff\xff\xff"
    tif = bytearray(encode_tiff(np.zeros((4, 4), np.uint8)))
    for tag in (256, 257):
        i = bytes(tif).find(struct.pack("<HHI", tag, 3, 1))
        tif[i + 2 : i + 4] = struct.pack("<H", 4)
        tif[i + 8 : i + 12] = struct.pack("<I", 65535)
    jpg = bytearray(encode_jpeg(np.zeros((4, 4, 3), np.uint8)))
    i = bytes(jpg).index(b"\xff\xc0")  # SOF0: length, precision, height, width
    jpg[i + 5 : i + 9] = struct.pack(">HH", 16384, 16384)
    monkeypatch.setattr(imagelibs.np, "empty", no_raster)
    monkeypatch.setattr(imagelibs.np, "zeros", no_raster)
    monkeypatch.setattr(imagelibs, "_libgd", no_raster)  # libgd allocates the raster
    for fn, payload in ((imagelibs.decode_png, png),
                        (imagelibs.decode_gif_frames, gif),
                        (imagelibs.decode_tiff, tif),
                        (imagelibs.decode_jpeg, jpg)):
        with pytest.raises(ValueError, match="exceeds"):
            fn(bytes(payload))


@pytest.mark.parametrize(
    "loader, payload",
    [
        ("_libpng", multimodal.encode_png(np.full((2, 2, 3), 5, np.uint8))),
        ("_libgif", multimodal.encode_gif(np.full((2, 2, 3), 5, np.uint8))),
        ("_libtiff", encode_tiff(np.full((2, 2), 5, np.uint8))),
        ("_libgd", encode_jpeg(np.full((2, 2, 3), 5, np.uint8))),
    ],
)
def test_missing_library_fails_loudly(monkeypatch, loader, payload):
    def no_library():
        raise OSError(f"{loader}: cannot open shared object file")

    monkeypatch.setattr(imagelibs, loader, no_library)
    assert not issubclass(OSError, multimodal._DECODE_ERRORS)
    with pytest.raises(OSError):
        multimodal.decode_image(payload)


# -- hostile bytes -------------------------------------------------------------

FORMATS = ("png", "gif", "gif-anim", "tiff-lzw", "tiff-deflate",
           "tiff-packbits", "tiff-g4", "jpeg", "jpeg-multiscan")
CASES = sorted(
    [f"{f}/{m}" for f in FORMATS
     for m in ("truncated-1", "truncated-half", "truncated-minus-1", "bad-length")]
    + ["gif/min-code-size-78", "gif-anim/frame-2-min-code-size-78",
       "gif/sub-block-length-255", "gif-anim/sub-block-length-255",
       "gif/screen-65535-square", "gif/image-65535-square",
       "gif/image-65535x32767-on-1x1-screen", "png/1000000-square",
       "tiff-lzw/4294967295-square", "tiff-g4/strip-ends-early",
       "jpeg/dc-symbol-255", "jpeg/16384-square", "jpeg/65535-square"]
)
#: cases that must decode to the intact payload's pixels: cutting the
#: last byte of a GIF removes only its 0x3B trailer
DECODES = {"gif/truncated-minus-1", "gif-anim/truncated-minus-1"}
#: the binding each format is decoded with in the child
DECODER = {"png": "decode_png", "gif": "decode_gif",
           "gif-anim": "decode_gif_frames", "jpeg": "decode_jpeg",
           "jpeg-multiscan": "decode_jpeg"}
WALL_S = 20

_CHILD = """
import json, resource, sys
from impala_cut_spark.operators import imagelibs
payload = sys.stdin.buffer.read()
resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))
try:
    getattr(imagelibs, sys.argv[1])(payload)
    raised = None
except BaseException as e:
    raised = [type(e).__module__, type(e).__qualname__, str(e)[:200]]
print(json.dumps(raised))
"""


def _g4_tiff(spark, path) -> bytes:
    """A CCITT Group 4 TIFF written by the JVM's ImageIO."""
    rng = np.random.default_rng(47)
    bits = np.kron((rng.random((6, 10)) < 0.3).astype(np.uint8),
                   np.ones((4, 4), np.uint8))
    jvm = spark._jvm
    h, w = bits.shape
    bi = jvm.java.awt.image.BufferedImage(w, h, 12)  # TYPE_BYTE_BINARY
    for y in range(h):
        for x in range(w):
            bi.setRGB(x, y, 0xFFFFFF if bits[y, x] else 0)
    wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    param = wr.getDefaultWriteParam()
    param.setCompressionMode(2)
    param.setCompressionType("CCITT T.6")
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(jvm.java.io.File(str(path)))
    wr.setOutput(ios)
    wr.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
    ios.close()
    return path.read_bytes()


def _intact(spark, tmp_path) -> dict[str, bytes]:
    rng = np.random.default_rng(2026)
    img = rng.integers(0, 256, (24, 32, 3), np.uint8)
    pal = rng.integers(0, 256, (12, 3), np.uint8)
    frames = [pal[rng.integers(0, 12, (24, 32))] for _ in range(3)]
    return {
        "png": multimodal.encode_png(img, filter_type=4),
        "gif": multimodal.encode_gif(frames[0]),
        "gif-anim": multimodal.encode_gif_anim(frames, [5, 10, 15]),
        "tiff-lzw": encode_tiff(img, compression=5, predictor=2),
        "tiff-deflate": encode_tiff(img, compression=8),
        "tiff-packbits": encode_tiff(img, compression=32773),
        "tiff-g4": _g4_tiff(spark, tmp_path / "g4.tif"),
        "jpeg": encode_jpeg(img, quality=90, restart_interval=3),
        "jpeg-multiscan": encode_jpeg(img, quality=90, interleave=False),
    }


def _gif_image_data(p: bytes, n: int) -> int:
    """Offset of the LZW minimum-code-size byte of the n-th image (the
    fixtures' images carry no local colour table)."""
    pos = 13 + 3 * (2 << (p[10] & 7))
    while True:
        image = p[pos] == 0x2C
        if image and n == 0:
            return pos + 10
        n -= image
        # an extension skips its label; an image its descriptor and code size
        pos += 11 if image else 2
        while p[pos]:
            pos += 1 + p[pos]
        pos += 1


def _first_strip_byte_count(p: bytes) -> int:
    """Offset of the first StripByteCounts value of a one-IFD TIFF."""
    import struct

    e = "<" if p[:2] == b"II" else ">"
    (ifd,) = struct.unpack_from(e + "I", p, 4)
    (n,) = struct.unpack_from(e + "H", p, ifd)
    for i in range(ifd + 2, ifd + 2 + 12 * n, 12):
        tag, typ, count, value = struct.unpack_from(e + "HHII", p, i)
        if tag == 279:
            assert typ == 4, "LONG byte counts"
            return i + 8 if count == 1 else value
    raise AssertionError("no StripByteCounts")


def _mutate(name: str, intact: dict[str, bytes]) -> bytes:
    import struct
    import zlib

    fmt, case = name.split("/")
    p = bytearray(intact[fmt])
    if case == "truncated-1":
        return bytes(p[:1])
    if case == "truncated-half":
        return bytes(p[: len(p) // 2])
    if case == "truncated-minus-1":
        return bytes(p[:-1])
    if case == "bad-length":
        if fmt == "png":  # IDAT declares 2^31 - 1 bytes
            i = bytes(p).index(b"IDAT") - 4
            p[i : i + 4] = struct.pack(">I", 2**31 - 1)
        elif fmt.startswith("gif"):  # first data sub-block ends at once
            p[_gif_image_data(p, 0) + 1] = 0
        elif fmt.startswith("jpeg"):  # the first DQT runs 65535 bytes
            i = bytes(p).index(b"\xff\xdb")
            p[i + 2 : i + 4] = b"\xff\xff"
        else:  # the first IFD declares 65535 entries
            (ifd,) = struct.unpack_from("<I" if p[:2] == b"II" else ">I", p, 4)
            p[ifd : ifd + 2] = b"\xff\xff"
        return bytes(p)
    if case == "min-code-size-78":
        p[_gif_image_data(p, 0)] = 78
    elif case == "frame-2-min-code-size-78":
        p[_gif_image_data(p, 1)] = 78
    elif case == "sub-block-length-255":  # its first short sub-block
        pos = _gif_image_data(p, 0) + 1
        while p[pos] == 255:
            pos += 256
        p[pos] = 255
    elif case == "screen-65535-square":
        p[6:10] = b"\xff\xff\xff\xff"
    elif case == "image-65535-square":
        i = _gif_image_data(p, 0) - 10
        p[i + 5 : i + 9] = b"\xff\xff\xff\xff"
    elif case == "image-65535x32767-on-1x1-screen":
        p[6:10] = b"\x01\x00\x01\x00"
        i = _gif_image_data(p, 0) - 10
        p[i + 1 : i + 9] = b"\x00\x00\x00\x00\xff\xff\xff\x7f"
    elif case == "1000000-square":
        p[16:24] = struct.pack(">II", 10**6, 10**6)
        p[29:33] = struct.pack(">I", zlib.crc32(bytes(p[12:29])))
    elif case == "4294967295-square":
        for tag in (256, 257):
            i = bytes(p).find(struct.pack("<HHI", tag, 3, 1))
            p[i + 2 : i + 4] = struct.pack("<H", 4)
            p[i + 8 : i + 12] = struct.pack("<I", 2**32 - 1)
    elif case == "dc-symbol-255":  # DC category 7 becomes symbol 255
        i = bytes(p).index(b"\xff\xc4") + 2 + 2 + 1 + 16  # marker, length, class/id, counts
        assert p[i + 7] == 7
        p[i + 7] = 0xFF
    elif case in ("16384-square", "65535-square"):  # the SOF0 frame size
        i = bytes(p).index(b"\xff\xc0")
        p[i + 5 : i + 9] = struct.pack(">HH", *[int(case.split("-")[0])] * 2)
    elif case == "strip-ends-early":  # the strip's codes stop halfway
        i = _first_strip_byte_count(bytes(p))
        e = "<" if p[:2] == b"II" else ">"
        (n,) = struct.unpack_from(e + "I", p, i)
        struct.pack_into(e + "I", p, i, n // 2)
    else:
        raise AssertionError(name)
    return bytes(p)


def _run_child(name: str, payload: bytes) -> dict:
    fn = DECODER.get(name.split("/")[0], "decode_tiff")
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
    try:
        done = subprocess.run(
            [sys.executable, "-c", _CHILD, fn], input=payload,
            capture_output=True, timeout=WALL_S, cwd=ROOT, env=env,
        )
    except subprocess.TimeoutExpired:
        return {"status": f"no result after {WALL_S}s"}
    if done.returncode != 0:
        return {"status": f"exit {done.returncode}: {done.stderr[-500:]!r}"}
    return {"status": "ok", "raised": json.loads(done.stdout)}


@pytest.fixture(scope="module")
def hostile(spark, tmp_path_factory):
    """name → (intact payload, hostile payload, child outcome)."""
    intact = _intact(spark, tmp_path_factory.mktemp("hostile"))
    payloads = {n: _mutate(n, intact) for n in CASES}
    with ThreadPoolExecutor(max_workers=4) as pool:
        outcomes = dict(zip(CASES, pool.map(
            lambda n: _run_child(n, payloads[n]), CASES)))
    return {n: (intact[n.split("/")[0]], payloads[n], outcomes[n]) for n in CASES}


@pytest.fixture(scope="module")
def hostile_rows(spark, hostile):
    """extract_features and animation_frames rows for every case whose
    child finished (a case that hung there stays out of Spark)."""
    names = [n for n in CASES if hostile[n][2]["status"] == "ok"]
    assets = spark.createDataFrame(
        [(i, "image", None, 0, 0, bytearray(hostile[n][1]))
         for i, n in enumerate(names)],
        multimodal.ASSET_SCHEMA,
    )
    feats = {names[r.asset_id]: np.array(r.features)
             for r in multimodal.extract_features(assets).collect()}
    frames: dict[str, list] = {n: [] for n in names}
    for r in multimodal.animation_frames(assets).collect():
        frames[names[r.asset_id]].append(r)
    return feats, frames


@pytest.mark.parametrize("name", CASES)
def test_hostile_raster_bytes(name, hostile, hostile_rows):
    intact, payload, outcome = hostile[name]
    assert outcome["status"] == "ok", outcome["status"]
    feats, frames = hostile_rows
    if name in DECODES:
        assert outcome["raised"] is None
        assert np.array_equal(multimodal.decode_image(payload),
                              multimodal.decode_image(intact))
        assert np.allclose(feats[name], multimodal.image_features(
            multimodal.decode_image(intact)))
        assert len(frames[name]) == len(imagelibs.decode_gif_frames(intact))
        assert all(r.parse_ok for r in frames[name])
        return
    assert outcome["raised"] is not None, "decoded"
    module, qualname, message = outcome["raised"]
    exc = getattr(builtins if module == "builtins" else importlib.import_module(module),
                  qualname)
    assert issubclass(exc, multimodal._DECODE_ERRORS), (qualname, message)
    assert np.allclose(feats[name], multimodal.fake_features(payload))
    (row,) = frames[name]
    assert row.parse_ok is False and row.frame_idx == -1


def test_library_messages_are_formatted(hostile):
    """libtiff's and libgd's printf-style messages reach the ValueError
    formatted from their arguments, not as raw format strings."""
    for name, text in (("tiff-g4/strip-ends-early", "Premature EOF at line"),
                       ("jpeg/truncated-half", "Premature end of JPEG file")):
        message = hostile[name][2]["raised"][2]
        assert text in message and "%" not in message, message
