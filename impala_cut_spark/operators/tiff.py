"""Baseline TIFF 6.0 encoder — pure numpy + stdlib zlib.

``encode_tiff`` writes little-endian, single-strip 8-bit gray or RGB
TIFFs with compression none, TIFF-flavor LZW (MSB-first codes, clear
256 / EOI 257; the encoder's code-width boundary sits one entry after
the spec's early change, because a decoder learns each table entry one
code behind the encoder), Deflate or PackBits, optionally with the
horizontal-differencing predictor.  It builds the registry's TIFF
fixtures and ``pipe_multimodal_codec``'s round trips.

Decode goes through the system's libtiff (operators/imagelibs.py
``decode_tiff``; decode_image dispatches there on the II*/MM* magic).
libtiff and the JVM's ImageIO decode this encoder's output bit-exactly
(tests/test_operators.py).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


def _tiff_lzw_encode(data: bytes) -> bytes:
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1  # drop emitted bits (quadratic otherwise)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    put(256, width)  # clear
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        put(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        # the DECODER applies the spec's early change one entry behind
        # (it learns each entry one code later), so the encoder's
        # boundary is at 2^width exactly — verified against the JVM
        # ImageIO TIFF codec in both directions
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code == 4094:  # stay clear of the 12-bit ceiling
            put(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        cur = bytes([b])
    if cur:
        put(table[cur], width)
    put(257, width)  # EOI
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Simple valid PackBits: literal runs of <=128 + repeat runs."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # find a run
        j = i
        while j + 1 < n and data[j + 1] == data[i] and j - i < 127:
            j += 1
        if j > i:  # repeat run of length j-i+1 (>=2)
            out.append(257 - (j - i + 1))
            out.append(data[i])
            i = j + 1
        else:
            k = i
            while (
                k + 1 < n
                and k - i < 127
                and not (k + 2 < n and data[k + 1] == data[k + 2])
            ):
                k += 1
            out.append(k - i)
            out += data[i : k + 1]
            i = k + 1
    return bytes(out)


def encode_tiff(arr: np.ndarray, compression: int = 1, predictor: int = 1) -> bytes:
    """(H, W) | (H, W, 3) uint8 → little-endian single-strip TIFF with
    compression 1 (none), 5 (LZW) or 32773 (PackBits)."""
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    spp = 1 if gray else 3
    data = arr.astype(np.uint8)
    if predictor == 2:
        d3 = data.reshape(h, w, spp).astype(np.int16)
        diff = np.empty_like(d3)
        diff[:, 0] = d3[:, 0]
        diff[:, 1:] = d3[:, 1:] - d3[:, :-1]
        data = (diff & 0xFF).astype(np.uint8)
    raw = data.tobytes()
    if compression == 5:
        strip = _tiff_lzw_encode(raw)
    elif compression == 32773:
        strip = _packbits_encode(raw)
    elif compression == 8:
        strip = zlib.compress(raw)
    else:
        strip = raw
    entries = [
        (256, 3, 1, w),
        (257, 3, 1, h),
        (258, 3, 1, 8) if gray else (258, 3, 3, None),  # bits per sample
        (259, 3, 1, compression),
        (262, 3, 1, 1 if gray else 2),
        (273, 4, 1, None),  # strip offset, patched
        (277, 3, 1, spp),
        (278, 3, 1, h),
        (279, 4, 1, len(strip)),
    ]
    if predictor == 2:
        entries.append((317, 3, 1, 2))
    entries.sort()
    # layout: header(8) + ifd + extra values + strip
    ifd_off = 8
    ifd_size = 2 + len(entries) * 12 + 4
    extra = bytearray()
    extra_base = ifd_off + ifd_size
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", len(entries))
    strip_field_pos = None
    for tag, typ, cnt, val in entries:
        out += struct.pack("<HHI", tag, typ, cnt)
        if tag == 258 and not gray:
            out += struct.pack("<I", extra_base + len(extra))
            extra += struct.pack("<3H", 8, 8, 8)
        elif tag == 273:
            strip_field_pos = len(out)
            out += struct.pack("<I", 0)  # patched below
        elif typ == 3:
            out += struct.pack("<HH", val, 0)
        else:
            out += struct.pack("<I", val)
    out += struct.pack("<I", 0)  # next IFD
    out += extra
    strip_off = len(out)
    struct.pack_into("<I", out, strip_field_pos, strip_off)
    out += strip
    return bytes(out)
