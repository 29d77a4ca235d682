"""Baseline JPEG (ITU-T T.81 / JFIF) encoder — pure numpy + stdlib.

``encode_jpeg`` is the fixture twin of the engine's JPEG decode: baseline
4:4:4 with the spec's Annex-K huffman tables and quality-scaled standard
quantization matrices, optionally with restart markers or one scan per
component.  It builds the registry's JPEG fixtures and
``pipe_multimodal_codec``'s exact-by-construction JPEG arm.  JPEG is
lossy, so round-trip tests assert closeness, not equality.

Decode goes through the system's libjpeg (operators/imagelibs.py
``decode_jpeg``; decode_image dispatches there on the SOI signature).
libjpeg and the JVM's ImageIO decode this encoder's output, and real
baseline and progressive photos, bit-exactly (tests/test_operators.py).
"""

from __future__ import annotations

import struct

import numpy as np

#: zig-zag order: index i of the scan -> (row, col) flattened position
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

def _dct_matrix() -> np.ndarray:
    m = np.zeros((8, 8))
    for u in range(8):
        a = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            m[u, x] = a * np.cos((2 * x + 1) * u * np.pi / 16)
    return m

_DCT = _dct_matrix()

_STD_LUM_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_STD_CHR_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K huffman specs: (counts[1..16], values)
_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           bytes(range(12)))
_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
           bytes(range(12)))
_AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], bytes([
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]))
_AC_CHR = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], bytes([
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]))


def _enc_table(spec) -> dict[int, tuple[int, int]]:
    counts, values = spec
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            out[values[k]] = (ln, code)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, ln: int) -> None:
        self.acc = (self.acc << ln) | (code & ((1 << ln) - 1))
        self.n += ln
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
        # drop emitted bits — an unmasked accumulator makes every shift
        # O(stream length) (quadratic encode; same r9 fix as the reader)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s


def _quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    quality = max(1, min(100, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((q * s + 50) // 100, 1, 255).astype(np.int32)


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 90,
    restart_interval: int = 0,
    interleave: bool = True,
) -> bytes:
    """(H, W, 3) or (H, W) uint8 → baseline JFIF JPEG, 4:4:4 (no
    subsampling), Annex-K huffman tables.  ``restart_interval`` > 0
    emits a DRI segment and RSTn markers every that-many MCUs (with
    the spec's predictor reset + bit padding) so decode has a
    restart/resync fixture.  ``interleave=False`` emits one SOS per
    component (T.81 non-interleaved sequential mode — the legal
    multi-scan baseline layout) instead of a single interleaved
    scan."""
    if not interleave and restart_interval:
        raise ValueError("restart_interval only supported for interleaved scans")
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if gray:
        ycc = [arr.astype(np.float64)]
    else:
        a = arr.astype(np.float64)
        r, g, b = a[..., 0], a[..., 1], a[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        ycc = [y, cb, cr]
    qlum = _quality_scale(_STD_LUM_Q, quality)
    qchr = _quality_scale(_STD_CHR_Q, quality)
    qts = [qlum] if gray else [qlum, qchr, qchr]
    dc_t = [_enc_table(_DC_LUM)] + ([] if gray else [_enc_table(_DC_CHR)] * 2)
    ac_t = [_enc_table(_AC_LUM)] + ([] if gray else [_enc_table(_AC_CHR)] * 2)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    # DQT
    for tid, q in enumerate([qlum] if gray else [qlum, qchr]):
        zz = np.empty(64, dtype=np.int32)
        zz[:] = q[ZIGZAG]  # store in zigzag order
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(int(v) for v in zz)
    # SOF0
    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for c in range(nc):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT
    for tc, th, spec in [(0, 0, _DC_LUM), (1, 0, _AC_LUM)] + (
        [] if gray else [(0, 1, _DC_CHR), (1, 1, _AC_CHR)]
    ):
        counts, values = spec
        seg = bytes([tc << 4 | th]) + bytes(counts) + values
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    # DRI
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    hp = -(-h // 8) * 8
    wp = -(-w // 8) * 8
    padded = []
    for p in ycc:
        pp = np.empty((hp, wp))
        pp[:h, :w] = p
        pp[h:, :w] = p[h - 1 : h, :]
        pp[:, w:] = pp[:, w - 1 : w]
        padded.append(pp)
    inv_zz = ZIGZAG  # coef_flat[ZIGZAG] gives zigzag-ordered scan

    def emit_block(wtr, ci, my, mx, pred):
        blk = padded[ci][my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] - 128.0
        coef = _DCT @ blk @ _DCT.T
        qz = np.round(coef.reshape(64)[inv_zz] / qts[ci][inv_zz]).astype(np.int64)
        # DC
        diff = int(qz[0]) - pred[ci]
        pred[ci] = int(qz[0])
        t = 0 if diff == 0 else int(diff if diff > 0 else -diff).bit_length()
        ln, code = dc_t[ci][t]
        wtr.put(code, ln)
        if t:
            v = diff if diff >= 0 else diff + (1 << t) - 1
            wtr.put(v, t)
        # AC
        run = 0
        last_nz = int(np.max(np.nonzero(qz)[0])) if np.any(qz[1:]) else 0
        for k in range(1, 64):
            v = int(qz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ln, code = ac_t[ci][0xF0]
                wtr.put(code, ln)
                run -= 16
            s = int(v if v > 0 else -v).bit_length()
            ln, code = ac_t[ci][(run << 4) | s]
            wtr.put(code, ln)
            vv = v if v >= 0 else v + (1 << s) - 1
            wtr.put(vv, s)
            run = 0
        if last_nz < 63:
            ln, code = ac_t[ci][0x00]
            wtr.put(code, ln)

    if interleave:
        # SOS: one interleaved scan over all components
        sos = bytes([nc])
        for c in range(nc):
            sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
        sos += b"\x00\x3f\x00"
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        wtr = _BitWriter()
        pred = [0] * len(ycc)
        m_i = 0
        for my in range(hp // 8):
            for mx in range(wp // 8):
                if restart_interval and m_i and m_i % restart_interval == 0:
                    wtr.flush()  # pad to a byte boundary with 1-bits
                    wtr.out += bytes(
                        [0xFF, 0xD0 + ((m_i // restart_interval - 1) % 8)]
                    )
                    pred = [0] * len(ycc)
                m_i += 1
                for ci in range(len(ycc)):
                    emit_block(wtr, ci, my, mx, pred)
        wtr.flush()
        out += wtr.out
    else:
        # one SOS per component — the non-interleaved multi-scan layout
        for ci in range(len(ycc)):
            sos = bytes([1, ci + 1, 0x00 if ci == 0 else 0x11]) + b"\x00\x3f\x00"
            out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
            wtr = _BitWriter()
            pred = [0] * len(ycc)
            for my in range(hp // 8):
                for mx in range(wp // 8):
                    emit_block(wtr, ci, my, mx, pred)
            wtr.flush()
            out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)
