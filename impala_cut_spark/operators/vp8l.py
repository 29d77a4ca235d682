"""WebP: one decoder binding, a minimal lossless encoder, and the
animated-WebP container layer.

Decode goes through the system's libwebp (``libwebp.so.7``, a runtime
dependency of the engine, loaded lazily once per process by
``_libwebp``): ``decode_webp`` hands a whole RIFF/WEBP still (lossy VP8
with or without an ALPH plane, or lossless VP8L) to ``WebPDecodeRGBA``.
libwebp answers a payload it rejects (truncated, corrupt, animated,
oversized) with NULL, which surfaces here as ValueError and which the
multimodal operators degrade to ``parse_ok=false``.  A missing
library is an OSError and is NOT degraded, so a host without libwebp
fails the query instead of silently turning every WebP into byte
features.

The encoder side derives from the public "WebP Lossless Bitstream
Specification" (RFC 9649): LSB-first bit stream, canonical prefix codes
with the DEFLATE-style code-length code, and the color-indexing
transform with pixel bundling.  It builds the registry's WebP fixtures;
libwebp decodes its output byte-exactly (tests/test_vp8l.py).

The installed libwebp has no demux library (no WebPAnimDecoder), so the
ANMF chunk walk and the canvas composition of animated files stay in
Python below, with each frame decoded by ``decode_webp``.

Reference parity note: the reference engine has no image codecs at all
(multimodal ops are this repo's training-pipeline extension; see
SURVEY "Training-pipeline extensions").
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "decode_webp",
    "decode_webp_anim",
    "encode_vp8l",
    "encode_webp_anim",
    "encode_webp_lossless",
    "webp_frames",
]


# -- decode: libwebp ------------------------------------------------------------

_LIBWEBP = None


def _libwebp():
    """The process's libwebp handle, dlopened on first use.  OSError
    when the library is absent."""
    global _LIBWEBP
    if _LIBWEBP is None:
        import ctypes

        lw = ctypes.CDLL("libwebp.so.7")
        lw.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_ubyte)
        lw.WebPDecodeRGBA.argtypes = [
            ctypes.c_char_p,
            ctypes.c_size_t,
            ctypes.POINTER(ctypes.c_int),
            ctypes.POINTER(ctypes.c_int),
        ]
        lw.WebPFree.argtypes = [ctypes.c_void_p]
        lw.WebPFree.restype = None
        _LIBWEBP = lw
    return _LIBWEBP


def decode_webp(payload: bytes) -> np.ndarray:
    """RIFF/WEBP still image → (H, W, 4) uint8 RGBA via libwebp's
    WebPDecodeRGBA.  ValueError when libwebp rejects the payload."""
    import ctypes

    lw = _libwebp()
    w, h = ctypes.c_int(), ctypes.c_int()
    ptr = lw.WebPDecodeRGBA(payload, len(payload), ctypes.byref(w), ctypes.byref(h))
    if not ptr:
        raise ValueError("webp: libwebp rejected payload")
    try:
        return np.ctypeslib.as_array(ptr, shape=(h.value, w.value, 4)).copy()
    finally:
        lw.WebPFree(ctypes.cast(ptr, ctypes.c_void_p))


# -- encode: minimal conformant VP8L -------------------------------------------


class _LsbWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def bytes(self) -> bytes:
        out = bytearray(self.out)
        if self.nbits:
            out.append(self.acc & 0xFF)
        return bytes(out)


#: order in which code-length-code lengths appear in the stream
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _huffman_lengths(freqs: list[int], max_len: int = 15) -> list[int]:
    """Length-limited canonical huffman code lengths (package-merge;
    plain heap Huffman fast path when the unrestricted tree already
    fits the limit — the common case for small alphabets, and ~10x
    cheaper than the always-package-merge form it replaces, round 11)."""
    syms = [i for i, f in enumerate(freqs) if f > 0]
    n = len(syms)
    if n == 0:
        raise ValueError("vp8l: empty histogram")
    if n == 1:
        out = [0] * len(freqs)
        out[syms[0]] = 1
        return out
    if n <= (1 << max_len):
        import heapq

        # (freq, tiebreak, symbol set) — the deterministic tiebreak
        # keeps output stable; only LENGTHS matter for canonical codes
        heap = [(freqs[s], s, (s,)) for s in syms]
        heapq.heapify(heap)
        lengths = [0] * len(freqs)
        k = len(freqs)
        while len(heap) > 1:
            fa, _, sa = heapq.heappop(heap)
            fb, _, sb = heapq.heappop(heap)
            for sym in sa:
                lengths[sym] += 1
            for sym in sb:
                lengths[sym] += 1
            heapq.heappush(heap, (fa + fb, k, sa + sb))
            k += 1
        if max(lengths[s] for s in syms) <= max_len:
            return lengths
    # package-merge: L rounds of pair-packaging merged back with the
    # original items; a symbol's code length = how many of the final
    # first 2n-2 entries contain it.
    lengths = [0] * len(freqs)
    items = sorted((freqs[s], (s,)) for s in syms)
    level = items
    for _ in range(max_len - 1):
        packaged = [
            (level[i][0] + level[i + 1][0], level[i][1] + level[i + 1][1])
            for i in range(0, len(level) - 1, 2)
        ]
        level = sorted(packaged + items)
    for _, symset in level[: 2 * n - 2]:
        for s in symset:
            lengths[s] += 1
    return lengths


def _canonical_codes(lengths: list[int]) -> list[int]:
    max_len = max(lengths) if lengths else 0
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    codes = [0] * len(lengths)
    for sym in range(len(lengths)):
        ln = lengths[sym]
        if ln:
            codes[sym] = next_code[ln]
            next_code[ln] += 1
    return codes


def _rev_codes(codes: list[int], lengths: list[int]) -> list[int]:
    """Pre-reverse every canonical code for LSB-first emission (prefix
    codes are read MSB-first) — reversing once per TABLE instead of
    once per emitted symbol (round 11: the per-symbol reversal loop
    dominated tiny-image encode)."""
    out = [0] * len(codes)
    for sym, ln in enumerate(lengths):
        if ln:
            code = codes[sym]
            rev = 0
            for _ in range(ln):
                rev = (rev << 1) | (code & 1)
                code >>= 1
            out[sym] = rev
    return out


def _write_prefix_code(bw: _LsbWriter, lengths: list[int]) -> None:
    used = [s for s, ln in enumerate(lengths) if ln]
    if len(used) == 1 and used[0] < 2:
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        bw.write(0, 1)  # 1-bit symbol field
        bw.write(used[0], 1)
        return
    if len(used) == 1:
        bw.write(1, 1)
        bw.write(0, 1)
        bw.write(1, 1)  # 8-bit symbol field
        bw.write(used[0], 8)
        return
    if len(used) == 2 and max(used) < 256:
        bw.write(1, 1)
        bw.write(1, 1)  # two symbols
        bw.write(1, 1)
        bw.write(used[0], 8)
        bw.write(used[1], 8)
        return
    bw.write(0, 1)  # normal code
    cl_freq = [0] * 19
    for ln in lengths:
        cl_freq[ln] += 1
    cl_lengths = _huffman_lengths(cl_freq, max_len=7)
    if sum(1 for ln in cl_lengths if ln) == 1:
        # All code lengths equal (uniform histogram): the code-length
        # code has ONE symbol, which decoders read with ZERO bits per
        # entry while the 1-bit canonical code would emit one — a
        # silent desync.  Give a never-emitted second symbol a 1-bit
        # code so every per-entry emission below carries a real bit.
        real = next(s for s, ln in enumerate(cl_lengths) if ln)
        cl_lengths[0 if real != 0 else 1] = 1
    cl_codes = _canonical_codes(cl_lengths)
    cl_rev = _rev_codes(cl_codes, cl_lengths)
    bw.write(15, 4)  # num_code_lengths = 19
    for sym in _CL_ORDER:
        bw.write(cl_lengths[sym], 3)
    bw.write(0, 1)  # no explicit max-symbol
    write = bw.write
    for ln in lengths:
        write(cl_rev[ln], cl_lengths[ln])


def _write_literal_image(
    bw: _LsbWriter,
    g: np.ndarray,
    r: np.ndarray,
    b: np.ndarray,
    a: np.ndarray,
    top_level: bool,
) -> None:
    """Write one spatially-coded image as pure literals: color-cache
    bit 0, (meta-prefix bit 0 when top-level), the five prefix codes,
    then the interleaved g/r/b/a symbol stream — the shared body of
    the plain and palette encoder arms."""
    bw.write(0, 1)  # no color cache
    if top_level:
        bw.write(0, 1)  # no meta prefix codes
    chans = {"g": g, "r": r, "b": b, "a": a}
    green_freq = [0] * (256 + 24)
    for v, c in zip(*np.unique(g, return_counts=True)):
        green_freq[int(v)] = int(c)
    codes = {}

    def _emit_pair(lens: list[int]):
        """(codes, emission lengths): a single-symbol code costs ZERO
        bits per symbol on the wire (the decoder short-circuits), so
        its emission lengths are all 0 even though the header carries
        the 1-entry simple code.  Codes come back PRE-REVERSED for
        direct LSB-first emission (round 11 — reversing per symbol
        dominated tiny-image encode)."""
        if sum(1 for ln in lens if ln) == 1:
            return _rev_codes(_canonical_codes(lens), lens), [0] * len(lens)
        return _rev_codes(_canonical_codes(lens), lens), lens

    glen = _huffman_lengths(green_freq)
    _write_prefix_code(bw, glen)
    codes["g"] = _emit_pair(glen)
    for key in ("r", "b", "a"):
        freq = [0] * 256
        for v, c in zip(*np.unique(chans[key], return_counts=True)):
            freq[int(v)] = int(c)
        lens = _huffman_lengths(freq)
        _write_prefix_code(bw, lens)
        codes[key] = _emit_pair(lens)
    # distance code: unused, one dummy symbol
    _write_prefix_code(bw, [1] + [0] * 39)
    gc, gl = codes["g"]
    rc, rl = codes["r"]
    bc, bl = codes["b"]
    ac, al = codes["a"]
    # one interleaved g,r,b,a symbol stream, emitted with the writer
    # state held in locals (the per-sample method-call round-trip was
    # the other half of tiny-image encode cost)
    n_px = len(g)
    sym = np.empty(4 * n_px, dtype=np.int64)
    sym[0::4] = g
    sym[1::4] = r
    sym[2::4] = b
    sym[3::4] = a
    revs = [gc, rc, bc, ac]
    lens4 = [gl, rl, bl, al]
    acc = bw.acc
    nbits = bw.nbits
    out = bw.out
    for i, v in enumerate(sym.tolist()):
        k = i & 3
        n = lens4[k][v]
        acc |= revs[k][v] << nbits
        nbits += n
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    bw.acc = acc
    bw.nbits = nbits


def encode_vp8l(arr: np.ndarray) -> bytes:
    """(H, W, 3|4) uint8 → VP8L chunk body.

    Minimal-but-conformant: no color cache, no LZ77, one prefix-code
    group — every symbol a literal under real entropy coding (libwebp
    decodes the output byte-exactly).  Images with ≤ 256 distinct
    colors take the COLOR-INDEXING arm: the palette rides a
    delta-coded 1×n sub-image and pixels become bundled indices on the
    green channel — up to 8 pixels per coded byte for bilevel
    content."""
    if arr.ndim != 3 or arr.shape[2] not in (3, 4):
        raise ValueError("encode_vp8l: need (H, W, 3|4) uint8")
    h, w = arr.shape[:2]
    if not (0 < w <= 16384 and 0 < h <= 16384):
        raise ValueError("encode_vp8l: dims out of range")
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[..., :3] = arr[..., :3]
    rgba[..., 3] = arr[..., 3] if arr.shape[2] == 4 else 255
    bw = _LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if arr.shape[2] == 4 else 0, 1)
    bw.write(0, 3)  # version
    # ARGB packed pixels, decoder's channel layout: (a<<24)|(r<<16)|(g<<8)|b
    argb = (
        (rgba[..., 3].astype(np.uint32) << 24)
        | (rgba[..., 0].astype(np.uint32) << 16)
        | (rgba[..., 1].astype(np.uint32) << 8)
        | rgba[..., 2].astype(np.uint32)
    ).reshape(-1)
    palette = np.unique(argb)
    n_colors = len(palette)
    if n_colors <= 2:
        _wb = 3
    elif n_colors <= 4:
        _wb = 2
    elif n_colors <= 16:
        _wb = 1
    else:
        _wb = 0
    # cost model: bundling pays when the packed symbol stream plus the
    # palette sub-image undercut the plain literals by more than the
    # five extra prefix-code tables (~250 symbol-equivalents) — tiny
    # images stay on the plain arm, low-color real images bundle
    pays = (
        n_colors <= 256
        and _subsample_size(w, _wb) * h + n_colors + 250 < w * h
    )
    if pays:
        bw.write(1, 1)  # a transform follows
        bw.write(3, 2)  # color indexing
        bw.write(n_colors - 1, 8)
        # palette sub-image: 1×n, entries delta-coded per byte channel
        pal_bytes = palette.copy().view(np.uint8).reshape(-1, 4)
        deltas = pal_bytes.astype(np.int16)
        deltas[1:] -= pal_bytes[:-1].astype(np.int16)
        deltas = (deltas & 0xFF).astype(np.uint8)
        dpix = deltas.view(np.uint32).reshape(-1)
        _write_literal_image(
            bw,
            (dpix >> 8) & 0xFF,
            (dpix >> 16) & 0xFF,
            dpix & 0xFF,
            dpix >> 24,
            top_level=False,
        )
        bw.write(0, 1)  # end of transforms
        width_bits = _wb
        idx = np.searchsorted(palette, argb).reshape(h, w).astype(np.uint32)
        per = 1 << width_bits  # pixels per packed byte
        ibits = 8 >> width_bits
        packed_w = _subsample_size(w, width_bits)
        padded = np.zeros((h, packed_w * per), dtype=np.uint32)
        padded[:, :w] = idx
        packed = np.zeros((h, packed_w), dtype=np.uint32)
        for j in range(per):
            packed |= padded[:, j::per] << np.uint32(j * ibits)
        packed = packed.reshape(-1)
        zeros = np.zeros(len(packed), dtype=np.uint32)
        _write_literal_image(
            bw, packed, zeros, zeros, np.full(len(packed), 255, np.uint32),
            top_level=True,
        )
        return bw.bytes()
    bw.write(0, 1)  # no transforms (top-level loop reads 1 bit)
    _write_literal_image(
        bw,
        rgba[..., 1].reshape(-1),
        rgba[..., 0].reshape(-1),
        rgba[..., 2].reshape(-1),
        rgba[..., 3].reshape(-1),
        top_level=True,
    )
    return bw.bytes()



def encode_webp_lossless(arr: np.ndarray) -> bytes:
    """Wrap encode_vp8l in the RIFF/WEBP container."""
    import struct

    body = encode_vp8l(arr)
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


# -- animated WebP (VP8X/ANIM/ANMF container layer) ----------------------------
#
# WebP animations carry standalone VP8/VP8L key-frame bitstreams inside
# ANMF chunks (the format has no inter-frame prediction across frames —
# frames composite onto a canvas via per-frame blend/dispose flags), so
# decode_webp is the complete codec layer; this section adds the
# container demux, the canvas composition rules from the container
# spec, and a mux twin for fixtures/round-trips.


def webp_frames(payload: bytes) -> dict:
    """Demux an animated WebP: RIFF → VP8X (animation flag) → ANIM
    (background color, loop count) → one entry per ANMF chunk.  Each
    frame decodes through decode_webp on a rewrapped minimal
    container, so demux adds no codec surface.  Returns ``{w, h,
    bg_rgba, loop, frames: [{x, y, duration_ms, blend, dispose,
    rgba}]}``.  Raises on still images (callers route those to
    decode_webp directly) and on malformed containers."""
    import struct

    if len(payload) < 16 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("webp: not a RIFF/WEBP payload")
    pos = 12
    out: dict | None = None
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + size > len(payload):
            raise ValueError("webp: truncated chunk")
        body = payload[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8X":
            if len(body) < 10:
                raise ValueError("webp: short VP8X chunk")
            if not body[0] & 0x02:
                raise ValueError("webp: VP8X without animation flag")
            w = int.from_bytes(body[4:7], "little") + 1
            h = int.from_bytes(body[7:10], "little") + 1
            out = {"w": w, "h": h, "bg_rgba": (0, 0, 0, 0), "loop": 0,
                   "frames": []}
        elif fourcc == b"ANIM":
            if out is None:
                raise ValueError("webp: ANIM before VP8X")
            b, g, r, a = body[0], body[1], body[2], body[3]  # BGRA order
            out["bg_rgba"] = (r, g, b, a)
            out["loop"] = int.from_bytes(body[4:6], "little")
        elif fourcc == b"ANMF":
            if out is None:
                raise ValueError("webp: ANMF before VP8X")
            if len(body) < 16:
                raise ValueError("webp: short ANMF header")
            fx = int.from_bytes(body[0:3], "little") * 2
            fy = int.from_bytes(body[3:6], "little") * 2
            fw = int.from_bytes(body[6:9], "little") + 1
            fh = int.from_bytes(body[9:12], "little") + 1
            dur = int.from_bytes(body[12:15], "little")
            flags = body[15]
            sub = body[16:]
            wrapped = (b"RIFF"
                       + struct.pack("<I", 4 + len(sub)) + b"WEBP" + sub)
            rgba = decode_webp(wrapped)
            if rgba.shape[:2] != (fh, fw):
                raise ValueError("webp: ANMF size disagrees with bitstream")
            out["frames"].append({
                "x": fx, "y": fy, "duration_ms": dur,
                "blend": not flags & 0x02,   # bit 1: 1 = do NOT blend
                "dispose": bool(flags & 0x01),  # bit 0: dispose to background
                "rgba": rgba,
            })
        pos += 8 + size + (size & 1)
    if out is None:
        raise ValueError("webp: no VP8X chunk (still image?)")
    if not out["frames"]:
        raise ValueError("webp: animation with no ANMF frames")
    return out


def decode_webp_anim(payload: bytes) -> list[tuple[np.ndarray, int]]:
    """Animated WebP → [(composited RGBA canvas, duration ms)], one
    per frame, composed per the container spec: the canvas starts
    fully transparent; blending method 0 alpha-composites the frame
    over the canvas rectangle, method 1 overwrites it; disposal 1
    clears the frame rectangle back to transparent AFTER the frame is
    shown (the libwebp demuxer's behavior — the ANIM background color
    is a renderer hint, not part of the composition).  Payloads whose
    first chunk is not a VP8X with the animation flag are stills and
    return a single (decode_webp(payload), 0) entry; a malformed
    animation raises its own error."""
    if not (payload[12:16] == b"VP8X" and payload[20:21] and payload[20] & 0x02):
        return [(decode_webp(payload), 0)]
    anim = webp_frames(payload)
    canvas = np.zeros((anim["h"], anim["w"], 4), dtype=np.uint8)
    shown: list[tuple[np.ndarray, int]] = []
    for fr in anim["frames"]:
        x, y = fr["x"], fr["y"]
        fh, fw = fr["rgba"].shape[:2]
        if y + fh > anim["h"] or x + fw > anim["w"]:
            raise ValueError("webp: ANMF frame exceeds canvas")
        region = canvas[y : y + fh, x : x + fw]
        if fr["blend"]:
            fa = fr["rgba"][..., 3:4].astype(np.float64) / 255.0
            ca = region[..., 3:4].astype(np.float64) / 255.0
            oa = fa + ca * (1.0 - fa)
            rgb = np.where(
                oa > 0,
                (fr["rgba"][..., :3] * fa + region[..., :3] * ca * (1.0 - fa))
                / np.maximum(oa, 1e-12),
                0.0,
            )
            region[..., :3] = np.floor(rgb + 0.5).astype(np.uint8)
            region[..., 3] = np.floor(oa[..., 0] * 255.0 + 0.5).astype(np.uint8)
        else:
            region[:] = fr["rgba"]
        shown.append((canvas.copy(), fr["duration_ms"]))
        if fr["dispose"]:
            region[:] = 0
    return shown


def encode_webp_anim(
    frames: list[np.ndarray],
    durations_ms: list[int],
    offsets: list[tuple[int, int]] | None = None,
    loop: int = 0,
    blend: bool = False,
    dispose: bool = False,
    canvas: tuple[int, int] | None = None,
) -> bytes:
    """Mux (H, W, 4) RGBA frames into an animated WebP (VP8X + ANIM +
    one losslessly-coded ANMF per frame) — the fixture/round-trip twin
    of decode_webp_anim.  Offsets must be even (the container stores
    x/2, y/2).  With the defaults (no blend, no dispose, no offsets)
    decode_webp_anim returns the input frames exactly."""
    import struct

    if len(frames) != len(durations_ms) or not frames:
        raise ValueError("webp: frames/durations mismatch")
    offsets = offsets or [(0, 0)] * len(frames)
    cw = ch = 0
    for (x, y), fr in zip(offsets, frames):
        if x % 2 or y % 2:
            raise ValueError("webp: ANMF offsets must be even")
        cw = max(cw, x + fr.shape[1])
        ch = max(ch, y + fr.shape[0])
    if canvas is not None:
        cw, ch = max(cw, canvas[0]), max(ch, canvas[1])

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    parts = [chunk(b"VP8X", bytes([0x02, 0, 0, 0])
                   + (cw - 1).to_bytes(3, "little")
                   + (ch - 1).to_bytes(3, "little"))]
    parts.append(chunk(b"ANIM", b"\x00\x00\x00\x00"
                       + int(loop).to_bytes(2, "little")))
    flags = (0 if blend else 0x02) | (0x01 if dispose else 0)
    for (x, y), fr, dur in zip(offsets, frames, durations_ms):
        sub = chunk(b"VP8L", encode_vp8l(fr))
        body = ((x // 2).to_bytes(3, "little")
                + (y // 2).to_bytes(3, "little")
                + (fr.shape[1] - 1).to_bytes(3, "little")
                + (fr.shape[0] - 1).to_bytes(3, "little")
                + int(dur).to_bytes(3, "little")
                + bytes([flags]) + sub)
        parts.append(chunk(b"ANMF", body))
    payload = b"".join(parts)
    return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WEBP" + payload
