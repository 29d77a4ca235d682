"""Snappy, LZ4, Zstandard and Brotli on pyarrow's native codecs.

Codec names are Arrow's: ``snappy`` and ``lz4_raw`` are raw blocks,
``zstd`` a sequence of Zstandard frames, ``brotli`` one Brotli stream.
This module adds only what the package needs on top of Arrow:

* Hadoop's ``BlockCompressorStream`` framing, the layout SnappyCodec
  and Lz4Codec give RCFile, SequenceFile and compressed text: repeated
  { int32-BE block length, then chunks of { int32-BE compressed
  length, raw block } until the block is complete }.
* The exact decoded size of a raw block.  Arrow returns as many bytes
  as it is asked for, even when the block decodes to fewer (the rest
  is uninitialised memory), so the size comes from the block itself:
  Snappy's varint preamble, or a walk over the LZ4 sequence headers.
  A Hadoop block header is only checked against it, never trusted.
* ``max_output``, the decompression-bomb guard for untrusted bodies:
  a bounded streaming read.
* ``ValueError`` for every malformed input (Arrow raises ``OSError``),
  which the crawl and format readers turn into ``parse_ok=false``.
"""

from __future__ import annotations

import struct

import pyarrow as pa

__all__ = ["compress", "decompress", "hadoop_compress", "hadoop_decompress"]


def compress(codec: str, data: bytes) -> bytes:
    """One raw block (snappy, lz4_raw), zstd frame or brotli stream."""
    return pa.compress(data, codec=codec, asbytes=True)


def decompress(codec: str, data: bytes, max_output: int | None = None) -> bytes:
    """Decode what :func:`compress` (or any conformant encoder) wrote;
    zstd accepts concatenated and skippable frames."""
    data = bytes(data)
    if not data:
        raise ValueError(f"{codec}: empty input")
    try:
        if codec in ("zstd", "brotli"):
            with pa.input_stream(pa.py_buffer(data), compression=codec) as s:
                out = s.read() if max_output is None else s.read(max_output + 1)
        else:
            size = _snappy_size(data) if codec == "snappy" else _lz4_size(data)
            out = pa.decompress(data, size, codec=codec, asbytes=True)
    except OSError as e:
        raise ValueError(f"{codec}: {e}") from None
    if max_output is not None and len(out) > max_output:
        raise ValueError(f"{codec}: output exceeds allowed size")
    return out


def _snappy_size(buf: bytes) -> int:
    n = 0
    for k, b in enumerate(buf[:5]):  # uint32 varint
        n |= (b & 0x7F) << (7 * k)
        if b < 0x80:
            # a 3-byte copy element yields at most 64 bytes: refuse
            # sizes no block of this length can hold before allocating
            if n > 22 * len(buf):
                raise ValueError("snappy: length preamble exceeds the block")
            return n
    raise ValueError("snappy: bad length preamble")


def _lz4_size(buf: bytes) -> int:
    """Decoded size of one LZ4 block: the sum of its literal and match
    lengths.  A block ends with a literals-only sequence."""
    n, i, size = len(buf), 0, 0

    def length(nibble: int) -> int:  # 15 continues in 255-run bytes
        nonlocal i
        v = nibble
        while nibble == 15:
            if i >= n:
                raise ValueError("lz4: truncated length")
            v += buf[i]
            i += 1
            nibble = 15 if buf[i - 1] == 255 else 0
        return v

    while i < n:
        token = buf[i]
        i += 1
        lit = length(token >> 4)
        i += lit
        size += lit
        if i == n:
            return size
        if i + 2 > n:
            raise ValueError("lz4: truncated sequence")
        i += 2  # offset, checked by the decoder
        size += length(token & 15) + 4
    raise ValueError("lz4: block does not end in literals")


def hadoop_compress(codec: str, data: bytes, block_size: int = 256 * 1024) -> bytes:
    """Frame ``data`` as Hadoop's SnappyCodec/Lz4Codec output stream
    does: one chunk per block."""
    out = bytearray()
    for s in range(0, len(data), block_size):
        block = data[s : s + block_size]
        comp = compress(codec, block)
        out += struct.pack(">ii", len(block), len(comp)) + comp
    return bytes(out)


def hadoop_decompress(codec: str, data: bytes) -> bytes:
    """Inverse of :func:`hadoop_compress`; also reads Hadoop's own
    blocks of several chunks (one write over the 256 KiB buffer)."""
    data = bytes(data)
    out = bytearray()
    pos = 0

    def int32() -> int:
        nonlocal pos
        if pos + 4 > len(data):
            raise ValueError(f"{codec}: truncated hadoop header")
        pos += 4
        return struct.unpack_from(">i", data, pos - 4)[0]

    while pos < len(data):
        want, got = int32(), 0
        while got < want:
            clen = int32()
            if clen < 0 or pos + clen > len(data):
                raise ValueError(f"{codec}: truncated hadoop chunk")
            chunk = decompress(codec, data[pos : pos + clen])
            pos += clen
            got += len(chunk)
            out += chunk
        if got != want:
            raise ValueError(f"{codec}: hadoop block length mismatch")
    return bytes(out)
