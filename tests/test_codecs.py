"""Snappy / LZ4 / Zstandard / Brotli (sources/codecs.py) and their
consumers: Hadoop block framing, Avro, RCFile and HTTP bodies.

Independent anchors, both directions each: snappy-java, lz4-java and
zstd-jni (all on Spark's classpath), Hadoop's own SnappyCodec and
Lz4Codec for the BlockCompressorStream framing, and the system
libbrotli through ctypes.  Every arm must turn hostile bytes into
ValueError, which the readers degrade to parse_ok=false."""

from __future__ import annotations

import ctypes
import ctypes.util
import io
import os
import random
import struct
import zlib

import pytest

from impala_cut_spark.sources import codecs

CODECS = ["snappy", "lz4_raw", "zstd", "brotli"]
BLOCK_CODECS = ["snappy", "lz4_raw"]  # the two Hadoop frames


def _random_cases(seed: int) -> list[bytes]:
    rng = random.Random(seed)
    mixed = bytearray()
    for _ in range(200):
        if rng.random() < 0.5:
            mixed += bytes(rng.randrange(256) for _ in range(rng.randrange(80)))
        else:
            mixed += bytes([rng.randrange(256)]) * rng.randrange(300)
    return [bytes(rng.randrange(256) for _ in range(3000)), bytes(mixed)]


CASES = [
    b"",
    b"x",
    b"abcd",
    b"hello world " * 400,
    bytes(5000),
    b"ab" * 100000,  # overlapping copies
    b"the quick brown fox jumps over the lazy dog. " * 3000,
] + _random_cases(42)


def _text(n_words: int, seed: int = 1) -> bytes:
    rng = random.Random(seed)
    words = ["the", "quick", "brown", "fox", "jumps", "over", "lazy",
             "dog", "http://example.com/", "<html>", "data", "that"]
    return " ".join(rng.choice(words) for _ in range(n_words)).encode()


@pytest.fixture(scope="module")
def jvm(spark):
    return spark._sc._jvm


# -- round trips ----------------------------------------------------------------


@pytest.mark.parametrize("i", range(len(CASES)))
@pytest.mark.parametrize("codec", BLOCK_CODECS)
def test_roundtrip_raw_and_hadoop(codec, i):
    data = CASES[i]
    assert codecs.decompress(codec, codecs.compress(codec, data)) == data
    assert codecs.hadoop_decompress(codec, codecs.hadoop_compress(codec, data)) == data
    # a small block size forces several blocks
    framed = codecs.hadoop_compress(codec, data, block_size=777)
    assert codecs.hadoop_decompress(codec, framed) == data


@pytest.mark.parametrize("codec", CODECS)
def test_hypothesis_roundtrip(codec):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.binary(max_size=4096))
    def rt(data):
        assert codecs.decompress(codec, codecs.compress(codec, data)) == data
        if codec in BLOCK_CODECS:
            framed = codecs.hadoop_compress(codec, data)
            assert codecs.hadoop_decompress(codec, framed) == data

    rt()


@pytest.mark.parametrize("codec", ["zstd", "brotli"])
def test_hypothesis_capped_roundtrip(codec):
    """Round trips through the bounded streaming read: a cap of exactly
    the decoded size passes, one byte less raises."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.binary(max_size=8192))
    def rt(data):
        comp = codecs.compress(codec, data)
        assert codecs.decompress(codec, comp, max_output=len(data)) == data
        if data:
            with pytest.raises(ValueError, match="exceeds allowed size"):
                codecs.decompress(codec, comp, max_output=len(data) - 1)

    rt()


@pytest.mark.parametrize("codec", CODECS)
def test_compresses_repetitive_input(codec):
    data = b"0123456789abcdef" * 4096  # 64 KiB
    assert len(codecs.compress(codec, data)) < len(data) // 10


# -- hand-written blocks ----------------------------------------------------------


def test_snappy_handwritten_stream():
    # varint len 13; literal "abcd"; copy-1 off=4 len=4; literal "e";
    # copy-2 off=9 len=4
    s = bytes([13]) + bytes([(4 - 1) << 2]) + b"abcd"
    s += bytes([((4 - 4) << 2) | (0 << 5) | 1, 4])
    s += bytes([0 << 2]) + b"e"
    s += bytes([((4 - 1) << 2) | 2]) + (9).to_bytes(2, "little")
    assert codecs.decompress("snappy", s) == b"abcdabcdeabcd"


def test_snappy_overlapping_copy_repeats_pattern():
    # literal "ab" then a copy off=2 len=10 repeats the pattern
    s = bytes([12]) + bytes([(2 - 1) << 2]) + b"ab"
    s += bytes([((10 - 1) << 2) | 2]) + (2).to_bytes(2, "little")
    assert codecs.decompress("snappy", s) == b"ab" * 6


def test_lz4_handwritten_sequences():
    # the block format's end rules: a literals-only last sequence, the
    # last match starting at least 12 bytes before the end
    tail = b"0123456789"
    # token lit=4/ml=0(+4): "abcd", offset 4, match 4 → "abcdabcd"
    s = bytes([(4 << 4) | 0]) + b"abcd" + (4).to_bytes(2, "little")
    s += bytes([len(tail) << 4]) + tail
    assert codecs.decompress("lz4_raw", s) == b"abcdabcd" + tail
    # overlap: lit=2 "ab", offset 2, ml token 15 + ext 3 → 4+15+3=22
    s = bytes([(2 << 4) | 15]) + b"ab" + (2).to_bytes(2, "little") + bytes([3])
    s += bytes([len(tail) << 4]) + tail
    assert codecs.decompress("lz4_raw", s) == b"ab" * 12 + tail
    # literal length 15 + 255 + 10 = 280 through extension bytes
    s = bytes([0xF0, 255, 10]) + bytes(280)
    assert codecs.decompress("lz4_raw", s) == bytes(280)


_CORRUPT = {
    "snappy": [
        bytes([4, ((4 - 1) << 2) | 2, 9, 0]),  # offset past output
        bytes([9, (4 - 1) << 2]) + b"abcd",  # preamble ≠ decoded
        b"\xff\xff\xff\xff\x0f" + b"tiny",  # 4 GiB preamble
        b"\x80" * 6,  # varint never ends
    ],
    "lz4_raw": [
        bytes([(1 << 4) | 0]) + b"a" + (9).to_bytes(2, "little") + b"\x00",  # offset past output
        bytes([8 << 4]) + b"abc",  # literals overrun the block
        bytes([0x40]) + b"abcd" + b"\x04\x00",  # ends on a match
    ],
    "zstd": [b"\x00\x00\x00\x00rest"],  # bad magic
    "brotli": [bytes([0b0001_0001, 0, 0])],  # reserved WBITS pattern
}


@pytest.mark.parametrize("codec", CODECS)
def test_corrupt_blocks_raise(codec):
    for blob in _CORRUPT[codec]:
        with pytest.raises(ValueError):
            codecs.decompress(codec, blob)
    if codec == "zstd":
        frame = bytearray(codecs.compress("zstd", b"hello world" * 50))
        assert frame[4] == 0x60  # single segment, 2-byte content size
        frame[7] |= 0x06  # first block header: reserved block type 3
        with pytest.raises(ValueError):
            codecs.decompress("zstd", bytes(frame))


def test_lz4_truncated_blocks_raise_clearly():
    # a sequence cut inside its offset or a length extension raises
    # instead of decoding a bogus small offset or length
    for blob in [
        bytes([0x40]) + b"abcd" + b"\x04",  # one offset byte
        bytes([0xF0]),  # literal length extension missing
        bytes([0x4F]) + b"abcd" + b"\x04\x00",  # match extension missing
    ]:
        with pytest.raises(ValueError, match="truncated"):
            codecs.decompress("lz4_raw", blob)
    # a real block cut at any point raises or decodes to a strict
    # prefix, never to bytes past the cut
    full = b"the quick brown fox " * 40
    comp = codecs.compress("lz4_raw", full)
    for cut in range(1, len(comp)):
        try:
            got = codecs.decompress("lz4_raw", comp[:cut])
        except ValueError:
            continue
        assert full.startswith(got)


# -- hostile bytes: one table for every arm -------------------------------------

_HOSTILE_PAYLOAD = b"the quick brown fox jumps over the lazy dog. " * 1500


HTTP_ZLIB_ARMS = ["http-gzip", "http-deflate", "http-raw-deflate"]


def _arms():
    from impala_cut_spark.sources.warc import decode_http_body

    arms = {c: (codecs.compress(c, _HOSTILE_PAYLOAD),
                lambda b, c=c: codecs.decompress(c, b)) for c in CODECS}
    for c in BLOCK_CODECS:
        arms[f"hadoop-{c}"] = (codecs.hadoop_compress(c, _HOSTILE_PAYLOAD),
                               lambda b, c=c: codecs.hadoop_decompress(c, b))
    wrapped = zlib.compress(_HOSTILE_PAYLOAD)
    for arm, enc, good in (("http-gzip", "gzip", _gzip(_HOSTILE_PAYLOAD)),
                           ("http-deflate", "deflate", wrapped),
                           ("http-raw-deflate", "deflate", wrapped[2:-4])):
        arms[arm] = (good, lambda b, enc=enc: decode_http_body({"content-encoding": enc}, b)[0])
    return arms


def _hostile(arm: str, good: bytes) -> dict[str, bytes]:
    return {
        "cut-1": good[:1],
        "cut-half": good[: len(good) // 2],
        "cut-len-1": good[:-1],
        "trailing-garbage": good + b"garbage!",
        # a zero-length Hadoop stream is the framing of no data (Hadoop's
        # decoder reads it as such); its empty case is a block header
        # promising bytes over an empty chunk
        "empty": struct.pack(">ii", 100, 0) if arm.startswith("hadoop") else b"",
    }


@pytest.mark.parametrize("case", ["cut-1", "cut-half", "cut-len-1",
                                  "trailing-garbage", "empty"])
@pytest.mark.parametrize("arm", CODECS + [f"hadoop-{c}" for c in BLOCK_CODECS] + HTTP_ZLIB_ARMS)
def test_hostile_bytes_raise(arm, case):
    good, dec = _arms()[arm]
    assert dec(good) == _HOSTILE_PAYLOAD
    with pytest.raises(ValueError):
        dec(_hostile(arm, good)[case])


def test_gzip_body_members_decode_within_one_cap():
    """RFC 1952: a gzip body is a series of members.  They all decode,
    under one max_output cap; bytes after the last one still raise, and
    only the gzip arm reads on after a stream's end."""
    from impala_cut_spark.sources.warc import decode_http_body

    gz = {"content-encoding": "gzip"}
    two = _gzip(_HOSTILE_PAYLOAD) + _gzip(b"tail")
    assert decode_http_body(gz, two) == (_HOSTILE_PAYLOAD + b"tail", "gzip")
    with pytest.raises(ValueError, match="exceeds allowed size"):
        decode_http_body(gz, two, max_output=len(_HOSTILE_PAYLOAD) + 3)
    with pytest.raises(ValueError, match="trailing bytes"):
        decode_http_body(gz, two + b"garbage!")
    with pytest.raises(ValueError, match="trailing bytes"):
        decode_http_body({"content-encoding": "deflate"}, zlib.compress(b"a") + _gzip(b"b"))


@pytest.mark.parametrize("codec", ["zstd", "brotli"])
def test_max_output_guard(codec):
    comp = codecs.compress(codec, b"x" * 100_000)
    with pytest.raises(ValueError, match="exceeds allowed size"):
        codecs.decompress(codec, comp, max_output=50_000)
    assert len(codecs.decompress(codec, comp, max_output=100_000)) == 100_000


# -- snappy-java, lz4-java and Hadoop ---------------------------------------------


def test_raw_block_conforms_to_snappy_java(jvm):
    SJ = jvm.org.xerial.snappy.Snappy
    for data in CASES[1:]:
        theirs = bytes(SJ.compress(bytearray(data)))
        assert codecs.decompress("snappy", theirs) == data
        ours = codecs.compress("snappy", data)
        assert bytes(SJ.uncompress(bytearray(ours))) == data


def test_raw_block_conforms_to_lz4_java(jvm):
    fac = jvm.net.jpountz.lz4.LZ4Factory.fastestInstance()
    compj, decj = fac.fastCompressor(), fac.fastDecompressor()
    for data in CASES[1:]:
        theirs = bytes(compj.compress(bytearray(data)))
        assert codecs.decompress("lz4_raw", theirs) == data
        ours = codecs.compress("lz4_raw", data)
        assert bytes(decj.decompress(bytearray(ours), len(data))) == data


def _lz4_sequences(block: bytes) -> list[tuple[int, int]]:
    """(literal length, match length) per sequence of one LZ4 block;
    the last sequence has match length 0."""
    seqs, i = [], 0

    def length(nibble: int) -> int:
        nonlocal i
        v = nibble
        while nibble == 15:
            nibble = 15 if block[i] == 255 else 0
            v += block[i]
            i += 1
        return v

    while True:
        token = block[i]
        i += 1
        lit = length(token >> 4)
        i += lit
        if i == len(block):
            return seqs + [(lit, 0)]
        i += 2
        seqs.append((lit, length(token & 15) + 4))


def test_lz4_spec_end_restrictions_in_encoder(jvm):
    """The block format's end rules, which lz4-java's fast decoder
    relies on: the last 5 bytes are literals and the last match starts
    at least 12 bytes before the end."""
    decj = jvm.net.jpountz.lz4.LZ4Factory.fastestInstance().fastDecompressor()
    for data in [b"repeat" * 100, b"a" * 4096, b"hello world " * 400]:
        block = codecs.compress("lz4_raw", data)
        seqs = _lz4_sequences(block)
        assert sum(lit + ml for lit, ml in seqs) == len(data)
        assert seqs[-1][0] >= 5 and seqs[-1][1] == 0
        if len(seqs) > 1:
            assert seqs[-1][0] + seqs[-2][1] >= 12
        assert bytes(decj.decompress(bytearray(block), len(data))) == data


def _hadoop(jvm, name: str):
    codec = getattr(jvm.org.apache.hadoop.io.compress, name)()
    codec.setConf(jvm.org.apache.hadoop.conf.Configuration())
    return codec


def _hadoop_write(jvm, codec, data: bytes) -> bytes:
    bos = jvm.java.io.ByteArrayOutputStream()
    cos = codec.createOutputStream(bos)
    cos.write(bytearray(data))  # one write, however large
    cos.close()
    return bytes(bos.toByteArray())


def _hadoop_read(jvm, codec, blob: bytes) -> bytes:
    bis = jvm.java.io.ByteArrayInputStream(bytearray(blob))
    return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(
        codec.createInputStream(bis)))


_HADOOP = [("SnappyCodec", "snappy"), ("Lz4Codec", "lz4_raw")]


@pytest.mark.parametrize("name,codec", _HADOOP)
def test_hadoop_framing_conforms_to_hadoop_codec(jvm, name, codec):
    hc = _hadoop(jvm, name)
    for data in CASES[1:]:
        theirs = _hadoop_write(jvm, hc, data)
        assert codecs.hadoop_decompress(codec, theirs) == data
        assert _hadoop_read(jvm, hc, codecs.hadoop_compress(codec, data)) == data


def _chunks_per_block(codec: str, blob: bytes) -> list[int]:
    pos, shape = 0, []
    while pos < len(blob):
        (want,) = struct.unpack_from(">i", blob, pos)
        pos += 4
        got = n = 0
        while got < want:
            (clen,) = struct.unpack_from(">i", blob, pos)
            got += len(codecs.decompress(codec, blob[pos + 4 : pos + 4 + clen]))
            pos += 4 + clen
            n += 1
        shape.append(n)
    return shape


@pytest.mark.parametrize("name,codec", _HADOOP)
def test_hadoop_multi_chunk_single_write(jvm, name, codec):
    """One 1.3 MB write, over Hadoop's 256 KiB buffer: Hadoop frames
    it as one block of several chunks, whose sizes only the chunks
    themselves carry."""
    data = _text(230_000, seed=5)[:1_300_000]
    hc = _hadoop(jvm, name)
    theirs = _hadoop_write(jvm, hc, data)
    assert max(_chunks_per_block(codec, theirs)) > 1
    assert codecs.hadoop_decompress(codec, theirs) == data
    assert _hadoop_read(jvm, hc, codecs.hadoop_compress(codec, data)) == data


# -- zstd-jni ---------------------------------------------------------------------


def _zstd_corpus() -> dict[str, bytes]:
    rng = random.Random(1)
    return {
        "tiny": b"abc",
        "empty": b"",
        "rle": b"a" * 10000,
        "two-symbol": b"ababbaab" * 4000,
        "text": _text(20000),
        "random": bytes(rng.randrange(256) for _ in range(20000)),
        "mixed": CASES[-1],
        "repet": b"abcdefgh" * 30000,
        "csvish": b"\n".join(b"%d,name_%d,addr %d" % (i, i, i % 97)
                             for i in range(30000)),
        "multiblock": _text(150000, seed=2),
    }


@pytest.fixture(scope="module")
def jzstd(jvm):
    return jvm.com.github.luben.zstd.Zstd


def test_decodes_zstd_jni_output_all_levels(jzstd):
    for name, data in _zstd_corpus().items():
        for lvl in (1, 3, 9, 19, 22):
            comp = bytes(jzstd.compress(bytearray(data), lvl))
            assert codecs.decompress("zstd", comp) == data, (name, lvl)


def test_zstd_two_symbol_tree_regression(jzstd):
    """A Huffman tree whose explicit weights total an exact power of
    two (two 1-bit symbols, one implied)."""
    data = (b"64" * 3000) + b"\n"
    comp = bytes(jzstd.compress(bytearray(data), 19))
    assert codecs.decompress("zstd", comp) == data


def test_zstd_repeat_offset_histories(jzstd):
    """Near-periodic rows with exact repeats exercise the three-slot
    repeat offsets, including the literals_length == 0 shift."""
    rng = random.Random(9)
    rows = []
    for i in range(4000):
        rows.append(b"%05d,%s,%05d" % (i, b"const_mid", (i * 7) % 99))
        if rng.random() < 0.2:
            rows.append(rows[-1])
    data = b"\n".join(rows)
    for lvl in (3, 19):
        comp = bytes(jzstd.compress(bytearray(data), lvl))
        assert codecs.decompress("zstd", comp) == data, lvl


def test_frames_decode_via_zstd_jni(jzstd):
    for name, data in _zstd_corpus().items():
        ours = codecs.compress("zstd", data)
        assert codecs.decompress("zstd", ours) == data, name
        if data:
            assert bytes(jzstd.decompress(bytearray(ours), len(data))) == data, name


def test_zstd_compresses_repetitive_input_for_zstd_jni(jzstd):
    rep = b"abcdefgh" * 30000
    z = codecs.compress("zstd", rep)
    assert len(z) < len(rep) // 50
    assert bytes(jzstd.decompress(bytearray(z), len(rep))) == rep


def test_zstd_multiblock_frame_with_incompressible_stretch(jzstd):
    # over one 128 KiB block, with an incompressible stretch mid-frame
    data = (b"the words repeat " * 9000) + bytes(range(256)) * 520 + \
        (b"tail tail tail " * 5000)
    z = codecs.compress("zstd", data)
    assert codecs.decompress("zstd", z) == data
    assert bytes(jzstd.decompress(bytearray(z), len(data))) == data


def test_concatenated_and_skippable_frames(jzstd):
    a, b = b"first" * 100, b"second" * 77
    skippable = struct.pack("<II", 0x184D2A53, 7) + b"ignored"
    blob = (bytes(jzstd.compress(bytearray(a), 3)) + skippable
            + bytes(jzstd.compress(bytearray(b), 19)))
    assert codecs.decompress("zstd", blob) == a + b


def test_checksum_frames(jvm):
    data = b"checksummed content " * 50
    ctx = jvm.com.github.luben.zstd.ZstdCompressCtx()
    ctx.setLevel(3)
    ctx.setChecksum(True)
    frame = bytes(ctx.compress(bytearray(data)))
    assert frame[4] & 0x04  # Content_Checksum_flag
    assert codecs.decompress("zstd", frame) == data
    with pytest.raises(ValueError, match="checksum"):
        codecs.decompress("zstd", frame[:-1] + bytes([frame[-1] ^ 0xFF]))


def test_zstd_long_form_sequence_count(jzstd):
    """RFC 8878 Number_of_Sequences long form (byte0 0xFF) is the sum
    byte1 + (byte2 << 8) + 0x7F00: a hand-built frame of 0x8000
    sequences (1 literal + a 3-byte repeat-offset-1 match each, RLE
    sequence modes), decoded the same by zstd-jni and here."""
    rng = random.Random(3)
    nseq = 0x8000
    lits = bytes(rng.randrange(65, 91) for _ in range(nseq))
    block = (
        bytes([0x0C, 0x00, 0x08]) + lits      # raw literals, 20-bit size 32768
        + bytes([0xFF, 0x00, 0x01])           # Number_of_Sequences long form
        + bytes([0x54, 0x01, 0x00, 0x00])     # RLE modes; ll=1, of=0, ml=0
        + b"\x01"                             # backward-bitstream sentinel
    )
    frame = (
        struct.pack("<I", 0xFD2FB528)
        + bytes([0xA0]) + struct.pack("<I", nseq * 4)  # single-seg, 4-byte FCS
        + (1 | (2 << 1) | (len(block) << 3)).to_bytes(3, "little")
        + block
    )
    expected = b"".join(bytes([c]) * 4 for c in lits)
    assert codecs.decompress("zstd", frame) == expected
    assert bytes(jzstd.decompress(bytearray(frame), len(expected))) == expected


def test_zstd_match_offset_cannot_cross_frame_boundary():
    """A frame whose first match reaches before its own output raises,
    alone and after a frame that produced enough bytes: zstd matches
    never cross into a previous frame."""
    # raw literals size 0 | nseq=1 | RLE modes | ll=0 of=0 ml=0 |
    # sentinel: ll == 0 makes offset value 1 the repeat offset 4
    block = bytes([0x00, 0x01, 0x54, 0x00, 0x00, 0x00, 0x01])
    evil = (
        struct.pack("<I", 0xFD2FB528)
        + bytes([0x20, 0x03])  # single-segment, 1-byte FCS = 3
        + (1 | (2 << 1) | (len(block) << 3)).to_bytes(3, "little")
        + block
    )
    for blob in (evil, codecs.compress("zstd", b"ABCDEFGH") + evil):
        with pytest.raises(ValueError):
            codecs.decompress("zstd", blob)


# -- libbrotli (ctypes) -------------------------------------------------------------


def _load(name):
    try:
        return ctypes.CDLL(name)
    except OSError:
        return None


_ENC = _load("libbrotlienc.so.1") or _load(ctypes.util.find_library("brotlienc"))
_DEC = _load("libbrotlidec.so.1") or _load(ctypes.util.find_library("brotlidec"))

needs_lib = pytest.mark.skipif(
    _ENC is None or _DEC is None, reason="system libbrotli not available"
)


if _ENC is not None and _DEC is not None:
    _SIZE_P = ctypes.POINTER(ctypes.c_size_t)
    _ENC.BrotliEncoderCompress.restype = ctypes.c_int
    _ENC.BrotliEncoderCompress.argtypes = [
        ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_size_t,
        ctypes.c_char_p, _SIZE_P, ctypes.c_char_p]
    _DEC.BrotliDecoderDecompress.restype = ctypes.c_int
    _DEC.BrotliDecoderDecompress.argtypes = [
        ctypes.c_size_t, ctypes.c_char_p, _SIZE_P, ctypes.c_char_p]


def _lib_compress(data: bytes, quality: int = 9, window: int = 22) -> bytes:
    out = ctypes.create_string_buffer(len(data) * 2 + 2048)
    n = ctypes.c_size_t(len(out))
    assert _ENC.BrotliEncoderCompress(
        quality, window, 0, len(data), data, ctypes.byref(n), out
    )
    return out.raw[: n.value]


def _lib_decompress(data: bytes, expected_len: int) -> bytes:
    out = ctypes.create_string_buffer(expected_len + 16)
    n = ctypes.c_size_t(len(out))
    r = _DEC.BrotliDecoderDecompress(len(data), data, ctypes.byref(n), out)
    assert r == 1, f"libbrotlidec rejected stream (result {r})"
    return out.raw[: n.value]


def _brotli_corpus() -> dict[str, bytes]:
    rng = random.Random(1)
    return {
        "empty": b"",
        "one": b"a",
        "tiny-dictish": b"the time of the people",
        "text": _text(8000),
        "random": bytes(rng.randrange(256) for _ in range(6000)),
        "mixed": CASES[-1],
        "runs": b"aaaaaaaabbbbbbbb" * 2000,
        "utf8": "köttbullar och 昨日の天気はとても良かったです。".encode() * 50,
        "csvish": b"\n".join(b"%d,name_%d,addr %d" % (i, i, i % 97)
                             for i in range(4000)),
    }


@needs_lib
def test_decodes_libbrotli_output_all_qualities():
    for name, data in _brotli_corpus().items():
        for q in (0, 1, 2, 5, 9, 11):
            for w in (10, 18, 24):
                comp = _lib_compress(data, q, w)
                assert codecs.decompress("brotli", comp) == data, (name, q, w)


@needs_lib
def test_small_text_quality_11_hits_dictionary_transforms():
    # q11 on short web-like text emits static-dictionary references
    for s in [b"This is the time of the people of the world.",
              b'<a href="http://www.example.com/index.html">download</a>',
              b"The quick brown fox. THE QUICK BROWN FOX."]:
        comp = _lib_compress(s, 11, 22)
        assert codecs.decompress("brotli", comp) == s


@needs_lib
def test_streams_decode_via_libbrotli():
    for name, data in _brotli_corpus().items():
        ours = codecs.compress("brotli", data)
        assert _lib_decompress(ours, len(data)) == data, name
        assert codecs.decompress("brotli", ours) == data, name


@needs_lib
def test_brotli_compresses_text_for_libbrotli():
    text = _text(8000)
    z = codecs.compress("brotli", text)
    assert len(z) < len(text) // 2
    assert _lib_decompress(z, len(text)) == text


@needs_lib
def test_brotli_multi_metablock_and_copy_tail():
    # over one 4 MiB meta-block, and a payload that ends on a copy
    for data in [(b"0123456789abcdef" * 300000)[: (1 << 22) + 12345],
                 b"hello world " * 10]:
        z = codecs.compress("brotli", data)
        assert codecs.decompress("brotli", z) == data
        assert _lib_decompress(z, len(data)) == data


@needs_lib
def test_brotli_uniform_histogram():
    # all 256 literals equally frequent: a flat 8-bit literal code
    data = bytes(range(256)) * 40
    z = codecs.compress("brotli", data)
    assert codecs.decompress("brotli", z) == data
    assert _lib_decompress(z, len(data)) == data


@needs_lib
def test_handcrafted_metadata_block_is_skipped():
    # WBITS=16 ('0'), metadata block (ISLAST=0, MNIBBLES code 3,
    # reserved 0, MSKIPBYTES=1, skiplen-1=4), 5 skip bytes, then an
    # empty-last block — both decoders must return b''.
    acc = nb = 0
    out = bytearray()
    for v, n in [(0, 1), (0, 1), (3, 2), (0, 1), (1, 2), (4, 8)]:
        acc |= v << nb
        nb += n
        while nb >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nb -= 8
    if nb:
        out.append(acc & 0xFF)
    out += b"META!"        # the 5 skipped bytes
    out.append(0b00000011)  # ISLAST=1, ISLASTEMPTY=1
    stream = bytes(out)
    assert codecs.decompress("brotli", stream) == b""
    assert _lib_decompress(stream, 0) == b""


@needs_lib
def test_hypothesis_lib_encode_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(st.binary(max_size=4096), st.integers(0, 11))
    def check(data, q):
        assert codecs.decompress("brotli", _lib_compress(data, q, 22)) == data

    check()


# -- Avro ---------------------------------------------------------------------------


def test_avro_snappy_codec_roundtrip(tmp_path):
    from impala_cut_spark.sources.avro import read_avro_file, write_avro

    rows = [(i, f"name_{i}" * 20, float(i) / 7) for i in range(500)]
    path = str(tmp_path / "t.avro")
    write_avro(path, [("id", "long"), ("name", "string"), ("x", "double")],
               rows, codec="snappy")
    assert list(read_avro_file(path)) == rows
    # the snappy block must actually be smaller than the raw encoding
    assert os.path.getsize(path) < sum(len(r[1]) for r in rows)


def test_avro_snappy_crc_detects_corruption(tmp_path):
    from impala_cut_spark.sources.avro import read_avro_file, write_avro

    path = str(tmp_path / "bad.avro")
    write_avro(path, [("id", "long")], [(1,), (2,)], codec="snappy")
    raw = bytearray(open(path, "rb").read())
    # flip the stored CRC (the last 4 bytes before the trailing 16-byte
    # sync marker)
    raw[-17] ^= 0xFF
    open(path, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="CRC|snappy"):
        list(read_avro_file(path))


def _avro_block(raw: bytes) -> tuple[bytes, int, bytes]:
    """(header through its sync marker, record count, block payload)
    of a one-block container file."""
    from impala_cut_spark.sources.avro import _read_long

    sync = raw[-16:]
    head_end = raw.index(sync) + 16
    bio = io.BytesIO(raw[head_end:-16])
    count = _read_long(bio)
    size = _read_long(bio)
    return raw[:head_end], count, bio.read(size)


def test_crc_is_of_uncompressed_bytes(tmp_path):
    """Avro spec: the 4-byte CRC32 covers the UNCOMPRESSED block."""
    from impala_cut_spark.sources.avro import write_avro

    path = str(tmp_path / "c.avro")
    write_avro(path, [("s", "string")], [("hello",)], codec="snappy")
    _, _, payload = _avro_block(open(path, "rb").read())
    plain = codecs.decompress("snappy", payload[:-4])
    assert zlib.crc32(plain) & 0xFFFFFFFF == int.from_bytes(payload[-4:], "big")


def test_avro_zstandard_codec(tmp_path, jzstd):
    from impala_cut_spark.sources.avro import read_avro_file, write_avro

    fields = [("id", "long"), ("name", "string")]
    rows = [(i, f"name_{i}" * 12) for i in range(400)]
    path = str(tmp_path / "t.avro")
    write_avro(path, fields, rows, codec="zstandard")
    assert list(read_avro_file(path)) == rows
    # cross-direction: a file whose block zstd-jni compressed reads back
    plain = str(tmp_path / "plain.avro")
    write_avro(plain, fields, rows, codec="null")
    raw = open(plain, "rb").read()
    head, count, block = _avro_block(raw)
    comp = bytes(jzstd.compress(bytearray(block), 19))

    def zigzag(n):
        out = bytearray()
        n = (n << 1) ^ (n >> 63)
        while n >= 0x80:
            out.append((n & 0x7F) | 0x80)
            n >>= 7
        return bytes(out + bytes([n]))

    # the codec meta value is length-prefixed: zigzag(4)=0x08 "null" →
    # zigzag(9)=0x12 "zstandard"
    head = head.replace(b"\x08null", b"\x12zstandard", 1)
    jpath = str(tmp_path / "jzstd.avro")
    open(jpath, "wb").write(head + zigzag(count) + zigzag(len(comp)) + comp + raw[-16:])
    assert list(read_avro_file(jpath)) == rows


@pytest.mark.parametrize("codec", ["bzip2", "xz"])
def test_avro_bzip2_xz_codecs(tmp_path, codec):
    from impala_cut_spark.sources.avro import read_avro_file, write_avro

    rows = [(i, f"name_{i}" * 15) for i in range(300)]
    path = str(tmp_path / f"t_{codec}.avro")
    write_avro(path, [("id", "long"), ("name", "string")], rows, codec=codec)
    assert list(read_avro_file(path)) == rows
    assert os.path.getsize(path) < sum(len(r[1]) for r in rows)


# -- RCFile -----------------------------------------------------------------------


@pytest.mark.parametrize("codec", ["SnappyCodec", "Lz4Codec", "BZip2Codec"])
def test_rcfile_roundtrip_through_spark(spark, tmp_path, codec):
    from impala_cut_spark.sources.rcfile import read_rcfile, write_rcfile

    rows = [[i if i % 3 else None, f"s_{i}" if i % 4 else None] for i in range(200)]
    path = str(tmp_path / f"{codec}.rc")
    write_rcfile(rows, 2, path, rows_per_group=32,
                 codec=f"org.apache.hadoop.io.compress.{codec}")
    df = read_rcfile(spark, path, "id bigint, s string")
    assert sorted(map(tuple, df.collect()), key=repr) == sorted(map(tuple, rows), key=repr)


def test_rcfile_bzip2_matches_hadoop_codec(jvm):
    """stdlib bz2 and Hadoop's BZip2Codec produce interchangeable
    streams (the wiring assumption behind the RCFile BZip2 arm)."""
    import bz2

    data = b"bzip2 interchange check " * 200
    hc = _hadoop(jvm, "BZip2Codec")
    assert bz2.decompress(_hadoop_write(jvm, hc, data)) == data
    assert _hadoop_read(jvm, hc, bz2.compress(data)) == data


# -- HTTP bodies (sources/warc.py decode_http_body) ----------------------------------


def _gzip(data: bytes) -> bytes:
    gz = zlib.compressobj(wbits=31)
    return gz.compress(data) + gz.flush()


def test_decode_http_body_identity_and_unknown():
    from impala_cut_spark.sources.warc import decode_http_body

    assert decode_http_body({}, b"plain") == (b"plain", "identity")
    with pytest.raises(ValueError, match="unsupported content-encoding"):
        decode_http_body({"content-encoding": "compress"}, b"x")


def test_decode_http_body_all_codings():
    from impala_cut_spark.sources.warc import decode_http_body

    payload = b"the quick brown fox, " * 200
    cases = [
        ("gzip", _gzip(payload)),
        ("deflate", zlib.compress(payload)),
        ("deflate", zlib.compress(payload)[2:-4]),  # raw-deflate server
        ("br", codecs.compress("brotli", payload)),
        ("zstd", codecs.compress("zstd", payload)),
    ]
    for enc, body in cases:
        assert decode_http_body({"content-encoding": enc}, body) == (payload, enc)


@needs_lib
def test_decode_http_body_real_brotli_encoding():
    from impala_cut_spark.sources.warc import decode_http_body

    payload = open(os.path.join(os.path.dirname(__file__), "..", "README.md"),
                   "rb").read()
    body = _lib_compress(payload, 11, 22)
    assert decode_http_body({"content-encoding": "BR"}, body) == (payload, "br")


def test_decode_http_body_chunked():
    from impala_cut_spark.sources.warc import decode_http_body

    payload = b"hello chunked world"
    body = (b"5;ext=1\r\nhello\r\n"
            b"E\r\n chunked world\r\n"
            b"0\r\nTrailer: x\r\n\r\n")
    assert decode_http_body({"transfer-encoding": "chunked"}, body) == (
        payload, "identity")
    # chunked + gzip composes (transfer coding first, then content coding)
    z = _gzip(payload)
    body = b"%x\r\n" % len(z) + z + b"\r\n0\r\n\r\n"
    got = decode_http_body(
        {"transfer-encoding": "chunked", "content-encoding": "gzip"}, body)
    assert got == (payload, "gzip")
    with pytest.raises(ValueError):
        decode_http_body({"transfer-encoding": "chunked"}, b"5\r\nhel")


def test_decode_http_body_bomb_guard():
    """A KB-sized compressed body expanding past max_output must raise
    in every coding arm, without materializing the expansion."""
    from impala_cut_spark.sources.warc import decode_http_body

    big = b"\x00" * 4_000_000
    arms = [
        ("gzip", _gzip(big)),
        ("deflate", zlib.compress(big)),
        ("br", codecs.compress("brotli", big)),
        ("zstd", codecs.compress("zstd", big)),
    ]
    for enc, body in arms:
        headers = {"content-encoding": enc}
        with pytest.raises(ValueError, match="exceeds allowed size"):
            decode_http_body(headers, body, max_output=1_000_000)
        assert decode_http_body(headers, body, max_output=len(big))[0] == big


@pytest.mark.parametrize("enc", ["gzip", "deflate", "br", "zstd"])
def test_decode_http_body_truncated_raises(enc):
    """A body cut anywhere raises in every content-coding arm; the zlib
    arms used to return the bytes decoded before the cut."""
    from impala_cut_spark.sources.warc import decode_http_body

    payload = _text(5000)
    body = {
        "gzip": _gzip(payload),
        "deflate": zlib.compress(payload),
        "br": codecs.compress("brotli", payload),
        "zstd": codecs.compress("zstd", payload),
    }[enc]
    headers = {"content-encoding": enc}
    assert decode_http_body(headers, body) == (payload, enc)
    for cut in (body[:1], body[: len(body) // 2], body[:-1], b""):
        with pytest.raises(ValueError):
            decode_http_body(headers, cut)
