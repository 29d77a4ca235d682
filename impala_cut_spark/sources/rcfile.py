"""RCFile columnar scanner/writer, pure Python (SURVEY §2.1 legacy row).

Decodes the Hive RCFile container the reference reads with
``/root/reference/be/src/exec/hdfs-rcfile-scanner.{h,cc}`` (549 LoC;
the format grammar is documented in the scanner header's comment —
a public description of Hive's RCFile.java layout):

    header    ::= 'RCF'\\x01 | 'SEQ'\\x06 + key/value class names
                  + is-compressed + [codec class] + metadata + sync[16]
    rowgroup  ::= [-1 sync[16]] record-len key-len compressed-key-len
                  keydata(numRows vint; per column: on-disk len vint,
                  uncompressed len vint, RLE row-length buffer)
                  column-buffers (all column 0 bytes, then column 1, …)

Row lengths are run-length encoded: ``1,1,1,2`` is stored ``1,~2,2`` —
a negative vint is the complement of the repetition count.  All column
data is unterminated text; ``\\N`` is the null sentinel (the same
lazy-serde text rules as the plain-text scanner).

Correctness anchor: the reference ships a REAL Hive-written fixture
(``testdata/data/oldrcfile.rc``, loaded into ``old_rcfile_table`` by
``testdata/datasets/functional/functional_schema_template.sql:1180``)
— the reader is validated against its known contents, not against this
module's own writer.

Column pruning is native to the format: a projection reads only the
requested columns' buffers and SKIPS the rest (the scanner's selling
point, hdfs-rcfile-scanner.h:214-218) — ``read_rcfile`` takes the
projected column list for exactly this.

Compression: uncompressed, zlib/gzip ("DefaultCodec"/"GzipCodec"),
bzip2 ("BZip2Codec"), and snappy/lz4 ("SnappyCodec"/"Lz4Codec", Hadoop
BlockCompressorStream framing from ``sources/codecs.py`` — the
reference's scanner matrix carries a snap/block axis) key+column
blocks; anything else raises the documented codec boundary.

Scale note: like the Avro reader, one scan range per FILE (the Python
decoder does not split on sync markers mid-file); many files scan in
parallel via ``binaryFiles``.  For hot data, convert once to parquet —
the reference gives its legacy formats the same guidance.
"""

from __future__ import annotations

import io
import struct
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from impala_cut_spark.sources import codecs

RCFILE_V1_MAGIC = b"RCF\x01"
SEQ6_MAGIC = b"SEQ\x06"
KEY_CLASS = "org.apache.hadoop.hive.ql.io.RCFile$KeyBuffer"
VALUE_CLASS = "org.apache.hadoop.hive.ql.io.RCFile$ValueBuffer"
COLUMN_NUMBER_KEY = b"hive.io.rcfile.column.number"
_NULL = b"\\N"


# -- Hadoop primitive codecs (WritableUtils vint/vlong, Text) --------------


def _read_vlong(f: io.BytesIO) -> int:
    b = f.read(1)
    if not b:
        raise EOFError("vlong at EOF")
    first = struct.unpack("b", b)[0]
    if first >= -112:
        return first
    if first >= -120:
        n, neg = -112 - first, False
    else:
        n, neg = -120 - first, True
    val = 0
    for _ in range(n):
        val = (val << 8) | f.read(1)[0]
    return ~val if neg else val


def _write_vlong(out: bytearray, v: int) -> None:
    if -112 <= v <= 127:
        out += struct.pack("b", v)
        return
    neg = v < 0
    if neg:
        v = ~v
    n = (v.bit_length() + 7) // 8
    out += struct.pack("b", (-120 if neg else -112) - n)
    out += v.to_bytes(n, "big")


def _read_text(f: io.BytesIO) -> bytes:
    return f.read(_read_vlong(f))


def _write_text(out: bytearray, s: bytes) -> None:
    _write_vlong(out, len(s))
    out += s


def _read_int(f) -> int | None:
    b = f.read(4)
    if len(b) < 4:
        return None
    return struct.unpack(">i", b)[0]


def _rle_decode_lengths(buf: bytes, num_rows: int) -> list[int]:
    """RLE row lengths: negative vint v = previous length repeated
    (~v) more times (hdfs-rcfile-scanner.h:186: 1,1,1,2 → 1,~2,2)."""
    f = io.BytesIO(buf)
    out: list[int] = []
    while len(out) < num_rows:
        v = _read_vlong(f)
        if v < 0:
            out += [out[-1]] * (~v)
        else:
            out.append(v)
    return out


def _rle_encode_lengths(lengths: list[int]) -> bytes:
    out = bytearray()
    i = 0
    while i < len(lengths):
        run = 1
        while i + run < len(lengths) and lengths[i + run] == lengths[i]:
            run += 1
        _write_vlong(out, lengths[i])
        if run > 1:
            _write_vlong(out, ~(run - 1))
        i += run
    return bytes(out)


def _block_codec(codec: str) -> str:
    return "snappy" if "Snappy" in codec else "lz4_raw"


def _decompress(codec: str | None, data: bytes, uncompressed_len: int) -> bytes:
    if codec is None:
        return data
    if "Gzip" in codec:
        return zlib.decompress(data, wbits=31)
    if "Default" in codec:
        return zlib.decompress(data)
    if "Snappy" in codec or "Lz4" in codec:
        # Hadoop's BlockCompressorStream framing around raw blocks
        return codecs.hadoop_decompress(_block_codec(codec), data)
    if "BZip2" in codec:  # Hadoop BZip2Codec writes plain .bz2 streams
        import bz2

        return bz2.decompress(data)
    raise NotImplementedError(
        f"RCFile codec {codec!r} needs a codec lib absent from this "
        "container (uncompressed/Default/Gzip/Snappy/Lz4/BZip2 decode "
        "natively)"
    )


def _compress(codec: str | None, data: bytes) -> bytes:
    if codec is None:
        return data
    if "Gzip" in codec:
        co = zlib.compressobj(wbits=31)
        return co.compress(data) + co.flush()
    if "Default" in codec:
        return zlib.compress(data)
    if "Snappy" in codec or "Lz4" in codec:
        return codecs.hadoop_compress(_block_codec(codec), data)
    if "BZip2" in codec:
        import bz2

        return bz2.compress(data)
    raise NotImplementedError(f"RCFile write codec {codec!r} unsupported")


# -- reader ----------------------------------------------------------------


def parse_rcfile(
    payload: bytes, columns: list[int] | None = None
) -> Iterator[list[bytes | None]]:
    """Yield rows (lists of raw field bytes, ``None`` for ``\\N``) from
    one RCFile payload.  ``columns``: indices to materialize (format-
    native pruning — unprojected column buffers are seeked past, their
    bytes never touched); None = all."""
    f = io.BytesIO(payload)
    magic = f.read(4)
    if magic == SEQ6_MAGIC:
        key_cls = _read_text(f).decode()
        val_cls = _read_text(f).decode()
        if key_cls != KEY_CLASS or val_cls != VALUE_CLASS:
            raise ValueError(f"not an RCFile: SEQ classes {key_cls}/{val_cls}")
        compressed = f.read(1) != b"\x00"
        if f.read(1) != b"\x00":
            raise ValueError("block-compressed SequenceFile is not RCFile")
    elif magic == RCFILE_V1_MAGIC:
        compressed = f.read(1) != b"\x00"
    else:
        raise ValueError(f"bad RCFile magic {magic!r}")
    codec = _read_text(f).decode() if compressed else None

    n_meta = _read_int(f)
    n_cols = None
    for _ in range(n_meta or 0):
        k, v = _read_text(f), _read_text(f)
        if k == COLUMN_NUMBER_KEY:
            n_cols = int(v)
    if n_cols is None:
        raise ValueError("RCFile metadata missing hive.io.rcfile.column.number")
    sync = f.read(16)
    want = list(range(n_cols)) if columns is None else columns

    while True:
        rec_len = _read_int(f)
        if rec_len is None:
            return
        if rec_len == -1:  # sync escape
            if f.read(16) != sync:
                raise ValueError("RCFile sync mismatch (corrupt row group)")
            rec_len = _read_int(f)
            if rec_len is None:
                return
        key_len = _read_int(f)
        compressed_key_len = _read_int(f)
        key_raw = f.read(compressed_key_len)
        key = io.BytesIO(_decompress(codec, key_raw, key_len))

        num_rows = _read_vlong(key)
        col_disk_len: list[int] = []
        col_plain_len: list[int] = []
        col_row_lens: list[list[int] | None] = []
        for c in range(n_cols):
            disk = _read_vlong(key)
            plain = _read_vlong(key)
            lbuf = key.read(_read_vlong(key))
            col_disk_len.append(disk)
            col_plain_len.append(plain)
            col_row_lens.append(_rle_decode_lengths(lbuf, num_rows) if c in want else None)

        cells: dict[int, list[bytes | None]] = {}
        for c in range(n_cols):
            if c not in want:
                f.seek(col_disk_len[c], 1)  # pruned: never read the bytes
                continue
            data = _decompress(codec, f.read(col_disk_len[c]), col_plain_len[c])
            pos, vals = 0, []
            for ln in col_row_lens[c]:
                cell = data[pos : pos + ln]
                vals.append(None if cell == _NULL else cell)
                pos += ln
            cells[c] = vals
        for r in range(num_rows):
            yield [cells[c][r] for c in want]


def write_rcfile(
    rows: list[list[object]],
    n_cols: int,
    path: str,
    rows_per_group: int = 1024,
    codec: str | None = None,
) -> None:
    """Write rows as an old-style (SEQ6) RCFile — the same layout as
    the reference's Hive-written fixture; fields rendered as text with
    ``\\N`` nulls."""
    out = bytearray()
    out += SEQ6_MAGIC
    _write_text(out, KEY_CLASS.encode())
    _write_text(out, VALUE_CLASS.encode())
    out += b"\x01" if codec else b"\x00"
    out += b"\x00"
    if codec:
        _write_text(out, codec.encode())
    out += struct.pack(">i", 1)
    _write_text(out, COLUMN_NUMBER_KEY)
    _write_text(out, str(n_cols).encode())
    sync = bytes((i * 37 + 11) % 251 for i in range(16))  # fixed, deterministic
    out += sync

    for g in range(0, len(rows), rows_per_group):
        group = rows[g : g + rows_per_group]
        cols_bytes, cols_lens = [], []
        for c in range(n_cols):
            cells = [
                _NULL if row[c] is None else str(row[c]).encode() for row in group
            ]
            cols_bytes.append(b"".join(cells))
            cols_lens.append([len(x) for x in cells])
        key = bytearray()
        _write_vlong(key, len(group))
        col_disk = []
        for c in range(n_cols):
            disk = _compress(codec, cols_bytes[c])
            col_disk.append(disk)
            _write_vlong(key, len(disk))
            _write_vlong(key, len(cols_bytes[c]))
            lbuf = _rle_encode_lengths(cols_lens[c])
            _write_vlong(key, len(lbuf))
            key += lbuf
        key_plain_len = len(key)
        key_bytes = _compress(codec, bytes(key))
        value_len = sum(len(d) for d in col_disk)
        out += struct.pack(">i", -1)
        out += sync
        out += struct.pack(">i", key_plain_len + value_len)
        out += struct.pack(">i", key_plain_len)
        out += struct.pack(">i", len(key_bytes))
        out += key_bytes
        for d in col_disk:
            out += d
    with open(path, "wb") as fh:
        fh.write(bytes(out))


# -- Spark bridge ----------------------------------------------------------


def read_rcfile(
    spark: SparkSession, path: str, schema: str, columns: list[str] | None = None
) -> DataFrame:
    """Scan RCFile(s) at ``path`` into a DataFrame.  ``schema`` is the
    FULL table DDL schema; ``columns`` optionally projects a subset —
    pruned columns' buffers are skipped at the byte level in every row
    group (the format's core feature).  One scan task per file."""
    from pyspark.sql.types import _parse_datatype_string

    full = _parse_datatype_string(schema)
    names = [fld.name for fld in full.fields]
    want_names = names if columns is None else list(columns)
    idx = [names.index(n) for n in want_names]
    out_schema = ", ".join(
        f"{fld.name} {fld.dataType.simpleString()}" for fld in full.fields if fld.name in want_names
    )

    def decode_file(kv):
        _, payload = kv
        for raw in parse_rcfile(bytes(payload), idx):
            yield tuple(
                None if v is None else v.decode("utf-8") for v in raw
            )

    rdd = spark.sparkContext.binaryFiles(path).flatMap(decode_file)
    lines = spark.createDataFrame(rdd, ", ".join(f"{n} string" for n in want_names))
    # text → declared types with the text-scanner cast rules
    from pyspark.sql import functions as F

    casts = []
    for fld in full.fields:
        if fld.name in want_names:
            casts.append(F.col(fld.name).cast(fld.dataType).alias(fld.name))
    return lines.select(*casts)
