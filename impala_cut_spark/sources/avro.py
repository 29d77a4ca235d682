"""Minimal Apache Avro object-container reader (pure Python).

§2.1 Avro-scan parity (reference: ``be/src/exec/hdfs-avro-scanner.cc``
— 662 LoC of codegen'd decode; SURVEY §2.1 maps it to
``spark.read.format("avro")``, but this pyspark build ships no
spark-avro module). This module implements the container format from
the public Avro 1.x spec directly and exposes it through the same
Python DataSource scaffolding as ``sources/external.py`` — so
``spark.read.format("pyavro").options(path=...)`` scans Avro files
with one Spark partition per file, decoding executor-side.

Scope (the flat-table surface Impala-era avro tables actually use):
records of primitives — null / boolean / int / long / float / double /
bytes / string — plus nullable unions ``[T, "null"]`` and enums;
``null``, ``deflate``, ``snappy``, ``bzip2``, ``xz`` and
``zstandard`` codecs (the spec's full list: snappy and zstandard via
``sources/codecs.py``, the rest via the stdlib; snappy blocks carry a
4-byte big-endian CRC32 of the uncompressed bytes per the spec).
Nested records/arrays/maps raise a clear error.

Scale: the file list shards the scan (scan-range analogue); each
partition streams blocks of one file — no driver involvement. A
columnar path (Arrow) would beat row decode at 100 TB; Avro sources
at that scale are normally converted to parquet on ingest anyway
(which ``insert_into`` covers).
"""

from __future__ import annotations

import glob as _glob
import io
import json
import os
import struct
import zlib
from collections.abc import Iterator, Sequence

from impala_cut_spark.sources import codecs
from impala_cut_spark.sources.external import ExternalSource, make_datasource

_MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------------
# binary primitives (Avro spec "Binary Encoding")
# ---------------------------------------------------------------------------


def _read_long(buf: io.BufferedReader) -> int:
    """Zigzag varint."""
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("unexpected EOF in varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _read_exact(buf, n: int) -> bytes:
    """Read exactly n bytes or raise EOFError — a truncated file must
    fail loudly, not decode garbage (ADVICE r2 #5)."""
    data = buf.read(n)
    if len(data) != n:
        raise EOFError(
            f"truncated avro data: wanted {n} bytes, got {len(data)}"
        )
    return data


def _read_bytes(buf) -> bytes:
    n = _read_long(buf)
    return _read_exact(buf, n)


_PRIMITIVE_DECODERS = {
    "null": lambda buf: None,
    "boolean": lambda buf: _read_exact(buf, 1) == b"\x01",
    "int": _read_long,
    "long": _read_long,
    "float": lambda buf: struct.unpack("<f", _read_exact(buf, 4))[0],
    "double": lambda buf: struct.unpack("<d", _read_exact(buf, 8))[0],
    "bytes": _read_bytes,
    "string": lambda buf: _read_bytes(buf).decode("utf-8"),
}


def _decoder_for(schema):
    """Build a decode(buf) -> value closure for one field schema."""
    if isinstance(schema, str):
        if schema in _PRIMITIVE_DECODERS:
            return _PRIMITIVE_DECODERS[schema]
        raise ValueError(f"unsupported avro type {schema!r}")
    if isinstance(schema, list):  # union — branch index then value
        branches = [_decoder_for(s) for s in schema]

        def _union(buf, branches=branches):
            return branches[_read_long(buf)](buf)

        return _union
    if isinstance(schema, dict):
        t = schema.get("type")
        if t == "enum":
            symbols = schema["symbols"]

            def _enum(buf, symbols=symbols):
                return symbols[_read_long(buf)]

            return _enum
        if t in _PRIMITIVE_DECODERS:  # {"type": "long", "logicalType": …}
            return _PRIMITIVE_DECODERS[t]
    raise ValueError(f"unsupported avro schema {schema!r} (flat records only)")


# ---------------------------------------------------------------------------
# container file
# ---------------------------------------------------------------------------


def read_header(buf):
    """-> (parsed schema dict, codec str, sync bytes)."""
    if buf.read(4) != _MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:  # block form: count is negative, size follows
            n = -n
            _read_long(buf)
        for _ in range(n):
            key = _read_bytes(buf).decode("utf-8")
            meta[key] = _read_bytes(buf)
    sync = _read_exact(buf, 16)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate", "snappy", "bzip2", "xz", "zstandard"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    return schema, codec, sync


def read_avro_file(path: str) -> Iterator[tuple]:
    """Decode every record of one container file as a tuple."""
    with open(path, "rb") as f:
        schema, codec, sync = read_header(f)
        if schema.get("type") != "record":
            raise ValueError("top-level avro schema must be a record")
        decoders = [_decoder_for(fld["type"]) for fld in schema["fields"]]
        while True:
            head = f.read(1)
            if not head:
                return
            f.seek(-1, os.SEEK_CUR)
            count = _read_long(f)
            size = _read_long(f)
            block = _read_exact(f, size)
            if codec == "deflate":
                block = zlib.decompress(block, -15)
            elif codec == "snappy":
                raw, crc = block[:-4], block[-4:]
                block = codecs.decompress("snappy", raw)
                if struct.pack(">I", zlib.crc32(block) & 0xFFFFFFFF) != crc:
                    raise ValueError("avro snappy block CRC mismatch")
            elif codec == "bzip2":
                import bz2

                block = bz2.decompress(block)
            elif codec == "xz":
                import lzma

                block = lzma.decompress(block)
            elif codec == "zstandard":
                block = codecs.decompress("zstd", block)
            buf = io.BytesIO(block)
            for _ in range(count):
                yield tuple(d(buf) for d in decoders)
            if _read_exact(f, 16) != sync:
                raise ValueError("avro sync marker mismatch")


_SPARK_TYPES = {
    "null": "string",
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "bytes": "binary",
    "string": "string",
}


def _spark_type(schema) -> str:
    if isinstance(schema, str):
        return _SPARK_TYPES[schema]
    if isinstance(schema, list):  # nullable union → the non-null branch
        non_null = [s for s in schema if s != "null"]
        if len(non_null) != 1:
            raise ValueError(f"unsupported multi-branch union {schema!r}")
        return _spark_type(non_null[0])
    if isinstance(schema, dict):
        if schema.get("type") == "enum":
            return "string"
        return _SPARK_TYPES[schema["type"]]
    raise ValueError(f"unsupported avro schema {schema!r}")


def avro_ddl_schema(path: str) -> str:
    """Spark DDL schema string from a container file's writer schema."""
    with open(path, "rb") as f:
        schema, _, _ = read_header(f)
    return ", ".join(
        f"{fld['name']} {_spark_type(fld['type'])}" for fld in schema["fields"]
    )


# ---------------------------------------------------------------------------
# Spark DataSource plumbing
# ---------------------------------------------------------------------------


class AvroFileSource(ExternalSource):
    """Avro scan over a file, directory, or glob — one scan range
    (partition) per file, rows decoded executor-side."""

    def __init__(self, path: str = "", **_opts):
        # lazy: the catalog instantiates sources without options while
        # probing — only resolve (and require) the path on first use
        self._path = path

    @property
    def files(self) -> list[str]:
        path = self._path
        if not path:
            raise ValueError("pyavro requires .options(path=...)")
        if path.startswith("file:"):  # catalog tables hand over a URI
            path = path[len("file:") :]
        if os.path.isdir(path):
            path = os.path.join(path, "*.avro")
        return sorted(_glob.glob(path)) or [path]

    def schema(self) -> str:
        return avro_ddl_schema(self.files[0])

    def num_partitions(self) -> int:
        return len(self.files)

    def get_next(self, partition: int) -> Iterator[tuple]:
        yield from read_avro_file(self.files[partition])


def read_avro(spark, path: str):
    """``spark.read.format("pyavro")`` convenience wrapper; registers the
    format on the session first."""
    try:
        spark.dataSource.register(make_datasource("pyavro", AvroFileSource))
    except Exception:
        pass  # already registered
    return spark.read.format("pyavro").options(path=path).load()


# ---------------------------------------------------------------------------
# writer (fixtures / round-trip tests; the engine's own sinks write
# text+parquet only, matching hdfs-table-sink.cc:341-347)
# ---------------------------------------------------------------------------


_PRIMITIVE_ENCODERS = {
    "null": lambda out, v: None,
    "boolean": lambda out, v: out.write(b"\x01" if v else b"\x00"),
    "int": lambda out, v: _write_varint(out, _zigzag64(v)),
    "long": lambda out, v: _write_varint(out, _zigzag64(v)),
    "float": lambda out, v: out.write(struct.pack("<f", v)),
    "double": lambda out, v: out.write(struct.pack("<d", v)),
    "bytes": lambda out, v: (_write_varint(out, _zigzag64(len(v))), out.write(v)),
    "string": lambda out, v: _PRIMITIVE_ENCODERS["bytes"](out, v.encode("utf-8")),
}


def _zigzag64(v: int) -> int:
    return ((v << 1) ^ (v >> 63)) & ((1 << 64) - 1)


def _write_varint(out, u: int) -> None:
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _encoder_for(schema):
    if isinstance(schema, str):
        return _PRIMITIVE_ENCODERS[schema]
    if isinstance(schema, list):
        branches = [(s if isinstance(s, str) else s["type"]) for s in schema]
        encoders = [_encoder_for(s) for s in schema]

        def _union(out, v):
            idx = branches.index("null") if v is None else next(
                i for i, b in enumerate(branches) if b != "null"
            )
            _write_varint(out, _zigzag64(idx))
            encoders[idx](out, v)

        return _union
    raise ValueError(f"unsupported writer schema {schema!r}")


def write_avro(path: str, fields: list[tuple[str, object]], rows: list[tuple],
               codec: str = "null") -> None:
    """Write one container file. ``fields`` = [(name, avro type), …]
    where a type is a primitive name or a union list."""
    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": n, "type": t} for n, t in fields],
    }
    encoders = [_encoder_for(t) for _, t in fields]
    body = io.BytesIO()
    for row in rows:
        for enc, v in zip(encoders, row):
            enc(body, v)
    data = body.getvalue()
    if codec == "deflate":
        comp = zlib.compressobj(wbits=-15)
        data = comp.compress(data) + comp.flush()
    elif codec == "snappy":
        data = codecs.compress("snappy", data) + struct.pack(
            ">I", zlib.crc32(data) & 0xFFFFFFFF
        )
    elif codec == "bzip2":
        import bz2

        data = bz2.compress(data)
    elif codec == "xz":
        import lzma

        data = lzma.compress(data, format=lzma.FORMAT_XZ)
    elif codec == "zstandard":
        data = codecs.compress("zstd", data)
    elif codec != "null":
        raise ValueError(f"unsupported write codec {codec!r}")
    sync = b"\x00" * 8 + b"impala16"  # any 16 bytes
    with open(path, "wb") as f:
        f.write(_MAGIC)
        meta = {
            "avro.schema": json.dumps(schema).encode(),
            "avro.codec": codec.encode(),
        }
        _write_varint(f, _zigzag64(len(meta)))
        for k, v in meta.items():
            _PRIMITIVE_ENCODERS["bytes"](f, k.encode())
            _PRIMITIVE_ENCODERS["bytes"](f, v)
        _write_varint(f, _zigzag64(0))
        f.write(sync)
        _write_varint(f, _zigzag64(len(rows)))
        _write_varint(f, _zigzag64(len(data)))
        f.write(data)
        f.write(sync)
