"""Thrift binary protocol, from scratch (the public Apache Thrift
TBinaryProtocol wire spec — strict framing: version word, message
name, sequence id, then type-tagged struct fields).

The container has no thrift library, so this module implements the
byte-level protocol the reference's servers actually speak
(``be/src/rpc/thrift-server.cc`` wraps generated TBinaryProtocol
services; ``shell/impala_shell.py`` connects with
TBufferedTransport + TBinaryProtocol).  With it, the Beeswax
(thrift_server.py) and HS2 (hs2_server.py) ports serve the REAL wire
format — a stock generated client interoperates; only code generated
from the IDL is absent (structs are hand-mapped from
``common/thrift/beeswax.thrift`` and ``cli_service.thrift``).

Wire type codes (public spec): STOP=0 BOOL=2 BYTE=3 DOUBLE=4 I16=6
I32=8 I64=10 STRING=11 STRUCT=12 MAP=13 SET=14 LIST=15.
"""

from __future__ import annotations

import struct
from typing import Any, BinaryIO

STOP = 0
BOOL = 2
BYTE = 3
DOUBLE = 4
I16 = 6
I32 = 8
I64 = 10
STRING = 11
STRUCT = 12
MAP = 13
SET = 14
LIST = 15

#: strict-protocol version word (high 16 bits), OR-ed with message type
VERSION_1 = -2147418112  # 0x80010000 as signed i32

CALL = 1
REPLY = 2
EXCEPTION = 3
ONEWAY = 4

#: wire-supplied size limits (thrift's TConfiguration defaults are
#: 100 MB max message / container size; these are per-value caps so a
#: hostile length prefix can't wedge a handler thread allocating)
MAX_STRING_SIZE = 64 * 1024 * 1024
MAX_CONTAINER_SIZE = 1_000_000

#: TApplicationException type codes (thrift TApplicationException.thrift)
UNKNOWN_METHOD = 1
INTERNAL_ERROR = 6


class TProtocolError(Exception):
    pass


class TApplicationError(Exception):
    """Client-side rendering of a thrift EXCEPTION message
    (TApplicationException struct {1: message, 2: type})."""

    def __init__(self, message: str, type_: int = 0) -> None:
        super().__init__(message)
        self.type = type_


# -- writer ----------------------------------------------------------------


class BinaryWriter:
    """Serialize thrift values into a bytearray."""

    def __init__(self) -> None:
        self.buf = bytearray()

    def message_begin(self, name: str, mtype: int, seqid: int) -> None:
        self.write_i32(VERSION_1 | mtype)
        self.write_string(name)
        self.write_i32(seqid)

    def field(self, ftype: int, fid: int) -> None:
        self.buf += struct.pack(">bh", ftype, fid)

    def stop(self) -> None:
        self.buf += b"\x00"

    def write_bool(self, v: bool) -> None:
        self.buf += b"\x01" if v else b"\x00"

    def write_byte(self, v: int) -> None:
        self.buf += struct.pack(">b", v)

    def write_i16(self, v: int) -> None:
        self.buf += struct.pack(">h", v)

    def write_i32(self, v: int) -> None:
        self.buf += struct.pack(">i", v)

    def write_i64(self, v: int) -> None:
        self.buf += struct.pack(">q", v)

    def write_double(self, v: float) -> None:
        self.buf += struct.pack(">d", v)

    def write_string(self, v: str | bytes) -> None:
        b = v.encode("utf-8") if isinstance(v, str) else v
        self.write_i32(len(b))
        self.buf += b

    def list_begin(self, etype: int, n: int) -> None:
        self.buf += struct.pack(">bi", etype, n)

    def map_begin(self, ktype: int, vtype: int, n: int) -> None:
        self.buf += struct.pack(">bbi", ktype, vtype, n)

    def write_string_list(self, fid: int, items: list[str]) -> None:
        self.field(LIST, fid)
        self.list_begin(STRING, len(items))
        for s in items:
            self.write_string(s)

    def bytes(self) -> bytes:
        return bytes(self.buf)


# -- reader ----------------------------------------------------------------


class BinaryReader:
    """Deserialize thrift values from a stream (exact-size reads, so an
    unframed TCP file object works — TBufferedTransport semantics)."""

    def __init__(self, f: BinaryIO) -> None:
        self.f = f

    def _read(self, n: int) -> bytes:
        out = b""
        while len(out) < n:
            chunk = self.f.read(n - len(out))
            if not chunk:
                raise EOFError("thrift stream closed mid-message")
            out += chunk
        return out

    def message_begin(self) -> tuple[str, int, int]:
        size = self.read_i32()
        if size >= 0:
            raise TProtocolError("non-strict thrift framing not supported")
        if (size & 0xFFFF0000) != (VERSION_1 & 0xFFFF0000):
            raise TProtocolError(f"bad thrift version word {size:#x}")
        mtype = size & 0xFF
        name = self.read_string().decode("utf-8")
        seqid = self.read_i32()
        return name, mtype, seqid

    def read_bool(self) -> bool:
        return self._read(1) != b"\x00"

    def read_byte(self) -> int:
        return struct.unpack(">b", self._read(1))[0]

    def read_i16(self) -> int:
        return struct.unpack(">h", self._read(2))[0]

    def read_i32(self) -> int:
        return struct.unpack(">i", self._read(4))[0]

    def read_i64(self) -> int:
        return struct.unpack(">q", self._read(8))[0]

    def read_double(self) -> float:
        return struct.unpack(">d", self._read(8))[0]

    def read_string(self) -> bytes:
        n = self.read_i32()
        # trust nothing off the wire: a negative length would silently
        # read b"" and desync the stream; a huge one would allocate
        if n < 0 or n > MAX_STRING_SIZE:
            raise TProtocolError(f"bad thrift string length {n}")
        return self._read(n)

    def read_value(self, ftype: int) -> Any:
        """Read any value generically (structs → {fid: value} dicts,
        lists → python lists, maps → dicts)."""
        if ftype == BOOL:
            return self.read_bool()
        if ftype == BYTE:
            return self.read_byte()
        if ftype == DOUBLE:
            return self.read_double()
        if ftype == I16:
            return self.read_i16()
        if ftype == I32:
            return self.read_i32()
        if ftype == I64:
            return self.read_i64()
        if ftype == STRING:
            return self.read_string()
        if ftype == STRUCT:
            return self.read_struct()
        if ftype in (LIST, SET):
            etype, n = struct.unpack(">bi", self._read(5))
            if n < 0 or n > MAX_CONTAINER_SIZE:
                raise TProtocolError(f"bad thrift container size {n}")
            return [self.read_value(etype) for _ in range(n)]
        if ftype == MAP:
            ktype, vtype, n = struct.unpack(">bbi", self._read(6))
            if n < 0 or n > MAX_CONTAINER_SIZE:
                raise TProtocolError(f"bad thrift container size {n}")
            return {self.read_value(ktype): self.read_value(vtype) for _ in range(n)}
        raise TProtocolError(f"unknown thrift type {ftype}")

    def read_struct(self) -> dict[int, Any]:
        out: dict[int, Any] = {}
        while True:
            ftype = self.read_byte()
            if ftype == STOP:
                return out
            fid = self.read_i16()
            out[fid] = self.read_value(ftype)


# -- message helpers -------------------------------------------------------


def application_exception(
    name: str, seqid: int, message: str, type_: int = UNKNOWN_METHOD
) -> bytes:
    """Serialize a thrift EXCEPTION message carrying a
    TApplicationException {1: message string, 2: type i32} — what a
    stock generated client expects for e.g. an unknown method name
    (a REPLY with an error in a declared-exception slot would be
    misparsed, since the client has no IDL for the unknown method)."""
    w = BinaryWriter()
    w.message_begin(name, EXCEPTION, seqid)
    w.field(STRING, 1)
    w.write_string(message)
    w.field(I32, 2)
    w.write_i32(type_)
    w.stop()
    return w.bytes()


def raise_if_exception(mtype: int, result: dict[int, Any]) -> None:
    """Client-side twin: if the just-read message was an EXCEPTION,
    `result` is the TApplicationException struct — raise it."""
    if mtype == EXCEPTION:
        raise TApplicationError(
            result.get(1, b"").decode("utf-8", "replace"), result.get(2, 0)
        )
