"""WARC (ISO 28500 / WARC/1.0-1.1) reader + writer — pure stdlib.

WARC is the container web crawls actually ship in (Common Crawl etc.),
so a training-data pipeline's very first operator is a WARC record
parser.  The grammar is line-oriented and public: every record is

    WARC/1.0<CRLF>
    Header-Name: value<CRLF> ...
    <CRLF>
    <Content-Length content bytes>
    <CRLF><CRLF>

and crawl files are usually gzip with ONE MEMBER PER RECORD, so a
reader can resynchronize at member boundaries — parse_warc handles
both the plain and the multi-member-gzip form via
zlib.decompressobj(wbits=31) + unused_data chaining (stdlib only; the
same from-scratch precedent as the LZO/PNG/JPEG/GIF codecs).

Spark-side plumbing comes in two forms:

- ``warc_ingest`` — an Arrow-batched mapInPandas over binary payload
  columns (WARC bytes already sitting in a table);
- the ``pywarc`` Python DataSource (``WarcFileSource``) — mounts a
  file, directory, or glob of ``.warc`` / ``.warc.gz`` FILES the way a
  real crawl pipeline starts: one Spark partition per archive file
  (the scan-range analogue of the reference's per-format scanner
  subclasses, ``be/src/exec/hdfs-scan-node.h:77-95``), records decoded
  executor-side by a STREAMING parser (``iter_warc_records``) that
  never materializes the whole archive — one record in memory at a
  time, gzip members inflated incrementally.  ``STORED AS WARC …
  LOCATION`` DDL mounts it (session.py), following the pyavro
  precedent.

Malformed payloads/files degrade to parse_ok=false rows instead of
failing the job (a 100 TB crawl always contains corrupt archives).

The reference engine has no WARC surface (extension component —
SURVEY.md pipeline ops); built from the public ISO 28500 grammar only.
"""

from __future__ import annotations

import glob as _glob
import os
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from impala_cut_spark.sources.external import ExternalSource, make_datasource

_CRLF = b"\r\n"


def build_warc(records: list[dict], gzipped: bool = False) -> bytes:
    """Serialize records (dicts with ``headers: dict[str, str]`` and
    ``content: bytes``) into a WARC/1.0 byte stream — the writer twin
    of parse_warc.  ``gzipped`` emits the crawl-standard one-gzip-
    member-per-record form."""
    out = bytearray()
    for rec in records:
        body = bytearray(b"WARC/1.0" + _CRLF)
        content = rec.get("content", b"")
        headers = dict(rec.get("headers", {}))
        headers["Content-Length"] = str(len(content))
        for k, v in headers.items():
            body += f"{k}: {v}".encode() + _CRLF
        body += _CRLF + content + _CRLF + _CRLF
        if gzipped:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)
            out += co.compress(bytes(body)) + co.flush()
        else:
            out += body
    return bytes(out)


def _inflate_members(payload: bytes) -> bytes:
    """Concatenate every gzip member of a multi-member stream."""
    out = bytearray()
    rest = payload
    while rest:
        d = zlib.decompressobj(wbits=31)
        out += d.decompress(rest)
        out += d.flush()
        if not d.eof:  # truncated member
            raise ValueError("truncated gzip member in WARC stream")
        rest = d.unused_data
    return bytes(out)


def parse_warc(payload: bytes) -> list[dict]:
    """Parse a WARC byte stream (plain or member-per-record gzip) into
    ``[{headers: {name: value}, content: bytes}, …]``.  Header names
    are case-preserved; lookups should use ``headers_ci``-style lower
    casing on the caller side (warc_ingest does)."""
    if payload[:2] == b"\x1f\x8b":
        payload = _inflate_members(payload)
    records = []
    pos = 0
    n = len(payload)
    while pos < n:
        # skip inter-record CRLFs
        while payload[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        eol = payload.index(_CRLF, pos)
        version = payload[pos:eol]
        if not version.startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line {version[:20]!r}")
        pos = eol + 2
        headers: dict[str, str] = {}
        while payload[pos : pos + 2] != _CRLF:
            eol = payload.index(_CRLF, pos)
            line = payload[pos:eol]
            k, _, v = line.partition(b":")
            headers[k.strip().decode("utf-8", "replace")] = v.strip().decode(
                "utf-8", "replace"
            )
            pos = eol + 2
        pos += 2  # the blank line
        length = int(
            next(v for k, v in headers.items() if k.lower() == "content-length")
        )
        content = payload[pos : pos + length]
        if len(content) != length:
            raise ValueError("WARC content block truncated")
        pos += length
        if payload[pos : pos + 4] != _CRLF + _CRLF:
            raise ValueError("WARC record missing terminating CRLFCRLF")
        pos += 4
        records.append({"headers": headers, "content": content})
    return records


class _StreamBuf:
    """Incremental view over a (possibly multi-member-gzip) stream:
    pulls chunks from the file object on demand, inflating gzip members
    as they complete — memory holds the undecoded tail of one chunk
    plus the unconsumed record bytes, never the whole archive."""

    def __init__(self, f, chunk: int = 1 << 20):
        self.f = f
        self.chunk = chunk
        self.buf = bytearray()
        self.eof = False
        first = f.read(2)
        self.gz = first == b"\x1f\x8b"
        self._pending = first
        self._d = zlib.decompressobj(wbits=31) if self.gz else None
        self._d_fed = False  # current member has consumed input

    def _pump(self) -> None:
        data = self._pending or self.f.read(self.chunk)
        self._pending = b""
        if not data:
            if self.gz and self._d_fed and not self._d.eof:
                raise ValueError("truncated gzip member in WARC stream")
            self.eof = True
            return
        if self.gz:
            while data:
                self.buf += self._d.decompress(data)
                self._d_fed = True
                if self._d.eof:
                    data = self._d.unused_data
                    self._d = zlib.decompressobj(wbits=31)
                    self._d_fed = False
                else:
                    data = b""
        else:
            self.buf += data

    def ensure(self, n: int) -> bool:
        while len(self.buf) < n and not self.eof:
            self._pump()
        return len(self.buf) >= n

    def find(self, token: bytes, start: int = 0) -> int:
        while True:
            i = self.buf.find(token, start)
            if i >= 0:
                return i
            if self.eof:
                return -1
            start = max(0, len(self.buf) - len(token) + 1)
            self._pump()

    def consume(self, n: int) -> None:
        del self.buf[:n]


def iter_warc_records(f) -> Iterator[dict]:
    """Stream records from an open binary file object (plain or
    member-per-record gzip) — the scan path for mounted archive FILES.
    Yields the same ``{headers, content}`` dicts as parse_warc, one
    record resident at a time."""
    s = _StreamBuf(f)
    while True:
        while s.ensure(2) and s.buf[:2] == _CRLF:  # inter-record CRLFs
            s.consume(2)
        if not s.ensure(1):
            return
        eol = s.find(_CRLF)
        if eol < 0:
            raise ValueError("truncated WARC version line")
        version = bytes(s.buf[:eol])
        if not version.startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line {version[:20]!r}")
        s.consume(eol + 2)
        headers: dict[str, str] = {}
        while True:
            eol = s.find(_CRLF)
            if eol < 0:
                raise ValueError("truncated WARC header block")
            if eol == 0:
                s.consume(2)
                break
            line = bytes(s.buf[:eol])
            k, _, v = line.partition(b":")
            headers[k.strip().decode("utf-8", "replace")] = v.strip().decode(
                "utf-8", "replace"
            )
            s.consume(eol + 2)
        length = int(
            next(v for k, v in headers.items() if k.lower() == "content-length")
        )
        if not s.ensure(length + 4):
            raise ValueError("WARC content block truncated")
        content = bytes(s.buf[:length])
        if bytes(s.buf[length : length + 4]) != _CRLF + _CRLF:
            raise ValueError("WARC record missing terminating CRLFCRLF")
        s.consume(length + 4)
        yield {"headers": headers, "content": content}


def parse_http_response(content: bytes) -> tuple[int, dict[str, str], bytes]:
    """Split a WARC response record's content — a full HTTP/1.x
    response — into (status_code, lower-cased headers, body bytes).
    The crawl front-end needs this before any HTML handling: the
    Content-Type routing decision is an HTTP-header fact, not a WARC
    one."""
    sep = content.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("HTTP response missing header/body separator")
    head = content[:sep].decode("iso-8859-1")  # HTTP/1.x header charset
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"bad HTTP status line {lines[0]!r}")
    status = int(parts[1])
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(":")
        headers[k.strip().lower()] = v.strip()
    return status, headers, content[sep + 4 :]


def _dechunk(body: bytes) -> bytes:
    """Decode an RFC 9112 chunked transfer coding: hex size line,
    chunk bytes, CRLF, … terminated by a 0-size chunk (trailers, if
    any, are discarded)."""
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("http: truncated chunk size line")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()  # drop extensions
        size = int(size_tok, 16)
        pos = eol + 2
        if size == 0:
            return bytes(out)  # trailers after this are ignored
        if pos + size + 2 > len(body):
            raise ValueError("http: truncated chunk body")
        out += body[pos : pos + size]
        if body[pos + size : pos + size + 2] != b"\r\n":
            raise ValueError("http: chunk missing terminating CRLF")
        pos += size + 2


#: default decoded-body cap — a crawl record is content-length-bounded
#: on the wire, but a KB-sized gzip/br/zstd bomb can expand without
#: limit; 256 MiB is far above any real page yet keeps one hostile
#: record from taking down an executor.
MAX_DECODED_BODY = 256 * 1024 * 1024


def _zlib_capped(body: bytes, wbits: int, cap: int) -> bytes:
    """Inflate ``body`` into at most ``cap`` bytes.  Further gzip members
    are decoded too (RFC 1952 allows several); other trailing bytes raise."""
    out, n = [], 0
    while True:
        d = zlib.decompressobj(wbits=wbits)
        out.append(d.decompress(body, cap + 1 - n))
        n += len(out[-1])
        if n > cap:
            raise ValueError("http: decoded body exceeds allowed size")
        if not d.eof:
            raise ValueError("http: truncated compressed body")
        body = d.unused_data
        if not body:
            return b"".join(out)
        if wbits != 47 or not body.startswith(b"\x1f\x8b"):  # 47: the gzip arm
            raise ValueError("http: trailing bytes after compressed body")


def decode_http_body(
    headers: dict[str, str], body: bytes, max_output: int = MAX_DECODED_BODY
) -> tuple[bytes, str]:
    """Undo the on-the-wire codings of an HTTP response body: the
    ``Transfer-Encoding: chunked`` framing, then ``Content-Encoding``
    — every arm bounded by ``max_output`` (bomb guard) —
    — gzip/x-gzip and deflate (zlib, both the RFC 1950-wrapped and the
    raw form real servers emit), br and zstd (sources/codecs.py).  A
    truncated body, or bytes after its end, raise in every arm; a gzip
    body may hold several members.  Raw crawls store bodies
    exactly as received, so this is the step between
    parse_http_response and any content handling.  Returns (decoded bytes, the encoding undone —
    'identity' when none).  Unknown encodings raise ValueError (the
    crawl operators degrade that to parse_ok=false)."""
    te = headers.get("transfer-encoding", "").lower()
    if "chunked" in te:
        body = _dechunk(body)
    enc = headers.get("content-encoding", "identity").strip().lower() or "identity"
    if enc in ("identity", "none", ""):
        return body, "identity"
    if enc in ("gzip", "x-gzip"):
        return _zlib_capped(body, 47, max_output), enc  # gzip or zlib wrapper
    if enc == "deflate":
        try:
            return _zlib_capped(body, 15, max_output), enc  # RFC 1950 wrapped
        except zlib.error:
            return _zlib_capped(body, -15, max_output), enc  # raw-deflate servers
    if enc in ("br", "zstd"):
        from impala_cut_spark.sources import codecs

        codec = "brotli" if enc == "br" else "zstd"
        return codecs.decompress(codec, body, max_output=max_output), enc
    raise ValueError(f"http: unsupported content-encoding {enc!r}")


#: output schema of warc_ingest — one row per WARC record
WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("source_id", T.LongType(), False),
        T.StructField("record_index", T.IntegerType(), True),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("record_id", T.StringType(), True),
        T.StructField("content_length", T.LongType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("parse_ok", T.BooleanType(), False),
    ]
)


def warc_ingest(sources: DataFrame, id_col: str = "source_id", payload_col: str = "payload") -> DataFrame:
    """(id, binary WARC payload) → one row per record.  Arrow-batched
    mapInPandas; malformed payloads yield ONE parse_ok=false row, never
    a job failure (a 100 TB crawl always contains corrupt archives)."""
    import pandas as pd

    def _parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for sid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    recs = parse_warc(bytes(payload) if payload is not None else b"")
                    for i, rec in enumerate(recs):
                        hl = {k.lower(): v for k, v in rec["headers"].items()}
                        rows.append(
                            (
                                int(sid),
                                i,
                                hl.get("warc-type"),
                                hl.get("warc-target-uri"),
                                hl.get("warc-record-id"),
                                len(rec["content"]),
                                bytearray(rec["content"]),
                                True,
                            )
                        )
                except (ValueError, IndexError, zlib.error):
                    rows.append((int(sid), None, None, None, None, None, None, False))
            yield pd.DataFrame(
                rows, columns=[f.name for f in WARC_RECORD_SCHEMA.fields]
            )

    return sources.select(id_col, payload_col).mapInPandas(
        _parse, schema=WARC_RECORD_SCHEMA
    )


# ---------------------------------------------------------------------------
# pywarc Python DataSource — mount directories of real .warc/.warc.gz
# files (the pyavro shape: one scan range per file, executor-side parse)
# ---------------------------------------------------------------------------

#: DDL schema of a mounted WARC scan — one row per record, with the
#: originating file name (the crawl-shard provenance column)
WARC_SCAN_DDL = (
    "file string, record_index int, warc_type string, target_uri string, "
    "record_id string, content_type string, content_length bigint, "
    "content binary, parse_ok boolean"
)


class WarcFileSource(ExternalSource):
    """WARC scan over a file, directory, or glob — one scan range
    (partition) per archive file, records streamed executor-side via
    iter_warc_records (bounded memory: one record at a time).  A
    corrupt file yields its good prefix of records plus ONE
    parse_ok=false row — never a job failure."""

    def __init__(self, path: str = "", **_opts):
        # lazy: the catalog instantiates sources without options while
        # probing — only resolve (and require) the path on first use
        self._path = path

    @property
    def files(self) -> list[str]:
        path = self._path
        if not path:
            raise ValueError("pywarc requires .options(path=...)")
        if path.startswith("file:"):  # catalog tables hand over a URI
            path = path[len("file:") :]
        if os.path.isdir(path):
            found = sorted(
                _glob.glob(os.path.join(path, "*.warc"))
                + _glob.glob(os.path.join(path, "*.warc.gz"))
            )
            return found or [path]
        return sorted(_glob.glob(path)) or [path]

    def schema(self) -> str:
        return WARC_SCAN_DDL

    def num_partitions(self) -> int:
        return len(self.files)

    def get_next(self, partition: int) -> Iterator[tuple]:
        path = self.files[partition]
        name = os.path.basename(path)
        try:
            with open(path, "rb") as f:
                for i, rec in enumerate(iter_warc_records(f)):
                    hl = {k.lower(): v for k, v in rec["headers"].items()}
                    yield (
                        name,
                        i,
                        hl.get("warc-type"),
                        hl.get("warc-target-uri"),
                        hl.get("warc-record-id"),
                        hl.get("content-type"),
                        len(rec["content"]),
                        rec["content"],
                        True,
                    )
        except (OSError, ValueError, IndexError, zlib.error, EOFError):
            yield (name, None, None, None, None, None, None, None, False)


def read_warc(spark, path: str):
    """``spark.read.format("pywarc")`` convenience wrapper; registers the
    format on the session first."""
    try:
        spark.dataSource.register(make_datasource("pywarc", WarcFileSource))
    except Exception:
        pass  # already registered
    # the shared _ExternalReader implements pushFilters, which Spark
    # refuses to plan unless the pushdown feature flag is on
    # (ImpalaSession sets it; bare sessions need it here)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark.read.format("pywarc").options(path=path).load()


def write_warc_files(
    rows: Iterator[tuple[dict, bytes]] | list[tuple[dict, bytes]],
    dst_dir: str,
    records_per_file: int = 500,
    gzipped: bool = True,
) -> list[str]:
    """Fixture/export writer: shard (headers, content) pairs into
    ``dst_dir/part-NNNNN.warc[.gz]`` archives via build_warc.  Returns
    the written paths."""
    os.makedirs(dst_dir, exist_ok=True)
    paths: list[str] = []
    batch: list[dict] = []
    idx = 0

    def _flush() -> None:
        nonlocal idx, batch
        if not batch:
            return
        ext = "warc.gz" if gzipped else "warc"
        p = os.path.join(dst_dir, f"part-{idx:05d}.{ext}")
        with open(p, "wb") as f:
            f.write(build_warc(batch, gzipped=gzipped))
        paths.append(p)
        idx += 1
        batch = []

    for headers, content in rows:
        batch.append({"headers": headers, "content": content})
        if len(batch) >= records_per_file:
            _flush()
    _flush()
    return paths
