"""From-scratch PDF text extraction — pure stdlib, ISO 32000-1.

PDFs are the dominant long-form document format a training-data
pipeline ingests after HTML, and this container ships no PDF library
— so the extractor is built from the published spec, the same
from-scratch precedent as the LZO and VP8 codecs.  Scope is
the TEXT path end-to-end:

- object layer: the full COS grammar (dicts, arrays, names with
  #-escapes, literal/hex strings, refs, streams);
- file layer: classic xref tables with /Prev chains, PDF 1.5+ cross-
  reference STREAMS (/Type/XRef with W-field decoding and PNG
  predictors) and object streams (/Type/ObjStm);
- filters: FlateDecode (+ PNG predictors), LZWDecode (MSB-first,
  early-change — the PDF variant, not GIF's), ASCIIHexDecode,
  ASCII85Decode, RunLengthDecode;
- page tree walk with inherited attributes; content-stream
  interpreter for the text operators (BT/ET, Tf, Td/TD/Tm/T*, Tj, TJ,
  ', ") with the standard kerning→space and y-movement→newline
  heuristics;
- font decoding: /Encoding base encodings + /Differences glyph names
  (Adobe Glyph List subset + uniXXXX), ToUnicode CMaps (bfchar +
  bfrange, 1- and 2-byte codes) for simple and Type0/CID fonts.

Encrypted documents and image-only pages degrade cleanly (ValueError
→ the operator's parse_ok=false contract).  Validated by the
build_pdf writer twin (exact round-trips, hypothesis-driven) and on
the container's real TeX/FOP-produced documents (tests/test_pdf.py).

The reference engine has no document-ingestion surface at all — this
extends the corpus front-end (SURVEY.md pipeline ops).
"""

from __future__ import annotations

import re
import zlib
from typing import Any

__all__ = ["extract_pdf_text", "pdf_metadata", "build_pdf"]


# -- COS object grammar ---------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int) -> None:
        self.num = num
        self.gen = gen

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"{self.num} {self.gen} R"


class _Name(str):
    """A /Name — distinct from string values."""


class _Lexer:
    __slots__ = ("d", "pos")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.d = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d = self.d
        n = len(d)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to EOL
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def parse(self) -> Any:
        self._skip_ws()
        d = self.d
        p = self.pos
        if p >= len(d):
            raise ValueError("pdf: unexpected end of object data")
        c = d[p]
        if c == 0x2F:  # /Name
            return self._name()
        if c == 0x28:  # (string)
            return self._lit_string()
        if c == 0x3C:  # << dict or <hex>
            if d[p : p + 2] == b"<<":
                return self._dict()
            return self._hex_string()
        if c == 0x5B:  # [ array
            return self._array()
        if d[p : p + 4] == b"true":
            self.pos += 4
            return True
        if d[p : p + 5] == b"false":
            self.pos += 5
            return False
        if d[p : p + 4] == b"null":
            self.pos += 4
            return None
        return self._number_or_ref()

    def _name(self) -> _Name:
        d = self.d
        self.pos += 1
        start = self.pos
        n = len(d)
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        raw = d[start : self.pos]
        if b"#" in raw:
            out = bytearray()
            i = 0
            while i < len(raw):
                if raw[i : i + 1] == b"#" and i + 2 < len(raw) + 1:
                    out.append(int(raw[i + 1 : i + 3], 16))
                    i += 3
                else:
                    out.append(raw[i])
                    i += 1
            raw = bytes(out)
        return _Name(raw.decode("latin-1"))

    def _lit_string(self) -> bytes:
        d = self.d
        self.pos += 1
        out = bytearray()
        depth = 1
        n = len(d)
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                    self.pos += 1
                elif e in b"()\\":
                    out.append(e)
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal, 1-3 digits
                    oct_s = bytearray()
                    while len(oct_s) < 3 and self.pos < n and 0x30 <= d[self.pos] <= 0x37:
                        oct_s.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_s, 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("pdf: unterminated literal string")

    def _hex_string(self) -> bytes:
        d = self.d
        self.pos += 1
        end = d.index(b">", self.pos)
        hx = re.sub(rb"[^0-9A-Fa-f]", b"", d[self.pos : end])
        self.pos = end + 1
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii"))

    def _dict(self) -> dict:
        self.pos += 2
        out: dict = {}
        while True:
            self._skip_ws()
            if self.d[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self.parse()
            if not isinstance(key, _Name):
                raise ValueError("pdf: dict key is not a name")
            out[str(key)] = self.parse()

    def _array(self) -> list:
        self.pos += 1
        out = []
        while True:
            self._skip_ws()
            if self.d[self.pos] == 0x5D:
                self.pos += 1
                return out
            out.append(self.parse())

    def _number_or_ref(self) -> Any:
        d = self.d
        start = self.pos
        n = len(d)
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        tok = d[start : self.pos]
        try:
            if b"." in tok:
                return float(tok)
            num = int(tok)
        except ValueError:
            raise ValueError(f"pdf: bad token {tok[:20]!r}") from None
        # lookahead for "<gen> R"
        save = self.pos
        self._skip_ws()
        m = re.match(rb"(\d+)\s+R(?![A-Za-z0-9])", d[self.pos : self.pos + 24])
        if m and num >= 0:
            self.pos += m.end()
            return _Ref(num, int(m.group(1)))
        self.pos = save
        return num


# -- stream filters -------------------------------------------------------------


def _png_unpredict(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    """Undo PNG predictors (the only Predictor >= 10 form xref/flate
    streams use); bpp = bytes per pixel."""
    bpp = max(1, (colors * bpc) // 8)
    stride = columns * bpp
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    while pos + 1 + stride <= len(data) + stride and pos < len(data):
        ft = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ft == 1:
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        elif ft != 0:
            raise ValueError(f"pdf: unknown PNG predictor {ft}")
        out += row
        prev = row
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """PDF LZWDecode: 8-bit symbols, MSB-first packing, codes grow at
    table size 511/1023/2047 (early change), 256=clear, 257=EOD."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    acc = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("pdf: corrupt LZW stream")
            out += entry
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1  # early change: one code before the table fills
            prev = entry
    return bytes(out)


def _ascii85_decode(data: bytes) -> bytes:
    data = re.sub(rb"\s", b"", data)
    if data.startswith(b"<~"):
        data = data[2:]
    if data.endswith(b"~>"):
        data = data[:-2]
    out = bytearray()
    i = 0
    while i < len(data):
        if data[i : i + 1] == b"z":
            out += b"\x00\x00\x00\x00"
            i += 1
            continue
        group = data[i : i + 5]
        i += 5
        pad = 5 - len(group)
        group += b"u" * pad
        v = 0
        for ch in group:
            if not 0x21 <= ch <= 0x75:
                raise ValueError("pdf: bad ascii85 character")
            v = v * 85 + (ch - 0x21)
        out += v.to_bytes(4, "big")[: 4 - pad]
    return bytes(out)


def _runlength_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        ln = data[i]
        if ln == 128:
            break
        if ln < 128:
            out += data[i + 1 : i + 2 + ln]
            i += 2 + ln
        else:
            out += data[i + 1 : i + 2] * (257 - ln)
            i += 2
    return bytes(out)


def _apply_filters(raw: bytes, sdict: dict, resolve) -> bytes:
    filters = resolve(sdict.get("Filter"))
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = resolve(sdict.get("DecodeParms") or sdict.get("DP"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    data = raw
    for f, pm in zip(filters, parms):
        f = str(resolve(f))
        pm = resolve(pm) or {}
        if f in ("FlateDecode", "Fl"):
            data = zlib.decompress(data)
        elif f in ("LZWDecode", "LZW"):
            data = _lzw_decode(data)
        elif f in ("ASCIIHexDecode", "AHx"):
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0])
            if len(hx) % 2:
                hx += b"0"
            data = bytes.fromhex(hx.decode("ascii"))
        elif f in ("ASCII85Decode", "A85"):
            data = _ascii85_decode(data)
        elif f in ("RunLengthDecode", "RL"):
            data = _runlength_decode(data)
        elif f in ("DCTDecode", "JPXDecode", "JBIG2Decode", "CCITTFaxDecode"):
            return data  # image payloads: not on the text path
        elif f == "Crypt":
            raise ValueError("pdf: encrypted stream")
        else:
            raise ValueError(f"pdf: unsupported filter {f}")
        pred = resolve(pm.get("Predictor", 1)) if isinstance(pm, dict) else 1
        if pred and pred >= 10:
            data = _png_unpredict(
                data,
                int(resolve(pm.get("Columns", 1))),
                int(resolve(pm.get("Colors", 1))),
                int(resolve(pm.get("BitsPerComponent", 8))),
            )
        elif pred == 2:
            raise ValueError("pdf: TIFF predictor unsupported")
    return data


# -- document (xref + objects) --------------------------------------------------


class _Document:
    def __init__(self, data: bytes) -> None:
        self.d = data
        self.offsets: dict[int, int] = {}       # obj num -> byte offset
        self.in_objstm: dict[int, tuple[int, int]] = {}  # num -> (stm num, idx)
        self.trailer: dict = {}
        self._cache: dict[int, Any] = {}
        self._objstm_cache: dict[int, list] = {}
        self._load_xref()
        if "Encrypt" in self.trailer:
            raise ValueError("pdf: encrypted document")

    # -- xref loading

    def _load_xref(self) -> None:
        tail = self.d[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        try:
            if m is None:
                raise ValueError("pdf: no startxref")
            pos = int(m.group(1))
            seen = set()
            while pos is not None and pos not in seen:
                seen.add(pos)
                pos = self._load_xref_section(pos)
        except ValueError:
            # damaged/absent xref: real crawls carry truncated and
            # incrementally-mangled PDFs whose OBJECTS are intact —
            # rebuild the table by scanning for "<n> <g> obj" markers
            # (later definitions win, matching update order) and take
            # the last trailer dict in the file
            self._recover()
        if not self.offsets and not self.in_objstm:
            raise ValueError("pdf: no usable cross-reference information")

    def _recover(self) -> None:
        d = self.d
        self.offsets.clear()
        self.in_objstm.clear()
        for m in re.finditer(rb"(?m)^\s*(\d+)\s+\d+\s+obj\b", d):
            self.offsets[int(m.group(1))] = m.start()
        if not self.trailer:
            for m in re.finditer(rb"trailer", d):
                try:
                    lex = _Lexer(d, m.end())
                    tr = lex.parse()
                    if isinstance(tr, dict):
                        self.trailer.update(tr)
                except ValueError:
                    continue
        # walk the scanned objects: index ObjStm members (xref-stream
        # files keep the catalog/pages INSIDE one) and harvest trailer
        # keys from any XRef stream dict (that layout has no trailer
        # keyword — /Root lives in the stream's dictionary)
        for num in list(self.offsets):
            try:
                obj = self._parse_indirect_at(self.offsets[num])
            except ValueError:
                continue
            if not (isinstance(obj, tuple) and len(obj) == 2):
                continue
            typ = str(obj[0].get("Type", ""))
            if typ == "XRef":
                for k in ("Root", "Info", "Size"):
                    if k in obj[0] and k not in self.trailer:
                        self.trailer[k] = obj[0][k]
            elif typ == "ObjStm":
                try:
                    data = _apply_filters(obj[1], obj[0], self.resolve)
                    n = int(self.resolve(obj[0]["N"]))
                    head = _Lexer(data, 0)
                    for idx in range(n):
                        onum = head.parse()
                        head.parse()  # offset, unused here
                        if onum not in self.offsets:
                            self.in_objstm[onum] = (num, idx)
                except (ValueError, KeyError):
                    continue
        if "Root" not in self.trailer:
            # last resort: find a catalog among every reachable object
            candidates = list(self.offsets) + list(self.in_objstm)
            for num in candidates:
                try:
                    obj = self.get_object(num)
                except ValueError:
                    continue
                if isinstance(obj, dict) and str(obj.get("Type", "")) == "Catalog":
                    self.trailer["Root"] = _Ref(num, 0)
                    break

    def _load_xref_section(self, pos: int) -> int | None:
        d = self.d
        lex = _Lexer(d, pos)
        lex._skip_ws()
        if d[lex.pos : lex.pos + 4] == b"xref":
            return self._load_xref_table(lex.pos + 4)
        # cross-reference stream: "<num> <gen> obj <<...>> stream"
        obj = self._parse_indirect_at(lex.pos)
        sdict, raw = obj
        data = _apply_filters(raw, sdict, self.resolve)
        w = [int(x) for x in self.resolve(sdict["W"])]
        size = int(self.resolve(sdict["Size"]))
        index = self.resolve(sdict.get("Index", [0, size]))
        index = [int(self.resolve(x)) for x in index]
        rw = sum(w)
        p = 0
        for k in range(0, len(index), 2):
            first, count = index[k], index[k + 1]
            for i in range(count):
                if p + rw > len(data):
                    break
                fields = []
                for width in w:
                    v = int.from_bytes(data[p : p + width], "big") if width else None
                    p += width
                    fields.append(v)
                ftype = fields[0] if w[0] else 1
                num = first + i
                if num in self.offsets or num in self.in_objstm:
                    continue
                if ftype == 1:
                    self.offsets[num] = fields[1]
                elif ftype == 2:
                    self.in_objstm[num] = (fields[1], fields[2] or 0)
        for k, v in sdict.items():
            if k not in self.trailer and k not in ("W", "Index", "Filter",
                                                   "Length", "DecodeParms", "Type"):
                self.trailer[k] = v
        prev = self.resolve(sdict.get("Prev"))
        return int(prev) if prev is not None else None

    def _load_xref_table(self, pos: int) -> int | None:
        d = self.d
        lex = _Lexer(d, pos)
        while True:
            lex._skip_ws()
            if d[lex.pos : lex.pos + 7] == b"trailer":
                lex.pos += 7
                tr = lex.parse()
                if not isinstance(tr, dict):
                    raise ValueError("pdf: trailer is not a dictionary")
                for k, v in tr.items():
                    if k not in self.trailer:
                        self.trailer[k] = v
                # hybrid files: /XRefStm points at a parallel xref stream
                if "XRefStm" in tr:
                    self._load_xref_section(int(self.resolve(tr["XRefStm"])))
                prev = tr.get("Prev")
                return int(self.resolve(prev)) if prev is not None else None
            first = lex.parse()
            count = lex.parse()
            if not isinstance(first, int) or not isinstance(count, int):
                raise ValueError("pdf: bad xref subsection header")
            lex._skip_ws()
            for i in range(count):
                row = d[lex.pos : lex.pos + 20]
                m = re.match(rb"(\d{10})\s+(\d{5})\s+([nf])", row)
                if not m:
                    raise ValueError("pdf: bad xref row")
                if m.group(3) == b"n":
                    num = first + i
                    if num not in self.offsets and num not in self.in_objstm:
                        self.offsets[num] = int(m.group(1))
                lex.pos += m.end()
                lex._skip_ws()

    # -- object access

    def resolve(self, v: Any) -> Any:
        # Hostile/malformed files can contain reference cycles
        # (`1 0 obj 2 0 R` / `2 0 obj 1 0 R`); get_object returns the
        # cached _Ref each iteration, so an unguarded loop never
        # terminates and would hang the executor task.  Track visited
        # object numbers and raise — the operator layer degrades the
        # ValueError to parse_ok=false.
        seen: set[int] | None = None
        while isinstance(v, _Ref):
            if seen is None:
                seen = {v.num}
            elif v.num in seen:
                raise ValueError("pdf: circular indirect reference")
            else:
                seen.add(v.num)
            v = self.get_object(v.num)
        return v

    def _parse_indirect_at(self, pos: int) -> Any:
        d = self.d
        m = re.match(rb"(\d+)\s+(\d+)\s+obj\b", d[pos : pos + 40])
        if not m:
            raise ValueError("pdf: expected indirect object")
        lex = _Lexer(d, pos + m.end())
        val = lex.parse()
        lex._skip_ws()
        if isinstance(val, dict) and d[lex.pos : lex.pos + 6] == b"stream":
            p = lex.pos + 6
            if d[p : p + 2] == b"\r\n":
                p += 2
            elif d[p : p + 1] in (b"\n", b"\r"):
                p += 1
            length = self.resolve(val.get("Length"))
            if not isinstance(length, int):
                end = d.index(b"endstream", p)
                length = end - p
            raw = d[p : p + length]
            return (val, raw)
        return val

    def get_object(self, num: int) -> Any:
        if num in self._cache:
            return self._cache[num]
        if num in self.offsets:
            val = self._parse_indirect_at(self.offsets[num])
        elif num in self.in_objstm:
            stm_num, idx = self.in_objstm[num]
            val = self._objstm_member(stm_num, idx)
        else:
            return None
        self._cache[num] = val
        return val

    def _objstm_member(self, stm_num: int, idx: int) -> Any:
        if stm_num not in self._objstm_cache:
            obj = self.get_object(stm_num)
            if not (isinstance(obj, tuple) and len(obj) == 2):
                raise ValueError("pdf: object stream missing")
            sdict, raw = obj
            data = _apply_filters(raw, sdict, self.resolve)
            n = int(self.resolve(sdict["N"]))
            first = int(self.resolve(sdict["First"]))
            head = _Lexer(data, 0)
            pairs = []
            for _ in range(n):
                onum = head.parse()
                ooff = head.parse()
                pairs.append((onum, ooff))
            members = []
            for onum, ooff in pairs:
                lx = _Lexer(data, first + ooff)
                members.append(lx.parse())
            self._objstm_cache[stm_num] = members
        return self._objstm_cache[stm_num][idx]

    def stream_data(self, v: Any) -> bytes:
        v = self.resolve(v)
        if not (isinstance(v, tuple) and len(v) == 2):
            raise ValueError("pdf: not a stream")
        return _apply_filters(v[1], v[0], self.resolve)

    # -- page tree

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise ValueError("pdf: no document catalog")
        out: list[dict] = []
        inheritable = ("Resources", "MediaBox", "Rotate")
        # A Kids entry pointing back at an ancestor would make the
        # depth-capped walk exponential (fan-out × 64 levels); page
        # tree nodes are visited at most once in a well-formed file.
        seen_nodes: set[int] = set()

        def walk(node_ref, inherited: dict, depth: int) -> None:
            if depth > 64:
                raise ValueError("pdf: page tree too deep")
            if isinstance(node_ref, _Ref):
                if node_ref.num in seen_nodes:
                    raise ValueError("pdf: circular page tree")
                seen_nodes.add(node_ref.num)
            node = self.resolve(node_ref)
            if not isinstance(node, dict):
                return
            merged = dict(inherited)
            for k in inheritable:
                if k in node:
                    merged[k] = node[k]
            if str(node.get("Type", "")) == "Page" or (
                "Contents" in node and "Kids" not in node
            ):
                page = dict(node)
                for k, v in merged.items():
                    page.setdefault(k, v)
                out.append(page)
                return
            for kid in self.resolve(node.get("Kids", [])) or []:
                walk(kid, merged, depth + 1)

        walk(root.get("Pages"), {}, 0)
        return out


# -- font decoding ---------------------------------------------------------------

#: Adobe Glyph List subset — the names Latin-script documents (and the
#: TeX/FOP producers in this container) actually emit; uniXXXX /
#: uXXXX[XX] names are parsed algorithmically.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
    "fi": "ﬁ", "fl": "ﬂ", "ff": "ﬀ", "ffi": "ﬃ",
    "ffl": "ﬄ", "germandbls": "ß", "ae": "æ", "AE": "Æ",
    "oe": "œ", "OE": "Œ", "oslash": "ø", "Oslash": "Ø",
    "aring": "å", "Aring": "Å", "ccedilla": "ç", "Ccedilla": "Ç",
    "eacute": "é", "egrave": "è", "ecircumflex": "ê", "edieresis": "ë",
    "aacute": "á", "agrave": "à", "acircumflex": "â", "adieresis": "ä",
    "atilde": "ã", "iacute": "í", "igrave": "ì", "icircumflex": "î",
    "idieresis": "ï", "oacute": "ó", "ograve": "ò", "ocircumflex": "ô",
    "odieresis": "ö", "otilde": "õ", "uacute": "ú", "ugrave": "ù",
    "ucircumflex": "û", "udieresis": "ü", "ntilde": "ñ", "Ntilde": "Ñ",
    "yacute": "ý", "ydieresis": "ÿ", "degree": "°", "cent": "¢",
    "sterling": "£", "yen": "¥", "section": "§", "paragraph": "¶",
    "copyright": "©", "registered": "®", "trademark": "™",
    "guillemotleft": "«", "guillemotright": "»", "guilsinglleft": "‹",
    "guilsinglright": "›", "exclamdown": "¡", "questiondown": "¿",
    "minus": "−", "multiply": "×", "divide": "÷",
    "plusminus": "±", "mu": "µ", "middot": "·", "periodcentered": "·",
    "nbspace": " ", "dotlessi": "ı",
}


def _glyph_to_unicode(name: str) -> str:
    if len(name) == 1:
        return name
    if name in _AGL:
        return _AGL[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return ""
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return ""
    # TeX-style gNN / index names carry no semantics
    return ""


def _base_encoding(name: str) -> dict[int, str]:
    """Code → unicode for the named base encoding.  WinAnsi is cp1252;
    MacRoman is the stdlib mac_roman; Standard differs from latin-1
    mainly in the quote/ligature region — map via a delta."""
    table: dict[int, str] = {}
    if name == "WinAnsiEncoding":
        for c in range(32, 256):
            try:
                table[c] = bytes([c]).decode("cp1252")
            except UnicodeDecodeError:
                pass
    elif name == "MacRomanEncoding":
        for c in range(32, 256):
            try:
                table[c] = bytes([c]).decode("mac_roman")
            except UnicodeDecodeError:
                pass
    else:  # StandardEncoding (and the fallback)
        for c in range(32, 127):
            table[c] = chr(c)
        table.update({
            0x27: "’", 0x60: "‘",  # quoteright / quoteleft
            0xA1: "¡", 0xA2: "¢", 0xA3: "£", 0xA8: "¤", 0xB4: "·",
            0xAB: "«", 0xBB: "»", 0xB1: "–", 0xD0: "—",
            0xAE: "ﬁ", 0xAF: "ﬂ", 0xE1: "Æ", 0xF1: "æ",
            0xE9: "Ø", 0xF9: "ø", 0xFA: "œ", 0xEA: "Œ", 0xFB: "ß",
        })
    return table


def _parse_tounicode(data: bytes) -> dict[int, str]:
    """bfchar/bfrange entries of a ToUnicode CMap → code → text."""
    out: dict[int, str] = {}

    def utf16(hx: bytes) -> str:
        raw = bytes.fromhex(hx.decode("ascii"))
        try:
            return raw.decode("utf-16-be")
        except UnicodeDecodeError:
            return ""

    for block in re.findall(rb"beginbfchar(.*?)endbfchar", data, re.S):
        for src, dst in re.findall(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", block):
            out[int(src, 16)] = utf16(dst)
    for block in re.findall(rb"beginbfrange(.*?)endbfrange", data, re.S):
        for m in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
            rb"(?:<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\])",
            block,
        ):
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            if m.group(3) is not None:
                base = m.group(3)
                raw = bytes.fromhex(base.decode("ascii"))
                try:
                    basestr = raw.decode("utf-16-be")
                except UnicodeDecodeError:
                    continue
                if len(basestr) == 1:
                    b0 = ord(basestr)
                    for i in range(hi - lo + 1):
                        out[lo + i] = chr(b0 + i)
                else:
                    out[lo] = basestr
            else:
                dsts = re.findall(rb"<([0-9A-Fa-f]+)>", m.group(4))
                for i, dst in enumerate(dsts):
                    out[lo + i] = utf16(dst)
    return out


class _Font:
    __slots__ = ("two_byte", "tounicode", "encoding", "widths")

    def __init__(self, doc: _Document, fdict: dict) -> None:
        fdict = doc.resolve(fdict) or {}
        subtype = str(doc.resolve(fdict.get("Subtype", "")))
        self.two_byte = subtype == "Type0"
        # code -> advance width in glyph-space units (thousandths of an
        # em); None when the file carries no metrics (standard-14
        # fonts without /Widths) — callers fall back to a coarser
        # word-gap heuristic then
        self.widths: dict[int, float] | None = None
        fc = doc.resolve(fdict.get("FirstChar"))
        ws = doc.resolve(fdict.get("Widths"))
        if isinstance(fc, int) and isinstance(ws, list):
            self.widths = {
                fc + i: float(doc.resolve(w)) for i, w in enumerate(ws)
                if isinstance(doc.resolve(w), (int, float))
            }
        self.tounicode: dict[int, str] = {}
        tu = doc.resolve(fdict.get("ToUnicode"))
        if isinstance(tu, tuple):
            self.tounicode = _parse_tounicode(doc.stream_data(tu))
        enc = doc.resolve(fdict.get("Encoding"))
        if isinstance(enc, dict):
            table = _base_encoding(str(doc.resolve(enc.get("BaseEncoding", ""))))
            diffs = doc.resolve(enc.get("Differences"))
            if isinstance(diffs, list):
                code = 0
                for item in diffs:
                    item = doc.resolve(item)
                    if isinstance(item, (int, float)):
                        code = int(item)
                    else:
                        table[code] = _glyph_to_unicode(str(item))
                        code += 1
            self.encoding = table
        elif isinstance(enc, _Name) and not self.two_byte:
            self.encoding = _base_encoding(str(enc))
        else:
            self.encoding = _base_encoding("StandardEncoding")

    def decode(self, raw: bytes) -> str:
        out = []
        if self.two_byte:
            for i in range(0, len(raw) - 1, 2):
                code = (raw[i] << 8) | raw[i + 1]
                out.append(self.tounicode.get(code, ""))
        else:
            for code in raw:
                if code in self.tounicode:
                    out.append(self.tounicode[code])
                else:
                    out.append(self.encoding.get(code, ""))
        return "".join(out)


# -- content-stream text interpreter ---------------------------------------------

_OPERATOR_RE = re.compile(rb"[^\s()<>\[\]{}/%]+")


def _page_text(doc: _Document, page: dict) -> str:
    contents = doc.resolve(page.get("Contents"))
    if contents is None:
        return ""
    if isinstance(contents, list):
        data = b"\n".join(doc.stream_data(c) for c in contents)
    else:
        data = doc.stream_data(contents)
    res = doc.resolve(page.get("Resources")) or {}
    fonts_dict = doc.resolve(res.get("Font")) or {}
    fonts: dict[str, _Font] = {}

    lex = _Lexer(data, 0)
    out: list[str] = []
    cur: _Font | None = None
    stack: list[Any] = []
    last_y: float | None = None
    tf_size = 10.0
    run_adv = 0.0       # glyph advance since the last positioning op
    adv_known = False   # only meaningful when the font carries /Widths

    def newline() -> None:
        if out and out[-1] != "\n":
            out.append("\n")

    def emit(raw: Any) -> None:
        nonlocal run_adv
        if isinstance(raw, bytes) and cur is not None:
            out.append(cur.decode(raw))
            if cur.widths is not None and not cur.two_byte:
                for code in raw:
                    run_adv += cur.widths.get(code, 500.0) * tf_size / 1000.0

    n = len(data)
    while lex.pos < n:
        lex._skip_ws()
        if lex.pos >= n:
            break
        c = data[lex.pos]
        if c in b"/([<" or (c in b"+-." or 0x30 <= c <= 0x39):
            try:
                stack.append(lex.parse())
            except ValueError:
                lex.pos += 1
            continue
        m = _OPERATOR_RE.match(data, lex.pos)
        if not m:
            lex.pos += 1
            continue
        op = m.group()
        lex.pos = m.end()
        if op == b"Tf" and len(stack) >= 2:
            name = str(stack[-2])
            if name not in fonts and name in fonts_dict:
                fonts[name] = _Font(doc, fonts_dict[name])
            cur = fonts.get(name)
            if isinstance(stack[-1], (int, float)) and stack[-1] > 0:
                tf_size = float(stack[-1])
            adv_known = cur is not None and cur.widths is not None \
                and not cur.two_byte
        elif op == b"Tj" and stack:
            emit(stack[-1])
        elif op == b"TJ" and stack and isinstance(stack[-1], list):
            for item in stack[-1]:
                if isinstance(item, bytes):
                    emit(item)
                elif isinstance(item, (int, float)):
                    run_adv -= item * tf_size / 1000.0
                    if item < -180 and out and not out[-1].endswith((" ", "\n")):
                        out.append(" ")
        elif op in (b"'", b'"'):
            newline()
            emit(stack[-1] if stack else None)
        elif op in (b"Td", b"TD") and len(stack) >= 2:
            ty = stack[-1]
            tx = stack[-2]
            if isinstance(ty, (int, float)) and ty != 0:
                newline()
            elif isinstance(tx, (int, float)) and out \
                    and not out[-1].endswith((" ", "\n")):
                if adv_known:
                    # Ghostscript-style output positions every run via
                    # Td = previous run's metric advance (+ the word
                    # space when there is one): compare against the
                    # accumulated /Widths advance
                    if tx - run_adv > 0.1 * tf_size:
                        out.append(" ")
                elif tx > 0.2 * tf_size:
                    # no metrics: a same-line move under ~0.2 em is
                    # kerning between glyph runs, not a word gap
                    out.append(" ")
            run_adv = 0.0
        elif op == b"T*":
            newline()
            run_adv = 0.0
        elif op == b"Tm" and len(stack) >= 6:
            ty = stack[-1]
            if isinstance(ty, (int, float)):
                if last_y is not None and abs(ty - last_y) > 0.5:
                    newline()
                last_y = float(ty)
            run_adv = 0.0
        elif op == b"ET":
            newline()
            run_adv = 0.0
        elif op == b"BI":  # inline image: skip to EI
            e = data.find(b"EI", lex.pos)
            lex.pos = n if e < 0 else e + 2
        stack.clear()  # every operator consumes its operands
    text = "".join(out)
    text = re.sub(r"[ \t]+", " ", text)
    text = re.sub(r" ?\n ?", "\n", text)
    return re.sub(r"\n{2,}", "\n", text).strip()


# -- public API -------------------------------------------------------------------


def extract_pdf_text(payload: bytes) -> str:
    """Whole-document text: pages joined by form feeds.  Raises
    ValueError on encrypted or structurally broken documents (the
    operator layer degrades that to parse_ok=false)."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError("pdf: missing %PDF header")
    doc = _Document(payload)
    return "\f".join(_page_text(doc, p) for p in doc.pages())


def pdf_metadata(payload: bytes) -> dict:
    """Prune-stage facts without touching page content: version, page
    count, producer/title (from /Info), and whether an /Encrypt
    dictionary is present (encrypted docs are routed away, not
    decoded)."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError("pdf: missing %PDF header")
    version = payload[5:8].decode("ascii", "replace")
    try:
        doc = _Document(payload)
    except ValueError as e:
        if "encrypted" in str(e):
            return {"version": version, "n_pages": None, "encrypted": True,
                    "producer": None, "title": None}
        raise
    info = doc.resolve(doc.trailer.get("Info")) or {}

    def s(v):
        v = doc.resolve(v)
        if isinstance(v, bytes):
            if v[:2] == b"\xfe\xff":
                return v[2:].decode("utf-16-be", "replace")
            return v.decode("latin-1")
        return None

    return {
        "version": version,
        "n_pages": len(doc.pages()),
        "encrypted": False,
        "producer": s(info.get("Producer")),
        "title": s(info.get("Title")),
    }


def build_pdf(pages: list[str], producer: str = "impala-cut-spark",
              compress: bool = True, use_objstm: bool = False) -> bytes:
    """Minimal valid PDF writer — the fixture/round-trip twin of
    extract_pdf_text: one Helvetica/WinAnsi font, one content stream
    per page (Td line layout, parenthesis-escaped text), classic xref
    table or (use_objstm) a PDF 1.5 cross-reference stream with the
    page objects packed in an object stream."""
    objects: dict[int, bytes] = {}
    n_pages = len(pages)
    kid_ids = [4 + 2 * i for i in range(n_pages)]
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    kids = b" ".join(b"%d 0 R" % k for k in kid_ids)
    objects[2] = (b"<< /Type /Pages /Count %d /Kids [%s] >>"
                  % (n_pages, kids))
    objects[3] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                  b" /Encoding /WinAnsiEncoding >>")
    stream_ids = []
    for i, text in enumerate(pages):
        pid, sid = kid_ids[i], kid_ids[i] + 1
        stream_ids.append(sid)
        objects[pid] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 3 0 R >> >>"
            b" /Contents %d 0 R >>" % sid
        )
        lines = text.split("\n")
        body = [b"BT /F1 11 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                body.append(b"0 -14 Td")
            esc = (line.encode("cp1252", "replace")
                   .replace(b"\\", b"\\\\")
                   .replace(b"(", b"\\(").replace(b")", b"\\)"))
            body.append(b"(%s) Tj" % esc)
        body.append(b"ET")
        content = b"\n".join(body)
        if compress:
            z = zlib.compress(content)
            objects[sid] = (b"<< /Length %d /Filter /FlateDecode >>\nstream\n"
                            % len(z)) + z + b"\nendstream"
        else:
            objects[sid] = (b"<< /Length %d >>\nstream\n" % len(content)
                            ) + content + b"\nendstream"
    info_id = max(objects) + 1
    objects[info_id] = b"<< /Producer (%s) >>" % producer.encode("latin-1")

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    if use_objstm:
        # pack the catalog + page dicts (non-stream objects) in an ObjStm
        packed = sorted(k for k, v in objects.items()
                        if b"stream" not in v.split(b">>")[-1] and
                        not v.rstrip().endswith(b"endstream"))
        loose = sorted(k for k in objects if k not in packed)
        stm_id = info_id + 1
        header = bytearray()
        body = bytearray()
        for k in packed:
            header += b"%d %d " % (k, len(body))
            body += objects[k] + b"\n"
        payload = bytes(header) + bytes(body)
        z = zlib.compress(payload)
        objstm = (b"<< /Type /ObjStm /N %d /First %d /Length %d"
                  b" /Filter /FlateDecode >>\nstream\n"
                  % (len(packed), len(header), len(z))) + z + b"\nendstream"
        for k in loose:
            offsets[k] = len(out)
            out += b"%d 0 obj\n" % k + objects[k] + b"\nendobj\n"
        offsets[stm_id] = len(out)
        out += b"%d 0 obj\n" % stm_id + objstm + b"\nendobj\n"
        # xref stream: W [1 4 2]
        xref_id = stm_id + 1
        size = xref_id + 1
        rows = bytearray()
        rows += bytes([0]) + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
        for num in range(1, size - 1):
            if num in offsets:
                rows += bytes([1]) + offsets[num].to_bytes(4, "big") + b"\x00\x00"
            elif num in packed:
                rows += (bytes([2]) + stm_id.to_bytes(4, "big")
                         + packed.index(num).to_bytes(2, "big"))
            else:
                rows += bytes([0]) + (0).to_bytes(4, "big") + b"\xff\xff"
        xref_off = len(out)
        rows += bytes([1]) + xref_off.to_bytes(4, "big") + b"\x00\x00"
        zrows = zlib.compress(bytes(rows))
        out += (b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R"
                b" /Info %d 0 R /Length %d /Filter /FlateDecode >>\nstream\n"
                % (xref_id, size, info_id, len(zrows)))
        out += zrows + b"\nendstream\nendobj\n"
        out += b"startxref\n%d\n%%%%EOF\n" % xref_off
        return bytes(out)

    for k in sorted(objects):
        offsets[k] = len(out)
        out += b"%d 0 obj\n" % k + objects[k] + b"\nendobj\n"
    xref_off = len(out)
    size = max(objects) + 1
    out += b"xref\n0 %d\n" % size
    out += b"0000000000 65535 f \n"
    for num in range(1, size):
        out += b"%010d 00000 n \n" % offsets[num]
    out += (b"trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (size, info_id, xref_off))
    return bytes(out)


# -- Spark surface ----------------------------------------------------------------

#: output schema of pdf_extract
PDF_TEXT_SCHEMA = (
    "asset_id bigint, version string, n_pages int, producer string, "
    "text string, parse_ok boolean"
)


def pdf_extract(assets, id_col: str = "asset_id", payload_col: str = "payload"):
    """(id, binary PDF payload) → one row per document with the
    extracted text and the prune-stage facts (version, page count,
    producer).  Arrow-batched mapInPandas, one document resident at a
    time; encrypted/corrupt payloads degrade to parse_ok=false rows,
    never a job failure (the same contract as warc_ingest /
    image_container_metadata).  Scale: a narrow map with no shuffle —
    at 100 TB the extraction runs where the scan runs."""
    import pandas as pd

    def _extract(batches):
        for pdf_batch in batches:
            rows = []
            for aid, payload in zip(pdf_batch[id_col], pdf_batch[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    meta = pdf_metadata(raw)
                    if meta["encrypted"]:
                        raise ValueError("pdf: encrypted document")
                    text = extract_pdf_text(raw)
                    rows.append(
                        (int(aid), meta["version"], meta["n_pages"],
                         meta["producer"], text, True)
                    )
                except (ValueError, KeyError, IndexError, TypeError,
                        OverflowError, RecursionError, EOFError) as _:
                    rows.append((int(aid), None, None, None, None, False))
                except Exception as e:  # zlib.error and lexer edge cases
                    import zlib as _z

                    if isinstance(e, _z.error):
                        rows.append((int(aid), None, None, None, None, False))
                    else:
                        raise
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "version", "n_pages", "producer",
                         "text", "parse_ok"],
            )

    return assets.mapInPandas(_extract, PDF_TEXT_SCHEMA)
