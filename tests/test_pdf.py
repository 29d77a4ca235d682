"""PDF text extraction (operators/pdf.py) — ISO 32000-1 conformance.

Anchors: the build_pdf writer twin round-trips exactly (classic xref
AND PDF 1.5 xref-stream/ObjStm layouts, Flate and stored streams),
and the container's REAL documents — two pdfTeX files (xref streams,
object streams, CID fonts) and a 2004 Ghostscript PDF 1.2 (classic
xref, Type1 metrics-positioned words) — must yield their known
titles, authors and section headings verbatim."""

from __future__ import annotations

import base64
import os
import zlib

import pytest

from impala_cut_spark.operators.pdf import (
    _lzw_decode,
    _ascii85_decode,
    _runlength_decode,
    build_pdf,
    extract_pdf_text,
    pdf_extract,
    pdf_metadata,
)

_REAL = [
    ("/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf",
     ["Shared MIME-info Database", "Thomas Leonard", "freedesktop.org"]),
    ("/usr/share/doc/libtasn1-doc/libtasn1.pdf",
     ["Libtasn1", "Abstract Syntax Notation One", "Simon Josefsson"]),
    ("/root/reference/thirdparty/snappy-1.0.5/testdata/mapreduce-osdi-1.pdf",
     ["MapReduce: An Abstraction for Large-Scale Processing of Data",
      "Jeffrey Dean and Sanjay Ghemawat", "Google, Inc."]),
]


class TestWriterTwin:
    @pytest.mark.parametrize("objstm", [False, True])
    @pytest.mark.parametrize("compress", [False, True])
    def test_roundtrip_layout_matrix(self, objstm, compress):
        pages = [
            "Hello PDF world!\nSecond line with (parens) and \\ backslash.",
            "Page two: umlauts äöü, quotes “x”, dash —.",
            "",
        ]
        p = build_pdf(pages, compress=compress, use_objstm=objstm)
        got = extract_pdf_text(p).split("\f")
        assert got == pages
        m = pdf_metadata(p)
        assert m["n_pages"] == 3 and not m["encrypted"]
        assert m["producer"] == "impala-cut-spark" and m["version"] == "1.5"

    def test_hypothesis_text_roundtrip(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        words = st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=1, max_size=12,
        ).filter(lambda w: w.strip() and not w.startswith(" "))

        @settings(max_examples=40, deadline=None)
        @given(st.lists(words, min_size=0, max_size=60), st.booleans())
        def check(ws, objstm):
            text = " ".join(w.strip() for w in ws if w.strip())
            p = build_pdf([text], use_objstm=objstm)
            assert extract_pdf_text(p) == text

        check()

    def test_incremental_update_prev_chain(self):
        """An appended update section (new /Info + xref with /Prev)
        must win over the original — the classic-xref /Prev walk."""
        base = build_pdf(["original text"], compress=False)
        info_id = 99
        add = b"%d 0 obj\n<< /Producer (updated-producer) >>\nendobj\n" % info_id
        off = len(base)
        xref_off = off + len(add)
        startxref_old = int(base.rsplit(b"startxref", 1)[1].split()[0])
        upd = (add + b"xref\n0 1\n0000000000 65535 f \n%d 1\n%010d 00000 n \n"
               b"trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R /Prev %d >>\n"
               b"startxref\n%d\n%%%%EOF\n"
               % (info_id, off, info_id + 1, info_id, startxref_old, xref_off))
        m = pdf_metadata(base + upd)
        assert m["producer"] == "updated-producer"
        assert extract_pdf_text(base + upd) == "original text"

    def test_encrypted_detected_not_decoded(self):
        p = build_pdf(["secret"], compress=False)
        p = p.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 3 0 R")
        assert pdf_metadata(p)["encrypted"] is True
        with pytest.raises(ValueError, match="encrypted"):
            extract_pdf_text(p)

    def test_not_a_pdf_raises(self):
        with pytest.raises(ValueError):
            extract_pdf_text(b"plain text, no header")
        with pytest.raises(ValueError):
            pdf_metadata(b"%PDF-1.4 but truncated")


class TestFilters:
    def test_lzw_pdf_variant(self):
        """Round-trip through a local MSB-first early-change encoder —
        the PDF LZW flavor (GIF packs LSB-first, no early change)."""

        def enc(data: bytes) -> bytes:
            table = {bytes([i]): i for i in range(256)}
            nxt, width = 258, 9
            acc = nbits = 0
            out = bytearray()

            def put(code):
                nonlocal acc, nbits, width
                acc = (acc << width) | code
                nbits += width
                while nbits >= 8:
                    out.append((acc >> (nbits - 8)) & 0xFF)
                    nbits -= 8

            put(256)
            cur = b""
            for b in data:
                nxt_s = cur + bytes([b])
                if nxt_s in table:
                    cur = nxt_s
                    continue
                put(table[cur])
                table[nxt_s] = nxt
                nxt += 1
                if nxt + 1 > (1 << width) and width < 12:
                    width += 1
                cur = bytes([b])
            if cur:
                put(table[cur])
            put(257)
            if nbits:
                out.append((acc << (8 - nbits)) & 0xFF)
            return bytes(out)

        for payload in [b"", b"a", b"aaaaabbbbbcccc" * 40,
                        bytes(range(256)) * 3, b"the same words " * 100]:
            assert _lzw_decode(enc(payload)) == payload

    def test_ascii85_and_runlength(self):
        data = b"Some binary \x00\xff payload" * 9
        assert _ascii85_decode(base64.a85encode(data)) == data
        assert _ascii85_decode(b"z") == b"\x00\x00\x00\x00"
        rl = b"\x02abc" + b"\xfeZ" + b"\x80"  # 3 literals + 3x'Z' + EOD
        assert _runlength_decode(rl) == b"abcZZZ"

    def test_filter_pipeline_in_document(self):
        """A page whose content stream is ASCIIHex-over-Flate — the
        filter-ARRAY path with per-filter application order."""
        import re as _re

        pages = ["filter chain test"]
        base = build_pdf(pages, compress=False)
        m = _re.search(rb"<< /Length \d+ >>\nstream\n(.*?)\nendstream",
                       base, _re.S)
        hexed = zlib.compress(m.group(1)).hex().encode() + b">"
        new_obj = (b"<< /Length %d /Filter [/ASCIIHexDecode /FlateDecode] >>"
                   b"\nstream\n" % len(hexed)) + hexed + b"\nendstream"
        patched = base[: m.start()] + new_obj + base[m.end():]
        assert extract_pdf_text(_rebuild_xref(patched)) == pages[0]


def _rebuild_xref(data: bytes) -> bytes:
    """Regenerate a classic xref table after objects moved (test helper)."""
    import re as _re

    offsets = {}
    for m in _re.finditer(rb"(\d+) 0 obj\n", data):
        offsets[int(m.group(1))] = m.start()
    body_end = data.index(b"xref\n")
    size = max(offsets) + 1
    out = bytearray(data[:body_end])
    xref_off = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for num in range(1, size):
        out += b"%010d 00000 n \n" % offsets.get(num, 0)
    trailer = _re.search(rb"trailer\n(<<.*?>>)\n", data, _re.S).group(1)
    out += b"trailer\n" + trailer + b"\nstartxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out)


class TestRealDocuments:
    @pytest.mark.parametrize("path,needles", _REAL,
                             ids=[os.path.basename(p) for p, _ in _REAL])
    def test_known_passages_extract_verbatim(self, path, needles):
        if not os.path.exists(path):
            pytest.skip(f"{path} not present")
        data = open(path, "rb").read()
        m = pdf_metadata(data)
        assert m["n_pages"] and m["n_pages"] > 0 and not m["encrypted"]
        text = extract_pdf_text(data)
        assert len(text) > 5000
        for needle in needles:
            assert needle in text, needle

    def test_pdftex_metadata_facts(self):
        path = _REAL[0][0]
        if not os.path.exists(path):
            pytest.skip("doc not present")
        m = pdf_metadata(open(path, "rb").read())
        assert m["n_pages"] == 17
        assert m["producer"].startswith("pdfTeX")


class TestOperator:
    def test_rows_and_degrade(self, spark):
        good = build_pdf(["spark pdf row", "two pages"], use_objstm=True)
        df = spark.createDataFrame(
            [(1, bytearray(good)), (2, b"%PDF-1.4 broken"), (3, b"not pdf")],
            "asset_id bigint, payload binary",
        )
        rows = {r.asset_id: r for r in pdf_extract(df).collect()}
        assert rows[1].parse_ok and rows[1].n_pages == 2
        assert rows[1].text == "spark pdf row\ftwo pages"
        assert rows[1].producer == "impala-cut-spark"
        assert rows[2].parse_ok is False and rows[3].parse_ok is False

    def test_non_dict_trailer_degrades(self, spark):
        """A trailer that is not a dictionary (``trailer (x)``) is a
        damaged tail: the objects are recovered when present, and the
        row is parse_ok=false when they are not — never an
        AttributeError that fails the job."""
        import re as _re

        intact = _re.sub(rb"trailer\s*<<.*?>>\s*startxref",
                         b"trailer (x)\nstartxref",
                         build_pdf(["after a bad trailer"], compress=False),
                         flags=_re.S)
        bare = (b"%PDF-1.4\nxref\n0 1\n0000000000 65535 f \n"
                b"trailer (x)\nstartxref\n9\n%%EOF\n")
        df = spark.createDataFrame(
            [(1, bytearray(intact)), (2, bytearray(bare))],
            "asset_id bigint, payload binary",
        )
        rows = {r.asset_id: r for r in pdf_extract(df).collect()}
        assert rows[1].parse_ok and rows[1].text == "after a bad trailer"
        assert rows[2].parse_ok is False


class TestXrefRecovery:
    """Real crawls carry PDFs whose tail (xref + trailer) is damaged
    or truncated while the objects are intact — recovery rebuilds the
    table from an object-marker scan, harvests /Root from a trailer
    keyword, an XRef stream dict, or a catalog-type scan, and indexes
    ObjStm members."""

    @pytest.mark.parametrize("objstm", [False, True])
    def test_three_damage_modes(self, objstm):
        import re as _re

        pages = ["recovered text after xref damage", "page two survives"]
        p = build_pdf(pages, use_objstm=objstm)
        assert extract_pdf_text(
            p.replace(b"startxref", b"startxrXX")).split("\f") == pages
        m = list(_re.finditer(rb"startxref\s+(\d+)", p))[-1]
        bad_off = p[: m.start(1)] + b"999999" + p[m.end(1):]
        assert extract_pdf_text(bad_off).split("\f") == pages
        truncated = p[: p.rfind(b"startxref")]
        assert extract_pdf_text(truncated).split("\f") == pages

    def test_object_damage_still_raises(self):
        p = build_pdf(["x"], compress=False)
        with pytest.raises(ValueError):
            extract_pdf_text(p[:40])  # objects themselves gone

    def test_circular_indirect_reference_raises_not_hangs(self):
        # `1 0 obj 2 0 R` / `2 0 obj 1 0 R`: resolve() used to loop
        # forever (r11 ADVICE #1 — a single hostile PDF permanently
        # hung an executor task); it must raise so the operator layer
        # degrades to parse_ok=false.
        objs = [b"1 0 obj\n2 0 R\nendobj\n", b"2 0 obj\n1 0 R\nendobj\n",
                b"3 0 obj\n<< /Type /Catalog /Pages 1 0 R >>\nendobj\n"]
        body = bytearray(b"%PDF-1.4\n")
        offsets = []
        for o in objs:
            offsets.append(len(body))
            body += o
        xref_at = len(body)
        body += b"xref\n0 4\n0000000000 65535 f \n"
        for off in offsets:
            body += b"%010d 00000 n \n" % off
        body += (b"trailer\n<< /Size 4 /Root 3 0 R >>\nstartxref\n%d\n%%%%EOF"
                 % xref_at)
        with pytest.raises(ValueError, match="circular"):
            extract_pdf_text(bytes(body))

    def test_circular_page_tree_raises_not_hangs(self):
        # a Kids entry pointing back at an ancestor makes the
        # depth-capped walk exponential without the visited-set guard
        objs = [
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
            b"2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] >>\nendobj\n",
            b"3 0 obj\n<< /Type /Pages /Count 1 /Kids [2 0 R 2 0 R] >>\n"
            b"endobj\n",
        ]
        body = bytearray(b"%PDF-1.4\n")
        offsets = []
        for o in objs:
            offsets.append(len(body))
            body += o
        xref_at = len(body)
        body += b"xref\n0 4\n0000000000 65535 f \n"
        for off in offsets:
            body += b"%010d 00000 n \n" % off
        body += (b"trailer\n<< /Size 4 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
                 % xref_at)
        with pytest.raises(ValueError, match="circular|too deep"):
            extract_pdf_text(bytes(body))
