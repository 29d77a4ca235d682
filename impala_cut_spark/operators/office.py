"""Office Open XML ingestion: DOCX (WordprocessingML) and XLSX
(SpreadsheetML) text extraction — the remaining long-form document
formats a crawled corpus carries after HTML/PDF/EPUB/markdown.

Both formats are ZIP containers (ECMA-376) read through the engine's
OWN from-scratch reader (`sources/archives.list_zip` — central
directory walk, capped inflate, CRC check), so the container surface
inherits its bomb guards.  The XML payloads are parsed with the
stdlib ElementTree expat binding AFTER a DOCTYPE rejection gate:
ECMA-376 parts never carry a DTD, and refusing ``<!DOCTYPE`` outright
closes the internal-entity-expansion (billion-laughs) class before
the parser sees it — hostile or malformed members degrade to
``parse_ok=false`` rows, never a job failure (the archive/PDF degrade
contract).

Extraction scope (the text path, mirroring pdf_extract):

- DOCX: ``word/document.xml`` paragraphs — ``<w:p>`` joined from
  their runs' ``<w:t>`` leaves with ``<w:tab/>``/``<w:br/>`` as
  spaces/newlines; ``docProps/core.xml`` Dublin-Core title/creator.
- XLSX: every worksheet part in path order; shared-string cells
  (``t="s"`` indices into ``xl/sharedStrings.xml``), inline-string
  cells (``<is><t>``), and numeric cells counted separately.

Declared boundaries (same ledger class as PDF encryption): encrypted
OOXML (CFB/EncryptedPackage containers — not ZIP at all) fails the
zip magic and degrades; embedded media/charts/drawings are ignored
(text path); ``.doc``/``.xls`` (the pre-2007 CFB formats) are out of
scope.

Scale: one Arrow-batched narrow map (`office_extract`), one document
resident per iteration, no shuffle.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame

from impala_cut_spark.sources.archives import list_zip

#: the degrade-contract exception set for the OOXML path — everything
#: hostile container bytes can raise out of the zip walk (struct /
#: zlib on truncated or corrupt members — the archives.py tuple minus
#: the tar-only members) plus the XML/value layer
import struct as _struct
import zlib as _zlib

OOXML_ERRORS = (ValueError, KeyError, IndexError, OverflowError,
                _struct.error, _zlib.error)

#: namespaces ECMA-376 fixes for the parts we read
_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_S = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_DC = "{http://purl.org/dc/elements/1.1/}"

#: per-part XML size cap — a single document part past this is a bomb,
#: not a document (the text of War and Peace is ~3 MB of XML)
MAX_XML_BYTES = 64 * 1024 * 1024


def guarded_xml(data: bytes):
    """DOCTYPE-gated ElementTree parse (see module docstring) — shared
    by every OOXML/sitemap consumer so the billion-laughs gate is one
    choke point."""
    import xml.etree.ElementTree as ET

    if len(data) > MAX_XML_BYTES:
        raise ValueError("ooxml: part exceeds size cap")
    if b"<!DOCTYPE" in data[:4096]:
        raise ValueError("ooxml: DTD not allowed in ECMA-376 parts")
    try:
        return ET.fromstring(data)
    except ET.ParseError as e:
        raise ValueError(f"ooxml: malformed XML: {e}") from None


def _members(payload: bytes) -> dict[str, bytes]:
    if payload[:4] != b"PK\x03\x04":
        raise ValueError("ooxml: not a ZIP container")
    return {
        m["path"]: m["content"]
        for m in list_zip(payload)
        if not m["is_dir"]
    }


def _para_text(p) -> str:
    """One <w:p> → its visible text: w:t leaves in document order,
    tabs as single spaces, breaks as newlines."""
    parts: list[str] = []
    for node in p.iter():
        tag = node.tag
        if tag == f"{_W}t":
            parts.append(node.text or "")
        elif tag == f"{_W}tab":
            parts.append(" ")
        elif tag in (f"{_W}br", f"{_W}cr"):
            parts.append("\n")
    return "".join(parts)


def docx_text(payload: bytes) -> dict:
    """DOCX → {n_paragraphs, text, title, creator}.  Paragraph texts
    join with single newlines; empty paragraphs are kept (they are
    vertical structure), but count only non-empty ones in
    n_paragraphs so the metric matches what a corpus keeps."""
    parts = _members(payload)
    doc = parts.get("word/document.xml")
    if doc is None:
        raise ValueError("docx: no word/document.xml part")
    root = guarded_xml(doc)
    paras = [_para_text(p) for p in root.iter(f"{_W}p")]
    title = creator = None
    core = parts.get("docProps/core.xml")
    if core is not None:
        croot = guarded_xml(core)
        t = croot.find(f"{_DC}title")
        c = croot.find(f"{_DC}creator")
        title = t.text if t is not None else None
        creator = c.text if c is not None else None
    return {
        "n_paragraphs": sum(1 for t in paras if t.strip()),
        "text": "\n".join(paras),
        "title": title,
        "creator": creator,
    }


def xlsx_cells(payload: bytes) -> dict:
    """XLSX → {n_sheets, n_cells, n_shared, n_inline, n_numeric,
    text}.  ``text`` joins every STRING cell's value in sheet order
    then row-major cell order — the training-text view of a
    spreadsheet; numeric cells count but do not enter the text."""
    parts = _members(payload)
    shared: list[str] = []
    ss = parts.get("xl/sharedStrings.xml")
    if ss is not None:
        sroot = guarded_xml(ss)
        for si in sroot.iter(f"{_S}si"):
            shared.append("".join(t.text or "" for t in si.iter(f"{_S}t")))
    sheets = sorted(
        p for p in parts
        if p.startswith("xl/worksheets/") and p.endswith(".xml")
    )
    if not sheets:
        raise ValueError("xlsx: no worksheet parts")
    n_cells = n_shared = n_inline = n_numeric = 0
    texts: list[str] = []
    for path in sheets:
        root = guarded_xml(parts[path])
        for c in root.iter(f"{_S}c"):
            n_cells += 1
            t = c.get("t", "n")
            if t == "s":
                v = c.find(f"{_S}v")
                idx = int(v.text) if v is not None and v.text else -1
                if not 0 <= idx < len(shared):
                    raise ValueError("xlsx: shared-string index out of range")
                texts.append(shared[idx])
                n_shared += 1
            elif t == "inlineStr":
                is_ = c.find(f"{_S}is")
                texts.append(
                    "".join(x.text or "" for x in is_.iter(f"{_S}t"))
                    if is_ is not None else ""
                )
                n_inline += 1
            elif t == "str":
                v = c.find(f"{_S}v")
                texts.append(v.text or "" if v is not None else "")
                n_inline += 1
            else:
                n_numeric += 1
    return {
        "n_sheets": len(sheets),
        "n_cells": n_cells,
        "n_shared": n_shared,
        "n_inline": n_inline,
        "n_numeric": n_numeric,
        "text": " ".join(texts),
    }


#: output schema of office_extract — one row per input document
OFFICE_SCHEMA = (
    "source_id bigint, kind string, n_parts int, n_units bigint, "
    "n_numeric bigint, title string, text string, parse_ok boolean"
)


def office_extract(
    docs: DataFrame, id_col: str = "source_id", payload_col: str = "payload"
) -> DataFrame:
    """DOCX/XLSX payloads → one extraction row each (OFFICE_SCHEMA):
    ``kind`` docx|xlsx routed on the members present, ``n_units`` is
    paragraphs (docx) or string cells (xlsx), ``n_parts`` the member
    count.  Malformed/encrypted/foreign payloads degrade to ONE
    parse_ok=false row.  Scale: Arrow-batched narrow map, no
    shuffle."""
    import pandas as pd

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for sid, p in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(p) if p is not None else b""
                try:
                    parts = _members(raw)
                    if "word/document.xml" in parts:
                        d = docx_text(raw)
                        rows.append((int(sid), "docx", len(parts),
                                     d["n_paragraphs"], 0, d["title"],
                                     d["text"], True))
                    elif any(k.startswith("xl/") for k in parts):
                        x = xlsx_cells(raw)
                        rows.append((int(sid), "xlsx", len(parts),
                                     x["n_shared"] + x["n_inline"],
                                     x["n_numeric"], None, x["text"], True))
                    else:
                        raise ValueError("ooxml: neither word/ nor xl/ parts")
                except OOXML_ERRORS:
                    rows.append((int(sid), None, 0, 0, 0, None, None, False))
            yield pd.DataFrame(
                rows,
                columns=["source_id", "kind", "n_parts", "n_units",
                         "n_numeric", "title", "text", "parse_ok"],
            )

    return docs.mapInPandas(_extract, OFFICE_SCHEMA)


# -- writer twins (fixtures + deterministic synthesis) -------------------------
#
# Written with the STDLIB zipfile (not our reader's code), so every
# registry/test round-trip is a standing independent anchor for the
# from-scratch zip walk — the same argument as pipe_archive_ingest's
# stdlib-written fixtures.


def _xml_escape(s: str) -> str:
    from xml.sax.saxutils import escape

    return escape(s)


def build_docx(
    paragraphs: list[str],
    title: str | None = None,
    creator: str | None = None,
) -> bytes:
    """Minimal valid WordprocessingML package: [Content_Types].xml,
    _rels/.rels, word/document.xml, docProps/core.xml — always four
    parts, so member counts are deterministic for the oracle."""
    import io
    import zipfile

    body = "".join(
        f'<w:p><w:r><w:t xml:space="preserve">{_xml_escape(p)}</w:t>'
        "</w:r></w:p>"
        for p in paragraphs
    )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        f"{body}</w:body></w:document>"
    )
    core = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/'
        'package/2006/metadata/core-properties" '
        'xmlns:dc="http://purl.org/dc/elements/1.1/">'
        + (f"<dc:title>{_xml_escape(title)}</dc:title>" if title else "")
        + (f"<dc:creator>{_xml_escape(creator)}</dc:creator>"
           if creator else "")
        + "</cp:coreProperties>"
    )
    ctypes = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.wordprocessingml.document.'
        'main+xml"/></Types>'
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships"><Relationship Id="rId1" Type="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships/'
        'officeDocument" Target="word/document.xml"/></Relationships>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ctypes)
        z.writestr("_rels/.rels", rels)
        z.writestr("word/document.xml", document)
        z.writestr("docProps/core.xml", core)
    return buf.getvalue()


def _col_ref(col: int) -> str:
    out = ""
    col += 1
    while col:
        col, r = divmod(col - 1, 26)
        out = chr(65 + r) + out
    return out


def build_xlsx(
    sheets: list[list[list]],
    inline_from_sheet: int = 10**9,
) -> bytes:
    """Minimal SpreadsheetML package.  ``sheets`` is a list of sheets,
    each a list of rows, each a list of cell values — str cells write
    as shared strings (occurrence order, duplicates kept so index i
    maps to the i-th string cell) except on sheet indices ≥
    ``inline_from_sheet``, which write inline strings; int/float
    cells write as numeric.  Parts: [Content_Types].xml, _rels/.rels,
    xl/workbook.xml, xl/sharedStrings.xml (only when a shared string
    exists), one part per sheet — deterministic member counts."""
    import io
    import zipfile

    shared: list[str] = []
    sheet_xmls: list[str] = []
    for si, rows in enumerate(sheets):
        rows_xml = []
        for ri, row in enumerate(rows):
            cells = []
            for ci, v in enumerate(row):
                ref = f"{_col_ref(ci)}{ri + 1}"
                if isinstance(v, str):
                    if si >= inline_from_sheet:
                        cells.append(
                            f'<c r="{ref}" t="inlineStr"><is>'
                            f'<t xml:space="preserve">{_xml_escape(v)}</t>'
                            "</is></c>"
                        )
                    else:
                        cells.append(
                            f'<c r="{ref}" t="s"><v>{len(shared)}</v></c>'
                        )
                        shared.append(v)
                else:
                    cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            rows_xml.append(f'<row r="{ri + 1}">{"".join(cells)}</row>')
        sheet_xmls.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>'
            f'{"".join(rows_xml)}</sheetData></worksheet>'
        )
    ss_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
        f'2006/main" count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(
            f'<si><t xml:space="preserve">{_xml_escape(s)}</t></si>'
            for s in shared
        )
        + "</sst>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheets>'
        + "".join(
            f'<sheet name="Sheet{i + 1}" sheetId="{i + 1}"/>'
            for i in range(len(sheets))
        )
        + "</sheets></workbook>"
    )
    ctypes = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        "</Types>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships"><Relationship Id="rId1" Type="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships/'
        'officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ctypes)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/workbook.xml", workbook)
        if shared:
            z.writestr("xl/sharedStrings.xml", ss_xml)
        for i, x in enumerate(sheet_xmls):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", x)
    return buf.getvalue()
