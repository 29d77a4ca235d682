"""EXIF metadata — extraction, injection, and stripping.  Pure stdlib,
apart from the JPEG marker walker shared with ``imagelibs.decode_jpeg``.

EXIF is the provenance/PII layer of crawled images: camera make and
model, capture timestamps, orientation, and — the privacy-relevant
part — GPS coordinates.  A training-data image pipeline needs all
three verbs: EXTRACT (route/filter/dedup by provenance), and STRIP
(scrub location data before training), with INJECT as the fixture
twin.  The grammar is the public TIFF 6.0 IFD structure (Exif 2.3 tag
set) carried in a JPEG APP1 segment, a PNG ``eXIf`` chunk, a WebP
``EXIF`` chunk, or natively in a TIFF's IFD0.

The reference engine has no image surface at all (extension component
— SURVEY.md pipeline ops); built from the published TIFF/Exif specs,
the same from-scratch precedent as operators/tiff.py, and validated
by round-trips through the engine's own JPEG/PNG/TIFF encoders plus
degradation tests on real container files (tests/test_exif.py).
"""

from __future__ import annotations

import struct

from impala_cut_spark.operators.imagelibs import jpeg_segments

__all__ = ["exif_metadata", "build_exif_segment", "insert_exif",
           "strip_exif", "parse_exif_tiff"]

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}

#: IFD0 / Exif-IFD / GPS-IFD tags the prune stage reads
_TAG_MAKE = 0x010F
_TAG_MODEL = 0x0110
_TAG_ORIENTATION = 0x0112
_TAG_SOFTWARE = 0x0131
_TAG_DATETIME = 0x0132
_TAG_EXIF_IFD = 0x8769
_TAG_GPS_IFD = 0x8825
_TAG_DT_ORIGINAL = 0x9003
_GPS_LAT_REF = 1
_GPS_LAT = 2
_GPS_LON_REF = 3
_GPS_LON = 4


def _read_ifd(d: bytes, bo: str, off: int) -> dict[int, tuple[int, list]]:
    """One IFD → {tag: (type, values)}; ASCII → str, RATIONAL →
    float, integers → int."""
    if off + 2 > len(d):
        raise ValueError("exif: IFD offset out of range")
    (n,) = struct.unpack_from(bo + "H", d, off)
    out: dict[int, tuple[int, list]] = {}
    for i in range(n):
        base = off + 2 + i * 12
        if base + 12 > len(d):
            raise ValueError("exif: truncated IFD entry")
        tag, typ, cnt = struct.unpack_from(bo + "HHI", d, base)
        size = _TYPE_SIZE.get(typ, 1) * cnt
        vpos = base + 8
        if size > 4:
            (vpos,) = struct.unpack_from(bo + "I", d, base + 8)
            if vpos + size > len(d):
                continue  # clipped value: skip the tag, keep the rest
        vals: list
        if typ == 2:  # ASCII, NUL-terminated
            raw = d[vpos : vpos + cnt]
            vals = [raw.split(b"\x00")[0].decode("ascii", "replace")]
        elif typ == 3:
            vals = list(struct.unpack_from(bo + f"{cnt}H", d, vpos))
        elif typ == 4:
            vals = list(struct.unpack_from(bo + f"{cnt}I", d, vpos))
        elif typ == 5:  # unsigned rational
            vals = []
            for k in range(cnt):
                num, den = struct.unpack_from(bo + "II", d, vpos + 8 * k)
                vals.append(num / den if den else 0.0)
        elif typ == 1 or typ == 7:
            vals = list(d[vpos : vpos + cnt])
        else:
            vals = [d[vpos : vpos + size]]
        out[tag] = (typ, vals)
    return out


def parse_exif_tiff(data: bytes) -> dict:
    """A TIFF-structured EXIF block → the prune-stage facts."""
    if data[:2] == b"Exif" or data[:6] == b"Exif\x00\x00":
        data = data[6:]
    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        raise ValueError("exif: not a TIFF-structured block")
    bo = "<" if data[:2] == b"II" else ">"
    (magic,) = struct.unpack_from(bo + "H", data, 2)
    if magic != 42:
        raise ValueError("exif: bad TIFF magic")
    (ifd0_off,) = struct.unpack_from(bo + "I", data, 4)
    ifd0 = _read_ifd(data, bo, ifd0_off)

    def first(ifd, tag):
        t = ifd.get(tag)
        return t[1][0] if t and t[1] else None

    out = {
        "make": first(ifd0, _TAG_MAKE),
        "model": first(ifd0, _TAG_MODEL),
        "software": first(ifd0, _TAG_SOFTWARE),
        "datetime": first(ifd0, _TAG_DATETIME),
        "orientation": first(ifd0, _TAG_ORIENTATION),
        "has_gps": False,
        "gps_lat": None,
        "gps_lon": None,
    }
    exif_off = first(ifd0, _TAG_EXIF_IFD)
    if isinstance(exif_off, int):
        sub = _read_ifd(data, bo, exif_off)
        dto = first(sub, _TAG_DT_ORIGINAL)
        if dto and not out["datetime"]:
            out["datetime"] = dto
    gps_off = first(ifd0, _TAG_GPS_IFD)
    if isinstance(gps_off, int):
        gps = _read_ifd(data, bo, gps_off)
        lat = gps.get(_GPS_LAT)
        lon = gps.get(_GPS_LON)
        out["has_gps"] = bool(gps)
        if lat and len(lat[1]) == 3:
            d_, m, s = lat[1]
            v = d_ + m / 60.0 + s / 3600.0
            ref = gps.get(_GPS_LAT_REF)
            if ref and ref[1] and str(ref[1][0]).upper().startswith("S"):
                v = -v
            out["gps_lat"] = round(v, 6)
        if lon and len(lon[1]) == 3:
            d_, m, s = lon[1]
            v = d_ + m / 60.0 + s / 3600.0
            ref = gps.get(_GPS_LON_REF)
            if ref and ref[1] and str(ref[1][0]).upper().startswith("W"):
                v = -v
            out["gps_lon"] = round(v, 6)
    return out


def exif_metadata(payload: bytes) -> dict:
    """Container-routing front end: JPEG APP1, PNG eXIf, WebP EXIF
    chunk, or a bare TIFF.  Returns the parse_exif_tiff facts plus
    ``container``; files WITHOUT an EXIF block return the same shape
    with every field None/False (absence is a fact, not an error)."""
    empty = {"make": None, "model": None, "software": None,
             "datetime": None, "orientation": None, "has_gps": False,
             "gps_lat": None, "gps_lon": None}
    if payload[:2] == b"\xff\xd8":
        for marker, s, e in jpeg_segments(payload):
            if marker == 0xE1 and payload[s + 4 : s + 10] == b"Exif\x00\x00":
                return {"container": "jpeg", **parse_exif_tiff(payload[s + 10 : e])}
        return {"container": "jpeg", **empty}
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        pos = 8
        while pos + 8 <= len(payload):
            (ln,) = struct.unpack_from(">I", payload, pos)
            typ = payload[pos + 4 : pos + 8]
            if typ == b"eXIf":
                return {"container": "png",
                        **parse_exif_tiff(payload[pos + 8 : pos + 8 + ln])}
            pos += 12 + ln
        return {"container": "png", **empty}
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        pos = 12
        while pos + 8 <= len(payload):
            (ln,) = struct.unpack_from("<I", payload, pos + 4)
            if payload[pos : pos + 4] == b"EXIF":
                return {"container": "webp",
                        **parse_exif_tiff(payload[pos + 8 : pos + 8 + ln])}
            pos += 8 + ln + (ln & 1)
        return {"container": "webp", **empty}
    if payload[:2] in (b"II", b"MM"):
        return {"container": "tiff", **parse_exif_tiff(payload)}
    raise ValueError("exif: unsupported container")


def build_exif_segment(
    make: str | None = None,
    model: str | None = None,
    software: str | None = None,
    datetime_str: str | None = None,
    orientation: int | None = None,
    gps: tuple[float, float] | None = None,
) -> bytes:
    """A TIFF-structured EXIF block (little-endian IFD0 [+ GPS IFD]) —
    the fixture twin of parse_exif_tiff."""
    entries: list[tuple[int, int, int, bytes]] = []  # tag, type, count, raw
    extra = bytearray()

    def ascii_tag(tag: int, s: str) -> None:
        raw = s.encode("ascii") + b"\x00"
        entries.append((tag, 2, len(raw), raw))

    if make is not None:
        ascii_tag(_TAG_MAKE, make)
    if model is not None:
        ascii_tag(_TAG_MODEL, model)
    if orientation is not None:
        entries.append((_TAG_ORIENTATION, 3, 1, struct.pack("<H", orientation)))
    if software is not None:
        ascii_tag(_TAG_SOFTWARE, software)
    if datetime_str is not None:
        ascii_tag(_TAG_DATETIME, datetime_str)

    # layout: header(8) + IFD0 (entries + GPS pointer) + IFD0 value
    # area + GPS IFD + GPS value area
    n0 = len(entries) + (1 if gps is not None else 0)
    data_off = 8 + 2 + n0 * 12 + 4

    def pack_entries(ents, off):
        body = bytearray()
        extra = bytearray()
        for tag, typ, cnt, raw in sorted(ents):
            body += struct.pack("<HHI", tag, typ, cnt)
            if len(raw) <= 4:
                body += raw + b"\x00" * (4 - len(raw))
            else:
                body += struct.pack("<I", off + len(extra))
                extra += raw
        return bytes(body), bytes(extra)

    ents = list(entries)
    if gps is not None:
        _, extra_probe = pack_entries(ents, data_off)
        gps_off = data_off + len(extra_probe)
        ents.append((_TAG_GPS_IFD, 4, 1, struct.pack("<I", gps_off)))
    body, extra1 = pack_entries(ents, data_off)
    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", n0) + body + struct.pack("<I", 0) + extra1
    if gps is not None:
        g_entries = [
            (_GPS_LAT_REF, 2, 2, (b"S" if gps[0] < 0 else b"N") + b"\x00"),
            (_GPS_LAT, 5, 3, _rat3(gps[0])),
            (_GPS_LON_REF, 2, 2, (b"W" if gps[1] < 0 else b"E") + b"\x00"),
            (_GPS_LON, 5, 3, _rat3(gps[1])),
        ]
        g_data_off = len(out) + 2 + len(g_entries) * 12 + 4
        gbody, gextra = pack_entries(g_entries, g_data_off)
        out += struct.pack("<H", len(g_entries)) + gbody
        out += struct.pack("<I", 0) + gextra
    return b"Exif\x00\x00" + bytes(out)


def _rat3(v: float) -> bytes:
    # exact decomposition of the value rounded to 1e-4 arc-seconds —
    # float truncation via int() could otherwise drop a whole minute
    # when v = d + m/60 lands just under the binary representation
    ts = round(abs(v) * 3600 * 10000)  # 1e-4 arc-second units
    d, rem = divmod(ts, 3600 * 10000)
    m, s = divmod(rem, 60 * 10000)
    return struct.pack("<IIIIII", d, 1, m, 1, s, 10000)


def insert_exif(payload: bytes, exif_segment: bytes) -> bytes:
    """Splice an EXIF block into a JPEG (APP1 after SOI) or PNG
    (eXIf chunk after IHDR)."""
    if payload[:2] == b"\xff\xd8":
        seg = b"\xff\xe1" + struct.pack(">H", len(exif_segment) + 2) + exif_segment
        return payload[:2] + seg + payload[2:]
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        body = exif_segment[6:] if exif_segment[:6] == b"Exif\x00\x00" else exif_segment
        import zlib as _z

        chunk = struct.pack(">I", len(body)) + b"eXIf" + body
        chunk += struct.pack(">I", _z.crc32(chunk[4:]) & 0xFFFFFFFF)
        ihdr_end = 8 + 8 + 13 + 4
        return payload[:ihdr_end] + chunk + payload[ihdr_end:]
    raise ValueError("exif: can only inject into JPEG or PNG")


def strip_exif(payload: bytes) -> bytes:
    """Remove EXIF blocks — the privacy-scrub step before training on
    crawled images (GPS coordinates live here).  JPEG: drop Exif APP1
    segments; PNG: drop eXIf chunks; WebP: drop EXIF chunks; other
    containers pass through unchanged."""
    if payload[:2] == b"\xff\xd8":
        out = bytearray(b"\xff\xd8")
        last = 2
        for marker, s, e in jpeg_segments(payload):
            if marker == 0xE1 and payload[s + 4 : s + 10] == b"Exif\x00\x00":
                out += payload[last:s]
                last = e
        out += payload[last:]
        return bytes(out)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        out = bytearray(payload[:8])
        pos = 8
        while pos + 8 <= len(payload):
            (ln,) = struct.unpack_from(">I", payload, pos)
            typ = payload[pos + 4 : pos + 8]
            end = pos + 12 + ln
            if typ != b"eXIf":
                out += payload[pos:end]
            pos = end
        return bytes(out)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        out = bytearray(payload[:12])
        pos = 12
        while pos + 8 <= len(payload):
            (ln,) = struct.unpack_from("<I", payload, pos + 4)
            end = pos + 8 + ln + (ln & 1)
            if payload[pos : pos + 4] != b"EXIF":
                out += payload[pos:end]
            pos = end
        struct.pack_into("<I", out, 4, len(out) - 8)
        return bytes(out)
    return payload
