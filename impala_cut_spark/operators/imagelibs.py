"""PNG, GIF, TIFF and JPEG decode through the system's libpng, libgif,
libtiff and libjpeg.

``libpng16.so.16``, ``libgif.so.7`` (giflib 5.2), ``libtiff.so.6`` and
``libgd.so.3`` (gd 2.3, for its libjpeg read) are runtime dependencies,
like ``libwebp.so.7`` (``vp8l._libwebp``).  Each is dlopened once per
process by its loader (``_libpng``, ``_libgif``, ``_libtiff``,
``_libgd``), the only place it is loaded.  A payload a library rejects
raises ValueError, which the multimodal operators degrade; a missing
library raises OSError, which they do not, so the query fails instead
of turning every image into byte features.  Headers declaring more
than ``MAX_PIXELS`` are refused with ValueError before any raster is
allocated.  All four decode to ``decode_image``'s (H, W, 3) uint8 RGB,
alpha dropped:

- **PNG** through libpng's simplified API only: it catches libpng's
  errors inside the library, where the classic API's ``longjmp`` cannot
  cross ctypes.  Colour-space chunks are ignored: 8-bit samples come
  back as stored, 16-bit ones as ``(v + 128) // 257`` (see ``_rewrite``;
  in 16-bit Adam7 images with alpha, within 1 of that where the alpha
  is at least 129 of 65535).
- **GIF** through giflib's record reader, with the structs of giflib
  5.2 declared here (``gif_lib.h`` is not installed).  Each image
  descriptor is checked against the logical screen before its raster
  is allocated.  GIF89a disposal and composition stay in Python.  A
  missing 0x3B trailer is tolerated.
- **TIFF** through ``TIFFClientOpen`` over the bytes and
  ``TIFFReadRGBAImageOriented``, first directory only.  Unassociated
  alpha is read as associated, so colour samples are not premultiplied;
  16-bit gray reduces to its high byte.  libtiff prints nothing to
  stderr: its error handler is cleared, and a warning while the raster
  is read (the codecs only warn on some corrupt data) raises ValueError,
  except the one that precedes a correct decode of an 8-bit colormap.
- **JPEG** through libgd's ``gdImageCreateFromJpegPtrEx``, which wraps
  libjpeg's ``longjmp`` error exit in its own ``setjmp`` and returns
  NULL, with gd 2.3's image struct declared here (``gd.h`` is not
  installed).  Every libjpeg warning (a truncated file, corrupt entropy
  data) reaches libgd's error method and raises ValueError.

Library messages are formatted from their ``va_list`` by libc's
``vsnprintf``.  Impala, too, links codec libraries rather than writing
its own.
"""

from __future__ import annotations

import ctypes
import struct
import threading
import zlib

import numpy as np

__all__ = ["MAX_PIXELS", "decode_gif", "decode_gif_frames", "decode_jpeg", "decode_png",
           "decode_tiff", "jpeg_segments"]

#: largest width × height a header may declare: WebP's 16383² ceiling
MAX_PIXELS = 16383 * 16383

_int, _bool, _ptr = ctypes.c_int, ctypes.c_bool, ctypes.c_void_p


def _check_size(w: int, h: int, fmt: str) -> None:
    if w * h > MAX_PIXELS:
        raise ValueError(f"{fmt}: {w}x{h} exceeds the {MAX_PIXELS}-pixel limit")


_vsnprintf = ctypes.CDLL(None).vsnprintf  # libc's, already in the process
_vsnprintf.argtypes = [ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p, _ptr]


def _vformat(fmt: bytes, args) -> str:
    """A library message handler's printf format and ``va_list``
    (passed on as the pointer the handler received) → the message."""
    buf = ctypes.create_string_buffer(512)
    _vsnprintf(buf, len(buf), fmt, args)
    return buf.value.decode(errors="replace").strip()


# -- PNG: libpng's simplified read API -----------------------------------------


class _PngImage(ctypes.Structure):
    """png_image (png.h, PNG_IMAGE_VERSION 1)."""

    _fields_ = [("opaque", _ptr)] + [
        (name, ctypes.c_uint32) for name in ("version", "width", "height", "format",
                                             "flags", "colormap_entries", "warning_or_error")
    ] + [("message", ctypes.c_char * 64)]


_PNG_IMAGE_VERSION = 1
_PNG_ALPHA, _PNG_RGB, _PNG_LINEAR = 0x01, 0x02, 0x04  # PNG_FORMAT_FLAG_*
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: colour-space chunks, and tRNS, whose alpha is dropped anyway
_IGNORED_CHUNKS = (b"gAMA", b"cHRM", b"iCCP", b"sRGB", b"tRNS")
#: sRGB chunk, rendering intent 0
_SRGB_CHUNK = (
    struct.pack(">I", 1) + b"sRGB\x00" + struct.pack(">I", zlib.crc32(b"sRGB\x00"))
)

_LIBPNG = None


def _libpng():
    """The process's libpng handle, dlopened on first use.  OSError
    when the library is absent."""
    global _LIBPNG
    if _LIBPNG is None:
        lp = ctypes.CDLL("libpng16.so.16")
        image = ctypes.POINTER(_PngImage)
        lp.png_image_begin_read_from_memory.argtypes = [image, ctypes.c_char_p, ctypes.c_size_t]
        lp.png_image_finish_read.argtypes = [image, _ptr, _ptr, ctypes.c_int32, _ptr]
        lp.png_image_free.argtypes = [image]
        lp.png_image_free.restype = None
        _LIBPNG = lp
    return _LIBPNG


def _rewrite(payload: bytes) -> tuple[bytes, int]:
    """The PNG without its colour-space and tRNS chunks, and the
    png_image format to read it in.  8-bit reads get one sRGB chunk
    after IHDR, so libpng returns the stored samples (16-bit ones as
    ``(v + 128) // 257``); images with an alpha channel read with alpha,
    so libpng does not composite them.  libpng 1.6's 8-bit read of a
    16-bit Adam7 image returns wrong pixels in passes 1-6, so those read
    as 16-bit linear samples: with no colour-space chunk they come back
    as stored, premultiplied by alpha if there is one.  A chunk that
    runs past the end raises ValueError; what follows IEND is dropped."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("png: not a PNG payload")
    out = [_PNG_SIG]
    fmt = _PNG_RGB
    pos = 8
    while pos < len(payload):
        end = pos + 12 + int.from_bytes(payload[pos : pos + 4], "big")
        if end > len(payload):
            raise ValueError("png: chunk runs past the end of the payload")
        typ = payload[pos + 4 : pos + 8]
        if typ not in _IGNORED_CHUNKS:
            out.append(payload[pos:end])
        if typ == b"IHDR":
            # width, height, bit depth, colour type, ..., interlace
            ihdr = payload[pos + 8 : end - 4]
            if ihdr[9:10] in (b"\x04", b"\x06"):  # gray+alpha, RGBA
                fmt |= _PNG_ALPHA
            if ihdr[8:9] == b"\x10" and ihdr[12:13] == b"\x01":
                fmt |= _PNG_LINEAR
            else:
                out.append(_SRGB_CHUNK)
        elif typ == b"IEND":
            break
        pos = end
    return b"".join(out), fmt


def decode_png(payload: bytes) -> np.ndarray:
    """PNG → (H, W, 3) uint8 via libpng: every colour type and bit
    depth, Adam7 interlace; alpha dropped."""
    lp = _libpng()
    data, fmt = _rewrite(payload)
    image = _PngImage(version=_PNG_IMAGE_VERSION)
    try:
        if not lp.png_image_begin_read_from_memory(ctypes.byref(image), data, len(data)):
            raise ValueError(f"png: {image.message.decode(errors='replace')}")
        _check_size(image.width, image.height, "png")
        image.format = fmt
        out = np.empty((image.height, image.width, 4 if fmt & _PNG_ALPHA else 3),
                       np.uint16 if fmt & _PNG_LINEAR else np.uint8)
        if not lp.png_image_finish_read(ctypes.byref(image), None, out.ctypes.data, 0, None):
            raise ValueError(f"png: {image.message.decode(errors='replace')}")
    finally:
        lp.png_image_free(ctypes.byref(image))
    if fmt & _PNG_LINEAR:
        v = out[..., :3].astype(np.float64)
        if fmt & _PNG_ALPHA:  # un-premultiply; colour under alpha 0 reads 0
            v = np.rint(v * 65535 / np.maximum(out[..., 3:], 1))
        return ((v + 128) // 257).astype(np.uint8)
    return np.ascontiguousarray(out[..., :3]) if fmt & _PNG_ALPHA else out


# -- GIF: giflib 5.2's record reader -------------------------------------------
#
# giflib 5.2's declarations from gif_lib.h, which is not installed
# (tests/test_imagelibs.py pins the layout against decoded headers).


class _ColorMapObject(ctypes.Structure):
    _fields_ = [("ColorCount", _int), ("BitsPerPixel", _int), ("SortFlag", _bool),
                ("Colors", ctypes.POINTER(ctypes.c_ubyte))]  # {R, G, B} triples


class _GifImageDesc(ctypes.Structure):
    _fields_ = [("Left", _int), ("Top", _int), ("Width", _int), ("Height", _int),
                ("Interlace", _bool), ("ColorMap", ctypes.POINTER(_ColorMapObject))]


class _GifFileType(ctypes.Structure):  # up to Error, the last field read
    _fields_ = [("SWidth", _int), ("SHeight", _int), ("SColorResolution", _int),
                ("SBackGroundColor", _int), ("AspectByte", ctypes.c_ubyte),
                ("SColorMap", ctypes.POINTER(_ColorMapObject)), ("ImageCount", _int),
                ("Image", _GifImageDesc), ("SavedImages", _ptr),
                ("ExtensionBlockCount", _int), ("ExtensionBlocks", _ptr), ("Error", _int)]


_GIF_INPUT = ctypes.CFUNCTYPE(_int, ctypes.POINTER(_GifFileType),
                              ctypes.POINTER(ctypes.c_ubyte), _int)
_GIF_OK = 1
_IMAGE_RECORD, _EXTENSION_RECORD, _TERMINATE_RECORD = 2, 3, 4  # GifRecordType
_GCE_LABEL = 0xF9  # Graphic Control Extension


def _gif_error(lg, code: int) -> ValueError:
    msg = lg.GifErrorString(code)  # NULL for codes giflib does not name
    return ValueError(f"gif: {msg.decode() if msg else 'rejected payload'}")


_LIBGIF = None


def _libgif():
    """The process's giflib handle, dlopened on first use.  OSError
    when the library is absent."""
    global _LIBGIF
    if _LIBGIF is None:
        lg = ctypes.CDLL("libgif.so.7")
        gif, out = ctypes.POINTER(_GifFileType), ctypes.c_void_p
        lg.DGifOpen.restype = gif
        lg.DGifOpen.argtypes = [_ptr, _GIF_INPUT, out]
        for fn, args in ((lg.DGifGetRecordType, [out]), (lg.DGifGetImageDesc, []),
                         (lg.DGifGetLine, [_ptr, _int]), (lg.DGifGetExtension, [out, out]),
                         (lg.DGifGetExtensionNext, [out]), (lg.DGifCloseFile, [out])):
            fn.argtypes = [gif, *args]
        lg.GifErrorString.restype = ctypes.c_char_p
        lg.GifErrorString.argtypes = [_int]
        _LIBGIF = lg
    return _LIBGIF


def _colors(cmap) -> np.ndarray | None:
    if not cmap:
        return None
    n = cmap.contents.ColorCount
    return np.ctypeslib.as_array(cmap.contents.Colors, shape=(n, 3)).copy()


def _gif_images(payload: bytes):
    """Read a GIF record by record → (screen width, height, background
    index, global colour table, [image]), each image a dict of its
    rectangle, (h, w, 3) RGB, opaque mask and Graphic Control Extension
    fields.  ValueError when an image has no colour table or leaves the
    logical screen, before its raster is allocated."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: not a GIF payload")
    lg = _libgif()
    # giflib stops at the first trailer, so one more is only ever read
    # when the payload lacks its own
    data = payload + b";"
    pos = 0

    @_GIF_INPUT
    def read(_gif, buf, n):
        nonlocal pos
        chunk = data[pos : pos + n]
        ctypes.memmove(buf, chunk, len(chunk))
        pos += len(chunk)
        return len(chunk)

    err = ctypes.c_int()
    gif = lg.DGifOpen(None, read, ctypes.byref(err))
    if not gif:
        raise _gif_error(lg, err.value)
    try:
        g = gif.contents
        sw, sh = g.SWidth, g.SHeight
        _check_size(sw, sh, "gif")
        gct = _colors(g.SColorMap)
        images, gce = [], None
        record, label, block = _int(), _int(), ctypes.POINTER(ctypes.c_ubyte)()
        while True:
            if lg.DGifGetRecordType(gif, ctypes.byref(record)) != _GIF_OK:
                raise _gif_error(lg, g.Error)
            if record.value == _TERMINATE_RECORD:
                return sw, sh, g.SBackGroundColor, gct, images
            if record.value == _EXTENSION_RECORD:
                ok = lg.DGifGetExtension(gif, ctypes.byref(label), ctypes.byref(block))
                if ok == _GIF_OK and label.value == _GCE_LABEL and block and block[0] == 4:
                    # packed fields, delay, transparent index
                    gce = gce or (block[1], block[2] | block[3] << 8, block[4])
                while ok == _GIF_OK and block:
                    ok = lg.DGifGetExtensionNext(gif, ctypes.byref(block))
                if ok != _GIF_OK:
                    raise _gif_error(lg, g.Error)
                continue
            if record.value != _IMAGE_RECORD or lg.DGifGetImageDesc(gif) != _GIF_OK:
                raise _gif_error(lg, g.Error)
            d = g.Image
            ct = _colors(d.ColorMap) if d.ColorMap else gct
            if ct is None:
                raise ValueError("gif: image with no color table")
            if not (d.Width and d.Height) or d.Top + d.Height > sh or d.Left + d.Width > sw:
                raise ValueError("gif: frame is empty or exceeds logical screen")
            index = np.empty((d.Height, d.Width), np.uint8)
            if lg.DGifGetLine(gif, index.ctypes.data, index.size) != _GIF_OK:
                raise _gif_error(lg, g.Error)
            if d.Interlace:  # rows stored in the four GIF89a passes
                h = d.Height
                index[[*range(0, h, 8), *range(4, h, 8), *range(2, h, 4),
                       *range(1, h, 2)]] = index.copy()
            flags, delay, transparent = gce or (0, 0, 0)
            images.append({
                "x": d.Left, "y": d.Top, "w": d.Width, "h": d.Height,
                "rgb": np.take(ct, index, axis=0, mode="clip"),
                "opaque": index != transparent if flags & 1 else np.ones(index.shape, bool),
                "delay": delay, "disposal": flags >> 2 & 7,
            })
            gce = None
    finally:
        lg.DGifCloseFile(gif, ctypes.byref(err))


def decode_gif(payload: bytes) -> np.ndarray:
    """GIF87a/89a → (H, W, 3) uint8 RGB of the FIRST image, painted on
    the logical screen filled with the background colour."""
    sw, sh, bg, gct, images = _gif_images(payload)
    im = images[0]
    screen = np.zeros((sh, sw, 3), dtype=np.uint8)
    if gct is not None and bg < len(gct):
        screen[:, :] = gct[bg]
    screen[im["y"] : im["y"] + im["h"], im["x"] : im["x"] + im["w"]] = im["rgb"]
    return screen


def decode_gif_frames(payload: bytes) -> list[tuple[np.ndarray, int]]:
    """GIF87a/89a animation → [(composited RGBA canvas, delay in
    centiseconds)], one per image, per the GIF89a composition rules:
    the logical screen starts fully transparent; each frame paints its
    rectangle skipping the Graphic Control Extension's transparent
    index; disposal 0/1 keeps the canvas, 2 clears the frame rectangle
    back to transparent AFTER display (the de-facto renderer behavior —
    the spec's background fill predates transparency), 3 restores the
    pre-frame canvas."""
    sw, sh, _bg, _gct, images = _gif_images(payload)
    canvas = np.zeros((sh, sw, 4), dtype=np.uint8)
    frames: list[tuple[np.ndarray, int]] = []
    for im in images:
        saved = canvas.copy() if im["disposal"] == 3 else None
        region = canvas[im["y"] : im["y"] + im["h"], im["x"] : im["x"] + im["w"]]
        opaque = im["opaque"]
        region[..., :3] = np.where(opaque[..., None], im["rgb"], region[..., :3])
        region[..., 3] = np.where(opaque, 255, region[..., 3])
        frames.append((canvas.copy(), im["delay"]))
        if im["disposal"] == 2:
            region[:] = 0
        elif saved is not None:
            canvas = saved
    return frames


# -- TIFF: libtiff over the bytes in memory ------------------------------------

_TIFF_READ = ctypes.CFUNCTYPE(ctypes.c_ssize_t, _ptr, _ptr, ctypes.c_ssize_t)
_TIFF_SEEK = ctypes.CFUNCTYPE(ctypes.c_uint64, _ptr, ctypes.c_uint64, _int)
_TIFF_CLOSE = ctypes.CFUNCTYPE(_int, _ptr)
_TIFF_SIZE = ctypes.CFUNCTYPE(ctypes.c_uint64, _ptr)
_IMAGEWIDTH, _IMAGELENGTH, _EXTRASAMPLES = 256, 257, 338  # TIFFTAG_*
_ASSOCALPHA, _UNASSALPHA = 1, 2  # EXTRASAMPLE_*
_ORIENTATION_TOPLEFT = 1
#: TIFFErrorHandler: module, printf format, va_list
_TIFF_HANDLER = ctypes.CFUNCTYPE(None, ctypes.c_char_p, ctypes.c_char_p, _ptr)
#: warnings libtiff gives before decoding the raster correctly
_BENIGN_TIFF_WARNINGS = ("Assuming 8-bit colormap",)
_tiff_warning = threading.local()


@_TIFF_HANDLER
def _note_warning(module, fmt, args):
    """libtiff's warning handler: keep the calling thread's first
    warning since ``decode_tiff`` reset it, benign ones aside."""
    msg = _vformat(fmt, args)
    if msg not in _BENIGN_TIFF_WARNINGS and getattr(_tiff_warning, "msg", None) is None:
        _tiff_warning.msg = f"{(module or b'').decode(errors='replace')}: {msg}"


_LIBTIFF = None


def _libtiff():
    """The process's libtiff handle, dlopened on first use, with its
    error handler cleared and ``_note_warning`` as its warning handler.
    OSError when the library is absent."""
    global _LIBTIFF
    if _LIBTIFF is None:
        lt = ctypes.CDLL("libtiff.so.6")
        for setter, handler in ((lt.TIFFSetErrorHandler, _TIFF_HANDLER()),
                                (lt.TIFFSetWarningHandler, _note_warning)):
            setter.restype = _ptr
            setter.argtypes = [_TIFF_HANDLER]
            setter(handler)  # a NULL handler prints nothing
        lt.TIFFClientOpen.restype = _ptr
        lt.TIFFClientOpen.argtypes = [
            ctypes.c_char_p, ctypes.c_char_p, _ptr, _TIFF_READ, _TIFF_READ,
            _TIFF_SEEK, _TIFF_CLOSE, _TIFF_SIZE, _ptr, _ptr]  # no map procs
        lt.TIFFRGBAImageOK.argtypes = [_ptr, ctypes.c_char_p]
        u32 = ctypes.c_uint32
        lt.TIFFReadRGBAImageOriented.argtypes = [_ptr, u32, u32, _ptr, _int, _int]
        lt.TIFFClose.argtypes = [_ptr]
        lt.TIFFClose.restype = None
        _LIBTIFF = lt
    return _LIBTIFF


def decode_tiff(payload: bytes) -> np.ndarray:
    """TIFF (first directory) → (H, W, 3) uint8 via libtiff: strips or
    tiles, none/LZW/Deflate/PackBits/CCITT/JPEG compressions, 1- to
    16-bit gray, palette and RGB photometrics; alpha dropped."""
    if payload[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("tiff: not a TIFF payload")
    lt = _libtiff()
    pos = 0

    @_TIFF_READ
    def read(_h, buf, n):
        nonlocal pos
        chunk = payload[pos : pos + n]
        ctypes.memmove(buf, chunk, len(chunk))
        pos += len(chunk)
        return len(chunk)

    @_TIFF_SEEK
    def seek(_h, off, whence):
        nonlocal pos
        pos = off + (0, pos, len(payload))[whence]
        return pos

    procs = (read, _TIFF_READ(lambda _h, _buf, _n: -1), seek,  # no writes
             _TIFF_CLOSE(lambda _h: 0), _TIFF_SIZE(lambda _h: len(payload)))
    tif = lt.TIFFClientOpen(b"payload", b"r", None, *procs, None, None)
    if not tif:
        raise ValueError("tiff: libtiff rejected the header or first directory")
    handle = ctypes.c_void_p(tif)
    try:
        # TIFFGetField/TIFFSetField are variadic: every argument is an
        # explicit ctypes value
        w, h, tag = ctypes.c_uint32(), ctypes.c_uint32(), ctypes.c_uint32
        lt.TIFFGetField(handle, tag(_IMAGEWIDTH), ctypes.byref(w))
        lt.TIFFGetField(handle, tag(_IMAGELENGTH), ctypes.byref(h))
        _check_size(w.value, h.value, "tiff")
        n, info = ctypes.c_uint16(), ctypes.POINTER(ctypes.c_uint16)()
        got = lt.TIFFGetField(handle, tag(_EXTRASAMPLES), ctypes.byref(n), ctypes.byref(info))
        if got and n.value and info[0] == _UNASSALPHA:
            assoc = (ctypes.c_uint16 * n.value)(_ASSOCALPHA, *info[1 : n.value])
            lt.TIFFSetField(handle, tag(_EXTRASAMPLES), _int(n.value), assoc)
        emsg = ctypes.create_string_buffer(1024)
        if not lt.TIFFRGBAImageOK(handle, emsg):
            raise ValueError(f"tiff: {emsg.value.decode(errors='replace')}")
        raster = np.empty((h.value, w.value, 4), np.uint8)  # ABGR uint32, little-endian
        # the codecs only warn on some damage (a fax row overrunning the
        # width, a G4 strip ending early) and decode what they can
        _tiff_warning.msg = None
        ok = lt.TIFFReadRGBAImageOriented(
            handle, w.value, h.value, raster.ctypes.data, _ORIENTATION_TOPLEFT, 1)
        if _tiff_warning.msg is not None:
            raise ValueError(f"tiff: {_tiff_warning.msg}")
        if not ok:
            raise ValueError("tiff: libtiff failed to decode the raster")
    finally:
        lt.TIFFClose(handle)
    return np.ascontiguousarray(raster[..., :3])


# -- JPEG: libjpeg through libgd -----------------------------------------------

#: SOFn markers: every frame type but DHT (C4), JPG (C8) and DAC (CC)
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def jpeg_segments(payload: bytes):
    """Yield (marker, start, end) for each JPEG segment up to SOS; 0xFF
    fill bytes before a marker are skipped (T.81 B.1.1.2).  ValueError
    when the payload lacks SOI or a segment is not followed by a
    marker."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("jpeg: not a JPEG payload")
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("jpeg: bad marker alignment")
        marker = payload[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            yield marker, pos, pos + 2
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        yield marker, pos, pos + 2 + seglen
        if marker == 0xDA:  # SOS: entropy data follows
            return
        pos += 2 + seglen


# gd 2.3's gdImageStruct from gd.h, which is not installed, up to
# tpixels, the last field read (tests/test_imagelibs.py pins the layout
# against decoded pixels)


class _GdImage(ctypes.Structure):
    _fields_ = [("pixels", _ptr), ("sx", _int), ("sy", _int), ("colorsTotal", _int),
                *((name, _int * 256) for name in ("red", "green", "blue", "open")),
                ("transparent", _int), ("polyInts", _ptr), ("polyAllocated", _int),
                ("brush", _ptr), ("tile", _ptr), ("brushColorMap", _int * 256),
                ("tileColorMap", _int * 256), ("styleLength", _int), ("stylePos", _int),
                ("style", _ptr), ("interlace", _int), ("thick", _int),
                ("alpha", _int * 256), ("trueColor", _int),
                ("tpixels", ctypes.POINTER(ctypes.POINTER(ctypes.c_uint32)))]


#: gdErrorMethod: priority, printf format, va_list
_GD_ERROR = ctypes.CFUNCTYPE(None, _int, ctypes.c_char_p, _ptr)
_gd_message = threading.local()


@_GD_ERROR
def _note_gd_message(_priority, fmt, args):
    """libgd's error method: keep the calling thread's first message
    since ``decode_jpeg`` reset it."""
    msg = _vformat(fmt, args)
    if getattr(_gd_message, "msg", None) is None:
        _gd_message.msg = msg


_LIBGD = None


def _libgd():
    """The process's libgd handle, dlopened on first use (it maps
    libjpeg, libheif, libavif and x265: about 4 ms and 7 MB RSS), with
    ``_note_gd_message`` as its error method.  OSError when the library
    is absent."""
    global _LIBGD
    if _LIBGD is None:
        gd = ctypes.CDLL("libgd.so.3")
        gd.gdSetErrorMethod.argtypes = [_GD_ERROR]
        gd.gdSetErrorMethod.restype = None
        gd.gdSetErrorMethod(_note_gd_message)
        image = ctypes.POINTER(_GdImage)
        gd.gdImageCreateFromJpegPtrEx.restype = image
        gd.gdImageCreateFromJpegPtrEx.argtypes = [_int, ctypes.c_char_p, _int]
        gd.gdImageDestroy.argtypes = [image]
        gd.gdImageDestroy.restype = None
        _LIBGD = gd
    return _LIBGD


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG → (H, W, 3) uint8 RGB via libjpeg: baseline, extended,
    progressive and arithmetic-coded frames, any subsampling and scan
    layout; grayscale replicated.  The first frame header is checked
    against ``MAX_PIXELS`` before libjpeg sees the payload."""
    for marker, start, _end in jpeg_segments(payload):
        if marker in _SOF_MARKERS and start + 9 <= len(payload):
            h, w = struct.unpack_from(">HH", payload, start + 5)  # after length, precision
            _check_size(w, h, "jpeg")
            break
    gd = _libgd()
    _gd_message.msg = None
    im = gd.gdImageCreateFromJpegPtrEx(len(payload), payload, 0)  # 0: report warnings
    try:
        if _gd_message.msg is not None:
            raise ValueError(f"jpeg: {_gd_message.msg}")
        if not im:
            raise ValueError("jpeg: libgd rejected the payload")
        g = im.contents
        argb = np.empty((g.sy, g.sx), np.uint32)
        for y in range(g.sy):  # gd allocates each row on its own
            ctypes.memmove(argb[y].ctypes.data, g.tpixels[y], argb.strides[0])
    finally:
        if im:
            gd.gdImageDestroy(im)
    # gdTrueColor packs a pixel as 0xAARRGGBB; the cast keeps the low byte
    return np.dstack([(argb >> shift).astype(np.uint8) for shift in (16, 8, 0)])
