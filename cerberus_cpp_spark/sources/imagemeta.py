"""Container-level image metadata (EXIF, textual chunks) — extract
AND embed, no pixel decode.

Built from public specifications: the EXIF block is a standalone
TIFF-structured byte stream (CIPA DC-008 / TIFF 6.0 — parsed with
the interop-pinned IFD walker in ``tiffcodec``), carried as a JPEG
``APP1`` segment with the ``Exif\\0\\0`` preamble (JEITA/JPEG), a
PNG ``eXIf`` chunk (PNG 1.5 extension), TIFF IFD0 tags in place, or
a WebP ``EXIF`` chunk (RFC 9649). PNG textual metadata: ``tEXt``
(latin-1), ``zTXt`` (deflated latin-1) and ``iTXt`` (UTF-8) chunks.
JPEG extras: ``COM`` comments, ``APP1`` XMP
(``http://ns.adobe.com/xap/1.0/``) and multi-segment ``APP2``
``ICC_PROFILE`` payloads.

Why the validation engine cares (north_star: constraint validation
over image+caption tables): EXIF ``PixelXDimension``/
``PixelYDimension`` and ``Orientation`` are row metadata that must
agree with the container header — a camera/pipeline bug class the
header-only tier can catch in microseconds per row without touching
pixel data. ``operators.image_checks.exif_consistency_violations``
implements that rule; this module is its parsing layer.

Conformance strategy: the EXIF reader is the SAME IFD walker the
TIFF codec pins bit-exactly against Java ImageIO
(``tests/test_tiff_interop.py``); embed→extract roundtrips cover
every writer here, and the JPEG/PNG insertion paths are additionally
pinned to keep the host container decodable by the in-repo codecs
AND by ImageIO (a malformed APP1/chunk would kill the decode).

Formats without a metadata vocabulary in scope: BMP has none; GIF
comment extensions are read (not written). All functions are plain
``bytes -> dict`` so Arrow-batched UDFs can map them per row.
"""

from __future__ import annotations

import struct
import zlib

from .tiffcodec import _read_entries, sniff_tiff

# EXIF / TIFF tag vocabulary used by the consistency checks
TAG_DESCRIPTION = 270
TAG_ORIENTATION = 274
TAG_SOFTWARE = 305
TAG_DATETIME = 306
TAG_EXIF_IFD = 34665
TAG_COMPRESSION = 259
TAG_THUMB_OFFSET = 513   # JPEGInterchangeFormat (IFD1)
TAG_THUMB_LENGTH = 514   # JPEGInterchangeFormatLength
TAG_GPS_IFD = 34853
TAG_PIXEL_X = 40962
TAG_PIXEL_Y = 40963

# GPS IFD tag vocabulary (CIPA DC-008 §4.6.6)
GPS_TAG_LAT_REF = 1
GPS_TAG_LAT = 2
GPS_TAG_LON_REF = 3
GPS_TAG_LON = 4
GPS_TAG_ALT = 6

_EXIF_PREAMBLE = b"Exif\x00\x00"
_XMP_PREAMBLE = b"http://ns.adobe.com/xap/1.0/\x00"
_ICC_PREAMBLE = b"ICC_PROFILE\x00"


# ---------------------------------------------------------------------------
# EXIF block (standalone TIFF-structured stream)
# ---------------------------------------------------------------------------


def build_exif(*, description: str | None = None,
               orientation: int | None = None,
               software: str | None = None,
               datetime_str: str | None = None,
               pixel_x: int | None = None,
               pixel_y: int | None = None,
               gps: dict | None = None,
               thumbnail: bytes | None = None,
               byte_order: str = "<") -> bytes:
    """Minimal spec-shaped EXIF block: IFD0 with the descriptive
    tags, plus an EXIF sub-IFD (tag 34665) holding
    PixelXDimension/PixelYDimension when given, plus a GPS sub-IFD
    (tag 34853, CIPA DC-008 §4.6.6) when ``gps`` is given:
    ``{"lat_ref": "N"|"S", "lat": ((dn,dd),(mn,md),(sn,sd)),
    "lon_ref": "E"|"W", "lon": (...), "alt": (num,den)|None}`` —
    coordinates as the spec's three RATIONALs (deg, min, sec), kept
    as exact num/den pairs end to end. ``thumbnail`` (JPEG bytes)
    adds the spec's second IFD (IFD1: Compression=6 +
    JPEGInterchangeFormat/-Length, CIPA DC-008 §4.6.4) with the
    payload appended after it and IFD0's next-IFD pointer patched
    to reach it — the structure :func:`parse_thumbnail` walks."""
    if byte_order not in ("<", ">"):
        raise ValueError("byte_order must be '<' or '>'")
    bo = byte_order

    def pack_ifd(entries: list[tuple[int, int, bytes, int]],
                 base: int) -> bytes:
        """entries: (tag, typ, payload, count); base = absolute
        offset of this IFD within the final stream."""
        n = len(entries)
        head_len = 2 + 12 * n + 4
        out = struct.pack(bo + "H", n)
        overflow = b""
        cursor = base + head_len
        for tag, typ, payload, count in sorted(entries):
            out += struct.pack(bo + "HHI", tag, typ, count)
            if len(payload) <= 4:
                out += payload.ljust(4, b"\x00")
            else:
                out += struct.pack(bo + "I", cursor)
                overflow += payload
                cursor += len(payload)
        out += struct.pack(bo + "I", 0)
        return out + overflow

    def ascii_entry(tag: int, s: str):
        b = s.encode("ascii") + b"\x00"
        return (tag, 2, b, len(b))

    def short_entry(tag: int, v: int):
        return (tag, 3, struct.pack(bo + "H", v), 1)

    def long_entry(tag: int, v: int):
        return (tag, 4, struct.pack(bo + "I", v), 1)

    ifd0: list = []
    if description is not None:
        ifd0.append(ascii_entry(TAG_DESCRIPTION, description))
    if orientation is not None:
        ifd0.append(short_entry(TAG_ORIENTATION, orientation))
    if software is not None:
        ifd0.append(ascii_entry(TAG_SOFTWARE, software))
    if datetime_str is not None:
        ifd0.append(ascii_entry(TAG_DATETIME, datetime_str))

    def rational_entry(tag: int, pairs):
        payload = b"".join(struct.pack(bo + "II", int(n), int(d))
                           for n, d in pairs)
        return (tag, 5, payload, len(pairs))

    sub: list = []
    if pixel_x is not None:
        sub.append(long_entry(TAG_PIXEL_X, pixel_x))
    if pixel_y is not None:
        sub.append(long_entry(TAG_PIXEL_Y, pixel_y))

    gps_ifd: list = []
    if gps is not None:
        if gps.get("lat_ref") not in ("N", "S") or \
                gps.get("lon_ref") not in ("E", "W"):
            raise ValueError("gps needs lat_ref N/S and lon_ref E/W")
        if len(gps["lat"]) != 3 or len(gps["lon"]) != 3:
            raise ValueError("gps lat/lon must be 3 (num, den) "
                             "rationals (deg, min, sec)")
        gps_ifd = [
            ascii_entry(GPS_TAG_LAT_REF, gps["lat_ref"]),
            rational_entry(GPS_TAG_LAT, gps["lat"]),
            ascii_entry(GPS_TAG_LON_REF, gps["lon_ref"]),
            rational_entry(GPS_TAG_LON, gps["lon"]),
        ]
        if gps.get("alt") is not None:
            gps_ifd.append(rational_entry(GPS_TAG_ALT, [gps["alt"]]))

    header = (b"II\x2a\x00" if bo == "<" else b"MM\x00\x2a") + \
        struct.pack(bo + "I", 8)
    if sub or gps_ifd:
        # IFD0 length depends on its own entry count incl. the
        # pointer entries — compute with placeholder pointers first
        # (a pointer entry is a fixed 12 bytes whatever its value,
        # so the probe length is final)
        holders = ([long_entry(TAG_EXIF_IFD, 0)] if sub else []) + \
            ([long_entry(TAG_GPS_IFD, 0)] if gps_ifd else [])
        probe = pack_ifd(ifd0 + holders, 8)
        exif_off = 8 + len(probe)
        gps_off = exif_off + (len(pack_ifd(sub, exif_off)) if sub
                              else 0)
        ptrs = ([long_entry(TAG_EXIF_IFD, exif_off)] if sub else []) \
            + ([long_entry(TAG_GPS_IFD, gps_off)] if gps_ifd else [])
        ifd0_final = pack_ifd(ifd0 + ptrs, 8)
        assert len(ifd0_final) == len(probe)
        stream = header + ifd0_final + \
            (pack_ifd(sub, exif_off) if sub else b"") + \
            (pack_ifd(gps_ifd, gps_off) if gps_ifd else b"")
        n0 = len(ifd0) + len(ptrs)
    else:
        stream = header + pack_ifd(ifd0, 8)
        n0 = len(ifd0)
    if thumbnail is not None:
        # IFD1 after everything, thumbnail payload after IFD1; all
        # three entry values fit inline (no overflow), so the probe
        # with a placeholder offset has the final length
        ifd1_off = len(stream)
        entries = [short_entry(TAG_COMPRESSION, 6),
                   long_entry(TAG_THUMB_OFFSET, 0),
                   long_entry(TAG_THUMB_LENGTH, len(thumbnail))]
        probe = pack_ifd(entries, ifd1_off)
        entries[1] = long_entry(TAG_THUMB_OFFSET,
                                ifd1_off + len(probe))
        ifd1 = pack_ifd(entries, ifd1_off)
        assert len(ifd1) == len(probe)
        # patch IFD0's next-IFD pointer (the 4 bytes after its
        # entry table) from 0 to IFD1's offset
        ptr_pos = 8 + 2 + 12 * n0
        stream = (stream[:ptr_pos]
                  + struct.pack(bo + "I", ifd1_off)
                  + stream[ptr_pos + 4:]
                  + ifd1 + thumbnail)
    return stream


def parse_thumbnail(blob: bytes) -> dict | None:
    """The EXIF second-IFD (IFD1) embedded thumbnail: ``None`` when
    IFD0's next-IFD pointer is 0 or IFD1 carries no
    JPEGInterchangeFormat/-Length pair; otherwise
    ``{"compression", "offset", "length", "bytes"}``. Raises
    ``ValueError`` on truncated structures or a thumbnail payload
    that overruns the block — audit operators route those rows to
    'malformed' (a lying thumbnail pointer in crawled data is a
    finding, not a miss)."""
    if not sniff_tiff(blob):
        raise ValueError("not a TIFF/EXIF stream")
    bo = "<" if blob[:2] == b"II" else ">"
    (ifd0,) = struct.unpack_from(bo + "I", blob, 4)
    if ifd0 + 2 > len(blob):
        raise ValueError("truncated IFD0 offset")
    (n,) = struct.unpack_from(bo + "H", blob, ifd0)
    ptr_pos = ifd0 + 2 + 12 * n
    if ptr_pos + 4 > len(blob):
        raise ValueError("truncated IFD0")
    (ifd1,) = struct.unpack_from(bo + "I", blob, ptr_pos)
    if ifd1 == 0:
        return None
    _, tags = _read_entries(blob, ifd1)
    off = tags.get(TAG_THUMB_OFFSET)
    ln = tags.get(TAG_THUMB_LENGTH)
    if not off or not ln:
        return None  # an IFD1 without an embedded JPEG
    off, ln = int(off[0]), int(ln[0])
    if off == 0 or ln == 0:
        # a zeroed JPEGInterchangeFormat/-Length pair is the common
        # "no thumbnail" malformation — offset 0 would alias the
        # TIFF header, not a payload; report no thumbnail rather
        # than fabricating one (or raising on a fine container)
        return None
    if off + ln > len(blob):
        raise ValueError("thumbnail payload out of bounds")
    comp = tags.get(TAG_COMPRESSION)
    return {"compression": int(comp[0]) if comp else None,
            "offset": off, "length": ln,
            "bytes": bytes(blob[off:off + ln])}


def parse_exif(blob: bytes) -> dict:
    """Normalized fields from an EXIF block (or a whole TIFF file —
    same structure): description / orientation / software / datetime
    / pixel_x / pixel_y, absent ones None."""
    bo, tags = _read_entries(blob)
    if TAG_EXIF_IFD in tags:
        try:
            _, sub = _read_entries(blob, tags[TAG_EXIF_IFD][0])
            tags = {**tags, **sub}
        except (ValueError, struct.error):
            pass  # corrupt sub-IFD: keep IFD0 fields

    def ascii(tag: int) -> str | None:
        if tag not in tags:
            return None
        return bytes(tags[tag]).split(b"\x00")[0].decode(
            "ascii", "replace")

    def first(tag: int) -> int | None:
        v = tags.get(tag)
        return int(v[0]) if v else None

    return {
        "description": ascii(TAG_DESCRIPTION),
        "orientation": first(TAG_ORIENTATION),
        "software": ascii(TAG_SOFTWARE),
        "datetime": ascii(TAG_DATETIME),
        "pixel_x": first(TAG_PIXEL_X),
        "pixel_y": first(TAG_PIXEL_Y),
    }


_GPS_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def parse_gps(blob: bytes) -> dict | None:
    """The GPS sub-IFD of an EXIF block (or whole TIFF), with the
    coordinate RATIONALs kept as exact ``(num, den)`` pairs — the
    shared ``_read_entries`` walker deliberately drops denominators
    (it serves the integer dimension/orientation tags), and GPS is
    the one consumer that needs them. Returns ``None`` when no GPS
    IFD exists; raises ``ValueError`` on a truncated/out-of-bounds
    GPS IFD (so audit operators route the row to 'malformed' instead
    of reporting a clean miss). Keys: ``lat_ref``/``lon_ref`` (str),
    ``lat``/``lon`` (list of 3 ``(num, den)``), ``alt``
    (``(num, den)`` or None)."""
    bo, tags = _read_entries(blob)
    if TAG_GPS_IFD not in tags or not tags[TAG_GPS_IFD]:
        return None
    off = int(tags[TAG_GPS_IFD][0])
    if off + 2 > len(blob):
        raise ValueError("GPS IFD offset out of bounds")
    (n,) = struct.unpack_from(bo + "H", blob, off)
    raw: dict = {}
    for i in range(n):
        pos = off + 2 + 12 * i
        if pos + 12 > len(blob):
            raise ValueError("truncated GPS IFD")
        tag, typ, count = struct.unpack_from(bo + "HHI", blob, pos)
        if typ not in _GPS_TYPE_SIZES:
            continue
        size = _GPS_TYPE_SIZES[typ] * count
        if size <= 4:
            voff = pos + 8
        else:
            (voff,) = struct.unpack_from(bo + "I", blob, pos + 8)
        if voff + size > len(blob):
            raise ValueError(f"GPS tag {tag} value out of bounds")
        if typ == 2:
            raw[tag] = bytes(blob[voff:voff + count]) \
                .split(b"\x00")[0].decode("ascii", "replace")
        elif typ == 5:
            v = struct.unpack_from(bo + "II" * count, blob, voff)
            raw[tag] = [(v[2 * j], v[2 * j + 1])
                        for j in range(count)]
    alt = raw.get(GPS_TAG_ALT)
    return {
        "lat_ref": raw.get(GPS_TAG_LAT_REF),
        "lat": raw.get(GPS_TAG_LAT),
        "lon_ref": raw.get(GPS_TAG_LON_REF),
        "lon": raw.get(GPS_TAG_LON),
        "alt": alt[0] if alt else None,
    }


# ---------------------------------------------------------------------------
# JPEG (APP1 EXIF / APP1 XMP / APP2 ICC / COM)
# ---------------------------------------------------------------------------


def jpeg_insert_metadata(data: bytes, *, exif: bytes | None = None,
                         xmp: bytes | None = None,
                         icc: bytes | None = None,
                         comment: str | None = None) -> bytes:
    """Insert metadata segments right after SOI (the position every
    EXIF writer uses). ICC payloads are split into numbered APP2
    segments per the ICC spec when they exceed one marker."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG stream")
    segs = b""

    def app1(body: bytes) -> bytes:
        if len(body) + 2 > 0xFFFF:  # marker length field is 16-bit
            raise ValueError("APP1 payload exceeds the 64 KiB "
                             "JPEG segment limit")
        return b"\xFF\xE1" + struct.pack(">H", len(body) + 2) + body

    if exif is not None:
        segs += app1(_EXIF_PREAMBLE + exif)
    if xmp is not None:
        segs += app1(_XMP_PREAMBLE + xmp)
    if icc is not None:
        limit = 65535 - 2 - len(_ICC_PREAMBLE) - 2
        parts = [icc[i:i + limit] for i in range(0, len(icc), limit)] \
            or [b""]
        for i, part in enumerate(parts):
            body = _ICC_PREAMBLE + bytes((i + 1, len(parts))) + part
            segs += b"\xFF\xE2" + struct.pack(">H", len(body) + 2) + body
    if comment is not None:
        body = comment.encode("latin-1")
        segs += b"\xFF\xFE" + struct.pack(">H", len(body) + 2) + body
    return data[:2] + segs + data[2:]


def jpeg_metadata(data: bytes) -> dict:
    """One marker walk → raw metadata payloads:
    ``{"exif": bytes|None, "xmp": bytes|None, "icc": bytes|None,
    "comment": str|None}``."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG stream")
    out = {"exif": None, "xmp": None, "icc": None, "comment": None}
    icc_parts: list[tuple[int, bytes]] = []
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[pos + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            pos += 2
            continue
        if marker == 0xD9 or marker == 0xDA:  # EOI / entropy data
            break
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + seglen]
        if marker == 0xE1 and body.startswith(_EXIF_PREAMBLE) \
                and out["exif"] is None:
            out["exif"] = bytes(body[len(_EXIF_PREAMBLE):])
        elif marker == 0xE1 and body.startswith(_XMP_PREAMBLE) \
                and out["xmp"] is None:
            out["xmp"] = bytes(body[len(_XMP_PREAMBLE):])
        elif marker == 0xE2 and body.startswith(_ICC_PREAMBLE):
            icc_parts.append((body[len(_ICC_PREAMBLE)],
                              bytes(body[len(_ICC_PREAMBLE) + 2:])))
        elif marker == 0xFE and out["comment"] is None:
            out["comment"] = body.decode("latin-1", "replace")
        pos += 2 + seglen
    if icc_parts:
        out["icc"] = b"".join(p for _, p in sorted(icc_parts))
    return out


# ---------------------------------------------------------------------------
# PNG (eXIf / tEXt / zTXt / iTXt)
# ---------------------------------------------------------------------------


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def png_insert_metadata(data: bytes, *, exif: bytes | None = None,
                        text: dict[str, str] | None = None) -> bytes:
    """Insert an ``eXIf`` chunk and/or ``tEXt`` chunks right after
    IHDR (both are allowed anywhere before IDAT)."""
    from .imagegen import PNG_MAGIC

    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG stream")
    ihdr_end = len(PNG_MAGIC) + 12 + struct.unpack(
        ">I", data[len(PNG_MAGIC):len(PNG_MAGIC) + 4])[0]
    extra = b""
    if exif is not None:
        extra += _png_chunk(b"eXIf", exif)
    for k, v in (text or {}).items():
        extra += _png_chunk(
            b"tEXt", k.encode("latin-1") + b"\x00" + v.encode("latin-1"))
    return data[:ihdr_end] + extra + data[ihdr_end:]


def png_metadata(data: bytes) -> dict:
    """One chunk walk → ``{"exif": bytes|None,
    "text": dict[str, str]}`` (tEXt + zTXt + iTXt merged; iTXt
    honors its per-chunk compression flag)."""
    from .imagegen import PNG_MAGIC

    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG stream")
    out: dict = {"exif": None, "text": {}}
    pos = len(PNG_MAGIC)
    while pos + 12 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        if tag == b"eXIf" and out["exif"] is None:
            out["exif"] = bytes(payload)
        elif tag == b"tEXt":
            k, _, v = payload.partition(b"\x00")
            out["text"][k.decode("latin-1")] = v.decode("latin-1")
        elif tag == b"zTXt":
            k, _, rest = payload.partition(b"\x00")
            if rest[:1] == b"\x00":
                out["text"][k.decode("latin-1")] = zlib.decompress(
                    rest[1:]).decode("latin-1")
        elif tag == b"iTXt":
            k, _, rest = payload.partition(b"\x00")
            comp_flag, comp_method = rest[0], rest[1]
            rest = rest[2:]
            _lang, _, rest = rest.partition(b"\x00")
            _trans, _, txt = rest.partition(b"\x00")
            if comp_flag and comp_method == 0:
                txt = zlib.decompress(txt)
            out["text"][k.decode("latin-1")] = txt.decode(
                "utf-8", "replace")
        elif tag == b"IEND":
            break
        pos += 12 + length
    return out


# ---------------------------------------------------------------------------
# GIF (comment extensions — read side)
# ---------------------------------------------------------------------------


def gif_comments(data: bytes) -> list[str]:
    """Comment-extension payloads (0x21 0xFE sub-blocks) from a GIF
    stream; structural walk only."""
    from .gifcodec import _read_color_table, _read_subblocks, sniff_gif

    if not sniff_gif(data):
        raise ValueError("not a GIF stream")
    flags = data[10]
    pos = 13
    if flags & 0x80:
        _, pos = _read_color_table(data, pos, flags & 0x07)
    comments: list[str] = []
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = data[pos + 1]
            payload, pos = _read_subblocks(data, pos + 2)
            if label == 0xFE:
                comments.append(payload.decode("latin-1", "replace"))
            continue
        if b == 0x2C:  # image descriptor: skip header+LCT+LZW blocks
            lflags = data[pos + 9]
            pos += 10
            if lflags & 0x80:
                _, pos = _read_color_table(data, pos, lflags & 0x07)
            pos += 1  # LZW min code size
            _, pos = _read_subblocks(data, pos)
            continue
        raise ValueError(f"unknown GIF block 0x{b:02x}")
    return comments


# ---------------------------------------------------------------------------
# Unified dispatch
# ---------------------------------------------------------------------------


def raw_exif(data: bytes) -> bytes | None:
    """The UNPARSED EXIF block of any sniffable payload (None when
    the container carries none) — the entry point for consumers that
    need fields beyond ``parse_exif``'s normalized set, e.g.
    ``parse_gps``'s exact rationals. Same container walks as
    ``image_metadata``, no pixel decode."""
    from .imagegen import sniff_format

    fmt = sniff_format(data)
    if fmt == "jpeg":
        return jpeg_metadata(data)["exif"]
    if fmt == "png":
        return png_metadata(data)["exif"]
    if fmt == "tiff":
        return data if sniff_tiff(data) else None
    if fmt == "webp":
        from .webpx import extract_metadata

        return extract_metadata(data)["exif"]
    if fmt in ("heic", "avif"):
        from .libheif import heif_available, heif_metadata

        if heif_available():
            return heif_metadata(data)["exif"]
        return None
    if fmt is None:
        raise ValueError("unrecognized image stream")
    return None  # gif/bmp: no EXIF vocabulary


def image_metadata(data: bytes) -> dict:
    """Normalized metadata for any sniffable payload:
    ``{"fmt", "exif": {...}|None, "text": dict, "comment",
    "has_icc", "has_xmp"}`` — EXIF fields parsed, the rest
    presence/payload level. One container walk, no pixel decode."""
    from .imagegen import sniff_format

    fmt = sniff_format(data)
    out = {"fmt": fmt, "exif": None, "text": {}, "comment": None,
           "has_icc": False, "has_xmp": False}
    if fmt == "jpeg":
        m = jpeg_metadata(data)
        out["exif"] = parse_exif(m["exif"]) if m["exif"] else None
        out["comment"] = m["comment"]
        out["has_icc"] = m["icc"] is not None
        out["has_xmp"] = m["xmp"] is not None
    elif fmt == "png":
        m = png_metadata(data)
        out["exif"] = parse_exif(m["exif"]) if m["exif"] else None
        out["text"] = m["text"]
    elif fmt == "tiff":
        if sniff_tiff(data):
            out["exif"] = parse_exif(data)
    elif fmt == "webp":
        from .webpx import extract_metadata

        m = extract_metadata(data)
        out["exif"] = parse_exif(m["exif"]) if m["exif"] else None
        out["has_icc"] = m["icc"] is not None
        out["has_xmp"] = m["xmp"] is not None
    elif fmt == "gif":
        cs = gif_comments(data)
        out["comment"] = cs[0] if cs else None
    elif fmt in ("heic", "avif"):
        # libheif walks the item table (no pixel decode); when the
        # library is absent the EXIF field stays None — header dims
        # and the structural audit remain available via isobmff.py
        from .libheif import heif_available, heif_metadata

        if heif_available():
            m = heif_metadata(data)
            out["exif"] = parse_exif(m["exif"]) if m["exif"] else None
    elif fmt is None:
        raise ValueError("unrecognized image stream")
    return out


# ---------------------------------------------------------------------------
# EXIF orientation (tag 274) pixel semantics
# ---------------------------------------------------------------------------


def apply_exif_orientation(px, orientation: int):
    """Transform STORED pixels to upright display per the EXIF
    orientation vocabulary (CIPA DC-008 §4.6.4): 1 identity, 2
    mirror-horizontal, 3 rotate-180, 4 mirror-vertical, 5 transpose,
    6 rotate-90-CW, 7 transverse, 8 rotate-90-CCW. Returns a fresh
    contiguous array; orientations 5..8 swap the output dims."""
    import numpy as np

    if orientation in (None, 1):
        return px
    if orientation == 2:
        return np.ascontiguousarray(px[:, ::-1])
    if orientation == 3:
        return np.ascontiguousarray(px[::-1, ::-1])
    if orientation == 4:
        return np.ascontiguousarray(px[::-1, :])
    if orientation == 5:
        return np.ascontiguousarray(np.transpose(px, (1, 0, 2)))
    if orientation == 6:
        return np.ascontiguousarray(np.rot90(px, k=3))
    if orientation == 7:
        return np.ascontiguousarray(
            np.transpose(px[::-1, ::-1], (1, 0, 2)))
    if orientation == 8:
        return np.ascontiguousarray(np.rot90(px, k=1))
    raise ValueError(f"invalid EXIF orientation {orientation}")


# ---------------------------------------------------------------------------
# Metadata STRIPPING (privacy hygiene — remove, never touch pixels)
# ---------------------------------------------------------------------------


def strip_metadata(data: bytes) -> tuple[bytes, list[str]]:
    """Remove privacy-bearing metadata from a container WITHOUT
    touching the entropy-coded pixel data: EXIF (GPS, device serial,
    timestamps), XMP, ICC profiles, comments and textual chunks —
    the image-side twin of ``text.redact_pii`` for training-data
    hygiene (a crawled photo's geotag is PII exactly like an email
    in a document).

    Returns ``(stripped_bytes, removed_kinds)`` with kinds from
    {"exif", "xmp", "icc", "comment", "text"} (sorted, deduplicated;
    empty list = clean container returned byte-identical). JPEG drops
    APP1-EXIF/APP1-XMP/APP2-ICC/COM segments; PNG drops
    eXIf/tEXt/zTXt/iTXt chunks; WebP drops EXIF/XMP/ICCP chunks and
    clears their VP8X flag bits (a non-VP8X WebP has no metadata
    chunks by construction); GIF drops comment extensions. TIFF is
    REFUSED (ValueError): its EXIF lives as IFD0 tags interleaved
    with the raster structure, so stripping means rewriting the IFD
    — route such rows to an ``unsupported`` verdict, don't silently
    half-strip. Decoded pixels are bit-identical before/after
    (pinned in tests and the contract oracle)."""
    from .imagegen import PNG_MAGIC, sniff_format

    fmt = sniff_format(data)
    if fmt == "jpeg":
        return _strip_jpeg(data)
    if fmt == "png":
        return _strip_png(data, PNG_MAGIC)
    if fmt == "webp":
        return _strip_webp(data)
    if fmt == "gif":
        return _strip_gif(data)
    if fmt is None:
        raise ValueError("unrecognized image stream")
    raise ValueError(
        f"metadata strip unsupported for format {fmt!r} (TIFF EXIF "
        f"is IFD-structural; BMP/WAV/AVI carry no vocabulary here)")


def _strip_jpeg(data: bytes) -> tuple[bytes, list[str]]:
    out = bytearray(data[:2])
    removed: set = set()
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[pos + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            out += data[pos:pos + 2]
            pos += 2
            continue
        if marker == 0xDA or marker == 0xD9:
            out += data[pos:]  # entropy data + EOI: verbatim
            return bytes(out), sorted(removed)
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        if seglen < 2 or pos + 2 + seglen > len(data):
            raise ValueError("JPEG segment overruns buffer")
        body = data[pos + 4:pos + 2 + seglen]
        if marker == 0xE1 and body.startswith(_EXIF_PREAMBLE):
            removed.add("exif")
        elif marker == 0xE1 and body.startswith(_XMP_PREAMBLE):
            removed.add("xmp")
        elif marker == 0xE2 and body.startswith(_ICC_PREAMBLE):
            removed.add("icc")
        elif marker == 0xFE:
            removed.add("comment")
        else:
            out += data[pos:pos + 2 + seglen]
        pos += 2 + seglen
    # Falling out of the loop means the stream ended before SOS/EOI —
    # a truncated container, never a clean one (ADVICE r4: returning
    # partial bytes here shipped corrupt payloads with status='ok').
    raise ValueError("JPEG ends before SOS/EOI")


def _strip_png(data: bytes, magic: bytes) -> tuple[bytes, list[str]]:
    if not data.startswith(magic):
        raise ValueError("not a PNG stream")
    out = bytearray(magic)
    removed: set = set()
    kinds = {b"eXIf": "exif", b"tEXt": "text", b"zTXt": "text",
             b"iTXt": "text"}
    pos = len(magic)
    while pos + 12 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        end = pos + 12 + length
        if end > len(data):
            raise ValueError("PNG chunk overruns buffer")
        if tag in kinds:
            removed.add(kinds[tag])
        else:
            out += data[pos:end]
        if tag == b"IEND":
            return bytes(out), sorted(removed)
        pos = end
    # No IEND: truncated stream — must route to 'malformed', not 'ok'.
    raise ValueError("PNG missing IEND")


def _strip_webp(data: bytes) -> tuple[bytes, list[str]]:
    from .webpx import (
        FLAG_EXIF,
        FLAG_ICC,
        FLAG_XMP,
        _chunk,
        _riff,
        _walk_chunks,
    )

    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP stream")
    if data[12:16] != b"VP8X":
        return data, []  # simple container: no metadata chunks exist
    kinds = {b"ICCP": "icc", b"EXIF": "exif", b"XMP ": "xmp"}
    removed: set = set()
    chunks = b""
    vp8x = None
    for fourcc, body in _walk_chunks(data, 12, len(data)):
        if fourcc == b"VP8X":
            vp8x = bytearray(body)
        elif fourcc in kinds:
            removed.add(kinds[fourcc])
        else:
            chunks += _chunk(fourcc, body)
    if vp8x is None:
        raise ValueError("VP8X container without a VP8X chunk")
    vp8x[0] &= ~(FLAG_ICC | FLAG_EXIF | FLAG_XMP) & 0xFF
    return _riff(_chunk(b"VP8X", bytes(vp8x)) + chunks), sorted(removed)


def _strip_gif(data: bytes) -> tuple[bytes, list[str]]:
    from .gifcodec import sniff_gif

    if not sniff_gif(data):
        raise ValueError("not a GIF stream")
    flags = data[10]
    gct = (3 * (2 << (flags & 0x07))) if flags & 0x80 else 0
    head_end = 13 + gct
    out = bytearray(data[:head_end])
    removed: set = set()
    pos = head_end

    def skip_subblocks(p: int) -> int:
        while p < len(data) and data[p] != 0:
            p += 1 + data[p]
        if p >= len(data):
            raise ValueError("GIF sub-blocks overrun buffer")
        return p + 1

    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            out += data[pos:pos + 1]
            return bytes(out), sorted(removed)
        if b == 0x21:  # extension
            start = pos
            if pos + 2 > len(data):
                raise ValueError("GIF extension overruns buffer")
            label = data[pos + 1]
            pos = skip_subblocks(pos + 2)
            if label == 0xFE:
                removed.add("comment")
            else:
                out += data[start:pos]
        elif b == 0x2C:  # image descriptor
            start = pos
            if pos + 11 > len(data):
                raise ValueError("GIF image descriptor overruns buffer")
            lflags = data[pos + 9]
            lct = (3 * (2 << (lflags & 0x07))) if lflags & 0x80 else 0
            pos += 10 + lct + 1  # descriptor + LCT + LZW min-code
            if pos > len(data):
                raise ValueError("GIF color table overruns buffer")
            pos = skip_subblocks(pos)
            out += data[start:pos]
        else:
            raise ValueError(f"bad GIF block 0x{b:02x}")
    # Loop exit without the 0x3B trailer: truncated stream.
    raise ValueError("GIF ends before trailer")
