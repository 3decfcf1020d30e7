"""Pure-python Ogg structural layer (RFC 3533 page grammar + the
RFC 7845 OpusHead / Vorbis-I identification headers): stream
sniffing, a build→parse fixture pair over the spec-valid parameter
space, and the page walk a census pipeline needs BEFORE spending an
Opus/Vorbis decoder — the third big web media container next to the
MP4 moov walk (``sources/isobmff.py``) and the Matroska Segment walk
(``sources/ebml.py``). Sample DECODE of the contained codecs is out
of scope here like every other container layer in this repo.

Page grammar (RFC 3533 §6): ``OggS`` capture, version 0, a
header-type byte (0x01 continued / 0x02 BOS / 0x04 EOS), an int64 LE
granule position, u32 LE bitstream serial, u32 LE page sequence, a
u32 LE CRC over the whole page with the CRC field zeroed
(polynomial 0x04c11db7, init 0, unreflected, no final xor —
RFC 3533 appendix A), and a lacing table of up to 255 segment sizes.

Duration comes from the LAST page's granule position: Opus granules
are 48 kHz PCM samples including pre-skip (RFC 7845 §4), so
``duration_ms = (granule - pre_skip) * 1000 // 48000``; Vorbis
granules are samples at the stream rate, ``granule * 1000 // rate``.

Reference parity: like the reference's per-document verdict model
(validator.hh:239-258), structural damage is reported per payload
with the offending page/field named, never by killing the job.
"""

from __future__ import annotations

import struct

_CAPTURE = b"OggS"

#: header-type flag bits (RFC 3533 §6)
FLAG_BOS = 0x02
FLAG_EOS = 0x04


def _crc_table() -> list[int]:
    tbl = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000
                 else r << 1) & 0xFFFFFFFF
        tbl.append(r)
    return tbl


_CRC_TBL = _crc_table()


def ogg_crc(data: bytes) -> int:
    """RFC 3533 appendix-A page CRC: poly 0x04c11db7, init 0,
    unreflected, no final xor."""
    r = 0
    for b in data:
        r = ((r << 8) & 0xFFFFFFFF) ^ _CRC_TBL[(r >> 24) ^ b]
    return r


def _lacing(n: int) -> bytes:
    """Segment table for one packet of ``n`` payload bytes
    (255-valued segments then the terminating short one)."""
    full, last = divmod(n, 255)
    return b"\xff" * full + bytes([last])


def _page(header_type: int, granule: int, serial: int, seq: int,
          packet: bytes) -> bytes:
    lac = _lacing(len(packet))
    head = (_CAPTURE + b"\x00" + bytes([header_type])
            + struct.pack("<q", granule)
            + struct.pack("<II", serial, seq)
            + b"\x00\x00\x00\x00"
            + bytes([len(lac)]) + lac)
    page = head + packet
    crc = ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def build_ogg_opus(*, serial: int, n_audio_pages: int,
                   duration_ms: int, pre_skip: int = 312,
                   channels: int = 2,
                   input_rate: int = 48000) -> bytes:
    """Spec-valid minimal Ogg Opus stream (RFC 7845): a BOS page
    carrying OpusHead, a comment page carrying OpusTags, then
    ``n_audio_pages`` audio pages whose granule positions step
    linearly to the exact final granule ``pre_skip +
    duration_ms * 48`` (so the census recovers ``duration_ms``
    by integer arithmetic), the last flagged EOS."""
    head = (b"OpusHead" + bytes([1, channels])
            + struct.pack("<HIhB", pre_skip, input_rate, 0, 0))
    tags = (b"OpusTags" + struct.pack("<I", 8) + b"cerberus"
            + struct.pack("<I", 0))
    pages = [_page(FLAG_BOS, 0, serial, 0, head),
             _page(0, 0, serial, 1, tags)]
    total = pre_skip + duration_ms * 48
    n = max(1, n_audio_pages)
    for k in range(n):
        granule = total if k == n - 1 else total * (k + 1) // n
        flags = FLAG_EOS if k == n - 1 else 0
        pages.append(_page(flags, granule, serial, 2 + k,
                           bytes([0xFC, 0xFF, 0xFE])))
    return b"".join(pages)


def build_ogg_vorbis(*, serial: int, n_audio_pages: int,
                     duration_ms: int, rate: int = 44100,
                     channels: int = 2) -> bytes:
    """Spec-valid minimal Ogg Vorbis stream: a BOS page carrying the
    Vorbis-I identification header, then ``n_audio_pages`` audio
    pages stepping to the exact final granule
    ``duration_ms * rate // 1000``, the last flagged EOS."""
    ident = (b"\x01vorbis" + struct.pack("<IB", 0, channels)
             + struct.pack("<Iiii", rate, 0, 128000, 0)
             + bytes([0xB8, 0x01]))
    pages = [_page(FLAG_BOS, 0, serial, 0, ident)]
    total = duration_ms * rate // 1000
    n = max(1, n_audio_pages)
    for k in range(n):
        granule = total if k == n - 1 else total * (k + 1) // n
        flags = FLAG_EOS if k == n - 1 else 0
        pages.append(_page(flags, granule, serial, 1 + k,
                           b"\x00" * 5))
    return b"".join(pages)


def sniff_ogg(data: bytes) -> bool:
    """True when ``data`` starts with an Ogg version-0 BOS capture."""
    return (data is not None and len(data) >= 28
            and data[:4] == _CAPTURE and data[4] == 0
            and data[5] & FLAG_BOS != 0)


def iter_pages(data: bytes):
    """Yield ``(header_type, granule, serial, seq, crc_ok,
    payload_start, payload_end)`` per page; raises ValueError naming
    structural damage (bad capture, truncation, version)."""
    off = 0
    while off < len(data):
        if off + 27 > len(data):
            raise ValueError(f"truncated page header at {off}")
        if data[off:off + 4] != _CAPTURE:
            raise ValueError(f"bad capture pattern at {off}")
        if data[off + 4] != 0:
            raise ValueError(
                f"unsupported stream version {data[off + 4]}")
        htype = data[off + 5]
        granule = struct.unpack_from("<q", data, off + 6)[0]
        serial, seq, crc = struct.unpack_from("<III", data, off + 14)
        nseg = data[off + 26]
        hend = off + 27 + nseg
        if hend > len(data):
            raise ValueError(f"truncated segment table at {off}")
        size = sum(data[off + 27:hend])
        pend = hend + size
        if pend > len(data):
            raise ValueError(f"page payload overruns at {off}")
        zeroed = (data[off:off + 22] + b"\x00\x00\x00\x00"
                  + data[off + 26:pend])
        crc_ok = ogg_crc(zeroed) == crc
        yield htype, granule, serial, seq, crc_ok, hend, pend
        off = pend


def ogg_stream_info(data: bytes) -> dict:
    """Stream-level structural metadata from the page walk — no
    sample decode: ``{"codec", "channels", "rate", "pre_skip",
    "n_pages", "duration_ms", "crc_ok", "eos"}``. ``rate`` is the
    granule clock (48000 for Opus regardless of OpusHead's input
    rate — RFC 7845 §4 — else the Vorbis rate). Structural damage
    (bad capture/version, truncation, serial mixing, sequence gaps,
    missing BOS, unknown BOS codec) raises ValueError naming it."""
    if not sniff_ogg(data):
        raise ValueError("not an ogg stream (OggS BOS capture)")
    codec = None
    channels = rate = None
    pre_skip = 0
    n_pages = 0
    last_granule = 0
    crc_all = True
    eos = False
    serial0 = None
    expect_seq = 0
    for (htype, granule, serial, seq, crc_ok, ps,
         pe) in iter_pages(data):
        if serial0 is None:
            serial0 = serial
        elif serial != serial0:
            raise ValueError(
                f"mixed bitstream serials ({serial0} then {serial})")
        if seq != expect_seq:
            raise ValueError(
                f"page sequence gap (expected {expect_seq}, "
                f"got {seq})")
        expect_seq += 1
        crc_all = crc_all and crc_ok
        n_pages += 1
        if n_pages == 1:
            pkt = data[ps:pe]
            if pkt.startswith(b"OpusHead"):
                if len(pkt) < 19:
                    raise ValueError("OpusHead truncated")
                codec = "opus"
                channels = pkt[9]
                pre_skip = struct.unpack_from("<H", pkt, 10)[0]
                rate = 48000
            elif pkt.startswith(b"\x01vorbis"):
                if len(pkt) < 28:
                    raise ValueError(
                        "vorbis identification truncated")
                codec = "vorbis"
                channels = pkt[11]
                rate = struct.unpack_from("<I", pkt, 12)[0]
                if rate == 0:
                    raise ValueError("vorbis rate 0")
            else:
                raise ValueError("unknown BOS codec packet")
        if granule > 0:
            last_granule = max(last_granule, granule)
        if htype & FLAG_EOS:
            eos = True
    dur = max(0, last_granule - pre_skip) * 1000 // rate \
        if rate else None
    return {"codec": codec, "channels": channels, "rate": rate,
            "pre_skip": pre_skip, "n_pages": n_pages,
            "duration_ms": dur, "crc_ok": crc_all, "eos": eos}
