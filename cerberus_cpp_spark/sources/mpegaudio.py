"""MPEG audio (MP3-family) STRUCTURAL parsing — headers, frame-chain
walk, duration/bitrate accounting — with zero sample decode.

This is the container-audit pattern (JPEG marker walk, ISO-BMFF box
walk) applied to the one stubbed audio family: full Layer III sample
decode genuinely needs a codec this container does not ship (no
ffmpeg/mad/lame — re-verified round 4), but the FRAME LAYER is pure
ISO/IEC 11172-3 arithmetic: 32-bit headers carry version / layer /
bitrate / sample-rate / padding, and every frame's byte length and
sample count follow from them. That is enough to validate structure,
measure duration, detect truncation and mid-stream parameter changes,
and classify CBR vs VBR — the checks a 10^12-row crawl actually runs
on audio it will transcode anyway. Sample decode stays an HONEST stub
(``multimodal.audio_stream_stats`` raises by default).

Everything here is deterministic integer arithmetic, so contract
oracles replay frame counts, byte layouts, and durations exactly;
``build_frame`` emits spec-valid frames (zeroed payloads) for
deterministic fixtures.
"""

from __future__ import annotations

import struct

#: bitrate tables, kbps; index 0 = "free" (unsupported here), 15 = bad
_BITRATES = {
    # (mpeg1?, layer) -> 14 entries for index 1..14
    (True, 1): [32, 64, 96, 128, 160, 192, 224, 256,
                288, 320, 352, 384, 416, 448],
    (True, 2): [32, 48, 56, 64, 80, 96, 112, 128,
                160, 192, 224, 256, 320, 384],
    (True, 3): [32, 40, 48, 56, 64, 80, 96, 112,
                128, 160, 192, 224, 256, 320],
    (False, 1): [32, 48, 56, 64, 80, 96, 112, 128,
                 144, 160, 176, 192, 224, 256],
    (False, 2): [8, 16, 24, 32, 40, 48, 56, 64,
                 80, 96, 112, 128, 144, 160],
    (False, 3): [8, 16, 24, 32, 40, 48, 56, 64,
                 80, 96, 112, 128, 144, 160],
}

_RATES = {3: [44100, 48000, 32000],      # MPEG1
          2: [22050, 24000, 16000],      # MPEG2
          0: [11025, 12000, 8000]}       # MPEG2.5

_MODES = ("stereo", "joint_stereo", "dual_channel", "mono")


def parse_frame_header(hdr: bytes) -> dict:
    """Decode one 32-bit MPEG audio frame header. ValueError on a
    bad sync word or reserved/free field values."""
    if len(hdr) < 4:
        raise ValueError("truncated frame header")
    (word,) = struct.unpack(">I", hdr[:4])
    if (word >> 21) & 0x7FF != 0x7FF:
        raise ValueError(f"bad sync word 0x{word >> 21 & 0x7FF:03x}")
    ver_bits = (word >> 19) & 3
    if ver_bits == 1:
        raise ValueError("reserved MPEG version")
    layer_bits = (word >> 17) & 3
    if layer_bits == 0:
        raise ValueError("reserved layer")
    layer = 4 - layer_bits                  # 1/2/3
    mpeg1 = ver_bits == 3
    crc = not (word >> 16) & 1
    bidx = (word >> 12) & 0xF
    if bidx == 0 or bidx == 15:
        raise ValueError("free/bad bitrate index")
    ridx = (word >> 10) & 3
    if ridx == 3:
        raise ValueError("reserved sample-rate index")
    padding = (word >> 9) & 1
    mode = _MODES[(word >> 6) & 3]
    bitrate = _BITRATES[(mpeg1, layer)][bidx - 1]
    rate = _RATES[ver_bits][ridx]
    if layer == 1:
        frame_bytes = (12000 * bitrate // rate + padding) * 4
        samples = 384
    else:
        if layer == 3 and not mpeg1:
            frame_bytes = 72000 * bitrate // rate + padding
            samples = 576
        else:
            frame_bytes = 144000 * bitrate // rate + padding
            samples = 1152
    return {
        "version": {3: "1", 2: "2", 0: "2.5"}[ver_bits],
        "layer": layer, "crc": crc, "bitrate_kbps": bitrate,
        "sample_rate": rate, "padding": bool(padding),
        "channel_mode": mode,
        "channels": 1 if mode == "mono" else 2,
        "frame_bytes": frame_bytes, "samples": samples,
    }


def _id3v2_size(data: bytes) -> int:
    """Bytes occupied by a leading ID3v2 tag (0 when absent)."""
    if len(data) < 10 or data[:3] != b"ID3":
        return 0
    if any(b & 0x80 for b in data[6:10]):
        raise ValueError("corrupt ID3v2 syncsafe size")
    size = (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
    return 10 + size


def sniff_mpeg_audio(data: bytes) -> bool:
    """True when the payload starts with an ID3v2 tag or a valid
    MPEG audio frame header (after the tag, when present)."""
    if data is None or len(data) < 4:
        return False
    try:
        off = _id3v2_size(data)
        parse_frame_header(data[off:off + 4])
        return True
    except ValueError:
        return False


def audit_mpeg_audio(data: bytes) -> dict:
    """Walk the full frame chain; returns a structural report:

    ``{"ok", "message", "n_frames", "duration_ms", "sample_rate",
    "layer", "version", "channels", "cbr", "bitrate_kbps_min",
    "bitrate_kbps_max", "id3v2", "id3v1"}``

    ok=False (with a message) on truncation, bad sync mid-stream,
    trailing garbage, or mid-stream version/layer/sample-rate changes
    (those require a decoder reset and usually indicate a corrupt
    concatenation). A trailing 128-byte ID3v1 'TAG' block is legal.
    Duration uses exact integer math: sum(samples)·1000 // rate.
    """
    out = {
        "ok": False, "message": None, "n_frames": 0,
        "duration_ms": None, "sample_rate": None, "layer": None,
        "version": None, "channels": None, "cbr": None,
        "bitrate_kbps_min": None, "bitrate_kbps_max": None,
        "id3v2": False, "id3v1": False,
    }
    try:
        off = _id3v2_size(data)
        out["id3v2"] = off > 0
        if off > len(data):
            raise ValueError("ID3v2 tag longer than the payload")
        end = len(data)
        if end - off >= 128 and data[end - 128:end - 125] == b"TAG":
            out["id3v1"] = True
            end -= 128
        first = None
        samples = 0
        brs = []
        while off < end:
            h = parse_frame_header(data[off:off + 4])
            if first is None:
                first = h
                out.update(
                    sample_rate=h["sample_rate"], layer=h["layer"],
                    version=h["version"], channels=h["channels"],
                )
            elif (h["sample_rate"], h["layer"], h["version"]) != (
                    first["sample_rate"], first["layer"],
                    first["version"]):
                raise ValueError(
                    f"stream parameters change at frame"
                    f" {out['n_frames']}")
            if off + h["frame_bytes"] > end:
                raise ValueError(
                    f"frame {out['n_frames']} truncated"
                    f" ({end - off} of {h['frame_bytes']} bytes)")
            brs.append(h["bitrate_kbps"])
            samples += h["samples"]
            out["n_frames"] += 1
            off += h["frame_bytes"]
        if out["n_frames"] == 0:
            raise ValueError("no MPEG audio frames")
        out["duration_ms"] = samples * 1000 // first["sample_rate"]
        out["bitrate_kbps_min"] = min(brs)
        out["bitrate_kbps_max"] = max(brs)
        out["cbr"] = len(set(brs)) == 1
        out["ok"] = True
    except ValueError as e:
        out["message"] = str(e)[:160]
    return out


def build_frame(*, bitrate_kbps: int, sample_rate: int,
                padding: bool = False, mono: bool = False) -> bytes:
    """Spec-valid MPEG1 Layer III frame with a zeroed payload —
    deterministic fixture material for the structural layer (the
    payload is NOT decodable audio, and does not claim to be)."""
    try:
        bidx = _BITRATES[(True, 3)].index(bitrate_kbps) + 1
    except ValueError:
        raise ValueError(f"not an MPEG1-L3 bitrate: {bitrate_kbps}")
    try:
        ridx = _RATES[3].index(sample_rate)
    except ValueError:
        raise ValueError(f"not an MPEG1 sample rate: {sample_rate}")
    word = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) \
        | (bidx << 12) | (ridx << 10) | (int(padding) << 9) \
        | ((3 if mono else 0) << 6)
    frame_bytes = 144000 * bitrate_kbps // sample_rate + int(padding)
    return struct.pack(">I", word) + b"\x00" * (frame_bytes - 4)


def build_id3v2(size: int = 32) -> bytes:
    """Minimal ID3v2 tag of the given payload size (zeroed)."""
    if not 0 <= size < (1 << 28):
        raise ValueError("ID3v2 size out of range")
    ss = bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                (size >> 7) & 0x7F, size & 0x7F])
    return b"ID3\x04\x00\x00" + ss + b"\x00" * size


# ---------------------------------------------------------------------------
# AAC ADTS (ISO/IEC 13818-7) — the same structural pattern for the
# other ubiquitous compressed-audio transport. ADTS and MPEG audio
# sync words are mutually exclusive to these parsers: an ADTS header
# carries layer bits 00, which parse_frame_header rejects as
# "reserved layer", and an MPEG audio header carries layer != 0,
# which parse_adts_header rejects — so the sniffers cannot cross-
# classify. Sample decode stays an honest stub (no AAC decoder in
# the container); the FRAME layer is pure header arithmetic: 1024
# samples per raw data block, frame byte length carried in the
# header, so duration / truncation / parameter-change detection are
# exactly replayable by contract oracles.
# ---------------------------------------------------------------------------

_ADTS_RATES = [96000, 88200, 64000, 48000, 44100, 32000, 24000,
               22050, 16000, 12000, 11025, 8000, 7350]
_ADTS_PROFILES = ("main", "lc", "ssr", "ltp")


def parse_adts_header(hdr: bytes) -> dict:
    """Decode one ADTS fixed+variable header (7 bytes; CRC-protected
    frames carry 2 extra check bytes counted in ``header_bytes``).
    ValueError on bad sync, nonzero layer, or reserved/forbidden
    sample-rate index."""
    if len(hdr) < 7:
        raise ValueError("truncated ADTS header")
    if hdr[0] != 0xFF or (hdr[1] & 0xF0) != 0xF0:
        raise ValueError("bad ADTS sync word")
    if (hdr[1] >> 1) & 3 != 0:
        raise ValueError("ADTS layer bits must be 0")
    mpeg2 = bool((hdr[1] >> 3) & 1)
    crc = not (hdr[1] & 1)
    profile = (hdr[2] >> 6) & 3
    ridx = (hdr[2] >> 2) & 0xF
    if ridx >= 13:
        raise ValueError("reserved/forbidden ADTS sample-rate index")
    chan = ((hdr[2] & 1) << 2) | (hdr[3] >> 6)
    frame_len = ((hdr[3] & 3) << 11) | (hdr[4] << 3) | (hdr[5] >> 5)
    header_bytes = 9 if crc else 7
    if frame_len < header_bytes:
        raise ValueError("ADTS frame length smaller than its header")
    fullness = ((hdr[5] & 0x1F) << 6) | (hdr[6] >> 2)
    blocks = (hdr[6] & 3) + 1
    return {
        "mpeg_version": "2" if mpeg2 else "4",
        "crc": crc,
        "profile": _ADTS_PROFILES[profile],
        "sample_rate": _ADTS_RATES[ridx],
        "channel_config": chan,
        # config 1-6 = that many channels; 7 = 7.1 (8); 0 = PCE
        # in-band (unknown without parsing the raw block)
        "channels": (8 if chan == 7 else chan if chan >= 1 else None),
        "frame_bytes": frame_len,
        "samples": 1024 * blocks,
        "raw_blocks": blocks,
        "fullness": fullness,
        "header_bytes": header_bytes,
    }


def sniff_adts(data: bytes) -> bool:
    """True when the payload starts with a valid ADTS frame header
    (after a leading ID3v2 tag, when present)."""
    if data is None or len(data) < 7:
        return False
    try:
        off = _id3v2_size(data)
        parse_adts_header(data[off:off + 7])
        return True
    except ValueError:
        return False


def audit_adts(data: bytes) -> dict:
    """Walk the full ADTS frame chain; structural report:

    ``{"ok", "message", "n_frames", "duration_ms", "sample_rate",
    "profile", "channels", "crc_frames", "raw_blocks",
    "buffer_fullness_vbr", "id3v2"}``

    ok=False (with a message) on truncation, bad sync mid-stream, or
    mid-stream profile/sample-rate/channel changes. Duration is exact
    integer math: Σ(1024·raw_blocks)·1000 // sample_rate.
    ``buffer_fullness_vbr`` is True when every frame signals 0x7FF
    (the encoder's VBR marker)."""
    out = {
        "ok": False, "message": None, "n_frames": 0,
        "duration_ms": None, "sample_rate": None, "profile": None,
        "channels": None, "crc_frames": 0, "raw_blocks": 0,
        "buffer_fullness_vbr": None, "id3v2": False,
    }
    try:
        off = _id3v2_size(data)
        out["id3v2"] = off > 0
        if off > len(data):
            raise ValueError("ID3v2 tag longer than the payload")
        end = len(data)
        first = None
        samples = 0
        all_vbr = True
        while off < end:
            h = parse_adts_header(data[off:off + 7])
            if first is None:
                first = h
                out.update(
                    sample_rate=h["sample_rate"],
                    profile=h["profile"], channels=h["channels"],
                )
            elif (h["sample_rate"], h["profile"],
                  h["channel_config"]) != (
                    first["sample_rate"], first["profile"],
                    first["channel_config"]):
                raise ValueError(
                    f"stream parameters change at frame"
                    f" {out['n_frames']}")
            if off + h["frame_bytes"] > end:
                raise ValueError(
                    f"frame {out['n_frames']} truncated"
                    f" ({end - off} of {h['frame_bytes']} bytes)")
            samples += h["samples"]
            out["n_frames"] += 1
            out["crc_frames"] += 1 if h["crc"] else 0
            out["raw_blocks"] += h["raw_blocks"]
            all_vbr = all_vbr and h["fullness"] == 0x7FF
            off += h["frame_bytes"]
        if out["n_frames"] == 0:
            raise ValueError("no ADTS frames")
        out["duration_ms"] = samples * 1000 // first["sample_rate"]
        out["buffer_fullness_vbr"] = all_vbr
        out["ok"] = True
    except ValueError as e:
        out["message"] = str(e)[:160]
    return out


def build_adts_frame(*, sample_rate: int = 44100,
                     channel_config: int = 2,
                     profile: str = "lc",
                     payload: int = 64,
                     crc: bool = False,
                     raw_blocks: int = 1,
                     fullness: int = 0x7FF,
                     mpeg2: bool = False) -> bytes:
    """Spec-valid ADTS frame with a zeroed raw data block —
    deterministic fixture material (the payload is NOT decodable AAC
    and does not claim to be; CRC check bytes are zeroed)."""
    try:
        ridx = _ADTS_RATES.index(sample_rate)
    except ValueError:
        raise ValueError(f"not an ADTS sample rate: {sample_rate}")
    try:
        pidx = _ADTS_PROFILES.index(profile)
    except ValueError:
        raise ValueError(f"not an ADTS profile: {profile!r}")
    if not 0 <= channel_config <= 7:
        raise ValueError("channel_config must be in [0, 7]")
    if not 1 <= raw_blocks <= 4:
        raise ValueError("raw_blocks must be in [1, 4]")
    if not 0 <= fullness <= 0x7FF:
        raise ValueError("fullness must fit 11 bits")
    header_bytes = 9 if crc else 7
    frame_len = header_bytes + int(payload)
    if frame_len >= (1 << 13):
        raise ValueError("ADTS frame length exceeds 13 bits")
    b = bytearray(7)
    b[0] = 0xFF
    b[1] = 0xF0 | (int(mpeg2) << 3) | (0 << 1) | (0 if crc else 1)
    b[2] = (pidx << 6) | (ridx << 2) | (channel_config >> 2)
    b[3] = ((channel_config & 3) << 6) | ((frame_len >> 11) & 3)
    b[4] = (frame_len >> 3) & 0xFF
    b[5] = ((frame_len & 7) << 5) | (fullness >> 6)
    b[6] = ((fullness & 0x3F) << 2) | (raw_blocks - 1)
    if crc:
        b += b"\x00\x00"
    return bytes(b) + b"\x00" * int(payload)
