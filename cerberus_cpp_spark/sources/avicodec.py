"""AVI (RIFF) container with MJPEG video — mux/demux in pure stdlib.

Upgrades the video half of the multimodal operators from an honest
stub to a real format: Motion-JPEG-in-AVI is a public, widely
supported container (every frame is an independent baseline JPEG —
decoded by ``jpegcodec``), and the RIFF structure is simple enough
to implement exactly with no external library. Inter-frame codecs
(h264/vp9/av1) remain stubbed — they genuinely need ffmpeg.

Writer layout: ``RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh
strf)) LIST('movi' '00dc'...) idx1)``. The reader only requires
``strh`` (for fps) and the ``movi`` chunks, so it also accepts
files written by other MJPEG muxers.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpegcodec import decode_jpeg, encode_jpeg


def _chunk(tag: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) & 1 else b""
    return tag + struct.pack("<I", len(payload)) + payload + pad


def _list(tag: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", tag + payload)


def encode_avi_mjpeg(frames: list[bytes], *, width: int, height: int,
                     fps: int = 30) -> bytes:
    """Mux pre-encoded JPEG frames into an AVI-MJPEG stream."""
    if not frames:
        raise ValueError("no frames")
    n = len(frames)
    max_size = max(len(f) for f in frames)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,        # microseconds per frame
        max_size * fps,          # max bytes/sec (upper bound)
        0,                       # padding granularity
        0x10,                    # AVIF_HASINDEX
        n, 0, 1, max_size,
        width, height, 0, 0, 0, 0,
    )
    strh = (b"vids" + b"MJPG"
            + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0,
                          1, fps,          # scale, rate -> fps
                          0, n, max_size, 0xFFFFFFFF, 0, 0)
            + struct.pack("<HHHH", 0, 0, width, height))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24,
                       b"MJPG", width * height * 3, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))
    movi_payload = b"".join(_chunk(b"00dc", f) for f in frames)
    movi = _list(b"movi", movi_payload)
    idx = bytearray()
    off = 4  # offsets relative to the start of 'movi' tag data
    for f in frames:
        idx += b"00dc" + struct.pack("<III", 0x10, off, len(f))
        off += 8 + len(f) + (len(f) & 1)
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def demux_avi_mjpeg(data: bytes) -> tuple[float, list[bytes]]:
    """AVI bytes -> (fps, list of JPEG frame payloads).

    Walks the RIFF tree; accepts any stream whose frames live in
    ``00dc``/``00db`` chunks inside LIST('movi'). Raises ValueError
    for non-AVI or non-MJPEG streams."""
    try:
        return _demux_avi_mjpeg(data)
    except struct.error as e:
        raise ValueError(f"malformed AVI stream: {e}") from e


def _demux_avi_mjpeg(data: bytes) -> tuple[float, list[bytes]]:
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    fps = 30.0
    frames: list[bytes] = []
    compression = None

    def walk(lo: int, hi: int) -> None:
        nonlocal fps, compression
        pos = lo
        while pos + 8 <= hi:
            tag = data[pos:pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
            body_lo = pos + 8
            body_hi = min(body_lo + size, hi)
            if tag == b"LIST":
                walk(body_lo + 4, body_hi)  # skip the list type tag
            elif tag == b"strh" and size >= 32:
                stype = data[body_lo:body_lo + 4]
                if stype == b"vids":
                    scale, rate = struct.unpack(
                        "<II", data[body_lo + 20:body_lo + 28])
                    if scale and rate:
                        fps = rate / scale
                    handler = data[body_lo + 4:body_lo + 8]
                    compression = handler
            elif tag in (b"00dc", b"00db"):
                frames.append(data[body_lo:body_hi])
            pos = body_lo + size + (size & 1)

    walk(12, len(data))
    if not frames:
        raise ValueError("no video frames found")
    if compression is not None and compression not in (
            b"MJPG", b"mjpg", b"\x00\x00\x00\x00"):
        raise ValueError(
            f"codec {compression!r} unsupported: only MJPEG decodes "
            "without ffmpeg")
    for f in frames:
        if f[:3] != b"\xff\xd8\xff":
            raise ValueError("frame is not a JPEG stream (not MJPEG)")
    return fps, frames


def sniff_avi(data: bytes) -> bool:
    return (data is not None and len(data) >= 12
            and data[:4] == b"RIFF" and data[8:12] == b"AVI ")


def decode_frame(frame: bytes) -> np.ndarray:
    """One MJPEG frame -> (h, w, 3) uint8 RGB."""
    return decode_jpeg(frame)


def synth_clip(clip_seed: int, n_frames: int, w: int = 16, h: int = 16,
               fps: int = 30, quality: int = 95) -> bytes:
    """Deterministic test clip: each frame is the seeded gradient
    shifted per frame index, JPEG-encoded, muxed as AVI-MJPEG."""
    from .imagegen import synth_pixels

    frames = [
        encode_jpeg(synth_pixels(clip_seed + 977 * k, w, h),
                    quality=quality)
        for k in range(n_frames)
    ]
    return encode_avi_mjpeg(frames, width=w, height=h, fps=fps)
