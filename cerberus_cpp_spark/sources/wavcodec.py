"""RIFF/WAVE PCM audio codec (pure stdlib+numpy; public format).

Upgrades the audio half of the multimodal operators from an honest
stub to a real decoder: WAV (PCM 8/16-bit, any channel count) is the
one audio container implementable exactly with no external codec
library, the same role PNG/baseline-JPEG play for the image column.
Compressed formats (mp3/aac/ogg) remain stubbed — they genuinely
need external decoders.

Layout (RIFF spec): ``RIFF<size>WAVE`` followed by chunks; ``fmt ``
carries (audio_format, channels, sample_rate, byte_rate,
block_align, bits_per_sample); ``data`` carries interleaved PCM
frames. All little-endian.
"""

from __future__ import annotations

import struct

import numpy as np


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """(n,) or (n, channels) int16 PCM -> WAV bytes."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    if s.ndim != 2:
        raise ValueError("expected (n,) or (n, channels) samples")
    nch = s.shape[1]
    data = s.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, nch, sample_rate,
                      sample_rate * nch * 2, nch * 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes -> (sample_rate, int16 array (n, channels)).

    Accepts PCM 8-bit (rescaled to int16 range by <<8 after the
    unsigned->signed shift) and 16-bit. Raises ValueError on
    non-PCM (compressed) streams or malformed chunks."""
    try:
        return _decode_wav(data)
    except struct.error as e:
        raise ValueError(f"malformed WAV stream: {e}") from e


def _decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos = 12
    fmt = None
    pcm = None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        payload = data[pos + 8:pos + 8 + size]
        if tag == b"fmt ":
            if size < 16:
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", payload[:16])
        elif tag == b"data":
            pcm = payload
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, nch, rate, _, _, bits = fmt
    if audio_format != 1:
        raise ValueError(
            f"compressed WAV (format tag {audio_format}) unsupported: "
            "only PCM decodes without an external codec")
    if nch < 1:
        raise ValueError("invalid channel count")
    if rate < 1:
        raise ValueError("invalid sample rate")  # div-by-zero guard
    if bits == 16:
        arr = np.frombuffer(pcm[: len(pcm) // (2 * nch) * 2 * nch],
                            dtype="<i2")
    elif bits == 8:  # WAV 8-bit is unsigned
        raw = np.frombuffer(pcm[: len(pcm) // nch * nch], dtype=np.uint8)
        arr = ((raw.astype(np.int16) - 128) << 8)
    else:
        raise ValueError(f"{bits}-bit PCM unsupported")
    return rate, arr.reshape(-1, nch)


def sniff_wav(data: bytes) -> bool:
    return (data is not None and len(data) >= 12
            and data[:4] == b"RIFF" and data[8:12] == b"WAVE")


def wav_header_info(data: bytes) -> dict:
    """Structure-level WAV info WITHOUT touching samples (the audio
    analogue of ``imagegen.image_header_info``): chunk walk to the
    fmt + data chunks only. Integer-exact duration:
    ``n_samples * 1000 // rate``. ValueError on structural damage."""
    if not sniff_wav(data):
        raise ValueError("not a RIFF/WAVE stream")
    pos = 12
    fmt = data_size = None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        if pos + 8 + size > len(data):
            raise ValueError(f"chunk {tag!r} overruns the payload")
        if tag == b"fmt ":
            if size < 16:
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", data[pos + 8:pos + 24])
        elif tag == b"data":
            data_size = size
        pos += 8 + size + (size & 1)
    if fmt is None or data_size is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, nch, rate, _, _, bits = fmt
    if nch < 1 or rate < 1 or bits not in (8, 16):
        raise ValueError("invalid fmt fields")
    n_samples = data_size // (max(bits // 8, 1) * nch)
    return {
        "pcm": audio_format == 1, "channels": nch,
        "sample_rate": rate, "bits": bits, "n_samples": n_samples,
        "duration_ms": n_samples * 1000 // rate,
    }


def synth_pcm(clip_seed: int, n_samples: int) -> np.ndarray:
    """Deterministic integer test waveform: sum of two sawtooth waves
    whose periods derive from the seed. Pure integer arithmetic (no
    libm) so a SQL oracle can regenerate it bit-exactly."""
    p1 = 20 + clip_seed % 41
    p2 = 50 + clip_seed % 97
    i = np.arange(n_samples, dtype=np.int64)
    w1 = (i % p1) * 16000 // p1 - 8000
    w2 = (i % p2) * 8000 // p2 - 4000
    return (w1 + w2).astype(np.int16)
