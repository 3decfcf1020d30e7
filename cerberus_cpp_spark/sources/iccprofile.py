"""ICC colour-profile structure (ISO 15076-1 / ICC.1:2010 §7) —
header + tag table, build AND parse, no colorimetry.

Why the validation engine cares: crawled images carry ICC payloads
in JPEG ``APP2`` segments and WebP ``ICCP`` chunks
(``sources/imagemeta.py`` / ``sources/webpx.py`` extract them); a
corrupt or lying profile silently shifts every downstream pixel
statistic that honours colour management, and the header fields
(device class, colour space, PCS, rendering intent, version) are row
metadata the 10^12-row tier can audit in microseconds without
touching pixels — the same tier as the EXIF consistency rule.
Reference analogue: the metadata `allowed`-values rules
(rules.hh:79-100) applied to a binary container.

The 128-byte header layout (§7.2): u32 profile size, CMM type,
4-byte version (major, minor<<4|bugfix, two reserved zero bytes),
device-class / colour-space / PCS signatures, 12-byte dateTimeNumber,
the REQUIRED ``acsp`` magic at offset 36, platform, flags, device
manufacturer/model, attributes, u32 rendering intent (0..3), PCS
illuminant, creator, profile ID, 28 reserved bytes. Then the tag
table: u32 count + count × (signature, offset, size), offsets
relative to the profile start, payloads inside the declared size.
"""

from __future__ import annotations

import struct

ACSP = b"acsp"
INTENTS = {0: "perceptual", 1: "relative", 2: "saturation",
           3: "absolute"}

# nominal D50 PCS illuminant, s15Fixed16 (§7.2.16)
_D50 = (0x0000F6D6, 0x00010000, 0x0000D32D)


def _sig(s: str) -> bytes:
    b = s.encode("ascii")
    if len(b) != 4:
        raise ValueError(f"signature must be 4 bytes: {s!r}")
    return b


def build_icc_profile(
    *,
    profile_class: str = "mntr",
    color_space: str = "RGB ",
    pcs: str = "XYZ ",
    version: tuple[int, int] = (4, 3),
    rendering_intent: int = 0,
    creation: tuple[int, int, int, int, int, int] = (2026, 1, 1,
                                                     0, 0, 0),
    tags: list[tuple[str, bytes]] | None = None,
) -> bytes:
    """A structurally valid profile: header + tag table + payloads.
    ``tags`` default to a minimal description + white point; payload
    bytes are caller-controlled so fixture sizes stay arithmetic."""
    if rendering_intent not in INTENTS:
        raise ValueError("rendering_intent must be 0..3")
    if tags is None:
        tags = [("desc", b"\x00" * 12), ("wtpt", b"\x00" * 12)]
    n = len(tags)
    head_and_table = 128 + 4 + 12 * n
    size = head_and_table + sum(len(p) for _, p in tags)
    hdr = struct.pack(
        ">I4s4B4s4s4s6H4s", size, b"ccsp",
        version[0], (version[1] << 4) & 0xFF, 0, 0,
        _sig(profile_class), _sig(color_space), _sig(pcs),
        *creation, ACSP)
    hdr += b"\x00" * 4              # platform (may be zero)
    hdr += b"\x00" * 4              # flags
    hdr += b"\x00" * 8              # manufacturer + model
    hdr += b"\x00" * 8              # attributes
    hdr += struct.pack(">I", rendering_intent)
    hdr += struct.pack(">3i", *_D50)
    hdr += b"\x00" * 4              # creator
    hdr += b"\x00" * 16             # profile ID
    hdr += b"\x00" * 28             # reserved
    assert len(hdr) == 128
    table = struct.pack(">I", n)
    cursor = head_and_table
    for sig, payload in tags:
        table += _sig(sig) + struct.pack(">II", cursor, len(payload))
        cursor += len(payload)
    return hdr + table + b"".join(p for _, p in tags)


def parse_icc_header(data: bytes) -> dict:
    """Header fields + tag-table audit. Raises ``ValueError`` on
    structural damage (short stream, missing ``acsp``, tag table or
    payload out of the DECLARED bounds) — audit operators route
    those rows, never trust them. Size mismatch between declared and
    actual is REPORTED, not raised (a stripped-but-readable profile
    is a finding, not garbage)."""
    if len(data) < 132:
        raise ValueError("ICC profile shorter than header+count")
    if data[36:40] != ACSP:
        raise ValueError("ICC header missing 'acsp' signature")
    declared = struct.unpack_from(">I", data, 0)[0]
    vmaj = data[8]
    vmin = data[9] >> 4
    (n_tags,) = struct.unpack_from(">I", data, 128)
    if 132 + 12 * n_tags > len(data):
        raise ValueError("ICC tag table overruns the stream")
    bound = min(declared, len(data))
    tags = []
    for i in range(n_tags):
        sig, off, sz = struct.unpack_from(">4sII", data,
                                          132 + 12 * i)
        if off + sz > bound:
            raise ValueError(
                f"ICC tag {sig!r} payload out of bounds")
        tags.append((sig.decode("latin-1"), off, sz))
    return {
        "declared_size": declared,
        "actual_size": len(data),
        "version_major": vmaj,
        "version_minor": vmin,
        "profile_class": data[12:16].decode("latin-1"),
        "color_space": data[16:20].decode("latin-1"),
        "pcs": data[20:24].decode("latin-1"),
        "rendering_intent": struct.unpack_from(">I", data, 64)[0],
        "n_tags": n_tags,
        "tags": tags,
    }
