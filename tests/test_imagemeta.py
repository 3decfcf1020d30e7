"""Image-metadata layer (``sources/imagemeta.py``): EXIF block
build/parse, per-format embed/extract roundtrips, the Spark
extraction + consistency operators, and an ImageIO pin that
metadata-bearing JPEG/PNG hosts stay decodable by an independent
reader."""

import shutil
import struct
import subprocess
import zlib

import numpy as np
import pytest

from cerberus_cpp_spark.sources import imagemeta as M
from cerberus_cpp_spark.sources.imagegen import (
    decode_image,
    encode_pixels,
    synth_pixels,
)
from cerberus_cpp_spark.sources.tiffcodec import decode_tiff, encode_tiff

PX = synth_pixels(7, 12, 9)

FULL = dict(description="a cat photo", orientation=6,
            software="camrig", datetime_str="2026:08:18 10:00:00",
            pixel_x=12, pixel_y=9)


@pytest.mark.parametrize("bo", ["<", ">"])
def test_exif_block_roundtrip(bo):
    ex = M.build_exif(byte_order=bo, **FULL)
    assert M.parse_exif(ex) == {
        "description": "a cat photo", "orientation": 6,
        "software": "camrig", "datetime": "2026:08:18 10:00:00",
        "pixel_x": 12, "pixel_y": 9}


def test_exif_partial_and_empty():
    assert M.parse_exif(M.build_exif(orientation=1)) == {
        "description": None, "orientation": 1, "software": None,
        "datetime": None, "pixel_x": None, "pixel_y": None}
    assert M.parse_exif(M.build_exif())["orientation"] is None


def test_jpeg_embed_extract_and_decode():
    jp = encode_pixels(PX, "jpeg")
    ex = M.build_exif(**FULL)
    jp2 = M.jpeg_insert_metadata(jp, exif=ex, xmp=b"<xmp/>",
                                 icc=b"\x00" * 10, comment="hi")
    m = M.jpeg_metadata(jp2)
    assert m["exif"] == ex and m["xmp"] == b"<xmp/>"
    assert m["icc"] == b"\x00" * 10 and m["comment"] == "hi"
    fmt, dec = decode_image(jp2)
    assert fmt == "jpeg" and dec.shape == (9, 12, 3)
    u = M.image_metadata(jp2)
    assert u["exif"]["orientation"] == 6 and u["has_icc"] and u["has_xmp"]


def test_jpeg_multisegment_icc():
    jp = encode_pixels(PX, "jpeg")
    icc = bytes(range(256)) * 600  # > one APP2 segment
    jp2 = M.jpeg_insert_metadata(jp, icc=icc)
    assert M.jpeg_metadata(jp2)["icc"] == icc


def test_png_embed_extract_and_decode():
    pn = encode_pixels(PX, "png")
    ex = M.build_exif(**FULL)
    pn2 = M.png_insert_metadata(pn, exif=ex,
                                text={"Title": "cat", "Author": "rig"})
    m = M.png_metadata(pn2)
    assert m["exif"] == ex
    assert m["text"] == {"Title": "cat", "Author": "rig"}
    fmt, dec = decode_image(pn2)
    assert fmt == "png" and np.array_equal(dec, PX)


def test_png_ztxt_itxt_paths():
    pn = encode_pixels(PX, "png")

    def chunk(tag, payload):
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I",
                              zlib.crc32(tag + payload) & 0xFFFFFFFF))

    ihdr_end = 8 + 12 + 13
    zt = chunk(b"zTXt", b"Zkey\x00\x00" + zlib.compress(b"zval"))
    it = chunk(b"iTXt", b"Ikey\x00\x01\x00en\x00\x00"
               + zlib.compress("ival✓".encode()))
    it2 = chunk(b"iTXt", b"Jkey\x00\x00\x00\x00\x00plain")
    pn3 = pn[:ihdr_end] + zt + it + it2 + pn[ihdr_end:]
    assert M.png_metadata(pn3)["text"] == {
        "Zkey": "zval", "Ikey": "ival✓", "Jkey": "plain"}


def test_tiff_meta_tags():
    tf = encode_tiff(PX, compression="lzw", meta_tags={
        270: "a cat photo", 274: 6, 305: "camrig",
        40962: 12, 40963: 9})
    assert np.array_equal(decode_tiff(tf), PX)
    u = M.image_metadata(tf)
    assert u["exif"]["description"] == "a cat photo"
    assert u["exif"]["orientation"] == 6
    assert (u["exif"]["pixel_x"], u["exif"]["pixel_y"]) == (12, 9)


def test_webp_exif_chunk():
    from cerberus_cpp_spark.sources.webpx import encode_webp_vp8x

    rgba = np.dstack([PX, np.full(PX.shape[:2], 255, np.uint8)])
    ex = M.build_exif(orientation=3, pixel_x=12, pixel_y=9)
    wp = encode_webp_vp8x(rgba, lossy=False, exif=ex, xmp=b"<x/>")
    u = M.image_metadata(wp)
    assert u["fmt"] == "webp" and u["exif"]["orientation"] == 3
    assert u["has_xmp"] and not u["has_icc"]


def test_gif_comments():
    from cerberus_cpp_spark.sources.gifcodec import encode_gif

    g = encode_gif(PX & 0xC0)
    assert g[-1] == 0x3B
    gc = g[:-1] + b"\x21\xFE\x05hello\x00\x3B"
    assert M.gif_comments(gc) == ["hello"]
    assert M.image_metadata(gc)["comment"] == "hello"
    fmt, _ = decode_image(gc)  # decoder skips the comment block
    assert fmt == "gif"


def test_formats_without_metadata():
    bm = encode_pixels(PX, "bmp")
    u = M.image_metadata(bm)
    assert u["fmt"] == "bmp" and u["exif"] is None
    with pytest.raises(ValueError):
        M.image_metadata(b"garbage not an image")


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def _meta_frame(spark, n=80):
    from pyspark.sql import functions as F

    from cerberus_cpp_spark.functions.shipping import PKG_PARENT

    pkg_parent = PKG_PARENT
    df = spark.range(0, n, 1, 4)

    def gen(batches):
        import sys

        import pandas as pd

        if pkg_parent not in sys.path:
            sys.path.insert(0, pkg_parent)
        from cerberus_cpp_spark.sources.imagegen import (
            encode_pixels as ep,
            pixel_seed,
            synth_pixels as sp,
        )
        from cerberus_cpp_spark.sources.imagemeta import (
            build_exif,
            jpeg_insert_metadata,
            png_insert_metadata,
        )

        def payload(i):
            if i % 10 == 9:
                return None
            w, h = 8 + i % 9, 8 + i % 7
            px = sp(pixel_seed(i, 42), w, h)
            ew = w + 1 if i % 10 == 3 else w
            o = 9 if i % 10 == 5 else (6 if i % 10 == 7 else 1)
            ew2, eh = (h, w) if i % 10 == 7 else (ew, h)
            ex = build_exif(description=f"img {i}", orientation=o,
                            pixel_x=ew2, pixel_y=eh)
            if i % 2 == 0:
                return jpeg_insert_metadata(ep(px, "jpeg"), exif=ex)
            return png_insert_metadata(ep(px, "png"), exif=ex,
                                       text={"Title": f"t{i}"})

        for pdf in batches:
            yield pd.DataFrame({
                "image_id": [f"img-{int(i):04d}" for i in pdf["id"]],
                "bytes": [payload(int(i)) for i in pdf["id"]],
            })

    return df.mapInPandas(gen, schema="image_id string, bytes binary")


def test_exif_consistency_operator(spark):
    from cerberus_cpp_spark.operators.image_checks import (
        exif_consistency_violations,
    )

    frame = _meta_frame(spark)
    got = {(r["image_id"], r["path"])
           for r in exif_consistency_violations(frame).collect()}
    # i%10==3 → dims off by one; i%10==5 → invalid orientation;
    # i%10==7 → swapped dims WITH orientation 6 → accepted;
    # i%10==9 → no payload
    for i in range(80):
        rid = f"img-{i:04d}"
        if i % 10 == 3:
            assert (rid, "^.exif") in got
        elif i % 10 == 5:
            assert (rid, "^.exif.orientation") in got
        elif i % 10 == 9:
            assert (rid, "^.bytes") in got
        else:
            assert not any(k[0] == rid for k in got), (rid, got)
    # strict mode flags the swapped-dims family too (unless square)
    strict = {(r["image_id"], r["path"]) for r in
              exif_consistency_violations(
                  frame, allow_orientation_swap=False).collect()}
    for i in range(80):
        if i % 10 == 7 and (8 + i % 9) != (8 + i % 7):
            assert (f"img-{i:04d}", "^.exif") in strict


# ---------------------------------------------------------------------------
# ImageIO pin: metadata-bearing hosts stay decodable elsewhere
# ---------------------------------------------------------------------------

JAVA_SRC = r"""
import javax.imageio.*;
import java.awt.image.*;
import java.io.*;

public class MetaRead {
  public static void main(String[] a) throws Exception {
    BufferedImage img = ImageIO.read(new File(a[0]));
    if (img == null) throw new RuntimeException("unreadable");
    System.out.println(img.getWidth() + "x" + img.getHeight());
  }
}
"""


def test_imageio_reads_metadata_hosts(tmp_path):
    if shutil.which("javac") is None or shutil.which("java") is None:
        pytest.skip("no JDK in container")
    (tmp_path / "MetaRead.java").write_text(JAVA_SRC)
    r = subprocess.run(["javac", "MetaRead.java"], cwd=tmp_path,
                       capture_output=True, text=True)
    if r.returncode != 0:
        pytest.skip(f"javac failed: {r.stderr[:200]}")
    ex = M.build_exif(**FULL)
    hosts = {
        "j.jpg": M.jpeg_insert_metadata(
            encode_pixels(PX, "jpeg"), exif=ex, xmp=b"<x/>",
            icc=b"\x01" * 9000, comment="c"),
        "p.png": M.png_insert_metadata(
            encode_pixels(PX, "png"), exif=ex, text={"Title": "t"}),
        "t.tif": encode_tiff(PX, meta_tags={270: "d", 274: 6,
                                            40962: 12, 40963: 9}),
    }
    for name, blob in hosts.items():
        (tmp_path / name).write_bytes(blob)
        rr = subprocess.run(["java", "MetaRead", name], cwd=tmp_path,
                            capture_output=True, text=True, timeout=120)
        assert rr.returncode == 0, (name, rr.stderr[:400])
        assert rr.stdout.strip() == "12x9", (name, rr.stdout)


def _px(i: int = 3, w: int = 16, h: int = 12):
    from cerberus_cpp_spark.sources.imagegen import pixel_seed

    return synth_pixels(pixel_seed(i, 42), w, h)


def test_strip_jpeg_full_kinds():
    raw = encode_pixels(_px(), "jpeg")
    tagged = M.jpeg_insert_metadata(
        raw, exif=M.build_exif(description="d", orientation=3),
        xmp=b"<x/>", icc=b"I" * 70000, comment="c")
    stripped, removed = M.strip_metadata(tagged)
    assert removed == ["comment", "exif", "icc", "xmp"]
    m = M.image_metadata(stripped)
    assert m["exif"] is None and m["comment"] is None
    assert not m["has_icc"] and not m["has_xmp"]
    _, p1 = decode_image(tagged)
    _, p2 = decode_image(stripped)
    assert np.array_equal(p1, p2)
    # idempotent + clean container byte-identical
    again, r2 = M.strip_metadata(stripped)
    assert again == stripped and r2 == []
    assert M.strip_metadata(raw) == (raw, [])


def test_strip_png_chunks():
    raw = encode_pixels(_px(), "png")
    tagged = M.png_insert_metadata(
        raw, exif=M.build_exif(orientation=1), text={"Author": "a"})
    stripped, removed = M.strip_metadata(tagged)
    assert removed == ["exif", "text"]
    m = M.image_metadata(stripped)
    assert m["exif"] is None and not m["text"]
    _, p1 = decode_image(tagged)
    _, p2 = decode_image(stripped)
    assert np.array_equal(p1, p2)


def test_strip_webp_vp8x_flags_cleared():
    from cerberus_cpp_spark.sources.webpx import (
        decode_webp_rgba_any,
        encode_webp_vp8x,
        webp_features,
    )

    px = _px()
    rgba = np.dstack([px, np.full(px.shape[:2], 255, np.uint8)])
    wp = encode_webp_vp8x(rgba, lossy=False,
                          exif=M.build_exif(orientation=1),
                          icc=b"P" * 64, xmp=b"<x/>")
    stripped, removed = M.strip_metadata(wp)
    assert removed == ["exif", "icc", "xmp"]
    f = webp_features(stripped)
    assert not f["has_exif"] and not f["has_icc"] and not f["has_xmp"]
    assert np.array_equal(decode_webp_rgba_any(wp),
                          decode_webp_rgba_any(stripped))
    # simple (non-VP8X) container: byte-identical, nothing to strip
    simple = encode_pixels(px, "webp")
    assert M.strip_metadata(simple) == (simple, [])


def test_strip_gif_comment_and_animation_safe():
    from cerberus_cpp_spark.sources.gifcodec import (
        GifFrame,
        decode_gif_frames,
        encode_gif_anim,
    )

    g = encode_gif_anim([GifFrame(rgb=_px(i, 8, 6), delay_cs=10)
                         for i in range(3)])
    flags = g[10]
    gct = (3 * (2 << (flags & 7))) if flags & 0x80 else 0
    he = 13 + gct
    tagged = g[:he] + b"\x21\xFE\x05hello\x00" + g[he:]
    stripped, removed = M.strip_metadata(tagged)
    assert removed == ["comment"] and stripped == g
    a = decode_gif_frames(tagged)
    b = decode_gif_frames(stripped)
    assert len(a) == len(b) == 3
    assert all(np.array_equal(x[0], y[0]) for x, y in zip(a, b))


def test_strip_refuses_structural_formats():
    with pytest.raises(ValueError, match="unsupported for format"):
        M.strip_metadata(encode_pixels(_px(), "tiff"))
    with pytest.raises(ValueError, match="unsupported for format"):
        M.strip_metadata(encode_pixels(_px(), "bmp"))


def test_strip_image_metadata_operator(spark):
    from cerberus_cpp_spark.operators.image_checks import (
        strip_image_metadata,
    )

    raw = encode_pixels(_px(), "jpeg")
    tagged = M.jpeg_insert_metadata(
        raw, exif=M.build_exif(orientation=1), comment="c")
    tif = encode_pixels(_px(), "tiff")
    df = spark.createDataFrame(
        [(0, bytearray(tagged)), (1, bytearray(raw)),
         (2, bytearray(tif)), (3, None), (4, bytearray(b"garbage"))],
        "image_id long, bytes binary")
    rows = {r["image_id"]: r for r in
            strip_image_metadata(df).collect()}
    assert rows[0]["status"] == "ok"
    assert rows[0]["removed"] == "comment,exif"
    assert rows[0]["bytes_saved"] > 0
    assert rows[1]["status"] == "ok" and rows[1]["removed"] == ""
    assert bytes(rows[1]["stripped"]) == raw
    assert rows[2]["status"] == "unsupported"
    assert bytes(rows[2]["stripped"]) == tif
    assert rows[3]["status"] == "no_payload"
    assert rows[4]["status"] == "malformed"
    assert rows[4]["stripped"] is None
    # keep_original passthrough
    both = strip_image_metadata(df.where("image_id = 0"),
                                keep_original=True).collect()[0]
    assert bytes(both["original"]) == tagged


def test_strip_rejects_truncated_containers():
    """ADVICE r4 (medium): truncated/malformed containers must raise —
    returning partial bytes would ship corrupt payloads labelled
    status='ok' through strip_image_metadata."""
    # JPEG cut mid-segment (declared length overruns the buffer) and
    # cut before SOS/EOI.
    raw = encode_pixels(_px(), "jpeg")
    tagged = M.jpeg_insert_metadata(raw, comment="hello world")
    with pytest.raises(ValueError, match="overruns|before SOS"):
        M.strip_metadata(tagged[:8])  # SOI + APP0 header, body cut
    # Build a marker stream that ends cleanly after a full segment but
    # before SOS: SOI + COM segment only.
    no_sos = b"\xff\xd8" + b"\xff\xfe\x00\x04hi"
    with pytest.raises(ValueError, match="before SOS"):
        M.strip_metadata(no_sos)
    # PNG whose chunk length overruns, and PNG missing IEND.
    png = encode_pixels(_px(), "png")
    with pytest.raises(ValueError, match="overruns"):
        # overwrite the IHDR chunk's length field with 0xffffffff
        M.strip_metadata(png[:8] + b"\xff\xff\xff\xff" + png[12:])
    assert png[-12:-8] == b"\x00\x00\x00\x00" and png[-8:-4] == b"IEND"
    with pytest.raises(ValueError, match="missing IEND"):
        M.strip_metadata(png[:-12])
    # GIF cut before the 0x3B trailer / mid-sub-block.
    gif = encode_pixels(_px(), "gif")
    assert gif[-1] == 0x3B
    with pytest.raises(ValueError, match="overrun|before trailer"):
        M.strip_metadata(gif[:-1])
    with pytest.raises(ValueError, match="overrun|before trailer"):
        M.strip_metadata(gif[: len(gif) // 2])


def test_strip_operator_routes_truncation_malformed(spark):
    from cerberus_cpp_spark.operators.image_checks import (
        strip_image_metadata,
    )

    png = encode_pixels(_px(), "png")
    jp = encode_pixels(_px(), "jpeg")
    df = spark.createDataFrame(
        [(0, bytearray(png[:-12])), (1, bytearray(jp[:8])),
         (2, bytearray(png))],
        "image_id long, bytes binary")
    rows = {r["image_id"]: r for r in
            strip_image_metadata(df).collect()}
    assert rows[0]["status"] == "malformed"
    assert rows[0]["stripped"] is None
    assert rows[1]["status"] == "malformed"
    assert rows[2]["status"] == "ok"
