"""Multimodal operators: metadata sniffing, mapInPandas decode plumbing,
frame sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
    binary_metadata,
    decode_images,
    sample_frames,
)


def _assets(spark):
    rows = [
        (1, bytes.fromhex("ffd8ff") + b"jpegdata"),
        (2, bytes.fromhex("89504e47") + b"pngdata"),
        (3, b"plain text bytes"),
        (4, bytes.fromhex("ffd8ff") + b"jpegdata"),  # dup of 1
    ]
    return spark.createDataFrame(rows, ["id", "payload"])


def test_binary_metadata(spark):
    out = binary_metadata(_assets(spark), "payload")
    got = {r["id"]: (r["asset_format"], r["asset_bytes"]) for r in out.collect()}
    assert got[1][0] == "jpeg" and got[2][0] == "png" and got[3][0] == "unknown"
    assert got[1][1] == 11
    fps = {r["id"]: r["asset_fingerprint"] for r in out.collect()}
    assert fps[1] == fps[4] and fps[1] != fps[2]


def test_decode_images_stub_schema_and_values(spark):
    out = decode_images(_assets(spark), "id", "payload", use_stub=True)
    assert [f.name for f in out.schema.fields] == [
        "id", "width", "height", "channels", "decode_ok",
    ]
    got = {r["id"]: r for r in out.collect()}
    n = 11  # payload length of asset 1
    assert got[1]["width"] == 1 + (n * 7) % 640
    assert got[1]["height"] == 1 + (n * 13) % 480
    assert got[1]["channels"] == 1 + (n * 31) % 4
    assert got[1]["decode_ok"]


def test_decode_images_null_payload(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    df = spark.createDataFrame([(9, None)], schema)
    r = decode_images(df, "id", "payload", use_stub=True).first()
    assert r["decode_ok"] is False and r["width"] is None


def test_sample_frames(spark):
    df = spark.createDataFrame([(1, 20), (2, 0), (3, 1)], ["id", "n_frames"])
    out = sample_frames(df, "id", "n_frames", every_n=7)
    got = sorted((r["id"], r["frame_idx"]) for r in out.collect())
    assert got == [(1, 0), (1, 7), (1, 14), (3, 0)]


def test_decode_arrow_matches_pandas_stub(spark):
    """mapInArrow and mapInPandas decode paths are bit-identical,
    including NULL and empty payloads."""
    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        decode_images,
        decode_images_arrow,
    )

    rows = [(1, b"abc"), (2, b""), (3, None), (4, b"x" * 1000)]
    df = spark.createDataFrame(rows, "id long, payload binary")
    a = sorted(decode_images_arrow(df, "id", "payload").collect())
    p = sorted(decode_images(df, "id", "payload", use_stub=True).collect())
    assert a == p


def test_audio_features_known_waveforms(spark):
    """Real PCM16 math, not a stub: silence -> rms 0 / zcr 0; a
    full-scale alternating-sign square wave -> rms ~1.0 and zcr 1.0."""
    import struct

    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        extract_audio_features,
    )

    silence = struct.pack("<256h", *([0] * 256))
    # +A,-A alternating: every adjacent pair flips sign
    amp = 32767
    square = struct.pack(
        "<256h", *([amp if i % 2 == 0 else -amp for i in range(256)])
    )
    df = spark.createDataFrame(
        [(1, silence), (2, square), (3, None), (4, b"")],
        "id long, payload binary",
    )
    rows = {
        (r["id"], r["frame_idx"]): r
        for r in extract_audio_features(df, "id", "payload", 256).collect()
    }
    assert set(rows) == {(1, 0), (2, 0)}  # null/empty payloads emit nothing
    assert rows[(1, 0)]["rms"] == 0.0 and rows[(1, 0)]["zcr"] == 0.0
    assert abs(rows[(2, 0)]["rms"] - amp / 32768.0) < 1e-9
    assert rows[(2, 0)]["zcr"] == 1.0
    assert rows[(2, 0)]["n_samples"] == 256


def test_audio_features_framing_and_odd_bytes(spark):
    import struct

    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        extract_audio_features,
    )

    # 300 samples -> frames of 256 and 44; plus a trailing odd byte that
    # must be truncated, not crash
    pcm = struct.pack("<300h", *([1000] * 300)) + b"\x7f"
    df = spark.createDataFrame([(9, pcm)], "id long, payload binary")
    rows = sorted(
        extract_audio_features(df, "id", "payload", 256).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [(r["frame_idx"], r["n_samples"]) for r in rows] == [(0, 256), (1, 44)]
    for r in rows:
        assert abs(r["rms"] - 1000 / 32768.0) < 1e-9 and r["zcr"] == 0.0


def test_parse_image_header_known_fixtures():
    """Pin a known PNG/JPEG/GIF/BMP set: a real-world 1x1 RGBA PNG (the
    canonical transparent-pixel file) plus the synthesized fixtures,
    and the malformed-input contract."""
    import base64

    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        parse_image_header,
        synthesize_bmp,
        synthesize_gif,
        synthesize_jpeg,
        synthesize_png,
    )

    real_1x1_rgba_png = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8"
        "z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg=="
    )
    assert parse_image_header(real_1x1_rgba_png) == (1, 1, 4)
    assert parse_image_header(synthesize_png(640, 480)) == (640, 480, 3)
    assert parse_image_header(synthesize_jpeg(1920, 1080)) == (1920, 1080, 3)
    assert parse_image_header(synthesize_gif(320, 200)) == (320, 200, 1)
    assert parse_image_header(synthesize_bmp(13, 7)) == (13, 7, 3)
    # unrecognized / malformed inputs return None, never raise
    assert parse_image_header(b"") is None
    assert parse_image_header(b"plain prose, no magic") is None
    assert parse_image_header(b"GIF8 but actually prose") is None
    assert parse_image_header(b"\x89PNG\r\n\x1a\n\x00\x00") is None  # truncated
    assert parse_image_header(b"\xff\xd8\xff\xd9") is None  # JPEG with no SOF


def test_synthesized_png_is_fully_valid():
    """The PNG fixture is a REAL file: chunk CRCs verify and the IDAT
    stream zlib-decompresses to exactly height*(1+width*3) filter+pixel
    bytes."""
    import struct
    import zlib

    from noaa_ais_glue_lakehouse_spark.operators.multimodal import synthesize_png

    p = synthesize_png(5, 4)
    assert p[:8] == b"\x89PNG\r\n\x1a\n"
    i, idat, tags = 8, b"", []
    while i < len(p):
        ln = struct.unpack(">I", p[i : i + 4])[0]
        tag, body = p[i + 4 : i + 8], p[i + 8 : i + 8 + ln]
        crc = struct.unpack(">I", p[i + 8 + ln : i + 12 + ln])[0]
        assert crc == (zlib.crc32(tag + body) & 0xFFFFFFFF), tag
        tags.append(tag)
        if tag == b"IDAT":
            idat += body
        i += 12 + ln
    assert tags == [b"IHDR", b"IDAT", b"IEND"]
    assert len(zlib.decompress(idat)) == 4 * (1 + 5 * 3)


def test_decode_images_real_headers(spark):
    """decode_images with use_stub=False parses REAL headers: recognized
    formats report true dimensions; unrecognized payloads report
    decode_ok=false (strict mode fabricates nothing)."""
    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        decode_images,
        synthesize_gif,
        synthesize_jpeg,
        synthesize_png,
    )

    df = spark.createDataFrame(
        [
            (1, synthesize_png(17, 9)),
            (2, synthesize_jpeg(33, 21)),
            (3, synthesize_gif(5, 6)),
            (4, b"not an image at all"),
        ],
        "id long, payload binary",
    )
    rows = {r["id"]: r for r in decode_images(df, "id", "payload", use_stub=False).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["channels"]) == (17, 9, 3)
    assert (rows[2]["width"], rows[2]["height"], rows[2]["channels"]) == (33, 21, 3)
    assert (rows[3]["width"], rows[3]["height"], rows[3]["channels"]) == (5, 6, 1)
    assert rows[1]["decode_ok"] and rows[2]["decode_ok"] and rows[3]["decode_ok"]
    assert not rows[4]["decode_ok"] and rows[4]["width"] is None


def test_decode_images_default_mode_headers_then_stub(spark):
    """Default mode: recognized magic decodes real headers, unrecognized
    payloads fall back to the deterministic length stub."""
    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        decode_images,
        synthesize_png,
    )

    junk = b"x" * 10
    df = spark.createDataFrame(
        [(1, synthesize_png(3, 2)), (2, junk)], "id long, payload binary"
    )
    rows = {r["id"]: r for r in decode_images(df, "id", "payload").collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (3, 2)
    assert rows[2]["decode_ok"]
    assert rows[2]["width"] == 1 + (10 * 7) % 640
    assert rows[2]["height"] == 1 + (10 * 13) % 480


def test_mp4_box_walk_known_values_and_rejection(spark):
    """The MP4 parser recovers the synthesized mvhd/tkhd fields for
    known ids, rejects garbage/truncated payloads with parse_ok=false,
    and never fabricates metadata."""
    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        decode_video_metadata,
        parse_mp4_metadata,
        synthesize_mp4_payload,
    )

    # direct parse: id 5 -> timescale 2000, 6 s, 96x96, 1 track
    m = parse_mp4_metadata(synthesize_mp4_payload(5))
    assert m == {
        "timescale": 2000,
        "duration": 12000,
        "width": 96,
        "height": 96,
        "n_tracks": 1,
    }
    # truncated moov must be rejected, not misparsed
    p = synthesize_mp4_payload(5)
    assert parse_mp4_metadata(p[: len(p) // 2]) is None
    assert parse_mp4_metadata(b"\x00" * 64) is None

    rows = [(1, synthesize_mp4_payload(1)), (2, b"not an mp4 at all..")]
    df = spark.createDataFrame(rows, ["vid", "payload"])
    out = {
        r["id"]: r.asDict()
        for r in decode_video_metadata(df, "vid", "payload").collect()
    }
    assert out[1]["parse_ok"] and out[1]["duration_ms"] == 2000 * 1
    assert not out[2]["parse_ok"] and out[2]["width"] is None


def test_mp4_parser_never_raises_on_arbitrary_bytes():
    """Fuzz: the box walk must REJECT (return None), never raise, on
    arbitrary byte strings — malformed containers are routine in a
    scraped corpus and a parser exception kills the whole task."""
    from hypothesis import given, settings, strategies as st

    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        parse_mp4_metadata,
        synthesize_mp4_payload,
    )

    @given(st.binary(max_size=256))
    @settings(max_examples=300, deadline=None)
    def _fuzz(b):
        out = parse_mp4_metadata(b)
        assert out is None or isinstance(out, dict)

    _fuzz()

    # bit-flip fuzz over a VALID payload: any single corrupted size field
    # must still parse-or-reject cleanly
    base = bytearray(synthesize_mp4_payload(42))
    for off in range(0, len(base), 7):
        mutated = bytearray(base)
        mutated[off] ^= 0xFF
        out = parse_mp4_metadata(bytes(mutated))
        assert out is None or isinstance(out, dict)


def test_mp4_largesize_and_to_eof_boxes():
    """ISO/IEC 14496-12 §4.2's other two size encodings are spec-valid
    and must parse, not reject: size==1 (64-bit largesize header) and a
    final top-level size==0 (extends to EOF). Both appear in real-world
    files (>4 GiB mdat; streamed writers)."""
    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        parse_mp4_metadata,
        synthesize_mp4_payload,
    )

    base = synthesize_mp4_payload(5)
    want = parse_mp4_metadata(base)
    assert want is not None

    def largesize_box(typ: bytes, payload: bytes) -> bytes:
        return (
            (1).to_bytes(4, "big")
            + typ
            + (16 + len(payload)).to_bytes(8, "big")
            + payload
        )

    # rebuild id-5's file with a largesize mdat appended
    with_large = base + largesize_box(b"mdat", bytes(32))
    assert parse_mp4_metadata(with_large) == want

    # final top-level box with size==0: extends to EOF
    to_eof = base + (0).to_bytes(4, "big") + b"mdat" + bytes(100)
    assert parse_mp4_metadata(to_eof) == want

    # size==0 on a NON-final prefix would overrun nothing (it absorbs the
    # rest) — but size==0 NESTED inside moov is illegal and must reject
    moov_off = base.find(b"moov") - 4
    corrupt = bytearray(base)
    corrupt[moov_off + 8 : moov_off + 12] = (0).to_bytes(4, "big")
    assert parse_mp4_metadata(bytes(corrupt)) is None

    # truncated largesize header (only 12 of 16 bytes) must reject
    trunc = base + (1).to_bytes(4, "big") + b"mdat" + bytes(4)
    assert parse_mp4_metadata(trunc) is None

    # largesize smaller than its own 16-byte header must reject
    bad = base + (1).to_bytes(4, "big") + b"mdat" + (8).to_bytes(8, "big")
    assert parse_mp4_metadata(bad) is None


# ---------------------------------------------------------------------------
# Round 6: WebP (VP8/VP8L/VP8X) and TIFF header parsing
# ---------------------------------------------------------------------------


def test_webp_vp8l_roundtrip():
    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        parse_image_header,
        synthesize_webp,
    )

    for w, h in [(1, 1), (47, 31), (16383, 16383)]:
        assert parse_image_header(synthesize_webp(w, h)) == (w, h, 3)


def test_webp_vp8_lossy_and_vp8x():
    import struct

    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        parse_image_header,
    )

    vp8 = (
        b"RIFF" + struct.pack("<I", 22) + b"WEBP" + b"VP8 "
        + struct.pack("<I", 10) + b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + struct.pack("<HH", 640, 480)
    )
    assert parse_image_header(vp8) == (640, 480, 3)
    vp8x = (
        b"RIFF" + struct.pack("<I", 22) + b"WEBP" + b"VP8X"
        + struct.pack("<I", 10) + bytes([0x10]) + b"\x00\x00\x00"
        + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
    )
    assert parse_image_header(vp8x) == (640, 480, 4)  # alpha flag -> 4
    # broken sync code must be rejected, not misparsed
    bad = vp8[:23] + b"\x00\x01\x2a" + vp8[26:]
    assert parse_image_header(bad) is None


def test_webp_vp8l_alpha_bit():
    import struct

    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        parse_image_header,
    )

    bits = 46 | (30 << 14) | (1 << 28)
    p = (
        b"RIFF" + struct.pack("<I", 18) + b"WEBP" + b"VP8L"
        + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", bits) + b"\x00"
    )
    assert parse_image_header(p) == (47, 31, 4)


def test_tiff_roundtrip_and_big_endian():
    import struct

    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        parse_image_header,
        synthesize_tiff,
    )

    assert parse_image_header(synthesize_tiff(47, 31)) == (47, 31, 3)
    # big-endian, LONG-typed height, SamplesPerPixel absent -> default 1
    be = (
        b"MM\x00*" + struct.pack(">I", 8) + struct.pack(">H", 2)
        + struct.pack(">HHIHH", 256, 3, 1, 47, 0)
        + struct.pack(">HHI", 257, 4, 1) + struct.pack(">I", 31)
        + struct.pack(">I", 0)
    )
    assert parse_image_header(be) == (47, 31, 1)


def test_webp_tiff_truncation_fuzz():
    """Every prefix of a valid payload must parse to None or a valid
    tuple - never raise (the q44/q259 malformed-input contract)."""
    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        parse_image_header,
        synthesize_tiff,
        synthesize_webp,
    )

    for payload in (synthesize_webp(47, 31), synthesize_tiff(47, 31)):
        for k in range(len(payload)):
            r = parse_image_header(payload[:k])
            assert r is None or (len(r) == 3 and all(v > 0 for v in r))
