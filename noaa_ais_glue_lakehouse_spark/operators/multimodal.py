"""Multimodal column operators: opaque binary payloads + typed metadata.

Conventions (the brief's training-data-pipeline surface):

- a multimodal asset is a row with an opaque ``binary`` column plus
  typed metadata columns the pipeline derives (byte size, fingerprint,
  sniffed format);
- decode / feature-extract steps run as Arrow-batched ``mapInPandas``
  over the binary column — the Spark-side plumbing (schema, batch
  iteration, partition preservation) is real; header-level image decode
  (dimensions + channels for PNG/JPEG/GIF/BMP) is ALSO real — a
  zero-dependency pure-Python parser over the public file-format
  specifications (:func:`parse_image_header`). Full pixel decode needs
  an imaging library (PIL, absent in this environment) and is used when
  importable; payloads whose magic bytes no parser recognizes fall back
  to a clearly-marked deterministic stub with the same schema.

Scale notes: binary payloads ride in the row — never ``collect()`` them;
metadata extraction is a narrow map (no shuffle).
``mapInPandas`` transfers batches via Arrow, so the per-row Python cost
is amortized across ``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# magic-byte prefixes → format tag (public file signatures)
_MAGIC = [
    ("ffd8ff", "jpeg"),
    ("89504e47", "png"),
    ("47494638", "gif"),
    ("52494646", "riff"),  # wav/avi container
    ("494433", "mp3"),
    ("664c6143", "flac"),
    ("000000", "mp4_maybe"),  # ftyp boxes start with a 00-size prefix
]


def binary_metadata(
    df: DataFrame, binary_col: str, out_prefix: str = "asset_"
) -> DataFrame:
    """Attach byte size, md5 fingerprint, and sniffed format columns.

    Pure column expressions (``length``/``md5``/``hex`` are JVM-side on
    binary), so metadata extraction never leaves codegen.
    """
    b = F.col(binary_col)
    prefix_hex = F.lower(F.hex(F.substring(b, 1, 4)))
    fmt = F.lit("unknown")
    for magic, tag in reversed(_MAGIC):
        fmt = F.when(prefix_hex.startswith(magic), F.lit(tag)).otherwise(fmt)
    return (
        df.withColumn(f"{out_prefix}bytes", F.length(b).cast("long"))
        .withColumn(f"{out_prefix}fingerprint", F.md5(b))
        .withColumn(f"{out_prefix}format", fmt)
    )


IMAGE_META_SCHEMA = (
    "id long, width int, height int, channels int, decode_ok boolean"
)

# SOF markers that carry frame dimensions (C4=DHT, C8=JPG-extension and
# CC=DAC are table/extension segments, not frames)
_JPEG_SOF_MARKERS = frozenset(
    {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
)

# PNG color type → band count (PIL-compatible: palette images report the
# single index band, not the expanded RGB)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_image_header(payload: bytes) -> tuple[int, int, int] | None:
    """Pure-Python (width, height, channels) from real image headers —
    no imaging library. Recognizes, per the public format specs:

    - PNG: IHDR chunk immediately after the 8-byte signature — width and
      height are the two big-endian u32 at bytes 16–24, color type at 25;
    - GIF (87a/89a): logical screen descriptor — two little-endian u16
      at bytes 6–10; palette-indexed, so one band;
    - BMP: BITMAPINFOHEADER (or any ≥40-byte DIB) — signed i32 width at
      18, signed i32 height at 22 (negative = top-down, dimensions are
      |height|), bits-per-pixel u16 at 28;
    - JPEG: walk the marker segments from SOI to the first start-of-frame
      (SOF0/SOF2/…); the frame header carries height, width (big-endian
      u16) and the component count (1=grayscale, 3=YCbCr);
    - WebP (round 6): RIFF container, all three bitstream flavors —
      'VP8 ' lossy (14-bit dims after the 9D 01 2A sync code), 'VP8L'
      lossless (14-bit minus-one dims + alpha flag packed after the 2F
      signature byte) and 'VP8X' extended (24-bit minus-one canvas dims,
      alpha in the flag byte);
    - TIFF (round 6): both byte orders (II*\\x00 / MM\\x00*), walking
      IFD0's 12-byte entries for ImageWidth(256)/ImageLength(257)/
      SamplesPerPixel(277, spec default 1), SHORT and LONG inline
      values.

    Returns ``None`` for unrecognized magic bytes or malformed headers —
    the caller decides the fallback (PIL / stub / decode_ok=False).
    """
    import struct

    if (
        len(payload) >= 26
        and payload[:8] == b"\x89PNG\r\n\x1a\n"
        and payload[12:16] == b"IHDR"
    ):
        w, h = struct.unpack(">II", payload[16:24])
        channels = _PNG_CHANNELS.get(payload[25])
        if channels is None or w == 0 or h == 0:
            return None
        return (w, h, channels)
    if len(payload) >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        if w == 0 or h == 0:
            return None
        return (w, h, 1)
    if len(payload) >= 30 and payload[:2] == b"BM":
        dib_size = struct.unpack("<I", payload[14:18])[0]
        if dib_size < 40:
            return None  # BITMAPCOREHEADER layout differs; not supported
        w = struct.unpack("<i", payload[18:22])[0]
        h = abs(struct.unpack("<i", payload[22:26])[0])
        bpp = struct.unpack("<H", payload[28:30])[0]
        if w <= 0 or h == 0 or bpp == 0 or bpp % 8 != 0:
            return None
        return (w, h, bpp // 8)
    if (
        len(payload) >= 25
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WEBP"
    ):
        fourcc = payload[12:16]
        if fourcc == b"VP8 ":  # lossy: sync-coded frame header
            if len(payload) < 30 or payload[23:26] != b"\x9d\x01\x2a":
                return None
            w = struct.unpack("<H", payload[26:28])[0] & 0x3FFF
            h = struct.unpack("<H", payload[28:30])[0] & 0x3FFF
            if w == 0 or h == 0:
                return None
            return (w, h, 3)
        if fourcc == b"VP8L":  # lossless: 14-bit dims, alpha flag
            if len(payload) < 25 or payload[20] != 0x2F:
                return None
            bits = struct.unpack("<I", payload[21:25])[0]
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
            return (w, h, 4 if (bits >> 28) & 1 else 3)
        if fourcc == b"VP8X":  # extended: 24-bit canvas dims, flag byte
            if len(payload) < 30:
                return None
            flags = payload[20]
            w = 1 + int.from_bytes(payload[24:27], "little")
            h = 1 + int.from_bytes(payload[27:30], "little")
            return (w, h, 4 if flags & 0x10 else 3)
        return None
    if len(payload) >= 8 and payload[:4] in (b"II*\x00", b"MM\x00*"):
        endian = "<" if payload[:2] == b"II" else ">"
        (ifd_off,) = struct.unpack(endian + "I", payload[4:8])
        if ifd_off + 2 > len(payload):
            return None
        (n_entries,) = struct.unpack(
            endian + "H", payload[ifd_off : ifd_off + 2]
        )
        w = h = None
        spp = 1  # SamplesPerPixel defaults to 1 per the TIFF 6.0 spec
        for k in range(n_entries):
            e = ifd_off + 2 + 12 * k
            if e + 12 > len(payload):
                return None
            tag, typ = struct.unpack(endian + "HH", payload[e : e + 4])
            if tag not in (256, 257, 277):
                continue
            if typ == 3:  # SHORT, inline in the first 2 value bytes
                (val,) = struct.unpack(endian + "H", payload[e + 8 : e + 10])
            elif typ == 4:  # LONG, inline in all 4 value bytes
                (val,) = struct.unpack(endian + "I", payload[e + 8 : e + 12])
            else:
                return None
            if tag == 256:
                w = val
            elif tag == 257:
                h = val
            else:
                spp = val
        if not w or not h or spp == 0:
            return None
        return (w, h, spp)
    if len(payload) >= 4 and payload[:3] == b"\xff\xd8\xff":
        i = 2
        while i + 2 <= len(payload):
            if payload[i] != 0xFF:
                return None
            marker = payload[i + 1]
            # standalone markers carry no length field
            if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if i + 4 > len(payload):
                return None
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            if seg_len < 2:
                return None
            if marker in _JPEG_SOF_MARKERS:
                if i + 10 > len(payload):
                    return None
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                ncomp = payload[i + 9]
                if w == 0 or h == 0 or ncomp == 0:
                    return None
                return (w, h, ncomp)
            i += 2 + seg_len
        return None
    return None


def decode_images(
    df: DataFrame, id_col: str, binary_col: str, use_stub: bool | None = None
) -> DataFrame:
    """Decode image dimensions via Arrow-batched ``mapInPandas``.

    Recognized formats (PNG/JPEG/GIF/BMP magic bytes) decode their REAL
    header dimensions through :func:`parse_image_header` — pure Python,
    no imaging library needed, runs on the executors like any other
    batch work. For payloads no header parser recognizes:

    - ``use_stub=None`` (default): PIL if importable, else the
      deterministic length-stub below — the permissive mode for mixed
      or dirty corpora;
    - ``use_stub=False``: PIL if importable, else ``decode_ok=false`` —
      the strict mode (nothing fabricated);
    - ``use_stub=True``: the length-stub for EVERYTHING, skipping header
      parsing — the oracle-reproducible mode (the stub is pure
      arithmetic both engines can compute, which is what q44's SQL
      oracle hash-checks):

        width  = 1 + (byte_len * 7) % 640
        height = 1 + (byte_len * 13) % 480
        channels = 1 + (byte_len * 31) % 4
    """
    have_pil = False
    if use_stub is not True:
        try:
            import PIL.Image  # noqa: F401

            have_pil = True
        except ImportError:
            have_pil = False
    stub_fallback = use_stub is None

    src = df.select(F.col(id_col).alias("id"), F.col(binary_col).alias("_b"))

    def _decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, ws, hs, cs, ok = [], [], [], [], []
            for i, payload in zip(pdf["id"], pdf["_b"]):
                ids.append(i)
                if payload is None or len(payload) == 0:
                    ws.append(None); hs.append(None); cs.append(None); ok.append(False)
                    continue
                if use_stub is not True:
                    dims = parse_image_header(bytes(payload))
                    if dims is not None:
                        ws.append(dims[0]); hs.append(dims[1]); cs.append(dims[2]); ok.append(True)
                        continue
                    if have_pil:
                        import io

                        import PIL.Image

                        try:
                            img = PIL.Image.open(io.BytesIO(payload))
                            ws.append(img.width); hs.append(img.height)
                            cs.append(len(img.getbands())); ok.append(True)
                        except Exception:
                            ws.append(None); hs.append(None); cs.append(None); ok.append(False)
                        continue
                    if not stub_fallback:
                        ws.append(None); hs.append(None); cs.append(None); ok.append(False)
                        continue
                n = len(payload)
                ws.append(1 + (n * 7) % 640)
                hs.append(1 + (n * 13) % 480)
                cs.append(1 + (n * 31) % 4)
                ok.append(True)
            yield pd.DataFrame(
                {"id": ids, "width": ws, "height": hs, "channels": cs, "decode_ok": ok}
            )

    return src.mapInPandas(_decode, schema=IMAGE_META_SCHEMA)


def synthesize_png(width: int, height: int) -> bytes:
    """A real, fully-valid 8-bit RGB PNG (signature, IHDR, zlib IDAT
    with per-row filter bytes, CRC-correct chunks, IEND) — stdlib only.
    Pixel (x, y) is a deterministic gradient so payloads differ by
    content, not just header."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        body = tag + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00"
        + bytes(
            (x * 3 + c + y * 7) % 256 for x in range(width) for c in range(3)
        )
        for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def synthesize_gif(width: int, height: int) -> bytes:
    """GIF89a header + logical screen descriptor + trailer — the fields
    a metadata extractor reads (no frame data; a real thumbnailer would
    append an image descriptor + LZW stream)."""
    import struct

    return (
        b"GIF89a"
        + struct.pack("<HH", width, height)
        + bytes([0x00, 0x00, 0x00])  # no GCT, bg color 0, no aspect
        + b"\x3b"  # trailer
    )


def synthesize_bmp(width: int, height: int) -> bytes:
    """A real, fully-valid 24-bit BMP (file header, BITMAPINFOHEADER,
    4-byte-aligned zeroed pixel rows) — stdlib only."""
    import struct

    row_bytes = (width * 3 + 3) & ~3
    pixel_bytes = row_bytes * height
    file_header = b"BM" + struct.pack("<IHHI", 54 + pixel_bytes, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0
    )
    return file_header + dib + bytes(pixel_bytes)


def synthesize_jpeg(width: int, height: int) -> bytes:
    """JPEG SOI + JFIF APP0 + SOF0 frame header (3 YCbCr components) +
    EOI — the marker structure a metadata extractor walks (no entropy-
    coded scan; a renderable JPEG would add DQT/DHT/SOS segments)."""
    import struct

    app0 = (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1)
        + b"\x00\x00"
    )
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">HBHH", 8 + 3 * 3, 8, height, width)
        + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def synthesize_webp(width: int, height: int) -> bytes:
    """A real VP8L (lossless) WebP header: RIFF + WEBP + VP8L chunk with
    the 2F signature byte and the packed 14-bit minus-one dimensions —
    the exact bytes libwebp's feature reader parses (no coded image
    stream; a renderable file would follow with the transform/huffman
    groups)."""
    import struct

    bits = (width - 1) | ((height - 1) << 14)  # alpha bit (28) left 0
    chunk = b"\x2f" + struct.pack("<I", bits)
    if len(chunk) % 2:  # RIFF chunks are even-padded
        chunk += b"\x00"
    riff_body = b"WEBP" + b"VP8L" + struct.pack("<I", 5) + chunk
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def synthesize_tiff(width: int, height: int) -> bytes:
    """A real little-endian TIFF header: II*\\x00, IFD0 at offset 8 with
    three SHORT entries (ImageWidth, ImageLength, SamplesPerPixel=3) and
    a zero next-IFD pointer — the minimal structure a TIFF metadata
    walker reads."""
    import struct

    def entry(tag: int, val: int) -> bytes:
        return struct.pack("<HHIHH", tag, 3, 1, val, 0)

    return (
        b"II*\x00"
        + struct.pack("<I", 8)
        + struct.pack("<H", 3)
        + entry(256, width)
        + entry(257, height)
        + entry(277, 3)
        + struct.pack("<I", 0)
    )


_SYNTH_BY_FORMAT = {
    "png": synthesize_png,
    "gif": synthesize_gif,
    "bmp": synthesize_bmp,
    "jpeg": synthesize_jpeg,
    "webp": synthesize_webp,
    "tiff": synthesize_tiff,
}

IMAGE_ASSET_SCHEMA = "id long, fmt string, payload binary"

_ASSET_FORMAT_CYCLE = ("png", "gif", "bmp", "jpeg")

# the round-6 extended cycle: q380 exercises all six parsers end-to-end
_ASSET_FORMAT_CYCLE_EXT = ("png", "gif", "bmp", "jpeg", "webp", "tiff")


def synthesize_image_assets(
    df: DataFrame,
    id_col: str,
    width_mod: int = 48,
    height_mod: int = 32,
    formats: tuple = _ASSET_FORMAT_CYCLE,
) -> DataFrame:
    """Deterministic REAL image payloads from an id column, generated on
    the executors (Arrow-batched ``mapInPandas`` — the driver never sees
    a payload byte): format cycles over ``formats`` by ``id % len``, and
    dimensions are ``1 + id % width_mod`` × ``1 + id % height_mod`` —
    formulas a SQL oracle can reproduce, so a header DECODE of these
    payloads is fully hash-checkable end-to-end."""
    src = df.select(F.col(id_col).cast("long").alias("id"))
    n_fmt = len(formats)

    def _synth(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            fmts, payloads = [], []
            for i in pdf["id"]:
                i = int(i)
                fmt = formats[i % n_fmt]
                fmts.append(fmt)
                payloads.append(
                    _SYNTH_BY_FORMAT[fmt](1 + i % width_mod, 1 + i % height_mod)
                )
            yield pd.DataFrame({"id": pdf["id"], "fmt": fmts, "payload": payloads})

    return src.mapInPandas(_synth, schema=IMAGE_ASSET_SCHEMA)


def sample_frames(
    df: DataFrame,
    id_col: str,
    n_frames_col: str,
    every_n: int,
    frame_col: str = "frame_idx",
) -> DataFrame:
    """Frame-sampling plan for video-like assets: one output row per kept
    frame index (0, every_n, 2*every_n, … < n_frames).

    The *selection* is pure Spark (``sequence`` + ``explode`` — no
    Python); actual frame extraction would chain a ``mapInPandas`` decode
    like :func:`decode_images`. This mirrors trajectory thinning (T6):
    quantized keep-rules first, expensive per-item work after.
    """
    n = F.col(n_frames_col).cast("long")
    idx = F.sequence(
        F.lit(0).cast("long"),
        F.greatest(n - 1, F.lit(0).cast("long")),
        F.lit(every_n).cast("long"),
    )
    return df.select(
        F.col(id_col),
        F.explode(F.when(n > 0, idx).otherwise(F.array().cast("array<long>"))).alias(
            frame_col
        ),
    )


def decode_images_arrow(
    df: DataFrame, id_col: str, binary_col: str
) -> DataFrame:
    """The :func:`decode_images` stub path as ``mapInArrow`` — Arrow
    RecordBatches in, Arrow RecordBatches out, no pandas materialization
    on either side. For binary-heavy columns this skips the
    Arrow→pandas→Arrow copy that mapInPandas pays per batch (pandas
    boxes each payload as a Python bytes object; here the metadata
    derives from the Arrow buffer offsets alone, so the payload bytes
    are never touched, let alone copied). Output is bit-identical to
    ``decode_images(use_stub=True)`` (pinned by test + shared oracle).
    """
    import pyarrow as pa

    src = df.select(F.col(id_col).alias("id"), F.col(binary_col).alias("_b"))

    def _decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        for batch in batches:
            ids = batch.column(0)
            payloads = batch.column(1)
            # byte length straight from the Arrow value buffer — NULL
            # propagates, payload bytes never copied into Python
            n = pc.binary_length(payloads).cast(pa.int64())
            # and_kleene: false & null = false (plain and_ would propagate
            # the null from greater(NULL, 0) into decode_ok)
            nonempty = pc.and_kleene(pc.is_valid(payloads), pc.greater(n, 0))
            # stub dimensions (same arithmetic as decode_images' stub).
            # pyarrow.compute has no mod kernel: x % d = x - (x // d) * d
            # (integer divide on int64 truncates; all operands non-negative)
            def _dim(mult: int, mod: int, bits=pa.int32()):
                x = pc.multiply(n, mult)
                m = pc.subtract(x, pc.multiply(pc.divide(x, mod), mod))
                v = pc.add(m, 1).cast(bits)
                return pc.if_else(nonempty, v, pa.scalar(None, bits))

            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    _dim(7, 640),
                    _dim(13, 480),
                    _dim(31, 4),
                    nonempty,
                ],
                names=["id", "width", "height", "channels", "decode_ok"],
            )

    return src.mapInArrow(_decode, schema=IMAGE_META_SCHEMA)


AUDIO_FEATURE_SCHEMA = (
    "id long, frame_idx int, n_samples int, rms double, zcr double"
)


def extract_audio_features(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    frame_samples: int = 256,
) -> DataFrame:
    """Per-frame audio features from raw PCM16 payloads via Arrow-batched
    ``mapInPandas`` — NOT a stub: 16-bit little-endian PCM needs no codec,
    so the numpy math here is the real feature extractor (the same
    function handles a decoded-by-upstream waveform column at scale).

    Per non-overlapping frame of ``frame_samples`` samples (the trailing
    partial frame is kept with its own n_samples):

      rms = sqrt(mean((x/32768)^2))       — loudness / silence detection
      zcr = sign changes / (n_samples-1)  — crude voiced/unvoiced signal

    Payloads of odd byte length are truncated to the last whole sample;
    empty/NULL payloads emit zero rows (no fabricated silence). One
    output row per frame: explode happens inside the Arrow batch, never
    on the driver, and payload bytes never leave the executors.
    """
    src = df.select(F.col(id_col).alias("id"), F.col(binary_col).alias("_b"))

    def _features(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, fidx, ns, rms, zcr = [], [], [], [], []
            for i, payload in zip(pdf["id"], pdf["_b"]):
                if payload is None or len(payload) < 2:
                    continue
                x = (
                    np.frombuffer(
                        payload[: len(payload) - (len(payload) % 2)],
                        dtype="<i2",
                    ).astype(np.float64)
                    / 32768.0
                )
                for f in range(0, len(x), frame_samples):
                    fr = x[f : f + frame_samples]
                    ids.append(i)
                    fidx.append(f // frame_samples)
                    ns.append(len(fr))
                    rms.append(float(np.sqrt(np.mean(fr * fr))))
                    if len(fr) > 1:
                        s = np.sign(fr)
                        s[s == 0] = 1.0
                        zcr.append(
                            float(np.count_nonzero(np.diff(s)) / (len(fr) - 1))
                        )
                    else:
                        zcr.append(0.0)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "frame_idx": fidx,
                    "n_samples": ns,
                    "rms": rms,
                    "zcr": zcr,
                }
            )

    return src.mapInPandas(_features, schema=AUDIO_FEATURE_SCHEMA)


SPECTRAL_FEATURE_SCHEMA = (
    "id long, frame_idx int, n_samples int, centroid double, "
    "band_0 double, band_1 double, band_2 double, band_3 double"
)


def extract_spectral_features(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    frame_samples: int = 256,
) -> DataFrame:
    """Per-frame FREQUENCY-domain features from raw PCM16 payloads —
    real ``numpy.fft`` math inside Arrow-batched ``mapInPandas`` (like
    ``extract_audio_features``, PCM needs no codec so nothing here is a
    stub). Per non-overlapping frame:

      centroid  — spectral centroid in normalized frequency [0, 0.5]
                  (magnitude-weighted mean rfft bin / frame length)
      band_0..3 — fraction of spectral ENERGY (|X|^2) in 4 octave-split
                  half-open bins: [1, N/16), [N/16, N/8), [N/8, N/4),
                  [N/4, N/2] of the rfft bins (DC excluded; a pure tone
                  puts ~all energy in the band covering its frequency)

    Silent frames (all-zero) report centroid 0 and zero bands rather
    than NaN. The trailing partial frame is dropped (spectral features
    of a truncated window are not comparable across rows). Payload
    bytes never leave the executors; one output row per frame.
    """
    src = df.select(F.col(id_col).alias("id"), F.col(binary_col).alias("_b"))

    def _features(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        edges = [
            1,
            max(2, frame_samples // 16),
            max(3, frame_samples // 8),
            max(4, frame_samples // 4),
            frame_samples // 2 + 1,
        ]
        for pdf in batches:
            ids, fidx, ns = [], [], []
            cent = []
            bands: list[list[float]] = [[], [], [], []]
            for i, payload in zip(pdf["id"], pdf["_b"]):
                if payload is None or len(payload) < 2 * frame_samples:
                    continue
                x = (
                    np.frombuffer(
                        payload[: len(payload) - (len(payload) % 2)],
                        dtype="<i2",
                    ).astype(np.float64)
                    / 32768.0
                )
                n_frames = len(x) // frame_samples
                for f in range(n_frames):
                    fr = x[f * frame_samples : (f + 1) * frame_samples]
                    mag = np.abs(np.fft.rfft(fr))
                    mag[0] = 0.0  # exclude DC from centroid and bands
                    power = mag * mag
                    tot_m, tot_p = float(mag.sum()), float(power.sum())
                    ids.append(i)
                    fidx.append(f)
                    ns.append(frame_samples)
                    if tot_m > 0:
                        freqs = np.arange(len(mag)) / frame_samples
                        cent.append(float((mag * freqs).sum() / tot_m))
                    else:
                        cent.append(0.0)
                    for b in range(4):
                        lo, hi = edges[b], edges[b + 1]
                        bands[b].append(
                            float(power[lo:hi].sum() / tot_p)
                            if tot_p > 0
                            else 0.0
                        )
            yield pd.DataFrame(
                {
                    "id": ids,
                    "frame_idx": fidx,
                    "n_samples": ns,
                    "centroid": cent,
                    "band_0": bands[0],
                    "band_1": bands[1],
                    "band_2": bands[2],
                    "band_3": bands[3],
                }
            )

    return src.mapInPandas(_features, schema=SPECTRAL_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# MP4/ISO-BMFF container metadata (pure-Python box walk; public spec
# ISO/IEC 14496-12 — same zero-dependency standard as parse_image_header)
# ---------------------------------------------------------------------------


def _be32(b: bytes, off: int) -> int:
    return int.from_bytes(b[off : off + 4], "big")


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + typ + payload


def synthesize_mp4_payload(vid: int) -> bytes:
    """Minimal VALID ISO-BMFF file for an id: ftyp + moov(mvhd, trak/tkhd)
    + mdat, with timescale/duration/track dimensions derived from the id
    by formulas a SQL oracle reproduces. All boxes are version-0 with
    spec-correct fixed layouts."""
    timescale = 1000 * (1 + vid % 4)
    seconds = 1 + vid % 300
    duration = timescale * seconds
    w, h = 16 * (1 + vid % 120), 16 * (1 + vid % 68)
    ftyp = _mp4_box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isomiso2")
    mvhd_payload = (
        bytes(4)                      # version + flags
        + bytes(8)                    # ctime, mtime
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big")  # rate 1.0
        + (0x0100).to_bytes(2, "big")      # volume 1.0
        + bytes(10)                   # reserved
        + bytes(36)                   # identity matrix slot (zeros fine)
        + bytes(24)                   # pre_defined
        + (2).to_bytes(4, "big")      # next_track_id
    )
    tkhd_payload = (
        bytes(4)                      # version + flags
        + bytes(8)                    # ctime, mtime
        + (1).to_bytes(4, "big")      # track id
        + bytes(4)                    # reserved
        + duration.to_bytes(4, "big")
        + bytes(8)                    # reserved
        + bytes(2) + bytes(2) + bytes(2) + bytes(2)  # layer/alt/vol/reserved
        + bytes(36)                   # matrix
        + (w << 16).to_bytes(4, "big")   # 16.16 fixed width
        + (h << 16).to_bytes(4, "big")   # 16.16 fixed height
    )
    trak = _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd_payload))
    moov = _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd_payload) + trak)
    mdat = _mp4_box(b"mdat", bytes(16 + vid % 32))
    return ftyp + moov + mdat


def _box_header(b: bytes, off: int, end: int, top_level: bool) -> tuple | None:
    """Decode one ISO-BMFF box header at ``off`` (scope-bounded by
    ``end``): returns ``(total_box_size, header_len)`` covering all
    three spec size encodings (ISO/IEC 14496-12 §4.2) — plain 32-bit,
    ``size==1`` ⇒ 64-bit largesize occupies bytes 8..16, and ``size==0``
    ⇒ box extends to end of file (legal only for a TOP-LEVEL box).
    Returns None for malformed headers (truncated largesize, size
    smaller than its own header, or size overrunning the scope)."""
    size = _be32(b, off)
    hdr = 8
    if size == 1:
        if off + 16 > end:
            return None
        size = int.from_bytes(b[off + 8 : off + 16], "big")
        hdr = 16
    elif size == 0:
        if not top_level:
            return None
        size = end - off
    if size < hdr or off + size > end:
        return None
    return size, hdr


def parse_mp4_metadata(payload: bytes) -> dict | None:
    """Walk the top-level box tree; return mvhd timescale/duration, the
    first video track's 16.16 dimensions, and the track count — or None
    when the payload is not ISO-BMFF (no well-formed ftyp/moov walk).
    Handles all three spec size encodings via ``_box_header`` (64-bit
    largesize boxes and a final size==0 to-EOF box included), so
    spec-valid real-world files aren't rejected as unparseable."""
    n = len(payload)
    if n < 16:
        return None
    out = {"timescale": None, "duration": None, "width": None,
           "height": None, "n_tracks": 0}
    saw_ftyp = saw_moov = False
    off = 0
    while off + 8 <= n:
        bh = _box_header(payload, off, n, True)
        if bh is None:
            return None
        size, hdr = bh
        typ = payload[off + 4 : off + 8]
        if typ == b"ftyp":
            saw_ftyp = True
        elif typ == b"moov":
            saw_moov = True
            coff = off + hdr
            while coff + 8 <= off + size:
                cbh = _box_header(payload, coff, off + size, False)
                if cbh is None:
                    return None
                csize, chdr = cbh
                ctyp = payload[coff + 4 : coff + 8]
                if ctyp == b"mvhd" and csize >= chdr + 20:
                    body = coff + chdr
                    out["timescale"] = _be32(payload, body + 12)
                    out["duration"] = _be32(payload, body + 16)
                elif ctyp == b"trak":
                    out["n_tracks"] += 1
                    toff = coff + chdr
                    while toff + 8 <= coff + csize:
                        tbh = _box_header(payload, toff, coff + csize, False)
                        if tbh is None:
                            return None
                        tsize, thdr = tbh
                        ttyp = payload[toff + 4 : toff + 8]
                        if ttyp == b"tkhd" and tsize >= thdr + 84:
                            body = toff + thdr
                            if out["width"] is None:
                                out["width"] = _be32(payload, body + 76) >> 16
                                out["height"] = _be32(payload, body + 80) >> 16
                        toff += tsize
                coff += csize
        off += size
    if not (saw_ftyp and saw_moov):
        return None
    return out


def synthesize_video_assets(df: DataFrame, id_col: str) -> DataFrame:
    """Executor-side MP4 payload synthesis (Arrow-batched mapInPandas;
    the driver never sees a payload byte) — the video twin of
    synthesize_image_assets."""
    src = df.select(F.col(id_col).cast("long").alias("id"))

    def _synth(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = [synthesize_mp4_payload(int(i)) for i in pdf["id"]]
            yield pd.DataFrame({"id": pdf["id"], "payload": payloads})

    return src.mapInPandas(_synth, "id long, payload binary")


def decode_video_metadata(
    df: DataFrame, id_col: str, binary_col: str
) -> DataFrame:
    """Container-level video metadata via Arrow-batched ``mapInPandas``:
    timescale, duration (ms, exact integer when duration is a timescale
    multiple), first-track pixel dimensions, track count, parse_ok.
    Unparseable payloads keep the row with parse_ok=false — nothing is
    fabricated (the q259 strict-mode convention)."""
    src = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(binary_col).alias("_b")
    )

    def _dec(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, b in zip(pdf["id"], pdf["_b"]):
                meta = parse_mp4_metadata(bytes(b) if b is not None else b"")
                if meta is None or not meta["timescale"]:
                    rows.append((int(i), None, None, None, None, None, False))
                else:
                    rows.append(
                        (
                            int(i),
                            meta["timescale"],
                            meta["duration"] * 1000 // meta["timescale"],
                            meta["width"],
                            meta["height"],
                            meta["n_tracks"],
                            True,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id",
                    "timescale",
                    "duration_ms",
                    "width",
                    "height",
                    "n_tracks",
                    "parse_ok",
                ],
            )

    return src.mapInPandas(
        _dec,
        "id long, timescale long, duration_ms long, width long, "
        "height long, n_tracks long, parse_ok boolean",
    )
