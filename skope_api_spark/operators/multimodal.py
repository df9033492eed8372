"""Multimodal (image/audio/video) column operators.

Design (per the large-scale training-data pipeline pattern): media are
opaque ``binary`` columns with a typed metadata struct alongside; decode /
feature-extraction / frame-sampling run as Arrow-batched ``mapInPandas``
stages so bytes never round-trip through per-row Python.

Every stage exposes its kernel as an INJECTABLE parameter (``decoder=`` /
``encoder=`` / ``sampler=``), so a real PIL/torchvision/ffmpeg deployment
is a one-line swap at the call site with zero changes to the Spark
plumbing (the same seam pattern as ``sources/geotiff.py``'s ``reader=``).

Defaults in this environment (no image/audio libraries installed;
real pure-stdlib decoders now cover PNG (incl. palette/16-bit),
JPEG (baseline + progressive), GIF, BMP and lossless-WebP images in
png.py/jpeg.py/gif.py/bmp.py/vp8l.py):

- ``decode_image_metadata`` — REAL pure-Python header parsing
  (PNG IHDR / GIF screen descriptor / JPEG SOFn walk / WebP chunks).
- ``extract_features`` — REAL pixel features for PNG/JPEG/GIF/VP8L
  blobs via the pure-stdlib codecs (per-quadrant channel means as a
  pooled-feature stand-in). Other blobs (lossy-WebP VP8, audio, video)
  fall back to a deterministic hash-derived pseudo-embedding (STUB).
- ``sample_frames`` — byte-stride STUB by default; pass
  ``sampler=gif_frame_sampler()`` for REAL frames from animated GIF
  (full GIF89a compositing in ``gif.gif_frames``; frames re-emitted as
  BMP so the real image-feature path consumes them directly). Other
  video codecs aren't expressible in stdlib — the ffmpeg seam stays.

The Spark-side plumbing — schemas, Arrow batch iteration, partition
sizing, fan-out shape — is real and tested with the defaults and with
injected fakes (``tests/test_multimodal.py``, ``tests/test_png.py``).

Scale notes: binary payloads dominate partition size, so callers should
size input splits by bytes (``spark.sql.files.maxPartitionBytes``) and keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` low (default 10k rows of
multi-MB blobs would OOM an Arrow batch; set ~64-256 for media tables).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGE_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_DIM = 16

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("byte_offset", LongType()),
        StructField("frame_bytes", BinaryType()),
    ]
)


def _sniff_image(data: bytes) -> tuple[str | None, int | None, int | None]:
    """Header-only dimension sniffing for PNG / GIF / BMP / JPEG / WebP /
    ICO / TIFF (pure Python).

    This part is real: PNG IHDR and GIF logical-screen headers carry
    dimensions at fixed offsets; JPEG requires walking segment markers to
    the first SOFn; WebP carries dimensions in whichever of VP8X
    (extended canvas, 24-bit minus-one), "VP8 " (lossy frame tag after
    the 9D 01 2A sync, 14-bit) or VP8L (0x2F signature, packed 14-bit
    minus-one) leads the RIFF payload. Anything else → (None, None,
    None). (Lossless-WebP pixel decode lives in ``operators.vp8l``;
    lossy VP8 stays header-only — dimensions are metadata the curation
    pipeline filters on without decoding.)
    """
    if data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) >= 24:
        w, h = struct.unpack(">II", data[16:24])
        return "png", w, h
    if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
        w, h = struct.unpack("<HH", data[6:10])
        return "gif", w, h
    if data[:2] == b"BM" and len(data) >= 26:
        w, h = struct.unpack("<ii", data[18:26])
        return "bmp", w, abs(h)
    if data[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(data):
            if data[i] != 0xFF:
                break
            marker = data[i + 1]
            seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", data[i + 5 : i + 9])
                return "jpeg", w, h
            i += 2 + seg_len
        return "jpeg", None, None
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP" and len(data) >= 21:
        tag, payload = data[12:16], data[20:]
        if tag == b"VP8X" and len(payload) >= 10:
            w = 1 + int.from_bytes(payload[4:7], "little")
            h = 1 + int.from_bytes(payload[7:10], "little")
            return "webp", w, h
        if tag == b"VP8 " and len(payload) >= 10:
            if payload[3:6] == b"\x9d\x01\x2a":  # keyframe sync code
                w = struct.unpack("<H", payload[6:8])[0] & 0x3FFF
                h = struct.unpack("<H", payload[8:10])[0] & 0x3FFF
                return "webp", w, h
            return "webp", None, None
        if tag == b"VP8L" and len(payload) >= 5 and payload[0] == 0x2F:
            bits = int.from_bytes(payload[1:5], "little")
            w = 1 + (bits & 0x3FFF)
            h = 1 + ((bits >> 14) & 0x3FFF)
            return "webp", w, h
        return "webp", None, None
    # ICO: ICONDIR (reserved=0, type=1, count), then 16-byte entries whose
    # first two bytes are width/height (0 encodes 256). Like PIL, report
    # the largest-area entry — multi-size icons lead with small sizes.
    if data[:4] == b"\x00\x00\x01\x00":
        if len(data) < 6:
            # Header truncated before the entry count: still ICO (same
            # treatment as a truncated directory), dims unknowable.
            return "ico", None, None
        count = struct.unpack("<H", data[4:6])[0]
        best: tuple[int, int, int] | None = None
        for k in range(count):
            off = 6 + 16 * k
            if off + 16 > len(data):  # require the full directory entry
                break
            w = data[off] or 256
            h = data[off + 1] or 256
            if best is None or w * h > best[0]:
                best = (w * h, w, h)
        if best is None:
            return "ico", None, None
        return "ico", best[1], best[2]
    # TIFF (matters for the SKOPE domain: GeoTIFF rasters): byte-order
    # mark + magic 42, 4-byte offset to IFD0, whose 12-byte entries carry
    # ImageWidth (256) / ImageLength (257) as SHORT or LONG values
    # inlined left-justified in the 4-byte value field.
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        bo = "<" if data[:2] == b"II" else ">"
        if len(data) < 8:
            return "tiff", None, None
        ifd = struct.unpack(bo + "I", data[4:8])[0]
        if ifd + 2 > len(data):
            return "tiff", None, None
        n_entries = struct.unpack(bo + "H", data[ifd : ifd + 2])[0]
        w = h = None
        # Bomb guard: a hostile IFD can claim up to 65535 entries; cap the
        # scan at 512. Real IFD0s have <100 entries, but if width/length
        # tags sit beyond entry 512 the dims come back NULL — downstream
        # quarantine treats NULL dims as "sniff inconclusive", not "not a
        # TIFF", so the guard degrades safely.
        for k in range(min(n_entries, 512)):
            off = ifd + 2 + 12 * k
            if off + 12 > len(data):
                break
            tag_id, typ = struct.unpack(bo + "HH", data[off : off + 4])
            if tag_id not in (256, 257):
                continue
            if typ == 3:  # SHORT, left-justified in the value field
                val = struct.unpack(bo + "H", data[off + 8 : off + 10])[0]
            elif typ == 4:  # LONG
                val = struct.unpack(bo + "I", data[off + 8 : off + 12])[0]
            else:
                continue
            if tag_id == 256:
                w = val
            else:
                h = val
        return "tiff", w, h
    return None, None, None


def decode_image_metadata(df: DataFrame, *, decoder=None) -> DataFrame:
    """Decode stage: binary → typed metadata via Arrow-batched mapInPandas.

    ``decoder``: ``bytes -> (format, width, height)`` — THE injection seam.
    Default is the pure-Python header sniffer (PIL absent here); a real
    deployment passes e.g.
    ``lambda b: (img := PIL.Image.open(io.BytesIO(b))).format.lower(),
    *img.size)`` and nothing else changes. The callable is cloudpickled to
    executors, so it must be importable/self-contained.
    """
    decoder = decoder if decoder is not None else _sniff_image

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fmts, ws, hs, sizes = [], [], [], []
            for blob in pdf["content"]:
                b = bytes(blob)
                fmt, w, h = decoder(b)
                fmts.append(fmt)
                ws.append(w)
                hs.append(h)
                sizes.append(len(b))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": fmts,
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "n_bytes": sizes,
                }
            )

    return df.mapInPandas(batches, IMAGE_META_SCHEMA)


def hash_pseudo_encoder(dim: int = FEATURE_DIM):
    """STUB kernel: sha256-derived pseudo-embedding — deterministic,
    unit-scaled, correct shape/dtype — standing in for a real encoder on
    formats whose pixel decode needs a codec library (JPEG/GIF/audio)."""

    def encode(b: bytes) -> list[float]:
        digest = hashlib.sha256(b).digest()
        return [(digest[i % 32] - 127.5) / 127.5 for i in range(dim)]

    return encode


def pixel_or_hash_encoder(dim: int = FEATURE_DIM):
    """Default kernel: REAL pixel features for PNG, JPEG (baseline +
    progressive), GIF, BMP and lossless-WebP (VP8L) blobs (pure-stdlib
    decodes in ``operators.png`` / ``operators.jpeg`` / ``operators.gif``
    / ``operators.bmp`` / ``operators.vp8l`` — quadrant channel means
    from actual pixels; BMP also covers the frames
    ``gif_frame_sampler`` emits),
    hash pseudo-embedding for everything else (lossy-WebP VP8, audio,
    video). Unsupported variants (lossless/arithmetic/CMYK JPEG) AND
    corrupt/truncated blobs fall back
    rather than fail the batch — at corpus scale a malformed file is
    data, not an error."""
    import struct
    import zlib

    from skope_api_spark.operators.gif import GIF_SIGNATURES, gif_pixel_features
    from skope_api_spark.operators.jpeg import JPEG_SOI, jpeg_pixel_features
    from skope_api_spark.operators.png import PNG_SIGNATURE, png_pixel_features

    fallback = hash_pseudo_encoder(dim)
    decode_errors = (
        NotImplementedError,
        ValueError,
        zlib.error,
        struct.error,
        OverflowError,
        IndexError,
        KeyError,  # malformed table/component references
    )

    def encode(b: bytes) -> list[float]:
        if b[:8] == PNG_SIGNATURE:
            try:
                return png_pixel_features(b, dim=dim)
            except decode_errors:
                return fallback(b)
        if b[:2] == JPEG_SOI:
            try:
                return jpeg_pixel_features(b, dim=dim)
            except decode_errors:
                return fallback(b)
        if b[:6] in GIF_SIGNATURES:
            try:
                return gif_pixel_features(b, dim=dim)
            except decode_errors:
                return fallback(b)
        if b[:2] == b"BM":
            try:
                from skope_api_spark.operators.bmp import bmp_decode
                from skope_api_spark.operators.png import quadrant_features

                return quadrant_features(*bmp_decode(b), dim=dim)
            except decode_errors:
                return fallback(b)
        if b[:4] == b"RIFF" and b[8:16] == b"WEBPVP8L":
            try:
                from skope_api_spark.operators.png import quadrant_features
                from skope_api_spark.operators.vp8l import vp8l_decode

                return quadrant_features(*vp8l_decode(b), dim=dim)
            except decode_errors:
                return fallback(b)
        return fallback(b)

    return encode


def extract_features(
    df: DataFrame, *, dim: int = FEATURE_DIM, encoder=None
) -> DataFrame:
    """Feature-extraction stage: binary → array<float> embedding.

    ``encoder``: ``bytes -> list[float]`` (length ``dim``) — THE injection
    seam; a real deployment passes a CLIP/wav2vec forward pass (typically
    batched inside the callable). Default: ``pixel_or_hash_encoder`` —
    REAL pixel features for PNGs, hash stub elsewhere (see its
    docstring). The mapInPandas plumbing (Arrow batches in, list-typed
    column out) is identical either way.
    """
    encoder = encoder if encoder is not None else pixel_or_hash_encoder(dim)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [encoder(bytes(blob)) for blob in pdf["content"]]
            yield pd.DataFrame({"media_id": pdf["media_id"], "feature": feats})

    return df.mapInPandas(batches, FEATURE_SCHEMA)


def gif_frame_sampler(every_n: int = 1, max_frames: int = 8):
    """REAL frame-sampling kernel for animated GIF — the one video-like
    format decodable in pure stdlib (``gif.gif_frames``: full GIF89a
    compositing — disposal methods, transparency, local palettes,
    sub-rect placement). Each sampled frame is emitted as a BMP blob
    (``bmp.bmp_encode``), so the frames flow straight back through the
    REAL image feature path: GIF → frames → features needs no
    injected kernel anywhere. Non-GIF / malformed blobs yield no frames
    (same contract as a keyframe extractor fed a non-video blob)."""
    from skope_api_spark.operators.bmp import bmp_encode
    from skope_api_spark.operators.gif import gif_frames

    def sample(b: bytes) -> list[tuple[int, bytes]]:
        try:
            return [
                (off, bmp_encode(w, h, rgb))
                for off, w, h, rgb in gif_frames(
                    b, every_n=every_n, max_frames=max_frames
                )
            ]
        except (ValueError, IndexError, struct.error):
            return []

    return sample


def byte_stride_sampler(every_n_bytes: int = 4096, max_frames: int = 8):
    """Default STUB kernel: ≤ ``max_frames`` 64-byte chunks at fixed byte
    strides, standing in for real keyframe extraction (no ffmpeg here)."""

    def sample(b: bytes) -> list[tuple[int, bytes]]:
        return [
            (k * every_n_bytes, b[k * every_n_bytes : k * every_n_bytes + 64])
            for k in range(min(max_frames, max(1, len(b) // every_n_bytes)))
        ]

    return sample


def sample_frames(
    df: DataFrame,
    *,
    every_n_bytes: int | None = None,
    max_frames: int | None = None,
    sampler=None,
) -> DataFrame:
    """Frame-sampling stage for video-ish blobs (1 row in → N rows out, the
    fan-out shape real frame extraction has).

    ``sampler``: ``bytes -> list[(byte_offset, frame_bytes)]`` — THE
    injection seam; a real deployment passes an ffmpeg/pyav keyframe
    extractor. Default: ``byte_stride_sampler`` (STUB, see its docstring).
    """
    if sampler is not None:
        if every_n_bytes is not None or max_frames is not None:
            # the stride kwargs configure only the default sampler; a
            # custom sampler carries its own tuning — silently ignoring
            # them would look like a working knob that does nothing
            raise ValueError(
                "every_n_bytes/max_frames only apply to the default "
                "byte_stride_sampler; configure the injected sampler "
                "directly"
            )
    else:
        sampler = byte_stride_sampler(
            4096 if every_n_bytes is None else every_n_bytes,
            8 if max_frames is None else max_frames,
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, offs, frames = [], [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                for k, (off, frame) in enumerate(sampler(bytes(blob))):
                    ids.append(mid)
                    idxs.append(k)
                    offs.append(off)
                    frames.append(frame)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": pd.array(idxs, dtype="Int32"),
                    "byte_offset": offs,
                    "frame_bytes": frames,
                }
            )

    return df.mapInPandas(batches, FRAME_SCHEMA)


def binary_stats(df: DataFrame, content_col: str = "content") -> DataFrame:
    """JVM-native binary column metrics (no Python): length + digest.

    The cheap path for dedup/audit over media tables — exact-duplicate
    detection on blobs is a group-by on ``sha2(content, 256)``.
    """
    return df.select(
        "media_id",
        F.length(F.col(content_col)).cast("bigint").alias("n_bytes"),
        F.sha2(F.col(content_col), 256).alias("content_sha256"),
        F.crc32(F.col(content_col)).alias("content_crc32"),
    )


def synthetic_media_blob(media_id: int) -> bytes:
    """Deterministic fake media blob for fixtures/contract queries.

    Cycles through the eight sniffer classes by ``media_id % 8`` —
    png / gif / jpeg / bmp / webp(VP8L) / ico / tiff / unknown — with
    header dimensions ``w = 16 + id % 100``, ``h = 16 + id % 77``.
    Headers are REAL (the sniffer parses them by the same rules as
    wild files); pixel payloads are filler. This is the documented
    deterministic-fake seam for environments without codec libraries.
    """
    fmt = media_id % 8
    w = 16 + media_id % 100
    h = 16 + media_id % 77
    if fmt == 0:  # PNG IHDR
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13)
            + b"IHDR"
            + struct.pack(">II", w, h)
            + b"\x08\x02\x00\x00\x00"
            + b"\x00" * 16
        )
    if fmt == 1:  # GIF logical screen
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 16
    if fmt == 2:  # JPEG SOI + APP0 + SOF0
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof0 = (
            b"\xff\xc0"
            + struct.pack(">H", 11)
            + b"\x08"
            + struct.pack(">HH", h, w)
            + b"\x03\x01\x02\x03"
        )
        return b"\xff\xd8" + app0 + sof0 + b"\x00" * 8
    if fmt == 3:  # BMP header (dims at offset 18, signed)
        return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, h) + b"\x00" * 8
    if fmt == 4:  # lossless WebP (VP8L 14-bit minus-one dims)
        bits = (w - 1) | ((h - 1) << 14)
        payload = b"\x2f" + struct.pack("<I", bits)
        chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
        return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    if fmt == 5:  # ICO, single full 16-byte directory entry (w,h < 256)
        return (
            b"\x00\x00\x01\x00\x01\x00"
            + bytes([w % 256, h % 256])
            + b"\x00" * 14
        )
    if fmt == 6:  # TIFF, little-endian, SHORT width/length
        def entry(tag: int, val: int) -> bytes:
            return struct.pack("<HHI", tag, 3, 1) + struct.pack("<H", val) + b"\x00\x00"

        return (
            b"II*\x00"
            + struct.pack("<I", 8)
            + struct.pack("<H", 2)
            + entry(256, w)
            + entry(257, h)
            + b"\x00" * 4
        )
    return b"\xde\xad\xbe\xef" + media_id.to_bytes(8, "big")  # unknown


def build_synthetic_media(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """(id) → (media_id, content binary) via Arrow-batched mapInPandas —
    the blob-construction stage of the sniff/quarantine contract query.
    At 100 TB the analogous stage is the raw-bytes scan; here it is a
    deterministic generator so the downstream sniff plumbing (schema,
    batching, NULL-dim quarantine) is cross-engine checkable."""
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("content", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [synthetic_media_blob(int(i)) for i in ids],
                }
            )

    return df.mapInPandas(batches, schema)
