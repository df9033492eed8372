#!/usr/bin/env python
"""Degenerate-input sweeps: run EVERY registry query against hostile
fixture variants and report anything that throws.

At 100 TB the degenerate cases are not edge cases — empty shards,
single-row groups, NULL-poisoned payloads, malformed JSON, sentinel
timestamps and negated money columns all occur by volume. Round 10 ran
these seven classes and fixed 16 real ANSI/semantic job-killers plus
one silent data bomb (see PERF.md "degenerate-input campaign" and
"hostile-payload sweeps"); this script makes the sweep a repeatable
protocol.

Usage:
    python scripts/degenerate_sweep.py MODE [query ...]

MODE in: empty | onerow | nulls | const | unicode | extremets | negmoney
         | hotkey | dupident | megadoc | megablob

megablob (r14, VERDICT r13 item 4): the megadoc discipline extended to
the BINARY surfaces. Two parts: (a) the registry sweep runs against a
fixture whose documents carry ~1 MB blob-shaped rows (a no-whitespace
base64-ish megatoken and a high-fanout word blob — the rows
mm_binary_stats/sha paths and every text scan see when crawl junk is
twice megadoc size); (b) a dedicated adversarial-blob protocol drives
executor-BUILT hostile payloads through the registry's own binary stages
(the sniffer, the frame sampler and the ``extract_features`` feature
stage whose default encoder decodes pixels and falls back to the hash
pseudo-embedding) under the same interrupting watchdog:
decompression-bomb headers for the four image codecs and VP8L/WebP
(claimed 4–268 MP vs the 64 MP cap: the raw decoder must refuse with
MAX_PIXELS, and the feature stage must hash-FALL-BACK, never allocate
or fail the batch), a truncated BMP tail and 8 MB unknown noise (fall
back too), legal decodes that must take the pixel path (a 192 MB at-cap
BMP, a 16 MP paletted BMP, a 512x512 VP8L, a GIF-sampled frame of a
64-frame animation and a ~0.8 MP progressive (SOF2) JPEG with
successive approximation + restart markers), a 10 GP-claiming baseline
TIFF through the raster-ingest reader (loud ValueError from the
frombuffer count check, no allocation) and a big-endian multi-strip
(short final strip) page-per-band float32 raster with nodata through
geotiff_cells on real executors. A fall-back blob's features must equal
the hash encoder's row for row and a legal blob's must differ from
them; both sides are computed executor-side, so no hostile byte reaches
the driver. A bomb that allocates, a cap that rejects a legal blob, or
a fallback that throws all fail the sweep.

megadoc (r13): four pathological document shapes injected by doc_id —
a ~30k-distinct-token shingle bomb, a 500 kB single token (no
whitespace), 'spam' x 50k, and a 10-token sentence cycled 10k times —
the per-row blowup class real crawls deliver (minified JS, base64
blobs, spam, boilerplate). Exercises per-doc array materialization,
posting fan-out, regex scans and tokenizers against sub-megabyte rows.

hotkey (r11, FK clause fixed r12): 90% of rows collapse their
foreign-key / grouping values to one hot value (identity keys
untouched) — the Zipf-head shape every 100 TB corpus has. At fixture
scale it is a semantics check: giant single groups, one dominant join
key, two-distinct-value columns.

dupident (r12; made deterministic r13): at-least-once delivery replays —
ONE materialized 30-row sample is appended again VERBATIM (exact
duplicate rows, identity keys included) AND a third time with the SAME
identity keys but perturbed payloads (numeric +1, strings suffixed,
timestamps +1s) — the same 30 identities carry three deliveries each,
by construction, breaking the
key→payload functional dependency every idempotent-ingest assumption
rests on. PK joins fan out, "1 row per key" invariants break, dedup and
merge surfaces must absorb rather than throw.

Two queries fail BY DESIGN with clear errors (asserted by
tests/test_empty_input.py): sim_embedding_covariance on zero rows
(dimension unknowable) and ts_gap_fill_interpolate on sentinel spans
(max_span_days bomb guard) — the report marks them EXPECTED.

Each query runs under a 90 s job-group watchdog so one pathological
plan cannot stall the sweep.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()
# Identity columns by EXACT name (ADVICE r12: the old substring test
# `any(k in name for k in KEEP)` was the same over-matching pattern the
# hotkey mode fixed in r12 — anchor to the real schema instead). This set
# mirrors exactly what the substring test matched on the current tables,
# so nulls/const/dupident fixture shapes are unchanged by the rewrite.
IDENTITY_COLS = frozenset(
    {
        "r_regionkey", "n_nationkey", "n_regionkey",
        "c_custkey", "c_nationkey",
        "s_suppkey", "s_nationkey",
        "p_partkey",
        "o_orderkey", "o_custkey",
        "l_orderkey", "l_partkey", "l_suppkey",
        "doc_id", "vec_id", "event_id", "user_id", "ts",
    }
)
# lineitem's compound PK includes the line number: a "corrected replay"
# of the same line must keep (l_orderkey, l_linenumber) intact.
DUPIDENT_IDENTITY = IDENTITY_COLS | {"l_linenumber"}
BASE = "/root/testdata/sf0.001"

# (mode, query) pairs that fail by design with a clear, documented error
EXPECTED = {
    ("empty", "sim_embedding_covariance"),
    ("nulls", "sim_embedding_covariance"),
    ("extremets", "ts_gap_fill_interpolate"),
}

UNI = "éß中文 \U0001F600\U0001F680 שלום x y"


def mutate(df, mode):
    from pyspark.sql import functions as F

    if mode == "empty":
        return df.limit(0)
    if mode == "onerow":
        return df.limit(1)
    df = df.limit(200 if mode != "nulls" else 20)
    if mode == "nulls":
        cols = [
            F.col(f.name)
            if f.name in IDENTITY_COLS
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in df.schema.fields
        ]
        return df.select(*cols)
    if mode == "const":
        from pyspark.sql.types import (
            ArrayType, DateType, DecimalType, DoubleType, FloatType,
            IntegerType, LongType, ShortType, StringType, TimestampType,
        )

        def c_for(dt):
            if isinstance(dt, StringType):
                return F.lit("x")
            if isinstance(dt, (DoubleType, FloatType, DecimalType)):
                return F.lit(1.0).cast(dt)
            if isinstance(dt, (LongType, IntegerType, ShortType)):
                return F.lit(1).cast(dt)
            if isinstance(dt, DateType):
                return F.to_date(F.lit("1995-06-15"))
            if isinstance(dt, TimestampType):
                return F.to_timestamp(F.lit("1995-06-15 12:00:00"))
            if isinstance(dt, ArrayType):
                el = dt.elementType
                return F.array(F.lit(0.5).cast(el), F.lit(0.5).cast(el))
            return F.lit(None).cast(dt)

        cols = [
            F.col(f.name)
            if f.name in IDENTITY_COLS
            else c_for(f.dataType).alias(f.name)
            for f in df.schema.fields
        ]
        return df.select(*cols)
    if mode == "unicode":
        for c, typ in df.dtypes:
            if typ != "string":
                continue
            if c in ("event_type", "lang"):
                df = df.withColumn(c, F.concat(F.lit("中"), F.col(c)))
            elif c == "props":
                df = df.withColumn(c, F.lit('{"k": 1, "s": "中\U0001F600"}'))
            elif c in ("text", "c_name", "source"):
                df = df.withColumn(c, F.concat(F.lit(UNI + " "), F.col(c)))
        return df
    if mode == "extremets":
        for c, typ in df.dtypes:
            if typ.startswith("timestamp"):
                df = df.withColumn(
                    c,
                    F.when(
                        F.rand(7) < 0.5,
                        F.to_timestamp(F.lit("1901-12-13 20:45:52")),
                    ).otherwise(F.to_timestamp(F.lit("2261-04-11 23:47:16"))),
                )
            if typ == "date":
                df = df.withColumn(
                    c,
                    F.when(
                        F.rand(11) < 0.5, F.to_date(F.lit("1901-12-13"))
                    ).otherwise(F.to_date(F.lit("2261-04-11"))),
                )
        return df
    if mode == "megadoc":
        # Pathological single documents — the per-ROW blowup class
        # (real crawl junk: minified JS, base64 blobs, spam pages, log
        # dumps). Four shapes, assigned deterministically by doc_id so
        # the fixture is stable:
        #   %97==0  ~30k DISTINCT tokens (≈270 kB) — the distinct-
        #           shingle bomb: per-doc arrays, collect_list sizes,
        #           posting-list fan-out all scale with this one row;
        #   %97==1  ONE 500 kB token with no whitespace — tokenizers,
        #           regex scans (PII), char n-gram profiles must stay
        #           linear; shingle sets come out EMPTY (len < n);
        #   %97==2  'spam' × 50k — extreme repetition: 1 distinct
        #           shingle with a giant count (repetition stats, BPE
        #           pair counts, TF saturation);
        #   %97==3  a 10-token sentence cycled 10k× (≈630 kB) — long
        #           but low-entropy, the classic boilerplate page.
        # Only `text` (and its derived n_chars) mutates; every other
        # table passes through untouched so joins stay realistic.
        if "text" not in df.columns:
            return df
        uniq = F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(30000)),
                lambda i: F.substring(
                    F.md5(F.concat(F.lit("mega"), i.cast("string"))), 1, 8
                ),
            ),
        )
        singletok = F.repeat(F.lit("a"), 500000)
        spam = F.rtrim(F.repeat(F.lit("spam "), 50000))
        cyclic = F.rtrim(
            F.repeat(
                F.lit(
                    "the quick brown fox jumps over the lazy dog again "
                ),
                10000,
            )
        )
        m = F.col("doc_id") % 97
        df = df.withColumn(
            "text",
            F.when(m == 0, uniq)
            .when(m == 1, singletok)
            .when(m == 2, spam)
            .when(m == 3, cyclic)
            .otherwise(F.col("text")),
        )
        if "n_chars" in df.columns:
            df = df.withColumn(
                "n_chars", F.length("text").cast("int")
            )
        return df
    if mode == "megablob":
        # Blob-shaped DOCUMENT rows (2× megadoc): the fixture leg of the
        # megablob class. %101==0: a single ~1 MB base64-ish token (no
        # whitespace — the base64 data-URI / minified-bundle shape; must
        # stay linear through every regex/tokenizer/sha path);
        # %101==1: ~0.8 MB of 48k DISTINCT 16-char words (posting/array
        # fan-out at 1.6× megadoc's 30k-distinct bomb). 48k is sized to
        # the DOCUMENTED quadratic verification baseline: the all-pairs
        # dedup_ngram_jaccard_pairs pays O(N·Σ|set_i|) by design, and
        # the first megablob run proved 110k-distinct blobs push exactly
        # that baseline past the 90 s watchdog (3.7× megadoc volume) —
        # a by-design-quadratic oracle baseline going quadratic is not a
        # scale bug, so the fixture stays inside its envelope while
        # still doubling every LINEAR path's per-row load. The binary
        # DRIVES live in _megablob_drives(), not in the fixture —
        # registry queries build their media from ids, so hostile bytes
        # must be injected at the operator boundary.
        if "text" not in df.columns:
            return df
        megatoken = F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(1), F.lit(32000)),
                lambda i: F.substring(
                    F.md5(F.concat(F.lit("blob"), i.cast("string"))), 1, 32
                ),
            ),
        )
        words = F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(48000)),
                lambda i: F.substring(
                    F.md5(F.concat(F.lit("mw"), i.cast("string"))), 1, 16
                ),
            ),
        )
        m = F.col("doc_id") % 101
        df = df.withColumn(
            "text",
            F.when(m == 0, megatoken)
            .when(m == 1, words)
            .otherwise(F.col("text")),
        )
        if "n_chars" in df.columns:
            df = df.withColumn("n_chars", F.length("text").cast("int"))
        return df
    if mode == "hotkey":
        # 90% of rows take the hot value; the hot value is each column's
        # own min so FK integrity with the dimension tables holds (the
        # hot value is an existing key and dimension PKs stay unique).
        # Identity columns are excluded by EXACT name (ADVICE r11: the
        # old `any(k in c for k in KEEP)` substring test matched "key"
        # against every FK column, so no join key was ever skewed):
        #   - per-table PKs (r_regionkey .. o_orderkey) stay unique;
        #   - l_orderkey/o_orderkey stay out as join identities for
        #     line-level joins — collapsing them makes order-grain joins
        #     quadratic by design (the realistic hot entity is a
        #     customer/supplier/part/category, not an order id);
        #   - every OTHER FK (o_custkey, l_partkey, l_suppkey,
        #     c_nationkey, s_nationkey, n_regionkey) DOES skew.
        from pyspark.sql import Window as W

        identity_cols = {
            "r_regionkey", "n_nationkey", "c_custkey", "s_suppkey",
            "p_partkey", "o_orderkey", "l_orderkey",
        }
        hot_cols = [
            c
            for c, typ in df.dtypes
            if (
                c.endswith(("custkey", "suppkey", "partkey", "nationkey",
                            "regionkey"))
                and c not in identity_cols
            )
            or c in ("event_type", "lang", "source", "o_orderpriority",
                     "l_returnflag", "l_linestatus", "p_brand", "p_type",
                     "o_orderstatus", "l_shipmode", "c_mktsegment")
        ]
        for c in hot_cols:
            hot = F.min(c).over(W.partitionBy())
            df = df.withColumn(
                c, F.when(F.rand(13) < 0.9, hot).otherwise(F.col(c))
            )
        return df
    if mode == "dupident":
        # At-least-once replays. Base sample + (a) the SAME 30 rows
        # duplicated verbatim (exact dup rows, identity keys included)
        # + (b) the SAME 30 rows re-delivered with identity columns
        # intact but perturbed payloads — the corrected-replay shape
        # that breaks key->payload functional dependency.
        #
        # ADVICE r12: two independent `base.limit(30)` subtrees are NOT
        # guaranteed to pick the same rows (each branch of the union
        # plan re-evaluates the unordered limit independently — the
        # exact dups could even contain rows outside the written base).
        # Collect the 200-row sample ONCE and build all three deliveries
        # from that single materialized local list, so "three deliveries
        # per key" is guaranteed by construction.
        from pyspark.sql.types import (
            DateType, DecimalType, DoubleType, FloatType, IntegerType,
            LongType, ShortType, StringType, TimestampType,
        )

        spark = df.sparkSession
        rows = df.collect()  # already limit(200) above; bounded
        base = spark.createDataFrame(rows, df.schema)
        sample = spark.createDataFrame(rows[:30], df.schema)
        exact_dups = sample

        def perturb(f):
            c = F.col(f.name)
            # lineitem's compound PK (l_orderkey, l_linenumber) must
            # survive a corrected replay, hence DUPIDENT_IDENTITY
            if f.name in DUPIDENT_IDENTITY:
                return c
            dt = f.dataType
            if isinstance(dt, (DoubleType, FloatType, DecimalType,
                               IntegerType, LongType, ShortType)):
                return (c + F.lit(1).cast(dt)).cast(dt).alias(f.name)
            if isinstance(dt, StringType):
                return F.concat(c, F.lit("_replay")).alias(f.name)
            if isinstance(dt, TimestampType):
                return (c + F.expr("INTERVAL 1 SECOND")).alias(f.name)
            if isinstance(dt, DateType):
                return F.date_add(c, 1).alias(f.name)
            return c

        # Same 30 rows, perturbed: those identity keys now carry THREE
        # deliveries each (original, exact dup, corrected replay).
        replays = sample.select(*[perturb(f) for f in df.schema.fields])
        return base.unionAll(exact_dups).unionAll(replays)
    if mode == "negmoney":
        for c in df.columns:
            if any(
                k in c
                for k in ("price", "totalprice", "acctbal", "value",
                          "discount", "tax", "quantity")
            ):
                df = df.withColumn(c, -F.abs(F.col(c)))
        return df
    raise SystemExit(f"unknown mode {mode}")


# --- megablob: adversarial-blob drives (executor-built payloads) --------


def _chain_bytes(n: int, seed: bytes = b"blob") -> bytes:
    """n deterministic junk bytes (md5 chain, 1 KB per hash)."""
    out = bytearray()
    h = seed
    while len(out) < n:
        h = hashlib.md5(h).digest()
        out += h * 64
    return bytes(out[:n])


def _bomb_bmp() -> bytes:
    # valid BM header claiming 100000x100000 24bpp (10 GP), 256-byte body
    import struct as s

    hdr = bytearray(54)
    hdr[0:2] = b"BM"
    s.pack_into("<I", hdr, 10, 54)        # pixel offset
    s.pack_into("<I", hdr, 14, 40)        # BITMAPINFOHEADER
    s.pack_into("<ii", hdr, 18, 100000, 100000)
    s.pack_into("<HH", hdr, 26, 1, 24)    # planes, bpp
    return bytes(hdr) + b"\x00" * 256


def _bomb_png() -> bytes:
    # real signature + CRC-correct IHDR claiming 100000x100000
    import struct as s
    import zlib

    ihdr = s.pack(">IIBBBBB", 100000, 100000, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + s.pack(">I", len(ihdr)) + chunk + s.pack(">I", zlib.crc32(chunk))
        + s.pack(">I", 4) + b"IDAT\x00\x00\x00\x00"
        + s.pack(">I", zlib.crc32(b"IDAT\x00\x00\x00\x00"))
        + s.pack(">I", 0) + b"IEND" + s.pack(">I", zlib.crc32(b"IEND"))
    )


def _bomb_gif() -> bytes:
    # logical screen 65500x65500 (4.3 GP)
    import struct as s

    return (
        b"GIF89a" + s.pack("<HH", 65500, 65500) + b"\x00\x00\x00"
        + b"\x2c" + s.pack("<HHHH", 0, 0, 65500, 65500) + b"\x00"
        + b"\x08\x01\x00\x00\x3b"
    )


def _bomb_jpeg() -> bytes:
    # SOI + SOF0 claiming 65500x65500 (4.3 GP) + EOI
    import struct as s

    payload = s.pack(">BHHB", 8, 65500, 65500, 1) + b"\x01\x11\x00"
    return (
        b"\xff\xd8\xff\xc0" + s.pack(">H", len(payload) + 2) + payload
        + b"\xff\xd9"
    )


def _bmp_at_cap_192mb() -> bytes:
    # 8000x8000 = exactly 64 MP: legal, 192 MB of pixels. Must decode
    # to pixel features inside the watchdog.
    from skope_api_spark.operators.bmp import bmp_encode

    px = bytearray(8000 * 8000 * 3)
    px[::1009] = b"\xff" * len(px[::1009])  # non-constant image
    return bmp_encode(8000, 8000, bytes(px))


def _bmp_truncated_tail() -> bytes:
    from skope_api_spark.operators.bmp import bmp_encode

    full = bmp_encode(2000, 2000, b"\x40" * (2000 * 2000 * 3))
    return full[: len(full) // 2]


def _bmp_pal8_16mp() -> bytes:
    # hand-built 4000x4000 8-bit palette BMP (~16 MB): the per-pixel
    # palette join is the slowest pure-Python decode path — must stay
    # inside the watchdog at 16 MP.
    import struct as s

    w = h = 4000
    hdr = bytearray(54)
    hdr[0:2] = b"BM"
    s.pack_into("<I", hdr, 10, 54 + 1024)
    s.pack_into("<I", hdr, 14, 40)
    s.pack_into("<ii", hdr, 18, w, h)
    s.pack_into("<HH", hdr, 26, 1, 8)
    pal = b"".join(
        bytes((i % 256, (i * 7) % 256, (i * 13) % 256, 0)) for i in range(256)
    )
    row = (bytes(range(256)) * (w // 256 + 1))[:w]
    return bytes(hdr) + pal + row * h


def _noise_8mb() -> bytes:
    return _chain_bytes(8 * 1024 * 1024, b"noise")


def _bomb_tiff() -> bytes:
    # real write_baseline_tiff output for a 2x2 raster, with the
    # ImageWidth/ImageLength tags patched to 100000x100000 (10 GP) while
    # the strip data stays 4 samples — the raster-INGEST counterpart of
    # the image-codec bomb headers. frombuffer must refuse (count >
    # buffer) BEFORE any allocation; the reader's contract is a loud
    # ValueError, never a hang or an OOM.
    import struct as s

    import numpy as np

    from skope_api_spark.sources.geotiff import write_baseline_tiff

    data = bytearray(write_baseline_tiff(np.zeros((2, 2, 1))))
    bo = "<" if bytes(data[:2]) == b"II" else ">"
    off = s.unpack(bo + "I", data[4:8])[0]
    n = s.unpack(bo + "H", data[off : off + 2])[0]
    patched = 0
    for i in range(n):
        e = off + 2 + 12 * i
        tag = s.unpack(bo + "H", data[e : e + 2])[0]
        if tag in (256, 257):  # ImageWidth / ImageLength
            s.pack_into(bo + "I", data, e + 8, 100000)
            patched += 1
    assert patched == 2, patched
    return bytes(data)


def _bomb_webp() -> bytes:
    # VP8L header claiming 16384x16384 (268 MP — the format's max, 4.2x
    # the 64 MP cap), ~40-byte payload
    import struct as s

    from skope_api_spark.operators.vp8l import _LsbWriter

    bw = _LsbWriter()
    bw.write(0x2F, 8)
    bw.write(16383, 14)
    bw.write(16383, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    payload = bytes(bw.bytes()) + b"\x00" * 16
    chunk = b"VP8L" + s.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + s.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _webp_legal_512() -> bytes:
    from skope_api_spark.operators.vp8l import vp8l_encode

    px = bytes(
        (x * 7 + y * 13) % 256
        for y in range(512)
        for x in range(512)
        for _ in (0, 1, 2)
    )
    return vp8l_encode(512, 512, px, channels=3)


def _jpeg_prog_1mp() -> bytes:
    """Legal progressive (SOF2) JPEG at the pure-Python path's practical
    cap (r15, VERDICT r14 item 7): ~0.8 MP RGB with successive
    approximation AND restart markers — the two stateful decode paths —
    sized so encode+decode stays inside the 90 s drive watchdog (the
    bit-level codec measures ~4.6 s per 512x512; pixel-count caps live in
    MAX_PIXELS and are covered by the bomb_jpeg drive)."""
    import numpy as np

    from skope_api_spark.operators.jpeg import jpeg_encode_progressive

    w, h = 1024, 768
    yy, xx, ch = np.mgrid[0:h, 0:w, 0:3]
    px = ((xx * 3 + yy * 5 + ch * 40) % 256).astype(np.uint8).tobytes()
    return jpeg_encode_progressive(
        w, h, px, successive=True, restart_interval=4
    )


def _gif_anim_64f() -> bytes:
    from skope_api_spark.operators.gif import gif_encode_animation

    palette = [(i, 255 - i, (i * 3) % 256) for i in range(4)]
    frames = [
        {"indices": bytes((f + x) % 4 for x in range(64 * 64))}
        for f in range(64)
    ]
    return gif_encode_animation(64, 64, palette, frames)


def _blob_df(spark, builder):
    """(media_id, content) with the blob built EXECUTOR-side — hostile
    bytes never transit the driver, mirroring a real raw-bytes scan.
    Checkpointed once, so the builder runs once per drive and every
    stage a drive compares reads the same bytes."""
    from pyspark.sql.types import (
        BinaryType, LongType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("content", BinaryType()),
        ]
    )

    def gen(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["id"],
                    "content": [builder() for _ in range(len(pdf))],
                }
            )

    return spark.range(1).mapInPandas(gen, schema).localCheckpoint()


def _megablob_drives():
    """(name, fn(spark)) pairs; each asserts the expected outcome of one
    hostile blob through the registry's own binary stages: the sniffer
    (``decode_image_metadata``) and the feature stage
    (``extract_features``), whose default encoder decodes pixels and
    falls back to the hash pseudo-embedding on any blob it refuses."""
    from skope_api_spark.operators.bmp import bmp_decode
    from skope_api_spark.operators.gif import gif_decode
    from skope_api_spark.operators.jpeg import jpeg_decode
    from skope_api_spark.operators.multimodal import (
        binary_stats, decode_image_metadata, extract_features,
        gif_frame_sampler, hash_pseudo_encoder, sample_frames,
    )
    from skope_api_spark.operators.png import png_decode
    from skope_api_spark.operators.vp8l import vp8l_decode

    def sniffed(df, fmt):
        sniff = decode_image_metadata(df).collect()[0]
        assert sniff.format == fmt, f"sniffed {sniff.format}, want {fmt}"
        return sniff

    def features(df, encoder=None):
        # computed executor-side: only the small feature rows reach the
        # driver, never the blob
        return sorted(
            (r.media_id, r.feature)
            for r in extract_features(df, encoder=encoder).collect()
        )

    def fell_back(df):
        """Whether the default feature stage gave the hash encoder's
        features row for row: a refused blob must (the batch does not
        fail — at corpus scale a hostile blob is data), a legal one must
        not (the pixel decode ran)."""
        got = features(df)
        assert len(got) == 1, len(got)
        return got == features(df, hash_pseudo_encoder())

    def bomb(spark, builder, fmt, decode):
        # the raw decode must refuse from the header alone
        try:
            decode(builder())
            raise AssertionError(f"{fmt} bomb header decoded?!")
        except ValueError as ex:
            assert "MAX_PIXELS" in str(ex), ex
        df = _blob_df(spark, builder)
        sniffed(df, fmt)
        assert fell_back(df), "refused blob did not take the hash fallback"

    def truncated(spark):
        df = _blob_df(spark, _bmp_truncated_tail)
        sniffed(df, "bmp")
        assert fell_back(df), "truncated BMP did not take the hash fallback"

    def decodes(spark, builder, fmt, w, h):
        df = _blob_df(spark, builder)
        sniff = sniffed(df, fmt)
        dims = (sniff.width, sniff.height)
        assert dims == (w, h), dims
        assert not fell_back(df), "legal blob took the hash fallback"

    def noise(spark):
        df = _blob_df(spark, _noise_8mb)
        sniff = decode_image_metadata(df).collect()[0]
        assert sniff.format is None and sniff.n_bytes == 8 * 1024 * 1024
        st = binary_stats(df).collect()[0]
        assert st.n_bytes == 8 * 1024 * 1024
        assert fell_back(df), "noise did not take the hash fallback"

    def tiff_bomb(spark):
        from skope_api_spark.sources.geotiff import read_baseline_tiff

        # raw decode: loud ValueError from the count check, no allocation
        try:
            list(read_baseline_tiff(_bomb_tiff()))
            raise AssertionError("10 GP TIFF header decoded?!")
        except ValueError:
            pass
        # and through the Arrow sniff stage: classifies as tiff with the
        # CLAIMED dims (headers are metadata, decode is where caps live)
        sniff = decode_image_metadata(_blob_df(spark, _bomb_tiff)).collect()[0]
        assert sniff.format == "tiff", sniff.format

    def tiff_multistrip(spark):
        """Legal multi-strip decode through the geotiff ETL seam (r15,
        VERDICT r14 item 7): the bomb drive covers the reject path; this
        drives a big-endian, page-per-band, short-final-strip float32
        raster with nodata through geotiff_cells on real executors."""
        import tempfile
        from datetime import date

        import numpy as np

        from skope_api_spark.sources.geotiff import (
            geotiff_cells, write_baseline_tiff,
        )

        h, w, nb = 37, 23, 2
        rng = np.random.default_rng(15)
        cube = rng.uniform(-5, 40, (h, w, nb)).astype("float32")
        cube[3, 5, 0] = np.nan   # nodata holes, one per band
        cube[30, 1, 1] = np.nan
        data = write_baseline_tiff(
            np.where(np.isnan(cube), np.float32(-9999.0), cube),
            byte_order=">",
            nodata=-9999.0,
            rows_per_strip=7,     # 6 strips, final strip 2 rows
            page_per_band=True,   # one band per IFD
        )
        with tempfile.NamedTemporaryFile(suffix=".tif", delete=False) as fh:
            fh.write(data)
            path = fh.name
        cells = geotiff_cells(
            spark, [(path, "drive_ds", "drive_var", "year", date(2000, 1, 1))]
        ).collect()
        os.unlink(path)
        assert len(cells) == h * w * nb, len(cells)
        by_key = {(r.band, r.row, r.col): r for r in cells}
        assert by_key[(1, 3, 5)].value is None      # nodata -> NULL
        assert by_key[(2, 30, 1)].value is None
        assert by_key[(1, 3, 6)].value is not None  # neighbors survive
        got = by_key[(2, 36, 22)].value             # short-strip corner
        want = float(cube[36, 22, 1])
        assert got is not None and abs(got - want) < 1e-6, (got, want)
        assert {r.band for r in cells} == {1, 2}

    def anim(spark):
        rows = sample_frames(
            _blob_df(spark, _gif_anim_64f),
            sampler=gif_frame_sampler(every_n=8, max_frames=4),
        ).collect()
        assert 1 <= len(rows) <= 4, len(rows)
        # sampled frames are real BMPs: close the loop through the
        # feature stage's pixel path
        decodes(spark, lambda b=bytes(rows[0].frame_bytes): b, "bmp", 64, 64)

    return [
        ("bomb_bmp_10gp", lambda s: bomb(s, _bomb_bmp, "bmp", bmp_decode)),
        ("bomb_png_10gp", lambda s: bomb(s, _bomb_png, "png", png_decode)),
        ("bomb_gif_4gp", lambda s: bomb(s, _bomb_gif, "gif", gif_decode)),
        ("bomb_jpeg_4gp", lambda s: bomb(s, _bomb_jpeg, "jpeg", jpeg_decode)),
        ("bmp_at_cap_192mb", lambda s: decodes(
            s, _bmp_at_cap_192mb, "bmp", 8000, 8000)),
        ("bmp_truncated_tail", truncated),
        ("bmp_pal8_16mp", lambda s: decodes(
            s, _bmp_pal8_16mp, "bmp", 4000, 4000)),
        ("noise_8mb_unknown", noise),
        ("tiff_bomb_10gp", tiff_bomb),
        ("webp_bomb_268mp", lambda s: bomb(
            s, _bomb_webp, "webp", vp8l_decode)),
        ("webp_legal_512", lambda s: decodes(
            s, _webp_legal_512, "webp", 512, 512)),
        ("gif_anim_64f_sample", anim),
        ("jpeg_progressive_1mp_legal", lambda s: decodes(
            s, _jpeg_prog_1mp, "jpeg", 1024, 768)),
        ("tiff_multistrip_legal", tiff_multistrip),
    ]


def write_fixtures(spark, mode: str) -> str:
    """The mode's ten mutated fixture tables, written once per stamp
    under /tmp; returns their directory."""
    from skope_api_spark.tables import load

    # Fixture cache key covers this script's content (mutate() logic) and
    # the base tables' mtimes, so editing either regenerates fixtures
    # automatically instead of silently reusing stale ones (ADVICE r10).
    stamp = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as fh:
        stamp.update(fh.read())
    for t in TABLES:
        stamp.update(str(os.path.getmtime(f"{BASE}/{t}.parquet")).encode())
    out = f"/tmp/sf_degenerate_{mode}_{stamp.hexdigest()[:10]}"
    # Drop fixture dirs from older script/base-table versions so edits
    # don't accumulate orphans in /tmp (ADVICE r11) — but only dirs that
    # have been idle >1h, so a concurrent sweep of the same mode built
    # from a different stamp doesn't lose its fixtures mid-run
    # (ADVICE r12).
    for stale in glob.glob(f"/tmp/sf_degenerate_{mode}_*"):
        try:
            idle = time.time() - os.path.getmtime(stale)
        except OSError:
            continue
        if stale != out and idle > 3600:
            shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    if not os.path.exists(f"{out}/embeddings.parquet"):
        for t in TABLES:
            df = mutate(load(spark, BASE, t), mode)
            tmp = f"{out}/_tmp_{t}"
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(f"{tmp}/part-*.parquet")[0]
            shutil.copy(part, f"{out}/{t}.parquet")
            shutil.rmtree(tmp)
    return out


def main() -> int:
    mode = sys.argv[1]
    selected = sys.argv[2:]
    from skope_api_spark.session import get_spark

    spark = get_spark(
        f"degenerate_{mode}", master="local[8]", shuffle_partitions=8
    )
    # `megablob drives` runs ONLY the blob drives (fast iteration on the
    # binary protocol) and reads no fixture table, so it writes none; a
    # full `megablob` run does registry + drives.
    drives_only = mode == "megablob" and selected == ["drives"]
    out = None if drives_only else write_fixtures(spark, mode)

    import __spark_entry__ as e

    qs = e.queries()
    names = selected or list(qs)
    sc = spark.sparkContext
    unexpected = []
    timeouts = []

    def run_one(name, thunk):
        # interruptOnCancel=True is load-bearing: the default (False)
        # means cancelJobGroup only marks jobs cancelled — already-
        # RUNNING tasks keep executing to completion, so every
        # watchdog-cancelled heavy query leaves zombie stages burning
        # cores and the sweep's remaining queries starve into cascading
        # false timeouts (observed in the first r13 megadoc run: three
        # orphaned stages from cancelled job groups still running 20
        # minutes later, trivial events-table queries timing out
        # behind them). With True, cancellation Thread.interrupt()s the
        # task threads and the zombies die with the group.
        sc.setJobGroup(name, name, interruptOnCancel=True)
        timed_out = threading.Event()

        def watchdog(n=name, flag=timed_out):
            flag.set()
            sc.cancelJobGroup(n)

        timer = threading.Timer(90.0, watchdog)
        timer.start()
        t0 = time.time()
        try:
            thunk()
            status = "OK"
        except Exception as ex:  # noqa: BLE001
            if timed_out.is_set():
                # Watchdog cancellation: slow, not provably wrong —
                # report separately from a real crasher (ADVICE r10),
                # but keep the surfaced exception so cancellation vs a
                # genuine post-cancel failure stays diagnosable
                # (ADVICE r11).
                status = (
                    f"TIMEOUT >90s (job group cancelled; surfaced "
                    f"{type(ex).__name__}: {str(ex)[:80]})"
                )
                timeouts.append(name)
            elif (mode, name) in EXPECTED:
                status = "EXPECTED-ERR"
            else:
                status = f"THROW {type(ex).__name__}: {str(ex)[:110]}"
                unexpected.append(name)
        finally:
            timer.cancel()
        print(f"{time.time()-t0:7.1f}s {status} {name}", flush=True)

    if drives_only:
        names = []
    for name in names:
        run_one(name, lambda n=name: qs[n](spark, out).collect())
    n_total = len(names)
    if mode == "megablob" and (not selected or drives_only):
        drives = _megablob_drives()
        n_total += len(drives)
        for dn, fn in drives:
            run_one(f"megablob::{dn}", lambda f=fn: f(spark))
    bad = len(unexpected) + len(timeouts)
    print(
        f"\n{mode}: {n_total - bad}/{n_total} survive, "
        f"{len(unexpected)} unexpected throw: {unexpected}, "
        f"{len(timeouts)} timeout: {timeouts}"
    )
    return 1 if (unexpected or timeouts) else 0


if __name__ == "__main__":
    sys.exit(main())
