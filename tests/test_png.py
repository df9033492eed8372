"""Pure-stdlib PNG codec: round-trips, all five scanline filters, CRC
verification, and the real-pixel feature kernel through the Spark
mapInPandas stage."""

from __future__ import annotations

import struct
import zlib

import pytest

from skope_api_spark.operators.png import (
    PNG_SIGNATURE,
    png_decode,
    png_encode,
    png_pixel_features,
    quadrant_features,
)


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def _png_with_filters(width, height, channels, filtered_rows):
    """Assemble a PNG whose IDAT carries explicit (filter_byte, row_bytes)
    scanlines — lets tests exercise decode filters the encoder never
    emits."""
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    raw = b"".join(bytes([f]) + bytes(row) for f, row in filtered_rows)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


class TestRoundTrip:
    @pytest.mark.parametrize("channels", [1, 2, 3, 4])
    def test_encode_decode_identity(self, channels):
        w, h = 5, 4
        pixels = bytes((i * 37 + channels) % 256 for i in range(w * h * channels))
        w2, h2, ch2, px2 = png_decode(png_encode(w, h, pixels, channels=channels))
        assert (w2, h2, ch2) == (w, h, channels)
        assert px2 == pixels

    def test_bad_crc_rejected(self):
        data = bytearray(png_encode(2, 2, bytes(12), channels=3))
        data[-5] ^= 0xFF  # corrupt IEND CRC
        with pytest.raises(ValueError, match="CRC"):
            png_decode(bytes(data))

    def test_not_png_rejected(self):
        with pytest.raises(ValueError, match="signature"):
            png_decode(b"\xff\xd8not a png at all")

    def test_palette_without_plte_rejected(self):
        # palette PNGs decode since round 9; one MISSING its PLTE is
        # malformed and must error cleanly
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
        idat = zlib.compress(b"\x00\x00")
        data = (
            PNG_SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="PLTE"):
            png_decode(data)

    def test_invalid_interlace_method_rejected(self):
        # methods 0 (none) and 1 (Adam7) both decode since round 9;
        # anything else is malformed
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 2)
        data = PNG_SIGNATURE + _chunk(b"IHDR", ihdr)
        with pytest.raises(ValueError, match="interlace"):
            png_decode(data)

    def test_decompression_bomb_capped(self):
        """A 1x1 PNG whose IDAT inflates to ~64 MB must fail with
        ValueError after producing at most the IHDR-promised bytes —
        never materialize the full bomb in memory."""
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
        bomb = zlib.compress(b"\x00" * (64 * 1024 * 1024), 9)
        data = PNG_SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", bomb)
        data += _chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="IDAT length"):
            png_decode(data)

    def test_forged_max_dims_raise_value_error_not_overflow(self):
        """A CRC-valid IHDR claiming 2^32-1 x 2^32-1 must be rejected by
        the pixel cap with ValueError — previously width*height overflowed
        zlib's max_length (OverflowError), crashing past callers'
        ValueError fallback."""
        ihdr = struct.pack(">IIBBBBB", 0xFFFFFFFF, 0xFFFFFFFF, 8, 6, 0, 0, 0)
        data = (
            PNG_SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"\x00"))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="MAX_PIXELS"):
            png_decode(data)

    def test_bomb_with_forged_large_dims_fails_before_decompress(self):
        """Forging large-but-plausible dims (2^20 x 2^20) used to make the
        IHDR-derived max_length so big the bomb inflated hundreds of MB
        before the length check; the pixel cap now rejects it up front."""
        ihdr = struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 0, 0, 0, 0)
        bomb = zlib.compress(b"\x00" * (1 << 20), 9)
        data = (
            PNG_SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", bomb)
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="MAX_PIXELS"):
            png_decode(data)

    def test_zero_width_rejected(self):
        ihdr = struct.pack(">IIBBBBB", 0, 4, 8, 0, 0, 0, 0)
        data = (
            PNG_SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"\x00"))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="zero-dimension"):
            png_decode(data)

    def test_undersized_idat_rejected(self):
        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
        short = zlib.compress(b"\x00" * 3)  # expected (4+1)*4 = 20 bytes
        data = (
            PNG_SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", short)
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="IDAT length"):
            png_decode(data)


class TestScanlineFilters:
    """Apply each filter forward by hand, assert the decoder inverts it.
    Grayscale 3x3, pixel value = r*16 + c*2 (distinct, sub-256)."""

    W = H = 3
    PIX = [[r * 16 + c * 2 for c in range(3)] for r in range(3)]

    def _decode(self, rows):
        w, h, ch, px = png_decode(_png_with_filters(self.W, self.H, 1, rows))
        return [[px[r * self.W + c] for c in range(self.W)] for r in range(self.H)]

    def test_filter_sub(self):
        rows = []
        for r in range(self.H):
            line = self.PIX[r]
            rows.append((1, [line[0]] + [(line[i] - line[i - 1]) % 256 for i in (1, 2)]))
        assert self._decode(rows) == self.PIX

    def test_filter_up(self):
        rows = [(0, self.PIX[0])]
        for r in (1, 2):
            rows.append((2, [(self.PIX[r][c] - self.PIX[r - 1][c]) % 256 for c in range(3)]))
        assert self._decode(rows) == self.PIX

    def test_filter_average(self):
        rows = [(0, self.PIX[0])]
        for r in (1, 2):
            line = []
            for c in range(3):
                a = self.PIX[r][c - 1] if c else 0
                line.append((self.PIX[r][c] - ((a + self.PIX[r - 1][c]) >> 1)) % 256)
            rows.append((3, line))
        assert self._decode(rows) == self.PIX

    def test_filter_paeth(self):
        def paeth(a, b, c):
            pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
            return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

        rows = [(0, self.PIX[0])]
        for r in (1, 2):
            line = []
            for c in range(3):
                a = self.PIX[r][c - 1] if c else 0
                b = self.PIX[r - 1][c]
                cc = self.PIX[r - 1][c - 1] if c else 0
                line.append((self.PIX[r][c] - paeth(a, b, cc)) % 256)
            rows.append((4, line))
        assert self._decode(rows) == self.PIX


class TestPixelFeatures:
    def test_solid_color_quadrant_means(self):
        # solid red 4x4 RGB: quadrant means = (1, 0, 0) x 4 quadrants
        pixels = bytes([255, 0, 0] * 16)
        feats = png_pixel_features(png_encode(4, 4, pixels, channels=3), dim=12)
        assert feats == pytest.approx([1.0, 0.0, 0.0] * 4)

    def test_gradient_differs_by_quadrant(self):
        # left half black, right half white (grayscale 4x2)
        pixels = bytes([0, 0, 255, 255] * 2)
        feats = png_pixel_features(png_encode(4, 2, pixels, channels=1), dim=4)
        assert feats[0] == pytest.approx(0.0)  # top-left quadrant
        assert feats[1] == pytest.approx(1.0)  # top-right quadrant


def _loop_quadrant_features(w, h, ch, px, *, dim=16):
    """The per-pixel loop ``quadrant_features`` replaced: the reference
    its numpy reduction must match bit for bit."""
    sums = [0] * (4 * ch)
    counts = [0] * 4
    for y in range(h):
        qy = 0 if y < (h + 1) // 2 else 1
        row = y * w * ch
        for x in range(w):
            q = qy * 2 + (0 if x < (w + 1) // 2 else 1)
            counts[q] += 1
            base = row + x * ch
            for c in range(ch):
                sums[q * ch + c] += px[base + c]
    feats = [
        sums[q * ch + c] / (255.0 * counts[q]) if counts[q] else 0.0
        for q in range(4)
        for c in range(ch)
    ]
    feats = feats[:dim]
    return feats + [0.0] * (dim - len(feats))


class TestQuadrantFeatures:
    @pytest.mark.parametrize("w,h", [(1, 1), (1, 7), (9, 1), (5, 3), (8, 8), (33, 17)])
    @pytest.mark.parametrize("ch", [1, 2, 3, 4])
    @pytest.mark.parametrize("dim", [4, 16])
    def test_matches_the_per_pixel_loop_bit_for_bit(self, w, h, ch, dim):
        import random

        rng = random.Random(w * 1000 + h * 10 + ch)
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        got = quadrant_features(w, h, ch, px, dim=dim)
        want = _loop_quadrant_features(w, h, ch, px, dim=dim)
        assert [v.hex() for v in got] == [v.hex() for v in want]
        assert all(type(v) is float for v in got)


class TestSparkIntegration:
    def test_default_encoder_uses_real_pixels_for_png(self, spark):
        from skope_api_spark.operators.multimodal import extract_features

        red = png_encode(4, 4, bytes([255, 0, 0] * 16), channels=3)
        blob = b"not-a-png-blob"
        df = spark.createDataFrame(
            [(1, red), (2, blob)], "media_id long, content binary"
        )
        out = {r.media_id: list(r.feature) for r in extract_features(df, dim=12).collect()}
        assert out[1][:3] == pytest.approx([1.0, 0.0, 0.0])  # real pixels
        assert len(out[2]) == 12  # non-PNG falls back to hash stub
        assert out[1] != out[2]


class TestCorruptBlobRobustness:
    def test_every_truncation_point_falls_back_not_crashes(self):
        """A 100 TB media table WILL contain truncated files; the default
        encoder must degrade to the hash stub at every possible cut."""
        from skope_api_spark.operators.multimodal import pixel_or_hash_encoder

        full = png_encode(4, 4, bytes(range(48)), channels=3)
        enc = pixel_or_hash_encoder(8)
        for cut in range(len(full)):
            feats = enc(full[:cut])
            assert len(feats) == 8  # never raises, always the right shape

    def test_truncated_chunk_raises_value_error_not_struct_error(self):
        full = png_encode(2, 2, bytes(12), channels=3)
        # cut INSIDE the IDAT chunk (signature 8 + IHDR chunk 25 = 33; any
        # cut before IDAT's 12-byte frame + payload completes must raise
        # ValueError, never struct.error/zlib.error)
        for cut in range(34, len(full) - 13):
            with pytest.raises(ValueError, match="truncated|missing|IDAT"):
                png_decode(full[:cut])


class TestExtendedLayouts:
    """Palette, sub-8-bit and 16-bit PNGs (round 9) — golden-pinned by
    real stdlib/IDLE icons plus constructed streams for the packings no
    golden covers."""

    PY_LOGO = (
        "/root/.pyenv/versions/3.13.0/lib/python3.13/test/"
        "test_email/data/python.png"
    )
    IDLE16 = "/root/.pyenv/versions/3.7.16/lib/python3.7/idlelib/Icons/idle_16.png"

    def test_golden_palette_trns_logo(self):
        import os

        if not os.path.exists(self.PY_LOGO):
            pytest.skip("stdlib palette fixture not present")
        w, h, c, px = png_decode(open(self.PY_LOGO, "rb").read())
        assert (w, h, c) == (16, 16, 4)  # tRNS present -> RGBA
        # corners transparent, snake body opaque
        assert px[3] < 32 and px[4 * 15 + 3] < 32
        assert px[4 * (5 * 16 + 2) + 3] > 200

    def test_cross_codec_alpha_agreement(self):
        """The SAME logo ships as palette+tRNS PNG and as lossy webp
        with a VP8L alpha plane: two unrelated codec stacks must agree
        on the silhouette pixel-for-pixel — mutual external validation
        of both decoders."""
        import os

        webp = (
            "/root/.pyenv/versions/3.13.0/lib/python3.13/test/"
            "test_email/data/python.webp"
        )
        if not (os.path.exists(self.PY_LOGO) and os.path.exists(webp)):
            pytest.skip("stdlib fixtures not present")
        from skope_api_spark.operators.vp8l import webp_alpha_plane

        w, h, c, px = png_decode(open(self.PY_LOGO, "rb").read())
        W, H, plane = webp_alpha_plane(open(webp, "rb").read())
        assert (w, h) == (W, H)
        png_mask = [px[4 * i + 3] > 128 for i in range(w * h)]
        webp_mask = [plane[i] > 128 for i in range(W * H)]
        assert png_mask == webp_mask  # 256/256 observed at record time

    def test_golden_16bit_rgba(self):
        import os

        if not os.path.exists(self.IDLE16):
            pytest.skip("IDLE 16-bit icon not present")
        w, h, c, px = png_decode(open(self.IDLE16, "rb").read())
        assert (w, h, c) == (16, 16, 4)
        assert len(px) == 16 * 16 * 4
        assert len(set(px)) > 8  # real image content, not zeros

    @pytest.mark.parametrize("depth", [1, 2, 4, 8])
    def test_constructed_palette_packings(self, depth):
        """Sub-byte palette indices pack MSB-first (spec 7.2); odd width
        exercises row-tail bits."""
        import random

        ncol = 1 << depth
        rng = random.Random(depth)
        palette = bytes(rng.randrange(256) for _ in range(3 * ncol))
        w, h = 11, 5
        idx = [rng.randrange(ncol) for _ in range(w * h)]
        per = 8 // depth
        stride = (w * depth + 7) // 8
        raw = bytearray()
        for y in range(h):
            raw.append(0)  # filter None
            rowbits = bytearray(stride)
            for x in range(w):
                b, k = divmod(x, per)
                rowbits[b] |= idx[y * w + x] << (8 - depth * (k + 1))
            raw += rowbits
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0)
        data = (
            PNG_SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"PLTE", palette)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )
        W, H, C, px = png_decode(data)
        assert (W, H, C) == (w, h, 3)
        expect = b"".join(
            palette[3 * i : 3 * i + 3] for i in idx
        )
        assert px == expect

    @pytest.mark.parametrize("depth", [1, 2, 4])
    def test_constructed_sub8_grayscale(self, depth):
        w, h = 9, 3
        import random

        rng = random.Random(depth + 10)
        mx = (1 << depth) - 1
        vals = [rng.randrange(mx + 1) for _ in range(w * h)]
        per = 8 // depth
        stride = (w * depth + 7) // 8
        raw = bytearray()
        for y in range(h):
            raw.append(0)
            rowbits = bytearray(stride)
            for x in range(w):
                b, k = divmod(x, per)
                rowbits[b] |= vals[y * w + x] << (8 - depth * (k + 1))
            raw += rowbits
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
        data = (
            PNG_SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )
        W, H, C, px = png_decode(data)
        assert (W, H, C) == (w, h, 1)
        scale = 255 // mx
        assert px == bytes(v * scale for v in vals)

    def test_constructed_16bit_rgb_with_filters(self):
        """16-bit samples: the filter byte-distance is channels*2; take
        the high byte after unfiltering."""
        import random

        rng = random.Random(99)
        w, h = 6, 4
        hi = [rng.randrange(256) for _ in range(w * h * 3)]
        raw = bytearray()
        raws = []
        for y in range(h):
            row = bytearray()
            for x in range(w):
                for ch in range(3):
                    row += bytes([hi[(y * w + x) * 3 + ch], 0x5A])
            raws.append(row)
        for y in range(h):
            if y == 0:
                raw.append(0)
                raw += raws[0]
            else:
                raw.append(2)  # Up: emit difference vs previous raw row
                raw += bytes(
                    (raws[y][i] - raws[y - 1][i]) & 0xFF
                    for i in range(len(raws[y]))
                )
        ihdr = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
        data = (
            PNG_SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )
        W, H, C, px = png_decode(data)
        assert (W, H, C) == (w, h, 3)
        assert px == bytes(hi)


class TestAdam7:
    """Interlaced PNGs (round 9): forward-interlace the same pixel data
    in the test, then assert the Adam7 decode equals the sequential
    decode exactly; libpng's own pngtest.png is the external golden."""

    PASSES = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]

    def _interlaced_png(self, w, h, depth, color, samples, palette=None):
        """samples: per-pixel tuples of channel values at ``depth``."""
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
        raw = bytearray()
        for x0, y0, dx, dy in self.PASSES:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            pstride = (wp * channels * depth + 7) // 8
            for ry in range(hp):
                raw.append(0)  # filter None
                row = bytearray(pstride)
                bitpos = 0
                for rx in range(wp):
                    px = samples[(y0 + ry * dy) * w + (x0 + rx * dx)]
                    for ch in range(channels):
                        v = px[ch]
                        for bit in range(depth - 1, -1, -1):
                            if (v >> bit) & 1:
                                row[bitpos // 8] |= 1 << (7 - bitpos % 8)
                            bitpos += 1
                raw += row
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 1)
        data = PNG_SIGNATURE + _chunk(b"IHDR", ihdr)
        if palette is not None:
            data += _chunk(b"PLTE", palette)
        data += _chunk(b"IDAT", zlib.compress(bytes(raw)))
        data += _chunk(b"IEND", b"")
        return data

    def _sequential_png(self, w, h, depth, color, samples, palette=None):
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
        stride = (w * channels * depth + 7) // 8
        raw = bytearray()
        for y in range(h):
            raw.append(0)
            row = bytearray(stride)
            bitpos = 0
            for x in range(w):
                for ch in range(channels):
                    v = samples[y * w + x][ch]
                    for bit in range(depth - 1, -1, -1):
                        if (v >> bit) & 1:
                            row[bitpos // 8] |= 1 << (7 - bitpos % 8)
                        bitpos += 1
            raw += row
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
        data = PNG_SIGNATURE + _chunk(b"IHDR", ihdr)
        if palette is not None:
            data += _chunk(b"PLTE", palette)
        data += _chunk(b"IDAT", zlib.compress(bytes(raw)))
        data += _chunk(b"IEND", b"")
        return data

    @pytest.mark.parametrize(
        "depth,color,w,h",
        [
            (8, 0, 13, 9),   # gray: odd dims hit empty-pass edges
            (8, 6, 11, 7),   # RGBA
            (4, 3, 10, 6),   # packed palette indices
            (2, 0, 9, 5),    # 2-bit gray
            (16, 2, 6, 10),  # 16-bit RGB
            (8, 6, 1, 1),    # single pixel: only pass 1 non-empty
            (8, 0, 5, 3),    # width < 8: passes 1/2 nearly empty
        ],
    )
    def test_interlaced_equals_sequential(self, depth, color, w, h):
        import random

        rng = random.Random(depth * 1000 + color * 100 + w)
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
        mx = (1 << depth) - 1
        palette = None
        if color == 3:
            palette = bytes(rng.randrange(256) for _ in range(3 * (mx + 1)))
        samples = [
            tuple(rng.randrange(mx + 1) for _ in range(channels))
            for _ in range(w * h)
        ]
        seq = png_decode(
            self._sequential_png(w, h, depth, color, samples, palette)
        )
        lac = png_decode(
            self._interlaced_png(w, h, depth, color, samples, palette)
        )
        assert lac == seq

    def test_golden_libpng_pngtest(self):
        import hashlib
        import os

        path = "/usr/share/doc/libpng-dev/examples/pngtest.png"
        if not os.path.exists(path):
            pytest.skip("libpng example not present")
        w, h, c, px = png_decode(open(path, "rb").read())
        assert (w, h, c) == (91, 69, 4)
        # spatial coherence proves the passes were assembled in the right
        # positions: a scrambled Adam7 has the same byte MULTISET but ~4x
        # the neighbor difference (measured 11.4 correct vs 49.4 shuffled)
        luma = [
            (px[4 * i] * 3 + px[4 * i + 1] * 6 + px[4 * i + 2]) // 10
            for i in range(w * h)
        ]
        coh = sum(
            abs(luma[y * w + x + 1] - luma[y * w + x])
            for y in range(h)
            for x in range(w - 1)
        ) / (h * (w - 1))
        assert coh < 20
        # regression pin (recorded round 9)
        assert hashlib.sha256(px).hexdigest() == (
            "a8adc4b0c6c6b43eb25aedcf8124c96a"
            "4b177d29e7b5ef1e8912629ae245b6bc"
        )
