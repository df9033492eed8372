"""BMP codec: round-trip, paletted decode and defensive rejections."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from skope_api_spark.operators.bmp import bmp_decode, bmp_encode


def _scene(w=16, h=12):
    rng = np.random.default_rng(4)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_round_trip_24bit():
    px = _scene()
    h, w, _ = px.shape
    blob = bmp_encode(w, h, px.tobytes())
    rw, rh, ch, raw = bmp_decode(blob)
    assert (rw, rh, ch) == (w, h, 3)
    assert raw == px.tobytes()  # exact pixel recovery incl. BGR swap


def test_row_padding_non_multiple_of_4():
    px = _scene(w=3, h=2)  # 9-byte rows -> 3 pad bytes each
    blob = bmp_encode(3, 2, px.tobytes())
    _, _, _, raw = bmp_decode(blob)
    assert raw == px.tobytes()


def test_paletted_8bit_decode():
    # hand-build a 2x2 8-bit BMP with a 2-color palette (stored BGRA)
    pal = bytes([255, 0, 0, 0]) + bytes([0, 255, 0, 0])  # blue, green
    rows = bytes([0, 1, 0, 0]) + bytes([1, 0, 0, 0])  # padded to 4
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, len(rows), 0, 0, 2, 0)
    pix_off = 14 + 40 + len(pal)
    hdr = struct.pack("<2sIHHI", b"BM", pix_off + len(rows), 0, 0, pix_off)
    blob = hdr + info + pal + rows
    w, h, ch, raw = bmp_decode(blob)
    assert (w, h, ch) == (2, 2, 3)
    # bottom-up storage: file row 0 is image row 1
    blue, green = b"\x00\x00\xff", b"\x00\xff\x00"
    assert raw == green + blue + blue + green


def test_rejections():
    with pytest.raises(ValueError, match="BM magic"):
        bmp_decode(b"not a bmp")
    px = _scene(4, 4)
    blob = bmp_encode(4, 4, px.tobytes())
    with pytest.raises(ValueError, match="truncated BMP pixel"):
        bmp_decode(blob[:-8])
    rle = bytearray(blob)
    struct.pack_into("<I", rle, 30, 1)  # compression = BI_RLE8
    with pytest.raises(ValueError, match="compression"):
        bmp_decode(bytes(rle))
    huge = bytearray(blob)
    struct.pack_into("<ii", huge, 18, 100_000, 100_000)
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        bmp_decode(bytes(huge))

