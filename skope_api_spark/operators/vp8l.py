"""Pure-stdlib VP8L (lossless WebP) decoder + fixture encoder — RFC 9649.

Third REAL image decode family after PNG and JPEG: WebP-lossless is the
format screenshots, diagrams and UI assets ship in on the modern web,
and its entropy layer is also how LOSSY WebP stores alpha planes (ALPH
chunk, compression method 1) — so this module decodes both standalone
VP8L files and the alpha channel of extended (VP8X) lossy files.

Implements the public spec (RFC 9649, "WebP Image Format"):

- LSB-first bitstream; canonical prefix codes in the DEFLATE convention
  (codes packed MSB-of-code first), both the "simple" (1-2 symbol) and
  the full code-length-code form with 16/17/18 repeat ops;
- meta prefix (entropy image) selecting one of N 5-code groups per
  macro-block, color cache (hash-indexed recent pixels), LZ77 backward
  references with the 120-entry 2D distance mapping;
- all four transforms, inverse-applied in reverse read order:
  predictor (14 spatial modes), color (signed 3.5 fixed-point cross
  deltas), subtract-green, color-indexing (palette incl. sub-byte
  pixel bundling for <=16 colors);
- ALPH entry point: method-1 alpha is a headerless VP8L stream of the
  canvas dimensions whose GREEN channel carries alpha.

Verification levers (tests/test_vp8l.py): the container's stdlib webp
fixture carries a REAL libwebp-produced VP8L alpha stream (the external
pin for the entropy core), and ``vp8l_encode`` — a minimal literal-only
encoder emitting the same canonical machinery — gives exact round-trips
for the pixel path; transform streams are constructed bit-for-bit in
tests.

Performance note: per-pixel Python, correct-but-slow by design; the
Spark-side seam (multimodal.pixel_or_hash_encoder) is the scale-relevant
part, same trade as operators.png / operators.jpeg.
"""

from __future__ import annotations

from skope_api_spark.operators.png import MAX_PIXELS

# distance codes 1..120 map to 2D offsets, ordered by increasing
# euclidean distance, ties: larger yoffset first, then positive xoffset
# before negative (RFC 9649 §4.2.2's dist_map table, reproduced by rule).
# Domain is dy in 0..7, dx in -7..8 — exactly the 120 plane codes libwebp's
# kCodeToPlane nibble encoding (y = code >> 4, x = 8 - (code & 0xF)) can
# express; tests pin all 120 entries against that byte table.
_DIST_MAP: list[tuple[int, int]] = sorted(
    (
        (dx, dy)
        for dy in range(8)
        for dx in range(-7, 9)
        if not (dy == 0 and dx <= 0)
    ),
    key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], 0 if p[0] > 0 else 1),
)

# code-length-code symbol order (RFC 9649 §4.2.1.1)
_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


class _LsbReader:
    """LSB-first bit reader (VP8L convention)."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            if self.byte >= len(self.data):
                raise ValueError("truncated VP8L stream")
            v |= ((self.data[self.byte] >> self.bit) & 1) << i
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v


class _Prefix:
    """Canonical prefix code; DEFLATE bit order (MSB of code first)."""

    __slots__ = ("table", "single")

    def __init__(self, lengths: list[int]) -> None:
        used = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise ValueError("empty prefix code")
        if len(used) == 1:
            self.single = used[0][1]
            self.table = None
            return
        self.single = None
        table: dict[tuple[int, int], int] = {}
        counts: dict[int, list[int]] = {}
        for length, sym in sorted(used):
            counts.setdefault(length, []).append(sym)
        code = 0
        prev_len = 0
        for length in sorted(counts):
            code <<= length - prev_len
            prev_len = length
            for sym in counts[length]:
                table[(length, code)] = sym
                code += 1
        self.table = table

    def decode(self, br: _LsbReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for length in range(1, 16):
            code = (code << 1) | br.read(1)
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid VP8L prefix code")


def _read_prefix(br: _LsbReader, alphabet: int) -> _Prefix:
    """One prefix code: simple (<=2 symbols) or code-length-coded."""
    if br.read(1):  # simple
        nsym = br.read(1) + 1
        if br.read(1):  # first symbol in 8 bits
            s0 = br.read(8)
        else:
            s0 = br.read(1)
        lengths = [0] * alphabet
        if nsym == 2:
            s1 = br.read(8)
            if s0 >= alphabet or s1 >= alphabet:
                raise ValueError("VP8L simple code symbol out of range")
            lengths[s0] = 1
            lengths[s1] = 1
        else:
            if s0 >= alphabet:
                raise ValueError("VP8L simple code symbol out of range")
            lengths[s0] = 1
        return _Prefix(lengths)
    # full form: code lengths are themselves prefix-coded
    num_clc = 4 + br.read(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _Prefix(clc_lengths)
    if br.read(1):  # length-limited symbol count
        nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    i = 0
    while i < alphabet and max_symbol > 0:
        max_symbol -= 1
        cl = clc.decode(br)
        if cl < 16:
            lengths[i] = cl
            i += 1
            if cl:
                prev = cl
        elif cl == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if i < alphabet:
                    lengths[i] = prev
                    i += 1
        elif cl == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
    return _Prefix(lengths)


def _prefix_value(code: int, br: _LsbReader) -> int:
    """LZ77 length/distance prefix value (RFC 9649 §4.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + 1 + br.read(extra)


def _div_round_up(a: int, shift: int) -> int:
    return (a + (1 << shift) - 1) >> shift


def _decode_image(
    br: _LsbReader, w: int, h: int, *, level0: bool
) -> list[int]:
    """Entropy-coded ARGB image (spec "decoding image data"); level0
    additionally reads the transform loop and the meta-prefix bit."""
    transforms = []
    if level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("duplicate VP8L transform")
            seen.add(ttype)
            if ttype == 0:  # predictor
                bits = 2 + br.read(3)
                sub = _decode_image(
                    br, _div_round_up(w, bits), _div_round_up(h, bits),
                    level0=False,
                )
                transforms.append(("predictor", bits, sub))
            elif ttype == 1:  # color
                bits = 2 + br.read(3)
                sub = _decode_image(
                    br, _div_round_up(w, bits), _div_round_up(h, bits),
                    level0=False,
                )
                transforms.append(("color", bits, sub))
            elif ttype == 2:  # subtract green
                transforms.append(("subgreen",))
            else:  # color indexing (palette)
                n_colors = 1 + br.read(8)
                pal_img = _decode_image(br, n_colors, 1, level0=False)
                palette = []
                prev = 0
                for p in pal_img:
                    # component-wise delta accumulation
                    q = (
                        (((p >> 24) + (prev >> 24)) & 0xFF) << 24
                        | (((p >> 16) + (prev >> 16)) & 0xFF) << 16
                        | (((p >> 8) + (prev >> 8)) & 0xFF) << 8
                        | ((p + prev) & 0xFF)
                    )
                    palette.append(q)
                    prev = q
                if n_colors <= 2:
                    pbits = 3
                elif n_colors <= 4:
                    pbits = 2
                elif n_colors <= 16:
                    pbits = 1
                else:
                    pbits = 0
                transforms.append(("palette", palette, pbits, w))
                if pbits:
                    w = _div_round_up(w, pbits)

    # color cache
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("invalid VP8L color-cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    # meta prefix groups
    entropy = None
    ebits = 0
    ngroups = 1
    if level0 and br.read(1):
        ebits = 3 + br.read(3)
        ew = _div_round_up(w, ebits)
        entropy = _decode_image(br, ew, _div_round_up(h, ebits), level0=False)
        ngroups = 1 + max(((p >> 8) & 0xFFFF) for p in entropy)
    green_alpha = 256 + 24 + cache_size
    groups = []
    for _ in range(ngroups):
        groups.append((
            _read_prefix(br, green_alpha),
            _read_prefix(br, 256),   # red
            _read_prefix(br, 256),   # blue
            _read_prefix(br, 256),   # alpha
            _read_prefix(br, 40),    # distance
        ))

    n = w * h
    out = [0] * n
    pos = 0
    gidx = 0
    ew = _div_round_up(w, ebits) if entropy else 0
    while pos < n:
        if entropy is not None:
            x, y = pos % w, pos // w
            gidx = (entropy[(y >> ebits) * ew + (x >> ebits)] >> 8) & 0xFFFF
        gc, rc, bc, ac, dc = groups[gidx]
        sym = gc.decode(br)
        if sym < 256:
            r = rc.decode(br)
            b = bc.decode(br)
            a = ac.decode(br)
            px = (a << 24) | (r << 16) | (sym << 8) | b
            out[pos] = px
            if cache_size:
                cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            pos += 1
        elif sym < 280:
            length = _prefix_value(sym - 256, br)
            dcode = _prefix_value(dc.decode(br), br)
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("VP8L backward reference out of range")
            for _ in range(length):
                px = out[pos - dist]
                out[pos] = px
                if cache_size:
                    cache[
                        ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = px
                pos += 1
        else:
            out[pos] = cache[sym - 280]
            pos += 1

    # inverse transforms, reverse read order
    for t in reversed(transforms):
        if t[0] == "subgreen":
            out = [
                (p & 0xFF00FF00)
                | ((((p >> 16) + (p >> 8)) & 0xFF) << 16)
                | ((p + (p >> 8)) & 0xFF)
                for p in out
            ]
        elif t[0] == "predictor":
            out = _inverse_predictor(out, w, h, t[1], t[2])
        elif t[0] == "color":
            out = _inverse_color(out, w, h, t[1], t[2])
        else:  # palette
            _tag, palette, pbits, full_w = t
            npal = len(palette)
            unpacked = []
            if pbits:
                per = 8 >> pbits  # index width in bits is 8 >> pbits? no:
                # pbits: 3 -> 1-bit indices (8/pixel-byte), 2 -> 2-bit,
                # 1 -> 4-bit; packed pixel green holds 8 bits of indices
                ibits = 8 >> pbits
                mask = (1 << ibits) - 1
                per_px = 8 // ibits
                for y in range(h):
                    row = []
                    for xp in range(w):
                        g = (out[y * w + xp] >> 8) & 0xFF
                        for k in range(per_px):
                            row.append((g >> (k * ibits)) & mask)
                    unpacked.extend(row[:full_w])
                idxs = unpacked
                ow = full_w
            else:
                idxs = [(p >> 8) & 0xFF for p in out]
                ow = w
            out = [
                palette[i] if i < npal else 0 for i in idxs
            ]
            w = ow
    return out


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) + (b >> 24)) >> 1) << 24)
        | (((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16)
        | (((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8)
        | (((a & 0xFF) + (b & 0xFF)) >> 1)
    )


def _select(top: int, left: int, topleft: int) -> int:
    s = 0
    for sh in (24, 16, 8, 0):
        a = (top >> sh) & 0xFF
        b = (left >> sh) & 0xFF
        c = (topleft >> sh) & 0xFF
        s += abs(b - c) - abs(a - c)
    return top if s <= 0 else left


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _cas_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= _clamp(
            ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        ) << sh
    return out


def _cas_half(l: int, t: int, tl: int) -> int:
    ave = _avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        # C integer division truncates toward zero; Python // floors
        out |= _clamp(a + int((a - b) / 2)) << sh
    return out


def _inverse_predictor(res, w, h, bits, sub):
    sw = _div_round_up(w, bits)
    out = [0] * (w * h)
    add = _pixel_add
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = out[i - 1]
            elif x == 0:
                pred = out[i - w]
            else:
                mode = (sub[(y >> bits) * sw + (x >> bits)] >> 8) & 0xFF
                L = out[i - 1]
                T = out[i - w]
                TL = out[i - w - 1]
                # Linear addressing per spec/libwebp: for x == w-1 the
                # "top-right" wraps to the CURRENT row's first pixel
                # out[y*w] (already decoded), not the top pixel.
                TR = out[i - w + 1]
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = _select(T, L, TL)
                elif mode == 12:
                    pred = _cas_full(L, T, TL)
                elif mode == 13:
                    pred = _cas_half(L, T, TL)
                else:
                    raise ValueError(f"invalid predictor mode {mode}")
            out[i] = add(res[i], pred)
    return out


def _pixel_add(a: int, b: int) -> int:
    """Per-channel modulo-256 addition of two ARGB pixels."""
    return (
        ((((a >> 24) + (b >> 24)) & 0xFF) << 24)
        | (((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16)
        | (((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8)
        | (((a & 0xFF) + (b & 0xFF)) & 0xFF)
    )


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ct_delta(t: int, c: int) -> int:
    return (_s8(t) * _s8(c)) >> 5


def _inverse_color(res, w, h, bits, sub):
    sw = _div_round_up(w, bits)
    out = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            cte = sub[(y >> bits) * sw + (x >> bits)]
            g2r = cte & 0xFF           # blue channel
            g2b = (cte >> 8) & 0xFF    # green channel
            r2b = (cte >> 16) & 0xFF   # red channel
            p = res[i]
            g = (p >> 8) & 0xFF
            red = ((p >> 16) & 0xFF) + _ct_delta(g2r, g)
            red &= 0xFF
            blue = (p & 0xFF) + _ct_delta(g2b, g) + _ct_delta(r2b, red)
            out[i] = (p & 0xFF00FF00) | (red << 16) | (blue & 0xFF)
    return out


def vp8l_decode_stream(
    data: bytes, w: int, h: int, *, pos: int = 0
) -> list[int]:
    """Headerless VP8L image stream of known dimensions (the ALPH case).
    Returns ARGB ints in scan order."""
    if w * h > MAX_PIXELS:
        raise ValueError(f"VP8L dimensions {w}x{h} exceed MAX_PIXELS")
    return _decode_image(_LsbReader(data, pos), w, h, level0=True)


def vp8l_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """Standalone VP8L payload (the content of a "VP8L" RIFF chunk, or a
    whole .webp file — the RIFF wrapper is skipped if present). Returns
    (width, height, 4, RGBA bytes), mirroring png_decode's contract."""
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        if data[12:16] != b"VP8L":
            raise ValueError("not a lossless (VP8L) webp")
        data = data[20:]
    if not data or data[0] != 0x2F:
        raise ValueError("missing VP8L signature")
    br = _LsbReader(data, 1)
    w = 1 + br.read(14)
    h = 1 + br.read(14)
    br.read(1)  # alpha-is-used hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    if w * h > MAX_PIXELS:
        raise ValueError(f"VP8L dimensions {w}x{h} exceed MAX_PIXELS")
    argb = _decode_image(br, w, h, level0=True)
    out = bytearray(w * h * 4)
    for i, p in enumerate(argb):
        out[4 * i] = (p >> 16) & 0xFF
        out[4 * i + 1] = (p >> 8) & 0xFF
        out[4 * i + 2] = p & 0xFF
        out[4 * i + 3] = (p >> 24) & 0xFF
    return w, h, 4, bytes(out)


def alph_decode(payload: bytes, w: int, h: int) -> bytes:
    """ALPH chunk payload -> alpha plane (w*h bytes). Method 0 is raw
    scanlines; method 1 is a headerless VP8L stream whose green channel
    carries alpha. Filtering methods (horizontal/vertical/gradient
    prediction of the alpha plane) are applied after decode."""
    if not payload:
        raise ValueError("empty ALPH chunk")
    hdr = payload[0]
    method = hdr & 3
    filt = (hdr >> 2) & 3
    if method == 0:
        plane = bytearray(payload[1 : 1 + w * h])
        if len(plane) != w * h:
            raise ValueError("short raw ALPH payload")
    elif method == 1:
        argb = vp8l_decode_stream(payload, w, h, pos=1)
        plane = bytearray((p >> 8) & 0xFF for p in argb)
    else:
        raise ValueError(f"reserved ALPH compression method {method}")
    if filt:
        for y in range(h):
            for x in range(w):
                i = y * w + x
                if x == 0 and y == 0:
                    pred = 0
                elif filt == 1:  # horizontal
                    pred = plane[i - 1] if x else plane[i - w]
                elif filt == 2:  # vertical
                    pred = plane[i - w] if y else plane[i - 1]
                else:  # gradient
                    if y == 0:
                        pred = plane[i - 1]
                    elif x == 0:
                        pred = plane[i - w]
                    else:
                        pred = _clamp(
                            plane[i - 1] + plane[i - w] - plane[i - w - 1]
                        )
                plane[i] = (plane[i] + pred) & 0xFF
    return bytes(plane)


def webp_alpha_plane(data: bytes) -> tuple[int, int, bytes]:
    """Extract + decode the ALPH alpha plane of an extended (VP8X) webp
    file. Returns (w, h, plane). Raises if the file carries no ALPH."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a webp")
    pos, w, h = 12, None, None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (sz,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        payload = data[pos + 8 : pos + 8 + sz]
        if tag == b"VP8X":
            w = 1 + int.from_bytes(payload[4:7], "little")
            h = 1 + int.from_bytes(payload[7:10], "little")
        elif tag == b"ALPH":
            if w is None:
                raise ValueError("ALPH before VP8X")
            if w * h > MAX_PIXELS:
                raise ValueError("webp dimensions exceed MAX_PIXELS")
            return w, h, alph_decode(payload, w, h)
        pos += 8 + sz + (sz & 1)
    raise ValueError("no ALPH chunk present")


class _LsbWriter:
    """LSB-first bit writer (fixture encoder side)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, nbits: int) -> None:
        self.acc |= (v & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def write_code(self, code: int, length: int) -> None:
        # prefix codes pack MSB-of-code first (DEFLATE convention)
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def bytes(self) -> bytearray:
        while self.n > 0:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8
        self.n = 0
        return self.out


def _emit_flat_code(bw: _LsbWriter, lengths: set[int], order_max: int) -> None:
    """Emit the full-form code whose code-length code contains exactly
    the CL symbols in ``lengths`` (each at 1 bit, canonical order)."""
    bw.write(0, 1)  # not simple
    need = max(_CLC_ORDER.index(l) for l in lengths) + 1
    bw.write(need - 4, 4)
    for i in range(need):
        bw.write(1 if _CLC_ORDER[i] in lengths else 0, 3)
    bw.write(0, 1)  # no max-symbol cap


def _emit_single_symbol_code(bw: _LsbWriter, symbol: int) -> None:
    """Simple form, one symbol (zero bits per decode)."""
    bw.write(1, 1)  # simple
    bw.write(0, 1)  # 1 symbol
    bw.write(1, 1)  # 8-bit symbol field
    bw.write(symbol, 8)


def _emit_all8_code(bw: _LsbWriter) -> None:
    """256-symbol alphabet, every symbol length 8 (Kraft-complete):
    the CL code has the single symbol '8', so the decoder consumes zero
    payload bits while filling all 256 lengths."""
    _emit_flat_code(bw, {8}, 0)


_GREEN_LEN8 = 232  # 232*2^-8 + 48*2^-9 == 1 (Kraft-complete for 280)


def _emit_green_code(bw: _LsbWriter) -> None:
    """280-symbol green alphabet: symbols 0..231 at 8 bits, 232..279 at
    9 bits — emitted through a two-symbol {8,9} code-length code."""
    _emit_flat_code(bw, {8, 9}, 0)
    for i in range(280):
        bw.write(0 if i < _GREEN_LEN8 else 1, 1)


def _green_code(sym: int) -> tuple[int, int]:
    if sym < _GREEN_LEN8:
        return sym, 8
    return (_GREEN_LEN8 << 1) + (sym - _GREEN_LEN8), 9


def _emit_codes_and_pixels(bw: _LsbWriter, argb: list[int]) -> None:
    """The five literal-only prefix codes plus the pixel stream."""
    _emit_green_code(bw)
    _emit_all8_code(bw)  # red
    _emit_all8_code(bw)  # blue
    _emit_all8_code(bw)  # alpha
    _emit_single_symbol_code(bw, 0)  # distance (never referenced)
    for p in argb:
        c, ln = _green_code((p >> 8) & 0xFF)
        bw.write_code(c, ln)
        bw.write_code((p >> 16) & 0xFF, 8)
        bw.write_code(p & 0xFF, 8)
        bw.write_code((p >> 24) & 0xFF, 8)


def _emit_image_literal(bw: _LsbWriter, argb: list[int]) -> None:
    """Entropy-coded SUB-image body (cache bit + codes + pixels; no
    transform loop, no meta bit — the level0=False layout)."""
    bw.write(0, 1)  # no color cache
    _emit_codes_and_pixels(bw, argb)


def vp8l_encode(
    width: int, height: int, pixels: bytes, *, channels: int = 4
) -> bytes:
    """Minimal standalone VP8L file (literal-only, no transforms) from
    raw interleaved RGB(A) bytes — the fixture/round-trip counterpart of
    ``vp8l_decode``, same role as png_encode/jpeg_encode_progressive.
    Lossless by construction, so round-trips assert exact equality."""
    import struct

    if channels not in (3, 4):
        raise ValueError("channels must be 3 (RGB) or 4 (RGBA)")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    argb = []
    for i in range(width * height):
        r = pixels[channels * i]
        g = pixels[channels * i + 1]
        b = pixels[channels * i + 2]
        a = pixels[channels * i + 3] if channels == 4 else 0xFF
        argb.append((a << 24) | (r << 16) | (g << 8) | b)
    bw = _LsbWriter()
    bw.write(0x2F, 8)
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(1 if channels == 4 else 0, 1)  # alpha hint
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix (level0 body layout)
    _emit_codes_and_pixels(bw, argb)
    payload = bytes(bw.bytes())
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
