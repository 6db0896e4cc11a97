"""Pure-stdlib JPEG codec: integer arithmetic and bit twiddling only,
the lossy image shape of the real-codec multimodal surface past PNG.

Scope: 8-bit JFIF, dimensions multiples of the MCU size, one
implementation per job:

- **One baseline (SOF0) encoder**, ``_encode_baseline``, over Y
  sampling factors ``(h, v)``: greyscale, or interleaved YCbCr from the
  pinned ``rgb_to_ycbcr`` with Cb/Cr always 1x1 and each chroma sample
  the round-half-up mean of its h x v group, ``(sum + h*v DIV 2) DIV
  (h*v)``. ``jpeg_encode`` (grey), ``jpeg_encode_color`` (4:4:4, 1x1),
  ``jpeg_encode_color_422`` (2x1) and ``jpeg_encode_color_420`` (2x2)
  are one-line calls into it.
- **One progressive (SOF2) encoder**, ``_encode_progressive``, over a
  scan script of ``(Ss, Se, Ah, Al)`` tuples (ITU-T T.81 Annex G). A
  scan is DC first (an arithmetic-shift point transform at Al), DC
  refinement (one raw bit per block), AC first (run/size pairs plus
  EOB-run symbols over magnitudes truncated toward zero) or AC
  refinement (the G.1.2.3 correction-bit interleave). The public
  scripts are spectral selection ``(0,0,0,0) (1,5,0,0) (6,63,0,0)``,
  DC successive approximation ``(0,0,0,1) (0,0,1,0) (1,5,0,0)
  (6,63,0,0)`` and AC successive approximation ``(0,0,0,0) (1,5,0,1)
  (6,63,0,1) (1,5,1,0) (6,63,1,0)``. Every script carries the baseline
  encoder's quantized coefficients, so progressive decode reproduces
  the baseline raster bit for bit.
- **One segment walker**, ``_segments``, for both decoders: the SOI
  check, marker desync, segment truncation, DQT and DHT parsing into
  tables bound by the ids the stream declares, APPn/COM skipping, and
  the skip over each scan's entropy-coded data. ``_decode_planes`` runs
  every scan — the baseline interleaved scan is the ``(0, 63, 0, 0)``
  case — over the blocks in MCU order (SOF-declared sampling factors
  1x1 .. 2x2), then dequantizes and inverse-transforms each block once.
  ``jpeg_decode_color`` accepts the SOF marker it meets; ``jpeg_decode``
  and ``jpeg_decode_progressive`` each accept one.

The encoders write the Annex-K quantization and Huffman tables
(luminance + chrominance pairs for color; progressive AC scans ship a
flat table that also defines the EOBn symbols). Uniform 8x8 blocks give
DC-only streams whose decoded value is one documented integer formula
per block (``DC_ONLY_PIXEL``), the closed form the DuckDB oracle
replays.

Color conversion is integer fixed-point with PINNED constants (these ARE
the codec's contract, mirrored verbatim in the SQL oracle):

    y  = (77*r + 150*g + 29*b + 128) >> 8                 (77+150+29=256)
    cb = min(255, (32896 - 43*r - 85*g + 128*b) >> 8)     (32896=128*257)
    cr = min(255, (32896 + 128*r - 107*g - 21*b) >> 8)
    r' = clip(y + floor((359*(cr-128) + 128) / 256))
    g' = clip(y + floor((-88*(cb-128) - 183*(cr-128) + 128) / 256))
    b' = clip(y + floor((454*(cb-128) + 128) / 256))

Determinism: every arithmetic step is integer. The IDCT is fixed-point
with the cosine table inlined as literal constants (scale 4096, C_0
folded in), ``out = clip(128 + floordiv(Σ F[u,v]·T[u][x]·T[v][y] + HALF,
SCALE))`` — no float appears anywhere, so decode is bit-reproducible on
any platform and expressible in SQL for the DC-only case.

Plain module-level functions: the package registers itself
pickle-by-value (package ``__init__``), so a ``mapInPandas`` function
that references the entry points runs on Spark python workers that
cannot import this repo.
"""

from __future__ import annotations

import struct

#: JPEG SOI marker (2 bytes) — the sniffing signature.
JPEG_SIGNATURE = b"\xff\xd8"

#: Fixed-point IDCT parameters (documented for the oracle's closed form):
#: T[0][x] == 2896 for all x, SCALE = 4*4096*4096, HALF = SCALE//2.
#: A DC-only block with dequantized coefficient F00 decodes uniformly to
#:     clip(128 + floordiv(F00*2896*2896 + HALF, SCALE))
IDCT_SCALE = 4 * 4096 * 4096
IDCT_HALF = IDCT_SCALE // 2


def DC_ONLY_PIXEL(f00: int) -> int:
    """The decoded uniform pixel value of a DC-only block (python twin of
    the SQL closed form; pinned against the real decoder in tests)."""
    raw = 128 + (f00 * 2896 * 2896 + IDCT_HALF) // IDCT_SCALE
    return 0 if raw < 0 else (255 if raw > 255 else raw)


def UNIFORM_BLOCK_PIXEL(v: int, q0: int) -> int:
    """Closed-form encode∘decode of a uniform 8x8 block value ``v``
    through DC quantizer ``q0`` (16 = Annex-K luminance, 17 = Annex-K
    chrominance): forward fixed-point DCT collapses to F00 = v-128 times
    64*2896^2, half-away quantization, dequant, DC-only IDCT. Python twin
    of the SQL oracle chain; pinned against the real codec in tests."""
    s = v - 128
    a1 = s * 536756224  # s * 64 * 2896^2
    f00u = (
        (a1 + IDCT_HALF) // IDCT_SCALE
        if a1 >= 0
        else -((-a1 + IDCT_HALF) // IDCT_SCALE)
    )
    half_q = q0 // 2
    qc = (f00u + half_q) // q0 if f00u >= 0 else -((-f00u + half_q) // q0)
    return DC_ONLY_PIXEL(qc * q0)


def rgb_to_ycbcr(r: int, g: int, b: int) -> tuple[int, int, int]:
    """Integer fixed-point JFIF forward color transform (the codec's
    pinned contract — see module docstring). All outputs in [0, 255]."""
    y = (77 * r + 150 * g + 29 * b + 128) >> 8
    cb = (32896 - 43 * r - 85 * g + 128 * b) >> 8
    cr = (32896 + 128 * r - 107 * g - 21 * b) >> 8
    return y, (255 if cb > 255 else cb), (255 if cr > 255 else cr)


def ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    """Integer fixed-point JFIF inverse color transform (pinned contract;
    floor division on signed deltas — the SQL twin uses a +65536 bias so
    its nonnegative ``//`` computes the same floor)."""
    dcb, dcr = cb - 128, cr - 128

    def _clip(x: int) -> int:
        return 0 if x < 0 else (255 if x > 255 else x)

    return (
        _clip(y + (359 * dcr + 128) // 256),
        _clip(y + (-88 * dcb - 183 * dcr + 128) // 256),
        _clip(y + (454 * dcb + 128) // 256),
    )


def COLOR_UNIFORM_RGB(r: int, g: int, b: int) -> tuple[int, int, int]:
    """Closed-form encode∘decode of a uniform RGB 8x8 block through the
    color codec: forward color transform, per-component DC-only lossy
    chain (luminance quantizer 16 for Y, chrominance 17 for Cb/Cr),
    inverse color transform. The python twin the color SQL oracle and
    the codec tests both pin against."""
    y, cb, cr = rgb_to_ycbcr(r, g, b)
    return ycbcr_to_rgb(
        UNIFORM_BLOCK_PIXEL(y, 16),
        UNIFORM_BLOCK_PIXEL(cb, 17),
        UNIFORM_BLOCK_PIXEL(cr, 17),
    )


# fixed-point cosine table T[u][x] = round(4096 * C_u * cos((2x+1)u*pi/16)),
# C_0 = 1/sqrt(2) — inlined literals so no float is evaluated anywhere
_T = (
    (2896, 2896, 2896, 2896, 2896, 2896, 2896, 2896),
    (4017, 3406, 2276, 799, -799, -2276, -3406, -4017),
    (3784, 1567, -1567, -3784, -3784, -1567, 1567, 3784),
    (3406, -799, -4017, -2276, 2276, 4017, 799, -3406),
    (2896, -2896, -2896, 2896, 2896, -2896, -2896, 2896),
    (2276, -4017, 799, 3406, -3406, -799, 4017, -2276),
    (1567, -3784, 3784, -1567, -1567, 3784, -3784, 1567),
    (799, -2276, 3406, -4017, 4017, -3406, 2276, -799),
)
_SCALE = 4 * 4096 * 4096
_HALF = _SCALE // 2

# zig-zag order: zigzag index -> (u, v) raster position
_ZZ = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# standard luminance quantization table (Annex K.1), raster order
_QTAB = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)

# standard chrominance quantization table (Annex K.2), raster order
_QTAB_C = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
)

# standard Huffman specs (Annex K.3): (BITS[1..16], HUFFVAL)
_DC_SPEC = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_AC_SPEC = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)

# standard chrominance Huffman specs (Annex K.3.2)
_DC_SPEC_C = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_AC_SPEC_C = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)

def _huff_codes(bits, huffval):
    """(symbol -> (code, length)) per the canonical JPEG assignment."""
    codes, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[huffval[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)

def _fdct_quant(blk, qtab):
    """Forward fixed-point DCT + half-away-from-zero quantization of
    one level-shifted 8x8 block (row-major list of 64 ints in
    [-128, 127]). Returns the 64 quantized coefficients."""
    coeffs = [0] * 64
    if min(blk) == max(blk):
        # uniform block: every non-DC basis row of _T sums to
        # zero, so the O(64^2) transform collapses to the DC
        # closed form — the SAME integers the general loop
        # would produce (pinned by the all-256-values test)
        acc = blk[0] * (8 * 2896) * (8 * 2896)
        coeffs[0] = (
            (acc + _HALF) // _SCALE
            if acc >= 0
            else -((-acc + _HALF) // _SCALE)
        )
        u_range = ()
    else:
        u_range = range(8)
    for u in u_range:
        for v in range(8):
            acc = 0
            for y in range(8):
                ty = _T[u][y]
                if ty == 0:
                    continue
                row = y * 8
                for x in range(8):
                    s = blk[row + x]
                    if s:
                        acc += s * ty * _T[v][x]
            # forward scale: T entries carry 4096*C; the 2-D
            # transform needs /4096^2 * (1/4) — same SCALE
            coeffs[u * 8 + v] = (
                acc + (_HALF if acc >= 0 else -_HALF)
            ) // _SCALE if acc >= 0 else -(
                (-acc + _HALF) // _SCALE
            )
    # quantize (round-half-away-from-zero, symmetric)
    qc = []
    for i in range(64):
        q = qtab[i]
        c = coeffs[i]
        qc.append((c + q // 2) // q if c >= 0 else -((-c + q // 2) // q))
    return qc

def _write_dc(bw, diff: int, dc_codes) -> None:
    """One DC difference: the Huffman code of its size category, then
    the value's low bits (one's complement for negatives)."""
    t = abs(diff).bit_length()
    bw.write(*dc_codes[t])
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)

def _write_ac(bw, run: int, c: int, ac_codes) -> None:
    """One nonzero AC coefficient after ``run`` zeros: a ZRL per 16
    zeros, the (run, size) symbol, then the value's low bits."""
    while run > 15:
        bw.write(*ac_codes[0xF0])
        run -= 16
    t = abs(c).bit_length()
    bw.write(*ac_codes[(run << 4) | t])
    bw.write(c if c >= 0 else c + (1 << t) - 1, t)

def _write_eobrun(bw, eobrun: int, ac_codes) -> None:
    """An EOBn symbol for a run of ``eobrun`` band-empty blocks:
    r = floor(log2(eobrun)), then r extra bits of the run length."""
    r = eobrun.bit_length() - 1
    bw.write(*ac_codes[r << 4])
    if r:
        bw.write(eobrun - (1 << r), r)

def _entropy_block(bw, qc, prev_dc, dc_codes, ac_codes) -> int:
    """Entropy-encode one quantized block (DC differential + AC
    run/length over zig-zag order). Returns the new DC predictor."""
    _write_dc(bw, qc[0] - prev_dc, dc_codes)
    run = 0
    for zz in range(1, 64):
        c = qc[_ZZ[zz]]
        if c:
            _write_ac(bw, run, c, ac_codes)
            run = 0
        else:
            run += 1
    if run:
        bw.write(*ac_codes[0x00])  # EOB
    return qc[0]

def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload

_APP0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

def _dht_payload(tc: int, th: int, spec) -> bytes:
    return bytes([(tc << 4) | th]) + bytes(spec[0]) + bytes(spec[1])

def _headers(sof: int, width: int, height: int, ncomp: int, y_samp: int,
             ac_spec) -> bytes:
    """SOI through DHT: JFIF APP0, the Annex-K quantization and Huffman
    tables (luminance with AC table ``ac_spec``, plus chrominance for 3
    components), and the frame header — Y (id 1) at sampling byte
    ``y_samp``, Cb/Cr (ids 2, 3) at 1x1 on the chrominance tables."""
    tabs = (
        (0, _QTAB, _DC_SPEC, ac_spec),
        (1, _QTAB_C, _DC_SPEC_C, _AC_SPEC_C),
    )[: 1 if ncomp == 1 else 2]
    dqt = b"".join(bytes([t]) + bytes(q[z] for z in _ZZ) for t, q, *_ in tabs)
    dht = b"".join(
        _dht_payload(0, t, dc) + _dht_payload(1, t, ac)
        for t, _q, dc, ac in tabs
    )
    chroma = b"\x02\x11\x01\x03\x11\x01"[: 3 * ncomp - 3]
    comps = bytes([1, y_samp, 0]) + chroma
    return (
        b"\xff\xd8" + _seg(0xFFE0, _APP0) + _seg(0xFFDB, dqt)
        + _seg(sof, struct.pack(">BHHB", 8, height, width, ncomp) + comps)
        + _seg(0xFFC4, dht)
    )

def _sos(ncomp: int, ss: int, se: int, ah: int, al: int) -> bytes:
    """A scan header over all ``ncomp`` components (Y on tables 0,
    Cb/Cr on tables 1) for band [ss..se] at (Ah, Al)."""
    sel = b"\x01\x00\x02\x11\x03\x11"[: 2 * ncomp]
    return _seg(0xFFDA, bytes([ncomp]) + sel + bytes([ss, se, (ah << 4) | al]))

def _check_raster(buf, width: int, height: int, ncomp: int, mcu_w: int,
                  mcu_h: int) -> None:
    if width % mcu_w or height % mcu_h:
        raise ValueError(
            f"dimensions must be multiples of the MCU size ({mcu_w}x{mcu_h})"
        )
    if len(buf) != width * height * ncomp:
        raise ValueError("pixel buffer does not match dimensions")

def _block(plane, pw: int, bx: int, by: int) -> list[int]:
    """Level-shifted 8x8 block (bx, by) of a row-major plane ``pw`` wide."""
    top = by * 8 * pw + bx * 8
    return [
        s - 128 for r in range(top, top + 8 * pw, pw) for s in plane[r : r + 8]
    ]

def _subsample(plane, width: int, height: int, h: int, v: int):
    """Each sample is the round-half-up mean of its h x v group,
    ``(sum + h*v DIV 2) DIV (h*v)`` — the identity at 1x1."""
    if h == v == 1:
        return plane
    n, step, out = h * v, v * width, bytearray()
    for top in range(0, height * width, step):
        rows = (plane[r : r + width] for r in range(top, top + step, width))
        cols = [sum(c) for c in zip(*rows)]  # column sums of v rows
        groups = zip(*(cols[k::h] for k in range(h)))
        out += bytes((sum(g) + n // 2) // n for g in groups)
    return out

def _encode_baseline(buf, width: int, height: int, ncomp: int, h: int = 1,
                     v: int = 1) -> bytes:
    """The baseline sequential (SOF0) encoder: greyscale (``ncomp=1``)
    or interleaved RGB (``ncomp=3``, converted by ``rgb_to_ycbcr``) with
    Y sampled ``h`` x ``v`` and Cb/Cr at 1x1 from ``_subsample``. Each
    MCU is the h x v Y blocks in raster order, then one Cb and one Cr
    block, with one DC predictor per component."""
    _check_raster(buf, width, height, ncomp, 8 * h, 8 * v)
    luma = (_QTAB, _huff_codes(*_DC_SPEC), _huff_codes(*_AC_SPEC))
    if ncomp == 1:
        comps = [(buf, width, 1, 1, luma)]
    else:
        ycc = map(rgb_to_ycbcr, buf[0::3], buf[1::3], buf[2::3])
        y, cb, cr = [bytes(p) for p in zip(*ycc)] or [b""] * 3
        chroma = (_QTAB_C, _huff_codes(*_DC_SPEC_C), _huff_codes(*_AC_SPEC_C))
        comps = [(y, width, h, v, luma)] + [
            (_subsample(p, width, height, h, v), width // h, 1, 1, chroma)
            for p in (cb, cr)
        ]
    bw = _BitWriter()
    preds = [0] * ncomp
    for my in range(height // (8 * v)):
        for mx in range(width // (8 * h)):
            for ci, (plane, pw, sh, sv, (qtab, dcc, acc)) in enumerate(comps):
                for by in range(my * sv, my * sv + sv):
                    for bx in range(mx * sh, mx * sh + sh):
                        qc = _fdct_quant(_block(plane, pw, bx, by), qtab)
                        preds[ci] = _entropy_block(bw, qc, preds[ci], dcc, acc)
    return (
        _headers(0xFFC0, width, height, ncomp, (h << 4) | v, _AC_SPEC)
        + _sos(ncomp, 0, 63, 0, 0) + bw.flush() + b"\xff\xd9"
    )

def jpeg_encode(pixels: bytes, width: int, height: int) -> bytes:
    """Serialize an 8-bit greyscale raster (row-major, dims multiples
    of 8) to a baseline JFIF JPEG with standard tables. Lossy exactly
    as baseline JPEG is: each 8x8 block goes through level shift,
    DCT, quantization. Uniform blocks produce DC-only streams whose
    decoded value is the documented ``DC_ONLY_PIXEL`` closed form."""
    return _encode_baseline(pixels, width, height, 1)

def jpeg_encode_color(rgb: bytes, width: int, height: int) -> bytes:
    """Serialize an interleaved 8-bit RGB raster (row-major, dims
    multiples of 8) to a baseline interleaved YCbCr 4:4:4 JFIF JPEG:
    the pinned integer color transform (module docstring), then each
    component through the same DCT/quant/entropy path — Y against the
    Annex-K luminance tables, Cb/Cr against the chrominance tables,
    MCUs interleaved (Y, Cb, Cr blocks) with per-component DC
    predictors. Uniform RGB blocks reduce to ``COLOR_UNIFORM_RGB``."""
    return _encode_baseline(rgb, width, height, 3)

def jpeg_encode_color_420(rgb: bytes, width: int, height: int) -> bytes:
    """Serialize an interleaved 8-bit RGB raster (row-major, dims
    multiples of 16) to a baseline YCbCr 4:2:0 JFIF JPEG — the
    chroma-SUBSAMPLED layout virtually every camera/web JPEG uses:
    Y keeps full resolution (sampling factors 2x2), Cb/Cr are
    stored at half resolution in both axes (1x1), so each MCU
    covers 16x16 luma pixels as four Y blocks (2x2 raster order)
    followed by one Cb and one Cr block.

    Subsampling convention (PINNED, part of the codec contract):
    each chroma sample is the round-half-up mean of its 2x2 pixel
    group, ``(a + b + c + d + 2) DIV 4`` — on a uniform group this
    is exactly the common value, which is what keeps uniform-MCU
    fixtures on the ``COLOR_UNIFORM_RGB`` closed form."""
    return _encode_baseline(rgb, width, height, 3, 2, 2)

def jpeg_encode_color_422(rgb: bytes, width: int, height: int) -> bytes:
    """Serialize an interleaved 8-bit RGB raster (width a multiple of
    16, height of 8) to a baseline YCbCr 4:2:2 JFIF JPEG — chroma
    subsampled HORIZONTALLY only (Y factors 2x1, Cb/Cr 1x1), the
    broadcast/video-capture layout between 4:4:4 and 4:2:0. Each MCU
    covers 16x8 luma pixels: two Y blocks then one Cb and one Cr.

    Subsampling convention (PINNED): each chroma sample is the
    round-half-up mean of its horizontal pair,
    ``(a + b + 1) DIV 2`` — the common value on uniform pairs, which
    keeps uniform-MCU fixtures on the ``COLOR_UNIFORM_RGB`` closed
    form."""
    return _encode_baseline(rgb, width, height, 3, 2, 1)

# progressive AC scans need EOBn symbols (r<<4, r=1..14), which
# the baseline Annex-K AC table does not define — ship a custom
# flat canonical table (all 176 symbols at 8 bits; max code
# 0xAF, so the reserved all-ones code stays unused) in the DHT:
# the decoder rebuilds whatever the stream declares
_AC_PROG_SYMS = (
    [r << 4 for r in range(15)]
    + [0xF0]
    + [(run << 4) | t for run in range(16) for t in range(1, 11)]
)
_AC_PROG_SPEC = ([0] * 7 + [176] + [0] * 8, _AC_PROG_SYMS)

# scan scripts: one (Ss, Se, Ah, Al) tuple per scan, T.81 Annex G
_SPECTRAL_SCRIPT = ((0, 0, 0, 0), (1, 5, 0, 0), (6, 63, 0, 0))
_DC_SA_SCRIPT = ((0, 0, 0, 1), (0, 0, 1, 0), (1, 5, 0, 0), (6, 63, 0, 0))
_AC_SA_SCRIPT = (
    (0, 0, 0, 0), (1, 5, 0, 1), (6, 63, 0, 1), (1, 5, 1, 0), (6, 63, 1, 0),
)

def _dc_first_scan(blocks, al: int, dc_codes) -> bytes:
    """DC FIRST scan at approximation level ``al``: the point transform
    is an arithmetic shift and the predictors chain over the SHIFTED
    values. ``al=0`` is the baseline DC coding."""
    bw = _BitWriter()
    prev = 0
    for qc in blocks:
        v = qc[0] >> al
        _write_dc(bw, v - prev, dc_codes)
        prev = v
    return bw.flush()

def _dc_refine_scan(blocks, al: int) -> bytes:
    """DC REFINEMENT scan (Ah = al+1): one raw bit per block, bit ``al``
    of the DC coefficient."""
    bw = _BitWriter()
    for qc in blocks:
        bw.write((qc[0] >> al) & 1, 1)
    return bw.flush()

def _ac_first_scan(blocks, ss: int, se: int, al: int, ac_codes) -> bytes:
    """FIRST AC scan of band [ss..se] at approximation level ``al``
    (Ah=0): in-band run/size pairs + EOB-RUN symbols over the
    point-transformed values — for AC the point transform is an
    integer divide by 2^Al truncating toward ZERO (T.81 G.1.2.1;
    sign-magnitude shift), unlike DC's arithmetic shift. ``al=0``
    is byte-identical to the plain spectral-selection scan."""
    bw = _BitWriter()
    eobrun = 0
    for qc in blocks:
        vals = [
            v >> al if v >= 0 else -(-v >> al)
            for v in (qc[_ZZ[zz]] for zz in range(ss, se + 1))
        ]
        last = max((i for i, c in enumerate(vals) if c), default=-1)
        if last < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                _write_eobrun(bw, eobrun, ac_codes)
                eobrun = 0
            continue
        if eobrun:
            _write_eobrun(bw, eobrun, ac_codes)
        run = 0
        for c in vals[: last + 1]:
            if c:
                _write_ac(bw, run, c, ac_codes)
                run = 0
            else:
                run += 1
        # this block's tail (if any) starts a new run
        eobrun = 1 if last < len(vals) - 1 else 0
    if eobrun:
        _write_eobrun(bw, eobrun, ac_codes)
    return bw.flush()

def _ac_refine_scan(blocks, ss: int, se: int, al: int, ac_codes) -> bytes:
    """AC REFINEMENT scan (Ah = al+1, Al = al) — the T.81 G.1.2.3
    correction-bit interleave: coefficients already nonzero at the
    previous precision send ONE raw correction bit (bit ``al`` of
    the magnitude); coefficients newly visible at this precision
    are coded as (run<<4)|1 + a sign bit, where the run counts only
    STILL-ZERO positions; correction bits buffer until the next
    emitted symbol (ZRL / newly-nonzero / EOBn) and are appended
    right after it, so the decoder can interleave them back. Blocks
    with nothing new join an EOB run whose correction bits ride the
    eventual EOBn symbol."""
    bw = _BitWriter()
    eobrun = 0
    be_bits: list[int] = []  # correction bits owned by the EOB run

    def emit_eobrun():
        nonlocal eobrun, be_bits
        if not eobrun:
            return
        _write_eobrun(bw, eobrun, ac_codes)
        eobrun = 0
        for b in be_bits:
            bw.write(b, 1)
        be_bits = []

    for qc in blocks:
        absvals = {}
        eob = ss - 1  # position of the last NEWLY-nonzero coef
        for zz in range(ss, se + 1):
            t = abs(qc[_ZZ[zz]]) >> al
            absvals[zz] = t
            if t == 1:
                eob = zz
        r = 0
        br_bits: list[int] = []  # bits since the last symbol
        for zz in range(ss, se + 1):
            temp = absvals[zz]
            if temp == 0:
                r += 1
                continue
            while r > 15 and zz <= eob:
                emit_eobrun()
                bw.write(*ac_codes[0xF0])
                r -= 16
                for b in br_bits:
                    bw.write(b, 1)
                br_bits = []
            if temp > 1:
                # already nonzero at the previous precision: just
                # the next magnitude bit (if r > 15 here, zz > eob,
                # so this is never a newly-nonzero coefficient)
                br_bits.append(temp & 1)
                continue
            emit_eobrun()
            bw.write(*ac_codes[(r << 4) | 1])
            bw.write(1 if qc[_ZZ[zz]] >= 0 else 0, 1)
            for b in br_bits:
                bw.write(b, 1)
            br_bits = []
            r = 0
        if r > 0 or br_bits:
            eobrun += 1
            be_bits.extend(br_bits)
            if eobrun == 0x7FFF or len(be_bits) > 937:
                emit_eobrun()
    emit_eobrun()
    return bw.flush()

def _encode_progressive(pixels: bytes, width: int, height: int,
                        script) -> bytes:
    """The progressive (SOF2) greyscale encoder: the baseline quantized
    coefficients (same ``_fdct_quant``), laid out as one scan per
    ``(Ss, Se, Ah, Al)`` tuple of ``script``. A scan is one of four
    kinds: DC first (Ss=0, Ah=0), DC refinement (Ss=0, Ah>0), AC first
    (Ss>0, Ah=0) or AC refinement (Ss>0, Ah>0)."""
    _check_raster(pixels, width, height, 1, 8, 8)
    blocks = [
        _fdct_quant(_block(pixels, width, bx, by), _QTAB)
        for by in range(height // 8)
        for bx in range(width // 8)
    ]
    dc_codes = _huff_codes(*_DC_SPEC)
    ac_codes = _huff_codes(*_AC_PROG_SPEC)
    out = [_headers(0xFFC2, width, height, 1, 0x11, _AC_PROG_SPEC)]
    for ss, se, ah, al in script:
        if ss == 0:
            scan = (
                _dc_refine_scan(blocks, al) if ah
                else _dc_first_scan(blocks, al, dc_codes)
            )
        elif ah:
            scan = _ac_refine_scan(blocks, ss, se, al, ac_codes)
        else:
            scan = _ac_first_scan(blocks, ss, se, al, ac_codes)
        out += (_sos(1, ss, se, ah, al), scan)
    return b"".join(out) + b"\xff\xd9"

def jpeg_encode_progressive(
    pixels: bytes, width: int, height: int
) -> bytes:
    """Serialize an 8-bit greyscale raster to a PROGRESSIVE JPEG
    (SOF2, spectral selection, Al=0): three scans — DC (Ss=Se=0),
    low AC band (1..5), high AC band (6..63). The quantized
    coefficients are IDENTICAL to the baseline encoder's (same
    ``_fdct_quant``), only their scan layout differs — which is why
    progressive decode reproduces the baseline raster bit-for-bit.
    AC scans use the real progressive coding: run/size pairs inside
    the band plus EOB-RUN symbols (EOBn: r extra bits encode runs
    of 2^r..2^(r+1)-1 band-empty blocks) — the thing baseline AC
    coding doesn't have."""
    return _encode_progressive(pixels, width, height, _SPECTRAL_SCRIPT)

def jpeg_encode_progressive_sa(
    pixels: bytes, width: int, height: int
) -> bytes:
    """Progressive greyscale JPEG using SUCCESSIVE APPROXIMATION on
    the DC band on top of spectral selection: scan 1 sends DC at
    reduced precision (Al=1 — the point transform is an arithmetic
    shift, predictors chain in the shifted domain), scan 2 is a DC
    REFINEMENT (Ah=1, Al=0: one raw bit per block), then the two AC
    band scans. ``(dc >> 1) << 1 | (dc & 1)`` reconstructs DC
    exactly in two's complement, so the decoded raster is still
    bit-identical to baseline."""
    return _encode_progressive(pixels, width, height, _DC_SA_SCRIPT)

def jpeg_encode_progressive_ac_sa(
    pixels: bytes, width: int, height: int
) -> bytes:
    """Progressive greyscale JPEG using SUCCESSIVE APPROXIMATION on
    the AC BANDS — the last progressive scan shape (T.81 G.1.2.3):
    a plain DC scan, the two AC band first scans at REDUCED
    precision (Al=1; the AC point transform truncates the magnitude
    toward zero), then two AC REFINEMENT scans (Ah=1, Al=0) sending
    the dropped low bit via the correction-bit interleave —
    already-nonzero coefficients get one raw bit each, newly-
    visible ±1 coefficients get (run<<4)|1 + sign, and the bits
    buffer across EOB runs. trunc(|v|/2)*2*sign + refinement
    reconstructs every coefficient exactly, so the decoded raster
    is still bit-identical to baseline."""
    return _encode_progressive(pixels, width, height, _AC_SA_SCRIPT)

class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy-coded segment")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("truncated after 0xFF")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                elif nxt == 0xD9:  # EOI reached mid-read
                    raise ValueError("unexpected EOI in scan")
                else:
                    raise ValueError(f"unexpected marker 0xFF{nxt:02x}")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

def _decode_huff(br, table):
    code, ln = 0, 0
    while True:
        code = (code << 1) | br.bit()
        ln += 1
        if ln > 16:
            raise ValueError("invalid Huffman code")
        sym = table.get((code, ln))
        if sym is not None:
            return sym

def _extend(v: int, t: int) -> int:
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1

def _idct_block(coeffs):
    """Fixed-point integer IDCT of 64 DEQUANTIZED coefficients
    (documented closed form for DC-only blocks:
    clip(128 + (F00*2896^2 + HALF)//SCALE)). Returns 64 pixel
    values row-major."""
    nz = [
        (u, v, coeffs[u * 8 + v])
        for u in range(8)
        for v in range(8)
        if coeffs[u * 8 + v]
    ]
    out = [0] * 64
    if not nz or nz == [(0, 0, coeffs[0])]:
        # DC-only spectrum: the IDCT is one uniform value —
        # exactly the general loop's result for every (x, y)
        acc = coeffs[0] * 2896 * 2896
        px = 128 + (acc + _HALF) // _SCALE
        px = 0 if px < 0 else (255 if px > 255 else px)
        return [px] * 64
    for y in range(8):
        for x in range(8):
            acc = 0
            for u, v, f in nz:
                acc += f * _T[u][y] * _T[v][x]
            # floor division with half-up rounding, exact for
            # negatives too (Python // floors)
            px = 128 + (acc + _HALF) // _SCALE
            out[y * 8 + x] = 0 if px < 0 else (255 if px > 255 else px)
    return out

def _ac_first(br, blk, ss: int, se: int, al: int, act) -> int:
    """Band [ss..se] of one block in a FIRST AC scan — run/size pairs
    at level ``al`` until EOB; baseline AC is the (1, 63, 0) case.
    Returns the EOB run left for the following blocks (0 unless an
    EOBn symbol with r > 0 ended this block)."""
    k = ss
    while k <= se:
        sym = _decode_huff(br, act)
        r, t = sym >> 4, sym & 0x0F
        if t == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            return (1 << r) - 1 + (br.bits(r) if r else 0)
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        blk[_ZZ[k]] = _extend(br.bits(t), t) << al
        k += 1
    return 0

def _correct(br, blk, k: int, p1: int, m1: int) -> None:
    # one correction bit for an already-nonzero coefficient: 1 =
    # increase the magnitude at this precision (skip if already set)
    if br.bits(1) and not (blk[_ZZ[k]] & p1):
        blk[_ZZ[k]] += p1 if blk[_ZZ[k]] >= 0 else m1

def _ac_refine(br, blk, ss: int, se: int, al: int, act, eobrun: int) -> int:
    """Band [ss..se] of one block in an AC REFINEMENT scan (T.81
    G.1.2.3): newly-nonzero coefficients arrive as (run<<4)|1 + sign,
    where the run counts only still-zero positions; every already-
    nonzero coefficient passed eats one correction bit. Returns the
    EOB run left after this block."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _decode_huff(br, act)
            r, s = sym >> 4, sym & 0x0F
            if s:
                if s != 1:
                    raise ValueError("refinement size must be 1")
                s_val = p1 if br.bits(1) else m1
            else:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break
                s_val = 0  # ZRL
            # advance over nonzero-history coefs (each eats a
            # correction bit) and r still-zero ones
            while k <= se:
                if blk[_ZZ[k]] != 0:
                    _correct(br, blk, k, p1, m1)
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if s_val:
                if k > se:
                    raise ValueError("refinement run past band end")
                blk[_ZZ[k]] = s_val
            k += 1
    if eobrun > 0:
        # EOB-run block: correction bits continue for the band's
        # remaining nonzero coefs
        while k <= se:
            if blk[_ZZ[k]] != 0:
                _correct(br, blk, k, p1, m1)
            k += 1
        eobrun -= 1
    return eobrun

#: frame-header markers SOF0..SOF15 (C4 = DHT, C8 = JPG, CC = DAC)
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}

def _segments(payload: bytes, qtabs: dict, htabs: dict):
    """The one marker-segment walker both decoders loop over. Checks
    SOI; parses every DQT into ``qtabs`` (id -> raster-order table) and
    every DHT into ``htabs`` ((class, id) -> {(code, len): symbol});
    skips APPn and COM; rejects DRI; and yields ``(marker, body, end)``
    for every other segment up to EOI, ``end`` being the offset right
    after it (where an SOS's entropy-coded data starts). Resumed after
    an SOS, it skips that data — stuffed 0xFF00 pairs — to the next
    marker. Any run of 0xFF fill bytes before a marker is skipped (ITU-T
    T.81 B.1.1.2). Raises ``ValueError`` on desync or a segment that
    runs past the payload."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (bad SOI)")
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("segment desync (expected marker)")
        while pos + 2 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1  # fill byte
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            return
        ln = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        body = payload[pos + 4 : pos + 2 + ln]
        if ln < 2 or len(body) != ln - 2:
            raise ValueError("truncated segment")
        pos += 2 + ln
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(body):
                if body[p] >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                zzq = body[p + 1 : p + 65]
                if len(zzq) != 64:
                    raise ValueError("short DQT")
                tab = [0] * 64
                for i in range(64):
                    tab[_ZZ[i]] = zzq[i]
                qtabs[body[p] & 0x0F] = tab
                p += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(body):
                bits = body[p + 1 : p + 17]
                vals = body[p + 17 : p + 17 + sum(bits)]
                if len(bits) != 16 or len(vals) != sum(bits):
                    raise ValueError("short DHT")
                codes = _huff_codes(bits, vals)
                htabs[(body[p] >> 4, body[p] & 0x0F)] = {
                    (c, l): sym for sym, (c, l) in codes.items()
                }
                p += 17 + len(vals)
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif not (0xE0 <= marker <= 0xEF or marker == 0xFE):
            yield marker, body, pos
            if marker == 0xDA:
                while pos + 1 < len(payload) and not (
                    payload[pos] == 0xFF and payload[pos + 1] != 0x00
                ):
                    pos += 1

def _frame(marker: int, body: bytes):
    """Parse an SOF0/SOF2 frame header. Returns ``(width, height,
    comps, dims)``: ``comps`` the ``(id, qtab id, h, v)`` tuples in SOF
    order (== MCU interleave order), ``dims`` each component's stored
    ``(w, h)``."""
    if len(body) < 6 or len(body) < 6 + 3 * body[5]:
        raise ValueError("short SOF")
    prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
    if prec != 8 or ncomp not in ((1,) if marker == 0xC2 else (1, 3)):
        raise ValueError(
            "only 8-bit greyscale, 3-component baseline color or "
            "single-component progressive supported"
        )
    comps = []
    for i in range(ncomp):
        cid, samp, qid = body[6 + 3 * i : 9 + 3 * i]
        sh, sv = samp >> 4, samp & 0x0F
        if sh not in (1, 2) or sv not in (1, 2):
            raise ValueError(f"sampling factors {sh}x{sv} unsupported")
        comps.append((cid, qid, sh, sv))
    # a single-component scan is non-interleaved: sampling factors are
    # irrelevant, the MCU is one block
    if ncomp == 1:
        comps = [(comps[0][0], comps[0][1], 1, 1)]
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    if width % (8 * hmax) or height % (8 * vmax):
        raise ValueError(
            "dimensions must be multiples of the MCU size "
            f"({8 * hmax}x{8 * vmax})"
        )
    dims = [(width * sh // hmax, height * sv // vmax) for *_, sh, sv in comps]
    return width, height, comps, dims

def _scan(br, mcu, tabs, ss: int, se: int, ah: int, al: int,
          baseline: bool) -> None:
    """One scan over the ``(component, block)`` pairs of ``mcu``, each
    block's quantized coefficients updated in place: DC first (the
    predictor chains at level ``al``) or DC refinement (one raw bit per
    block) when ``ss == 0``, then band [ss..se] as an AC first or AC
    refinement pass with EOB runs across blocks. The baseline scan is
    the (0, 63, 0, 0) case, where an EOB run longer than one block is
    not a valid symbol."""
    preds = [0] * len(tabs)
    eobrun = 0
    for ci, blk in mcu:
        dct, act = tabs[ci]
        if ss == 0:
            if ah:
                blk[0] |= br.bits(1) << al
            else:
                t = _decode_huff(br, dct)
                if t:
                    preds[ci] += _extend(br.bits(t), t)
                blk[0] = preds[ci] << al
        if se == 0:
            continue
        if ah:
            eobrun = _ac_refine(br, blk, ss, se, al, act, eobrun)
        elif eobrun:
            eobrun -= 1
        else:
            eobrun = _ac_first(br, blk, max(ss, 1), se, al, act)
            if eobrun and baseline:
                raise ValueError("bad AC symbol")

def _decode_planes(payload: bytes, sof: int | None = None):
    """The general decode path for the supported shapes, baseline
    (SOF0) and progressive (SOF2) alike: walk the segments, rebuild
    the tables from the stream, run every scan over the blocks in MCU
    order with per-component DC predictors and SOF-declared sampling
    factors (1x1 .. 2x2 — covers 4:4:4, 4:2:2 and 4:2:0), then
    dequantize + IDCT each block once. ``sof`` restricts the frame
    type. Returns ``(planes, width, height, dims)`` — one row-major
    plane per SOF component at its STORED resolution, with ``dims``
    the per-plane ``(w, h)`` list (subsampled chroma planes are
    smaller than the luma plane)."""
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], dict] = {}
    frame = None
    for marker, body, end in _segments(payload, qtabs, htabs):
        if marker in _SOF_MARKERS:
            if marker not in (0xC0, 0xC2):
                raise ValueError("only baseline and progressive SOF supported")
            if sof not in (None, marker):
                raise ValueError(
                    "baseline SOF: use jpeg_decode" if marker == 0xC0
                    else "progressive SOF: use jpeg_decode_progressive"
                )
            frame = marker
            width, height, comps, dims = _frame(marker, body)
            coeffs = [[[0] * 64 for _ in range(w * h // 64)] for w, h in dims]
            hmax = max(c[2] for c in comps)
            vmax = max(c[3] for c in comps)
            mcu = [  # (component, block) in MCU order
                (ci, coeffs[ci][(my * sv + by) * (dims[ci][0] // 8)
                                + mx * sh + bx])
                for my in range(height // (8 * vmax))
                for mx in range(width // (8 * hmax))
                for ci, (_c, _q, sh, sv) in enumerate(comps)
                for by in range(sv)
                for bx in range(sh)
            ]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0] if body else 0
            if ns != len(comps) or len(body) < 4 + 2 * ns:
                raise ValueError("scan must cover all SOF components")
            sel = dict(zip(body[1 : 1 + 2 * ns : 2], body[2 : 2 + 2 * ns : 2]))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if frame == 0xC0 and (ss, se, ahal) != (0, 63, 0):
                raise ValueError("baseline scan must be Ss=0, Se=63, Ah=Al=0")
            if frame == 0xC2 and ss == 0 and se != 0:
                raise ValueError("DC scan must have Se = 0")
            if ah and ah != al + 1:
                raise ValueError("refinement must step one bit (Ah=Al+1)")
            try:
                tabs = [
                    (htabs[(0, sel[cid] >> 4)] if ss == 0 and not ah else None,
                     htabs[(1, sel[cid] & 0x0F)] if se else None)
                    for cid, *_ in comps
                ]
            except KeyError:
                raise ValueError(
                    "scan references a component or Huffman table the "
                    "stream does not define"
                ) from None
            _scan(_BitReader(payload, end), mcu, tabs, ss, se, ah, al,
                  frame == 0xC0)
            if frame == 0xC0:
                break  # a baseline frame is one interleaved scan
    else:
        if frame != 0xC2:
            raise ValueError("no SOS segment")
    try:
        qts = [qtabs[qid] for _cid, qid, _sh, _sv in comps]
    except KeyError:
        raise ValueError("component references an undefined DQT") from None
    planes = []
    for (w, h), blocks, q in zip(dims, coeffs, qts):
        plane = bytearray(w * h)
        for bi, blk in enumerate(blocks):
            px = _idct_block([c * qq for c, qq in zip(blk, q)])
            by, bx = divmod(bi, w // 8)
            for y in range(8):
                row = (by * 8 + y) * w + bx * 8
                plane[row : row + 8] = px[y * 8 : y * 8 + 8]
        planes.append(plane)
    return planes, width, height, dims

def jpeg_decode(payload: bytes) -> tuple[bytes, int, int]:
    """Decode a baseline greyscale JFIF payload. Returns
    ``(pixels, width, height)``. The general baseline path for the
    supported shape: tables come from the stream (DQT/DHT parsed and
    rebuilt, nothing assumed), entropy decode handles byte stuffing,
    arbitrary AC coefficients, ZRL and EOB; raises ``ValueError`` on
    corrupt input, progressive shapes, or restart markers — and on
    color payloads (use :func:`jpeg_decode_color`)."""
    planes, width, height, _dims = _decode_planes(payload, 0xC0)
    if len(planes) != 1:
        raise ValueError("color JPEG: use jpeg_decode_color")
    return bytes(planes[0]), width, height

def _upsample(plane, pw: int, ph: int, width: int, height: int):
    """Pixel replication to ``width`` x ``height``: pixel (r, c) reads
    stored sample ``(r*ph DIV height, c*pw DIV width)``."""
    if (pw, ph) == (width, height):
        return plane
    cols = [c * pw // width for c in range(width)]
    return [
        plane[(r * ph // height) * pw + c] for r in range(height) for c in cols
    ]

def jpeg_decode_color(payload: bytes) -> tuple[bytes, int, int, int]:
    """Decode a JFIF payload of any supported shape. Returns
    ``(pixels, width, height, n_components)`` — the greyscale
    plane for 1-component streams, or the interleaved RGB raster
    (pinned integer inverse color transform, module docstring) for
    3-component streams. Subsampled chroma planes (4:2:0 / 4:2:2)
    upsample by PIXEL REPLICATION — luma pixel (r, c) reads chroma
    sample ``(r*ch DIV height, c*cw DIV width)``, the exact inverse
    of the encoder's block coverage, so uniform-MCU fixtures stay on
    the ``COLOR_UNIFORM_RGB`` closed form. Progressive (SOF2)
    streams route to :func:`jpeg_decode_progressive`."""
    planes, width, height, dims = _decode_planes(payload)
    if len(planes) == 1:
        return bytes(planes[0]), width, height, 1
    y, cb, cr = (
        _upsample(p, pw, ph, width, height)
        for p, (pw, ph) in zip(planes, dims)
    )
    rgb = map(ycbcr_to_rgb, y, cb, cr)
    return bytes(v for px in rgb for v in px), width, height, 3

def jpeg_decode_progressive(payload: bytes) -> tuple[bytes, int, int]:
    """Decode a PROGRESSIVE (SOF2) greyscale JPEG with spectral
    selection: multiple SOS scans accumulate each block's quantized
    coefficient vector (DC scan = baseline DC differentials; AC
    scans = in-band run/size pairs with full EOB-RUN semantics),
    then one dequantize + IDCT per block. Successive approximation
    decodes too: DC and AC first scans at a point transform Al, then
    refinement scans (Ah = Al + 1) adding one bit each, with EOB runs
    and correction bits. Multi-component progressive stays behind
    ``ValueError``: single-component is the shape our encoders write."""
    planes, width, height, _dims = _decode_planes(payload, 0xC2)
    return bytes(planes[0]), width, height
