"""Pure-stdlib RLE8 BMP codec — the Windows bitmap run-length format
(BI_RLE8, compression type 1), extending the real-image surface past
PNG/JPEG/GIF with the remaining classic raster compression: byte runs,
ABSOLUTE-mode literal segments (word-aligned), end-of-line and
end-of-bitmap escapes, BOTTOM-UP row storage, and an 8-bit palette.

Scope: 8bpp palettized BMP with BI_RLE8 pixel data. The encoder writes
a standards-shaped file (14-byte BITMAPFILEHEADER + 40-byte
BITMAPINFOHEADER + 256*4 BGRA palette + RLE8 data) mixing encoded runs
and absolute segments; the decoder handles the full RLE8 escape set
(00 00 = EOL, 00 01 = EOB, 00 02 dx dy = delta — skipped pixels are
index 0 per the de-facto rule, 00 n>=3 = absolute run padded to a word
boundary), reassembles the bottom-up rows top-down, and expands
indices through the palette to an RGB raster.

Everything is integer/bytes logic, so decode is bit-reproducible and a
SQL oracle can rebuild the raster of an arithmetic fixture directly.

Plain module-level functions: the package registers itself
pickle-by-value (package ``__init__``), so a ``mapInPandas`` function
that references them runs on Spark python workers that cannot import
this repo."""

from __future__ import annotations

import struct

#: BMP magic.
BMP_SIGNATURE = b"BM"


def bmp_encode_rle8(
    rows: list[bytes], width: int, height: int, palette: bytes
) -> bytes:
    """Encode TOP-DOWN index rows into a BI_RLE8 BMP. Each row is
    emitted as a run-length pass that switches to ABSOLUTE mode for
    literal stretches of >= 3 distinct bytes (so both encodings
    appear in real outputs), ends with the EOL escape, and the last
    row is followed by EOB. ``palette`` is 256*3 RGB bytes."""
    if len(rows) != height or any(len(r) != width for r in rows):
        raise ValueError("rows do not match dimensions")
    if len(palette) != 256 * 3:
        raise ValueError("palette must be 256 RGB triples")
    data = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage
        row = rows[y]
        x = 0
        while x < width:
            # measure the run at x
            run = 1
            while x + run < width and row[x + run] == row[x]:
                run += 1
            if run >= 3 or (x + run == width):
                while run > 0:
                    n = min(run, 255)
                    data += bytes((n, row[x]))
                    x += n
                    run -= n
            else:
                # literal stretch: extend until a >=3 run starts
                lit_start = x
                while x < width:
                    r2 = 1
                    while x + r2 < width and row[x + r2] == row[x]:
                        r2 += 1
                    if r2 >= 3:
                        break
                    x += r2
                lit = row[lit_start:x]
                i = 0
                while i < len(lit):
                    seg = lit[i : i + 255]
                    if len(seg) >= 3:
                        data += bytes((0, len(seg))) + seg
                        if len(seg) & 1:
                            data += b"\x00"  # word-align pad
                    else:
                        for bch in seg:
                            data += bytes((1, bch))
                    i += len(seg)
        data += b"\x00\x00"  # EOL
    data += b"\x00\x01"  # EOB
    pal = bytearray()
    for i in range(256):
        r, g, b = palette[3 * i], palette[3 * i + 1], palette[3 * i + 2]
        pal += bytes((b, g, r, 0))  # BGRA order on disk
    info = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 8, 1,  # BI_RLE8
        len(data), 2835, 2835, 256, 0,
    )
    off = 14 + 40 + len(pal)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    return bytes(hdr) + info + bytes(pal) + bytes(data)

def bmp_decode_rle8(payload: bytes) -> tuple[bytes, int, int]:
    """Decode a BI_RLE8 BMP to an RGB raster (top-down row-major).
    Returns ``(rgb_bytes, width, height)``."""
    if payload[:2] != BMP_SIGNATURE:
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    (
        hsize, width, height, _planes, bpp, comp, _isz,
    ) = struct.unpack_from("<IiiHHII", payload, 14)
    if hsize != 40 or bpp != 8 or comp != 1:
        raise ValueError("only 8bpp BI_RLE8 BMPs supported")
    if height <= 0:
        raise ValueError("top-down RLE8 BMPs are not legal")
    ncol = struct.unpack_from("<I", payload, 46)[0] or 256
    pal_off = 14 + hsize
    pal = payload[pal_off : pal_off + 4 * ncol]
    idx = [bytearray(width) for _ in range(height)]
    x, yy = 0, 0  # yy counts bottom-up rows
    p = off
    while p + 1 < len(payload):
        a, b = payload[p], payload[p + 1]
        p += 2
        if a:  # encoded run
            for _ in range(a):
                if x >= width:
                    raise ValueError("run past row end")
                idx[height - 1 - yy][x] = b
                x += 1
        elif b == 0:  # EOL
            x, yy = 0, yy + 1
        elif b == 1:  # EOB
            break
        elif b == 2:  # delta: skipped pixels stay index 0
            x += payload[p]
            yy += payload[p + 1]
            p += 2
        else:  # absolute mode, word-aligned
            seg = payload[p : p + b]
            p += b + (b & 1)
            for bch in seg:
                if x >= width:
                    raise ValueError("absolute run past row end")
                idx[height - 1 - yy][x] = bch
                x += 1
    out = bytearray()
    for row in idx:
        for v in row:
            out += bytes(
                (pal[4 * v + 2], pal[4 * v + 1], pal[4 * v])
            )  # BGRA -> RGB
    return bytes(out), width, height
