"""Pure-stdlib GIF codec (LZW + struct) — the third REAL image format
behind the multimodal seam, next to ``png_codec`` and ``jpeg_codec``.

Scope: GIF87a/89a, 8-bit global (or local) color table, single image
block, interlaced or not; 89a extension blocks are skipped by the
sub-block walker on decode. The encoder writes GIF87a with a 256-entry
global table and a standards-compliant LZW stream (LSB-first bit
packing, code width growth 9→12, CLEAR emitted when the dictionary
fills — the 4096-entry reset path is exercised by the round-trip test
on large random rasters), optionally storing scanlines in the 4-pass
interlace order. The decoder implements the full LZW decode (CLEAR/EOI,
the KwKwK case, deferred-clear tolerance), de-interlaces flagged
images, and expands indices through the color table to an RGB raster.

GIF is LOSSLESS, so ``gif_decode(gif_encode(idx, pal)) == expand(idx,
pal)`` exactly — the oracle for the registered query reconstructs the
denoted raster arithmetically from ``md5(text)`` and never needs codec
math (the palette-PNG pattern, not the lossy-JPEG closed-form chain).

Plain module-level functions: the package registers itself
pickle-by-value (package ``__init__``), so a ``mapInPandas`` function
that references them runs on Spark python workers that cannot import
this repo.
"""

from __future__ import annotations

import struct

#: GIF87a signature (the encoder's output; decoder accepts 89a too).
GIF_SIGNATURE = b"GIF8"


def _interlace_rows(height: int) -> list[int]:
    """GIF's 4-pass interlace row order: rows 0,8,16.. then 4,12..
    then 2,6,10.. then 1,3,5.. — the storage order of an interlaced
    image's scanlines."""
    return (
        list(range(0, height, 8))
        + list(range(4, height, 8))
        + list(range(2, height, 4))
        + list(range(1, height, 2))
    )

def gif_encode(
    indices: bytes,
    width: int,
    height: int,
    palette: bytes,
    interlace: bool = False,
) -> bytes:
    """Serialize 8-bit palette indices (row-major) into a GIF87a
    byte stream with a 256-entry global color table. ``palette``
    must be exactly 768 bytes of RGB triples. With ``interlace``
    the scanlines are stored in the 4-pass order and the image
    descriptor sets the interlace flag — decode output is
    identical (interlacing only permutes container row order)."""
    if len(palette) != 768:
        raise ValueError("palette must be 256 RGB triples (768 bytes)")
    if len(indices) != width * height:
        raise ValueError("indices must be width*height bytes")
    if interlace:
        rows = _interlace_rows(height)
        indices = b"".join(
            indices[r * width : (r + 1) * width] for r in rows
        )
    out = bytearray()
    out += b"GIF87a"
    # logical screen descriptor: global table, 8-bit color res,
    # table size 2^(7+1) = 256
    out += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    out += palette
    # image descriptor: full-screen, no local table
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, width, height, 0x40 if interlace else 0
    )
    min_code = 8
    out.append(min_code)

    clear, eoi = 1 << min_code, (1 << min_code) + 1
    # LZW: dict maps byte-string prefixes to codes; emitted codes
    # pack LSB-first into a bit buffer flushed as <=255-byte
    # sub-blocks
    bits = 0
    nbits = 0
    data = bytearray()

    def emit(code: int, width_bits: int) -> None:
        nonlocal bits, nbits
        bits |= code << nbits
        nbits += width_bits
        while nbits >= 8:
            data.append(bits & 0xFF)
            bits >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(256)}
    next_code = eoi + 1
    code_width = min_code + 1
    emit(clear, code_width)
    prefix = b""
    for b in indices:
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], code_width)
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << code_width) and code_width < 12:
                code_width += 1
            next_code += 1
        else:
            # dictionary full: reset (the standard encoder choice)
            emit(clear, code_width)
            table = {bytes([i]): i for i in range(256)}
            next_code = eoi + 1
            code_width = min_code + 1
        prefix = bytes([b])
    if prefix:
        emit(table[prefix], code_width)
    emit(eoi, code_width)
    if nbits:
        data.append(bits & 0xFF)
    for i in range(0, len(data), 255):
        blk = data[i : i + 255]
        out.append(len(blk))
        out += blk
    out += b"\x00\x3b"
    return bytes(out)

def gif_encode_animated(
    frames: list[bytes], width: int, height: int, palette: bytes
) -> bytes:
    """Serialize multiple full-frame index rasters into one
    animated GIF89a: a NETSCAPE2.0 looping application extension,
    then per frame a graphic-control extension (10 cs delay) and an
    image block (descriptor + LZW data) — the standard animation
    layout. Every frame is a full replace (disposal 0)."""
    if len(palette) != 768:
        raise ValueError("palette must be 256 RGB triples (768 bytes)")
    if not frames:
        raise ValueError("no frames")
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    out += palette
    # NETSCAPE looping extension (loop forever)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for fr in frames:
        single = gif_encode(fr, width, height, palette)
        # reuse the single-image encoder's image block (descriptor
        # through the data sub-blocks, excluding its trailer)
        img_at = 6 + 7 + 768
        out += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"  # GCE: 10cs delay
        out += single[img_at:-1]  # strip the 0x3b trailer
    out += b"\x3b"
    return bytes(out)

def gif_decode_frames(payload: bytes) -> tuple[list[bytes], int, int]:
    """Decode EVERY image block of a (possibly animated) GIF into a
    list of RGB rasters. Single-image streams return one frame, so
    ``gif_decode`` is frame 0 of this."""
    frames: list[bytes] = []
    pos_holder = [0]
    w = h = None
    # reuse the single-image walker by iterating: gif_decode stops
    # after the first image block, so walk blocks here and delegate
    # the LZW stage through a trimmed single-image payload
    if payload[:4] != b"GIF8" or payload[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF87a/89a stream")
    pos = 6
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, pos)
    pos += 7
    gct = b""
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = payload[pos : pos + 3 * n]
        pos += 3 * n
    head = payload[:pos]
    while True:
        block = payload[pos]
        if block == 0x3B:
            break
        if block == 0x21:  # extension
            pos += 2
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        start = pos
        _l, _t, iw, ih, ipacked = struct.unpack_from(
            "<HHHHB", payload, pos + 1
        )
        pos += 10
        if ipacked & 0x80:
            pos += 3 * (2 << (ipacked & 0x07))
        pos += 1  # LZW min code size
        while payload[pos]:
            pos += 1 + payload[pos]
        pos += 1
        rgb, fw, fh = gif_decode(head + payload[start:pos] + b"\x3b")
        frames.append(rgb)
        w, h = fw, fh
    if not frames:
        raise ValueError("GIF stream has no image block")
    return frames, w, h

def gif_decode(payload: bytes) -> tuple[bytes, int, int]:
    """Parse a GIF87a/89a stream and return ``(rgb_pixels, width,
    height)`` — indices expanded through the active color table."""
    if payload[:4] != b"GIF8" or payload[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF87a/89a stream")
    pos = 6
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, pos)
    pos += 7
    global_table = b""
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        global_table = payload[pos : pos + 3 * n]
        pos += 3 * n
    while True:
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            raise ValueError("GIF stream has no image block")
        if block == 0x21:  # extension: label byte + sub-blocks
            pos += 1
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        _l, _t, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        table = global_table
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            table = payload[pos : pos + 3 * n]
            pos += 3 * n
        if not table:
            raise ValueError("image has neither local nor global table")
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos]:
            ln = payload[pos]
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        n_base = 1 << min_code

        bits = 0
        nbits = 0
        di = 0
        code_width = min_code + 1

        def read_code() -> int:
            nonlocal bits, nbits, di
            while nbits < code_width:
                if di >= len(data):
                    return eoi  # truncated stream: treat as end
                bits |= data[di] << nbits
                di += 1
                nbits += 8
            code = bits & ((1 << code_width) - 1)
            bits >>= code_width
            nbits -= code_width
            return code

        dictionary: list[bytes] = []

        def reset_dict() -> None:
            nonlocal dictionary, code_width
            dictionary = [bytes([i]) for i in range(n_base)] + [b"", b""]
            code_width = min_code + 1

        reset_dict()
        out = bytearray()
        prev: bytes | None = None
        while True:
            code = read_code()
            if code == eoi:
                break
            if code == clear:
                reset_dict()
                prev = None
                continue
            if code < len(dictionary) and (
                code < n_base or code > eoi
            ):
                entry = dictionary[code]
            elif code == len(dictionary) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError(f"corrupt LZW code {code}")
            out += entry
            if prev is not None and len(dictionary) < 4096:
                dictionary.append(prev + entry[:1])
                if (
                    len(dictionary) == (1 << code_width)
                    and code_width < 12
                ):
                    code_width += 1
            prev = entry
        if len(out) != w * h:
            raise ValueError(
                f"LZW decoded {len(out)} indices for {w}x{h} image"
            )
        if ipacked & 0x40:  # de-interlace: undo the 4-pass order
            ordered = bytearray(w * h)
            for stored, r in enumerate(_interlace_rows(h)):
                ordered[r * w : (r + 1) * w] = out[
                    stored * w : (stored + 1) * w
                ]
            out = ordered
        rgb = bytearray(w * h * 3)
        for i, idx in enumerate(out):
            rgb[3 * i : 3 * i + 3] = table[3 * idx : 3 * idx + 3]
        return bytes(rgb), w, h
    raise ValueError("unreachable")
