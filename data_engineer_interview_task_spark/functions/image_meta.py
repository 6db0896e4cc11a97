"""Header-only image metadata scan — parse dimensions / bit depth /
component count from the CONTAINER HEADER of PNG, JPEG, GIF and BMP
payloads WITHOUT decoding any pixel data.

This is the manifest pass a real curation pipeline runs before spending
decode CPU: a few dozen bytes of header I/O per blob classifies and
sizes the whole corpus (the full decoders in ``png_codec`` /
``jpeg_codec`` / ``gif_codec`` / ``bmp_codec`` then run only on the
rows the manifest selects). Each parser here is the header prefix of
the corresponding full codec's container walk:

- PNG: the 8-byte signature + the IHDR chunk (always first per the
  spec) — width/height BE32, bit depth, color type.
- JPEG: the marker-segment walk from SOI to the first SOFn (baseline
  SOF0..SOF3, progressive SOF9..SOF11 etc.) — precision, height,
  width, component count. SOF always precedes SOS, so the walk never
  touches entropy-coded data.
- GIF: the 6-byte version header + the logical screen descriptor —
  width/height LE16, bits-per-pixel from the flags byte.
- BMP: BITMAPFILEHEADER + the BITMAPINFOHEADER prefix — width LE32,
  |height| (negative = top-down), bit count LE16.

Plain module-level functions: the package registers itself
pickle-by-value (package ``__init__``), so a ``mapInPandas`` function
that references ``parse_image_header`` runs on Spark python workers that
cannot import this repo.
"""
from __future__ import annotations

import struct


_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}  # DHT / JPG-extension / DAC are not frames
_STANDALONE = frozenset({0x01}) | frozenset(range(0xD0, 0xD8))  # TEM, RSTn

def parse_image_header(payload: bytes):
    """Sniff the container by magic and return
    ``(fmt, width, height, bit_depth, n_components)`` reading ONLY
    header bytes. Raises ``ValueError`` on unknown or truncated
    containers — truncation that would otherwise surface as
    ``struct.error`` (short unpack slice) or ``IndexError`` (fill
    run ending at EOF) is folded into the documented contract."""
    try:
        return _parse_image_header(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"truncated image container: {exc}") from exc

def _parse_image_header(payload: bytes):
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        if payload[12:16] != b"IHDR" or len(payload) < 26:
            raise ValueError("PNG without leading IHDR chunk")
        w, h = struct.unpack(">II", payload[16:24])
        depth, ctype = payload[24], payload[25]
        comps = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
        if comps is None:
            raise ValueError(f"unknown PNG color type {ctype}")
        return ("png", w, h, depth, comps)
    if payload[:2] == b"\xff\xd8":
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                raise ValueError("JPEG marker desync in header walk")
            pos += 1
            while pos < len(payload) and payload[pos] == 0xFF:
                pos += 1  # fill bytes
            marker = payload[pos]
            pos += 1
            if marker in _STANDALONE:
                continue
            if marker == 0xD9:  # EOI before any SOF
                break
            (seg_len,) = struct.unpack(">H", payload[pos : pos + 2])
            if marker in _SOF_MARKERS:
                prec, h, w, ncomp = struct.unpack(
                    ">BHHB", payload[pos + 2 : pos + 8]
                )
                return ("jpeg", w, h, prec, ncomp)
            if marker == 0xDA:
                raise ValueError("JPEG scan reached without SOF")
            pos += seg_len
        raise ValueError("truncated JPEG header")
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h, flags = struct.unpack("<HHB", payload[6:11])
        return ("gif", w, h, (flags & 0x07) + 1, 1)
    if payload[:2] == b"BM":
        if len(payload) < 30:
            raise ValueError("truncated BMP header")
        w, h = struct.unpack("<ii", payload[18:26])
        (bits,) = struct.unpack("<H", payload[28:30])
        return ("bmp", w, abs(h), bits, 1)
    raise ValueError("unknown image container")
