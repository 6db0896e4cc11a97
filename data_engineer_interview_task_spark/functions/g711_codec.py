"""Pure-stdlib G.711 µ-law / A-law codec (WAV format tags 0x0007 /
0x0006) — the telephony companding standards, extending the REAL
compressed-audio surface past IMA ADPCM (``adpcm_codec.py``). G.711 is
per-sample integer logic (sign/clip/bias, a floor-log2 segment, a
4-bit mantissa), so unlike ADPCM it is MEMORYLESS: the SQL oracle
replays each sample independently (no recursive CTE), yet the lossy
quantize→reconstruct distortion is still hash-exact.

Scope: mono 16-bit PCM <-> single-block G.711 WAV. The encoder writes
a standards-shaped RIFF container (fmt tag 0x0007 for µ-law, 0x0006
for A-law, 8 bits per sample, fact chunk) whose data chunk is one
companded byte per sample. Algorithms are the classic CCITT reference
forms:

µ-law encode (BIAS 0x84, CLIP 32635):
    sign = 0x80 if s < 0; m = min(|s|, 32635) + 0x84
    exp  = floor(log2(m >> 7))          (m >= 0x84 so m >> 7 >= 1)
    mant = (m >> (exp + 3)) & 0x0F
    byte = ~(sign | exp << 4 | mant) & 0xFF
µ-law decode:
    u = ~byte; m = ((u & 0x0F) << 3 | 0x84) << ((u >> 4) & 7); s = ±(m - 0x84)

A-law encode (the CCITT reference form; 13-bit domain):
    p = s >> 3 (arithmetic); negatives fold ONE'S-COMPLEMENT
    (p = -p - 1), positives carry the 0x80 bit through the 0x55 XOR
    seg = first i with p <= (0x1F, 0x3F, ..., 0xFFF)[i]
    byte' = seg << 4 | (p >> 1) & 0xF    for seg 0..1 (linear segments)
    byte' = seg << 4 | (p >> seg) & 0xF  for seg 2..7
    byte = (0x80 if s >= 0 else 0 | byte') ^ 0x55
A-law decode mirrors the segment split (16-bit domain):
    a' = byte ^ 0x55; seg = (a' >> 4) & 7; mant = a' & 0x0F
    m = (mant << 4) + 8                      seg 0
    m = (mant << 4) + 0x108                  seg 1
    m = ((mant << 4) + 0x108) << (seg - 1)   seg 2..7
    s = m if a' & 0x80 else -m

Plain module-level functions: the package registers itself
pickle-by-value (package ``__init__``), so a ``mapInPandas`` function
that references the entry points runs on Spark python workers that
cannot import this repo."""

from __future__ import annotations

import struct

from .wav_codec import _riff_chunks


def _wav(fmt_tag: int, payload: bytes, n: int) -> bytes:
    fmt = struct.pack(
        "<HHIIHH", fmt_tag, 1, 8000, 8000, 1, 8
    )
    fact = struct.pack("<I", n)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(payload)) + payload
    )
    return (
        b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    )

def _walk(payload: bytes, want_tag: int) -> bytes:
    (tag, *_), _n_fact, chunks = _riff_chunks(payload)
    if tag != want_tag:
        raise ValueError(f"fmt tag 0x{tag:04x} != expected 0x{want_tag:04x}")
    off, length = chunks[b"data"]
    return payload[off : off + length]

def mulaw_encode_sample(s: int) -> int:
    sign = 0x80 if s < 0 else 0
    m = -s if s < 0 else s
    if m > 32635:
        m = 32635
    m += 0x84
    exp = (m >> 7).bit_length() - 1
    mant = (m >> (exp + 3)) & 0x0F
    return ~(sign | (exp << 4) | mant) & 0xFF

def mulaw_decode_sample(b: int) -> int:
    u = ~b & 0xFF
    exp = (u >> 4) & 7
    m = (((u & 0x0F) << 3) | 0x84) << exp
    m -= 0x84
    return -m if u & 0x80 else m

def alaw_encode_sample(s: int) -> int:
    sign = 0x80 if s >= 0 else 0
    p = s >> 3  # arithmetic shift, like the C reference
    if p < 0:
        p = -p - 1  # one's-complement fold (reference semantics)
    if p <= 0x1F:
        seg = 0
    elif p <= 0x3F:
        seg = 1
    else:
        seg = p.bit_length() - 5  # p in [0x40, 0xFFF] -> seg 2..7
    comp = (seg << 4) | (
        (p >> 1) & 0x0F if seg < 2 else (p >> seg) & 0x0F
    )
    return (sign | comp) ^ 0x55

def alaw_decode_sample(b: int) -> int:
    a = b ^ 0x55
    seg = (a >> 4) & 7
    mant = a & 0x0F
    if seg == 0:
        m = (mant << 4) + 8
    elif seg == 1:
        m = (mant << 4) + 0x108
    else:
        m = ((mant << 4) + 0x108) << (seg - 1)
    return m if a & 0x80 else -m

def mulaw_encode_wav(samples: list[int]) -> bytes:
    if not samples:
        raise ValueError("empty sample list")
    payload = bytes(mulaw_encode_sample(s) for s in samples)
    return _wav(0x0007, payload, len(samples))

def mulaw_decode_wav(payload: bytes) -> list[int]:
    return [mulaw_decode_sample(b) for b in _walk(payload, 0x0007)]

def alaw_encode_wav(samples: list[int]) -> bytes:
    if not samples:
        raise ValueError("empty sample list")
    payload = bytes(alaw_encode_sample(s) for s in samples)
    return _wav(0x0006, payload, len(samples))

def alaw_decode_wav(payload: bytes) -> list[int]:
    return [alaw_decode_sample(b) for b in _walk(payload, 0x0006)]
