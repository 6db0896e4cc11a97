"""Pure-stdlib IMA ADPCM codec (WAV format tag 0x0011) — REAL compressed
audio for the multimodal seam, closing the "compressed audio" entry on
the library-blocked list (IMA ADPCM is integer arithmetic and bit
packing; nothing about it needs an audio library).

Scope: mono 16-bit PCM <-> single-block IMA ADPCM WAV. The encoder
writes a standards-shaped RIFF container (fmt chunk with tag 0x11,
block-align/samples-per-block extension, fact chunk) whose data chunk
is one IMA block: a 4-byte state header (initial predictor int16 LE,
step index, reserved) followed by low-nibble-first packed 4-bit codes
for the remaining samples. The decoder walks the RIFF chunks and
replays the standard IMA state machine (step-table quantization,
predictor clamp to int16, index clamp to [0, 88]).

Everything is deterministic integer arithmetic, so the ENCODE∘DECODE
reconstruction is an exact per-sample fold that a SQL oracle replays
step for step (a recursive CTE over the sample index) — the lossy
codec's distortion is itself hash-checkable.

Plain module-level functions: the package registers itself
pickle-by-value (package ``__init__``), so a ``mapInPandas`` function
that references them runs on Spark python workers that cannot import
this repo."""

from __future__ import annotations

import struct

from .wav_codec import _riff_chunks

#: IMA ADPCM step-size table (89 entries, the standard table).
STEP_TABLE: tuple[int, ...] = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)

#: index adjustment per 3-bit code magnitude.
INDEX_TABLE: tuple[int, ...] = (-1, -1, -1, -1, 2, 4, 6, 8)


step_table, index_table = STEP_TABLE, INDEX_TABLE

def _quantize(sample: int, pred: int, idx: int) -> tuple[int, int, int]:
    """One IMA step: quantize ``sample`` against (pred, idx), return
    (nibble, new_pred, new_idx). The reconstruction inside is the
    decoder's, so encoder and decoder predictors never diverge."""
    step = step_table[idx]
    diff = sample - pred
    nib = 0
    if diff < 0:
        nib = 8
        diff = -diff
    if diff >= step:
        nib |= 4
        diff -= step
    if diff >= step >> 1:
        nib |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        nib |= 1
    diffq = step >> 3
    if nib & 4:
        diffq += step
    if nib & 2:
        diffq += step >> 1
    if nib & 1:
        diffq += step >> 2
    pred = pred - diffq if nib & 8 else pred + diffq
    pred = -32768 if pred < -32768 else (32767 if pred > 32767 else pred)
    idx += index_table[nib & 7]
    idx = 0 if idx < 0 else (88 if idx > 88 else idx)
    return nib, pred, idx

def adpcm_encode_wav(samples: list[int]) -> bytes:
    """Encode mono 16-bit PCM samples into a single-block IMA ADPCM
    WAV. The first sample is stored raw in the block header (it IS
    the first decoded sample); the rest quantize to 4-bit codes.

    SINGLE-BLOCK contract: the fmt chunk's samples-per-block field
    is u16, so at most 65535 samples fit one block (ADVICE r8 —
    guard explicitly instead of an opaque struct.error)."""
    if not samples:
        raise ValueError("empty sample list")
    if len(samples) > 0xFFFF:
        raise ValueError(
            "single-block IMA ADPCM holds at most 65535 samples "
            f"(got {len(samples)}); samples-per-block is u16"
        )
    n = len(samples)
    pred, idx = samples[0], 0
    nibbles = []
    for s in samples[1:]:
        nib, pred, idx2 = _quantize(s, pred, idx)
        idx = idx2
        nibbles.append(nib)
    packed = bytearray()
    for i in range(0, len(nibbles), 2):
        lo = nibbles[i]
        hi = nibbles[i + 1] if i + 1 < len(nibbles) else 0
        packed.append(lo | (hi << 4))
    block = struct.pack("<hBB", samples[0], 0, 0) + bytes(packed)
    block_align = len(block)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, 8000, 8000 * block_align // n,
        block_align, 4, 2, n,
    )
    fact = struct.pack("<I", n)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(block)) + block
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

def adpcm_decode_wav(payload: bytes) -> list[int]:
    """Decode a mono single-block IMA ADPCM WAV back to 16-bit PCM
    samples (RIFF chunk walk; fmt must declare tag 0x11)."""
    (tag, channels, *_), n_samples, chunks = _riff_chunks(payload)
    if tag != 0x11:
        raise ValueError(f"not IMA ADPCM (fmt tag 0x{tag:04x})")
    if channels != 1:
        raise ValueError("only mono supported")
    if n_samples is None:  # no fact chunk: the fmt samples-per-block
        off, length = chunks[b"fmt "]
        if length < 20:
            raise ValueError("fmt chunk lacks samples-per-block")
        (n_samples,) = struct.unpack_from("<H", payload, off + 18)
    off, length = chunks[b"data"]
    data = payload[off : off + length]
    if not n_samples or length < 4 + n_samples // 2:
        raise ValueError("data chunk does not hold the declared sample count")
    pred, idx, _res = struct.unpack_from("<hBB", data, 0)
    out = [pred]
    nib_i = 0
    while len(out) < n_samples:
        byte = data[4 + (nib_i >> 1)]
        nib = (byte >> 4) if nib_i & 1 else (byte & 0x0F)
        nib_i += 1
        step = step_table[idx]
        diffq = step >> 3
        if nib & 4:
            diffq += step
        if nib & 2:
            diffq += step >> 1
        if nib & 1:
            diffq += step >> 2
        pred = pred - diffq if nib & 8 else pred + diffq
        pred = (
            -32768 if pred < -32768 else (32767 if pred > 32767 else pred)
        )
        idx += index_table[nib & 7]
        idx = 0 if idx < 0 else (88 if idx > 88 else idx)
        out.append(pred)
    return out
