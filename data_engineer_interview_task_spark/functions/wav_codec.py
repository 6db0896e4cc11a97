"""Pure-stdlib WAV (RIFF PCM) codec — the REAL audio decode path behind
the multimodal seam, extending the image story (png_codec / jpeg_codec)
to the brief's audio modality.

Scope: uncompressed PCM WAVE, 8-bit unsigned mono/multi-channel — the
shape synthetic/telemetry audio fixtures take. The decoder walks the
RIFF chunk list generally (skipping unknown chunks like LIST/INFO with
correct word alignment), validates the fmt contract, and returns the
raw sample bytes; the encoder writes a spec-compliant RIFF header.
Compressed codecs (MP3/AAC/FLAC) genuinely need libraries absent from
this container and stay behind ``NotImplementedError`` at the
``operators/multimodal.py::decode_audio`` seam.

Plain module-level functions: the package registers itself
pickle-by-value (package ``__init__``), so a ``mapInPandas`` function
that references them runs on Spark python workers that cannot import
this repo.
"""

from __future__ import annotations

import struct

#: RIFF/WAVE signature prefix (bytes 0-3; bytes 8-11 must be b"WAVE").
WAV_SIGNATURE = b"RIFF"


def wav_encode(
    samples: bytes, sample_rate: int, n_channels: int = 1
) -> bytes:
    """Serialize raw 8-bit unsigned PCM sample bytes (interleaved
    channels) to a valid RIFF/WAVE file."""
    if sample_rate <= 0 or n_channels <= 0:
        raise ValueError("sample_rate and n_channels must be positive")
    if len(samples) % n_channels:
        raise ValueError("sample bytes not divisible by channel count")
    block_align = n_channels  # 8-bit -> one byte per channel
    fmt = struct.pack(
        "<HHIIHH",
        1,  # audio format 1 = PCM
        n_channels,
        sample_rate,
        sample_rate * block_align,  # byte rate
        block_align,
        8,  # bits per sample
    )
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(samples))
        + samples
        + (b"\x00" if len(samples) % 2 else b"")  # RIFF word padding
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body

def wav_decode(payload: bytes) -> tuple[bytes, int, int, int]:
    """Parse a RIFF/WAVE payload. Returns ``(samples, sample_rate,
    n_channels, bits_per_sample)`` with ``samples`` the raw PCM data
    bytes. Walks the chunk list generally (unknown chunks skipped
    with RIFF word alignment); raises ``ValueError`` on corrupt
    input and on out-of-scope shapes (non-PCM, non-8-bit)."""
    if len(payload) < 12 or payload[:4] != b"RIFF":
        raise ValueError("not a RIFF payload")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    if riff_size + 8 > len(payload):
        raise ValueError("truncated RIFF payload")
    if payload[8:12] != b"WAVE":
        raise ValueError("RIFF payload is not WAVE")
    pos, fmt, data = 12, None, None
    end = 8 + riff_size
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        chunk = payload[pos + 8 : pos + 8 + length]
        if len(chunk) != length:
            raise ValueError(f"truncated {tag!r} chunk")
        if tag == b"fmt ":
            if length < 16:
                raise ValueError("fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", chunk[:16])
        elif tag == b"data":
            data = chunk
        pos += 8 + length + (length % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt /data chunk")
    audio_format, n_channels, sample_rate, byte_rate, block_align, bits = fmt
    if audio_format != 1:
        raise ValueError(f"non-PCM WAVE (format {audio_format}) unsupported")
    if bits != 8:
        raise ValueError(f"only 8-bit PCM supported, got {bits}")
    if n_channels <= 0 or block_align != n_channels:
        raise ValueError("inconsistent channel/block-align fields")
    if byte_rate != sample_rate * block_align:
        raise ValueError("inconsistent byte-rate field")
    if len(data) % n_channels:
        raise ValueError("data chunk not divisible by channel count")
    return data, sample_rate, n_channels, bits
