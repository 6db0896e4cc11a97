"""Pure-stdlib WAV (RIFF PCM) codec — the REAL audio decode path behind
the multimodal seam, extending the image story (png_codec / jpeg_codec)
to the brief's audio modality.

Scope: uncompressed PCM WAVE, 8-bit unsigned mono/multi-channel — the
shape synthetic/telemetry audio fixtures take. The decoder walks the
RIFF chunk list generally (skipping unknown chunks like LIST/INFO with
correct word alignment), validates the fmt contract, and returns the
raw sample bytes; the encoder writes a spec-compliant RIFF header.
The chunk walk (``_riff_chunks``) is the one every RIFF reader of the
package uses: this decoder, the IMA ADPCM and G.711 decoders and the
header-only ``audio_meta`` scan. The writers stay separate, because
their padding rules differ.
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

def _riff_chunks(payload: bytes):
    """The one RIFF/WAVE chunk walker every audio reader uses. Checks
    the RIFF/WAVE header, bounds the walk by the declared RIFF size and
    steps chunk to chunk with word alignment. Returns ``(fmt, n_fact,
    chunks)``: the fmt chunk's six PCM fields ``(format_tag,
    n_channels, sample_rate, byte_rate, block_align,
    bits_per_sample)``, the fact chunk's sample count (``None``
    without one) and ``{tag: (offset, length)}`` for every chunk (the
    last of a repeated tag wins) — offsets, not copies, so a
    header-only scan never reads a data body. Raises ``ValueError`` on
    a payload shorter than its RIFF size, a chunk that runs past it, a
    short fmt or fact chunk, or a missing fmt/data chunk."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    end = 8 + struct.unpack_from("<I", payload, 4)[0]
    if end > len(payload):
        raise ValueError("truncated RIFF payload")
    chunks, pos = {}, 12
    while pos + 8 <= end:
        (length,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + length > end:
            raise ValueError(f"truncated {payload[pos : pos + 4]!r} chunk")
        chunks[payload[pos : pos + 4]] = (pos + 8, length)
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    fmt, fact = chunks.get(b"fmt "), chunks.get(b"fact")
    if fmt is None or b"data" not in chunks:
        raise ValueError("missing fmt /data chunk")
    if fmt[1] < 16 or (fact is not None and fact[1] < 4):
        raise ValueError("fmt or fact chunk too short")
    fields = struct.unpack_from("<HHIIHH", payload, fmt[0])
    if fact is None:
        return fields, None, chunks
    return fields, struct.unpack_from("<I", payload, fact[0])[0], chunks

def wav_decode(payload: bytes) -> tuple[bytes, int, int, int]:
    """Parse a RIFF/WAVE payload. Returns ``(samples, sample_rate,
    n_channels, bits_per_sample)`` with ``samples`` the raw PCM data
    bytes. Walks the chunk list generally (unknown chunks skipped
    with RIFF word alignment); raises ``ValueError`` on corrupt
    input and on out-of-scope shapes (non-PCM, non-8-bit)."""
    fmt, _n_fact, chunks = _riff_chunks(payload)
    off, length = chunks[b"data"]
    data = payload[off : off + length]
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
