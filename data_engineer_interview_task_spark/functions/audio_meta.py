"""Header-only audio metadata scan — parse the RIFF/WAVE chunk list
(fmt / fact / data headers) WITHOUT touching a single sample byte: the
audio half of the manifest pass (``image_meta`` is the image half) a
curation pipeline runs before spending decode CPU.

Reads, per payload: the codec tag (1 = PCM, 6 = A-law, 7 = µ-law,
0x11 = IMA ADPCM), channel count, sample rate, bits per sample, the
data chunk's byte size (from its HEADER — the body is skipped), and
the frame count (the fact chunk when present — compressed formats
carry it — else ``data_bytes // block_align`` for PCM).

Plain module-level functions: the package registers itself
pickle-by-value (package ``__init__``), so a ``mapInPandas`` function
that references ``parse_audio_header`` runs on Spark python workers that
cannot import this repo.
"""
from __future__ import annotations

from .wav_codec import _riff_chunks


def parse_audio_header(payload: bytes):
    """Return ``(fmt_tag, n_channels, sample_rate, bits_per_sample,
    data_bytes, n_samples)`` from RIFF headers only. Raises
    ``ValueError`` on non-RIFF input or a missing fmt/data chunk."""
    (tag, ch, rate, _br, align, bits), fact_n, chunks = _riff_chunks(payload)
    data_len = chunks[b"data"][1]  # header only — the body is never read
    if fact_n is None and align <= 0:
        raise ValueError("fmt chunk has block_align 0 and no fact chunk")
    n_samples = fact_n if fact_n is not None else data_len // align
    return (tag, ch, rate, bits, data_len, n_samples)
