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

import struct


def parse_audio_header(payload: bytes):
    """Return ``(fmt_tag, n_channels, sample_rate, bits_per_sample,
    data_bytes, n_samples)`` from RIFF headers only. Raises
    ``ValueError`` on non-RIFF input or a missing fmt/data chunk."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = fact_n = data_len = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt ":
            body = payload[pos + 8 : pos + 8 + ln]
            if len(body) < 16:
                raise ValueError("truncated fmt chunk body")
            tag, ch, rate, _br, align, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            fmt = (tag, ch, rate, align, bits)
        elif cid == b"fact":
            (fact_n,) = struct.unpack_from("<I", payload, pos + 8)
        elif cid == b"data":
            data_len = ln  # header only — the body is never read
        pos += 8 + ln + (ln % 2)  # RIFF word alignment
    if fmt is None or data_len is None:
        raise ValueError("RIFF stream missing fmt or data chunk")
    tag, ch, rate, align, bits = fmt
    if fact_n is None and align <= 0:
        raise ValueError("fmt chunk has block_align 0 and no fact chunk")
    n_samples = fact_n if fact_n is not None else data_len // align
    return (tag, ch, rate, bits, data_len, n_samples)
