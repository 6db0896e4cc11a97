"""The RIFF/WAVE audio family and the MJPG container: the pure-stdlib WAV
(RIFF PCM) codec behind the audio seam, the IMA ADPCM and G.711 codecs,
the header-only audio scan, the one chunk walker all four readers share
(truncated payloads must raise ``ValueError``), and the MJPG
length-prefixed video container's seek-skip frame sampling."""
from __future__ import annotations

import hashlib
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_engineer_interview_task_spark.functions.wav_codec import (
    WAV_SIGNATURE,
    wav_decode,
    wav_encode,
)
from data_engineer_interview_task_spark.operators import multimodal


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(0, 400),
    rate=st.sampled_from([8000, 16000, 44100]),
    nch=st.integers(1, 3),
    data=st.data(),
)
def test_wav_roundtrip(n, rate, nch, data):
    samples = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=n * nch, max_size=n * nch))
    )
    payload = wav_encode(samples, rate, nch)
    assert payload[:4] == WAV_SIGNATURE
    out, r, c, bits = wav_decode(payload)
    assert (out, r, c, bits) == (samples, rate, nch, 8)


def test_wav_skips_unknown_chunks_with_word_alignment():
    samples = bytes(range(100))
    payload = wav_encode(samples, 8000)
    # splice an odd-length LIST chunk (forcing the alignment pad) between
    # fmt and data: a correct walker skips it, a sloppy one desyncs
    fmt_end = payload.index(b"data")
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = payload[:fmt_end] + junk + payload[fmt_end:]
    spliced = (
        spliced[:4]
        + struct.pack("<I", len(spliced) - 8)
        + spliced[8:]
    )
    out, r, c, bits = wav_decode(spliced)
    assert out == samples and r == 8000


def test_wav_corruption_and_out_of_scope_fail_loudly():
    payload = wav_encode(bytes(64), 8000)
    with pytest.raises(ValueError):
        wav_decode(payload[:-9])
    with pytest.raises(ValueError):
        wav_decode(b"RIFX" + payload[4:])
    # non-PCM format code rejected, not misread
    fmt_pos = payload.index(b"fmt ") + 8
    nonpcm = bytearray(payload)
    nonpcm[fmt_pos] = 3  # IEEE float
    with pytest.raises(ValueError, match="non-PCM"):
        wav_decode(bytes(nonpcm))
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"ID3\x04mp3-ish payload")


def test_decode_audio_seam_dispatches_real_wav():
    samples = hashlib.sha256(b"audio").digest()
    out, r, c, bits = multimodal.decode_audio(wav_encode(samples, 16000))
    assert (out, r, c, bits) == (samples, 16000, 1, 8)


def test_mjpeg_container_sampling_decodes_only_every_kth(spark, sf_dir):
    rows = (
        multimodal.multimodal_mjpeg_frame_sample(spark, sf_dir)
        .filter("doc_id < 3")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {0, 1, 2}
    for doc_rows in by_doc.values():
        assert sorted(r.frame_idx for r in doc_rows) == [0, 2]
        for r in doc_rows:
            assert (r.width, r.height, r.n_px_bytes) == (16, 16, 256)
    # sampled frame 0 of the clip equals the single-image jpeg query's
    # decode (same digest bytes 0-3, same codec) for the same doc
    single = {
        r.doc_id: r.pixel_sha
        for r in multimodal.multimodal_jpeg_decode(spark, sf_dir)
        .filter("doc_id < 3")
        .collect()
    }
    for doc_id, doc_rows in by_doc.items():
        f0 = next(r for r in doc_rows if r.frame_idx == 0)
        assert f0.pixel_sha == single[doc_id]


# ----------------------------------------------- compressed audio + headers


def test_adpcm_roundtrip_matches_state_machine_replay():
    """The WAV container round-trip must equal a direct replay of the
    IMA quantize→reconstruct fold — random lengths (odd nibble counts
    exercise the pad), extreme samples exercise the int16 clamps, slow
    ramps exercise the index floor."""
    import random

    from data_engineer_interview_task_spark.functions.adpcm_codec import (
        INDEX_TABLE,
        STEP_TABLE,
        adpcm_decode_wav,
        adpcm_encode_wav,
    )

    def replay(samples):
        pred, idx = samples[0], 0
        recon = [pred]
        for s in samples[1:]:
            step = STEP_TABLE[idx]
            diff = s - pred
            ad = -diff if diff < 0 else diff
            b4 = 1 if ad >= step else 0
            r1 = ad - b4 * step
            b2 = 1 if r1 >= step // 2 else 0
            r2 = r1 - b2 * (step // 2)
            b1 = 1 if r2 >= step // 4 else 0
            diffq = step // 8 + b4 * step + b2 * (step // 2) + b1 * (step // 4)
            pred = pred - diffq if diff < 0 else pred + diffq
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + INDEX_TABLE[b4 * 4 + b2 * 2 + b1]))
            recon.append(pred)
        return recon

    rng = random.Random(5)
    cases = [
        [rng.randrange(-32768, 32768) for _ in range(n)]
        for n in (2, 3, 17, 128, 129)
    ]
    cases.append([-32768, 32767] * 40)      # clamp ping-pong
    cases.append(list(range(-60, 60)))      # slow ramp, index floor
    for samples in cases:
        payload = adpcm_encode_wav(samples)
        assert payload[:4] == b"RIFF" and b"fact" in payload
        assert adpcm_decode_wav(payload) == replay(samples)
    with pytest.raises(ValueError):
        adpcm_decode_wav(b"RIFF\x00\x00\x00\x00WAVEjunk")


def test_g711_fixed_points_and_reference_values():
    """Value-level fixed point decode∘encode∘decode == decode for every
    byte of both laws (the ±0 byte pair makes byte-level idempotence too
    strong for µ-law — 0xFF and 0x7F both decode to 0), plus the classic
    reference spot values from the CCITT tables and the WAV walk guards."""
    from data_engineer_interview_task_spark.functions.g711_codec import (
        alaw_decode_sample,
        alaw_decode_wav,
        alaw_encode_sample,
        alaw_encode_wav,
        mulaw_decode_sample,
        mulaw_decode_wav,
        mulaw_encode_sample,
        mulaw_encode_wav,
    )

    for b in range(256):
        r = mulaw_decode_sample(b)
        assert mulaw_decode_sample(mulaw_encode_sample(r)) == r
        r = alaw_decode_sample(b)
        assert alaw_decode_sample(alaw_encode_sample(r)) == r
    assert mulaw_encode_sample(0) == 0xFF
    assert mulaw_encode_sample(-1) == 0x7F
    assert mulaw_encode_sample(32635) == 0x80
    assert mulaw_encode_sample(-32768) == 0x00
    assert alaw_encode_sample(0) == 0xD5
    assert alaw_encode_sample(-1) == 0x55
    assert alaw_encode_sample(32767) == 0xAA
    assert alaw_encode_sample(-32768) == 0x2A

    import random

    rng = random.Random(2)
    samples = [rng.randrange(-32768, 32768) for _ in range(64)]
    assert mulaw_decode_wav(mulaw_encode_wav(samples)) == [
        mulaw_decode_sample(mulaw_encode_sample(s)) for s in samples
    ]
    assert alaw_decode_wav(alaw_encode_wav(samples)) == [
        alaw_decode_sample(alaw_encode_sample(s)) for s in samples
    ]
    with pytest.raises(ValueError):
        mulaw_decode_wav(alaw_encode_wav(samples))  # fmt tag mismatch
    with pytest.raises(ValueError):
        mulaw_encode_wav([])


def test_audio_header_parser_and_varying_shapes(spark, sf_dir):
    """Parser unit facts (error paths + the PCM no-fact fallback) plus
    operator non-vacancy: shapes must VARY across docs for every codec
    arm."""
    import pytest as _pytest

    from data_engineer_interview_task_spark.functions.audio_meta import (
        parse_audio_header,
    )
    from data_engineer_interview_task_spark.functions.wav_codec import (
        wav_encode,
    )
    from data_engineer_interview_task_spark.operators import multimodal

    # stereo PCM: no fact chunk -> frames from data_bytes // block_align
    assert parse_audio_header(wav_encode(b"\x00" * 10, 44100, 2)) == (
        1, 2, 44100, 8, 10, 5,
    )
    # malformed-chunk paths must surface as ValueError (ADVICE r10):
    # fmt body shorter than 16 bytes; PCM block_align 0 with no fact.
    short_fmt = (
        b"RIFF\x28\x00\x00\x00WAVE"
        + b"fmt \x08\x00\x00\x00" + b"\x01\x00\x02\x00\x44\xac\x00\x00"
        + b"data\x04\x00\x00\x00" + b"\x00" * 4
    )
    zero_align = (
        b"RIFF\x30\x00\x00\x00WAVE"
        + b"fmt \x10\x00\x00\x00"
        + b"\x01\x00\x02\x00\x44\xac\x00\x00\x10\xb1\x02\x00\x00\x00\x08\x00"
        + b"data\x04\x00\x00\x00" + b"\x00" * 4
    )
    for bad in (
        b"", b"RIFFxxxxWAV?", b"not audio at all", short_fmt, zero_align,
    ):
        with _pytest.raises(ValueError):
            parse_audio_header(bad)
    rows = multimodal.multimodal_audio_metadata(spark, sf_dir).collect()
    assert len(rows) == 4 * len({r.doc_id for r in rows})
    shapes = {}
    for r in rows:
        shapes.setdefault(r.codec, set()).add(
            (r.n_channels, r.sample_rate, r.n_samples)
        )
    assert set(shapes) == {"pcm", "adpcm", "ulaw", "alaw"}
    for codec, s in shapes.items():
        assert len(s) > 1, f"{codec} shapes constant — vacuous fixture"


def _cut_payloads():
    """One payload per RIFF writer, each paired with its decoder."""
    from data_engineer_interview_task_spark.functions.adpcm_codec import (
        adpcm_decode_wav,
        adpcm_encode_wav,
    )
    from data_engineer_interview_task_spark.functions.g711_codec import (
        alaw_decode_wav,
        alaw_encode_wav,
        mulaw_decode_wav,
        mulaw_encode_wav,
    )

    s16 = [((i * 2654435761) % 65536) - 32768 for i in range(80)]
    return [
        (wav_encode(bytes(range(80)), 8000), wav_decode),
        (adpcm_encode_wav(s16), adpcm_decode_wav),
        (mulaw_encode_wav(s16), mulaw_decode_wav),
        (alaw_encode_wav(s16), alaw_decode_wav),
    ]


@pytest.mark.parametrize("cut", [1, 2, 30, 45])
def test_truncated_riff_payload_fails_loudly_in_every_reader(cut):
    """A payload cut short must raise ``ValueError`` in its decoder and
    in the header-only scan — not decode a prefix of the samples, report
    the declared count, or leak an ``IndexError``/``struct.error``. A
    data chunk whose declared length runs past the RIFF size must too."""
    from data_engineer_interview_task_spark.functions.audio_meta import (
        parse_audio_header,
    )

    for payload, decode in _cut_payloads():
        decode(payload)
        parse_audio_header(payload)
        at = payload.index(b"data") + 4
        (n,) = struct.unpack("<I", payload[at : at + 4])
        overlong = payload[:at] + struct.pack("<I", n + 2) + payload[at + 4 :]
        for bad in (payload[:-cut], overlong):
            for read in (decode, parse_audio_header):
                with pytest.raises(ValueError):
                    read(bad)
