"""REAL audio-column kernels over opaque ``binary`` payloads: WAV/RIFF
encode, header parse, PCM decode, and frame sampling — all through the
same Arrow-batched harness as the image path
(:func:`.multimodal._map_payloads`), with the stdlib ``wave`` module as
the codec (no third-party audio library needed, so nothing here is
stubbed).

Mirror of the m6 PNG pattern (reference has no audio path; this is part
of the training-data-pipeline extension surface): payloads are
manufactured from the text corpus by pure character arithmetic
(:func:`text_to_wav_payload`), every downstream quantity — frame count,
sample rate, duration, PCM sum, sampled frame values — is then
predictable by a SQL oracle without any codec, and a hash match
certifies the encode -> RIFF parse -> PCM decode round-trip bit-exactly.

Scale shape: payloads never shuffle — each kernel is map-only over
(id, payload) partitions and emits fixed-width metadata/feature rows.
The same contract carries a real MFCC or embedding extractor at 100 TB.
"""

from __future__ import annotations

import io
import wave

import numpy as np
from pyspark.sql import DataFrame

from .multimodal import _encode_payloads, _map_payloads

# Frames per payload cap, and the per-doc sample-rate rule. The rate
# varies with doc_id so a hash-green run proves the header FIELDS are
# parsed (data-dependent), not just constants echoed back.
MAX_FRAMES = 64
RATE_BASE = 8000
RATE_STEP = 4000
RATE_MOD = 4


def _rate_for(doc_id: int) -> int:
    return RATE_BASE + (doc_id % RATE_MOD) * RATE_STEP


def is_wav(payload: bytes) -> bool:
    return payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"


def _encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """16-bit little-endian PCM mono RIFF/WAVE via the stdlib writer
    (the package's one WAV writer)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def _read_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """(sample rate, int16 samples) of one 16-bit PCM mono WAV via the
    stdlib parser — the package's one WAV reader. A zero sample rate is
    rejected like any other malformed header."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        raw = w.readframes(w.getnframes())
    if not rate:
        raise wave.Error("zero sample rate")
    return rate, np.frombuffer(raw, dtype="<i2")


def _wav_bytes(doc_id: int, text: str | None) -> bytes:
    """The WAV of one row: frame ``i`` = ``((codepoint_i & 0xFF) - 128)
    * 256`` over the first :data:`MAX_FRAMES` characters, at
    :func:`_rate_for` ``(doc_id)`` Hz."""
    vals = [((ord(c) & 0xFF) - 128) * 256 for c in (text or "")[:MAX_FRAMES]]
    return _encode_wav(np.array(vals, dtype=np.int16), _rate_for(doc_id))


def text_to_wav_payload(df: DataFrame) -> DataFrame:
    """Deterministic WAV per row (:func:`_wav_bytes`): no padding — the
    frame count is ``min(len(text), 64)``, so it is a REAL
    data-dependent quantity the parser must recover from the header.
    Sample rate is ``8000 + (doc_id % 4) * 4000`` Hz."""
    return _encode_payloads(df, _wav_bytes)


def _wav_stats(payload: bytes) -> tuple[int, int, int, int]:
    """(frame count, sample rate, duration in us, PCM sum) of one WAV."""
    rate, samples = _read_wav(payload)
    n = len(samples)
    return n, rate, n * 1_000_000 // rate, int(samples.sum())


def wav_audio_stats(df: DataFrame) -> DataFrame:
    """REAL audio metadata + feature extraction: stdlib RIFF parse for
    (frame count, sample rate), integer microsecond duration derived
    from those fields, and the exact PCM sample sum from the decoded
    int16 stream. Raises on non-WAV payloads — this is the strict
    verification tail (the mixed-modality don't-fail-the-batch policy
    lives in the dispatching callers, like resize_images)."""
    return _map_payloads(
        df,
        "payload",
        lambda _, p: [_wav_stats(p)],
        "doc_id bigint, n_frames bigint, sample_rate int, "
        "duration_us bigint, pcm_sum bigint",
    )


def wav_frame_sample(df: DataFrame, every_n: int = 16) -> DataFrame:
    """REAL frame sampler (the explode-shaped video/audio contract that
    :func:`.multimodal.frame_sample_stub` stubs): decode the PCM stream
    and emit one row per sampled frame — (doc_id, frame_idx, sample) for
    frames 0, every_n, 2*every_n, ... Payloads stay on the map side;
    only fixed-width sampled rows come out."""

    def rows(_, payload: bytes) -> list[tuple[int, int]]:
        samples = _read_wav(payload)[1]
        return [(i, int(samples[i])) for i in range(0, len(samples), every_n)]

    return _map_payloads(
        df, "payload", rows, "doc_id bigint, frame_idx int, sample int"
    )


def wav_energy_windows(df: DataFrame, win: int = 16) -> DataFrame:
    """REAL windowed audio-energy features: decode the full PCM stream
    and emit one row per non-overlapping ``win``-frame window with its
    exact integer energy (sum of squared int16 samples) — the
    silence-detection / loudness-gating primitive of an audio data
    pipeline (VAD pre-filters, clipping detection, energy-based
    segment selection). A trailing partial window is emitted with its
    true frame count.

    Same shape contract as :func:`wav_frame_sample`: payloads stay on
    the map side, only fixed-width window rows come out (explode
    bounded by n_frames/win). Squares of int16 fit int64 with 2^21
    headroom per 16-frame window, so the energy is exact and an SQL
    oracle replays it from character arithmetic."""

    def rows(_, payload: bytes) -> list[tuple[int, int, int]]:
        samples = _read_wav(payload)[1].astype(np.int64)
        chunks = [samples[i : i + win] for i in range(0, len(samples), win)]
        return [(k, len(c), int((c * c).sum())) for k, c in enumerate(chunks)]

    return _map_payloads(
        df,
        "payload",
        rows,
        "doc_id bigint, win_idx int, n_frames int, energy bigint",
    )


def wav_autocorr(
    df: DataFrame, lags: tuple[int, ...] = (1, 2, 4, 8)
) -> DataFrame:
    """REAL lag-autocorrelation features over the decoded PCM stream:
    for each requested lag L emit ``sum_i s[i] * s[i+L]`` as an exact
    int64 — the periodicity/pitch-detection primitive of an audio
    pipeline (voiced/unvoiced gating, hum detection, resample sanity).
    One row per (doc, lag), including ``n_terms = 0`` rows for clips
    shorter than the lag, so the output cardinality is
    ``docs x len(lags)`` exactly.

    Shape contract as :func:`wav_energy_windows`: payloads never leave
    the map side; products of int16 samples are <= 2^30 and at most 63
    are summed, so the statistic is exact in int64 and an SQL oracle
    replays it from character arithmetic."""

    def rows(_, payload: bytes) -> list[tuple[int, int, int]]:
        samples = _read_wav(payload)[1].astype(np.int64)
        out = []
        for lag in lags:
            n = max(len(samples) - lag, 0)
            # slice with [:n], NOT [:-lag]: at lag=0 the latter is
            # samples[:-0] == empty, silently reporting autocorr=0 for
            # the signal's energy
            ac = int((samples[:n] * samples[lag:]).sum()) if n > 0 else 0
            out.append((lag, n, ac))
        return out

    return _map_payloads(
        df,
        "payload",
        rows,
        "doc_id bigint, lag int, n_terms int, autocorr bigint",
    )
