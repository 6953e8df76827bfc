"""Multimodal column plumbing: treat image/audio/video payloads as opaque
``binary`` columns with typed metadata, processed in Arrow-batched
``mapInPandas`` stages. Every kernel of the tier (here, in :mod:`.audio`
and in :mod:`.avi`) runs through one harness, :func:`_map_payloads`, and
is written as a per-row function.

Kernel tiers, chosen per payload at runtime:

1. REAL PNG path — payloads carrying the PNG magic are decoded by the
   stdlib+numpy codec in :mod:`.png` (8-bit gray/RGB/RGBA, the
   normalized-corpus subset). Exercised end-to-end in tests on
   generated PNGs.
2. STUB path — non-image payloads (e.g. the testdata's UTF-8 text blobs)
   get deterministic pseudo-metadata/pseudo-resize so the Spark plumbing
   (schema contract, Arrow batch iteration, binary round-trip, partition
   parallelism) is still fully testable and oracle-checkable.

Audio is REAL via the stdlib WAV/RIFF codec in :mod:`.audio` (header
parse, PCM decode, frame sampling — the m7/m8 chain), and video is REAL
via the uncompressed-AVI codec in :mod:`.avi` (RIFF chunk walk, DIB
frame decode — the m9/m10 chain). Every modality now has a real
end-to-end path; the stubs here remain only as the documented
mixed-corpus fallback for undecodable payloads.
"""

from __future__ import annotations

import struct
import wave
import zlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import png as _png
from .util import ensure_parallelism, lineage_checkpoint

DECODE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, width int, height int, format string"
)

# DDL type -> the pandas dtype its output column is built with, so every
# kernel, and every empty batch, hands Arrow the schema's own widths
_PANDAS_DTYPES = {
    "bigint": "int64",
    "int": "int32",
    "string": "object",
    "binary": "object",
}

# What the three codecs raise on a malformed payload: png_decode
# (ValueError, zlib.error), the stdlib WAV reader (wave.Error, and
# EOFError for a truncated chunk header), avi_decode (ValueError), and
# struct.error for a short fixed-size field. The mixed-corpus operators
# degrade these to a fallback row; any other error is a bug and fails
# the batch.
_CODEC_ERRORS = (ValueError, zlib.error, struct.error, wave.Error, EOFError)


def _map_payloads(
    df: DataFrame,
    in_col: str,
    row_fn: Callable[[int, object], Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """The tier's one ``mapInPandas``: ``row_fn(doc_id, value)`` returns
    the output rows, without their leading ``doc_id``, for one
    ``(doc_id, in_col)`` input row — one row for a stats kernel, n for
    an explode-shaped one. Payloads stay on the map side; only the
    ``schema`` rows leave it."""
    fields = [f.split() for f in schema.split(",")]
    names = [name for name, _ in fields]
    dtypes = {name: _PANDAS_DTYPES[ddl] for name, ddl in fields}

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (doc_id, *row)
                for doc_id, value in zip(pdf["doc_id"], pdf[in_col])
                for row in row_fn(doc_id, value)
            ]
            yield pd.DataFrame(rows, columns=names).astype(dtypes)

    return df.select("doc_id", in_col).mapInPandas(kernel, schema)


def _encode_payloads(
    df: DataFrame, encode: Callable[[int, str | None], bytes]
) -> DataFrame:
    """``(doc_id, payload)`` with ``payload = encode(doc_id, text)``: the
    shared shape of the builders that manufacture media from the text
    corpus, spread over the cluster's cores first (the encoders are the
    CPU-bound stage)."""
    return _map_payloads(
        ensure_parallelism(df.select("doc_id", "text")),
        "text",
        lambda doc_id, text: [(encode(doc_id, text),)],
        "doc_id bigint, payload binary",
    )


def with_binary_payload(df: DataFrame) -> DataFrame:
    """Attach a fake binary payload column (UTF-8 bytes of the text) —
    stands in for an image/audio blob column in the testdata, which has
    no true binary column."""
    return df.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


def _fake_decode(payload: bytes) -> tuple[int, int, int, str]:
    """STUB decode: deterministic pseudo-metadata from the byte length.
    Used for non-image payloads; PNG payloads take the real header
    parse in :func:`_decode_one`."""
    n = len(payload)
    return n, (n % 640) + 1, (n % 480) + 1, "fake"


def _decode_one(payload: bytes) -> tuple[int, int, int, str]:
    """Per-blob metadata: REAL for PNG (O(1) IHDR parse — width/height
    without touching pixel data), stub pseudo-metadata otherwise."""
    if _png.is_png(payload):
        try:
            w, h, _, _ = _png.png_header(payload)
            return len(payload), w, h, "png"
        except ValueError:
            return len(payload), 0, 0, "corrupt-png"
    return _fake_decode(payload)


def decode_metadata(df: DataFrame) -> DataFrame:
    """Arrow-batched decode: mapInPandas over (doc_id, payload)
    partitions. Output: typed metadata per blob."""
    return _map_payloads(
        ensure_parallelism(df.select("doc_id", "payload")),
        "payload",
        lambda _, p: [_decode_one(p)],
        DECODE_SCHEMA,
    )


def frame_sample_stub(df: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """STUB frame sampler: emits one row per sampled "frame" offset —
    the explode-shaped plumbing of frame extraction (1 input row ->
    n output rows) without a codec. Real versions of this contract are
    shipped: :func:`.audio.wav_frame_sample` (decoded PCM frames, m8)
    and :func:`.avi.avi_frame_sums` (decoded video frames, m10); this
    stub stays as the payload-agnostic fallback the m2 oracle checks."""
    return df.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    (F.length("payload") / every_n_bytes).cast("int") - 1, F.lit(0)
                ),
            )
        ).alias("frame_idx"),
    )


def extract_byte_histogram(df: DataFrame, buckets: int = 16) -> DataFrame:
    """Feature extraction over binary payloads: bucketed byte histogram
    (numpy bincount per payload) exploded to (doc_id, bucket, n) rows.
    Unlike the decode stub this is a REAL feature computation — byte
    histograms are a standard cheap signal for format sniffing and
    corruption detection — and it is exactly oracle-checkable. The same
    mapInPandas contract carries a CNN embedding or MFCC extractor at
    scale: payloads never shuffle; only (id, small-feature) rows do."""

    def rows(_, payload: bytes) -> list[tuple[int, int]]:
        counts = np.bincount(
            np.frombuffer(payload, dtype=np.uint8) % buckets, minlength=buckets
        )
        nz = np.nonzero(counts)[0]
        return list(zip(nz.tolist(), counts[nz].tolist()))

    return _map_payloads(
        ensure_parallelism(df.select("doc_id", "payload")),
        "payload",
        rows,
        "doc_id bigint, bucket int, n bigint",
    )


def _tile(payload: bytes, n: int) -> bytes:
    """The STUB resize payload: ``payload`` repeated, cut to ``n`` bytes."""
    return bytes((payload * (n // max(len(payload), 1) + 1))[:n])


def _resize_png(payload: bytes, target_w: int, target_h: int) -> bytes:
    """REAL resize kernel for one PNG blob: decode -> nearest-neighbor
    resample -> re-encode through the :mod:`.png` codec. Raises on PNGs
    outside its 8-bit gray/LA/RGB/RGBA subset — the caller decides the
    fallback policy."""
    arr = _png.png_decode(payload)
    return _png.png_encode(_png.resize_nearest(arr, target_w, target_h))


def resize_images(
    df: DataFrame, target_w: int = 32, target_h: int = 32
) -> DataFrame:
    """Image resize over a binary column: PNG payloads take the REAL
    decode->resample->encode kernel (:func:`_resize_png`); anything else
    falls back to the deterministic stub payload so mixed-modality
    corpora don't fail the batch. Output schema is identical to
    :func:`resize_stub` plus a ``kernel`` column recording which path
    each row took ('png' | 'stub') — the honest-labeling contract for a
    corpus where only some blobs are decodable images."""
    stub_len = target_w * target_h // 8

    def rows(_, payload: bytes) -> list[tuple[int, int, bytes, str]]:
        if _png.is_png(payload):
            try:
                resized = _resize_png(payload, target_w, target_h)
                return [(target_w, target_h, resized, "png")]
            except _CODEC_ERRORS:  # magic-valid but undecodable: stub
                pass
        return [(target_w, target_h, _tile(payload, stub_len), "stub")]

    return _map_payloads(
        df,
        "payload",
        rows,
        "doc_id bigint, width int, height int, resized binary, kernel string",
    )


def _png_bytes(text: str | None) -> bytes:
    """The 8x8 gray PNG of one text: pixel (y, x) = codepoint of
    character ``8*y + x`` masked to a byte, zero-padded past the end."""
    vals = [ord(c) & 0xFF for c in (text or "")[:64]]
    vals += [0] * (64 - len(vals))
    return _png.png_encode(np.array(vals, dtype=np.uint8).reshape(8, 8))


def text_to_png_payload(df: DataFrame) -> DataFrame:
    """Deterministic 8x8 grayscale PNG per row (:func:`_png_bytes`).
    This manufactures REAL image payloads from the text testdata so the
    real codec path is exercisable (and, because the pixel rule is pure
    character arithmetic, an SQL oracle can predict pixel-level results
    of downstream image ops without being able to produce PNG bytes)."""
    return _encode_payloads(df, lambda _, text: _png_bytes(text))


def _png_stats(payload: bytes) -> tuple[int, int, int]:
    """(width, height, pixel sum) of one decoded PNG."""
    arr = _png.png_decode(payload)
    h, w = arr.shape[:2]
    return w, h, int(arr.sum())


def png_pixel_stats(df: DataFrame) -> DataFrame:
    """Decode the ``resized`` PNG payloads and emit exact pixel
    statistics — the verification tail of the real-codec chain (encode
    -> resize -> decode must reproduce the pixels the resample math
    predicts)."""
    return _map_payloads(
        df,
        "resized",
        lambda _, p: [_png_stats(p)],
        "doc_id bigint, width int, height int, pixel_sum bigint",
    )


def resize_stub(
    df: DataFrame, target_w: int = 32, target_h: int = 32
) -> DataFrame:
    """STUB image resize: binary in -> binary out through mapInPandas,
    emitting a deterministic payload of target_w*target_h//8 bytes (the
    real-codec variant is :func:`resize_images`; this one keeps a fully
    payload-independent contract for the m5 oracle). Proves the
    binary-column round-trip: Arrow handles bytes in both directions, and
    the resized blob column is writable/joinable like any other."""
    out_len = target_w * target_h // 8
    return _map_payloads(
        df,
        "payload",
        lambda _, p: [(target_w, target_h, _tile(p, out_len))],
        "doc_id bigint, width int, height int, resized binary",
    )


def mixed_modality_payload(df: DataFrame) -> DataFrame:
    """Manufacture a MIXED-modality corpus: one binary column whose rows
    are real PNG (doc_id % 3 == 0), real WAV (== 1), or real AVI (== 2)
    payloads, each generated from the row's text by the single-modality
    builders' own encoders (m6/m7/m9) — the input shape of a production
    multimodal table, where one column carries whatever bytes arrived."""
    from .audio import _wav_bytes
    from .avi import _avi_bytes

    encoders = (lambda _, text: _png_bytes(text), _wav_bytes, _avi_bytes)
    return _encode_payloads(
        df, lambda doc_id, text: encoders[doc_id % 3](doc_id, text)
    )


def _decode_any(payload: bytes) -> tuple[str, int, int, int]:
    """One payload's unified row ``(modality, dim_a, dim_b,
    content_sum)``, decoded by the codec its magic number names through
    the strict kernels' own per-payload functions. A recognized magic
    with an undecodable body, like an unrecognized payload, degrades to
    ``('unknown', 0, byte length, 0)`` instead of failing the batch;
    errors outside :data:`_CODEC_ERRORS` propagate."""
    from .audio import _wav_stats, is_wav
    from .avi import _avi_stats, is_avi

    try:
        if _png.is_png(payload):
            return ("png", *_png_stats(payload))
        if is_wav(payload):
            n, rate, _, pcm_sum = _wav_stats(payload)
            return "wav", n, rate, pcm_sum
        if is_avi(payload):
            _, _, usec, n, pixel_sum = _avi_stats(payload)
            return "avi", n, usec, pixel_sum
    except _CODEC_ERRORS:
        pass
    return "unknown", 0, len(payload), 0


def decode_any_metadata(df: DataFrame) -> DataFrame:
    """Magic-number DISPATCH over a mixed binary column — the operator a
    real multimodal pipeline runs first: classify each payload (PNG /
    WAV / AVI / unknown) and run the matching REAL decoder
    (:func:`_decode_any`). Output is a unified schema: (modality, dim_a,
    dim_b, content_sum) where the dims/sum are format-specific but all
    fully decoded —

      png: width, height, pixel sum of the decoded raster
      wav: frame count, sample rate (header), PCM sample sum
      avi: frame count, usec-per-frame (header), all-frame pixel sum
      unknown payloads pass through as ('unknown', 0, byte length, 0)
      instead of failing the batch (the mixed-corpus contract)."""
    return _map_payloads(
        df,
        "payload",
        lambda _, p: [_decode_any(p)],
        "doc_id bigint, modality string, dim_a bigint, dim_b bigint, "
        "content_sum bigint",
    )


def _ahash(payload: bytes) -> tuple[int, int]:
    """(ahash_lo, ahash_hi) of one 8x8 PNG; see :func:`image_ahash`."""
    flat = _png.png_decode(payload).astype(np.int64).flatten()
    n = flat.size
    if n != 64:  # the documented 8x8 contract — anything else would
        # silently hash a prefix of the raster
        raise ValueError(f"image_ahash requires an 8x8 raster (64 px), got {n}")
    bits = (flat * n > int(flat.sum())).astype(np.uint64)
    shifts = np.arange(32, dtype=np.uint64)
    return int((bits[:32] << shifts).sum()), int((bits[32:] << shifts).sum())


def image_ahash(df: DataFrame) -> DataFrame:
    """REAL perceptual average-hash (aHash) over decoded images — the
    standard cheap image-dedup/near-dup signal: decode the PNG, compare
    every pixel against the image mean, pack the 64 bits (row-major) of
    the 8x8 raster. The mean compare is exact integers (pixel * n_pixels
    > pixel_sum — no float division), and the hash ships as two 32-bit
    halves (ahash_lo = bits 0-31, ahash_hi = bits 32-63, both
    non-negative) so no engine's signed-64 edge can bite. Raises on
    non-PNG payloads and on rasters that are not exactly 8x8 = 64 px
    (strict verification tail, like png_pixel_stats)."""
    return _map_payloads(
        df,
        "payload",
        lambda _, p: [_ahash(p)],
        "doc_id bigint, ahash_lo bigint, ahash_hi bigint",
    )


def ahash_neardup_pairs(
    hashes: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Image NEAR-dup pairs from aHash signatures — the approximate tier
    on top of :func:`image_ahash`'s exact groups: pairs whose 64-bit
    hashes differ in at most ``max_hamming`` bits. EXACT output with a
    provable candidate guarantee: the hash splits into 4 x 16-bit
    chunks, and by pigeonhole any pair at Hamming <= 3 shares at least
    one intact chunk — so the (chunk_idx, value) equi-join has recall 1
    for the emitted radius, and the bit_count verify removes every
    false positive. All JVM-side integer ops; the shuffle carries
    (doc, 2-byte chunk) rows, never payloads."""
    assert max_hamming <= 3, "4x16-bit banding guarantees recall only to 3"
    lo, hi = F.col("ahash_lo"), F.col("ahash_hi")
    chunks = hashes.select(
        "doc_id",
        "ahash_lo",
        "ahash_hi",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("c"), (lo.bitwiseAND(F.lit(0xFFFF))).alias("v")),
                F.struct(F.lit(1).alias("c"), (F.shiftright(lo, 16).bitwiseAND(F.lit(0xFFFF))).alias("v")),
                F.struct(F.lit(2).alias("c"), (hi.bitwiseAND(F.lit(0xFFFF))).alias("v")),
                F.struct(F.lit(3).alias("c"), (F.shiftright(hi, 16).bitwiseAND(F.lit(0xFFFF))).alias("v")),
            )
        ).alias("cv"),
    ).select("doc_id", "ahash_lo", "ahash_hi", "cv.c", "cv.v").transform(lineage_checkpoint)  # both self-join sides read this; without it the upstream decode
    # chain (payload gen + PNG decode) would execute once per side
    a = chunks.toDF("id_a", "lo_a", "hi_a", "c", "v")
    b = chunks.toDF("id_b", "lo_b", "hi_b", "c", "v")
    cand = (
        a.join(b, ["c", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "lo_a", "hi_a", "lo_b", "hi_b")
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    ).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def png_patchify(df: DataFrame, patch: int = 4) -> DataFrame:
    """ViT-style PATCH EXTRACTION over REAL decoded PNGs: decode each
    payload (the genuine inflate/un-filter kernel in operators.png) and
    emit one row per non-overlapping ``patch`` x ``patch`` block with
    its exact pixel sum — the image-side tokenization step of a
    multimodal training pipeline (each patch row is what an embedding
    lookup would consume; m13 counts these tokens, this op MATERIALIZES
    them with their spatial index).

    Arrow-batched mapInPandas, fan-out (h/patch)*(w/patch) rows per
    image — a column-stable explode, so partition counts scale with
    input splits and no state leaves the executor. Because the m6
    payload pixels are pure character arithmetic, an SQL oracle can
    predict every patch sum — a hash match certifies decode + spatial
    windowing bit-exactly."""
    p = int(patch)

    def rows(_, payload: bytes) -> list[tuple[int, int, int]]:
        arr = _png.png_decode(payload).astype(np.int64)
        h, w = arr.shape[:2]
        return [
            (pr, pc, int(arr[pr * p : (pr + 1) * p, pc * p : (pc + 1) * p].sum()))
            for pr in range(h // p)
            for pc in range(w // p)
        ]

    return _map_payloads(
        df,
        "payload",
        rows,
        "doc_id bigint, patch_row int, patch_col int, patch_sum bigint",
    )
