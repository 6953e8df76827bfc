"""Real multimodal kernel tests: the pure stdlib+numpy PNG codec and the
PNG-aware decode/resize operators, exercised end-to-end through Spark on
generated PNGs."""

from __future__ import annotations

import struct
import zlib

import numpy as np

from airflow_etl_pyspark_inmet_spark.operators import png as P
from airflow_etl_pyspark_inmet_spark.operators.multimodal import (
    decode_metadata,
    resize_images,
)


def _gradient(h, w, ch=3):
    y, x = np.mgrid[0:h, 0:w]
    if ch == 1:
        return ((x * 7 + y * 13) % 256).astype(np.uint8)
    return np.stack(
        [(x * 7 + y * 13 + c * 31) % 256 for c in range(ch)], axis=-1
    ).astype(np.uint8)


def test_png_roundtrip_rgb_gray_rgba():
    for arr in [
        _gradient(6, 8, 3),
        _gradient(5, 5, 1),
        _gradient(4, 7, 4),
    ]:
        data = P.png_encode(arr)
        assert P.is_png(data)
        w, h, depth, _ = P.png_header(data)
        assert (w, h, depth) == (arr.shape[1], arr.shape[0], 8)
        out = P.png_decode(data)
        np.testing.assert_array_equal(out, arr.squeeze())


def _encode_with_filters(arr: np.ndarray, filters: list[int]) -> bytes:
    """Forward-filter scanlines per the PNG spec (independent loop-based
    reimplementation, so the decoder is tested against the spec rather
    than against itself)."""
    h, w, nch = arr.shape
    stride = w * nch
    flat = arr.reshape(h, stride).astype(int)
    out = bytearray()
    for y in range(h):
        f = filters[y]
        out.append(f)
        prior = flat[y - 1] if y > 0 else np.zeros(stride, dtype=int)
        for x in range(stride):
            cur = flat[y][x]
            left = flat[y][x - nch] if x >= nch else 0
            up = prior[x]
            ul = prior[x - nch] if x >= nch else 0
            if f == 0:
                v = cur
            elif f == 1:
                v = cur - left
            elif f == 2:
                v = cur - up
            elif f == 3:
                v = cur - ((left + up) >> 1)
            else:  # 4 Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                v = cur - pred
            out.append(v & 0xFF)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    return (
        P.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filter_types():
    arr = _gradient(5, 6, 3)
    data = _encode_with_filters(arr, [0, 1, 2, 3, 4])
    np.testing.assert_array_equal(P.png_decode(data), arr)


def test_resize_nearest_pixel_center():
    arr = np.arange(16, dtype=np.uint8).reshape(4, 4)
    out = P.resize_nearest(arr, 2, 2)
    # pixel centers: src index floor((i+0.5)*2) = 1, 3
    np.testing.assert_array_equal(out, arr[[1, 3]][:, [1, 3]])


def test_decode_metadata_real_png_path(spark):
    blobs = [
        (1, bytearray(P.png_encode(_gradient(10, 20, 3)))),
        (2, bytearray(b"not an image at all")),
    ]
    df = spark.createDataFrame(blobs, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_metadata(df).collect()}
    assert (got[1].width, got[1].height, got[1].format) == (20, 10, "png")
    assert got[2].format == "fake"


def test_resize_images_real_kernel_through_spark(spark):
    src = _gradient(8, 6, 3)
    blobs = [
        (1, bytearray(P.png_encode(src))),
        (2, bytearray(b"plain text payload")),
    ]
    df = spark.createDataFrame(blobs, "doc_id long, payload binary")
    rows = {r.doc_id: r for r in resize_images(df, 4, 3).collect()}

    assert rows[1].kernel == "png"
    out = P.png_decode(bytes(rows[1].resized))
    np.testing.assert_array_equal(out, P.resize_nearest(src, 4, 3))
    assert (rows[1].width, rows[1].height) == (4, 3)

    assert rows[2].kernel == "stub"
    assert len(bytes(rows[2].resized)) == 4 * 3 // 8


def test_resize_images_partition_invariance(spark):
    """Same results at 1 and 5 partitions — the kernel is per-row pure."""
    blobs = [(i, bytearray(P.png_encode(_gradient(6 + i, 5, 3)))) for i in range(6)]
    df = spark.createDataFrame(blobs, "doc_id long, payload binary")
    a = sorted(
        (r.doc_id, bytes(r.resized))
        for r in resize_images(df.coalesce(1), 3, 3).collect()
    )
    b = sorted(
        (r.doc_id, bytes(r.resized))
        for r in resize_images(df.repartition(5), 3, 3).collect()
    )
    assert a == b


def test_mixed_modality_dispatch(spark):
    """The magic-number dispatcher must route each payload to its real
    decoder and pass unknown payloads through instead of failing."""
    from pyspark.sql import functions as F

    from airflow_etl_pyspark_inmet_spark.operators.multimodal import (
        decode_any_metadata,
        mixed_modality_payload,
    )

    rows = [(0, "AB"), (1, "AB"), (2, "AB")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in decode_any_metadata(mixed_modality_payload(df)).collect()
    }
    s2 = 65 + 66
    assert (got[0]["modality"], got[0]["dim_a"], got[0]["dim_b"]) == ("png", 8, 8)
    assert got[0]["content_sum"] == s2  # zero-padded 8x8 raster
    assert (got[1]["modality"], got[1]["dim_a"], got[1]["dim_b"]) == (
        "wav", 2, 12000)
    assert got[1]["content_sum"] == (s2 - 2 * 128) * 256
    assert (got[2]["modality"], got[2]["dim_a"], got[2]["dim_b"]) == (
        "avi", 1, 1_000_000 // 7)
    assert got[2]["content_sum"] == s2

    # unknown payloads: ('unknown', 0, byte length, 0), batch survives
    junk = df.select("doc_id", F.encode(F.lit("junkdata"), "UTF-8").alias("payload"))
    u = decode_any_metadata(junk).collect()[0]
    assert (u["modality"], u["dim_a"], u["dim_b"], u["content_sum"]) == (
        "unknown", 0, 8, 0)


def test_image_ahash_hand_computed(spark):
    """aHash bits from a known raster: text 'AB' -> pixels [65, 66, 0...],
    sum 131; bit i set iff v_i * 64 > 131 -> bits 0 and 1 only."""
    from airflow_etl_pyspark_inmet_spark.operators.multimodal import (
        image_ahash,
        text_to_png_payload,
    )

    df = spark.createDataFrame([(5, "AB")], "doc_id long, text string")
    r = image_ahash(text_to_png_payload(df)).collect()[0]
    assert (r["ahash_lo"], r["ahash_hi"]) == (0b11, 0)
