"""The mixed-corpus payload policy, without Spark: the per-payload
dispatcher behind ``decode_any_metadata`` turns every undecodable
payload into its unified-schema row, and lets every error that is not a
codec error through."""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from airflow_etl_pyspark_inmet_spark.operators import png
from airflow_etl_pyspark_inmet_spark.operators.audio import _wav_bytes
from airflow_etl_pyspark_inmet_spark.operators.avi import _avi_bytes
from airflow_etl_pyspark_inmet_spark.operators.multimodal import (
    _decode_any,
    _png_bytes,
)

ENCODERS = {
    "png": lambda doc_id, text: _png_bytes(text),
    "wav": _wav_bytes,
    "avi": _avi_bytes,
}


@settings(max_examples=300, deadline=None)
@given(
    modality=st.sampled_from(sorted(ENCODERS)),
    doc_id=st.integers(min_value=0, max_value=2**31),
    text=st.text(max_size=300),
    data=st.data(),
)
def test_truncated_payload_decodes_to_a_unified_row(modality, doc_id, text, data):
    """Any prefix of a valid PNG, WAV or AVI payload yields a row of the
    unified schema: its own modality when the codec still decodes it,
    else the 'unknown' row carrying the byte length."""
    full = ENCODERS[modality](doc_id, text)
    cut = data.draw(st.integers(min_value=0, max_value=len(full)))
    row = _decode_any(full[:cut])
    assert len(row) == 4 and all(type(v) is int for v in row[1:])
    assert row[0] in (modality, "unknown")
    if row[0] == "unknown":
        assert row == ("unknown", 0, cut, 0)
    if cut == len(full):
        assert row[0] == modality


def test_zero_rate_wav_is_undecodable():
    data = bytearray(_wav_bytes(1, "AB"))
    struct.pack_into("<I", data, 24, 0)  # fmt chunk: nSamplesPerSec
    assert _decode_any(bytes(data)) == ("unknown", 0, len(data), 0)


def test_non_codec_error_propagates(monkeypatch):
    def broken_decode(payload: bytes):
        raise RuntimeError("decoder bug")

    monkeypatch.setattr(png, "png_decode", broken_decode)
    with pytest.raises(RuntimeError, match="decoder bug"):
        _decode_any(_png_bytes("AB"))
