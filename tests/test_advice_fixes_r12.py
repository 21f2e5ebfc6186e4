"""Pins for the round-11 ADVICE findings fixed in round 12:
LUT-cache cap (jpeg), non-local-scheme sizing (util._input_bytes),
streaming pass-through (util.fan_out), and the conf-reset try/finally
in tools/experiment_confs.py (covered by code review; the first three
are behavior and pinned here)."""

from __future__ import annotations

from hybrid_data_lakehouse_lab_spark.operators import jpeg
from hybrid_data_lakehouse_lab_spark.operators.util import _input_bytes, fan_out


def test_decode_lut_cache_is_capped():
    jpeg._DECODE_LUT_CACHE.clear()
    bits = [1] + [0] * 15  # one 1-bit code; the value byte varies the key
    for i in range(jpeg._DECODE_LUT_CACHE_MAX + 8):
        jpeg._build_decode_lut(bits, bytes([i]))
    assert len(jpeg._DECODE_LUT_CACHE) <= jpeg._DECODE_LUT_CACHE_MAX
    jpeg._DECODE_LUT_CACHE.clear()


def test_lut_cache_hit_returns_same_table():
    jpeg._DECODE_LUT_CACHE.clear()
    bits = [1] + [0] * 15
    a = jpeg._build_decode_lut(bits, b"\x05")
    b = jpeg._build_decode_lut(bits, b"\x05")
    assert a is b
    jpeg._DECODE_LUT_CACHE.clear()


def test_input_bytes_remote_scheme_returns_none(tmp_path, monkeypatch):
    assert _input_bytes(["s3a://bucket/part-0.parquet"]) is None
    assert _input_bytes(["hdfs://nn/part-0.parquet"]) is None
    # a one-letter scheme is a Windows drive letter, sized as a local
    # path — not refused as remote (here a relative dir named "C:")
    monkeypatch.chdir(tmp_path)
    (tmp_path / "C:" / "data").mkdir(parents=True)
    (tmp_path / "C:" / "data" / "x.bin").write_bytes(b"12345")
    assert _input_bytes(["C:/data/x.bin"]) == 5
    assert _input_bytes(["C:/data/missing.bin"]) is None


def test_fan_out_passes_streaming_frames_through(spark):
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    out = fan_out(stream)
    assert out is stream
