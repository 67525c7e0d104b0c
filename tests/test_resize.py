"""Tests for the pure-numpy bicubic resize (T5) and its DataFrame operator."""

from __future__ import annotations


import numpy as np
from pyspark.sql import functions as F

from distributed_video_analytics_flink_spark.functions.resize import (
    cubic_resize,
    resize_payload,
)
from distributed_video_analytics_flink_spark.operators.video import (
    detect_motion_batch,
    resize_frames,
)
from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA


def test_constant_image_is_fixed_point():
    frame = np.full((30, 40, 3), 123, dtype=np.uint8)
    out = cubic_resize(frame, 480, 640)
    assert out.shape == (480, 640, 3)
    assert (out == 123).all()


def test_same_size_is_identity():
    rng = np.random.default_rng(9)
    frame = rng.integers(0, 256, size=(48, 64, 3), dtype=np.uint8)
    assert np.array_equal(cubic_resize(frame, 48, 64), frame)


def test_linear_ramp_preserved_in_interior():
    """Bicubic reproduces polynomials up to degree 1 exactly (away from the
    clamped border)."""
    ramp = np.tile(np.arange(0, 200, 2, dtype=np.uint8), (20, 1))  # (20, 100)
    out = cubic_resize(ramp, 20, 200)
    expected = (np.arange(200) + 0.5) * 0.5 - 0.5  # half-pixel source coords
    expected = np.clip(np.rint(expected * 2), 0, 255)  # ramp value = 2 * x_src
    interior = slice(4, 196)
    assert np.abs(out[10, interior].astype(int) - expected[interior].astype(int)).max() <= 1


def test_downscale_antialiases_block():
    frame = np.zeros((64, 64), dtype=np.uint8)
    frame[16:48, 16:48] = 200
    out = cubic_resize(frame, 32, 32)
    assert out.shape == (32, 32)
    assert out[16, 16] == 200 and out[0, 0] == 0  # block center / far corner


def test_resize_payload_validation():
    assert resize_payload(b"xx", 8, 8) is None
    ok = np.full((8, 8, 3), 9, dtype=np.uint8).tobytes()
    resized = resize_payload(ok, 8, 8, 16, 16)
    assert len(resized) == 16 * 16 * 3


def test_resize_operator_composes_with_motion(spark):
    """Small native frames -> resize to 48x64 -> motion pipeline: the moved
    block is still detected after resampling (the reference's actual
    topology: capture -> resize -> detect)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i in range(3):
        frame = np.full((24, 32, 3), 50, dtype=np.uint8)
        if i >= 1:
            x0 = 4 + 6 * (i - 1)
            frame[4:16, x0 : x0 + 12, :] = 200
        rows.append(
            {
                "camId": "cam0",
                "timestamp": t0 + dt.timedelta(milliseconds=33 * i),
                "rows": 24,
                "cols": 32,
                "type": 16,
                "data": frame.tobytes(),
            }
        )
    native = spark.createDataFrame(rows, schema=FRAME_SCHEMA)
    resized = resize_frames(native, out_h=48, out_w=64)
    got = resized.select("rows", "cols", F.octet_length("data").alias("nb")).collect()
    assert all(r["rows"] == 48 and r["cols"] == 64 and r["nb"] == 48 * 64 * 3 for r in got)

    det = {
        (r["ts_us"] % 1_000_000) // 33_000: r["detection_count"]
        for r in detect_motion_batch(resized).collect()
    }
    assert det[0] == 0  # first frame: no previous
    assert det[1] >= 1  # block appears (scaled 2x: 24x24 block > 300 px)
