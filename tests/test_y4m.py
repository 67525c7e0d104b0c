"""Y4M (YUV4MPEG2) decode: the codec-free REAL pixel path for S4.

VERDICT r4 item 3: make `read_video_files` produce genuine pixels end-to-end
with no codec library. These tests pin (a) the byte-exact header/frame
parse, (b) the integer-exact BT.601 YUV->BGR conversion, (c) the full
golden path: real Y4M bytes on disk -> binaryFile scan -> decode -> motion
detection finds the moving square, and (d) PERMISSIVE handling of corrupt
and truncated streams.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_video_analytics_flink_spark.operators.video import detect_motion_batch
from distributed_video_analytics_flink_spark.sources.video_files import (
    read_video_files,
    video_container_metadata,
)
from distributed_video_analytics_flink_spark.sources.y4m import (
    Y4MError,
    decode_y4m,
    encode_y4m,
    parse_y4m_header,
    probe_y4m,
)

# Y=16,U=V=128 decodes to exact BGR black; Y=235 to exact white (the BT.601
# limited-range anchors: (298*0+128)>>8 = 0, (298*219+128)>>8 = 255).
Y_BLACK, Y_WHITE, C_NEUTRAL = 16, 235, 128


def _square_planes(h, w, x0, side):
    """C420 planes: black background, white square at (8, x0)."""
    y = np.full((h, w), Y_BLACK, np.uint8)
    y[8 : 8 + side, x0 : x0 + side] = Y_WHITE
    u = np.full((h // 2, w // 2), C_NEUTRAL, np.uint8)
    return y, u, u.copy()


def test_header_parse_and_defaults():
    hdr = parse_y4m_header(b"YUV4MPEG2 W640 H480 F30000:1001 Ip A1:1 C420jpeg\nFRAME\n")
    assert (hdr.width, hdr.height) == (640, 480)
    assert hdr.fps == pytest.approx(30000 / 1001)
    assert hdr.colorspace == "420jpeg"
    assert hdr.frame_bytes == 640 * 480 * 3 // 2
    # no C tag -> spec default 420
    assert parse_y4m_header(b"YUV4MPEG2 W4 H4 F1:1\n").colorspace == "420"
    for bad in (b"JUNK", b"YUV4MPEG2 W0 H4 F1:1\n", b"YUV4MPEG2 W4 H4 Cwat\n"):
        with pytest.raises(Y4MError):
            parse_y4m_header(bad)


def test_bt601_anchor_values_and_roundtrip():
    y, u, v = _square_planes(16, 16, 4, 4)
    data = encode_y4m([(y, u, v)])
    hdr, frames = decode_y4m(data)
    [bgr] = list(frames)
    assert bgr.shape == (16, 16, 3)
    assert tuple(bgr[0, 0]) == (0, 0, 0)  # Y=16 -> exact black
    assert tuple(bgr[9, 5]) == (255, 255, 255)  # Y=235 -> exact white
    # a colored pixel: Y=81 U=90 V=240 is the BT.601 "red" triplet
    y2 = np.full((2, 2), 81, np.uint8)
    u2 = np.full((1, 1), 90, np.uint8)
    v2 = np.full((1, 1), 240, np.uint8)
    [red] = list(decode_y4m(encode_y4m([(y2, u2, v2)]))[1])
    b, g, r = (int(c) for c in red[0, 0])
    assert r > 230 and g < 30 and b < 30, (b, g, r)


def test_colorspaces_422_444_mono():
    # 444: planes used as-is
    y = np.full((4, 4), Y_WHITE, np.uint8)
    u = np.full((4, 4), C_NEUTRAL, np.uint8)
    data = (
        b"YUV4MPEG2 W4 H4 F1:1 C444\n"
        + b"FRAME\n"
        + y.tobytes()
        + u.tobytes()
        + u.tobytes()
    )
    [bgr] = list(decode_y4m(data)[1])
    assert (bgr == 255).all()
    # 422: half-width chroma
    u422 = np.full((4, 2), C_NEUTRAL, np.uint8)
    data = (
        b"YUV4MPEG2 W4 H4 F1:1 C422\n"
        + b"FRAME\n"
        + y.tobytes()
        + u422.tobytes()
        + u422.tobytes()
    )
    [bgr] = list(decode_y4m(data)[1])
    assert (bgr == 255).all()
    # mono: single plane, gray replicated to 3 channels
    data = b"YUV4MPEG2 W4 H4 F1:1 Cmono\n" + b"FRAME\n" + y.tobytes()
    [bgr] = list(decode_y4m(data)[1])
    assert (bgr == 255).all()


def test_truncated_tail_and_frame_cap():
    planes = [_square_planes(16, 16, 0, 4) for _ in range(3)]
    data = encode_y4m(planes)
    assert len(list(decode_y4m(data)[1])) == 3
    assert len(list(decode_y4m(data, max_frames=2)[1])) == 2
    # chop mid-frame: the partial frame is dropped, earlier ones survive
    assert len(list(decode_y4m(data[:-10])[1])) == 2


def test_probe_y4m():
    data = encode_y4m([_square_planes(32, 48, 0, 8)] * 5, fps=(25, 1))
    meta = probe_y4m(data)
    assert meta == {
        "duration_s": 0.2,
        "width": 48.0,
        "height": 32.0,
        "n_frames": 5,
        "codec": "y4m/420jpeg",
        "fps": 25.0,
    }


def test_y4m_through_motion_pipeline_golden(spark, tmp_path):
    """End-to-end on genuine video bytes: a 640x480 Y4M with a white square
    that jumps 96px per frame (farther than its own width, so the frame
    diff leaves two disjoint regions: the vacated and the newly-covered
    square) -> read_video_files -> detect_motion_batch."""
    side, h, w = 48, 480, 640
    xs = [96 * i for i in range(5)]
    frames = [_square_planes(h, w, x, side) for x in xs]
    (tmp_path / "cam7.y4m").write_bytes(encode_y4m(frames))

    df = read_video_files(spark, str(tmp_path), glob="*.y4m")
    rows = df.collect()
    assert len(rows) == 5
    assert {r["camId"] for r in rows} == {"cam7"}
    assert all(r["rows"] == 480 and r["cols"] == 640 for r in rows)

    out = detect_motion_batch(df).orderBy("ts_us").collect()
    assert [r["detection_count"] for r in out] == [0, 2, 2, 2, 2]
    for prev_x, new_x, r in zip(xs, xs[1:], out[1:]):
        old_box, new_box = sorted(r["motion_boxes"], key=lambda b: b["x"])
        for box, x in ((old_box, prev_x), (new_box, new_x)):
            assert box["y"] == pytest.approx(8, abs=3)
            assert box["x"] == pytest.approx(x, abs=3)
            assert box["w"] == pytest.approx(side, abs=6)
            assert box["h"] == pytest.approx(side, abs=6)


def test_y4m_resize_path(spark, tmp_path):
    """A 320x240 Y4M is bicubic-resized to the 640x480 pipeline dims inside
    the source (the producer's resize step, VideoEventCreator.java:75)."""
    (tmp_path / "small.y4m").write_bytes(
        encode_y4m([_square_planes(240, 320, 32, 24)])
    )
    [row] = read_video_files(spark, str(tmp_path), glob="*.y4m").collect()

    px = np.frombuffer(bytes(row["data"]), np.uint8).reshape(480, 640, 3)
    # the square (y 8..32, x 32..56 at 240x320) doubles to (y 16..64,
    # x 64..112); sample its interior and the far background
    assert (px[40, 88] > 200).all()
    assert (px[400, 600] < 30).all()


def test_metadata_scan_covers_y4m(spark, tmp_path):
    (tmp_path / "a.y4m").write_bytes(encode_y4m([_square_planes(32, 48, 0, 8)] * 4))
    (tmp_path / "junk.y4m").write_bytes(b"YUV4MPEG2 Wnope\n")
    meta = {
        r["camId"]: r
        for r in video_container_metadata(spark, str(tmp_path), glob="*.y4m").collect()
    }
    assert meta["a"]["codec"] == "y4m/420jpeg"
    assert meta["a"]["n_frames"] == 4
    assert meta["a"]["width"] == 48.0
    assert meta["junk"]["codec"] is None  # corrupt header -> nulls, no failure


def test_y4m_python_datasource(spark, tmp_path):
    """Spark 4 Python Data Source: spark.read.format('y4m') yields the
    same frame rows as read_video_files (one partition per file,
    decode on the partition) and feeds the motion pipeline unchanged."""
    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    side, h, w = 48, 480, 640
    frames = [_square_planes(h, w, 96 * i, side) for i in range(5)]
    (tmp_path / "cam7.y4m").write_bytes(encode_y4m(frames))
    (tmp_path / "cam8.y4m").write_bytes(encode_y4m(frames[:3]))

    register_sources(spark)
    df = spark.read.format("y4m").load(str(tmp_path))
    assert df.rdd.getNumPartitions() == 2  # one per file
    rows = df.collect()
    assert {(r["camId"]) for r in rows} == {"cam7", "cam8"}
    assert len(rows) == 8

    # byte-identical to the binaryFile+mapInPandas path
    via_files = read_video_files(spark, str(tmp_path), glob="*.y4m").collect()
    key = lambda r: (r["camId"], r["timestamp"], r["rows"], r["cols"], r["data"])
    assert sorted(map(key, rows)) == sorted(map(key, via_files))

    # and straight into the detector
    out = detect_motion_batch(df).filter(F.col("camId") == "cam7").orderBy("ts_us")
    assert [r["detection_count"] for r in out.collect()] == [0, 2, 2, 2, 2]

    # maxFramesPerFile option caps the per-file scan
    capped = spark.read.format("y4m").option("maxFramesPerFile", 2).load(str(tmp_path))
    assert capped.count() == 4
