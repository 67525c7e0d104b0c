"""FileStreamReader: spark.readStream over a growing directory of video
files — the Structured-Streaming leg of the per-file Data Sources (the
engine's file-replay analog of the reference's continuous Kafka frame
ingest). Pins:

1. **Offset tracking across restarts** — two availableNow runs sharing a
   checkpoint: the first consumes the initial files, the second consumes
   ONLY the file added in between (no re-emission, no loss).
2. **Batch/stream parity** — the stream emits byte-identical wire rows
   to the batch reader for the same files.
3. **Empty-dir start** — a stream may legally begin on an empty
   directory (the batch reader errors there by design).
4. **MJPEG through the stream** — the codec dispatch is below the
   reader, so compressed files stream identically.
"""

from __future__ import annotations

import numpy as np

from distributed_video_analytics_flink_spark.sources.avi import encode_avi
from distributed_video_analytics_flink_spark.sources.datasources import (
    register_sources,
)
from tests.test_avi import _bgr_square_frames


def _run_available_now(spark, src_dir, ckpt, out):
    """One availableNow pass into a parquet sink (the memory sink cannot
    recover from a checkpoint); returns ALL rows accumulated in the sink
    so far."""
    q = (
        spark.readStream.format("avi")
        .load(str(src_dir))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    import os

    if not os.path.isdir(out) or not any(
        n.endswith(".parquet") for n in os.listdir(out)
    ):
        return []
    return spark.read.schema(
        "camId string, timestamp timestamp, rows int, cols int, type int, data binary"
    ).parquet(str(out)).collect()


def test_stream_resumes_from_checkpoint_without_reemission(spark, tmp_path):
    register_sources(spark)
    src = tmp_path / "cams"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    (src / "cam1.avi").write_bytes(encode_avi(_bgr_square_frames(16, 16, [0, 4], 6)))
    (src / "cam2.avi").write_bytes(encode_avi(_bgr_square_frames(16, 16, [0], 6)))

    out = tmp_path / "out"
    rows1 = _run_available_now(spark, src, ckpt, out)
    assert {r.camId for r in rows1} == {"cam1", "cam2"} and len(rows1) == 3

    # a new (lexicographically later) file arrives; resume from checkpoint:
    # the sink accumulates, so the DELTA must be exactly cam3 — nothing
    # re-emitted, nothing lost
    (src / "cam3.avi").write_bytes(
        encode_avi(_bgr_square_frames(16, 16, [0, 4, 8], 6))
    )
    rows2 = _run_available_now(spark, src, ckpt, out)
    assert len(rows2) == 6
    delta = sorted((r.camId, r.timestamp) for r in rows2)
    for key in sorted((r.camId, r.timestamp) for r in rows1):
        delta.remove(key)
    assert {c for c, _ in delta} == {"cam3"} and len(delta) == 3


def test_stream_rows_match_batch_reader(spark, tmp_path):
    register_sources(spark)
    src = tmp_path / "cams"
    src.mkdir()
    (src / "cama.avi").write_bytes(
        encode_avi(_bgr_square_frames(32, 48, [0, 8], 8))
    )
    (src / "camb.avi").write_bytes(
        encode_avi(_bgr_square_frames(32, 48, [16], 8), codec="mjpeg", quality=100)
    )
    batch = {tuple(r) for r in spark.read.format("avi").load(str(src)).collect()}
    stream = {
        tuple(r)
        for r in _run_available_now(spark, src, tmp_path / "ck", tmp_path / "out")
    }
    assert stream == batch and len(batch) == 3


def test_streaming_motion_over_streamed_video_files(spark, tmp_path):
    """The full reference topology on REAL video bytes, end to end in
    streaming: a directory of AVI files (one raw, one MJPEG) ->
    readStream('avi') -> stateful motion detection
    (applyInPandasWithState) -> identical detections to the batch
    pipeline over the same files."""
    from distributed_video_analytics_flink_spark.operators.video import (
        detect_motion_batch,
    )
    from distributed_video_analytics_flink_spark.streaming.motion import (
        detect_motion_stream,
    )

    register_sources(spark)
    src = tmp_path / "cams"
    src.mkdir()
    side, h, w = 48, 480, 640
    frames = _bgr_square_frames(h, w, [96 * i for i in range(5)], side)
    (src / "camraw.avi").write_bytes(encode_avi(frames))
    (src / "camjpg.avi").write_bytes(encode_avi(frames, codec="mjpeg", quality=100))

    out = detect_motion_stream(spark.readStream.format("avi").load(str(src)))
    q = (
        out.writeStream.format("memory")
        .queryName("stream_motion_avi")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    got = {
        (r.camId, r.ts_us, r.detection_count, tuple(sorted(map(tuple, r.motion_boxes))))
        for r in spark.sql("SELECT * FROM stream_motion_avi").collect()
    }
    want = {
        (r.camId, r.ts_us, r.detection_count, tuple(sorted(map(tuple, r.motion_boxes))))
        for r in detect_motion_batch(
            spark.read.format("avi").load(str(src))
        ).collect()
    }
    assert got == want and len(got) == 10
    per_cam = {}
    for cam, ts, det, _boxes in sorted(got):
        per_cam.setdefault(cam, []).append(det)
    assert per_cam == {"camraw": [0, 2, 2, 2, 2], "camjpg": [0, 2, 2, 2, 2]}


def test_stream_starts_on_empty_dir(spark, tmp_path):
    register_sources(spark)
    src = tmp_path / "cams"
    src.mkdir()
    rows = _run_available_now(spark, src, tmp_path / "ck0", tmp_path / "out0")
    assert rows == []
    # and picks the first file up on the next run
    (src / "cam1.avi").write_bytes(encode_avi(_bgr_square_frames(16, 16, [0], 6)))
    rows2 = _run_available_now(spark, src, tmp_path / "ck0", tmp_path / "out0")
    assert len(rows2) == 1


def test_corrupt_file_yields_zero_rows_not_task_failure(spark, tmp_path):
    """r10 review follow-up: one corrupt file in a directory must not
    fail the whole format('y4m'/'avi') scan — the binaryFile path
    tolerates it, so the Data Source paths must too (the container
    table's ``permissive`` in sources/video_files.py). The corrupt file
    contributes zero rows."""
    from distributed_video_analytics_flink_spark.sources.avi import encode_avi
    from distributed_video_analytics_flink_spark.sources.y4m import encode_y4m
    from tests.test_y4m import _square_planes

    import numpy as np

    (tmp_path / "good.y4m").write_bytes(
        encode_y4m([_square_planes(48, 64, 0, 16)])
    )
    (tmp_path / "junk.y4m").write_bytes(b"YUV4MPEG2 garbage-no-newline")
    register_sources(spark)
    rows = spark.read.format("y4m").load(str(tmp_path)).collect()
    assert {r["camId"] for r in rows} == {"good"}

    f = np.zeros((16, 16, 3), np.uint8)
    (tmp_path / "good.avi").write_bytes(encode_avi([f]))
    (tmp_path / "junk.avi").write_bytes(b"RIFF\x10\x00\x00\x00AVI LIST")
    rows = spark.read.format("avi").load(str(tmp_path)).collect()
    assert {r["camId"] for r in rows} == {"good"}
