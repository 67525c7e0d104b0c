"""In-process layer timings for the traced run.

``sources`` and ``functions`` run inside Spark's Python workers, where the
JVM's CPU counters cannot see them, so the traced run times their public
entry points in the benchmark process on a sample of frames: the
workload's own files and frames where it has them (archive_backfill's
AVIs, live_cameras' frames), otherwise a small seeded MJPEG archive.
"""

from __future__ import annotations

import os
import time

from common import median

SAMPLE_FILES = 2
SAMPLE_FRAMES = 16
ONE_CORE_WARMUP_FRAMES = 8  # per camera; the JVM is warm, the new context is not


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, (time.perf_counter() - t) * 1000.0


def in_process(ctx, workload: str) -> dict:
    import inputs

    from distributed_video_analytics_flink_spark.functions.motion import (
        motion_boxes_from_gray,
        preprocess_gray,
    )
    from distributed_video_analytics_flink_spark.sources.video_files import (
        decode_chunk_to_pixels,
        iter_chunk_rows,
    )

    tracer = ctx.tracer
    src = os.path.join(ctx.work, "archive")
    if workload != "archive_backfill":
        src = os.path.join(ctx.work, "sample")
        inputs.archive(ctx.seed, src, n_cams=SAMPLE_FILES, frames_per_cam=SAMPLE_FRAMES)
    files = sorted(os.listdir(src))[:SAMPLE_FILES]
    demux, decode, frames = [], [], []
    with tracer.span("sources sample", "sources"):
        for name in files:
            with open(os.path.join(src, name), "rb") as fh:
                raw = fh.read()
            cam = name.split(".")[0]
            rows, ms = _timed(lambda: list(iter_chunk_rows(
                raw, cam, inputs.ARCHIVE_ROWS, inputs.ARCHIVE_COLS, SAMPLE_FRAMES)))
            demux.append(ms)
            expect: dict = {}
            for _cam, _ts, sr, sc, r, c, codec, chunk in rows:
                pix, ms = _timed(decode_chunk_to_pixels, expect, cam, sr, sc, r, c,
                                 codec, chunk)
                decode.append(ms)
                frames.append((pix, r, c))
    if workload == "live_cameras":
        pool = inputs.live_pool(ctx.seed, rows=ctx.live_rows, cols=ctx.live_cols)
        frames = [(f.tobytes(), pool.rows, pool.cols)
                  for cam in pool.cams for f in pool.frames[cam]]
    gray_ms, boxes_ms = [], []
    with tracer.span("functions sample", "functions"):
        prev = None
        for pix, r, c in frames:
            g, ms = _timed(preprocess_gray, pix, r, c)
            gray_ms.append(ms)
            _, ms = _timed(motion_boxes_from_gray, prev, g, r, c)
            boxes_ms.append(ms)
            prev = g
    return {
        "sources.demux_ms_per_file": median(demux),
        "sources.jpeg_decode_ms_per_frame": median(decode),
        "functions.preprocess_gray_ms_per_frame": median(gray_ms),
        "functions.motion_boxes_ms_per_frame": median(boxes_ms[1:]),
    }


def backfill_one_core(ctx) -> float:
    """``archive_backfill`` frames per second with Spark at ``local[1]``
    (one task slot, one shuffle partition): the base of the scaling ratio
    ``backfill_fps / backfill_fps_1core``. One pass after a warm-up pass,
    in a fresh context on the same JVM."""
    import backfill
    import inputs

    from distributed_video_analytics_flink_spark.session import get_spark

    spark = ctx.spark
    spark.stop()
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        spark = ctx.spark = get_spark(app_name="perfbench-1core", master="local[1]")
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = cpus
    src = os.path.join(ctx.work, "archive")
    with ctx.tracer.span("backfill local[1]", "bench"):
        backfill.pipeline(spark, src, os.path.join(ctx.work, "warm-1core"),
                          inputs.ARCHIVE_ROWS, inputs.ARCHIVE_COLS, ONE_CORE_WARMUP_FRAMES)
        t = time.perf_counter()
        backfill.pipeline(spark, src, os.path.join(ctx.work, "results-1core"),
                          inputs.ARCHIVE_ROWS, inputs.ARCHIVE_COLS, ctx.archive_frames)
        dt = time.perf_counter() - t
    n = ctx.archive_cams * ctx.archive_frames
    return n / dt
