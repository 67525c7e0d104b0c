"""Streaming stateful motion detection (SURVEY.md §2.4 K2/K3).

The reference holds one ``ValueState<VideoFrameData> previousFrame`` per
camera inside a Flink ``KeyedProcessFunction`` (VideoProcessor.java:155-205)
and runs the CV chain against it on every arriving frame. The Spark twin is
``groupBy(camId).applyInPandasWithState`` over the same fold the batch
operator runs (functions/motion.py::fold_motion, fed by the same input
projection and pixel-row iterator in sources/video_files.py — a
micro-batch stream runs the batch job's operator code, as in Drizzle).
State = the previous frame's blurred gray plane (not raw BGR — a third of
the bytes, and gray is computed exactly once per frame). Each
micro-batch's group rows are sorted by timestamp before folding (the
reference relies on Kafka per-key arrival order; Spark micro-batches
guarantee no intra-batch order, so CV8's degenerate sort becomes real —
SURVEY.md §7.4.1/.5).

Semantics match the batch operator (operators/video.py::detect_motion_batch)
exactly on any frame sequence — pinned by the batch/streaming equivalence
tests (tests/test_streaming.py, tests/test_chunk_passthrough.py), the
property SURVEY.md §5.4 calls out because Flink folds record-at-a-time
while Spark folds batch-of-rows-at-a-time. One scope differs: chunk
input's per-camera expected dims live per group per micro-batch here, per
partition in batch — exact whenever the container declares dims (always,
for MJPEG-AVI).

Watermarking: the reference explicitly disables it
(``WatermarkStrategy.noWatermarks()``, VideoProcessor.java:74-78) so state
never expires; so does this operator (``NoTimeout``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from distributed_video_analytics_flink_spark.functions.motion import fold_motion
from distributed_video_analytics_flink_spark.schemas import (
    MOTION_ANNOTATED_SCHEMA,
    MOTION_SCHEMA,
)
from distributed_video_analytics_flink_spark.sources.video_files import (
    iter_pixel_rows,
    prepare_motion_input,
)

# State: previous frame's dims + blurred gray plane + event-time micros
# (fold_motion's carry value; checkpoints written with this layout resume).
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("rows", T.IntegerType()),
        T.StructField("cols", T.IntegerType()),
        T.StructField("gray", T.BinaryType()),
        T.StructField("ts_us", T.LongType()),
    ]
)


def detect_motion_stream(frames: DataFrame, annotate: bool = False) -> DataFrame:
    """Keyed stateful motion over an unbounded frame DataFrame (the parsed
    output of a streaming source: wire frames or ``videochunks``). The
    single shuffle is the groupBy on camId — Flink's keyBy
    (VideoProcessor.java:86)."""
    decoded, _ = prepare_motion_input(frames)
    schema = MOTION_ANNOTATED_SCHEMA if annotate else MOTION_SCHEMA

    def fold(key, pdfs, state):
        cam = key[0]
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("timestamp", kind="stable")
        carry = {cam: tuple(state.get)} if state.exists else {}
        out = pd.DataFrame(
            fold_motion(iter_pixel_rows(batch, {}), carry, annotate),
            columns=schema.names,
        )
        if cam in carry:  # absent only when every chunk was skipped
            state.update(carry[cam])
        yield out

    return decoded.groupBy("camId").applyInPandasWithState(
        fold, schema, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )
