"""Streaming sources (SURVEY.md §2.1 S1-S4).

The reference consumes base64-JSON ``VideoFrameData`` from Kafka with a
regex pattern subscription that dynamically discovers per-camera topics
(``VideoProcessor.java:106-141``). Spark's Kafka source subsumes the whole
control-plane scaler module (§2.8): ``subscribePattern`` discovers topics,
key-partitioning load-balances cameras, and no ZooKeeper coordination is
needed.

No Kafka broker exists in this container, so ``kafka_frame_stream`` is the
production builder (exercised for plan construction only) and the tested
paths are the file-replay source (deterministic micro-batches for CI /
golden tests) and the rate-source synthetic generator (throughput work).

Every wire-frame source parses with ``schemas.FRAME_SCHEMA``: ``data``
is binary, so Spark's JSON parser base64-decodes the payload straight into
pixel bytes — no JVM String copy of the ~1.2 MB payload and no separate
``unbase64`` before the keyBy exchange. Only strict base64 decodes; any
other ``data`` value (illegal characters, missing padding, a number) parses
to ``data = null`` with the rest of the row kept, which the motion fold
treats as an undecodable frame (0 boxes, the camera's carry advances).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA

# Spark's JSON timestamp default truncates to milliseconds; the reference
# writes ISO-8601 instants (VideoEventCreator.java:31-33). Microsecond
# format keeps the roundtrip lossless.
TS_OPTS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}


def parse_frames(raw_json: DataFrame, value_col: str = "value") -> DataFrame:
    """T1+T2 for value-column sources (Kafka): PERMISSIVE ``from_json`` with
    the frame schema (malformed input -> null row, exactly the
    reference's swallow-and-filter mapper, VideoProcessor.java:143-153)
    followed by the null filter (:83-84). ``data`` comes out as decoded
    pixel bytes. A line holding a top-level JSON array is dropped (the
    struct schema does not match it)."""
    return (
        raw_json.select(
            F.from_json(
                F.col(value_col).cast("string"), FRAME_SCHEMA, TS_OPTS
            ).alias("f")
        )
        .select("f.*")
        .filter(F.col("camId").isNotNull())
    )


def write_frame_replay_dir(
    frames: list[dict], dirpath: str, frames_per_file: int = 4
) -> int:
    """Serialize frame dicts (``fixture_frames``' shape, raw BGR ``data``)
    into JSON-lines replay files consumable by :func:`file_frame_stream`,
    base64-encoding the payload as the wire does — the deterministic
    broker-less stand-in for the producer's Kafka writes
    (``VideoEventCreator.java:235-245``). Frames are interleaved in global
    event-time order and split ``frames_per_file`` per file so each file is
    one micro-batch; mtimes are pinned strictly increasing because
    FileStreamSource orders same-batch discoveries by modification time and
    sub-second writes would tie (the arrival-order contract Kafka provides
    per key). Returns the file count."""
    import base64
    import json
    import os

    ordered = sorted(frames, key=lambda f: f["timestamp"])
    files = 0
    for i in range(0, len(ordered), frames_per_file):
        path = os.path.join(dirpath, f"batch-{i:06d}.json")
        with open(path, "w") as fh:
            fh.write(
                "\n".join(
                    json.dumps(
                        {
                            "camId": f["camId"],
                            "timestamp": f["timestamp"].strftime(
                                "%Y-%m-%dT%H:%M:%S.%f+00:00"
                            ),
                            "rows": f["rows"],
                            "cols": f["cols"],
                            "type": f["type"],
                            "data": base64.b64encode(f["data"]).decode("ascii"),
                        }
                    )
                    for f in ordered[i : i + frames_per_file]
                )
            )
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        files += 1
    return files


def kafka_reader_options(
    bootstrap_servers: str,
    topic_base: str | None = None,
    topic: str | None = None,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The assembled Kafka reader options for S1-S3, exposed separately so
    the config contract can be pinned by tests in a broker-less container
    (tests/test_kafka_config.py asserts parity with
    VideoProcessor.java:106-141)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "startingOffsets": starting_offsets,
        # Frame messages are ~1.2 MiB base64; the reference raises broker
        # max.message.bytes to 10 MiB (TopicScaler.java:136).
        "kafka.max.partition.fetch.bytes": str(10 * 1024 * 1024),
    }
    if topic_base:
        opts["subscribePattern"] = f"{topic_base}-.*"
    elif topic:
        opts["subscribe"] = topic
    else:
        raise ValueError("either topic_base (pattern) or topic (explicit) is required")
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_frame_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic_base: str | None = None,
    topic: str | None = None,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S1-S3: pattern-subscribe (``{base}-.*``, dynamically picks up topics
    created later — VideoProcessor.java:119) or explicit-topic fallback
    (:128-135), earliest/latest switch (:110-114), plus per-trigger
    admission control (the Spark analog of the reference's parallelism
    knob K5). Returns the parsed, filtered frame stream."""
    reader = spark.readStream.format("kafka").options(
        **kafka_reader_options(
            bootstrap_servers,
            topic_base=topic_base,
            topic=topic,
            starting_offsets=starting_offsets,
            max_offsets_per_trigger=max_offsets_per_trigger,
        )
    )
    return parse_frames(reader.load())


def file_frame_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """S4-as-replay: JSON-lines files of wire-format frames consumed as a
    stream, one file per micro-batch by default — the deterministic CI
    substitute for Kafka micro-batching (FIXTURES.md §4). Read with the JSON
    file source under the imposed frame schema (never inferred):
    Jackson parses the line bytes directly and decodes ``data`` to pixels,
    PERMISSIVE as in :func:`parse_frames`, then the same camId null filter.

    One difference from :func:`parse_frames`: a line holding a top-level
    JSON array of frame objects yields one row per element here, while
    ``from_json`` drops it."""
    return (
        spark.readStream.schema(FRAME_SCHEMA)
        .options(**TS_OPTS)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(path)
        .filter(F.col("camId").isNotNull())
    )


def rate_frame_stream(
    spark: SparkSession, rows_per_second: int = 120, num_cameras: int = 4
) -> DataFrame:
    """Synthetic load source: the built-in ``rate`` source mapped to frame
    *metadata* (payload generation is the producer's job, §3.2); used for
    sustained-throughput experiments without a broker."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", str(rows_per_second)).load()
    return rate.select(
        F.concat(F.lit("cam"), (F.col("value") % num_cameras).cast("string")).alias("camId"),
        F.col("timestamp"),
        F.lit(480).alias("rows"),
        F.lit(640).alias("cols"),
        F.lit(16).alias("type"),
        F.lit(None).cast("binary").alias("data"),
    )
