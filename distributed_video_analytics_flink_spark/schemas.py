"""Fixed StructType schemas for the engine.

The reference uses compile-time POJO schemas (``VideoFrameData.java:15-35``,
``ProcessingResult.java:13-25``) serialized as JSON on the wire and CQL rows at
rest (``CassandraService.java:125-145``). The engine mirrors them as Spark
StructTypes, plus the driver-provided testdata star schema (TESTDATA.md /
FIXTURES.md §3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- VideoFrameData analog (reference VideoFrameData.java:15-35) -----------
# One frame row shape for every producer and consumer. ``data`` holds the raw
# interleaved BGR bytes. Base64 exists only on the JSON wire (ISO-8601
# timestamp string, base64 pixel payload): wire sources parse with this
# schema, so Spark's JSON parser base64-decodes the payload straight into
# bytes. Parsed in PERMISSIVE mode => malformed rows become nulls, matching
# the reference's parse-to-null + filter behavior
# (VideoProcessor.java:143-153); a payload that is not strict base64 parses
# to ``data = null`` with the rest of the row kept.
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("camId", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("rows", T.IntegerType(), True),
        T.StructField("cols", T.IntegerType(), True),
        T.StructField("type", T.IntegerType(), True),  # OpenCV Mat.type(); 16 = CV_8UC3
        T.StructField("data", T.BinaryType(), True),  # raw interleaved BGR bytes
    ]
)

# Motion box struct emitted by the detector (reference boundingRect list,
# MotionDetector.java:111-131).
MOTION_BOX = T.StructType(
    [
        T.StructField("x", T.IntegerType(), False),
        T.StructField("y", T.IntegerType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
    ]
)

# One motion row per frame, shared by the batch and streaming operators;
# ``annotate=True`` adds the annotated PNG (CV6+CV7, MotionDetector.java:63-69).
MOTION_SCHEMA = T.StructType(
    [
        T.StructField("camId", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("motion_boxes", T.ArrayType(MOTION_BOX)),
        T.StructField("detection_count", T.IntegerType()),
    ]
)
MOTION_ANNOTATED_SCHEMA = T.StructType(
    MOTION_SCHEMA.fields + [T.StructField("png", T.BinaryType())]
)

# --- ProcessingResult analog (ProcessingResult.java:13-25; Cassandra DDL
# CassandraService.java:125-145: partition (camera_id, day), clustering
# frame_timestamp DESC). The engine's at-rest layout is a parquet table
# partitionBy("camera_id", "day").
RESULT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),  # uuid
        T.StructField("camera_id", T.StringType(), False),
        T.StructField("day", T.StringType(), False),  # UTC yyyy-MM-dd of frame_timestamp
        T.StructField("frame_timestamp", T.TimestampType(), False),
        T.StructField("processing_timestamp", T.TimestampType(), False),
        T.StructField("detection_type", T.StringType(), False),
        T.StructField("detection_count", T.IntegerType(), False),
        T.StructField("frame_rows", T.IntegerType(), False),
        T.StructField("frame_cols", T.IntegerType(), False),
        T.StructField("image_path", T.StringType(), False),
        T.StructField("metadata", T.StringType(), False),
    ]
)

# --- Driver-provided testdata star schema (TESTDATA.md; verified footers) ---
TESTDATA_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
