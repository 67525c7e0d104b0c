"""Streaming sinks (SURVEY.md §2.6 O1-O5) and the ProcessingResult build.

The reference's sink stack: a per-record CQL insert into
``dvaf.processing_results`` partitioned by (camera_id, day) with clustering
frame_timestamp DESC (CassandraService.java:125-166), plus annotated-PNG
side-output files named ``{camId}-T-{epochMillis}.png``
(MotionDetector.java:133-177), plus the producer-side Kafka sink
(VideoEventCreator.java:235-245).

Engine-native equivalents: a partitioned Parquet results table with the
same layout (partition pruning on (camera_id, day) — the exact read path
the Cassandra primary key serves), ``foreachBatch`` for the side-effecting
image writes (idempotent file names stand in for transactionality, exactly
as in the reference — SURVEY.md §7.4.6), and the built-in Kafka sink with
the producer's config. Checkpointing (K4) is an option away.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from distributed_video_analytics_flink_spark.streaming.sources import TS_OPTS


def is_missing_table_error(e: AnalysisException) -> bool:
    """True iff ``e`` means "no table exists here yet" — PATH_NOT_FOUND
    (first write ever) or UNABLE_TO_INFER_SCHEMA (path exists but holds
    no parquet yet). The ONE policy every read-state-or-start-fresh site
    must share (merge_results_batch here, the streaming pair maintenance
    in corpus.py — r15 review): any OTHER AnalysisException (an existing
    but momentarily unreadable table) must propagate, because
    downgrading it to "no table" lets the caller's overwrite silently
    drop previously-written rows."""
    cond = e.getCondition() if hasattr(e, "getCondition") else None
    if cond is None and hasattr(e, "getErrorClass"):
        cond = e.getErrorClass()
    return cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")

RESULTS_TABLE_DDL = """
CREATE TABLE IF NOT EXISTS {table} (
  id STRING, camera_id STRING, day STRING,
  frame_timestamp TIMESTAMP, processing_timestamp TIMESTAMP,
  detection_type STRING, detection_count INT,
  frame_rows INT, frame_cols INT, image_path STRING, metadata STRING
) USING parquet PARTITIONED BY (camera_id, day)
"""


def build_processing_results(
    detections: DataFrame,
    image_dir: str = "/data/processed",
    faithful_count: bool = False,
) -> DataFrame:
    """T6-T11: detection rows -> ProcessingResult rows
    (ProcessingResult.java:13-25). ``faithful_count=False`` reproduces the
    reference bug-for-bug (it emits literal 1 and only logs the real contour
    count — VideoProcessor.java:194); True emits size(motion_boxes).

    uuid()/current_timestamp() are the two deliberately nondeterministic
    columns (SURVEY.md §7.4.3) — golden comparisons exclude them."""
    ts = (F.col("ts_us") / F.lit(1_000_000.0)).cast("timestamp")
    count = (
        F.size("motion_boxes").cast("int") if faithful_count else F.lit(1).cast("int")
    )
    return detections.filter(F.size("motion_boxes") > 0).select(
        F.expr("uuid()").alias("id"),
        F.col("camId").alias("camera_id"),
        F.date_format(ts, "yyyy-MM-dd").alias("day"),
        ts.alias("frame_timestamp"),
        F.current_timestamp().alias("processing_timestamp"),
        F.lit("motion").alias("detection_type"),
        count.alias("detection_count"),
        F.col("rows").alias("frame_rows") if "rows" in detections.columns else F.lit(480).alias("frame_rows"),
        F.col("cols").alias("frame_cols") if "cols" in detections.columns else F.lit(640).alias("frame_cols"),
        F.format_string(
            "%s/%s-T-%d.png", F.lit(image_dir), F.col("camId"), (F.col("ts_us") / 1000).cast("long")
        ).alias("image_path"),
        F.lit("").alias("metadata"),
    )


def write_results_stream(
    results: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """O2/O3/O5: append the ProcessingResult stream to a Parquet table
    partitioned by (camera_id, day) — the Cassandra layout at rest — with
    exactly-once file-sink semantics via the checkpointed manifest (a strict
    upgrade on the reference's logged-and-swallowed insert failures,
    CassandraSinkFunction.java:36-44)."""
    writer = (
        results.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("camera_id", "day")
        .outputMode("append")
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def write_results_batch(results: DataFrame, path: str) -> None:
    """Batch twin of the results table (replays, backfills)."""
    results.write.mode("append").partitionBy("camera_id", "day").parquet(path)


def png_side_output(image_dir: str):
    """O4: a foreachBatch function writing one annotated PNG per motion
    frame with the reference's idempotent name
    ``{camId}-T-{epochMillis}.png`` (MotionDetector.java:147-148). Run the
    detector with ``annotate=True`` so rows carry real PNG bytes (green
    detection rectangles, encoded via the stdlib-zlib PNG writer in
    functions/png.py — no codec libraries needed); rows without a ``png``
    column fall back to the JSON box payload. Executor-side,
    partition-parallel, re-run-safe by name."""

    def _write(batch_df: DataFrame, _batch_id: int) -> None:
        os.makedirs(image_dir, exist_ok=True)
        has_png = "png" in batch_df.columns
        cols = ["camId", "ts_us", F.to_json("motion_boxes").alias("boxes")]
        if has_png:
            cols.append("png")
        rows = batch_df.filter(F.size("motion_boxes") > 0).select(*cols)

        def _per_partition(it):
            for r in it:
                # a frame with motion but a malformed timestamp (ts_us is
                # None, the PERMISSIVE-parse NaT case) must not kill the
                # query (r14 review): it gets a stable sentinel name, still
                # idempotent across re-runs
                ts = r["ts_us"]
                stamp = "NaT" if ts is None else ts // 1000
                name = f"{r['camId']}-T-{stamp}.png"
                payload = (
                    bytes(r["png"])
                    if has_png and r["png"] is not None
                    else r["boxes"].encode()
                )
                with open(os.path.join(image_dir, name), "wb") as f:
                    f.write(payload)

        rows.foreachPartition(_per_partition)

    return _write


def kafka_writer_options(
    bootstrap_servers: str, topic: str, checkpoint_dir: str
) -> dict[str, str]:
    """The assembled Kafka producer options for O1, exposed separately so
    the config contract can be pinned by tests in a broker-less container
    (tests/test_kafka_config.py asserts parity with
    VideoProducer.java:64-77)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "kafka.compression.type": "gzip",
        "kafka.acks": "all",
        "kafka.max.request.size": str(5 * 1024 * 1024),
        "checkpointLocation": checkpoint_dir,
    }


def kafka_frame_payload(frames: DataFrame) -> DataFrame:
    """The producer's wire contract: key=camId (per-camera ordering on a
    keyed topic), value=JSON of the frame struct. ``to_json`` writes the
    binary ``data`` as padded standard base64, the wire text."""
    # TS_OPTS keeps the wire roundtrip lossless (r14 review: the default
    # to_json format truncates to milliseconds, so a produce->consume hop
    # would collapse sub-millisecond frames onto one (camId, timestamp)
    # identity and scramble event-time fold order)
    return frames.select(
        F.col("camId").alias("key"),
        F.to_json(
            F.struct("camId", "timestamp", "rows", "cols", "type", "data"), TS_OPTS
        ).alias("value"),
    )


def kafka_frame_sink(
    frames: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """O1: frames back out as camId-keyed JSON (the producer's contract:
    key=camId for per-camera ordering, gzip, acks=all —
    VideoProducer.java:64-77)."""
    return (
        kafka_frame_payload(frames)
        .writeStream.format("kafka")
        .options(**kafka_writer_options(bootstrap_servers, topic, checkpoint_dir))
        .start()
    )


# --------------------------------------------------------------------------
# Keyed upsert sink (Cassandra's ACTUAL write semantic)
# --------------------------------------------------------------------------
RESULTS_UPSERT_KEYS = ("camera_id", "day", "frame_timestamp")


def merge_results_batch(
    batch_df: DataFrame,
    path: str,
    keys: tuple = RESULTS_UPSERT_KEYS,
    partition_cols: tuple = ("camera_id", "day"),
) -> None:
    """Merge one (micro-)batch into the results table with last-write-wins
    per primary key — the semantic a Cassandra INSERT actually has
    (CassandraService.java:125-166 writes by PRIMARY KEY ((camera_id, day),
    frame_timestamp): a re-delivered frame OVERWRITES, it never
    duplicates). The parquet append sink (`write_results_stream`) is the
    faithful-at-a-distance layout twin; this is the faithful-semantics
    twin for at-least-once upstreams.

    Mechanics (the bounded read-merge-overwrite a lakehouse MERGE compiles
    to, without requiring a table format):
      1. collapse the batch to one row per key (latest processing_timestamp
         wins inside a batch);
      2. read back ONLY the partitions the batch touches (partition-pruned
         scan — per micro-batch that is cameras x current day, not the
         table);
      3. anti-join out superseded rows, union the batch;
      4. dynamic-partition overwrite of just those partitions.

    Scale: the overwrite scope is bounded by the batch's partition
    footprint, so a 100 TB table pays only for its hot partitions; the
    anti-join keys on the (camera_id, day, frame_timestamp) triple —
    digests and timestamps, never pixels. localCheckpoint breaks lineage
    so the read side is fully materialized before its partitions are
    replaced (Spark otherwise refuses read-then-overwrite of one path);
    on a cluster use a reliable checkpoint or a staging dir + atomic
    rename. Re-running the same batch (foreachBatch retry after a crash)
    converges to the same table — the merge is idempotent."""
    from pyspark.sql import Window

    spark = batch_df.sparkSession
    key_list = list(keys)
    w = Window.partitionBy(*key_list).orderBy(F.desc("processing_timestamp"))
    latest = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # Driver-side collect is bounded by the batch's DISTINCT partition
    # footprint (one tuple per (camera_id, day) pair touched this batch),
    # not by its row count — with per-batch watermarking that is O(cameras)
    # small. Guard anyway: a pathological batch spanning far more partitions
    # than any camera fleet produces should fail loudly, not OOM the driver
    # or emit a multi-thousand-clause overwrite predicate.
    touched = [
        tuple(r)
        for r in latest.select(*partition_cols).distinct().limit(10_001).collect()
    ]
    if len(touched) > 10_000:
        raise ValueError(
            "upsert batch touches >10k partitions; repartition the input "
            "by day-range or raise the guard deliberately"
        )
    if not touched:
        return
    merged = latest
    # existence must be checked through Spark, not the driver's local
    # filesystem (r14 review): on hdfs://-s3a:// paths os.path.exists is
    # always False, and skipping the merge would let the dynamic overwrite
    # silently destroy previously-upserted rows in every touched partition.
    try:
        existing_all = spark.read.parquet(path)
        has_existing = True
    except AnalysisException as e:
        if not is_missing_table_error(e):
            raise
        has_existing = False
    if has_existing:
        pred = None
        for vals in touched:
            clause = F.lit(True)
            for col, v in zip(partition_cols, vals):
                clause = clause & (F.col(col) == F.lit(v))
            pred = clause if pred is None else (pred | clause)
        existing = existing_all.filter(pred)
        keep = existing.join(
            F.broadcast(latest.select(*key_list)), key_list, "left_anti"
        ).localCheckpoint(eager=True)
        merged = keep.unionByName(latest)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def upsert_results_stream(
    results: DataFrame,
    path: str,
    checkpoint_dir: str,
    keys: tuple = RESULTS_UPSERT_KEYS,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """O2 with upsert semantics: foreachBatch merge into the
    (camera_id, day)-partitioned results table, last write per
    (camera_id, day, frame_timestamp) wins — checkpointed, so restart
    re-merges (idempotently) instead of re-appending (duplicating)."""
    writer = (
        results.writeStream.foreachBatch(
            lambda batch_df, _bid: merge_results_batch(batch_df, path, keys)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
