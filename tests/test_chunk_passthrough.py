"""Compressed-passthrough motion ingest (r8 VERDICT #1): the keyBy
exchange must carry still-encoded JPEG chunk bytes, with the entropy
decode deferred to the post-shuffle motion fold — and the motion output
must be frame-identical to the decode-first path on clean files.

Reference parity: the reference's only shuffle is the same keyBy
(VideoProcessor.java:86-87); it ships decoded Mats because Flink's
operator chain keeps source and keyBy in one process where possible.
At 100 TB the exchange is the bottleneck, so the Spark-first shape is
chunks-over-the-wire, pixels-after-keyBy.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from distributed_video_analytics_flink_spark.operators.video import detect_motion_batch
from distributed_video_analytics_flink_spark.plans.inspect import (
    exchange_count,
    formatted_plan,
)
from distributed_video_analytics_flink_spark.sources.avi import encode_avi
from distributed_video_analytics_flink_spark.sources.jpeg import decode_jpeg, encode_jpeg
from distributed_video_analytics_flink_spark.sources.mp4 import encode_mp4_mjpeg
from distributed_video_analytics_flink_spark.sources.video_files import (
    decode_chunk_to_pixels,
    decode_frames,
    iter_chunk_rows,
    read_video_chunks,
    read_video_files,
)
def _motion_frames(n=10, h=240, w=320):
    out = []
    for i in range(n):
        px = np.full((h, w, 3), 50, dtype=np.uint8)
        if i >= 4:
            x0 = 30 + 14 * (i - 4)
            px[40:100, x0 : x0 + 60, :] = 200
        out.append(px)
    return out


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("chunks")
    frames = _motion_frames()
    avi = encode_avi(frames, codec="mjpeg", quality=85)
    mp4 = encode_mp4_mjpeg(frames, quality=85)
    raw = encode_avi(frames, codec="rawbgr")
    # a non-MJPEG video track: both paths fall to decode_frames' stub
    avc = bytearray(mp4)
    at = avc.find(b"jpeg", avc.find(b"stsd"))
    avc[at : at + 4] = b"avc1"
    for cam in range(2):
        (root / f"mja{cam}.avi").write_bytes(avi)
        (root / f"mjm{cam}.mp4").write_bytes(mp4)
        (root / f"raw{cam}.avi").write_bytes(raw)
        (root / f"avc{cam}.mp4").write_bytes(bytes(avc))
    return str(root)


def _boxes(spark, reader, root):
    df = detect_motion_batch(reader(spark, root, glob="*.{avi,mp4}"))
    import pyspark.sql.functions as F

    return (
        df.select("camId", "ts_us", "detection_count", F.to_json("motion_boxes").alias("bj"))
        .orderBy("camId", "ts_us")
        .collect()
    )


def test_passthrough_matches_decode_first_golden(spark, corpus):
    """Golden twin (r8 VERDICT #1 'done' condition): identical motion rows
    (boxes included) through both ingest paths over a mixed corpus of
    MJPEG-AVI, MJPEG-MP4, raw-DIB AVI and a non-MJPEG (avc1) MP4. The
    MJPEG files take the chunk demux; the other two take the raw-bgr
    fallback, which shares ``decode_frames`` with ``read_video_files``."""
    codecs = dict(
        read_video_chunks(spark, corpus, glob="*.{avi,mp4}")
        .select("camId", "codec")
        .distinct()
        .collect()
    )
    assert codecs == {
        f"{kind}{cam}": codec
        for kind, codec in (
            ("mja", "mjpeg"), ("mjm", "mjpeg"), ("raw", "raw-bgr"), ("avc", "raw-bgr")
        )
        for cam in range(2)
    }
    old = _boxes(spark, read_video_files, corpus)
    new = _boxes(spark, read_video_chunks, corpus)
    assert len(old) > 0 and old == new
    assert {r["camId"] for r in old} == set(codecs)


def test_exchange_carries_chunks_not_pixels(spark, corpus):
    """Plan pin: the single keyBy exchange's upstream side projects the
    compressed `chunk` column; no decoded `pix` attribute exists anywhere
    in the passthrough plan (decode happens inside the post-shuffle
    mapInPandas, invisible to the exchange)."""
    df = detect_motion_batch(read_video_chunks(spark, corpus))
    assert exchange_count(df) == 1
    plan = formatted_plan(df)
    assert "chunk#" in plan
    assert "pix#" not in plan and "data#" not in plan


def test_shuffle_volume_is_compressed_bytes(spark, corpus):
    """Volume pin: what crosses the exchange IS the chunk column — for the
    MJPEG files its per-frame payload must be a small fraction of the raw
    BGR it decodes to (the 15-20x cut the scale argument rests on)."""
    import pyspark.sql.functions as F

    stats = (
        read_video_chunks(spark, corpus, glob="mj*.{avi,mp4}")
        .agg(
            F.sum(F.length("chunk")).alias("chunk_bytes"),
            F.sum(F.col("rows") * F.col("cols") * 3).alias("pixel_bytes"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    assert stats["n"] > 0
    assert stats["chunk_bytes"] * 5 < stats["pixel_bytes"], (
        "MJPEG chunks should be <20% of decoded pixel volume; got "
        f"{stats['chunk_bytes']} vs {stats['pixel_bytes']}"
    )


def test_passthrough_annotate_twin(spark, corpus):
    """annotate=True works identically through the chunk path: the PNG is
    encoded from the post-shuffle decoded pixels."""
    df = detect_motion_batch(read_video_chunks(spark, corpus, glob="mja0.avi"), annotate=True)
    rows = df.filter("detection_count > 0").select("png").collect()
    assert rows and all(bytes(r["png"])[:8] == b"\x89PNG\r\n\x1a\n" for r in rows)


def _write_corrupt_avi(dirpath):
    """Six-frame MJPEG AVI whose frame 3 passes the cheap container checks
    but fails JPEG decode post-shuffle."""
    data = bytearray(encode_avi(_motion_frames(6), codec="mjpeg", quality=85))
    # corrupt frame 3: find the 4th JPEG SOI and turn its SOF0 marker into
    # SOF2 (progressive, which the baseline decoder refuses) — past the
    # SOI, so is_jpeg still passes at extraction
    pos, hits = 0, []
    while True:
        pos = data.find(b"\xff\xd8\xff", pos + 1)
        if pos < 0:
            break
        hits.append(pos)
    target = hits[3]
    data[data.index(b"\xff\xc0", target) + 1] = 0xC2
    (dirpath / "bad.avi").write_bytes(bytes(data))


def test_corrupt_chunk_skipped_keeps_state(spark, tmp_path):
    """PERMISSIVE parity: a mid-stream chunk that passes the cheap
    container checks but fails JPEG decode post-shuffle is skipped (no
    row) without resetting the previous-frame carry — the next frame
    still diffs against the last GOOD frame."""
    _write_corrupt_avi(tmp_path)
    out = (
        detect_motion_batch(read_video_chunks(spark, str(tmp_path), glob="bad.avi"))
        .orderBy("ts_us")
        .collect()
    )
    # 6 chunks extracted; at most 6 rows come back and the stream still
    # produces motion detections after the corrupt frame
    assert 0 < len(out) <= 6
    assert any(r["detection_count"] > 0 for r in out[-2:])


@pytest.mark.parametrize("container", ["avi", "mp4"])
def test_decode_first_equals_demux_plus_shared_chunk_decode(container):
    """One corrupt JPEG chunk (SOF0 -> SOF2, past the signature) and one
    chunk whose dims differ from the header: decode-first skips both, and
    its frames equal the demuxed chunks through the post-shuffle decode —
    both run the one per-chunk rule (sources/mjpeg.py)."""
    frames = _motion_frames(5, 48, 64)
    jpgs = [encode_jpeg(f, quality=90) for f in frames]
    bad = bytearray(jpgs[1])
    bad[bad.index(b"\xff\xc0") + 1] = 0xC2
    jpgs[1] = bytes(bad)
    jpgs[3] = encode_jpeg(np.zeros((32, 32, 3), np.uint8), quality=90)
    if container == "avi":
        raw = encode_avi(frames, codec="mjpeg", pre_encoded=jpgs)
    else:
        raw = encode_mp4_mjpeg(frames, pre_encoded=jpgs)
    decoded = [f.tobytes() for f in decode_frames(raw, 48, 64, 64)]
    assert decoded == [decode_jpeg(jpgs[i]).tobytes() for i in (0, 2, 4)]

    rows = list(iter_chunk_rows(raw, "cam", 48, 64, 64))
    assert [r[6] for r in rows] == ["mjpeg"] * 5  # the demux keeps both
    expect: dict = {}
    pix = (decode_chunk_to_pixels(expect, cam, *rest) for cam, _ts, *rest in rows)
    assert [p for p in pix if p is not Ellipsis] == decoded


# ---------------------------------------------------------------------------
# Streaming leg: the videochunks Data Source + the chunk-aware stateful fold
# ---------------------------------------------------------------------------


def test_videochunks_batch_source_matches_binaryfile_reader(spark, corpus):
    """format('videochunks') emits byte-identical rows to read_video_chunks
    on the same files (both ride iter_chunk_rows)."""
    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    register_sources(spark)
    a = spark.read.format("videochunks").load(corpus)
    b = read_video_chunks(spark, corpus, glob="*.{avi,mp4}")

    def key(r):
        return (r["camId"], r["timestamp"], r["src_rows"], r["src_cols"],
                r["rows"], r["cols"], r["codec"], bytes(r["chunk"]))

    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


def test_stream_chunk_passthrough_matches_batch(spark, corpus, tmp_path):
    """Streaming compressed passthrough end-to-end: videochunks stream ->
    detect_motion_stream (chunk branch decodes post-shuffle in the fold)
    must equal detect_motion_batch over read_video_chunks on the same
    files — the repo's batch/stream equivalence property, extended to the
    chunk schema."""
    import pyspark.sql.functions as F

    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )
    from distributed_video_analytics_flink_spark.streaming.motion import (
        detect_motion_stream,
    )

    register_sources(spark)
    stream = spark.readStream.format("videochunks").load(corpus)
    out_dir = tmp_path / "out"
    q = (
        detect_motion_stream(stream)
        .withColumn("bj", F.to_json("motion_boxes"))
        .drop("motion_boxes")
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()

    streamed = sorted(
        (r["camId"], r["ts_us"], r["detection_count"], r["bj"])
        for r in spark.read.schema(
            "camId string, ts_us long, detection_count int, bj string"
        ).parquet(str(out_dir)).collect()
    )
    batch = sorted(
        (r["camId"], r["ts_us"], r["detection_count"], r["bj"])
        for r in detect_motion_batch(read_video_chunks(spark, corpus, glob="*.{avi,mp4}"))
        .withColumn("bj", F.to_json("motion_boxes"))
        .select("camId", "ts_us", "detection_count", "bj")
        .collect()
    )
    assert len(streamed) > 0 and streamed == batch


def test_stream_corrupt_chunk_skipped_matches_batch(spark, tmp_path):
    """Skip semantics are the same on both paths: the corrupt-frame-3 AVI
    streamed through format('videochunks') -> detect_motion_stream gives
    exactly detect_motion_batch's rows — frame 3 emits no row and frame 4
    still diffs against frame 2 (a reset carry would give it no boxes)."""
    import pyspark.sql.functions as F

    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )
    from distributed_video_analytics_flink_spark.streaming.motion import (
        detect_motion_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    _write_corrupt_avi(src)
    register_sources(spark)
    q = (
        detect_motion_stream(spark.readStream.format("videochunks").load(str(src)))
        .withColumn("bj", F.to_json("motion_boxes"))
        .drop("motion_boxes")
        .writeStream.format("memory")
        .queryName("corrupt_chunk_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    cols = ["camId", "ts_us", "detection_count", "bj"]
    streamed = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM corrupt_chunk_stream")
        .select(*cols).collect()
    )
    batch = sorted(
        tuple(r)
        for r in detect_motion_batch(read_video_chunks(spark, str(src), glob="bad.avi"))
        .withColumn("bj", F.to_json("motion_boxes"))
        .select(*cols)
        .collect()
    )
    assert streamed == batch
    ts = [r[1] for r in streamed]
    assert len(ts) == 5 and ts[3] - ts[2] == 2 * (ts[1] - ts[0])  # frame 3 gone
    assert streamed[3][2] > 0  # frame 4 diffed against frame 2's carry


def test_stream_prepare_keeps_chunks_compressed(spark, corpus):
    """The streaming projection ships the still-encoded chunk through the
    keyBy exchange: chunk-schema input selects codec/chunk (no pixel
    column) while wire input takes the pix path."""
    from distributed_video_analytics_flink_spark.operators.video import fixture_frames
    from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA
    from distributed_video_analytics_flink_spark.sources.video_files import (
        prepare_motion_input,
    )

    chunks = read_video_chunks(spark, corpus, glob="*.{avi,mp4}")
    proj, chunked = prepare_motion_input(chunks)
    assert chunked and "chunk" in proj.columns and "pix" not in proj.columns

    wire = spark.createDataFrame(fixture_frames(), schema=FRAME_SCHEMA)
    proj2, chunked2 = prepare_motion_input(wire)
    assert not chunked2 and "pix" in proj2.columns


def test_null_dims_chunk_row_does_not_kill_batch(spark):
    """r9 ADVICE: CHUNK_SCHEMA's ints are nullable — a PERMISSIVE parse
    that nulled src_rows/rows must degrade that row (dims default to 0 →
    no decode / no boxes), never int(NaN)-crash the task. The guard is
    the one the streaming operator runs too
    (sources/video_files.py::decode_chunk_to_pixels)."""
    import datetime as _dt

    from distributed_video_analytics_flink_spark.sources.video_files import (
        CHUNK_SCHEMA,
        iter_chunk_rows,
    )

    raw = encode_avi(_motion_frames(5), codec="mjpeg", quality=85)
    rows = []
    for i, (cam, ts_us, sr, sc, r, c, codec, chunk) in enumerate(
        iter_chunk_rows(raw, "camA", 240, 320, max_frames=100)
    ):
        ts = _dt.datetime.fromtimestamp(ts_us / 1e6, _dt.timezone.utc).replace(
            tzinfo=None
        )
        if i == 2:  # the hostile row: every dimension nulled
            rows.append((cam, ts, None, None, None, None, codec, chunk))
        else:
            rows.append((cam, ts, sr, sc, r, c, codec, chunk))
    df = spark.createDataFrame(rows, CHUNK_SCHEMA)
    out = detect_motion_batch(df).orderBy("ts_us").collect()
    # the job survives; the 4 well-formed frames still flow through and
    # motion is still detected after the degraded row
    assert len(out) >= 4
    assert any(r["detection_count"] > 0 for r in out)


def test_chunk_passthrough_golden_tiny_arrow_batches(spark, corpus):
    """Hostile Arrow batching for the CHUNK branch: maxRecordsPerBatch=7
    makes every per-camera group span multiple Arrow batches inside the
    post-shuffle decode fold, so the previous-frame carry AND the
    per-camera expected-dims state (which fixes dims from the first good
    frame) must both survive batch boundaries — the same bug class
    test_batch_pipeline_golden_tiny_arrow_batches pins for the pixel
    branch. Golden = the identical pipeline under default batching."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        hostile = _boxes(spark, read_video_chunks, corpus)
    finally:
        spark.conf.set(key, old)
    assert hostile == _boxes(spark, read_video_chunks, corpus)
    assert len(hostile) > 0 and any(r["detection_count"] > 0 for r in hostile)


def test_gif_in_mixed_corpus_ships_raw_bgr_and_matches_decode_first(spark, tmp_path):
    """A GIF in a mixed directory rides the same chunk API: its frames
    are inter-frame (canvas compositing), so iter_chunk_rows decodes
    source-side and ships codec='raw-bgr' pixels — and the motion boxes
    through the chunk path match the decode-first path exactly."""
    from distributed_video_analytics_flink_spark.sources.gif import encode_gif
    from distributed_video_analytics_flink_spark.sources.video_files import (
        read_video_files,
    )

    frames = _motion_frames()
    (tmp_path / "mj.avi").write_bytes(encode_avi(frames, codec="mjpeg", quality=85))
    (tmp_path / "anim.gif").write_bytes(
        encode_gif(frames, delta=True, use_transparency=True)
    )

    chunks = read_video_chunks(spark, str(tmp_path), glob="*.{avi,gif}")
    per_codec = {
        r["camId"]: r["codec"] for r in chunks.select("camId", "codec").collect()
    }
    assert per_codec == {"mj": "mjpeg", "anim": "raw-bgr"}

    import pyspark.sql.functions as F

    def boxes(df):
        return (
            detect_motion_batch(df)
            .select("camId", "ts_us", "detection_count",
                    F.to_json("motion_boxes").alias("bj"))
            .orderBy("camId", "ts_us")
            .collect()
        )

    got = [tuple(r) for r in boxes(chunks) if r["camId"] == "anim"]
    want = [
        tuple(r)
        for r in boxes(read_video_files(spark, str(tmp_path), glob="*.gif"))
    ]
    assert got == want and len(got) == len(_motion_frames())
