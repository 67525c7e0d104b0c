"""The wire-parse contract of the frame sources (streaming/sources.py).

Both wire paths parse with ``schemas.FRAME_SCHEMA``, whose ``data`` is
binary: ``file_frame_stream`` through the JSON file source, ``parse_frames``
(Kafka and other value-column sources) through ``from_json``. Pins:

1. **Malformed lines.** Each gives a documented row on both paths; a
   non-strict-base64 ``data`` keeps the row with ``data = null``; the one
   difference between the paths (a top-level JSON array line) is pinned.
2. **Motion rows.** Stream == batch on each path, and the motion output
   differs from a lenient ``unbase64`` decode only where that decode
   produced a full-length payload (and on the frame after it, which lost
   its previous frame).
3. **Plan shape.** The live chain reads through a JSON scan and has no
   ``unbase64``.
4. **Consumers of ``data``.** The Kafka payload round trip, ``resize_frames``,
   ``camera_fps`` and the joins accept the binary wire type.
5. **Old checkpoints resume.** A checkpoint written by the earlier
   ``text`` + ``from_json`` (string ``data``) + ``unbase64`` plan restarts
   under the binary parse with rows identical to an uninterrupted run.

The earlier lenient parse lives on here only, as :func:`_parse_lenient`.
"""

from __future__ import annotations

import base64
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_video_analytics_flink_spark.functions.resize import resize_payload
from distributed_video_analytics_flink_spark.operators.video import (
    detect_motion_batch,
    fixture_frames,
    resize_frames,
)
from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA
from distributed_video_analytics_flink_spark.streaming import (
    camera_fps,
    detect_motion_stream,
    enrich_with_cameras,
    file_frame_stream,
    interval_join_streams,
    parse_frames,
)
from distributed_video_analytics_flink_spark.streaming.sinks import (
    kafka_frame_payload,
)
from distributed_video_analytics_flink_spark.streaming.sources import TS_OPTS


def _b64(f: dict) -> str:
    return base64.b64encode(f["data"]).decode("ascii")


def _line(f: dict, data=None, data_first: bool = False) -> str:
    rec = {
        "camId": f["camId"],
        "timestamp": f["timestamp"].strftime("%Y-%m-%dT%H:%M:%S.%f+00:00"),
        "rows": f["rows"],
        "cols": f["cols"],
        "type": f["type"],
        "data": _b64(f) if data is None else data,
    }
    if data_first:
        rec = {"data": rec.pop("data"), **rec}
    return json.dumps(rec)


def _key(f: dict) -> tuple[str, int]:
    """(camId, frame index) of a fixture frame (ts = 33 ms * index + camera
    ms, camera < 4)."""
    return f["camId"], f["timestamp"].microsecond // 33_000


def _row_key(r) -> tuple[str, int]:
    """(camId, frame index) of a parsed frame row or a motion row."""
    d = r.asDict()
    us = d["ts_us"] % 1_000_000 if "ts_us" in d else d["timestamp"].microsecond
    return d["camId"], us // 33_000


# (camId, frame index) -> how its line is written. Every mutated frame has
# motion in the fixture (frames 5-9 carry the moving block).
STRAY = ("cam0", 6)  # one illegal character inside a full-length payload
NOT_B64 = ("cam1", 6)  # "@@notb64!!"
NO_PAD = ("cam2", 6)  # 10 payload bytes, base64 with its padding stripped
NUMBER = ("cam3", 6)  # "data": 123
DATA_FIRST = ("cam3", 8)  # valid payload, data written as the first field


def _wire_lines() -> list[str]:
    """The fixture's 40 frames as replay lines in event-time order, with the
    mutations above, then a truncated line (camId ``trunc``) and a
    top-level array holding cam0's frames 5 and 6 renamed ``camA``."""
    frames = {_key(f): f for f in fixture_frames()}
    lines = []
    for f in sorted(frames.values(), key=lambda f: f["timestamp"]):
        key = _key(f)
        if key == STRAY:
            lines.append(_line(f, data=_b64(f)[:100] + "!" + _b64(f)[100:]))
        elif key == NOT_B64:
            lines.append(_line(f, data="@@notb64!!"))
        elif key == NO_PAD:
            lines.append(_line(f, data=base64.b64encode(bytes(10)).decode().rstrip("=")))
        elif key == NUMBER:
            lines.append(_line(f, data=123))
        elif key == DATA_FIRST:
            lines.append(_line(f, data_first=True))
        else:
            lines.append(_line(f))
    lines.append(_line(dict(frames[("cam0", 3)], camId="trunc"))[:-40])
    renamed = [_line(dict(frames[("cam0", i)], camId="camA")) for i in (5, 6)]
    lines.append("[" + ",".join(renamed) + "]")
    return lines


def _write_files(dirpath, lines: list[str], per_file: int = 8) -> None:
    """One file per ``per_file`` lines; mtimes strictly increasing, so one
    file is one micro-batch in event-time order."""
    for n, i in enumerate(range(0, len(lines), per_file)):
        p = os.path.join(str(dirpath), f"b{n:04d}.json")
        with open(p, "w") as fh:
            fh.write("\n".join(lines[i : i + per_file]))
        os.utime(p, (1_700_000_000 + n, 1_700_000_000 + n))


def _collect(spark, stream_df, name: str, checkpoint: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}").collect()


def _motion_key(rows):
    return sorted(
        (
            r["camId"],
            r["ts_us"],
            tuple((b["x"], b["y"], b["w"], b["h"]) for b in r["motion_boxes"]),
            r["detection_count"],
        )
        for r in rows
    )


def _paths(spark, data_dir):
    """The two wire paths over the same replay directory."""
    return {
        "json_source": lambda: file_frame_stream(spark, str(data_dir)),
        "from_json": lambda: parse_frames(
            spark.readStream.schema("value string").text(str(data_dir))
        ),
    }


# the earlier wire parse schema: ``data`` as the base64 string
_STRING_DATA_SCHEMA = T.StructType(
    FRAME_SCHEMA.fields[:-1] + [T.StructField("data", T.StringType(), True)]
)


def _parse_lenient(raw):
    """The earlier wire parse: ``from_json`` with string ``data``, the
    camId null filter, then the lenient ``unbase64`` that
    ``prepare_motion_input`` used to apply."""
    return (
        raw.select(F.from_json("value", _STRING_DATA_SCHEMA, TS_OPTS).alias("f"))
        .select("f.*")
        .filter(F.col("camId").isNotNull())
        .withColumn("data", F.unbase64("data"))
    )


@pytest.fixture
def wire_dir(tmp_path):
    d = tmp_path / "wire"
    d.mkdir()
    _write_files(d, _wire_lines())
    return d


@pytest.mark.parametrize("path", ["json_source", "from_json"])
def test_malformed_lines_give_documented_rows(spark, tmp_path, wire_dir, path):
    rows = _collect(
        spark, _paths(spark, wire_dir)[path](), f"wire_rows_{path}", str(tmp_path / "ck")
    )
    by_key = {_row_key(r): r for r in rows}
    assert len(by_key) == len(rows)
    for f in fixture_frames():
        r = by_key[_key(f)]
        assert (r["rows"], r["cols"], r["type"]) == (f["rows"], f["cols"], f["type"])
        if _key(f) in (STRAY, NOT_B64, NO_PAD, NUMBER):
            assert r["data"] is None, _key(f)  # strict base64 only; the row stays
        else:
            assert bytes(r["data"]) == f["data"], _key(f)
    assert not any(r["camId"] == "trunc" for r in rows)  # truncated: dropped
    arr = sorted(i for c, i in by_key if c == "camA")
    # the one difference: the JSON source reads an array line's elements,
    # from_json drops the line
    assert arr == ([5, 6] if path == "json_source" else [])
    assert len(rows) == 40 + len(arr)


@pytest.mark.parametrize("path", ["json_source", "from_json"])
def test_motion_stream_equals_batch_and_lenient_decode(spark, tmp_path, wire_dir, path):
    stream = _paths(spark, wire_dir)[path]
    parsed = _collect(spark, stream(), f"wire_parsed_{path}", str(tmp_path / "ck1"))
    got = _collect(
        spark, detect_motion_stream(stream()), f"wire_motion_{path}", str(tmp_path / "ck2")
    )
    batch = detect_motion_batch(spark.createDataFrame(parsed, FRAME_SCHEMA)).collect()
    assert _motion_key(got) == _motion_key(batch)

    # the earlier lenient parse: string data, then unbase64
    lenient = detect_motion_batch(
        _parse_lenient(spark.read.text(str(wire_dir)))
    ).collect()
    ours = {_row_key(r): r for r in got if r["camId"] != "camA"}
    theirs = {_row_key(r): r for r in lenient}
    assert set(ours) == set(theirs)
    differ = {k for k in ours if _motion_key([ours[k]]) != _motion_key([theirs[k]])}
    # only the stray-character frame decoded to a full-length payload
    # leniently; the frame after it has no previous frame here
    assert differ == {STRAY, (STRAY[0], STRAY[1] + 1)}
    assert ours[STRAY]["detection_count"] == 0 < theirs[STRAY]["detection_count"]


def test_live_chain_plan_reads_json_without_unbase64(spark, tmp_path):
    """The live chain (perfbench ``live_cameras``): replay files ->
    motion -> results table. Its executed micro-batch plan scans JSON and
    decodes no base64 outside the parser."""
    from distributed_video_analytics_flink_spark.streaming import (
        build_processing_results,
        write_results_stream,
    )

    data_dir = tmp_path / "frames"
    data_dir.mkdir()
    _write_files(data_dir, [_line(f) for f in fixture_frames()], per_file=40)
    results = build_processing_results(
        detect_motion_stream(file_frame_stream(spark, str(data_dir))),
        image_dir=str(tmp_path / "images"),
        faithful_count=True,
    )
    q = write_results_stream(results, str(tmp_path / "out"), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        plan = q._jsq.explainInternal(True)
    finally:
        q.stop()
    physical = plan[plan.index("== Physical Plan =="):]
    assert "FileScan json" in physical
    assert "data:binary" in physical
    assert "unbase64" not in plan.lower()
    # one results row per motion frame: frames 5-9 of each camera
    assert spark.read.parquet(str(tmp_path / "out")).count() == 20


def _wire_batch(spark, frames):
    """Batch frames through the wire parse: replay lines -> parse_frames."""
    return parse_frames(
        spark.createDataFrame([(_line(f),) for f in frames], "value string")
    )


def test_kafka_payload_round_trip_is_byte_identical(spark):
    """to_json writes binary ``data`` as standard padded base64, so a
    wire-parsed frame produced to Kafka and consumed again is the same row,
    and its payload carries the producer's base64 text unchanged."""
    frames = fixture_frames()
    parsed = _wire_batch(spark, frames)
    assert dict(parsed.dtypes)["data"] == "binary"
    payload = kafka_frame_payload(parsed).collect()
    recs = [json.loads(r["value"]) for r in payload]
    assert [r["key"] for r in payload] == [rec["camId"] for rec in recs]
    assert sorted(rec["data"] for rec in recs) == sorted(_b64(f) for f in frames)
    again = parse_frames(kafka_frame_payload(parsed))
    assert sorted(again.collect()) == sorted(parsed.collect())
    assert again.count() == 40


def test_resize_frames_accepts_binary_data(spark):
    """Binary ``data`` in, binary out: each frame's pixels are what
    ``resize_payload`` gives for its bytes (decoding raw bytes as base64
    would silently yield garbage)."""
    frames = fixture_frames()[:3]
    wire = resize_frames(_wire_batch(spark, frames), out_h=24, out_w=32)
    assert dict(wire.dtypes)["data"] == "binary"
    got = sorted((_row_key(r), bytes(r["data"])) for r in wire.collect())
    want = sorted(
        (_key(f), resize_payload(f["data"], f["rows"], f["cols"], 24, 32))
        for f in frames
    )
    assert got == want
    assert all(len(d) == 24 * 32 * 3 for _, d in got)


def test_fps_and_joins_unchanged_on_binary_frames(spark):
    """camera_fps and the stream-static and interval joins give the same
    rows on wire-parsed frames as on frames built in-engine, and carry the
    fixture's pixel bytes. (Their streaming runs, and the dedup's, read
    through ``file_frame_stream`` in tests/test_streaming.py.)"""
    frames = fixture_frames()
    wire = _wire_batch(spark, frames)
    engine = spark.createDataFrame(frames, FRAME_SCHEMA)
    cameras = spark.createDataFrame([("cam0", "lobby"), ("cam1", "gate")], ["camId", "location"])

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    for build, cols in (
        (lambda d: camera_fps(d), ["window", "camId", "frames", "fps"]),
        (lambda d: enrich_with_cameras(d, cameras), ["camId", "timestamp", "location"]),
        (lambda d: interval_join_streams(d, d), ["l_key", "l_ts", "r_ts"]),
    ):
        assert rows(build(wire), cols) == rows(build(engine), cols)
    assert rows(enrich_with_cameras(wire, cameras), ["camId", "data"]) == sorted(
        (f["camId"], bytearray(f["data"])) for f in frames
    )


def test_old_checkpoint_resumes_under_binary_parse(spark, tmp_path):
    """A stream checkpointed by the earlier plan (``text`` source,
    ``from_json`` with string ``data``, ``unbase64`` before the keyBy)
    restarts under ``file_frame_stream``: the file offsets and the motion
    state ``(rows, cols, gray, ts_us)`` carry over, and the rows equal an
    uninterrupted run's."""
    frames = sorted(fixture_frames(), key=lambda f: f["timestamp"])
    half = len(frames) // 2  # every camera has frames 0-4: frame 5 needs state
    data_dir = tmp_path / "frames"
    data_dir.mkdir()
    p1 = data_dir / "part1.json"
    p1.write_text("\n".join(_line(f) for f in frames[:half]))
    os.utime(p1, (1_700_000_000, 1_700_000_000))

    def run(motion, out, ck):
        q = (
            motion.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    old_plan = detect_motion_stream(
        _parse_lenient(spark.readStream.schema("value string").text(str(data_dir)))
    )
    run(old_plan, tmp_path / "out", tmp_path / "ck")
    assert spark.read.parquet(str(tmp_path / "out")).count() == half

    p2 = data_dir / "part2.json"
    p2.write_text("\n".join(_line(f) for f in frames[half:]))
    os.utime(p2, (1_700_000_001, 1_700_000_001))
    run(
        detect_motion_stream(file_frame_stream(spark, str(data_dir))),
        tmp_path / "out",
        tmp_path / "ck",
    )
    run(
        detect_motion_stream(file_frame_stream(spark, str(data_dir))),
        tmp_path / "out_whole",
        tmp_path / "ck_whole",
    )
    resumed = spark.read.parquet(str(tmp_path / "out")).collect()
    whole = spark.read.parquet(str(tmp_path / "out_whole")).collect()
    assert len(resumed) == len(frames)
    assert _motion_key(resumed) == _motion_key(whole)
    by_key = {_row_key(r): r for r in resumed}
    assert all(by_key[(f"cam{c}", 5)]["detection_count"] == 1 for c in range(4))
    state = spark.read.format("statestore").load(str(tmp_path / "ck"))
    layout = state.schema["value"].dataType["groupState"].dataType
    assert layout.names == ["rows", "cols", "gray", "ts_us"]
