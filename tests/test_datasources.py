"""The per-file Data Source contract, parametrized over the format table
(sources/datasources.py::FORMATS), so every format — and the next one
added — is held to the same rules:

1. **Loud failure** — a batch read of an empty directory or a missing
   path raises ValueError at planning time (``partitions()``): a typo'd
   ``.load()`` must not read as a silently-empty DataFrame (ADVICE r6).
2. **One partition per file** — a single file lists as exactly one
   partition, and a directory lists each matching file.
3. **Empty-dir stream start** — the stream reader starts at ``{"n": 0}``
   on an empty directory (files arrive later).
4. **Batch == stream rows** — both readers emit byte-identical rows for
   the same file.
5. **Binary frame rows** — every in-engine frame producer (the frame
   formats, ``read_video_files``, ``fixture_frames``) emits
   ``schemas.FRAME_SCHEMA`` rows whose ``data`` is the decoder's raw BGR
   bytes, so the motion plan decodes no base64.
"""

from __future__ import annotations

import re

import numpy as np
import pytest

from pyspark.sql import types as T

from distributed_video_analytics_flink_spark.operators.video import (
    detect_motion_batch,
    fixture_frames,
)
from distributed_video_analytics_flink_spark.plans.inspect import formatted_plan
from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA
from distributed_video_analytics_flink_spark.sources.apng import (
    decode_apng_permissive,
    encode_apng,
)
from distributed_video_analytics_flink_spark.sources.avi import decode_avi, encode_avi
from distributed_video_analytics_flink_spark.sources.datasources import (
    FORMATS,
    FilePartition,
    FileReader,
    FileStreamReader,
    register_sources,
)
from distributed_video_analytics_flink_spark.sources.gif import (
    decode_gif_permissive,
    encode_gif,
)
from distributed_video_analytics_flink_spark.sources.video_files import read_video_files
from distributed_video_analytics_flink_spark.sources.warc import build_warc
from distributed_video_analytics_flink_spark.sources.wav import encode_wav
from distributed_video_analytics_flink_spark.sources.y4m import decode_y4m, encode_y4m
from tests.test_avi import _bgr_square_frames
from tests.test_y4m import _square_planes


def _fixture(name: str) -> tuple[str, bytes]:
    """One small decodable file per format: (file name, bytes)."""
    frames = _bgr_square_frames(16, 16, [0, 4], 6)
    if name == "y4m":
        planes = [_square_planes(16, 16, x, 6) for x in (0, 4)]
        return "cam0.y4m", encode_y4m(planes)
    if name in ("avi", "videochunks"):
        return "cam0.avi", encode_avi(frames)
    if name == "gif":
        return "cam0.gif", encode_gif(frames)
    if name == "apng":
        return "cam0.apng", encode_apng(frames)
    if name == "wavaudio":
        t = np.arange(800)
        pcm = (8000 * np.sin(2 * np.pi * 440 * t / 8000)).astype(np.int16)
        return "clip0.wav", encode_wav(pcm, 8000)
    if name == "warc":
        rec = {
            "warc_type": "response",
            "target_uri": "http://a.example/",
            "http_body": b"<p>hello</p>",
        }
        return "seg0.warc", build_warc([rec])
    raise AssertionError(f"no fixture for format {name!r}: add one here")


@pytest.mark.parametrize("name", list(FORMATS))
def test_loud_failure_contract(name, tmp_path):
    exts = FORMATS[name].exts
    # for avi this is the historic ``no \*\.avi files`` match
    empty = "no " + " / ".join(re.escape(f"*.{e}") for e in exts) + " files"
    with pytest.raises(ValueError, match=empty):
        FileReader(name, {"path": str(tmp_path)}).partitions()
    with pytest.raises(ValueError, match="does not exist"):
        FileReader(name, {"path": str(tmp_path / f"nope.{exts[0]}")}).partitions()
    with pytest.raises(ValueError, match="requires a path"):
        FileReader(name, {})

    # the stream starts on the empty directory; a missing path still raises
    stream = FileStreamReader(name, {"path": str(tmp_path)})
    assert stream.initialOffset() == {"n": 0}
    assert stream.latestOffset() == {"n": 0}
    with pytest.raises(ValueError, match="does not exist"):
        FileStreamReader(name, {"path": str(tmp_path / "nope")}).latestOffset()

    fname, blob = _fixture(name)
    p = tmp_path / fname
    p.write_bytes(blob)
    (tmp_path / "notes.txt").write_bytes(b"not a media file")
    for path in (p, tmp_path):  # a single file, and its directory
        parts = FileReader(name, {"path": str(path)}).partitions()
        assert [fp.path for fp in parts] == [str(p)]
    assert stream.latestOffset() == {"n": 1}


@pytest.mark.parametrize("name", list(FORMATS))
def test_batch_and_stream_rows_identical(name, tmp_path):
    fname, blob = _fixture(name)
    (tmp_path / fname).write_bytes(blob)
    opts = {"path": str(tmp_path)}
    (part,) = FileReader(name, opts).partitions()
    batch = list(FileReader(name, opts).read(part))
    stream = FileStreamReader(name, opts)
    (spart,) = stream.partitions(stream.initialOffset(), stream.latestOffset())
    assert isinstance(spart, FilePartition) and spart.path == part.path
    assert batch, f"{name} fixture decoded to zero rows"
    assert list(stream.read(spart)) == batch


# each frame format's container decoder: (data, max_frames) -> (header, BGR frames)
_DECODERS = {
    "y4m": decode_y4m,
    "avi": decode_avi,
    "gif": decode_gif_permissive,
    "apng": decode_apng_permissive,
}
_FRAME_FORMATS = list(_DECODERS)


def _fixture_pixels(cam: int, i: int) -> bytes:
    """FIXTURES.md §1.1 at 48x64: gray 50, from frame 5 a 24x24 block of
    200 at (8, 8 + 12 * (i - 5))."""
    px = np.full((48, 64, 3), 50, dtype=np.uint8)
    if i >= 5:
        px[8:32, 8 + 12 * (i - 5) : 32 + 12 * (i - 5), :] = 200
    return px.tobytes()


@pytest.mark.parametrize("producer", _FRAME_FORMATS + ["read_video_files", "fixture_frames"])
def test_frame_producers_emit_binary_pixels(spark, tmp_path, producer):
    """``data`` is binary and holds the decoder's BGR bytes, frame by frame
    in timestamp order, and the motion plan over the rows has no
    ``unbase64``."""
    assert [n for n, f in FORMATS.items() if f.schema is FRAME_SCHEMA] == _FRAME_FORMATS
    want: dict[str, list[bytes]] = {}
    if producer == "fixture_frames":
        df = spark.createDataFrame(fixture_frames(), FRAME_SCHEMA)
        for cam in range(4):
            want[f"cam{cam}"] = [_fixture_pixels(cam, i) for i in range(10)]
    else:
        names = _FRAME_FORMATS if producer == "read_video_files" else [producer]
        for name in names:
            fname, blob = _fixture(name)
            cam = f"{name}cam"
            (tmp_path / fname.replace("cam0", cam)).write_bytes(blob)
            _, frames = _DECODERS[name](blob, 64)
            want[cam] = [f.tobytes() for f in frames]
        if producer == "read_video_files":
            # the fixtures' native dims: no resize, so the bytes are the decoder's
            df = read_video_files(spark, str(tmp_path), rows=16, cols=16)
        else:
            register_sources(spark)
            df = spark.read.format(producer).load(str(tmp_path))
    assert df.schema["data"].dataType == T.BinaryType()
    got: dict[str, list[bytes]] = {}
    for r in df.orderBy("camId", "timestamp").collect():
        got.setdefault(r["camId"], []).append(bytes(r["data"]))
    assert got == want and all(got.values())
    assert "unbase64" not in formatted_plan(detect_motion_batch(df)).lower()
