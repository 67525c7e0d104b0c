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
6. **One bad-file policy per container** — parametrized over the
   container table (sources/video_files.py::CONTAINERS): each row's
   fixture sniffs as that row; a corrupt header gives zero frames through
   ``decode_frames``, ``iter_chunk_rows`` and ``format(kind)`` (MP4: the
   codec stub, its row's own rule); a truncated tail gives the good
   prefix on every path, with no exception.
"""

from __future__ import annotations

import re
import struct

import numpy as np
import pytest

from pyspark.sql import types as T

from distributed_video_analytics_flink_spark.operators.video import (
    detect_motion_batch,
    fixture_frames,
)
from distributed_video_analytics_flink_spark.plans.inspect import formatted_plan
from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA
from distributed_video_analytics_flink_spark.functions.png import encode_png_bgr
from distributed_video_analytics_flink_spark.sources.apng import encode_apng
from distributed_video_analytics_flink_spark.sources.avi import encode_avi
from distributed_video_analytics_flink_spark.sources.datasources import (
    FORMATS,
    FilePartition,
    FileReader,
    FileStreamReader,
    register_sources,
)
from distributed_video_analytics_flink_spark.sources.gif import encode_gif
from distributed_video_analytics_flink_spark.sources.mp4 import encode_mp4_mjpeg
from distributed_video_analytics_flink_spark.sources.video_files import (
    CONTAINERS,
    _decode_frames_stub,
    decode_chunk_to_pixels,
    decode_frames,
    iter_chunk_rows,
    permissive,
    read_video_files,
    sniff_container,
)
from distributed_video_analytics_flink_spark.sources.warc import build_warc
from distributed_video_analytics_flink_spark.sources.wav import encode_wav
from distributed_video_analytics_flink_spark.sources.y4m import encode_y4m
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


_FRAME_FORMATS = ["y4m", "avi", "gif", "apng"]


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
            frames = permissive(CONTAINERS[name].decode, CONTAINERS[name].err)(blob, 64)
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


def _moov_first(mp4: bytes) -> bytes:
    """The same MJPEG MP4 with moov ahead of mdat (stco offsets moved), so
    cutting the file's tail cuts the last sample, not the sample tables."""
    ftyp = struct.unpack(">I", mp4[:4])[0]
    mdat = mp4[ftyp : ftyp + struct.unpack(">I", mp4[ftyp : ftyp + 4])[0]]
    moov = bytearray(mp4[ftyp + len(mdat) :])
    at = moov.index(b"stco") + 8
    for i in range(struct.unpack_from(">I", moov, at)[0]):
        off = at + 4 + 4 * i
        struct.pack_into(">I", moov, off, struct.unpack_from(">I", moov, off)[0] + len(moov))
    return mp4[:ftyp] + bytes(moov) + mdat


def _container_fixture(case: str) -> tuple[bytes, bytes]:
    """(file, header-corrupt copy) for one container-table case: three
    16x16 frames (a PNG still: one); the corrupt copy keeps the magic
    bytes and garbles the eight header bytes after them (MP4: the start
    of moov)."""
    frames = _bgr_square_frames(16, 16, [0, 4, 8], 6)
    blob = {
        "y4m": lambda: encode_y4m([_square_planes(16, 16, x, 6) for x in (0, 4, 8)]),
        "avi": lambda: encode_avi(frames),
        "avi-mjpeg": lambda: encode_avi(frames, codec="mjpeg", quality=90),
        "apng": lambda: encode_apng(frames),
        "png": lambda: encode_png_bgr(frames[0]),
        "gif": lambda: encode_gif(frames),
        "mp4": lambda: _moov_first(encode_mp4_mjpeg(frames, quality=90)),
    }[case]()
    at = {"y4m": 10, "apng": 16, "png": 16, "gif": 6}.get(case, 12)
    if case == "mp4":
        at = blob.index(b"moov") + 4
    return blob, blob[:at] + b"\xff" * 8 + blob[at + 8 :]


_CONTAINER_CASES = ["y4m", "avi", "avi-mjpeg", "apng", "png", "gif", "mp4"]


def _every_path(tmp_path, kind: str, data: bytes) -> dict[str, list[bytes]]:
    """The file's frame pixels through each ingest path, at native dims:
    decode-first, the passthrough (chunks decoded as the motion fold
    does, skips dropped), and ``format(kind)`` where that format exists."""
    out = {"decode_frames": [f.tobytes() for f in decode_frames(data, 16, 16, 64)]}
    expect: dict = {}
    pix = (
        decode_chunk_to_pixels(expect, cam, *rest)
        for cam, _ts, *rest in iter_chunk_rows(data, "cam", 16, 16, 64)
    )
    out["iter_chunk_rows"] = [p for p in pix if p is not Ellipsis]
    if kind in FORMATS:
        path = tmp_path / f"cam.{kind}"
        path.write_bytes(data)
        out["format"] = [r[5] for r in FORMATS[kind].rows(str(path), maxframesperfile=64)]
    return out


@pytest.mark.parametrize("case", _CONTAINER_CASES)
def test_container_table_bad_file_policy(case, tmp_path):
    assert {c.split("-")[0] for c in _CONTAINER_CASES} == set(CONTAINERS)
    kind = case.split("-")[0]
    blob, corrupt = _container_fixture(case)
    assert sniff_container(blob) == kind == sniff_container(corrupt)
    clean = _every_path(tmp_path, kind, blob)
    want = clean["decode_frames"]
    assert len(want) == (1 if kind == "png" else 3)
    assert all(got == want for got in clean.values())

    # a corrupt header: zero frames, or the MP4 row's codec stub
    stub = [f.tobytes() for f in _decode_frames_stub(corrupt, 16, 16, 64)]
    for name, got in _every_path(tmp_path, kind, corrupt).items():
        assert got == (stub if kind == "mp4" else []), name

    # a truncated tail: the good prefix (a still has only IEND to lose)
    for name, got in _every_path(tmp_path, kind, blob[:-20]).items():
        assert got == want[: len(got)], name
        assert 0 < len(got) < len(want) or kind == "png", name
