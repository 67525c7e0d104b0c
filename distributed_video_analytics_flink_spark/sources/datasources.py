"""Spark 4 Python Data Sources for every per-file ingest format,
table-driven: one :data:`FORMATS` row per format name (file extensions,
DDL schema, ``path -> rows`` function), one batch reader, one stream
reader and one registration call, so a listing, offset or timestamp fix
lands once for every format.

    register_sources(spark)
    frames = spark.read.format("y4m").load("/data/cams")
    live   = spark.readStream.format("videochunks").load("/data/cams")

SPARK-44076's Python Data Source API lets the pure-stdlib decoders plug
into the reader surface itself, so each container is a first-class
format instead of a binaryFile+mapInPandas recipe. The formats:

- ``y4m``, ``avi``, ``gif``, ``apng``: frame rows (schemas.
  FRAME_SCHEMA, raw BGR pixels) that feed ``detect_motion_batch``
  unchanged. Each is its row of the container table
  (video_files.CONTAINERS) under the table's one bad-file policy
  (``video_files.permissive``): a corrupt header gives the file zero
  rows, a corrupt tail ends it after the good prefix — the same frames
  ``read_video_files`` decodes, before its resize.
- ``videochunks``: compressed passthrough for the r9 shuffle posture.
  MJPEG AVI/MP4 files are demuxed by pure offset math on the scan
  partition and emitted still encoded, so the motion keyBy exchange
  carries ~40 KB JPEG payloads instead of ~921 KB decoded BGR; the
  entropy decode runs post-shuffle inside the motion fold. Non-MJPEG
  containers (raw-DIB AVI, Y4M) decode source-side and flow through the
  same schema as codec='raw-bgr', so one format string covers a mixed
  camera corpus. Rows are byte-identical to ``read_video_chunks``
  (shared ``video_files.iter_chunk_rows``).
- ``wavaudio``: ONE feature row per clip — clips never ship anywhere;
  only integers move downstream, the multimodal posture at 100 TB. The
  row is the single shared :func:`audio_feature_row`, so the binaryFile
  scan and this format cannot drift on which clips decode (PCM-16 WAV),
  stub (mp3/ogg/flac), or error (junk) — a bad clip is an error ROW,
  never a dead task. Audio is the engine's LLM-training-data extension;
  the reference is video-only (SURVEY.md §2).
- ``warc``: web-corpus ingest, one partition per SEGMENT FILE (Common
  Crawl ships ~1 GB .warc.gz segments — the file is the natural work
  unit) via the one shared :func:`warc_record_rows`: a truncated segment
  yields its readable prefix plus one error row, never a dead task.

Scale posture: one InputPartition per FILE — decode executes where Spark
schedules the partition, frames never ship compressed through a shuffle
to a decode stage, and a directory of N files reads N-way parallel (the
same decode-on-the-partition stance as read_video_files, COVERAGE.md
S4). Per-file decode is the right granularity for GIF and APNG
specifically: frames composite over prior-canvas state (sources/gif.py;
fcTL dispose/blend ops in sources/apng.py), so one file is the smallest
independently decodable unit — splitting below file level is
semantically impossible, not just unprofitable. The reference's OpenCV
file scan (VideoEventCreator.java:54-96, which reads GIF and APNG
through ffmpeg) is the behavioral model.

Column-pruning honesty (``warc``): Spark's Python Data Source API does
NOT push projection into the reader (plan-verified: the BatchScan lists
every column; the Project sits above it), so ``body`` bytes DO cross the
one Python->JVM Arrow hop even for metadata-only queries — but they are
projected out before any exchange, so page bytes never move BETWEEN
executors. Parsing at the source still beats shipping whole segments:
the alternative (binaryFile + mapInPandas) pays the same Arrow hop on
strictly more bytes (the raw segment)."""

from __future__ import annotations

import datetime as _dt
import glob as _glob
import os
from collections.abc import Callable, Iterator
from typing import NamedTuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA
from distributed_video_analytics_flink_spark.sources.audio_files import (
    AUDIO_FEATURES_DDL,
    audio_feature_row,
)
from distributed_video_analytics_flink_spark.sources.video_files import (
    _EPOCH_US,
    CHUNK_SCHEMA,
    CONTAINERS,
    FRAME_INTERVAL_MS,
    iter_chunk_rows,
    permissive,
)
from distributed_video_analytics_flink_spark.sources.warc import (
    WARC_RECORDS_DDL,
    warc_record_rows,
)


def _read_file(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _cam_id(path: str) -> str:
    return os.path.splitext(os.path.basename(path))[0]


def _utc(ts_us: int) -> _dt.datetime:
    """Microseconds since the epoch as the naive UTC datetime Spark's
    ``timestamp`` column takes."""
    return _dt.datetime.fromtimestamp(ts_us / 1e6, tz=_dt.timezone.utc).replace(
        tzinfo=None
    )


def _chunk_rows(
    path: str, rows: int, cols: int, maxframesperfile: int
) -> Iterator[tuple]:
    data = _read_file(path)
    for r in iter_chunk_rows(data, _cam_id(path), rows, cols, maxframesperfile):
        yield (r[0], _utc(r[1])) + r[2:]


# audio_feature_row returns a dict; the column order is the DDL's own
_AUDIO_COLUMNS = tuple(c.split()[0] for c in AUDIO_FEATURES_DDL.split(","))


def _audio_rows(path: str) -> Iterator[tuple]:
    """One clip -> one feature tuple in AUDIO_FEATURES_DDL column order."""
    r = audio_feature_row(path, _read_file(path))
    yield tuple(r[c] for c in _AUDIO_COLUMNS)


def _warc_rows(path: str) -> Iterator[tuple]:
    yield from warc_record_rows(path, _read_file(path))


class Format(NamedTuple):
    exts: tuple[str, ...]  # a directory lists every ``*.{ext}``
    schema: str | StructType  # DDL, or the shared frame StructType
    rows: Callable[..., Iterator[tuple]]  # (path, **options) -> rows
    options: dict[str, int]  # settable int option -> default


def _frame_format(kind: str) -> Format:
    """A frame format: the ``kind`` row of the container table under the
    one bad-file policy (``video_files.permissive``); rows are in
    FRAME_SCHEMA order at the container's own dims, camId from the file
    stem, timestamps paced FRAME_INTERVAL_MS from the deterministic
    epoch."""
    frames_of = permissive(CONTAINERS[kind].decode, CONTAINERS[kind].err)

    def rows(path: str, maxframesperfile: int) -> Iterator[tuple]:
        data = _read_file(path)
        cam = _cam_id(path)
        for i, bgr in enumerate(frames_of(data, maxframesperfile) or ()):
            yield (
                cam,
                _utc(_EPOCH_US + i * FRAME_INTERVAL_MS * 1000),
                int(bgr.shape[0]),
                int(bgr.shape[1]),
                16,  # CV_8UC3
                bgr.tobytes(),
            )

    return Format((kind,), FRAME_SCHEMA, rows, {"maxframesperfile": 64})


FORMATS: dict[str, Format] = {
    **{kind: _frame_format(kind) for kind in ("y4m", "avi", "gif", "apng")},
    # ONE schema string by design (r14 review): format("videochunks")
    # rows and read_video_chunks rows must never drift — the shared
    # iter_chunk_rows exists for exactly that, and the schema rides
    # along with it.
    "videochunks": Format(
        ("avi", "mp4", "y4m", "gif", "apng"),
        CHUNK_SCHEMA,
        _chunk_rows,
        {"rows": 480, "cols": 640, "maxframesperfile": 64},
    ),
    # The same container set read_audio_features globs: the format must
    # list every clip the binaryFile path would, INCLUDING the compressed
    # formats whose honest stub rows are part of the contract — listing
    # only *.wav would silently drop an mp3 the other path reports (r12
    # review).
    "wavaudio": Format(
        ("wav", "mp3", "ogg", "flac"), AUDIO_FEATURES_DDL, _audio_rows, {}
    ),
    "warc": Format(("warc", "warc.gz"), WARC_RECORDS_DDL, _warc_rows, {}),
}


class FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _FileScan:
    """What the batch and stream readers share: the load path, the
    format's int options (parsed here, on the driver, so a bad value
    fails at planning time), the one listing, and the row emission —
    decode runs on the executor that holds the file's partition."""

    kind: str  # "source" (batch) or "stream", as error messages name it

    def __init__(self, name: str, options: dict):
        self._name = name
        self._path = options.get("path")
        if not self._path:
            raise ValueError(
                f"{name} {self.kind} requires a path: .load('/dir/or/file')"
            )
        defaults = FORMATS[name].options
        self._opts = {k: int(options.get(k, d)) for k, d in defaults.items()}

    def _listing(self) -> list[str]:
        """Sorted listing: a directory lists every ``*.{ext}`` of the
        format, a single file is itself the one entry. An empty directory
        is a legal stream start (files arrive later) but a batch error."""
        exts, path = FORMATS[self._name].exts, self._path
        if os.path.isdir(path):
            files = sorted(
                f for ext in exts for f in _glob.glob(os.path.join(path, f"*.{ext}"))
            )
            if not files and self.kind == "source":
                # a typo'd directory must fail loudly at planning time,
                # not yield a silently-empty DataFrame (ADVICE r6)
                pattern = " / ".join(f"*.{e}" for e in exts)
                raise ValueError(f"no {pattern} files under directory {path!r}")
            return files
        if not os.path.isfile(path):
            raise ValueError(f"{self._name} {self.kind} path does not exist: {path!r}")
        return [path]

    def read(self, partition: FilePartition) -> Iterator[tuple]:
        yield from FORMATS[self._name].rows(partition.path, **self._opts)


class FileReader(_FileScan, DataSourceReader):
    """Batch read: one InputPartition per listed file."""

    kind = "source"

    def partitions(self) -> list[FilePartition]:
        return [FilePartition(p) for p in self._listing()]


class FileStreamReader(_FileScan, DataSourceStreamReader):
    """Micro-batch stream over a growing directory of files — the
    Structured-Streaming leg of every format (the engine's file-replay
    analog of the reference's continuous Kafka frame ingest).

    Offset model: ``{"n": <files consumed>}`` against the directory's
    SORTED listing. Contract: the directory is append-only with
    lexicographically increasing names (camera dumps — ``cam-<ts>.avi``
    — satisfy this); a file inserted before already-consumed names is
    not picked up. Each file becomes one InputPartition, decoded on the
    executor exactly like the batch reader, so batch and stream emit
    byte-identical rows for the same file. An empty directory is a
    legal stream start (files arrive later), unlike the batch reader's
    planning-time error."""

    kind = "stream"

    def initialOffset(self) -> dict:
        return {"n": 0}

    def latestOffset(self) -> dict:
        # NO trigger pacing on purpose (r16 review): a maxFilesPerTrigger
        # analog needs admission control — latestOffset(start, limit) — so
        # a restarted query's first announcement can be floored at the
        # committed offset. The Python stream API exposes plain
        # latestOffset() only, and a fresh reader announcing LESS than the
        # committed offset makes Spark commit the regression and replay
        # already-consumed files. Tests that need multi-batch delivery
        # append files between processAllAvailable calls instead (the
        # directory contract this source is built for).
        return {"n": len(self._listing())}

    def partitions(self, start: dict, end: dict) -> list[FilePartition]:
        return [FilePartition(p) for p in self._listing()[start["n"] : end["n"]]]

    def commit(self, end: dict) -> None:
        pass  # offsets are positions in a durable listing: nothing to clean

    def stop(self) -> None:
        pass


class _FileDataSource(DataSource):
    format_name: str  # set on each registered subclass

    @classmethod
    def name(cls) -> str:
        return cls.format_name

    def schema(self) -> str | StructType:
        return FORMATS[self.format_name].schema

    def reader(self, schema) -> FileReader:
        return FileReader(self.format_name, self.options)

    def streamReader(self, schema) -> FileStreamReader:
        return FileStreamReader(self.format_name, self.options)


# DataSource.name() is a classmethod, so each format needs its own class
_SOURCES = [
    type(f"{name}DataSource", (_FileDataSource,), {"format_name": name})
    for name in FORMATS
]


def register_sources(spark) -> None:
    """Idempotent registration of every format in FORMATS on a session."""
    for source in _SOURCES:
        spark.dataSource.register(source)
