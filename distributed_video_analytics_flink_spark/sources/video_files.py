"""S4: video-file ingestion (SURVEY.md §2.1) — the batch analog of the
producer's OpenCV ``VideoCapture`` scan (VideoEventCreator.java:54-96: open
file or device, read frames, resize to 640x480, pace at ~30 fps).

Spark shape: ``spark.read.format("binaryFile")`` scans the files (one
partition per file up to maxPartitionBytes — embarrassingly parallel across
a 100 TB video corpus), then a ``mapInPandas`` extractor turns each file's
bytes into frame rows (FRAME_SCHEMA: camId from the file stem,
timestamps paced 33 ms apart, raw BGR payloads).

Every container is ONE row of :data:`CONTAINERS`: its magic-byte test, its
strict decoder and that decoder's error class, its metadata probe and,
for MJPEG carriers, its demux. :func:`sniff_container` names the row by
content, never by extension, and every consumer is a lookup in the table:
:func:`decode_frames` (``read_video_files`` and the raw-bgr rows of the
compressed passthrough), :func:`iter_chunk_rows` (the passthrough),
:func:`video_container_metadata` and the ``y4m``/``avi``/``gif``/``apng``
Data Sources (sources/datasources.py). One bad-file policy,
:func:`permissive`, holds for all of them: a header error gives zero
frames, a tail error ends the stream after the good prefix. MJPEG chunks
take one per-chunk rule (sources/mjpeg.py) whether they decode at the
source or after the shuffle.

The rows: Y4M (sources/y4m.py), AVI — raw-DIB BGR and per-chunk MJPEG
(sources/avi.py), animated PNG (sources/apng.py, sniffed before the still
PNG row), PNG stills (functions/png.py), animated GIF with inter-frame
compositing (sources/gif.py), and MP4 whose video track carries
Motion-JPEG samples (sources/mp4.py). Frames take the engine's own
bicubic resize to the target dims (functions/resize.py, the analog of
VideoEventCreator.java:75's cv2.resize), so genuine video bytes flow
end-to-end through the motion pipeline with zero codec dependency.

MOTION-COMPENSATED codecs (avc1/H.264 etc.) remain a STUB: this container
ships no cv2/ffmpeg, so an MP4 whose track is not MJPEG or does not parse
(the MP4 row's own rule) and any unrecognised bytes fall to
``_decode_frames_stub``, which synthesizes deterministic frames from the
file bytes (content-seeded, reproducible). The binaryFile scan,
partitioning, Arrow batching, schema, and pacing are the production path
— swap the stub for a ``cv2.VideoCapture`` loop when codecs exist.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_video_analytics_flink_spark.functions.png import decode_png
from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA
from distributed_video_analytics_flink_spark.sources.apng import (
    ApngError,
    decode_apng,
    is_apng,
    probe_apng,
)
from distributed_video_analytics_flink_spark.sources.avi import (
    AviError,
    decode_avi,
    demux_mjpeg_avi,
    is_avi,
    probe_avi,
)
from distributed_video_analytics_flink_spark.sources.gif import (
    GifError,
    decode_gif,
    is_gif,
    probe_gif,
)
from distributed_video_analytics_flink_spark.sources.mjpeg import decode_mjpeg_chunk
from distributed_video_analytics_flink_spark.sources.mp4 import (
    Mp4Error,
    decode_mp4,
    demux_mjpeg_mp4,
    probe_mp4,
)
from distributed_video_analytics_flink_spark.sources.y4m import (
    Y4M_MAGIC,
    Y4MError,
    decode_y4m,
    probe_y4m,
)

FRAME_INTERVAL_MS = 33  # ~30 fps pacing (VideoEventCreator.java:78)
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z; deterministic base


def _decode_frames_stub(
    content: bytes, rows: int, cols: int, max_frames: int
) -> Iterator[np.ndarray]:
    """STUB decoder: yields deterministic (rows, cols, 3) uint8 frames
    seeded from the file bytes. A real build replaces this generator with
    cv2.VideoCapture frame reads + resize; nothing else changes."""
    n = min(max_frames, max(1, len(content) // 4096))
    digest = hashlib.sha256(content).digest()
    seed = int.from_bytes(digest[:8], "big")
    rng = np.random.default_rng(seed)
    # dark noise base + saturated moving block: the 16px step leaves
    # 16x32 = 512px edge strips, comfortably over the 300px area gate, and
    # the >=127 contrast survives the 3x3 blur everywhere in the strip
    base = rng.integers(0, 128, size=(rows, cols, 3), dtype=np.uint8)
    side = min(32, rows - 8, cols)
    for i in range(n):
        frame = base.copy()
        x0 = (16 * i) % max(1, cols - side)
        frame[8 : 8 + side, x0 : x0 + side, :] = 255
        yield frame


def _resized(frames: Iterator[np.ndarray], rows: int, cols: int) -> Iterator[np.ndarray]:
    from distributed_video_analytics_flink_spark.functions.resize import cubic_resize

    for bgr in frames:
        if bgr.shape[:2] != (rows, cols):
            bgr = cubic_resize(bgr, rows, cols)
        yield bgr


# the all-null metadata row for a container whose probe fails — ONE
# definition (r14 review: four copy-pasted fromkeys tuples meant a new
# metadata column could miss a corrupt-file branch and KeyError at
# row-build time, the branch hardest to hit in tests)
_META_KEYS = ("duration_s", "width", "height", "n_frames", "codec", "fps")


def _null_meta() -> dict:
    return dict.fromkeys(_META_KEYS)


def _png_still(data: bytes, max_frames: int) -> Iterator[np.ndarray]:
    """A PNG still is one frame (functions/png.py::decode_png: all five
    scanline filters, gray/RGB/RGBA) — the engine's own annotated
    side-output PNGs ingest as pixel rows. Unsupported subsets (16-bit,
    palette, interlaced) raise, so they give no rows."""
    return iter((decode_png(data),))


def _probe_png(data: bytes) -> dict:
    w, h = struct.unpack(">II", data[16:24])  # IHDR is always the first chunk
    return {**_null_meta(), "width": float(w), "height": float(h), "n_frames": 1, "codec": "png"}


class Container(NamedTuple):
    test: Callable[[bytes], bool]  # magic bytes
    decode: Callable[[bytes, int], Iterator[np.ndarray]]  # strict: raises err
    err: type[Exception] | tuple[type[Exception], ...]
    probe: Callable[[bytes], dict]  # metadata dict; raises err
    # MJPEG carriers: (data, max_frames) -> (src_rows, src_cols, JPEG bytes)
    # per chunk, raising err on a bad header or a stream that is not MJPEG
    demux: Callable[[bytes, int], Iterator[tuple[int, int, bytes]]] | None = None
    # a header error means "a codec this engine does not decode": the stub
    stub_on_error: bool = False


# sniffed in this order (APNG before the still PNG it extends)
CONTAINERS: dict[str, Container] = {
    "y4m": Container(
        lambda b: b.startswith(Y4M_MAGIC),
        lambda b, n: decode_y4m(b, n)[1],
        Y4MError,
        probe_y4m,
    ),
    "avi": Container(
        is_avi, lambda b, n: decode_avi(b, n)[1], AviError, probe_avi, demux_mjpeg_avi
    ),
    "apng": Container(is_apng, decode_apng, ApngError, probe_apng),
    "png": Container(
        lambda b: b.startswith(b"\x89PNG"),
        _png_still,
        (ValueError, zlib.error, struct.error),
        _probe_png,
    ),
    "gif": Container(is_gif, decode_gif, GifError, probe_gif),
    # probe_mp4 never raises, and it also probes unrecognised bytes
    "mp4": Container(
        lambda b: len(b) >= 12 and b[4:8] == b"ftyp",
        lambda b, n: decode_mp4(b, n)[1],
        Mp4Error,
        probe_mp4,
        demux_mjpeg_mp4,
        stub_on_error=True,
    ),
}


def sniff_container(raw: bytes) -> str | None:
    """The one magic-byte container test: the first :data:`CONTAINERS`
    kind whose test passes, or None for unrecognised bytes."""
    return next((kind for kind, c in CONTAINERS.items() if c.test(raw)), None)


def permissive(
    decode: Callable[[bytes, int], Iterator], err
) -> Callable[[bytes, int], Iterator | None]:
    """The one bad-file policy over a strict ``(data, max_frames) ->
    iterator`` decoder or demux: a header error (raised eagerly, by the
    call) gives None — no frames; an ``err`` raised mid-iteration ends the
    stream after the good prefix. A corrupt file never kills the task.
    ``err`` stays format-specific on purpose: catching ValueError broadly
    would also mask genuine decoder bugs."""

    def wrapped(data: bytes, max_frames: int) -> Iterator | None:
        try:
            items = decode(data, max_frames)
        except err:
            return None
        return _until(items, err)

    return wrapped


def _until(items: Iterator, err) -> Iterator:
    try:
        yield from items
    except err:
        return


def decode_frames(
    raw: bytes, rows: int, cols: int, max_frames: int
) -> Iterator[np.ndarray]:
    """The container decode, shared by ``read_video_files`` and the
    raw-bgr rows of ``iter_chunk_rows``: the sniffed row's frames under
    :func:`permissive`, resized to (rows, cols) when the container dims
    differ (VideoEventCreator.java:75's resize step). Unrecognised bytes,
    and a header error on a row with ``stub_on_error``, give the
    compressed-codec stub."""
    c = CONTAINERS.get(sniff_container(raw))
    frames = permissive(c.decode, c.err)(raw, max_frames) if c else None
    if frames is None and (c is None or c.stub_on_error):
        return _decode_frames_stub(raw, rows, cols, max_frames)
    return _resized(frames or iter(()), rows, cols)


def read_video_files(
    spark: SparkSession,
    path: str,
    glob: str = "*.{mp4,y4m,avi,gif,apng}",
    rows: int = 480,
    cols: int = 640,
    max_frames_per_file: int = 64,
) -> DataFrame:
    """Scan video files into frame rows (``FRAME_SCHEMA``, raw BGR
    ``data``). camId = file stem (the producer keys messages by camera id
    the same way), timestamps are paced FRAME_INTERVAL_MS apart from a
    fixed deterministic epoch, frames come from :func:`decode_frames`."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p, content in zip(pdf["path"], pdf["content"]):
                cam = os.path.splitext(os.path.basename(p))[0]
                decoded = decode_frames(bytes(content), rows, cols, max_frames_per_file)
                for i, frame in enumerate(decoded):
                    out.append(
                        (
                            cam,
                            np.datetime64(
                                _EPOCH_US + i * FRAME_INTERVAL_MS * 1000, "us"
                            ),
                            rows,
                            cols,
                            16,  # CV_8UC3
                            frame.tobytes(),
                        )
                    )
            yield pd.DataFrame(
                out, columns=["camId", "timestamp", "rows", "cols", "type", "data"]
            )

    return files.mapInPandas(_extract, FRAME_SCHEMA)


# Compressed-passthrough frame rows: `chunk` is the still-encoded payload
# (JPEG bytes for MJPEG containers, raw BGR for everything else), so a
# keyBy(camId) exchange carries ~30-60 KB per compressed frame instead of
# the ~921 KB of decoded 640x480 BGR — the reference's only shuffle is the
# same keyBy (VideoProcessor.java:86-87), and at 100 TB the exchange, not
# the decode, is the bottleneck (SCALE.md; r8 VERDICT #1).
# src_rows/src_cols are the container-declared dims (0 = unknown, fixed by
# the first good frame: sources/mjpeg.py's rule); rows/cols are the
# pipeline target dims the post-shuffle decode resizes to.
CHUNK_SCHEMA = (
    "camId string, timestamp timestamp, src_rows int, src_cols int, "
    "rows int, cols int, codec string, chunk binary"
)


def iter_chunk_rows(
    raw: bytes, cam: str, rows: int, cols: int, max_frames: int
) -> Iterator[tuple]:
    """One file's compressed-passthrough rows:
    ``(camId, ts_us, src_rows, src_cols, rows, cols, codec, chunk_bytes)``.
    A container row with a demux emits its MJPEG chunks still encoded
    (codec='mjpeg'); everything else — no demux, a stream that is not
    MJPEG, a bad header — decodes source-side through
    :func:`decode_frames` and emits codec='raw-bgr' pixels at the target
    dims. The single copy shared by the binaryFile scan
    (:func:`read_video_chunks`) and the ``videochunks`` Data Source (batch
    + streaming), so skip semantics cannot drift between them."""
    c = CONTAINERS.get(sniff_container(raw))
    chunks = permissive(c.demux, c.err)(raw, max_frames) if c and c.demux else None
    codec = "mjpeg"
    if chunks is None:  # decoded at the source: these bytes ARE pixels
        codec = "raw-bgr"
        frames = decode_frames(raw, rows, cols, max_frames)
        chunks = ((rows, cols, f.tobytes()) for f in frames)
    for i, (sr, sc, body) in enumerate(chunks):
        yield (
            cam,
            _EPOCH_US + i * FRAME_INTERVAL_MS * 1000,
            sr,
            sc,
            rows,
            cols,
            codec,
            body,
        )


def decode_chunk_to_pixels(
    expect: dict, cam: str, sr: int, sc: int, r: int, c: int, codec: str, chunk
):
    """Post-shuffle decode for ONE chunk row — the consumer-side half of
    the compressed passthrough, run by ``iter_pixel_rows`` for the batch
    and streaming motion operators alike.
    Returns pixel bytes at the target dims, None (null payload ->
    PERMISSIVE empty frame), or Ellipsis meaning SKIP (drop the row, keep
    the previous-frame carry) — the source-side decoders' per-chunk rule,
    because it is the same function (sources/mjpeg.py::
    decode_mjpeg_chunk). ``expect`` carries each camera's fixed frame dims
    across calls.

    Dims may arrive as pandas-nullable values (a PERMISSIVE parse nulls
    them, and Arrow hands nullable ints to pandas as NaN floats);
    normalization to 0 lives HERE, the one shared site."""
    sr = 0 if pd.isna(sr) else int(sr)
    sc = 0 if pd.isna(sc) else int(sc)
    r = 0 if pd.isna(r) else int(r)
    c = 0 if pd.isna(c) else int(c)
    if chunk is None:
        return None
    if codec != "mjpeg":
        return bytes(chunk)  # raw-bgr: already target-dim pixels
    if r <= 0 or c <= 0:
        # PERMISSIVE-nulled target dims (null -> 0 via the callers'
        # isna guards): degrade to the empty frame — same observable row
        # as the pixel path's nulled-dims stance (0 boxes, state
        # advances) — rather than resize to 0x0 (ZeroDivisionError would
        # kill the task; r9 ADVICE)
        return None
    from distributed_video_analytics_flink_spark.functions.resize import cubic_resize

    img = decode_mjpeg_chunk(expect, cam, (sr, sc), bytes(chunk))
    if img is None:
        return Ellipsis
    if img.shape[:2] != (r, c):
        img = cubic_resize(img, r, c)
    return img.tobytes()


def prepare_motion_input(frames: DataFrame) -> tuple[DataFrame, bool]:
    """Project motion input for the keyBy exchange; returns (projection,
    chunked). Frame rows (``schemas.FRAME_SCHEMA``: every producer and
    wire source) pass their binary ``data`` through as ``pix``. Chunk
    frames (``read_video_chunks`` / the ``videochunks`` source) keep the
    still-encoded payload across it and decode post-shuffle in
    ``iter_pixel_rows`` — the compressed passthrough."""
    if {"codec", "chunk"}.issubset(set(frames.columns)):
        return (
            frames.select(
                "camId", "timestamp", "src_rows", "src_cols",
                "rows", "cols", "codec", "chunk",
            ),
            True,
        )
    return (
        frames.select("camId", "timestamp", "rows", "cols", F.col("data").alias("pix")),
        False,
    )


def iter_pixel_rows(pdf: pd.DataFrame, expect: dict) -> Iterator[tuple]:
    """Post-shuffle rows of a ``prepare_motion_input`` projection as
    ``(camId, ts_us, rows, cols, pix)`` — what functions/motion.py::
    fold_motion consumes. Chunk rows decode via ``decode_chunk_to_pixels``
    and skipped chunks are DROPPED here, before the fold, so the
    previous-frame carry never advances past them. ``expect`` holds the
    per-camera dims across calls that share it."""
    ts = pdf["timestamp"].values.astype("datetime64[us]").astype("int64")
    if "chunk" not in pdf.columns:
        yield from zip(pdf["camId"], ts, pdf["rows"], pdf["cols"], pdf["pix"])
        return
    for cam, t, sr, sc, r, c, codec, ch in zip(
        pdf["camId"], ts, pdf["src_rows"], pdf["src_cols"],
        pdf["rows"], pdf["cols"], pdf["codec"], pdf["chunk"],
    ):
        pix = decode_chunk_to_pixels(expect, cam, sr, sc, r, c, codec, ch)
        if pix is not Ellipsis:
            yield cam, t, r, c, pix


def read_video_chunks(
    spark: SparkSession,
    path: str,
    glob: str = "*.{mp4,y4m,avi,gif,apng}",
    rows: int = 480,
    cols: int = 640,
    max_frames_per_file: int = 64,
) -> DataFrame:
    """S4 compressed-passthrough scan: like ``read_video_files`` but MJPEG
    containers (AVI + MP4) are demuxed WITHOUT decoding — each container
    row's demux (pure chunk/sample offset math, sources/avi.py and
    sources/mp4.py) yields the per-frame JPEG bytes as ``chunk`` rows
    (codec='mjpeg'), deferring the expensive entropy decode until AFTER the
    motion pipeline's keyBy shuffle, where the pixels are consumed exactly
    once (operators/video.py::detect_motion_batch's chunk branch).

    Non-passthrough containers (Y4M, raw-DIB AVI, PNG, GIF — whose frames
    depend on palette + composited-canvas state, so a chunk is not
    independently decodable — and the motion-compensated stub) genuinely
    must ship pixels, so they decode source-side exactly as
    ``read_video_files`` does and emit codec='raw-bgr' chunks already at
    the target dims — one API covers a mixed corpus.

    Divergence from the decode-first path, by design and only on CORRUPT
    files: timestamps pace by extracted-chunk index, so a mid-file chunk
    that passes the cheap container checks here but later fails full JPEG
    decode (skipped post-shuffle) leaves a 33 ms gap where the decode-first
    path would compact the timeline; clean files are frame-identical
    (pinned by tests/test_chunk_passthrough.py)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p, content in zip(pdf["path"], pdf["content"]):
                cam = os.path.splitext(os.path.basename(p))[0]
                for row in iter_chunk_rows(
                    bytes(content), cam, rows, cols, max_frames_per_file
                ):
                    out.append((row[0], np.datetime64(row[1], "us")) + row[2:])
            yield pd.DataFrame(
                out,
                columns=[
                    "camId", "timestamp", "src_rows", "src_cols",
                    "rows", "cols", "codec", "chunk",
                ],
            )

    return files.mapInPandas(_extract, CHUNK_SCHEMA)


VIDEO_META_SCHEMA = (
    "camId string, path string, size_bytes long, duration_s double, "
    "width double, height double, n_frames long, codec string, fps double"
)


def video_container_metadata(
    spark: SparkSession, path: str, glob: str = "*.{mp4,y4m,avi,gif,apng}"
) -> DataFrame:
    """REAL (no stub) container-metadata scan over video files: binaryFile
    scan + the sniffed :data:`CONTAINERS` row's pure-stdlib probe (the ISO
    BMFF probe, sources/mp4.py, takes MP4s and unrecognised bytes) -> one
    row per file with duration, dimensions, frame count, codec, and fps —
    including fragmented MP4s and Y4M streams. This is the planning pass
    the reference gets from OpenCV stream properties
    (VideoEventCreator.java:54-96), with no codec dependency; tests drive
    it against the reference's own sample videos. Corrupt/unknown files
    yield null metadata columns, not task failures (PERMISSIVE, like the
    JSON source)."""

    def _meta(b: bytes) -> dict:
        c = CONTAINERS.get(sniff_container(b), CONTAINERS["mp4"])
        try:
            return c.probe(b)
        except c.err:
            return _null_meta()

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def _probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                b = bytes(content)
                meta = _meta(b)
                cam = os.path.splitext(os.path.basename(p))[0]
                rows.append((cam, p, len(b), *(meta[k] for k in _META_KEYS)))
            yield pd.DataFrame(rows, columns=["camId", "path", "size_bytes", *_META_KEYS])

    return files.mapInPandas(_probe, VIDEO_META_SCHEMA)
