"""S4: video-file ingestion (SURVEY.md §2.1) — the batch analog of the
producer's OpenCV ``VideoCapture`` scan (VideoEventCreator.java:54-96: open
file or device, read frames, resize to 640x480, pace at ~30 fps).

Spark shape: ``spark.read.format("binaryFile")`` scans the files (one
partition per file up to maxPartitionBytes — embarrassingly parallel across
a 100 TB video corpus), then a ``mapInPandas`` extractor turns each file's
bytes into frame rows (FRAME_SCHEMA: camId from the file stem,
timestamps paced 33 ms apart, raw BGR payloads). One dispatch,
:func:`decode_frames`, picks the container decoder for this scan and for
the raw-bgr rows of the compressed-passthrough scan alike.

Decode is REAL for FIVE containers — Y4M (YUV4MPEG2: pure byte-slicing
header/frame parse + integer-exact YUV->BGR, sources/y4m.py), AVI (RIFF
chunk walk, sources/avi.py: raw-DIB BGR rows AND per-chunk baseline-JPEG
MJPEG via sources/jpeg.py), MP4 when the video track carries
Motion-JPEG samples (ISO BMFF sample-table walk + the same JPEG codec,
sources/mp4.py), animated GIF (LZW + palette + INTER-FRAME canvas
compositing with disposal/transparency, sources/gif.py — the first
genuinely inter-frame format decoded for real), and animated PNG
(fcTL/fdAT chains through the engine's own PNG unfilter with
dispose/blend compositing incl. exact-integer alpha OVER,
sources/apng.py) — plus PNG stills, each
through the engine's own bicubic resize to the target dims
(functions/resize.py, the analog of VideoEventCreator.java:75's
cv2.resize) — so genuine video bytes flow end-to-end through the motion
pipeline with zero codec dependency.

MOTION-COMPENSATED codecs (avc1/H.264 etc.) remain a STUB: this container ships
no cv2/ffmpeg, so such files fall to ``_decode_frames_stub``, which
synthesizes deterministic frames from the file bytes (content-seeded,
reproducible). The binaryFile scan, partitioning, Arrow batching, schema,
and pacing are the production path — swap the stub for a
``cv2.VideoCapture`` loop when codecs exist.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA
from distributed_video_analytics_flink_spark.sources.avi import (
    AviError,
    decode_avi,
    is_avi,
)
from distributed_video_analytics_flink_spark.sources.gif import (
    decode_gif_permissive,
    is_gif,
)
from distributed_video_analytics_flink_spark.sources.y4m import (
    Y4M_MAGIC,
    Y4MError,
    decode_y4m,
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


def _decode_png_still(content: bytes) -> Iterator[np.ndarray]:
    """REAL decoder for PNG images (single frame per file): the general
    stdlib decoder (functions/png.py::decode_png — all five scanline
    filters, gray/RGB/RGBA). Closes the multimodal loop: the engine's own
    annotated side-output PNGs (CV7) and externally produced 8-bit images
    ingest as pixel rows. Unsupported subsets (16-bit, palette,
    interlaced) yield no rows, not failures (PERMISSIVE)."""
    import zlib

    from distributed_video_analytics_flink_spark.functions.png import decode_png

    try:
        yield decode_png(content)
    except (ValueError, zlib.error):
        return


def _resized(frames: Iterator[np.ndarray], rows: int, cols: int) -> Iterator[np.ndarray]:
    from distributed_video_analytics_flink_spark.functions.resize import cubic_resize

    for bgr in frames:
        if bgr.shape[:2] != (rows, cols):
            bgr = cubic_resize(bgr, rows, cols)
        yield bgr


_MAGIC = (
    ("y4m", lambda b: b.startswith(Y4M_MAGIC)),
    ("avi", is_avi),
    ("png", lambda b: b.startswith(b"\x89PNG")),  # still or animated
    ("gif", is_gif),
    ("mp4", lambda b: len(b) >= 12 and b[4:8] == b"ftyp"),
)


def sniff_container(raw: bytes) -> str | None:
    """The one magic-byte container test, shared by :func:`decode_frames`,
    :func:`iter_chunk_rows` and :func:`video_container_metadata`: the
    first ``_MAGIC`` kind whose test passes, or None for unrecognised
    bytes."""
    return next((kind for kind, test in _MAGIC if test(raw)), None)


def decode_frames(
    raw: bytes, rows: int, cols: int, max_frames: int
) -> Iterator[np.ndarray]:
    """The container decode, shared by ``read_video_files`` and the
    raw-bgr fallback of ``iter_chunk_rows``: (rows, cols, 3) BGR frames,
    picked by :func:`sniff_container`, not by extension. Y4M, AVI
    (raw-DIB + MJPEG), PNG stills, animated PNG, GIF (inter-frame
    compositing) and MJPEG-MP4 decode for real, then take the bicubic
    resize to the pipeline dims when the container dims differ
    (VideoEventCreator.java:75's resize step). PERMISSIVE throughout: a
    corrupt Y4M/AVI header yields no frames; GIF and APNG share their
    strict-header/permissive-tail stance with the ``format("gif")``/
    ``format("apng")`` Data Sources (``decode_*_permissive``); an MP4
    whose video track is not MJPEG (avc1/H.264 etc.) or does not parse,
    and any unrecognised bytes, fall to the compressed-codec stub.

    Header parses run HERE, eagerly, so the guards below see their errors;
    a lazy generator would defer the raise into the caller's iteration,
    past the guard."""
    from distributed_video_analytics_flink_spark.sources.apng import (
        decode_apng_permissive,
        is_apng,
    )
    from distributed_video_analytics_flink_spark.sources.mp4 import Mp4Error, decode_mp4

    kind = sniff_container(raw)
    if kind == "y4m":
        try:
            _, frames = decode_y4m(raw, max_frames=max_frames)
        except Y4MError:
            return iter(())
    elif kind == "avi":
        try:
            _, frames = decode_avi(raw, max_frames=max_frames)
        except AviError:
            return iter(())  # corrupt header or unsupported stream
    elif kind == "png":
        # acTL before IDAT means animated, else a single still frame
        if is_apng(raw):
            _, frames = decode_apng_permissive(raw, max_frames=max_frames)
        else:
            frames = _decode_png_still(raw)
    elif kind == "gif":
        _, frames = decode_gif_permissive(raw, max_frames=max_frames)
    elif kind == "mp4":
        try:
            _, frames = decode_mp4(raw, max_frames=max_frames)
        except Mp4Error:
            return _decode_frames_stub(raw, rows, cols, max_frames)
    else:
        return _decode_frames_stub(raw, rows, cols, max_frames)
    return _resized(frames, rows, cols)


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
# the first good frame, matching decode_mp4's stance); rows/cols are the
# pipeline target dims the post-shuffle decode resizes to.
CHUNK_SCHEMA = (
    "camId string, timestamp timestamp, src_rows int, src_cols int, "
    "rows int, cols int, codec string, chunk binary"
)

# the all-null metadata row for a container whose probe fails — ONE
# definition (r14 review: four copy-pasted fromkeys tuples meant a new
# metadata column could miss a corrupt-file branch and KeyError at
# row-build time, the branch hardest to hit in tests)
_META_KEYS = ("duration_s", "width", "height", "n_frames", "codec", "fps")


def _null_meta() -> dict:
    return dict.fromkeys(_META_KEYS)


def iter_chunk_rows(
    raw: bytes, cam: str, rows: int, cols: int, max_frames: int
) -> Iterator[tuple]:
    """One file's compressed-passthrough rows:
    ``(camId, ts_us, src_rows, src_cols, rows, cols, codec, chunk_bytes)``.
    MJPEG AVI/MP4 demux by pure offset math (codec='mjpeg', chunk = the
    still-encoded JPEG); everything else decodes source-side as
    :func:`decode_frames` does for ``read_video_files`` and emits
    codec='raw-bgr' pixels at the target dims. Each container header is
    parsed once: a raw-DIB AVI takes its frames from the same
    ``decode_avi`` call, a non-MJPEG MP4 goes straight to the stub. The
    single copy shared by the binaryFile scan (:func:`read_video_chunks`)
    and the ``videochunks`` Data Source (batch + streaming), so skip semantics
    cannot drift between them."""
    from distributed_video_analytics_flink_spark.sources.avi import (
        _chunks as _avi_chunks,
    )
    from distributed_video_analytics_flink_spark.sources.jpeg import is_jpeg
    from distributed_video_analytics_flink_spark.sources.mp4 import (
        Mp4Error,
        mjpeg_sample_ranges,
    )

    def _mjpeg_avi(hdr) -> Iterator[tuple[int, int, bytes]]:
        want = (b"%02ddb" % hdr.stream_id, b"%02ddc" % hdr.stream_id)
        n = 0
        for cid, body, size, declared in _avi_chunks(raw, hdr.movi_start, hdr.movi_end):
            if n >= max_frames:
                return
            if cid not in want:
                continue
            if size < declared:
                return  # chopped final chunk ends the stream
            if not is_jpeg(raw[body : body + 3]):
                continue
            yield hdr.height, hdr.width, raw[body : body + size]
            n += 1

    def _mjpeg_mp4(trak, ranges) -> Iterator[tuple[int, int, bytes]]:
        sr = int(trak.get("height") or 0)
        sc = int(trak.get("width") or 0)
        n = 0
        for off, size in ranges:
            if n >= max_frames:
                return
            if off + size > len(raw):
                return  # truncated mdat ends the stream
            if not is_jpeg(raw[off : off + 3]):
                continue
            yield sr, sc, raw[off : off + size]
            n += 1

    kind = sniff_container(raw)
    chunks: Iterator[tuple[int, int, bytes]] | None = None
    if kind == "avi":
        try:
            hdr, frames = decode_avi(raw, max_frames=max_frames)
        except AviError:
            return  # corrupt header: no rows, no failure
        if hdr.codec == "mjpeg":
            chunks = _mjpeg_avi(hdr)
        else:
            frames = _resized(frames, rows, cols)
    elif kind == "mp4":
        try:
            chunks = _mjpeg_mp4(*mjpeg_sample_ranges(raw))
        except Mp4Error:  # decode_mp4 would raise the same: the stub
            frames = _decode_frames_stub(raw, rows, cols, max_frames)
    else:
        frames = decode_frames(raw, rows, cols, max_frames)
    codec = "mjpeg"
    if chunks is None:  # decoded at the source: these bytes ARE pixels
        codec = "raw-bgr"
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
    the previous-frame carry) — the exact stance the source-side decoders
    take per bad chunk. ``expect`` carries each camera's fixed frame dims
    (header-declared when known, else the first good frame fixes them —
    decode_mp4's rule).

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
    from distributed_video_analytics_flink_spark.sources.jpeg import (
        JpegError,
        decode_jpeg,
    )

    try:
        img = decode_jpeg(bytes(chunk))
    except JpegError:
        return Ellipsis
    exp = expect.get(cam)
    if exp is None:
        exp = (sr, sc) if sr > 0 and sc > 0 else img.shape[:2]
        expect[cam] = exp
    if img.shape[:2] != exp:
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
    containers (AVI + MP4) are demuxed WITHOUT decoding — pure chunk/sample
    offset math (sources/avi.py::_chunks, sources/mp4.py::
    video_sample_ranges) yields the per-frame JPEG bytes as ``chunk`` rows
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
    scan + pure-stdlib ISO BMFF probe (sources/mp4.py) -> one row per file
    with duration, dimensions, frame count, codec fourcc, and fps —
    including fragmented MP4s and Y4M streams. This is the planning pass
    the reference gets from OpenCV stream properties
    (VideoEventCreator.java:54-96), with no codec dependency; tests drive
    it against the reference's own sample videos. Corrupt/unknown files
    yield null metadata columns, not task failures (PERMISSIVE, like the
    JSON source)."""
    import struct

    from distributed_video_analytics_flink_spark.sources.apng import (
        ApngError,
        is_apng,
        probe_apng,
    )
    from distributed_video_analytics_flink_spark.sources.avi import probe_avi
    from distributed_video_analytics_flink_spark.sources.gif import GifError, probe_gif
    from distributed_video_analytics_flink_spark.sources.mp4 import probe_mp4
    from distributed_video_analytics_flink_spark.sources.y4m import probe_y4m

    # probe_mp4 never raises: it takes MP4s and every unrecognised file
    probes = {
        "y4m": (probe_y4m, Y4MError),
        "avi": (probe_avi, AviError),
        "gif": (probe_gif, GifError),
        "apng": (probe_apng, ApngError),
        None: (probe_mp4, ()),
    }

    def _meta(b: bytes) -> dict:
        kind = sniff_container(b)
        if kind == "png":
            if len(b) < 24:
                kind = None
            elif is_apng(b):
                kind = "apng"
            else:
                # still PNG: IHDR is always the first chunk
                w, h = struct.unpack(">II", b[16:24])
                meta = {"width": float(w), "height": float(h), "n_frames": 1}
                return {**_null_meta(), **meta, "codec": "png"}
        probe, err = probes.get(kind, probes[None])
        try:
            return probe(b)
        except err:
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
