"""The one per-chunk Motion-JPEG rule, shared by the decode-first readers
(``avi.decode_avi``, ``mp4.decode_mp4``) and the post-shuffle half of the
compressed passthrough (``video_files.decode_chunk_to_pixels``), so the
two paths skip the same chunks by construction.

Each container's demux (``avi._mjpeg_chunks``, ``mp4._mjpeg_samples``)
hands over whole chunks that carry the JPEG signature; this module
decides what a chunk becomes: a body that fails to decode is SKIPPED,
and so is a frame whose dims differ from the stream's — mixed-shape
frames under one camera would crash the motion pipeline's absdiff. The
stream's dims are the container-declared ones when both are positive,
else the first good frame fixes them.
"""

from __future__ import annotations

from collections.abc import Hashable, Iterable, Iterator

import numpy as np

from distributed_video_analytics_flink_spark.sources.jpeg import JpegError, decode_jpeg


def decode_mjpeg_chunk(
    expect: dict, key: Hashable, src_dims: tuple[int, int], chunk: bytes
) -> np.ndarray | None:
    """One chunk -> (H, W, 3) BGR, or None meaning SKIP. ``expect[key]``
    holds the stream's fixed dims across calls that share it."""
    try:
        img = decode_jpeg(chunk)
    except JpegError:
        return None
    exp = expect.get(key)
    if exp is None:
        exp = expect[key] = src_dims if min(src_dims) > 0 else img.shape[:2]
    return img if img.shape[:2] == exp else None


def mjpeg_frames(chunks: Iterable[bytes], src_dims: tuple[int, int]) -> Iterator[np.ndarray]:
    """One stream's demuxed chunks -> its good frames."""
    expect: dict = {}
    for chunk in chunks:
        img = decode_mjpeg_chunk(expect, None, src_dims, chunk)
        if img is not None:
            yield img
