"""Motion-detection kernel: the reference's per-frame CV chain
(``MotionDetector.java:28-131``) re-implemented in pure numpy so it runs
vectorized inside Arrow-batched pandas UDFs (no JNI, no OpenCV dependency —
cv2 is not in this container; if present it could drop in for the blur /
contour steps with identical constants).

Reference algorithm constants (MotionDetector.java):
- grayscale BGR -> gray (cvtColor BGR2GRAY weights, :35,51)
- GaussianBlur 3x3 sigma=0 (:36,52) — OpenCV's fixed 3-tap kernel
  [0.25, 0.5, 0.25]
- absdiff(prev_gray, cur_gray) (:56)
- threshold(delta, 20, 255, THRESH_BINARY) (:59)
- findContours(RETR_EXTERNAL) + contourArea > 300 -> boundingRect (:111-131)

Deviation (documented): contour area is approximated by connected-component
pixel count (8-connectivity), which equals or exceeds OpenCV's polygon
contourArea for filled blobs; golden tests pin this implementation's exact
outputs (tests/test_motion_golden.py).

``fold_motion`` is the per-camera previous-frame fold over this kernel (the
reference's ``KeyedProcessFunction`` + ``ValueState``,
VideoProcessor.java:155-205): one copy, run by the batch operator's
``mapInPandas`` pass and the streaming operator's
``applyInPandasWithState`` alike.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd

from distributed_video_analytics_flink_spark.functions.png import annotate_png

# OpenCV's BGR2GRAY is fixed-point: (b*1868 + g*9617 + r*4899 + 8192) >> 14
# (weights 0.114/0.587/0.299 scaled by 2^14, round-half-up) — exact integer
# arithmetic, bit-identical across platforms, no float rounding ambiguity.
GRAY_FIX_B, GRAY_FIX_G, GRAY_FIX_R = 1868, 9617, 4899
DIFF_THRESHOLD = 20  # MotionDetector.java:59
MIN_AREA = 300  # MotionDetector.java:117


def bgr_to_gray(frame: np.ndarray) -> np.ndarray:
    """(H, W, 3) uint8 BGR -> (H, W) uint8 gray (OpenCV's fixed-point
    BGR2GRAY formula, exact)."""
    if frame.ndim == 2:
        return frame.astype(np.uint8)
    f = frame.astype(np.uint32)
    g = (f[..., 0] * GRAY_FIX_B + f[..., 1] * GRAY_FIX_G + f[..., 2] * GRAY_FIX_R + 8192) >> 14
    return g.astype(np.uint8)


def gaussian_blur3(gray: np.ndarray) -> np.ndarray:
    """Separable 3x3 blur, kernel [1,2,1]/4 per axis (OpenCV's fixed
    small_gaussian for ksize=3, sigma<=0), computed exactly in integers:
    2D weight sum 16, round-half-up via (sum + 8) >> 4. Borders replicate
    (OpenCV BORDER_DEFAULT is reflect-101; replicate differs only on the 1px
    border — pinned by the golden tests)."""
    padded = np.pad(gray.astype(np.uint16), 1, mode="edge")
    h = padded[:, :-2] + 2 * padded[:, 1:-1] + padded[:, 2:]
    v = h[:-2, :] + 2 * h[1:-1, :] + h[2:, :]  # max 255*16 fits uint16
    return ((v + 8) >> 4).astype(np.uint8)


def _connected_components_bboxes(mask: np.ndarray) -> list[tuple[int, int, int, int, int]]:
    """8-connected components of a boolean mask -> [(x, y, w, h, area)].
    Row runs are extracted vectorized (one np.diff over the rows that hold
    foreground: a motion mask is mostly empty rows, a static frame's mask
    all of them); union-find then runs over *runs*, not pixels — the
    Python-level work is O(runs), which for motion masks is orders of
    magnitude below O(pixels)."""
    fg_rows = np.flatnonzero(mask.any(axis=1))
    if len(fg_rows) == 0:
        return []
    padded = np.zeros((len(fg_rows), mask.shape[1] + 2), dtype=np.int8)
    padded[:, 1:-1] = mask[fg_rows]
    d = np.diff(padded, axis=1)
    run_rows, start_cols = np.nonzero(d == 1)
    _, end_cols = np.nonzero(d == -1)  # same row order as starts; end exclusive
    start_rows = fg_rows[run_rows]  # back to image rows for the adjacency test
    n = len(start_rows)

    parent: list[int] = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def union(i: int, j: int) -> None:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)

    # all_runs: (row, start, end_exclusive, label); runs arrive row-major
    all_runs: list[tuple[int, int, int, int]] = []
    prev_runs: list[tuple[int, int, int]] = []
    prev_row = -2
    idx = 0
    while idx < n:
        y = int(start_rows[idx])
        if y != prev_row + 1:
            prev_runs = []
        row_runs: list[tuple[int, int, int]] = []
        while idx < n and start_rows[idx] == y:
            start, end = int(start_cols[idx]), int(end_cols[idx])
            # 8-connectivity: prev-row run [ps, pe) touches [start, end) if
            # their column spans overlap within +/-1 (ps <= end and pe >= start)
            for ps, pe, pl in prev_runs:
                if ps <= end and pe >= start:
                    union(idx, pl)
            row_runs.append((start, end, idx))
            all_runs.append((y, start, end, idx))
            idx += 1
        prev_runs = row_runs
        prev_row = y

    boxes: dict[int, list[int]] = {}
    for y, s, e, l in all_runs:
        root = find(l)
        if root not in boxes:
            boxes[root] = [s, y, e - 1, y, e - s]  # x0, y0, x1, y1, area
        else:
            bx = boxes[root]
            bx[0] = min(bx[0], s)
            bx[1] = min(bx[1], y)
            bx[2] = max(bx[2], e - 1)
            bx[3] = max(bx[3], y)
            bx[4] += e - s
    return [
        (x0, y0, x1 - x0 + 1, y1 - y0 + 1, area)
        for x0, y0, x1, y1, area in boxes.values()
    ]


def preprocess_gray(pixels: bytes, rows: int, cols: int, channels: int = 3) -> bytes | None:
    """Per-frame half of the chain: decode -> gray -> blur 3x3, returned as
    raw gray bytes (rows*cols). Run *once per frame* in the batch/streaming
    pipelines — the pairwise half then only diffs two gray planes, instead of
    re-graying every frame twice (as cur and as next frame's prev) — and the
    per-camera shuffle carries 1/3 of the BGR payload. Returns None on a
    length-mismatched payload (MotionDetector.java:97-103 validation)."""
    if pixels is None or len(pixels) != rows * cols * channels:
        return None
    shape = (rows, cols, channels) if channels > 1 else (rows, cols)
    frame = np.frombuffer(pixels, dtype=np.uint8).reshape(shape)
    return gaussian_blur3(bgr_to_gray(frame)).tobytes()


def motion_boxes_from_gray(
    prev_gray: bytes | None, cur_gray: bytes | None, rows: int, cols: int
) -> list[tuple[int, int, int, int]]:
    """Pairwise half: absdiff -> threshold(20) -> components(area > 300) ->
    bounding boxes sorted by (x, y). [] when prev is missing (first frame per
    camera — the reference also skips then, VideoProcessor.java:182-187)."""
    expected = rows * cols
    if (
        prev_gray is None
        or cur_gray is None
        or len(prev_gray) != expected
        or len(cur_gray) != expected
    ):
        return []
    pg = np.frombuffer(prev_gray, dtype=np.uint8).reshape((rows, cols))
    cg = np.frombuffer(cur_gray, dtype=np.uint8).reshape((rows, cols))
    delta = np.abs(pg.astype(np.int16) - cg.astype(np.int16))
    fg = delta > DIFF_THRESHOLD
    boxes = [
        (x, y, w, h)
        for x, y, w, h, area in _connected_components_bboxes(fg)
        if area > MIN_AREA
    ]
    return sorted(boxes)


def detect_motion_boxes(
    prev_pixels: bytes | None,
    cur_pixels: bytes,
    rows: int,
    cols: int,
    channels: int = 3,
) -> list[tuple[int, int, int, int]]:
    """The reference's full chain on a (prev, cur) frame pair:
    gray -> blur -> absdiff -> threshold(20) -> components(area > 300)
    -> bounding boxes, sorted by (x, y) for determinism. Composition of
    preprocess_gray + motion_boxes_from_gray (the split the distributed
    pipelines use); golden tests pin both layers.

    Returns [] when prev is missing (first frame per camera — the reference
    also skips detection then, VideoProcessor.java:182-187) or on a
    length-mismatched payload (MotionDetector.java:97-103 validation).
    """
    if prev_pixels is None:
        return []
    return motion_boxes_from_gray(
        preprocess_gray(prev_pixels, rows, cols, channels),
        preprocess_gray(cur_pixels, rows, cols, channels),
        rows,
        cols,
    )


_NAT = -(2**63)  # datetime64[us] NaT as int64


def fold_motion(rows: Iterable[tuple], carry: dict, annotate: bool) -> Iterator[tuple]:
    """K2: fold frames ``(camId, ts_us, rows, cols, pix)``, already in
    per-camera event-time order, against the previous-frame ``carry``
    ``{camId: (rows, cols, gray, ts_us)}``, updating it in place. Yields one
    ``schemas.MOTION_SCHEMA`` row per frame (plus ``png`` when
    ``annotate``: the annotated image for motion frames, else None).

    Partially-valid records (a PERMISSIVE parse nulled rows/cols/ts but
    camId survived) must not kill the job: dims default to 0, which fails
    preprocess_gray's length validation -> 0 boxes, carry still advances
    (the reference's swallow-and-continue stance,
    MotionDetector.java:97-103). A frame whose dims differ from the carried
    one has no previous frame. The carried ts_us (the streaming state's
    layout) is -1 for a missing timestamp: epoch 0 is a real event time."""
    for cam, ts, r, c, pix in rows:
        r = 0 if pd.isna(r) else int(r)
        c = 0 if pd.isna(c) else int(c)
        ts_us = None if int(ts) == _NAT else int(ts)
        gray = preprocess_gray(None if pix is None else bytes(pix), r, c)
        prev = carry.get(cam)
        prev_gray = prev[2] if prev is not None and prev[:2] == (r, c) else None
        boxes = motion_boxes_from_gray(prev_gray, gray, r, c)
        carry[cam] = (r, c, gray, -1 if ts_us is None else ts_us)
        row = (
            cam,
            ts_us,
            [{"x": x, "y": y, "w": w, "h": h} for x, y, w, h in boxes],
            len(boxes),
        )
        if annotate:
            png = (
                annotate_png(bytes(pix), r, c, boxes)
                if boxes and pix is not None
                else None
            )
            row += (png,)
        yield row
