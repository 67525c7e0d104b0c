"""Golden-output tests for the motion-detection kernel and the batch
pipeline operator (SURVEY.md §5.2): deterministic synthetic frames through
decode -> gray -> blur3x3 -> absdiff -> threshold(20) -> components(>300)
-> boxes, pinned against hand-verified expected outputs using the reference
algorithm's constants (MotionDetector.java:36,59,117).

Also cross-checks the vectorized run-based connected-components against a
brute-force flood fill on random masks (hypothesis).
"""

from __future__ import annotations


import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from distributed_video_analytics_flink_spark.functions.motion import (
    _connected_components_bboxes,
    detect_motion_boxes,
    motion_boxes_from_gray,
    preprocess_gray,
)
from distributed_video_analytics_flink_spark.operators.video import (
    detect_motion_batch,
    fixture_frames,
)

# Golden boxes per frame index for every camera (the fixture is identical
# across cameras): frame 5 = block appears (blur halo widens 24x24 -> 26x26
# at (7,7)); frames 6-7 = trailing+leading 12px edge strips; frames 8-9 =
# leading strip clipped by the right frame edge falls under minArea.
GOLDEN_BOXES = {
    0: [],
    1: [],
    2: [],
    3: [],
    4: [],
    5: [(7, 7, 26, 26)],
    6: [(7, 7, 14, 26), (31, 7, 14, 26)],
    7: [(19, 7, 14, 26), (43, 7, 14, 26)],
    8: [(31, 7, 14, 26)],
    9: [(43, 7, 14, 26)],
}


def _cam_frames(cam: str) -> list[dict]:
    return [f for f in fixture_frames() if f["camId"] == cam]


def test_kernel_golden_sequence():
    frames = _cam_frames("cam0")
    assert detect_motion_boxes(None, bytes(frames[0]["data"]), 48, 64) == []
    for i in range(1, 10):
        prev = bytes(frames[i - 1]["data"])
        cur = bytes(frames[i]["data"])
        assert detect_motion_boxes(prev, cur, 48, 64) == GOLDEN_BOXES[i], f"frame {i}"


def test_kernel_split_composes():
    """preprocess_gray + motion_boxes_from_gray == detect_motion_boxes."""
    frames = _cam_frames("cam1")
    grays = [preprocess_gray(bytes(f["data"]), 48, 64) for f in frames]
    for i in range(1, 10):
        whole = detect_motion_boxes(
            bytes(frames[i - 1]["data"]),
            bytes(frames[i]["data"]),
            48,
            64,
        )
        split = motion_boxes_from_gray(grays[i - 1], grays[i], 48, 64)
        assert whole == split == GOLDEN_BOXES[i]


def test_invalid_payloads_yield_no_boxes():
    ok = np.full((8, 8, 3), 50, dtype=np.uint8).tobytes()
    moved = np.full((8, 8, 3), 200, dtype=np.uint8).tobytes()
    assert detect_motion_boxes(None, moved, 8, 8) == []  # first frame per cam
    assert detect_motion_boxes(ok[:-1], moved, 8, 8) == []  # truncated prev
    assert detect_motion_boxes(ok, moved[:-1], 8, 8) == []  # truncated cur
    assert preprocess_gray(ok[:-1], 8, 8) is None
    assert motion_boxes_from_gray(None, preprocess_gray(ok, 8, 8), 8, 8) == []


def _brute_force_components(mask: np.ndarray) -> list[tuple[int, int, int, int, int]]:
    """Reference 8-connected flood fill for cross-checking."""
    h, w = mask.shape
    seen = np.zeros_like(mask, dtype=bool)
    out = []
    for y in range(h):
        for x in range(w):
            if mask[y, x] and not seen[y, x]:
                stack = [(y, x)]
                seen[y, x] = True
                xs, ys, area = [x], [y], 0
                while stack:
                    cy, cx = stack.pop()
                    area += 1
                    xs.append(cx)
                    ys.append(cy)
                    for dy in (-1, 0, 1):
                        for dx in (-1, 0, 1):
                            ny, nx = cy + dy, cx + dx
                            if 0 <= ny < h and 0 <= nx < w and mask[ny, nx] and not seen[ny, nx]:
                                seen[ny, nx] = True
                                stack.append((ny, nx))
                out.append(
                    (min(xs), min(ys), max(xs) - min(xs) + 1, max(ys) - min(ys) + 1, area)
                )
    return out


@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 20),
    st.integers(1, 20),
    st.integers(0, 2**32 - 1),
    st.floats(0.05, 0.8),
    st.integers(0, 2**20 - 1),
)
@example(20, 20, 3, 0.5, 2**20 - 1)  # every row blanked: no components
@example(1, 20, 7, 0.5, 0)  # a single row
@example(3, 12, 11, 0.8, 0b010)  # runs one blank row apart stay apart
def test_components_match_brute_force(h, w, seed, density, blank_rows):
    """``blank_rows`` clears row y when bit y is set, so masks also come
    row-sparse: runs separated by empty rows must not merge, and the
    run rows must map back to their image rows."""
    mask = np.random.default_rng(seed).random((h, w)) < density
    mask[[y for y in range(h) if blank_rows >> y & 1]] = False
    fast = sorted(_connected_components_bboxes(mask))
    slow = sorted(_brute_force_components(mask))
    assert fast == slow


@pytest.mark.usefixtures("spark")
def test_batch_pipeline_golden(spark):
    """End-to-end: the distributed secondary-sort pipeline reproduces the
    kernel goldens exactly, per camera, across Arrow batches."""
    from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA

    frames = spark.createDataFrame(fixture_frames(), schema=FRAME_SCHEMA)
    rows = detect_motion_batch(frames).collect()
    assert len(rows) == 40
    by_cam_i: dict[tuple[str, int], object] = {}
    for r in rows:
        # fixture timestamps: t0 + 33 ms * i + cam; recover i from the us ts
        i = (r["ts_us"] % 1_000_000) // 33_000
        by_cam_i[(r["camId"], int(i))] = r
    for cam in ("cam0", "cam1", "cam2", "cam3"):
        for i in range(10):
            r = by_cam_i[(cam, i)]
            got = sorted((b["x"], b["y"], b["w"], b["h"]) for b in r["motion_boxes"])
            assert got == GOLDEN_BOXES[i], f"{cam} frame {i}"
            assert r["detection_count"] == len(GOLDEN_BOXES[i])


def test_checked_twin_golden_map_in_sync():
    """video_motion_batch_checked duplicates GOLDEN_BOXES as a package-side
    contract (operators/video.py::_GOLDEN_FIXTURE_BOXES) — the two copies
    must never drift."""
    from distributed_video_analytics_flink_spark.operators.video import (
        _GOLDEN_FIXTURE_BOXES,
    )

    assert _GOLDEN_FIXTURE_BOXES == {i: b for i, b in GOLDEN_BOXES.items() if b}


def test_registered_query_matches_golden_counts(spark):
    """The driver's rows-only check for the ``video_motion_batch`` QUERY says
    only "runs"; this upgrades it locally to "runs and is right": the
    registered query's per-frame detection counts and serialized boxes match
    the kernel goldens (VERDICT r3 item 7)."""
    import json

    from distributed_video_analytics_flink_spark.operators import QUERIES

    rows = QUERIES["video_motion_batch"].fn(spark, "unused").collect()
    assert len(rows) == 40
    for r in rows:
        i = (r["ts_us"] % 1_000_000) // 33_000
        assert r["detection_count"] == len(GOLDEN_BOXES[i]), (r["camId"], i)
        got = sorted(
            (b["x"], b["y"], b["w"], b["h"]) for b in json.loads(r["boxes_json"] or "[]")
        )
        assert got == GOLDEN_BOXES[int(i)], (r["camId"], i)


def test_batch_pipeline_golden_tiny_arrow_batches(spark):
    """Hostile Arrow batching: maxRecordsPerBatch=7 forces every per-camera
    group to span multiple Arrow batches inside applyInPandas, so the
    previous-frame carry must survive batch boundaries (a bug class the
    default large batches never exercise — with 40 fixture rows a default
    batch holds everything)."""
    from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        frames = spark.createDataFrame(fixture_frames(), schema=FRAME_SCHEMA)
        rows = detect_motion_batch(frames).collect()
    finally:
        spark.conf.set(key, old)
    assert len(rows) == 40
    for r in rows:
        i = (r["ts_us"] % 1_000_000) // 33_000
        got = sorted((b["x"], b["y"], b["w"], b["h"]) for b in r["motion_boxes"])
        assert got == GOLDEN_BOXES[int(i)], (r["camId"], i)
