"""Tests for the annotated-PNG side output (CV6/CV7/O4 made real via the
stdlib-zlib PNG writer) and the binaryFile video-file ingestion source (S4).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from distributed_video_analytics_flink_spark.functions.png import (
    BOX_BGR,
    annotate_png,
    decode_png_bgr,
    draw_boxes_bgr,
    encode_png_bgr,
)
from distributed_video_analytics_flink_spark.operators.video import (
    detect_motion_batch,
    fixture_frames,
)
from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA
from distributed_video_analytics_flink_spark.sources.video_files import read_video_files


def test_png_roundtrip():
    rng = np.random.default_rng(5)
    frame = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
    data = encode_png_bgr(frame)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert np.array_equal(decode_png_bgr(data), frame)


def test_draw_boxes_green_rectangles():
    frame = np.zeros((20, 20, 3), dtype=np.uint8)
    out = draw_boxes_bgr(frame, [(4, 4, 8, 8)])
    assert tuple(out[4, 8]) == BOX_BGR  # top edge
    assert tuple(out[11, 8]) == BOX_BGR  # bottom edge (y+h-1, inside thickness)
    assert tuple(out[8, 4]) == BOX_BGR  # left edge
    assert tuple(out[8, 8]) == (0, 0, 0)  # interior untouched
    assert frame.sum() == 0  # original not mutated


def test_annotate_png_invalid_payload():
    assert annotate_png(b"short", 480, 640, [(0, 0, 5, 5)]) is None


def test_batch_annotate_emits_valid_pngs(spark):
    frames = spark.createDataFrame(fixture_frames(), schema=FRAME_SCHEMA)
    rows = (
        detect_motion_batch(frames, annotate=True)
        .filter(F.col("detection_count") > 0)
        .collect()
    )
    assert len(rows) == 20  # frames 5-9 x 4 cams
    r = next(x for x in rows if (x["ts_us"] % 1_000_000) // 33_000 == 5)
    img = decode_png_bgr(bytes(r["png"]))
    assert img.shape == (48, 64, 3)
    # the golden frame-5 box is (7,7,26,26): its border pixels must be green
    assert tuple(img[7, 20]) == BOX_BGR
    # and non-motion rows (not selected here) carry no png; interior of the
    # moved block survives annotation
    assert tuple(img[20, 20]) == (200, 200, 200)


def test_video_file_source_plumbing(spark, tmp_path):
    """S4: fake 'video' files -> binaryFile scan -> frame rows with the wire
    schema; deterministic across reads; composes with the motion pipeline."""
    vids = tmp_path / "videos"
    vids.mkdir()
    rng = np.random.default_rng(11)
    for name, size in (("camA.mp4", 9000), ("camB.mp4", 5000)):
        (vids / name).write_bytes(rng.integers(0, 256, size, dtype=np.uint8).tobytes())
    (vids / "notes.txt").write_text("ignored by glob")

    frames = read_video_files(spark, str(vids), rows=48, cols=64)
    rows = frames.collect()
    assert {r["camId"] for r in rows} == {"camA", "camB"}
    by_cam = {}
    for r in rows:
        by_cam.setdefault(r["camId"], []).append(r)
    assert len(by_cam["camA"]) == 2 and len(by_cam["camB"]) == 1  # size // 4096
    assert all(r["rows"] == 48 and r["cols"] == 64 and r["type"] == 16 for r in rows)

    again = read_video_files(spark, str(vids), rows=48, cols=64).collect()
    assert sorted(r["data"] for r in again) == sorted(r["data"] for r in rows)

    # composes with the detector end-to-end (camA has 2 frames -> 1 diff)
    det = detect_motion_batch(frames).collect()
    assert len(det) == 3
    cam_a = sorted(
        (r for r in det if r["camId"] == "camA"), key=lambda r: r["ts_us"]
    )
    assert cam_a[0]["detection_count"] == 0  # first frame: no previous
    assert cam_a[1]["detection_count"] >= 1  # moving block detected


def _encode_png_with_filters(img_rgb, color_type, filters):
    """Test-side PNG encoder applying a CHOSEN filter per scanline (the
    spec's filter functions, forward direction) — exercises the decoder's
    unfiltering for every filter type, which the engine's own encoder
    (always filter 0) cannot."""
    import struct
    import zlib

    import numpy as np

    h, w = img_rgb.shape[:2]
    ch = {0: 1, 2: 3, 6: 4}[color_type]
    px = img_rgb.reshape(h, w * ch).astype(np.int32)
    stride = w * ch
    raw = bytearray()
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = px[y]
        line = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            a = int(cur[x - ch]) if x >= ch else 0
            b = int(prior[x])
            c = int(prior[x - ch]) if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[x] = (int(cur[x]) - pred) & 0xFF
        raw.append(f)
        raw.extend(line.astype(np.uint8).tobytes())
        prior = cur

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def test_decode_png_all_filters_and_color_types():
    """decode_png must unfilter every scanline filter (None/Sub/Up/
    Average/Paeth) and normalize gray and RGBA to 3-channel BGR."""
    import numpy as np

    from distributed_video_analytics_flink_spark.functions.png import decode_png

    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        data = _encode_png_with_filters(rgb, 2, filters)
        got = decode_png(data)
        assert (got == rgb[:, :, ::-1]).all(), f"filters {filters}"

    gray = rng.integers(0, 256, size=(9, 11, 1), dtype=np.uint8)
    got = decode_png(_encode_png_with_filters(gray, 0, [0, 1, 2, 3, 4]))
    assert (got == np.repeat(gray, 3, axis=2)[:, :, ::-1]).all()

    rgba = rng.integers(0, 256, size=(8, 10, 4), dtype=np.uint8)
    got = decode_png(_encode_png_with_filters(rgba, 6, [4, 3, 2, 1, 0]))
    assert (got == rgba[:, :, :3][:, :, ::-1]).all()


def test_decode_png_rejects_unsupported():
    import numpy as np
    import pytest

    from distributed_video_analytics_flink_spark.functions.png import decode_png

    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # 16-bit depth header
    import struct
    import zlib

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(bad)


def test_png_files_ingest_as_real_pixels(spark, tmp_path):
    """Multimodal loop closure: PNG files (incl. the engine's own encoder
    output) flow through read_video_files as REAL decoded pixels —
    exact bytes when dims match, bicubic-resized otherwise; corrupt PNGs
    skip PERMISSIVE-style."""
    from distributed_video_analytics_flink_spark.functions.png import encode_png_bgr

    d = tmp_path / "imgs"
    d.mkdir()
    rng = np.random.default_rng(5)
    exact = rng.integers(0, 256, size=(48, 64, 3), dtype=np.uint8)
    (d / "camX.png").write_bytes(encode_png_bgr(exact))
    big = rng.integers(0, 256, size=(96, 128, 3), dtype=np.uint8)
    (d / "camY.png").write_bytes(encode_png_bgr(big))
    (d / "camZ.png").write_bytes(b"\x89PNG\r\n\x1a\n" + b"garbage")

    frames = read_video_files(spark, str(d), glob="*.png", rows=48, cols=64)
    rows = {r["camId"]: r for r in frames.collect()}
    assert set(rows) == {"camX", "camY"}  # corrupt camZ skipped, not failed
    got = np.frombuffer(
        bytes(rows["camX"]["data"]), dtype=np.uint8
    ).reshape(48, 64, 3)
    assert (got == exact).all()  # dims match -> byte-exact decode
    assert rows["camY"]["rows"] == 48 and rows["camY"]["cols"] == 64  # resized


def test_container_metadata_probes_png(spark, tmp_path):
    from distributed_video_analytics_flink_spark.functions.png import encode_png_bgr
    from distributed_video_analytics_flink_spark.sources.video_files import (
        video_container_metadata,
    )

    d = tmp_path / "m"
    d.mkdir()
    img = np.zeros((24, 40, 3), dtype=np.uint8)
    (d / "shotA.png").write_bytes(encode_png_bgr(img))
    meta = {r["camId"]: r for r in video_container_metadata(
        spark, str(d), glob="*.png"
    ).collect()}
    m = meta["shotA"]
    assert (m["width"], m["height"], m["n_frames"], m["codec"]) == (40.0, 24.0, 1, "png")


def test_decode_png_bounded_against_decompression_bombs():
    """decode_png reads untrusted bytes on the PERMISSIVE ingest path, so
    (a) implausible declared dimensions are rejected before any inflate,
    and (b) the IDAT inflate is capped at the declared scanline need — a
    crafted stream that deflates to far more than w*h can never allocate
    beyond the header's promise (mirrors the APNG frame-path fix)."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from distributed_video_analytics_flink_spark.functions.png import (
        _PNG_SIG,
        _chunk,
        decode_png,
    )

    # (a) 1-gigapixel declared dims, tiny file
    ihdr = struct.pack(">IIBBBBB", 1 << 15, 1 << 15, 8, 2, 0, 0, 0)
    bomb = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 64))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="implausible"):
        decode_png(bomb)

    # (b) honest 4x4 header, IDAT that inflates to 16 MiB: the bounded
    # decompress takes exactly the declared need, so the valid prefix
    # still decodes byte-exactly
    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    rows = b"".join(b"\x00" + img[y].tobytes() for y in range(4))
    padded = zlib.compress(rows + b"\x00" * (16 << 20), 9)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    data = _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", padded) + _chunk(b"IEND", b"")
    got = decode_png(data)
    assert (got == img[:, :, ::-1]).all()


def test_decode_png_fuzz_only_documented_errors_escape():
    """The PERMISSIVE ingest guards catch (ValueError, zlib.error) — so
    nothing else may escape decode_png on malformed bytes, or a crafted
    file kills the task instead of being skipped. Single-byte flips at
    every offset of a small real PNG, plus every truncation length
    (covers the struct.error a truncated IHDR used to raise)."""
    import zlib

    import numpy as np

    from distributed_video_analytics_flink_spark.functions.png import decode_png

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    data = bytearray(_encode_png_with_filters(img, 2, [0, 1, 2, 3, 4]))

    for i in range(len(data)):
        mutated = bytearray(data)
        mutated[i] ^= 0x5A
        try:
            decode_png(bytes(mutated))
        except (ValueError, zlib.error):
            pass  # the documented, guarded surface
    for n in range(len(data)):
        try:
            decode_png(bytes(data[:n]))
        except (ValueError, zlib.error):
            pass
