"""Animated-PNG decode: the engine's second REAL inter-frame video format
(after GIF): frames composite over prior-canvas state via fcTL
dispose/blend ops, with fdAT payloads riding the SAME zlib+scanline
unfilter as still PNGs (functions/png.py::unfilter_scanlines). Pins
(a) bit-exact encode->decode roundtrips for full-frame and
delta-rectangle layouts, (b) exact-integer straight-alpha OVER
compositing against a hand-computed value, (c) dispose_op 1 (background)
and 2 (previous) semantics, (d) sequence-number enforcement and the
hidden-still IDAT rule, (e) the golden end-to-end: delta-encoded APNG
bytes on disk -> binaryFile scan -> compositing decode -> motion boxes
IDENTICAL to the lossless raw-AVI twin, and (f) PERMISSIVE corrupt
header/tail handling plus single-bit-flip fuzz (only ApngError escapes
the strict decoder's documented surface)."""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from distributed_video_analytics_flink_spark.operators.video import detect_motion_batch
from distributed_video_analytics_flink_spark.sources.apng import (
    ApngError,
    decode_apng,
    encode_apng,
    is_apng,
    probe_apng,
)
from distributed_video_analytics_flink_spark.sources.avi import encode_avi
from distributed_video_analytics_flink_spark.sources.video_files import (
    iter_chunk_rows,
    permissive,
    read_video_files,
    video_container_metadata,
)


def _moving_square(n=5, h=40, w=60):
    out = [np.zeros((h, w, 3), np.uint8)]
    for t in range(1, n):
        f = np.zeros((h, w, 3), np.uint8)
        f[10:20, 5 * t : 5 * t + 8] = (200, 100, 30 * t)
        out.append(f)
    return out


@pytest.mark.parametrize("kw", [{}, {"delta": True}, {"delta": True, "blend_over": True}])
def test_roundtrip_bit_exact(kw):
    frames = _moving_square()
    data = encode_apng(frames, **kw)
    assert is_apng(data)
    out = list(decode_apng(data))
    assert len(out) == len(frames)
    for got, want in zip(out, frames):
        assert np.array_equal(got, want), kw


def test_plain_png_is_not_apng():
    from distributed_video_analytics_flink_spark.functions.png import encode_png_bgr

    still = encode_png_bgr(np.zeros((8, 8, 3), np.uint8))
    assert not is_apng(still)
    with pytest.raises(ApngError):
        list(decode_apng(still))


def test_alpha_over_exact_integer():
    """OVER with a half-transparent source over an opaque destination:
    c_out = (200*128 + 100*127) / 255 = 150 exactly (round half up)."""
    f0 = np.full((4, 4, 3), 100, np.uint8)
    f1 = np.full((4, 4, 3), 200, np.uint8)
    alphas = [np.full((4, 4), 255, np.uint8), np.full((4, 4), 128, np.uint8)]
    o0, o1 = list(decode_apng(encode_apng([f0, f1], blend_over=True, alphas=alphas)))
    assert (o0 == 100).all()
    assert (o1 == round((200 * 128 + 100 * 127) / 255)).all()


def test_dispose_background_and_previous():
    """dispose 1 clears the frame's region to transparent (flattens to
    black) before the next frame; dispose 2 restores the pre-frame
    canvas. Built with full first frames + a partial second frame via
    the delta encoder, then dispose semantics checked on frame 3."""
    h, w = 6, 8
    red = np.zeros((h, w, 3), np.uint8)
    red[:, :] = (0, 0, 200)
    with_patch = red.copy()
    with_patch[1:3, 2:5] = (0, 200, 0)
    # dispose=1 on every frame: after frame 2 (the patch delta), its
    # region is cleared, so frame 3's unchanged-pixels delta is computed
    # against... (delta requires dispose 0) -> use explicit full frames
    frames = [red, with_patch, red]
    out = list(decode_apng(encode_apng(frames, dispose=1)))
    for got, want in zip(out, frames):
        assert np.array_equal(got, want)  # full frames repaint everything
    out = list(decode_apng(encode_apng(frames, dispose=2)))
    for got, want in zip(out, frames):
        assert np.array_equal(got, want)


def test_dispose_background_partial_frame_clears_region():
    """Hand-check the dispose-1 clear with a PARTIAL second frame: build
    frame2 as a small SOURCE rect; after it, its region flattens to
    black, so a third 1x1 frame reveals the cleared region."""
    h, w = 6, 8
    base = np.full((h, w, 3), 50, np.uint8)
    # the public encoder applies one dispose to every frame, so use
    # alphas to make an OVER frame that only paints the rect, dispose=1
    f2 = base.copy()
    f2[2:4, 3:6] = 200
    a2 = np.zeros((h, w), np.uint8)
    a2[2:4, 3:6] = 255  # only the rect is painted
    f3 = f2.copy()  # 1-px delta won't repaint the cleared region
    frames = [base, f2, f3]
    alphas = [np.full((h, w), 255, np.uint8), a2, np.full((h, w), 255, np.uint8)]
    data = encode_apng(frames, blend_over=True, dispose=1, alphas=alphas)
    o1, o2, o3 = list(decode_apng(data))
    assert np.array_equal(o1, base)
    # frame 1's dispose=1 cleared the WHOLE canvas (frame 1 was full);
    # frame 2's OVER paints only the rect over transparent -> the flatten
    # shows black everywhere else, NOT the previous base
    want2 = np.zeros((h, w, 3), np.uint8)
    want2[2:4, 3:6] = 200
    assert np.array_equal(o2, want2)
    # frame 2's dispose=1 cleared again; frame 3 is fully opaque
    assert np.array_equal(o3, f3)


def test_sequence_enforcement_and_probe():
    frames = _moving_square(3)
    data = bytearray(encode_apng(frames, delay=(1, 50)))
    meta = probe_apng(bytes(data))
    assert meta == {
        "duration_s": 0.06,
        "width": 60.0,
        "height": 40.0,
        "n_frames": 3,
        "codec": "apng",
        "fps": 50.0,
    }
    # corrupt an fdAT sequence number: strict decode raises
    i = bytes(data).find(b"fdAT")
    data[i + 7] ^= 0x40
    with pytest.raises(ApngError):
        list(decode_apng(bytes(data)))


def test_corrupt_tail_permissive():
    data = bytearray(encode_apng(_moving_square(4), delta=True))
    i = bytes(data).rfind(b"fdAT")
    data[i + 10] ^= 0xFF  # corrupt the final frame's deflate stream
    frames = permissive(decode_apng, ApngError)(bytes(data), 1 << 30)
    got = list(frames)
    assert 0 < len(got) < 4  # good prefix flowed, task never died


def test_bitflip_fuzz_only_apng_errors():
    """Single-bit flips over a small fixture: the strict decoder's
    documented error surface is ApngError and nothing else (r10 review:
    zlib/unfilter failures are wrapped, so a strict caller catching the
    documented type cannot be killed by a flipped deflate byte)."""
    base = encode_apng([f[:8, :10] for f in _moving_square(3)], delta=True)
    for i in range(len(base)):
        b = bytearray(base)
        b[i] ^= 1 << (i % 8)
        try:
            for _f in decode_apng(bytes(b)):
                pass
        except ApngError:
            pass


def test_decompression_bomb_bounded():
    """r10 review: a crafted fdAT whose deflate stream inflates far past
    the declared frame size must NOT balloon memory (a 204 KB file drove
    ~459 MB through plain zlib.decompress). The bounded decompress caps
    output at the frame's exact byte need."""
    import tracemalloc

    bomb_rect = np.zeros((1, 1, 4), np.uint8)
    base = np.zeros((4, 4, 4), np.uint8)
    data = bytearray(_hand_apng(4, 4, [(0, 0, base, 0, 0), (0, 0, bomb_rect, 0, 0)]))
    # swap the 1x1 frame's fdAT body for a ~50 MB-inflating bomb
    i = bytes(data).rfind(b"fdAT")
    import struct

    (length,) = struct.unpack(">I", data[i - 4 : i])
    seq = data[i + 4 : i + 8]
    bomb = zlib.compress(b"\x00" * 50_000_000, 9)
    from distributed_video_analytics_flink_spark.sources.apng import _chunk

    new_chunk = _chunk(b"fdAT", seq + bomb)
    data[i - 4 : i + 4 + length + 4] = new_chunk
    tracemalloc.start()
    frames = list(decode_apng(bytes(data), max_frames=10))
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert len(frames) == 2  # bounded read of the first 5 bytes suffices
    assert peak < 20_000_000, f"peak {peak} — the bomb inflated"


def test_apng_motion_boxes_identical_to_lossless_twin(spark, tmp_path):
    """Golden parity through the inter-frame path: delta-encoded APNG vs
    a raw-DIB AVI carrying pixel-identical frames — identical motion
    boxes."""
    frames = []
    for i in range(5):
        f = np.zeros((480, 640, 3), np.uint8)
        if i:
            f[8:56, 96 * i : 96 * i + 48] = 255
        frames.append(f)
    (tmp_path / "cam9.avi").write_bytes(encode_avi(frames))
    (tmp_path / "cam9a.apng").write_bytes(encode_apng(frames, delta=True))

    df = read_video_files(spark, str(tmp_path))
    out = detect_motion_batch(df).orderBy("camId", "ts_us").collect()
    per_cam = {}
    for r in out:
        per_cam.setdefault(r["camId"], []).append(
            (r["ts_us"], r["detection_count"], sorted(map(tuple, r["motion_boxes"])))
        )
    assert set(per_cam) == {"cam9", "cam9a"}
    assert per_cam["cam9"] == per_cam["cam9a"], "containers diverged"
    assert [d for _, d, _ in per_cam["cam9a"]] == [0, 1, 2, 2, 2]


def test_metadata_scan_covers_apng(spark, tmp_path):
    (tmp_path / "a.apng").write_bytes(encode_apng(_moving_square(3), delay=(1, 10)))
    (tmp_path / "junk.apng").write_bytes(b"\x89PNG\r\n\x1a\n\x00bad")
    meta = {
        r["camId"]: r
        for r in video_container_metadata(
            spark, str(tmp_path), glob="*.apng"
        ).collect()
    }
    assert meta["a"]["codec"] == "apng"
    assert meta["a"]["n_frames"] == 3
    assert meta["a"]["fps"] == 10.0
    assert meta["junk"]["codec"] is None


def test_apng_chunks_ship_raw_bgr():
    """APNG is inter-frame: iter_chunk_rows decodes source-side and
    ships raw-bgr pixels, same stance as GIF."""
    data = encode_apng(_moving_square(3), delta=True)
    rows = list(iter_chunk_rows(data, "cama", 40, 60, 64))
    assert len(rows) == 3
    assert all(r[6] == "raw-bgr" for r in rows)
    assert all(len(r[7]) == 40 * 60 * 3 for r in rows)


def _hand_apng(w, h, frames_spec):
    """Assemble raw APNG bytes with PER-FRAME dispose/blend (the public
    encoder is uniform): frames_spec = [(x, y, rgba_2d, dispose, blend)];
    frame 0 rides IDAT, the rest fdAT."""
    import struct

    from distributed_video_analytics_flink_spark.functions.png import _PNG_SIG
    from distributed_video_analytics_flink_spark.sources.apng import _chunk

    out = bytearray(_PNG_SIG)
    out += _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
    out += _chunk(b"acTL", struct.pack(">II", len(frames_spec), 0))
    seq = 0
    for t, (x, y, px, dispose, blend) in enumerate(frames_spec):
        fh, fw = px.shape[:2]
        out += _chunk(
            b"fcTL",
            struct.pack(">IIIIIHHBB", seq, fw, fh, x, y, 2, 100, dispose, blend),
        )
        seq += 1
        body = zlib.compress(
            b"".join(b"\x00" + px[r].tobytes() for r in range(fh))
        )
        if t == 0:
            out += _chunk(b"IDAT", body)
        else:
            out += _chunk(b"fdAT", struct.pack(">I", seq) + body)
            seq += 1
    out += _chunk(b"IEND", b"")
    return bytes(out)


def test_dispose_previous_reverts_frame_region():
    """Per-frame dispose: frame 2 paints a rect with dispose 2
    (PREVIOUS); frame 3 must show the rect GONE — the canvas reverted to
    its pre-frame-2 state — while frame 3's own pixel lands."""
    h, w = 6, 8
    base = np.zeros((h, w, 4), np.uint8)
    base[:, :] = (200, 0, 0, 255)  # opaque red (RGBA)
    green = np.zeros((2, 3, 4), np.uint8)
    green[:, :] = (0, 200, 0, 255)
    blue = np.zeros((1, 1, 4), np.uint8)
    blue[:, :] = (0, 0, 200, 255)
    data = _hand_apng(
        w, h,
        [
            (0, 0, base, 0, 0),   # full, keep
            (2, 1, green, 2, 0),  # rect, dispose PREVIOUS
            (0, 0, blue, 0, 0),   # 1px, keep
        ],
    )
    o1, o2, o3 = list(decode_apng(data))
    red_bgr = np.zeros((h, w, 3), np.uint8)
    red_bgr[:, :] = (0, 0, 200)  # BGR
    assert np.array_equal(o1, red_bgr)
    want2 = red_bgr.copy()
    want2[1:3, 2:5] = (0, 200, 0)
    assert np.array_equal(o2, want2)
    want3 = red_bgr.copy()
    want3[0, 0] = (200, 0, 0)  # blue in BGR; green rect reverted
    assert np.array_equal(o3, want3)


def test_fctl_with_no_frame_data_raises():
    """Two consecutive fcTLs with no fdAT/IDAT between them would silently
    drop the first frame control; the strict decoder must raise instead
    (consistent with its out-of-order/orphan-fdAT surface)."""
    import struct

    from distributed_video_analytics_flink_spark.functions.png import _PNG_SIG
    from distributed_video_analytics_flink_spark.sources.apng import _chunk

    px = np.zeros((2, 2, 4), np.uint8)
    body = zlib.compress(b"".join(b"\x00" + px[r].tobytes() for r in range(2)))
    out = bytearray(_PNG_SIG)
    out += _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0))
    out += _chunk(b"acTL", struct.pack(">II", 2, 0))
    out += _chunk(b"fcTL", struct.pack(">IIIIIHHBB", 0, 2, 2, 0, 0, 1, 100, 0, 0))
    out += _chunk(b"fcTL", struct.pack(">IIIIIHHBB", 1, 2, 2, 0, 0, 1, 100, 0, 0))
    out += _chunk(b"IDAT", body)
    out += _chunk(b"IEND", b"")
    with pytest.raises(ApngError, match="no frame data"):
        list(decode_apng(bytes(out)))
    # PERMISSIVE wrapper: stream ends cleanly at the malformation
    frames = permissive(decode_apng, ApngError)(bytes(out), 1 << 30)
    assert list(frames) == []


def test_probe_n_frames_follows_fctl_count_not_actl():
    """A malformed acTL declaring more frames than the file carries must
    not make the probe inconsistent with what decode_apng emits: n_frames
    reports the counted fcTLs."""
    import struct

    frames = _moving_square(3)
    data = bytearray(encode_apng(frames, delay=(1, 10)))
    i = bytes(data).find(b"acTL")
    # payload starts 4 bytes after the tag; first field is num_frames
    data[i + 4 : i + 8] = struct.pack(">I", 7)  # lie: declare 7
    meta = probe_apng(bytes(data))
    assert meta["n_frames"] == 3 == len(list(decode_apng(bytes(data))))
    assert meta["fps"] == 10.0


def test_apng_python_datasource(spark, tmp_path):
    """Spark 4 Python Data Source: spark.read.format('apng') yields the
    same frame rows as read_video_files (one partition per file)
    and feeds the motion pipeline unchanged; a corrupt file — and a plain
    still PNG, which is not an animation — contributes zero rows, not a
    task failure."""
    from distributed_video_analytics_flink_spark.functions.png import encode_png_bgr
    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    # block 25x25 (=625 px) clears the contour area>300 filter
    frames = [np.zeros((60, 80, 3), np.uint8)]
    for t in range(1, 5):
        f = np.zeros((60, 80, 3), np.uint8)
        f[10:35, 10 * t : 10 * t + 25] = (200, 100, 30 * t)
        frames.append(f)
    (tmp_path / "cam7.apng").write_bytes(encode_apng(frames, delta=True))
    (tmp_path / "cam8.apng").write_bytes(encode_apng(frames[:3]))
    (tmp_path / "junk.apng").write_bytes(b"\x89PNG\r\n\x1a\n\x00bad")
    (tmp_path / "still.apng").write_bytes(encode_png_bgr(frames[0]))

    register_sources(spark)
    df = spark.read.format("apng").load(str(tmp_path))
    assert df.rdd.getNumPartitions() == 4  # one per file
    rows = df.collect()
    assert {r["camId"] for r in rows} == {"cam7", "cam8"}  # junk+still: 0 rows
    assert len(rows) == 8

    out = (
        detect_motion_batch(df.filter(df.camId == "cam7")).orderBy("ts_us").collect()
    )
    # frame 0 is blank: frame 1 shows only the appearing square (1 box);
    # each later frame shows vanish + appear as a merged or split region
    counts = [r["detection_count"] for r in out]
    assert counts[0] == 0 and all(c >= 1 for c in counts[1:])


def test_apng_stream_source_matches_batch(spark, tmp_path):
    """spark.readStream.format('apng') over a directory replays the same
    wire rows as the batch reader (FileStreamReader machinery shared
    with y4m/avi/gif)."""
    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    frames = _moving_square(3)
    data_dir = tmp_path / "in"
    data_dir.mkdir()
    (data_dir / "camA.apng").write_bytes(encode_apng(frames, delta=True))
    register_sources(spark)

    q = (
        spark.readStream.format("apng")
        .load(str(data_dir))
        .writeStream.format("memory")
        .queryName("apng_stream_rows")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT camId, timestamp, rows, cols, type, data FROM apng_stream_rows"
    ).collect()
    want = spark.read.format("apng").load(str(data_dir)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == 3
