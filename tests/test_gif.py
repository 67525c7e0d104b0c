"""Animated-GIF decode: the engine's first REAL inter-frame video format
for S4 (frames composite over prior-frame canvas state — disposal methods
+ transparency — so decoding frame N requires decoder state from frames
< N). Pins (a) the LZW coder against a hand-computed byte fixture and a
roundtrip fuzz that crosses every width boundary and the 4096-entry
dictionary reset, (b) bit-exact encode->decode roundtrips for full-frame,
delta-rectangle, transparency, and interlaced layouts, (c) spec-literal
disposal 2 (restore to background) and 3 (restore to previous) on
hand-assembled byte streams, (d) the golden end-to-end: delta-encoded GIF
bytes on disk -> binaryFile scan -> compositing decode -> motion boxes
IDENTICAL to the Y4M twin fed the same pixels, and (e) PERMISSIVE
handling of corrupt headers and corrupt tails (good prefix flows, the
task never dies)."""

from __future__ import annotations

import random

import numpy as np
import pytest

from distributed_video_analytics_flink_spark.operators.video import detect_motion_batch
from distributed_video_analytics_flink_spark.sources.gif import (
    GifError,
    _wrap_subblocks,
    decode_gif,
    encode_gif,
    is_gif,
    lzw_decode,
    lzw_encode,
    parse_gif_header,
    probe_gif,
)
from distributed_video_analytics_flink_spark.sources.video_files import (
    iter_chunk_rows,
    read_video_files,
    video_container_metadata,
)
from distributed_video_analytics_flink_spark.sources.y4m import decode_y4m, encode_y4m
from tests.test_y4m import _square_planes


def test_lzw_handcase():
    """Hand-derived from the spec's algorithm: indices [0,0,0,0] at
    minimum code size 2 emit codes [CLEAR=4, 0, 6, 0, EOI=5] at width 3,
    packed LSB-first = 0x84 0x51 — pins the exact width schedule both
    coder halves must share."""
    enc = lzw_encode(2, bytes([0, 0, 0, 0]))
    assert enc == bytes([0x84, 0x51])
    assert lzw_decode(2, enc, 4) == bytes([0, 0, 0, 0])


def test_lzw_roundtrip_fuzz():
    rng = random.Random(11)
    for trial in range(40):
        mcs = rng.choice([2, 3, 4, 7, 8])
        n = rng.choice([1, 3, 257, 4000, 40000])  # 40k forces a dict reset
        data = bytes(rng.randrange(1 << mcs) for _ in range(n))
        enc = lzw_encode(mcs, data)
        assert lzw_decode(mcs, enc, n) == data, (trial, mcs, n)


def test_lzw_rejects():
    for bad_mcs in (1, 9, 10, 11, 12):
        # 9-11 would build a >256-entry base table: bytes([i]) raises a
        # bare ValueError that escapes GifError guards (review finding)
        with pytest.raises(GifError):
            lzw_decode(bad_mcs, b"\x00", 1)
        with pytest.raises(GifError):
            lzw_encode(bad_mcs, b"\x00")
    with pytest.raises(GifError):
        lzw_decode(2, b"", 1)  # truncated
    with pytest.raises(GifError):
        # code 7 (width 3) references an entry never defined
        lzw_decode(2, bytes([0x84 | (7 << 4)]), 8)
    with pytest.raises(GifError):
        lzw_encode(2, bytes([4]))  # index out of range for code size


def _frames(seed=3, n=4, h=33, w=47, ncolors=4):
    rng = np.random.default_rng(seed)
    return [
        rng.integers(0, ncolors, size=(h, w, 3), dtype=np.uint8) * (255 // ncolors)
        for _ in range(n)
    ]


def _moving_square(n=5, h=40, w=60):
    out = [np.zeros((h, w, 3), np.uint8)]
    for t in range(1, n):
        f = np.zeros((h, w, 3), np.uint8)
        f[10:20, 5 * t : 5 * t + 8] = (200, 100, 30 * t)
        out.append(f)
    return out


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"delta": True},
        {"delta": True, "use_transparency": True},
        {"interlace": True},
        {"delta": True, "interlace": True, "loop": True},
    ],
)
def test_roundtrip_bit_exact(kw):
    frames = _moving_square()
    out = list(decode_gif(encode_gif(frames, **kw)))
    assert len(out) == len(frames)
    for got, want in zip(out, frames):
        assert np.array_equal(got, want), kw


def test_fullframe_many_colors_roundtrip():
    frames = _frames(ncolors=6)
    out = list(decode_gif(encode_gif(frames)))
    for got, want in zip(out, frames):
        assert np.array_equal(got, want)


def _hand_gif(frames_spec, gct, bg_index=0, min_code=None):
    """Assemble raw GIF89a bytes: frames_spec = [(left, top, idx2d,
    disposal, transparent_or_None)], gct = list of RGB tuples (padded to a
    power of two). ``min_code`` overrides the LZW root size (real files
    use e.g. size 3 over a 4-entry table to carry a transparent index
    outside it)."""
    n = max(2, len(gct))
    size_pow = (n - 1).bit_length()
    table = np.zeros((1 << size_pow, 3), np.uint8)
    table[: len(gct)] = np.array(gct, np.uint8)
    h = max(t + a.shape[0] for _, t, a, _, _ in frames_spec)
    w = max(left + a.shape[1] for left, _, a, _, _ in frames_spec)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out.append(0x80 | (size_pow - 1))
    out.append(bg_index)
    out.append(0)
    out += table.tobytes()
    min_code = max(2, size_pow) if min_code is None else min_code
    for left, top, idx, disposal, transparent in frames_spec:
        flags = (disposal << 2) | (1 if transparent is not None else 0)
        gce = (
            bytes([flags]) + (4).to_bytes(2, "little") + bytes([transparent or 0])
        )
        out += b"\x21\xf9" + _wrap_subblocks(gce)
        ih, iw = idx.shape
        out += b"\x2c"
        out += left.to_bytes(2, "little") + top.to_bytes(2, "little")
        out += iw.to_bytes(2, "little") + ih.to_bytes(2, "little")
        out.append(0)
        out.append(min_code)
        out += _wrap_subblocks(lzw_encode(min_code, idx.astype(np.uint8).tobytes()))
    out.append(0x3B)
    return bytes(out)


GCT4 = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]  # black/R/G/B


def test_disposal_2_restores_background():
    """Spec section 23: after a disposal-2 frame, its rectangle reverts to
    the background color before the next frame composites."""
    full_red = np.full((6, 8), 1, np.uint8)
    green_rect = np.full((2, 3), 2, np.uint8)
    data = _hand_gif(
        [(0, 0, full_red, 2, None), (2, 1, green_rect, 0, None)], GCT4
    )
    f1, f2 = list(decode_gif(data))
    assert np.array_equal(f1, np.broadcast_to((0, 0, 255), (6, 8, 3)))  # BGR red
    want2 = np.zeros((6, 8, 3), np.uint8)  # region restored to black bg
    want2[1:3, 2:5] = (0, 255, 0)  # BGR green
    assert np.array_equal(f2, want2)


def test_disposal_3_restores_previous():
    full_red = np.full((6, 8), 1, np.uint8)
    green = np.full((2, 2), 2, np.uint8)
    blue = np.full((2, 2), 3, np.uint8)
    data = _hand_gif(
        [(0, 0, full_red, 1, None), (0, 0, green, 3, None), (4, 3, blue, 0, None)],
        GCT4,
    )
    f1, f2, f3 = list(decode_gif(data))
    red = np.broadcast_to((0, 0, 255), (6, 8, 3)).copy()
    assert np.array_equal(f1, red)
    want2 = red.copy()
    want2[0:2, 0:2] = (0, 255, 0)
    assert np.array_equal(f2, want2)
    want3 = red.copy()  # green gone: canvas restored to pre-frame-2
    want3[3:5, 4:6] = (255, 0, 0)  # BGR blue
    assert np.array_equal(f3, want3)


def test_transparent_pixels_keep_canvas():
    full_red = np.full((4, 4), 1, np.uint8)
    patch = np.array([[2, 0], [0, 2]], np.uint8)  # 0 = transparent here
    data = _hand_gif(
        [(0, 0, full_red, 1, None), (1, 1, patch, 0, 0)], GCT4
    )
    _, f2 = list(decode_gif(data))
    want = np.broadcast_to((0, 0, 255), (4, 4, 3)).copy()
    want[1, 1] = (0, 255, 0)
    want[2, 2] = (0, 255, 0)  # the index-0 cells stay red (transparent)
    assert np.array_equal(f2, want)


def test_header_and_probe():
    frames = _moving_square()
    data = encode_gif(frames, delay_cs=5, delta=True, loop=True)
    assert is_gif(data)
    hdr = parse_gif_header(data)
    assert (hdr.width, hdr.height) == (60, 40)
    meta = probe_gif(data)
    assert meta["n_frames"] == len(frames)
    assert meta["codec"] == "gif"
    assert meta["fps"] == 20.0  # 5 cs/frame
    assert meta["duration_s"] == 0.05 * len(frames)


def test_rejects_corrupt():
    with pytest.raises(GifError):
        parse_gif_header(b"NOTAGIF")
    with pytest.raises(GifError):
        parse_gif_header(b"GIF89a" + b"\x00" * 4)  # truncated LSD
    # implausible canvas: the untrusted-dims cap
    big = b"GIF89a" + (60000).to_bytes(2, "little") * 2 + b"\x00\x00\x00"
    with pytest.raises(GifError):
        parse_gif_header(big)
    # valid header, garbage block stream: strict decode raises
    ok = encode_gif(_moving_square(2))
    at = ok.index(b"\x21\xf9")  # first block introducer -> unknown type
    broken = ok[:at] + b"\x99" + ok[at + 1 :]
    with pytest.raises(GifError):
        list(decode_gif(broken))


def test_fuzz_never_crashes_differently():
    """EVERY single-bit flip of a small valid GIF either still decodes or
    raises GifError — no other exception type escapes (the r10 review
    found seeded sampling missed the LZW-code-size byte, where a flip
    turned size 2 into 10 and a bare ValueError killed the task).
    Exhaustive over all positions x all 8 bits."""
    base = encode_gif(
        [f[:8, :10] for f in _moving_square(3)], delta=True, use_transparency=True
    )
    for i in range(len(base)):
        for bit in range(8):
            b = bytearray(base)
            b[i] ^= 1 << bit
            try:
                for _f in decode_gif(bytes(b)):
                    pass
            except GifError:
                pass


def test_multibyte_fuzz_random():
    """Multi-byte random mutations of a larger fixture: same contract."""
    base = encode_gif(_moving_square(3), delta=True, use_transparency=True)
    rng = random.Random(5)
    for _ in range(200):
        b = bytearray(base)
        for _k in range(rng.randrange(1, 4)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        try:
            for _f in decode_gif(bytes(b)):
                pass
        except GifError:
            pass


def test_transparent_index_outside_table_is_legal():
    """Real encoders emit transparent indices >= the color-table size
    (those pixels are never looked up); the bounds check must only
    police DRAWN pixels (r10 review finding: rejecting them silently
    dropped every frame from the first such one on)."""
    full_red = np.full((4, 4), 1, np.uint8)
    patch = np.array([[2, 5], [5, 2]], np.uint8)  # 5 >= table size 4
    data = _hand_gif(
        [(0, 0, full_red, 1, None), (1, 1, patch, 0, 5)], GCT4, min_code=3
    )
    f1, f2 = list(decode_gif(data))
    want = np.broadcast_to((0, 0, 255), (4, 4, 3)).copy()
    want[1, 1] = (0, 255, 0)
    want[2, 2] = (0, 255, 0)  # index-5 cells stay red (transparent)
    assert np.array_equal(f2, want)
    # a DRAWN out-of-table index still raises
    bad = np.array([[5]], np.uint8)
    data = _hand_gif(
        [(0, 0, full_red, 1, None), (0, 0, bad, 0, None)], GCT4, min_code=3
    )
    with pytest.raises(GifError):
        list(decode_gif(data))


def test_gif_motion_boxes_identical_to_y4m_twin(spark, tmp_path):
    """The golden parity gate, through the INTER-FRAME path: build a Y4M
    of the jumping white square, decode it, re-encode the DECODED BGR
    frames as a DELTA+TRANSPARENCY GIF (frames 2+ are partial rectangles
    composited over canvas state) — both files now carry pixel-identical
    frames — and assert the motion pipeline emits exactly the same
    boxes for both containers."""
    side, h, w = 48, 480, 640
    xs = [96 * i for i in range(5)]
    y4m_bytes = encode_y4m([_square_planes(h, w, x, side) for x in xs])
    _, decoded = decode_y4m(y4m_bytes)
    (tmp_path / "cam7.y4m").write_bytes(y4m_bytes)
    (tmp_path / "cam7gif.gif").write_bytes(
        encode_gif(list(decoded), delta=True, use_transparency=True)
    )

    df = read_video_files(spark, str(tmp_path))
    out = detect_motion_batch(df).orderBy("camId", "ts_us").collect()
    per_cam = {}
    for r in out:
        per_cam.setdefault(r["camId"], []).append(
            (r["ts_us"], r["detection_count"], sorted(map(tuple, r["motion_boxes"])))
        )
    assert set(per_cam) == {"cam7", "cam7gif"}
    assert per_cam["cam7"] == per_cam["cam7gif"], "containers diverged"
    assert [d for _, d, _ in per_cam["cam7gif"]] == [0, 2, 2, 2, 2]


def test_gif_resize_path(spark, tmp_path):
    """A 320x240 GIF is bicubic-resized to the 640x480 pipeline dims
    inside the source, same as the Y4M/AVI paths."""
    f = np.zeros((240, 320, 3), np.uint8)
    f[20:44, 32:56] = 255
    (tmp_path / "small.gif").write_bytes(encode_gif([f]))
    [row] = read_video_files(spark, str(tmp_path), glob="*.gif").collect()

    px = np.frombuffer(bytes(row["data"]), np.uint8).reshape(480, 640, 3)
    assert (px[64, 88] > 200).all()
    assert (px[400, 600] < 30).all()


def test_metadata_scan_covers_gif(spark, tmp_path):
    (tmp_path / "a.gif").write_bytes(encode_gif(_moving_square(3), delay_cs=10))
    (tmp_path / "junk.gif").write_bytes(b"GIF89a\x00\x00")
    meta = {
        r["camId"]: r
        for r in video_container_metadata(spark, str(tmp_path), glob="*.gif").collect()
    }
    assert meta["a"]["codec"] == "gif"
    assert meta["a"]["n_frames"] == 3
    assert meta["a"]["fps"] == 10.0
    assert meta["junk"]["codec"] is None  # corrupt header -> nulls, no failure


def test_corrupt_tail_keeps_good_prefix(spark, tmp_path):
    """PERMISSIVE: a GIF whose block stream goes bad after one good frame
    yields that frame's row and no task failure (decode_gif itself stays
    strict; the wrapper owns the stance)."""
    ok = encode_gif(_moving_square(1))
    assert ok[-1] == 0x3B
    bad = ok[:-1] + b"\x77\x77\x77"  # trailer replaced by garbage block
    (tmp_path / "cut.gif").write_bytes(bad)
    rows = read_video_files(spark, str(tmp_path), glob="*.gif").collect()
    assert len(rows) == 1  # the good frame flowed; the bad tail just ended it


def test_gif_chunks_ship_raw_bgr():
    """GIF frames depend on palette + composited-canvas state, so the
    passthrough demux cannot ship encoded chunks: iter_chunk_rows decodes
    source-side and emits codec='raw-bgr' pixels at target dims."""
    data = encode_gif(_moving_square(3), delta=True)
    rows = list(iter_chunk_rows(data, "camg", 40, 60, 64))
    assert len(rows) == 3
    assert all(r[6] == "raw-bgr" for r in rows)
    assert all(len(r[7]) == 40 * 60 * 3 for r in rows)


def _square_bgr_frames(n=5, h=480, w=640, side=48):
    frames = [np.zeros((h, w, 3), np.uint8)]
    for t in range(1, n):
        f = np.zeros((h, w, 3), np.uint8)
        f[8 : 8 + side, 96 * t : 96 * t + side] = 255
        frames.append(f)
    return frames


def test_gif_python_datasource(spark, tmp_path):
    """Spark 4 Python Data Source: spark.read.format('gif') yields the
    same frame rows as read_video_files (one partition per file)
    and feeds the motion pipeline unchanged; a corrupt file contributes
    zero rows, not a task failure."""
    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    frames = _square_bgr_frames()
    (tmp_path / "cam7.gif").write_bytes(
        encode_gif(frames, delta=True, use_transparency=True)
    )
    (tmp_path / "cam8.gif").write_bytes(encode_gif(frames[:3]))
    (tmp_path / "junk.gif").write_bytes(b"GIF89a\x01")

    register_sources(spark)
    df = spark.read.format("gif").load(str(tmp_path))
    assert df.rdd.getNumPartitions() == 3  # one per file
    rows = df.collect()
    assert {r["camId"] for r in rows} == {"cam7", "cam8"}  # junk: 0 rows
    assert len(rows) == 8

    out = (
        detect_motion_batch(df.filter(df.camId == "cam7")).orderBy("ts_us").collect()
    )
    # frame 0 is blank: frame 1 shows only the appearing square (1 box);
    # each later frame shows vanish + appear (2 boxes)
    assert [r["detection_count"] for r in out] == [0, 1, 2, 2, 2]


def test_gif_stream_source_matches_batch(spark, tmp_path):
    """spark.readStream.format('gif') over a directory replays the same
    wire rows as the batch reader (FileStreamReader machinery shared
    with y4m/avi)."""
    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    frames = _square_bgr_frames(3)
    data_dir = tmp_path / "in"
    data_dir.mkdir()
    (data_dir / "camA.gif").write_bytes(encode_gif(frames, delta=True))
    register_sources(spark)

    q = (
        spark.readStream.format("gif")
        .load(str(data_dir))
        .writeStream.format("memory")
        .queryName("gif_stream_rows")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT camId, timestamp, rows, cols, type, data FROM gif_stream_rows"
    ).collect()
    want = spark.read.format("gif").load(str(data_dir)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
