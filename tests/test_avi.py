"""Raw-DIB AVI decode: the second codec-free REAL video container for S4
(VERDICT r5 task 6). Pins (a) the RIFF header/chunk parse and bottom-up
padded-row frame decode, (b) the encode->decode roundtrip being
byte-exact, (c) the golden end-to-end: real AVI bytes on disk ->
binaryFile scan -> decode -> motion boxes IDENTICAL to the Y4M twin fed
the same pixels, and (d) PERMISSIVE handling of corrupt/compressed files.
"""

from __future__ import annotations

import numpy as np
import pytest

from distributed_video_analytics_flink_spark.operators.video import detect_motion_batch
from distributed_video_analytics_flink_spark.sources.avi import (
    AviError,
    decode_avi,
    encode_avi,
    is_avi,
    parse_avi_header,
    probe_avi,
)
from distributed_video_analytics_flink_spark.sources.video_files import (
    read_video_files,
    video_container_metadata,
)
from distributed_video_analytics_flink_spark.sources.y4m import decode_y4m, encode_y4m
from tests.test_y4m import _square_planes


def _bgr_square_frames(h, w, xs, side):
    """Black background, white square at (8, x) — BGR twin of the Y4M
    fixture's _square_planes."""
    frames = []
    for x in xs:
        f = np.zeros((h, w, 3), np.uint8)
        f[8 : 8 + side, x : x + side, :] = 255
        frames.append(f)
    return frames


def test_header_parse_and_roundtrip():
    frames = _bgr_square_frames(48, 62, [0, 16], 24)  # 62*3=186 -> stride 188
    data = encode_avi(frames, fps=25)
    assert is_avi(data)
    hdr = parse_avi_header(data)
    assert (hdr.width, hdr.height) == (62, 48)
    assert hdr.fps == 25.0
    assert hdr.stride == 188  # rows pad to 4 bytes
    assert not hdr.top_down

    hdr2, out = decode_avi(data)
    decoded = list(out)
    assert len(decoded) == 2
    for got, want in zip(decoded, frames):
        assert np.array_equal(got, want)  # byte-exact roundtrip


def test_truncated_tail_and_frame_cap():
    frames = _bgr_square_frames(16, 16, [0, 4, 8], 6)
    data = encode_avi(frames)
    _, capped = decode_avi(data, max_frames=2)
    assert len(list(capped)) == 2
    # chop mid-final-frame: the short chunk ends the stream, no raise
    _, trunc = decode_avi(data[:-100])
    assert len(list(trunc)) == 2


def test_rejects_corrupt_and_compressed():
    with pytest.raises(AviError):
        parse_avi_header(b"RIFF\x00\x00\x00\x00WAVE")
    with pytest.raises(AviError):
        parse_avi_header(b"RIFF" + b"\xff\xff\xff\xff" + b"AVI " + b"\x00" * 64)
    # an unsupported-codec strf must be refused, not mis-decoded
    # (MJPG is now a supported codec — see test_mjpeg.py — so the
    # refusal case uses a genuinely undecodable fourcc)
    data = bytearray(encode_avi(_bgr_square_frames(16, 16, [0], 6)))
    strf_at = bytes(data).find(b"strf")
    data[strf_at + 8 + 16 : strf_at + 8 + 20] = b"XVID"  # biCompression
    with pytest.raises(AviError):
        parse_avi_header(bytes(data))


def test_probe_avi():
    frames = _bgr_square_frames(32, 48, [0, 8, 16, 24], 8)
    meta = probe_avi(encode_avi(frames, fps=10))
    assert meta["n_frames"] == 4
    assert meta["codec"] == "avi/rawbgr"
    assert (meta["width"], meta["height"]) == (48.0, 32.0)
    assert meta["duration_s"] == pytest.approx(0.4)


def test_avi_motion_boxes_identical_to_y4m_twin(spark, tmp_path):
    """The golden parity gate: build a Y4M of the jumping white square,
    decode it, re-encode the DECODED BGR frames as a raw AVI — both files
    now carry pixel-identical frames — and assert the motion pipeline
    emits exactly the same boxes for both containers."""
    side, h, w = 48, 480, 640
    xs = [96 * i for i in range(5)]
    y4m_bytes = encode_y4m([_square_planes(h, w, x, side) for x in xs])
    _, decoded = decode_y4m(y4m_bytes)
    (tmp_path / "cam7.y4m").write_bytes(y4m_bytes)
    (tmp_path / "cam7avi.avi").write_bytes(encode_avi(list(decoded)))

    df = read_video_files(spark, str(tmp_path))
    out = detect_motion_batch(df).orderBy("camId", "ts_us").collect()
    per_cam = {}
    for r in out:
        per_cam.setdefault(r["camId"], []).append(
            (r["ts_us"], r["detection_count"], sorted(map(tuple, r["motion_boxes"])))
        )
    assert set(per_cam) == {"cam7", "cam7avi"}
    assert per_cam["cam7"] == per_cam["cam7avi"], "containers diverged"
    assert [d for _, d, _ in per_cam["cam7avi"]] == [0, 2, 2, 2, 2]


def test_avi_resize_path(spark, tmp_path):
    """A 320x240 AVI is bicubic-resized to the 640x480 pipeline dims inside
    the source, same as the Y4M path."""
    (tmp_path / "small.avi").write_bytes(
        encode_avi(_bgr_square_frames(240, 320, [32], 24))
    )
    [row] = read_video_files(spark, str(tmp_path), glob="*.avi").collect()

    px = np.frombuffer(bytes(row["data"]), np.uint8).reshape(480, 640, 3)
    assert (px[40, 88] > 200).all()
    assert (px[400, 600] < 30).all()


def test_metadata_scan_covers_avi(spark, tmp_path):
    (tmp_path / "a.avi").write_bytes(encode_avi(_bgr_square_frames(32, 48, [0, 8], 8)))
    (tmp_path / "junk.avi").write_bytes(b"RIFF\x10\x00\x00\x00AVI LIST")
    meta = {
        r["camId"]: r
        for r in video_container_metadata(spark, str(tmp_path), glob="*.avi").collect()
    }
    assert meta["a"]["codec"] == "avi/rawbgr"
    assert meta["a"]["n_frames"] == 2
    assert meta["a"]["fps"] == 30.0
    assert meta["junk"]["codec"] is None  # corrupt header -> nulls, no failure


def test_avi_python_datasource(spark, tmp_path):
    """Spark 4 Python Data Source: spark.read.format('avi') yields the
    same frame rows as read_video_files (one partition per file)
    and feeds the motion pipeline unchanged."""
    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    side, h, w = 48, 480, 640
    xs = [96 * i for i in range(5)]
    frames = _bgr_square_frames(h, w, xs, side)
    (tmp_path / "cam7.avi").write_bytes(encode_avi(frames))
    (tmp_path / "cam8.avi").write_bytes(encode_avi(frames[:3]))

    register_sources(spark)
    df = spark.read.format("avi").load(str(tmp_path))
    assert df.rdd.getNumPartitions() == 2  # one per file
    rows = df.collect()
    assert {r["camId"] for r in rows} == {"cam7", "cam8"}
    assert len(rows) == 8

    out = detect_motion_batch(df.filter(df.camId == "cam7")).orderBy("ts_us").collect()
    assert [r["detection_count"] for r in out] == [0, 2, 2, 2, 2]


def test_compressed_avi_yields_no_rows_not_failure(spark, tmp_path):
    """PERMISSIVE read path, actually exercised: an unsupported-codec
    (XVID) AVI alongside a good one must contribute zero rows without
    failing the job. Regression for the lazy-generator bug where the
    AviError raised inside the iteration loop, past the try/except
    guard."""
    good = encode_avi(_bgr_square_frames(32, 48, [0, 8], 8))
    bad = bytearray(encode_avi(_bgr_square_frames(32, 48, [0], 8)))
    strf_at = bytes(bad).find(b"strf")
    bad[strf_at + 8 + 16 : strf_at + 8 + 20] = b"XVID"  # biCompression
    (tmp_path / "good.avi").write_bytes(good)
    (tmp_path / "bad.avi").write_bytes(bytes(bad))
    (tmp_path / "junk.y4m").write_bytes(b"YUV4MPEG2 Wnope\n")

    rows = read_video_files(spark, str(tmp_path)).collect()
    assert {r["camId"] for r in rows} == {"good"}
    assert len(rows) == 2


def test_avi_parser_never_crashes_on_fuzz():
    """Robustness: arbitrary byte mangling of a valid AVI must either
    parse, raise AviError, or end the frame stream early — never raise
    anything else, hang, or mis-shape a frame."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = encode_avi(_bgr_square_frames(16, 24, [0, 4], 6), fps=10)

    @settings(max_examples=200, deadline=None)
    @given(
        pos=st.integers(min_value=0, max_value=len(base) - 1),
        val=st.integers(min_value=0, max_value=255),
        cut=st.integers(min_value=0, max_value=len(base)),
    )
    def _fuzz(pos, val, cut):
        data = bytearray(base[:cut] if cut < len(base) else base)
        if pos < len(data):
            data[pos] = val
        try:
            _, frames = decode_avi(bytes(data), max_frames=4)
            for f in frames:
                assert f.ndim == 3 and f.shape[2] == 3
        except AviError:
            pass  # the one sanctioned failure mode

    _fuzz()


def test_avi_roundtrip_property():
    """Any frame stack round-trips byte-exactly through encode/decode,
    across odd widths (stride padding) and frame counts."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(min_value=1, max_value=24),
        w=st.integers(min_value=1, max_value=25),
        n=st.integers(min_value=1, max_value=4),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def _roundtrip(h, w, n, seed):
        rng = np.random.default_rng(seed)
        frames = [
            rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8) for _ in range(n)
        ]
        hdr, out = decode_avi(encode_avi(frames, fps=12))
        decoded = list(out)
        assert (hdr.width, hdr.height, hdr.fps) == (w, h, 12.0)
        assert len(decoded) == n
        for got, want in zip(decoded, frames):
            assert np.array_equal(got, want)

    _roundtrip()


def test_reordered_strl_still_validates_compression():
    """A strf-before-strh strl (legal chunk order) must still validate the
    stream format: compressed streams raise AviError, raw ones decode."""
    data = encode_avi(_bgr_square_frames(16, 16, [0], 6))
    i_strh = data.find(b"strh")
    i_strf = data.find(b"strf")
    strh_chunk = data[i_strh : i_strh + 8 + 56]
    strf_chunk = data[i_strf : i_strf + 8 + 40]
    assert i_strf == i_strh + len(strh_chunk)
    reordered = data[:i_strh] + strf_chunk + strh_chunk + data[i_strf + len(strf_chunk):]

    # raw stream, reordered headers: parses and decodes identically
    hdr = parse_avi_header(reordered)
    assert (hdr.width, hdr.height) == (16, 16)
    assert len(list(decode_avi(reordered)[1])) == 1

    # unsupported-codec stream, reordered headers: must refuse, not
    # decode garbage (MJPG is supported now, so XVID is the refusal case)
    bad = bytearray(reordered)
    j = bytes(bad).find(b"strf")
    bad[j + 8 + 16 : j + 8 + 20] = b"XVID"
    with pytest.raises(AviError):
        parse_avi_header(bytes(bad))


def test_avih_after_strl_does_not_clobber_strf_dims():
    """An avih chunk appearing AFTER the vids strl (legal — the hdrl parse
    is chunk-order-tolerant) must not overwrite the authoritative strf
    dimensions, even when its own width/height disagree (ADVICE r6)."""
    import struct

    data = encode_avi(_bgr_square_frames(16, 16, [0], 6))
    i_avih = data.find(b"avih")
    avih_chunk = bytearray(data[i_avih : i_avih + 8 + 56])
    # lie in avih: claim 640x480 so a clobber is detectable
    struct.pack_into("<II", avih_chunk, 8 + 32, 640, 480)
    i_list = data.find(b"LIST", i_avih)  # the strl LIST follows avih
    strl_list = data[i_list : i_list + 8 + struct.unpack_from("<I", data, i_list + 4)[0]]
    assert i_list == i_avih + len(avih_chunk)
    reordered = (
        data[:i_avih] + strl_list + bytes(avih_chunk) + data[i_list + len(strl_list):]
    )
    hdr = parse_avi_header(reordered)
    assert (hdr.width, hdr.height) == (16, 16)  # strf wins
    frames = list(decode_avi(reordered)[1])
    assert len(frames) == 1 and frames[0].shape == (16, 16, 3)


def test_pre_encoded_sof_dims_must_match_frames():
    """``pre_encoded`` samples are checked against the frames' (h, w) via
    the first sample's SOF header, not only counted."""
    from distributed_video_analytics_flink_spark.sources.jpeg import encode_jpeg

    frames = _bgr_square_frames(24, 40, [0, 8], 8)
    good = [encode_jpeg(f) for f in frames]
    data = encode_avi(frames, codec="mjpeg", pre_encoded=good)
    assert len(list(decode_avi(data)[1])) == 2
    wrong = [encode_jpeg(np.zeros((40, 24, 3), np.uint8))] * 2  # transposed
    with pytest.raises(AviError, match="SOF dims"):
        encode_avi(frames, codec="mjpeg", pre_encoded=wrong)
    with pytest.raises(AviError, match="SOF dims"):
        encode_avi(frames, codec="mjpeg", pre_encoded=[b"not a jpeg"] * 2)
