"""MJPEG-in-MP4: the THIRD real video container (after Y4M and AVI).
ISO BMFF sample-table walk (stsc runs x stco offsets x stsz sizes) feeds
each video sample to the pure-numpy baseline JPEG codec. Pins:

1. **Roundtrip** — encode_mp4_mjpeg -> decode_mp4 within IDCT tolerance,
   including the multi-chunk stsc walk and DHT-less Annex-K samples.
2. **Probe consistency** — probe_mp4 reports the written fps/dims/count.
3. **Permissive stance** — truncated mdat ends the stream; an
   undecodable sample is skipped; avc1 raises Mp4Error eagerly so the
   frame source falls back to the stub (files keep pre-MJPEG behavior).
4. **Golden motion parity** — the same frames through MJPEG-MP4 and
   raw-DIB AVI produce IDENTICAL motion boxes end to end.
"""

from __future__ import annotations

import numpy as np
import pytest

from distributed_video_analytics_flink_spark.operators.video import detect_motion_batch
from distributed_video_analytics_flink_spark.sources.avi import encode_avi
from distributed_video_analytics_flink_spark.sources.mp4 import (
    Mp4Error,
    decode_mp4,
    encode_mp4_mjpeg,
    probe_mp4,
)
from distributed_video_analytics_flink_spark.sources.video_files import read_video_files
from tests.test_avi import _bgr_square_frames


def test_mp4_mjpeg_roundtrip_and_probe():
    rng = np.random.default_rng(17)
    frames = [rng.integers(0, 256, (24, 40, 3), dtype=np.uint8) for _ in range(7)]
    data = encode_mp4_mjpeg(frames, fps=15, quality=100, samples_per_chunk=3)
    meta = probe_mp4(data)
    assert meta["codec"] == "jpeg"
    assert meta["n_frames"] == 7
    assert meta["fps"] == pytest.approx(15.0)
    assert (meta["width"], meta["height"]) == (40.0, 24.0)
    trak, it = decode_mp4(data)
    decoded = list(it)
    assert len(decoded) == 7
    for got, want in zip(decoded, frames):
        assert got.shape == want.shape
        assert int(np.abs(got.astype(int) - want.astype(int)).max()) <= 3
    # max_frames caps the stream
    _, it2 = decode_mp4(data, max_frames=2)
    assert len(list(it2)) == 2


def test_mp4_mjpeg_single_chunk_and_dht_less():
    """Degenerate single-chunk layout + the DHT-less hardware table mode
    through the MP4 path (the decoder's Annex-K fallback is container
    agnostic)."""
    frames = _bgr_square_frames(16, 16, [0, 4, 8], 6)
    data = encode_mp4_mjpeg(
        frames, fps=10, quality=100, samples_per_chunk=64, jpeg_tables="annexk-nodht"
    )
    assert b"\xff\xc4" not in data[data.find(b"mdat") : data.find(b"moov")]
    _, it = decode_mp4(data)
    decoded = list(it)
    assert len(decoded) == 3
    for got, want in zip(decoded, frames):
        assert int(np.abs(got.astype(int) - want.astype(int)).max()) <= 3


def test_mp4_truncated_and_corrupt_samples_permissive():
    import struct

    frames = _bgr_square_frames(16, 16, [0, 4, 8], 6)
    data = encode_mp4_mjpeg(frames, fps=10, quality=100)
    mdat_at = data.find(b"mdat") - 4
    # corrupt the middle sample: flip its SOF0 to progressive -> that
    # sample is SKIPPED, the stream continues
    first = data.find(b"\xff\xc0", mdat_at)
    mid = data.find(b"\xff\xc0", first + 1)
    mangled = bytearray(data)
    mangled[mid + 1] = 0xC2
    _, it = decode_mp4(bytes(mangled))
    assert len(list(it)) == 2
    # truncated transfer: the final sample's declared range exceeds the
    # buffer (patch its stsz entry huge) -> stream ENDS there, no raise
    p = data.find(b"stsz")
    mangled2 = bytearray(data)
    struct.pack_into(">I", mangled2, p + 16 + 4 * 2, 1 << 24)  # 3rd entry
    _, it3 = decode_mp4(bytes(mangled2))
    assert len(list(it3)) == 2


def test_mp4_unsupported_codec_raises_eagerly():
    frames = _bgr_square_frames(16, 16, [0], 6)
    data = bytearray(encode_mp4_mjpeg(frames, fps=10))
    at = data.find(b"jpeg", data.find(b"stsd"))
    data[at : at + 4] = b"avc1"
    with pytest.raises(Mp4Error, match="unsupported codec"):
        decode_mp4(bytes(data))
    with pytest.raises(Mp4Error):
        decode_mp4(b"\x00" * 64)  # not an MP4 at all


def test_mp4_motion_boxes_identical_to_avi_twin(spark, tmp_path):
    """Golden parity: the SAME frames through MJPEG-MP4 and raw-DIB AVI
    produce IDENTICAL motion boxes through the full pipeline (binaryFile
    scan -> container dispatch -> decode -> detect_motion_batch)."""
    side, h, w = 48, 480, 640
    xs = [96 * i for i in range(4)]
    frames = _bgr_square_frames(h, w, xs, side)
    (tmp_path / "camraw.avi").write_bytes(encode_avi(frames))
    (tmp_path / "cammp4.mp4").write_bytes(
        encode_mp4_mjpeg(frames, fps=30, quality=100)
    )

    df = read_video_files(spark, str(tmp_path))
    out = detect_motion_batch(df).orderBy("camId", "ts_us").collect()
    per_cam = {}
    for r in out:
        per_cam.setdefault(r["camId"], []).append(
            (r["detection_count"], sorted(map(tuple, r["motion_boxes"])))
        )
    assert set(per_cam) == {"camraw", "cammp4"}
    assert per_cam["camraw"] == per_cam["cammp4"]
    assert len(per_cam["cammp4"]) == len(xs)  # one row per frame (first: 0 boxes)
    assert sum(c for c, _ in per_cam["cammp4"]) > 0  # motion really detected


def test_mp4_avc1_still_hits_stub_in_frame_source(spark, tmp_path):
    """Real-codec MP4s the engine cannot decode (avc1) must keep their
    pre-MJPEG behavior: Mp4Error falls back to the deterministic stub,
    so files yield rows, not failures and not silence."""
    frames = _bgr_square_frames(16, 16, [0], 6)
    data = bytearray(encode_mp4_mjpeg(frames, fps=10))
    at = data.find(b"jpeg", data.find(b"stsd"))
    data[at : at + 4] = b"avc1"
    vids = tmp_path / "v"
    vids.mkdir()
    (vids / "camX.mp4").write_bytes(bytes(data) + b"\x00" * 8192)
    rows = read_video_files(spark, str(vids), rows=32, cols=32).collect()
    assert len(rows) >= 1 and all(r["camId"] == "camX" for r in rows)


def test_pre_encoded_sof_dims_must_match_frames():
    """``pre_encoded`` samples are checked against the frames' (h, w) via
    the first sample's SOF header, not only counted."""
    from distributed_video_analytics_flink_spark.sources.jpeg import encode_jpeg

    frames = _bgr_square_frames(24, 40, [0, 8], 8)
    good = [encode_jpeg(f) for f in frames]
    data = encode_mp4_mjpeg(frames, pre_encoded=good)
    assert len(list(decode_mp4(data)[1])) == 2
    wrong = [encode_jpeg(np.zeros((40, 24, 3), np.uint8))] * 2  # transposed
    with pytest.raises(Mp4Error, match="SOF dims"):
        encode_mp4_mjpeg(frames, pre_encoded=wrong)
    with pytest.raises(Mp4Error, match="SOF dims"):
        encode_mp4_mjpeg(frames, pre_encoded=[b"not a jpeg"] * 2)
