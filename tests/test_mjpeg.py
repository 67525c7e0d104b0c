"""Baseline JPEG + MJPEG-AVI: the FIRST genuinely compressed codec the
engine decodes to real pixels (VERDICT r6 #2). Pins:

1. **JPEG codec correctness** — encode->decode roundtrips within IDCT
   tolerance (quality 100 = all-ones quant tables: error is float
   rounding + YCbCr roundtrip only), grayscale and color, odd sizes,
   4:2:0-style subsampled decode, and hard refusal of non-baseline
   streams.
2. **MJPEG-AVI end-to-end** — 'MJPG' biCompression parses, probes, and
   decodes through the shared RIFF chunk walk.
3. **Golden motion parity** — the jumping-square fixture encoded as
   MJPEG produces EXACTLY the raw-DIB twin's motion boxes through the
   full pipeline (binaryFile scan -> decode -> detect_motion_batch).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from distributed_video_analytics_flink_spark.operators.video import detect_motion_batch
from distributed_video_analytics_flink_spark.sources.avi import (
    decode_avi,
    encode_avi,
    parse_avi_header,
    probe_avi,
)
from distributed_video_analytics_flink_spark.sources.jpeg import (
    JpegError,
    decode_jpeg,
    encode_jpeg,
    is_jpeg,
)
from distributed_video_analytics_flink_spark.sources.video_files import read_video_files
from tests.test_avi import _bgr_square_frames


def test_jpeg_roundtrip_q100_near_lossless():
    rng = np.random.default_rng(5)
    for h, w in [(16, 16), (17, 23), (8, 40), (33, 9)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=100))
        assert out.shape == (h, w, 3)
        # all-ones quant: IDCT float rounding + YCbCr roundtrip only
        assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3


def test_jpeg_grayscale_roundtrip():
    rng = np.random.default_rng(6)
    g = rng.integers(0, 256, (21, 34), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(g, quality=100))
    assert out.shape == (21, 34, 3)
    assert (out[:, :, 0] == out[:, :, 1]).all() and (out[:, :, 1] == out[:, :, 2]).all()
    assert int(np.abs(out[:, :, 0].astype(int) - g.astype(int)).max()) <= 1


def test_jpeg_lossy_quality_still_close_on_smooth_content():
    yy, xx = np.mgrid[0:32, 0:48]
    img = np.dstack(
        [(yy * 3) % 256, (xx * 2) % 256, ((yy + xx) * 2) % 256]
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=85))
    assert float(np.abs(out.astype(int) - img.astype(int)).mean()) < 6.0


def test_jpeg_420_subsampled_roundtrip():
    """Real 4:2:0: 2x2 luma sampling with half-resolution box-averaged
    chroma — multi-block MCUs on the encode side, the replication
    upsample on the decode side. On a uniform-chroma image the box
    average is exact, so quality-100 roundtrip stays near-lossless; on
    textured chroma the loss is bounded by the subsample itself."""
    img = np.full((24, 40, 3), 0, dtype=np.uint8)
    yy, xx = np.mgrid[0:24, 0:40]
    img[:, :, 0] = 90  # constant B
    img[:, :, 1] = (yy * 5) % 256  # luma gradient via G
    img[:, :, 2] = 130  # constant R
    out = decode_jpeg(encode_jpeg(img, quality=100, subsampling="420"))
    assert out.shape == img.shape
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 4

    # odd dims exercise the chroma padding + crop path
    rng = np.random.default_rng(8)
    img2 = rng.integers(0, 256, (19, 27, 3), dtype=np.uint8)
    out2 = decode_jpeg(encode_jpeg(img2, quality=100, subsampling="420"))
    assert out2.shape == img2.shape  # content differs (chroma halved)


def test_jpeg_422_subsampled_roundtrip():
    """4:2:2 (2x1 luma sampling): the third sampling layout the decoder
    claims — horizontally-halved chroma, vertically full."""
    img = np.zeros((16, 48, 3), dtype=np.uint8)
    yy = np.mgrid[0:16, 0:48][0]
    img[:, :, 0] = 60
    img[:, :, 1] = (yy * 9) % 256
    img[:, :, 2] = 200
    out = decode_jpeg(encode_jpeg(img, quality=100, subsampling="422"))
    assert out.shape == img.shape
    # uniform chroma per row: the horizontal box average is exact
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 4


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn: the decoder resets DC predictors at every restart
    boundary — roundtrip an image spanning many MCUs with a short
    restart interval, and confirm the markers are really in the stream
    (so this test cannot silently stop covering the RST path)."""
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (24, 64, 3), dtype=np.uint8)  # 24 MCUs
    data = encode_jpeg(img, quality=100, restart_interval=2)
    assert b"\xff\xdd" in data  # DRI present
    assert any(bytes([0xFF, 0xD0 + i]) in data for i in range(8))
    out = decode_jpeg(data)
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3
    # and composed with subsampling (different MCU geometry)
    data420 = encode_jpeg(img, quality=100, subsampling="420", restart_interval=1)
    assert decode_jpeg(data420).shape == img.shape


def test_jpeg_rejects_progressive_and_garbage():
    with pytest.raises(JpegError):
        decode_jpeg(b"\x00\x01\x02")
    img = np.zeros((8, 8, 3), np.uint8)
    data = bytearray(encode_jpeg(img))
    sof_at = bytes(data).find(b"\xff\xc0")
    data[sof_at + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(JpegError):
        decode_jpeg(bytes(data))
    assert is_jpeg(encode_jpeg(img)) and not is_jpeg(b"RIFF....")


def test_jpeg_truncation_raises_not_hangs():
    img = np.arange(64 * 3, dtype=np.uint8).reshape(8, 8, 3)
    data = encode_jpeg(img, quality=100)
    for cut in (len(data) // 2, len(data) - 4):
        try:
            decode_jpeg(data[:cut])
        except JpegError:
            pass  # refusing is fine; decoding a partial frame is fine too


def test_mjpeg_avi_parses_probes_decodes():
    frames = _bgr_square_frames(32, 48, [0, 8, 16], 8)
    data = encode_avi(frames, fps=10, codec="mjpeg", quality=100)
    hdr = parse_avi_header(data)
    assert hdr.codec == "mjpeg"
    assert (hdr.width, hdr.height) == (48, 32)
    meta = probe_avi(data)
    assert meta["codec"] == "avi/mjpeg"
    assert meta["n_frames"] == 3
    _, out = decode_avi(data)
    decoded = list(out)
    assert len(decoded) == 3
    for got, want in zip(decoded, frames):
        assert got.shape == want.shape
        assert int(np.abs(got.astype(int) - want.astype(int)).max()) <= 3


def test_mjpeg_truncated_tail_ends_stream():
    frames = _bgr_square_frames(16, 16, [0, 4, 8], 6)
    data = encode_avi(frames, codec="mjpeg", quality=100)
    _, trunc = decode_avi(data[:-40])  # chop inside the final JPEG
    assert len(list(trunc)) == 2


def test_mjpeg_motion_boxes_identical_to_raw_twin(spark, tmp_path):
    """The golden parity gate the verdict prescribed: the SAME frames
    through the compressed and raw containers produce IDENTICAL motion
    boxes (JPEG q100 error <= 3/channel never crosses the threshold-20
    absdiff gate on this fixture)."""
    side, h, w = 48, 480, 640
    xs = [96 * i for i in range(5)]
    frames = _bgr_square_frames(h, w, xs, side)
    (tmp_path / "camraw.avi").write_bytes(encode_avi(frames))
    (tmp_path / "camjpg.avi").write_bytes(
        encode_avi(frames, codec="mjpeg", quality=100)
    )

    df = read_video_files(spark, str(tmp_path))
    out = detect_motion_batch(df).orderBy("camId", "ts_us").collect()
    per_cam = {}
    for r in out:
        per_cam.setdefault(r["camId"], []).append(
            (r["ts_us"], r["detection_count"], sorted(map(tuple, r["motion_boxes"])))
        )
    assert set(per_cam) == {"camraw", "camjpg"}
    assert per_cam["camraw"] == per_cam["camjpg"], "codecs diverged"
    assert [d for _, d, _ in per_cam["camjpg"]] == [0, 2, 2, 2, 2]


def test_mjpeg_through_avi_python_datasource(spark, tmp_path):
    """spark.read.format('avi') serves MJPEG files too — the codec
    dispatch is inside decode_avi, so the Data Source needs no changes."""
    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    frames = _bgr_square_frames(480, 640, [0, 96, 192], 48)
    (tmp_path / "camj.avi").write_bytes(
        encode_avi(frames, codec="mjpeg", quality=100)
    )
    register_sources(spark)
    df = spark.read.format("avi").load(str(tmp_path))
    out = detect_motion_batch(df).orderBy("ts_us").collect()
    assert [r["detection_count"] for r in out] == [0, 2, 2]


def test_decode_image_dispatches_png_and_jpeg():
    """The multimodal image-decode step is REAL for both in-engine
    formats (PNG + baseline JPEG) and honestly NotImplemented for the
    rest — upgraded from the former all-stub."""
    from distributed_video_analytics_flink_spark.functions.png import encode_png_bgr
    from distributed_video_analytics_flink_spark.operators.video import decode_image

    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, (12, 18, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_png_bgr(img)), img)  # PNG lossless
    out = decode_image(encode_jpeg(img, quality=100))
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF....WEBP....")


def test_jpeg_roundtrip_property():
    """Hypothesis sweep over dims x quality x subsampling x restart
    interval x Huffman-table mode: every combination roundtrips with the
    right shape, and quality-100 4:4:4 stays within the IDCT+colorspace
    tolerance regardless of which tables carried the entropy stream."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        h=st.integers(min_value=1, max_value=40),
        w=st.integers(min_value=1, max_value=40),
        quality=st.sampled_from([100, 95, 80, 50, 10]),
        subsampling=st.sampled_from(["444", "422", "420"]),
        rst=st.sampled_from([0, 1, 3]),
        tables=st.sampled_from(["custom", "annexk", "annexk-nodht"]),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def _roundtrip(h, w, quality, subsampling, rst, tables, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        out = decode_jpeg(
            encode_jpeg(
                img,
                quality=quality,
                subsampling=subsampling,
                restart_interval=rst,
                tables=tables,
            )
        )
        assert out.shape == (h, w, 3) and out.dtype == np.uint8
        if quality == 100 and subsampling == "444":
            assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3

    _roundtrip()


def test_jpeg_fuzz_never_crashes():
    """Arbitrary mangling of a valid JPEG must decode, raise JpegError,
    or produce a (possibly wrong-content) frame — never raise anything
    else or hang."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = encode_jpeg(
        np.random.default_rng(9).integers(0, 256, (16, 16, 3), dtype=np.uint8),
        quality=90,
    )

    @settings(max_examples=150, deadline=None)
    @given(
        pos=st.integers(min_value=0, max_value=len(base) - 1),
        val=st.integers(min_value=0, max_value=255),
        cut=st.integers(min_value=2, max_value=len(base)),
    )
    def _fuzz(pos, val, cut):
        mangled = bytearray(base[:cut])
        if pos < len(mangled):
            mangled[pos] = val
        try:
            out = decode_jpeg(bytes(mangled))
            assert out.dtype == np.uint8 and out.ndim == 3
        except JpegError:
            pass

    _fuzz()


def test_jpeg_zero_sampling_factor_raises_jpegerror():
    """A per-component sampling factor of 0 must raise JpegError, not
    ZeroDivisionError: only max(h)/max(v) used to be range-checked, so a
    0x11 -> 0x01 flip in one component's SOF sampling byte slipped
    through to divide the upsample ratios (r7 review)."""
    img = np.random.default_rng(3).integers(0, 256, (16, 16, 3), dtype=np.uint8)
    data = bytearray(encode_jpeg(img, quality=90))
    sof_at = bytes(data).find(b"\xff\xc0")
    # SOF0 layout: marker(2) len(2) prec(1) h(2) w(2) ncomp(1), then
    # (cid, hv, tq) per component — hv of component 0 is at offset 11
    assert data[sof_at + 11] == 0x11
    for hv in (0x01, 0x10, 0x00, 0x31, 0x13):
        mangled = bytearray(data)
        mangled[sof_at + 11] = hv
        with pytest.raises(JpegError):
            decode_jpeg(bytes(mangled))


def test_jpeg_oversized_dims_refused_before_allocation():
    """A tiny JPEG declaring 65535x65535 must raise JpegError fast — not
    allocate ~34 GB of coefficient arrays or spin a 67M-iteration MCU
    loop against zero padding (the permissive MJPEG path feeds untrusted
    chunks straight into decode_jpeg)."""
    import time

    img = np.zeros((8, 8, 3), np.uint8)
    data = bytearray(encode_jpeg(img))
    sof_at = bytes(data).find(b"\xff\xc0")
    data[sof_at + 5 : sof_at + 9] = b"\xff\xff\xff\xff"  # h = w = 65535
    t0 = time.monotonic()
    with pytest.raises(JpegError, match="pixel cap"):
        decode_jpeg(bytes(data))
    assert time.monotonic() - t0 < 1.0


def test_jpeg_annexk_tables_roundtrip():
    """tables="annexk" emits the four T.81 Annex K typical tables in DHT
    (luma destinations 0, chroma destinations 1) and roundtrips like the
    custom tables do — pins the standard-table encode maps AND the
    decoder's multi-destination table handling."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    data = encode_jpeg(img, quality=100, tables="annexk")
    assert data.count(b"\xff\xc4") == 4
    out = decode_jpeg(data)
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3
    # grayscale emits only the luma pair
    gdata = encode_jpeg(img[:, :, 0], quality=100, tables="annexk")
    assert gdata.count(b"\xff\xc4") == 2
    assert decode_jpeg(gdata).shape == (24, 17, 3)


def test_jpeg_dht_less_stream_decodes_via_default_tables():
    """The OpenDML 'AVI1' hardware-encoder layout: no DHT segments at
    all, decoder supplies the Annex K defaults. The DHT-less stream must
    decode BIT-IDENTICALLY to its with-DHT twin (same entropy bytes,
    tables resolved from the fallback instead of the stream), and within
    tolerance of the source image."""
    rng = np.random.default_rng(29)
    img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    with_dht = encode_jpeg(img, quality=100, tables="annexk")
    no_dht = encode_jpeg(img, quality=100, tables="annexk-nodht")
    assert b"\xff\xc4" not in no_dht and len(no_dht) < len(with_dht)
    out = decode_jpeg(no_dht)
    assert np.array_equal(out, decode_jpeg(with_dht))
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3
    # subsampled + restart-marker variant exercises the chroma defaults
    sub = decode_jpeg(
        encode_jpeg(img, quality=95, subsampling="420",
                    restart_interval=1, tables="annexk-nodht")
    )
    assert sub.shape == img.shape
    # destinations >= 2 still have no default: refuse, don't guess
    mangled = bytearray(no_dht)
    sos_at = bytes(mangled).find(b"\xff\xda")
    mangled[sos_at + 6] = 0x22  # component 0 -> dc/ac destination 2
    with pytest.raises(JpegError, match="missing Huffman table"):
        decode_jpeg(bytes(mangled))


def test_mjpeg_dht_less_avi_decodes_end_to_end():
    """A DHT-less MJPEG-AVI — the typical real-camera file — parses,
    probes, and decodes every frame (it used to yield ZERO rows: the
    first 'missing Huffman table' error ended the stream)."""
    frames = _bgr_square_frames(32, 48, [0, 8, 16], 8)
    data = encode_avi(frames, fps=10, codec="mjpeg", quality=100,
                      jpeg_tables="annexk-nodht")
    assert probe_avi(data)["n_frames"] == 3
    _, out = decode_avi(data)
    decoded = list(out)
    assert len(decoded) == 3
    for got, want in zip(decoded, frames):
        assert int(np.abs(got.astype(int) - want.astype(int)).max()) <= 3


def test_mjpeg_undecodable_interior_chunk_skipped():
    """One bad frame must not kill the stream: decode_avi skips MJPEG
    chunks whose body fails to parse (matching the raw path's
    short-chunk skip stance) and keeps decoding the rest; probe_avi's
    n_frames is documented as the chunk-magic upper bound."""
    frames = _bgr_square_frames(16, 16, [0, 4, 8], 6)
    data = bytearray(encode_avi(frames, codec="mjpeg", quality=100))
    # make the middle frame's JPEG unsupported: SOF0 -> SOF2 progressive
    first = bytes(data).find(b"\xff\xc0")
    mid = bytes(data).find(b"\xff\xc0", first + 1)
    assert mid > 0
    data[mid + 1] = 0xC2
    _, out = decode_avi(bytes(data))
    decoded = list(out)
    assert len(decoded) == 2  # frames 0 and 2 survive
    assert int(np.abs(decoded[1].astype(int) - frames[2].astype(int)).max()) <= 3
    assert probe_avi(bytes(data))["n_frames"] == 3  # upper bound by design


def test_mjpeg_mismatched_frame_dims_skipped():
    """An MJPEG chunk whose SOF dims disagree with the AVI header is
    skipped: mixed-shape frames under one camId would crash the motion
    pipeline's lag-window absdiff downstream."""
    import struct as _struct

    frames = _bgr_square_frames(16, 16, [0, 4], 6)
    big = encode_jpeg(
        np.zeros((32, 32, 3), np.uint8), quality=100
    )
    data = bytearray(encode_avi(frames, codec="mjpeg", quality=100))
    # splice a wrong-dims JPEG in as an extra 00dc chunk before movi's end
    movi_at = bytes(data).find(b"LIST", 12)
    while data[movi_at + 8 : movi_at + 12] != b"movi":
        movi_at = bytes(data).find(b"LIST", movi_at + 1)
    chunk = b"00dc" + _struct.pack("<I", len(big)) + big + (b"\x00" * (len(big) & 1))
    insert_at = movi_at + 8 + _struct.unpack_from("<I", data, movi_at + 4)[0]
    data[insert_at:insert_at] = chunk
    # grow the movi LIST and RIFF sizes to cover the spliced chunk
    _struct.pack_into("<I", data, movi_at + 4,
                      _struct.unpack_from("<I", data, movi_at + 4)[0] + len(chunk))
    _struct.pack_into("<I", data, 4,
                      _struct.unpack_from("<I", data, 4)[0] + len(chunk))
    _, out = decode_avi(bytes(data))
    decoded = list(out)
    assert len(decoded) == 2
    for got in decoded:
        assert got.shape == (16, 16, 3)


def test_huffman_table_cache_reuses_identical_tables():
    """Per-frame DHT bytes are identical across an MJPEG stream; the
    table build (65536-entry LUT for Annex K) must be paid once per
    stream, not once per frame."""
    from distributed_video_analytics_flink_spark.sources import jpeg as J

    J._HUFF_CACHE.clear()
    t1 = J._huff_table(*J._STD_AC_LUMA)
    t2 = J._huff_table(*J._STD_AC_LUMA)
    assert t1 is t2
    assert t1.maxlen == 16 and len(t1.sym) == 65536
    # the cache is capped: adversarial table churn can't grow it unbounded
    for i in range(70):
        counts = [0, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
        J._huff_table(counts, [(i + j) % 256 for j in range(12)])
    assert len(J._HUFF_CACHE) <= 64


def test_oversubscribed_dht_refused():
    """A DHT declaring more codes at a length than the canonical code
    space holds must raise JpegError — the LUT slice-fill would otherwise
    silently build a mis-shaped table and decode garbage (r7 review: the
    old per-index fill raised IndexError; the validity check must not
    depend on the fill strategy)."""
    from distributed_video_analytics_flink_spark.sources import jpeg as J

    with pytest.raises(JpegError, match="oversubscribed"):
        J._HuffTable([3] + [0] * 15, [0, 1, 2])  # 3 codes of length 1
    with pytest.raises(JpegError, match="oversubscribed"):
        J._HuffTable([2, 3] + [0] * 14, list(range(5)))
    # and through the stream path: corrupt a valid JPEG's DHT counts
    img = np.zeros((8, 8, 3), np.uint8)
    data = bytearray(encode_jpeg(img))
    dht_at = bytes(data).find(b"\xff\xc4")
    # DHT layout: marker(2) len(2) tcth(1) counts(16); force counts[0]=255
    data[dht_at + 5] = 255
    with pytest.raises(JpegError):
        decode_jpeg(bytes(data))


def test_jpeg_stuffed_bytes_roundtrip():
    """Entropy streams containing literal 0xFF data bytes carry them as
    stuffed FF 00 pairs (T.81 B.1.1.5). Pins that unstuffing survives the
    r10 bulk-refill fast path (which must fall back to the byte-wise
    reader whenever a 4-byte window contains 0xFF): seed 1 provably emits
    5 stuffed pairs, and the q100 roundtrip stays near-lossless — a
    mis-consumed stuffed byte would desynchronize the whole scan, not
    nudge one pixel."""
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    b = encode_jpeg(img, quality=100)
    assert b.count(b"\xff\x00") >= 3  # premise: stuffing really present
    out = decode_jpeg(b)
    assert out.shape == img.shape
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3


def test_grayscale_scan_is_non_interleaved_regardless_of_declared_factors():
    """r14 review: T.81 A.2.2 makes a single-component scan
    NON-interleaved — the MCU is one data unit and the declared sampling
    factors play no role in block layout. A grayscale JPEG declaring 2x2
    factors (legal; libjpeg/ffmpeg decode it) previously desynced the
    entropy stream and raised JpegError, silently dropping real hardware
    grayscale MJPEG frames."""
    import struct

    import numpy as np

    from distributed_video_analytics_flink_spark.sources import jpeg as J

    rng = np.random.default_rng(5)
    h, w = 16, 24
    plane = rng.integers(0, 256, (h, w)).astype(np.float64)

    def enc_gray(sampling_byte: int) -> bytes:
        qt = J._quality_scale(J._QL, 90)
        out = bytearray(b"\xff\xd8")
        out += J._seg(0xDB, bytes([0]) + bytes(qt[J._ZZ].astype(np.uint8).tolist()))
        sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, sampling_byte, 0])
        out += J._seg(0xC0, sof)
        out += J._seg(0xC4, bytes([0x00]) + bytes(J._DC_COUNTS) + bytes(J._DC_SYMBOLS))
        out += J._seg(0xC4, bytes([0x10]) + bytes(J._AC_COUNTS) + bytes(J._AC_SYMBOLS))
        out += J._seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        bw = J._BitWriter()
        q = qt.reshape(8, 8).astype(np.float64)
        bx_n, by_n = -(-w // 8), -(-h // 8)
        padded = J._pad_plane(plane, by_n * 8, bx_n * 8)
        pred = 0
        for by in range(by_n):  # raster data-unit order: non-interleaved
            for bx in range(bx_n):
                blk = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                quant = (
                    np.floor(J._fdct2(blk) / q + 0.5).astype(np.int64).reshape(64)
                )
                quant[1:] = np.clip(quant[1:], -1023, 1023)
                pred = J._encode_block(bw, quant[J._ZZ], pred, J._DC_ENC, J._AC_ENC)
        out += bw.flush()
        out += b"\xff\xd9"
        return bytes(out)

    base = J.decode_jpeg(enc_gray(0x11))
    for sampling in (0x22, 0x21, 0x12):
        got = J.decode_jpeg(enc_gray(sampling))
        assert np.array_equal(base, got), hex(sampling)


# ------------------------------------------------- pinned decoder output
#
# The roundtrip tests above bound the decoder's error; these pin its exact
# bytes, so a rewrite of the pixel back-end (dequantize, IDCT, chroma
# upsample, colour conversion, rounding) must reproduce every sample. The
# corpus is generated by ``encode_jpeg`` from fixed seeds; the digests are
# sha256(shape + bytes) of ``decode_jpeg``'s output, truncated to 16 hex
# digits. The IDCT is float64 matrix algebra, so the digests hold for the
# numpy/BLAS build in use: re-record them only for a deliberate change of
# decoder output or encoder bitstream, never to make a rewrite pass.


def _digest(out: np.ndarray) -> str:
    return hashlib.sha256(repr(out.shape).encode() + out.tobytes()).hexdigest()[:16]


def _digest_image(h: int, w: int, seed: int, gray: bool = False) -> np.ndarray:
    """Smooth gradients plus noise: enough texture that the quantization
    tables and chroma subsampling all shape the decoded samples."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.dstack([(yy * 7 + xx * 3) % 256, (xx * 5) % 256, (yy * 11) % 256])
    img = np.clip(base + rng.integers(-40, 41, (h, w, 3)), 0, 255).astype(np.uint8)
    return img[:, :, 1] if gray else img


def _gray_2x2_factors(data: bytes) -> bytes:
    """Rewrite a grayscale stream's SOF sampling byte 0x11 -> 0x22: a
    single-component scan is non-interleaved, so the declared factors
    must not change the decoded samples (T.81 A.2.2)."""
    out = bytearray(data)
    sof_at = bytes(out).find(b"\xff\xc0")
    assert out[sof_at + 11] == 0x11
    out[sof_at + 11] = 0x22
    return bytes(out)


def _digest_corpus() -> list[tuple[str, bytes]]:
    sizes = [(37, 53), (8, 24), (48, 64), (33, 9)]
    cases = []
    i = 0
    for sub in ("444", "422", "420"):
        for tables in ("custom", "annexk", "annexk-nodht"):
            for quality, restart in ((50, 0), (75, 1), (100, 3)):
                h, w = sizes[i % len(sizes)]
                data = encode_jpeg(
                    _digest_image(h, w, i),
                    quality=quality,
                    subsampling=sub,
                    restart_interval=restart,
                    tables=tables,
                )
                cases.append((f"{sub}-{tables}-q{quality}-r{restart}-{h}x{w}", data))
                i += 1
    for tables in ("custom", "annexk", "annexk-nodht"):
        for quality, restart in ((50, 3), (75, 0), (100, 1)):
            h, w = sizes[i % len(sizes)]
            data = encode_jpeg(
                _digest_image(h, w, i, gray=True),
                quality=quality,
                restart_interval=restart,
                tables=tables,
            )
            cases.append((f"gray-{tables}-q{quality}-r{restart}-{h}x{w}", data))
            if quality == 75:
                cases.append(
                    (f"gray22-{tables}-q{quality}-r{restart}-{h}x{w}", _gray_2x2_factors(data))
                )
            i += 1
    # Relabelled sampling factors (h, v per component) on a 4:4:4 stream:
    # the entropy data no longer matches the layout, but it decodes, and
    # these are the only cases with luma below the maximum sampling, a
    # vertical-only ratio, or Cb and Cr at different ratios.
    data = encode_jpeg(_digest_image(32, 48, 7), quality=75)
    sof_at = data.find(b"\xff\xc0")
    for factors in ((0x11, 0x22, 0x11), (0x11, 0x12, 0x21), (0x12, 0x11, 0x11),
                    (0x21, 0x11, 0x12), (0x11, 0x22, 0x22)):
        relabelled = bytearray(data)
        for k, hv in enumerate(factors):
            relabelled[sof_at + 11 + 3 * k] = hv
        cases.append(("sampling-" + "-".join(f"{hv:02x}" for hv in factors), bytes(relabelled)))
    return cases


_CORPUS_DIGESTS = {
    "444-custom-q50-r0-37x53": "78ad7a04052f6aac",
    "444-custom-q75-r1-8x24": "5543c39a82cbe14e",
    "444-custom-q100-r3-48x64": "6d50ac9a3523573b",
    "444-annexk-q50-r0-33x9": "56317437ba743e78",
    "444-annexk-q75-r1-37x53": "950ad98ca3d9388c",
    "444-annexk-q100-r3-8x24": "2084390da8b14511",
    "444-annexk-nodht-q50-r0-48x64": "5a84ea87581fe0f1",
    "444-annexk-nodht-q75-r1-33x9": "1a6fd56964a2fcbd",
    "444-annexk-nodht-q100-r3-37x53": "ffd72681871c748f",
    "422-custom-q50-r0-8x24": "a7de5779ba10fca9",
    "422-custom-q75-r1-48x64": "b7a5990a331dbfcc",
    "422-custom-q100-r3-33x9": "a81cd8c765529c16",
    "422-annexk-q50-r0-37x53": "861908a767d15a4b",
    "422-annexk-q75-r1-8x24": "de1fc6b1100c5990",
    "422-annexk-q100-r3-48x64": "a76ccd9deebeeae2",
    "422-annexk-nodht-q50-r0-33x9": "e23d66541967c6ec",
    "422-annexk-nodht-q75-r1-37x53": "b137b8741b2bd076",
    "422-annexk-nodht-q100-r3-8x24": "c48d42932df88baf",
    "420-custom-q50-r0-48x64": "6bbb7beb54dfd3bd",
    "420-custom-q75-r1-33x9": "cdcc215cf6b1f4ab",
    "420-custom-q100-r3-37x53": "4d3b914a13a91c20",
    "420-annexk-q50-r0-8x24": "c5e97bc94ac2bc36",
    "420-annexk-q75-r1-48x64": "d3c7b57e54a11cf4",
    "420-annexk-q100-r3-33x9": "63240d4fa0b585be",
    "420-annexk-nodht-q50-r0-37x53": "45924789a97330e4",
    "420-annexk-nodht-q75-r1-8x24": "5a3e70d179fbdacd",
    "420-annexk-nodht-q100-r3-48x64": "babbf7cc203d8271",
    "gray-custom-q50-r3-33x9": "39fa90fafeca5941",
    "gray-custom-q75-r0-37x53": "7e28b9211a1b773d",
    "gray22-custom-q75-r0-37x53": "7e28b9211a1b773d",
    "gray-custom-q100-r1-8x24": "120e7d68043ca64a",
    "gray-annexk-q50-r3-48x64": "2a6f1cc58d5ca55b",
    "gray-annexk-q75-r0-33x9": "55471edfa1869079",
    "gray22-annexk-q75-r0-33x9": "55471edfa1869079",
    "gray-annexk-q100-r1-37x53": "8f1cd13982bff0de",
    "gray-annexk-nodht-q50-r3-8x24": "bc288b1be0f582f8",
    "gray-annexk-nodht-q75-r0-48x64": "8b270c744f48b0dd",
    "gray22-annexk-nodht-q75-r0-48x64": "8b270c744f48b0dd",
    "gray-annexk-nodht-q100-r1-33x9": "da4bd9d22612a524",
    "sampling-11-22-11": "84caf3a6fd6e47bb",
    "sampling-11-12-21": "83e330d151d95479",
    "sampling-12-11-11": "abfffcec3354a81f",
    "sampling-21-11-12": "347f0ffc5fe6c741",
    "sampling-11-22-22": "73c305a6ba1bed64",
}


def test_decoder_output_digests_pinned():
    got = {name: _digest(decode_jpeg(data)) for name, data in _digest_corpus()}
    assert got == _CORPUS_DIGESTS


def _mutated_streams() -> list[bytes]:
    """Fixed-seed single-byte mutations, some also truncated, of three
    base streams (4:4:4 custom tables, 4:2:0 Annex K with restarts, and
    DHT-less grayscale with restarts)."""
    bases = [
        encode_jpeg(_digest_image(16, 16, 100), quality=90),
        encode_jpeg(
            _digest_image(24, 40, 101),
            quality=75,
            subsampling="420",
            restart_interval=1,
            tables="annexk",
        ),
        encode_jpeg(
            _digest_image(17, 23, 102, gray=True),
            quality=50,
            restart_interval=3,
            tables="annexk-nodht",
        ),
    ]
    rng = np.random.default_rng(2024)
    streams = []
    for base in bases:
        for k in range(60):
            mangled = bytearray(base)
            mangled[int(rng.integers(2, len(base)))] = int(rng.integers(0, 256))
            if k % 4 == 3:
                mangled = mangled[: int(rng.integers(len(base) // 2, len(base)))]
            streams.append(bytes(mangled))
    return streams


def _outcome(data: bytes) -> str:
    try:
        return _digest(decode_jpeg(data))
    except JpegError:
        return "JpegError"


# (number of streams refused with JpegError, sha256 over all outcomes)
_MUTATED_OUTCOMES = (74, "a9a5203687583859")


def test_mutated_stream_outcomes_pinned():
    outcomes = [_outcome(s) for s in _mutated_streams()]
    summary = (
        outcomes.count("JpegError"),
        hashlib.sha256("\n".join(outcomes).encode()).hexdigest()[:16],
    )
    assert summary == _MUTATED_OUTCOMES
