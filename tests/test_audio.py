"""WAV decode + audio-file source: the audio leg of the multimodal
contract (pure-stdlib PCM parse, golden integer features, PERMISSIVE
handling of compressed/corrupt clips)."""

from __future__ import annotations

import numpy as np
import pytest

from distributed_video_analytics_flink_spark.sources.wav import (
    WavError,
    decode_wav,
    encode_wav,
    parse_wav_header,
    wav_features,
)


def _sine(freq=440, rate=8000, sec=1.0, amp=10000):
    t = np.arange(int(rate * sec))
    return (amp * np.sin(2 * np.pi * freq * t / rate)).astype(np.int16)


def test_wav_roundtrip_and_golden_features():
    b = encode_wav(_sine(), 8000)
    hdr, pcm = decode_wav(b)
    assert (hdr.n_channels, hdr.sample_rate, hdr.n_frames) == (1, 8000, 8000)
    f = wav_features(b)
    assert f["duration_ms"] == 1000
    assert f["peak"] == 10000
    # a 440 Hz sine crosses zero 2*440 times per second
    assert abs(f["zero_crossings"] - 880) <= 2
    # silence: zero everything
    z = wav_features(encode_wav(np.zeros(100, np.int16), 8000))
    assert z["energy_q"] == 0 and z["zero_crossings"] == 0 and z["peak"] == 0


def test_wav_stereo_and_truncation():
    stereo = np.stack([_sine(), _sine(220)], axis=1)
    b = encode_wav(stereo, 8000)
    hdr, pcm = decode_wav(b)
    assert hdr.n_channels == 2 and pcm.shape == (8000, 2)
    # truncated data chunk: frame count shrinks, no exception
    hdr2 = parse_wav_header(b[: len(b) - 1001])
    assert hdr2.n_frames < 8000
    # features read channel 0 only
    assert wav_features(b)["zero_crossings"] == wav_features(
        encode_wav(_sine(), 8000)
    )["zero_crossings"]


def test_wav_quality_golden():
    """Exact-integer quality gates: rail samples count as clipped, |s| <=
    327 counts as silent, basis points floor-divide — all closed-form."""
    from distributed_video_analytics_flink_spark.sources.wav import wav_quality

    rails = np.empty(10, np.int16)
    rails[0::2], rails[1::2] = 32767, -32768
    q = wav_quality(encode_wav(rails, 8000))
    assert (q["n_clipped"], q["n_silent"], q["clipping_bp"]) == (10, 0, 10000)

    edge = np.array([327, -327, 328, -328, 32766], np.int16)  # threshold edges
    q = wav_quality(encode_wav(edge, 8000))
    assert q["n_silent"] == 2 and q["n_clipped"] == 0  # 328 loud, 32766 unclipped
    assert q["silence_bp"] == (2 * 10000) // 5

    # stereo: quality reads channel 0 only, like wav_features
    stereo = np.stack([np.zeros(100, np.int16), np.full(100, 32767, np.int16)], axis=1)
    q = wav_quality(encode_wav(stereo, 8000))
    assert q["n_silent"] == 100 and q["n_clipped"] == 0


def test_audio_feature_row_never_raises_on_fuzz():
    """The PERMISSIVE contract under fire: arbitrary bytes — including
    truncated RIFF headers and valid-magic garbage — must produce an
    error ROW, never an exception (one poisoned clip in a 100 TB scan
    must not kill a task)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from distributed_video_analytics_flink_spark.sources.audio_files import (
        audio_feature_row,
    )

    @settings(max_examples=120, deadline=None)
    @given(st.binary(max_size=256))
    def _fuzz(raw):
        for prefix in (b"", b"RIFF", b"ID3\x03", b"OggS", b"fLaC", b"\xff\xfb"):
            row = audio_feature_row("/x/clip.wav", prefix + raw)
            assert row["clipId"] == "clip"
            # decoded XOR errored, never both/neither ambiguous
            assert (row["error"] is None) == (row["n_frames"] is not None)

    _fuzz()


def test_wav_features_roundtrip_property():
    """encode_wav -> wav_features equals direct numpy computation on the
    same samples, for random lengths/rates/channel counts (the exactness
    claim the oracle literals rely on)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from distributed_video_analytics_flink_spark.sources.wav import wav_quality

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(-32768, 32767), min_size=1, max_size=400),
        st.sampled_from([8000, 16000, 44100]),
        st.integers(1, 2),
    )
    def _prop(samples, rate, n_ch):
        ch0 = np.array(samples, np.int64)
        s = np.array(samples, np.int16)
        if n_ch == 2:  # channel 1 is noise the extractor must ignore
            s = np.stack([s, ((ch0 * 31 + 7) % 65536 - 32768).astype(np.int16)], axis=1)
        raw = encode_wav(s, rate)
        f = wav_features(raw)
        assert f["n_frames"] == len(samples) and f["sample_rate"] == rate
        assert f["energy_q"] == int((ch0 * ch0).sum())
        assert f["peak"] == int(np.abs(ch0).max())
        nz = np.sign(ch0)[np.sign(ch0) != 0]
        assert f["zero_crossings"] == (int((nz[1:] != nz[:-1]).sum()) if nz.size > 1 else 0)
        q = wav_quality(raw)
        assert q["n_clipped"] == int(((ch0 >= 32767) | (ch0 <= -32768)).sum())
        assert q["n_silent"] == int((np.abs(ch0) <= 327).sum())
        assert q["clipping_bp"] == q["n_clipped"] * 10000 // len(samples)

    _prop()


def test_wav_rejects_non_pcm():
    with pytest.raises(WavError):
        parse_wav_header(b"garbage" * 10)
    b = bytearray(encode_wav(_sine(), 8000))
    b[20] = 3  # audio_format = IEEE float
    with pytest.raises(WavError):
        parse_wav_header(bytes(b))


def test_audio_queries_registered_and_oracled():
    """r11 VERDICT #1: the audio leg must be driver-checked — both queries
    registered WITH oracles (the parity sweep in test_oracle_parity.py
    hash-checks them; this pins that they can't silently lose the oracle)."""
    from distributed_video_analytics_flink_spark.operators import QUERIES

    for name in ("multimodal_audio_features", "multimodal_audio_enrich"):
        assert name in QUERIES and QUERIES[name].oracle


def test_audio_enrich_broadcasts_features(spark):
    """The enrichment join must broadcast the (bounded, 3-row) feature dim
    onto the events fact — a shuffled join of a 5-row side would be the
    wrong plan at any scale."""
    from distributed_video_analytics_flink_spark.operators import QUERIES
    from distributed_video_analytics_flink_spark.plans import join_strategies

    df = QUERIES["multimodal_audio_enrich"].fn(spark, "/root/testdata/sf0.001")
    joins = join_strategies(df)
    assert joins and all(j == "BroadcastHashJoin" for j in joins), joins


def test_audio_features_query_golden(spark):
    """The registered query's rows equal the closed-form fixture features
    (the same literals the DuckDB oracle pins), including the PERMISSIVE
    error-class rows for mp3/junk."""
    from distributed_video_analytics_flink_spark.operators import QUERIES

    rows = {r["clipId"]: r for r in QUERIES["multimodal_audio_features"].fn(spark, "unused").collect()}
    assert set(rows) == {"sq", "stereo", "silence", "song", "junk"}
    sq = rows["sq"]
    assert (sq["energy_q"], sq["zero_crossings"], sq["peak"]) == (1_152_000_000_000, 799, 12000)
    assert (sq["n_frames"], sq["duration_ms"], sq["sample_rate"]) == (8000, 1000, 8000)
    st = rows["stereo"]
    assert (st["n_channels"], st["energy_q"], st["zero_crossings"], st["peak"]) == (2, 100_000_000_000, 0, 5000)
    assert rows["silence"]["energy_q"] == 0 and rows["silence"]["duration_ms"] == 250
    assert rows["song"]["err_class"] == "NotImplementedError"
    assert rows["junk"]["err_class"] == "WavError"
    for clip in ("sq", "stereo", "silence"):
        assert rows[clip]["err_class"] is None


def test_wavaudio_datasource_batch_matches_binaryfile_path(spark, tmp_path):
    """format('wavaudio') and the binaryFile scan must emit identical
    feature rows for the same .wav files (one shared audio_feature_row) —
    including the PERMISSIVE error row for a corrupt clip."""
    from distributed_video_analytics_flink_spark.sources.audio_files import (
        read_audio_features,
    )
    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    (tmp_path / "a440.wav").write_bytes(encode_wav(_sine(), 8000))
    (tmp_path / "quiet.wav").write_bytes(encode_wav(np.zeros(4000, np.int16), 8000))
    (tmp_path / "junk.wav").write_bytes(b"not audio at all")
    # compressed clips are part of the contract: BOTH paths must report
    # their honest stub rows (a format listing only *.wav would silently
    # drop the mp3 the binaryFile path reports)
    (tmp_path / "song.mp3").write_bytes(b"ID3\x03\x00" + b"\x00" * 64)

    register_sources(spark)
    ds_rows = sorted(
        tuple(r) for r in spark.read.format("wavaudio").load(str(tmp_path)).collect()
    )
    bf_rows = sorted(
        tuple(r) for r in read_audio_features(spark, str(tmp_path)).collect()
    )
    assert ds_rows == bf_rows and len(ds_rows) == 4
    by_clip = {r[0]: r for r in ds_rows}
    assert by_clip["a440"][7] == 10000  # peak
    assert by_clip["junk"][8] and "WavError" in by_clip["junk"][8]
    assert by_clip["song"][8] and "NotImplementedError" in by_clip["song"][8]


def test_wavaudio_datasource_streaming_append(spark, tmp_path):
    """spark.readStream.format('wavaudio'): an empty directory is a legal
    stream start; clips appended later arrive as feature rows in later
    micro-batches, byte-identical to the batch reader's rows."""
    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    register_sources(spark)
    data_dir = tmp_path / "clips"
    data_dir.mkdir()
    (data_dir / "c0.wav").write_bytes(encode_wav(_sine(), 8000))

    stream = spark.readStream.format("wavaudio").load(str(data_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("audio_stream_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) FROM audio_stream_test").collect()[0][0] == 1
        # append two more clips: a silent one and a corrupt one
        (data_dir / "c1.wav").write_bytes(encode_wav(np.zeros(2000, np.int16), 8000))
        (data_dir / "c2.wav").write_bytes(b"garbage")
        q.processAllAvailable()
        rows = {
            r["clipId"]: r
            for r in spark.sql("SELECT * FROM audio_stream_test").collect()
        }
    finally:
        q.stop()
    assert set(rows) == {"c0", "c1", "c2"}
    assert rows["c0"]["peak"] == 10000 and rows["c0"]["error"] is None
    assert rows["c1"]["energy_q"] == 0 and rows["c1"]["duration_ms"] == 250
    assert rows["c2"]["error"] and "WavError" in rows["c2"]["error"]


def test_audio_source_mixed_directory(spark, tmp_path):
    from distributed_video_analytics_flink_spark.sources.audio_files import (
        read_audio_features,
    )

    (tmp_path / "a440.wav").write_bytes(encode_wav(_sine(), 8000))
    (tmp_path / "quiet.wav").write_bytes(encode_wav(np.zeros(4000, np.int16), 8000))
    (tmp_path / "song.mp3").write_bytes(b"ID3\x03\x00" + b"\x00" * 64)
    (tmp_path / "junk.wav").write_bytes(b"not audio at all")

    rows = {r["clipId"]: r for r in read_audio_features(spark, str(tmp_path)).collect()}
    assert set(rows) == {"a440", "quiet", "song", "junk"}
    assert rows["a440"]["peak"] == 10000 and rows["a440"]["duration_ms"] == 1000
    assert rows["quiet"]["energy_q"] == 0 and rows["quiet"]["duration_ms"] == 500
    assert rows["song"]["error"] and "NotImplementedError" in rows["song"]["error"]
    assert rows["junk"]["error"] and "WavError" in rows["junk"]["error"]


def test_audio_stream_through_results_sink_equals_batch(spark, tmp_path):
    """The full streaming audio leg (readStream.format('wavaudio') ->
    feature projection -> err_class-partitioned parquet results table)
    must land EXACTLY the rows the batch read produces, over randomized
    clip contents — the detect_motion_stream equivalence pattern for the
    audio modality (driver twin: multimodal_audio_replay_parity)."""
    import numpy as np

    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )
    from distributed_video_analytics_flink_spark.sources.wav import encode_wav

    rng = np.random.default_rng(7)
    data_dir = tmp_path / "clips"
    data_dir.mkdir()
    for i in range(6):
        n = int(rng.integers(100, 3000))
        samples = rng.integers(-30000, 30000, n).astype(np.int16)
        (data_dir / f"c{i}.wav").write_bytes(encode_wav(samples, 8000))
    (data_dir / "bad.wav").write_bytes(b"RIFFgarbage")
    (data_dir / "m.mp3").write_bytes(b"ID3\x03\x00" + b"\x00" * 16)

    register_sources(spark)

    def _norm(df):
        from pyspark.sql import functions as F

        return df.select(
            "clipId",
            "sample_rate",
            "n_channels",
            "n_frames",
            "duration_ms",
            "energy_q",
            "zero_crossings",
            "peak",
            F.coalesce(F.substring_index("error", ":", 1), F.lit("ok")).alias(
                "err_class"
            ),
        )

    results = str(tmp_path / "results")
    q = (
        _norm(spark.readStream.format("wavaudio").load(str(data_dir)))
        .writeStream.format("parquet")
        .partitionBy("err_class")
        .option("path", results)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    cols = [
        "clipId",
        "sample_rate",
        "n_channels",
        "n_frames",
        "duration_ms",
        "energy_q",
        "zero_crossings",
        "peak",
        "err_class",
    ]
    streamed = sorted(
        tuple(r[c] for c in cols) for r in spark.read.parquet(results).collect()
    )
    batch = sorted(
        tuple(r[c] for c in cols)
        for r in _norm(spark.read.format("wavaudio").load(str(data_dir))).collect()
    )
    assert streamed == batch and len(streamed) == 8


def test_hostile_wav_headers_stay_inside_the_wav_error_contract():
    """r14 review: zero-channel fmt and a truncated fmt chunk previously
    leaked ZeroDivisionError / struct.error through every except-WavError
    guard and killed the scan task."""
    import struct

    import numpy as np
    import pytest

    from distributed_video_analytics_flink_spark.sources.wav import (
        WavError,
        encode_wav,
        parse_wav_header,
    )

    wav = bytearray(encode_wav(np.zeros(4, np.int16), 8000))
    struct.pack_into("<H", wav, 22, 0)  # n_channels = 0
    with pytest.raises(WavError):
        parse_wav_header(bytes(wav))
    # fmt chunk declares 16 payload bytes but sits at the very end of the
    # buffer, so body+16 runs past len(data) — this (r15 advice) actually
    # exercises the truncated-fmt guard instead of falling through to the
    # missing-data-chunk path: a data chunk comes FIRST so the 44-byte
    # length gate passes without padding after the fmt header.
    head = bytes(wav)[:12]  # RIFF....WAVE
    head += b"data" + struct.pack("<I", 16) + b"\x00" * 16
    head += b"fmt " + struct.pack("<I", 16)  # declared payload absent
    assert len(head) == 44
    with pytest.raises(WavError, match="truncated fmt chunk"):
        parse_wav_header(head)
