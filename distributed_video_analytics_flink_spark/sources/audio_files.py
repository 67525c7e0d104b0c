"""Audio-file source: binaryFile scan + mapInPandas feature extraction.

The audio leg of the multimodal contract, built exactly like the video
source (sources/video_files.py): content-magic dispatch, REAL decode for
stdlib-parseable containers (PCM-16 WAV — sources/wav.py), an honest stub
for compressed codecs, and decode-on-the-partition (clips never ship
through a shuffle to a decode stage; only typed features move downstream).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("clipId", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("energy_q", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)


AUDIO_FEATURES_DDL = (
    "clipId string, sample_rate int, n_channels int, n_frames bigint, "
    "duration_ms bigint, energy_q bigint, zero_crossings bigint, "
    "peak int, error string"
)


def _decode_stub(fmt: str) -> None:
    raise NotImplementedError(
        f"compressed audio ({fmt}) needs a codec library; this container has "
        "none (same posture as compressed video, COVERAGE.md S4)"
    )


def audio_feature_row(path: str, raw: bytes) -> dict:
    """ONE clip -> ONE typed feature row (never raises): content-magic
    dispatch, REAL decode for PCM-16 WAV, honest stubs for compressed
    codecs, error rows for everything else. The single implementation
    shared by the binaryFile scan below and the ``wavaudio`` Data Source
    (sources/datasources.py), so the two ingest paths cannot drift
    on which clips decode, stub, or error."""
    import os

    from distributed_video_analytics_flink_spark.sources.wav import (
        WavError,
        wav_features,
    )

    base = {
        "clipId": os.path.splitext(os.path.basename(path))[0],
        "sample_rate": None,
        "n_channels": None,
        "n_frames": None,
        "duration_ms": None,
        "energy_q": None,
        "zero_crossings": None,
        "peak": None,
        "error": None,
    }
    try:
        if raw[:4] == b"RIFF":
            base.update(wav_features(raw))
        elif raw[:3] == b"ID3" or raw[:2] in (b"\xff\xfb", b"\xff\xf3"):
            _decode_stub("mp3")
        elif raw[:4] == b"OggS":
            _decode_stub("ogg")
        elif raw[:4] == b"fLaC":
            _decode_stub("flac")
        else:
            raise WavError("unrecognized audio container")
    except (WavError, NotImplementedError) as exc:
        base["error"] = f"{type(exc).__name__}: {exc}"[:200]
    return base


def read_audio_features(
    spark: SparkSession, path: str, glob: str = "*.{wav,mp3,ogg,flac}"
) -> DataFrame:
    """Scan audio files into typed feature rows. clipId = file stem. WAV
    decodes for real; compressed formats yield an error row (PERMISSIVE —
    one bad clip must not kill a 100 TB scan)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                audio_feature_row(p, bytes(content))
                for p, content in zip(pdf["path"], pdf["content"])
            ]
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA])

    return files.mapInPandas(_extract, AUDIO_FEATURES_SCHEMA)
