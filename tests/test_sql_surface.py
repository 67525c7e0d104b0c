"""SQL-surface tests (SURVEY.md §7.1): every registered SQL function must
agree with the DataFrame-side implementation it mirrors — same kernels, two
call surfaces."""

from __future__ import annotations

import hashlib
import math

import numpy as np

from distributed_video_analytics_flink_spark.operators.dedup import _simhash_signatures
from distributed_video_analytics_flink_spark.operators.sql_surface import (
    register_all,
    register_functions,
)
from distributed_video_analytics_flink_spark.operators.video import (
    detect_motion_batch,
    fixture_frames,
)
from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA
from tests.conftest import SF_DIR


def test_sql_scalar_functions(spark):
    register_functions(spark)
    row = spark.sql(
        """
        SELECT dvaf_day(timestamp '2024-03-05 23:30:00') AS day,
               dvaf_image_path('/out', 'cam7', timestamp '2024-01-01 00:00:01') AS path,
               dvaf_fingerprint('  Hello World  ') AS fp,
               dvaf_ws_tokens('a b  c') AS n,
               dvaf_stopword_ratio('the cat is here') AS ratio,
               dvaf_shingles('a b c d') AS sh
        """
    ).collect()[0]
    assert row.day == "2024-03-05"  # session TZ pinned to UTC
    assert row.path == "/out/cam7-T-1704067201000.png"
    assert row.fp == hashlib.md5(b"hello world").hexdigest()
    assert row.n == 4  # split keeps the empty token from the double space
    assert row.ratio == 0.5
    assert row.sh == ["a b c", "b c d"]


def test_sql_simhash_matches_dataframe_pipeline(spark):
    register_all(spark, SF_DIR)
    via_sql = {
        r.doc_id: r.simhash16
        for r in spark.sql(
            "SELECT doc_id, dvaf_simhash16(text) AS simhash16 FROM documents"
        ).collect()
    }
    via_df = {r.doc_id: r.simhash16 for r in _simhash_signatures(spark, SF_DIR).collect()}
    assert via_sql == via_df


def test_sql_cosine_matches_numpy(spark):
    register_all(spark, SF_DIR)
    rows = spark.sql(
        """
        SELECT dvaf_cosine(a.embedding, b.embedding) AS cos,
               a.embedding AS ea, b.embedding AS eb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 4 AND b.vec_id < 4
        """
    ).collect()
    assert len(rows) == 6

    def dot_q(x: np.ndarray, y: np.ndarray) -> int:
        return int(np.round(x * y * 1e12).astype(np.int64).sum())

    for r in rows:
        ea = np.asarray(r.ea, dtype=np.float64)
        eb = np.asarray(r.eb, dtype=np.float64)
        expected = dot_q(ea, eb) / (math.sqrt(dot_q(ea, ea)) * math.sqrt(dot_q(eb, eb)))
        assert math.isclose(r.cos, expected, rel_tol=1e-12)
        assert -1.001 <= r.cos <= 1.001


def test_sql_motion_boxes_matches_batch_pipeline(spark):
    register_functions(spark)
    frames = spark.createDataFrame(fixture_frames(), schema=FRAME_SCHEMA)
    frames.createOrReplaceTempView("fixture_frames")
    # the ergonomic SQL form: lag() ships prev+cur (2x payload vs the
    # mapInPandas carry) but needs zero pipeline code
    via_sql = spark.sql(
        """
        SELECT camId, unix_micros(timestamp) AS ts_us,
               dvaf_motion_boxes(
                 lag(data) OVER (PARTITION BY camId ORDER BY timestamp),
                 data, `rows`, cols) AS motion_boxes
        FROM fixture_frames
        """
    ).collect()
    got = {
        (r.camId, r.ts_us): [(b.x, b.y, b.w, b.h) for b in r.motion_boxes]
        for r in via_sql
    }
    exp = {
        (r.camId, r.ts_us): [(b.x, b.y, b.w, b.h) for b in r.motion_boxes]
        for r in detect_motion_batch(frames).collect()
    }
    assert got == exp
    assert any(boxes for boxes in exp.values())  # scenario actually has motion


def test_short_docs_yield_empty_shingles_not_errors(spark):
    """Documents shorter than the n-gram width must produce EMPTY shingle
    lists, exactly like DuckDB's generate_series(1, 0). The broken idiom —
    sequence(1, greatest(size - k, 0)) — descends ([1, 0]) and makes
    slice() throw INVALID_PARAMETER_VALUE on index 0, killing a whole
    query over one 2-token document (regression test for the guard in
    _SPARK_SHINGLES / dvaf_shingles / text_bigram_topk)."""
    register_functions(spark)
    rows = spark.sql(
        "SELECT dvaf_shingles('one two') AS a, dvaf_shingles('one') AS b, "
        "dvaf_shingles('') AS c, dvaf_shingles('a b c d') AS d"
    ).collect()[0]
    assert rows["a"] == [] and rows["b"] == [] and rows["c"] == []
    assert rows["d"] == ["a b c", "b c d"]


def test_minhash_and_bigram_paths_survive_short_docs(spark, tmp_path):
    """End-to-end: a corpus containing 0/1/2-token documents flows through
    the MinHash-signature and bigram-topk pipelines without raising, and
    the short docs simply contribute no shingles/bigrams."""
    import pandas as pd

    from distributed_video_analytics_flink_spark.operators.dedup import (
        _minhash_signature,
    )
    from distributed_video_analytics_flink_spark.operators.text_analysis import (
        text_bigram_topk,
    )

    sf = str(tmp_path)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["solo", "two words", "now three tokens", "a longer doc here ok"],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [4, 9, 16, 20],
        }
    ).to_parquet(f"{sf}/documents.parquet")
    sigs = _minhash_signature(spark, sf).collect()
    assert {r["doc_id"] for r in sigs} == {3, 4}  # <3-token docs: no shingles
    grams = text_bigram_topk(spark, sf).collect()
    seen = {r["bigram"] for r in grams}
    assert "two words" in seen and "solo" not in seen
