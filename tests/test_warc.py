"""WARC source pins: parser roundtrip (plain + gzip member layouts),
strict-head / permissive-tail contract, bit-flip fuzz (parse or
WarcError, never a hang or foreign exception), and batch==stream row
identity through the format("warc") Data Source."""

import gzip
import random

import pytest

from distributed_video_analytics_flink_spark.sources.warc import (
    WarcError,
    build_warc,
    iter_warc_records,
    warc_record_rows,
)

RECS = [
    dict(warc_type="warcinfo", body=b"software: t\r\n"),
    dict(
        warc_type="response",
        target_uri="http://e/x",
        http_body=b"<html>hello</html>",
        status=200,
    ),
    dict(
        warc_type="response",
        target_uri="http://e/nf",
        http_body=b"nope",
        status=404,
    ),
    dict(
        warc_type="request",
        target_uri="http://e/x",
        body=b"GET /x HTTP/1.1\r\n",
        content_type="application/http; msgtype=request",
    ),
]


@pytest.mark.parametrize("gzipped", [False, True])
def test_roundtrip_both_layouts(gzipped):
    raw = build_warc(RECS, gzipped=gzipped)
    rows = list(iter_warc_records(raw))
    assert [r.warc_type for r in rows] == [
        "warcinfo",
        "response",
        "response",
        "request",
    ]
    assert [r.http_status for r in rows] == [None, 200, 404, None]
    assert rows[1].http_content_type == "text/html"
    assert rows[1].target_uri == "http://e/x"
    assert rows[1].body.endswith(b"<html>hello</html>")
    assert rows[0].record_id and rows[0].warc_date


def test_gzip_whole_file_and_member_layouts_agree():
    plain = build_warc(RECS)
    member_gz = build_warc(RECS, gzipped=True)
    whole_gz = gzip.compress(plain, mtime=0)
    a = [(r.warc_type, r.http_status, r.body) for r in iter_warc_records(plain)]
    for blob in (member_gz, whole_gz):
        assert [
            (r.warc_type, r.http_status, r.body) for r in iter_warc_records(blob)
        ] == a


def test_strict_head_permissive_tail():
    with pytest.raises(WarcError):
        list(iter_warc_records(b"HTTP/1.1 200 OK\r\n\r\nnot a warc"))
    # strict head holds through the ROW path too (ADVICE r13): a file
    # with zero parseable records re-raises instead of yielding one
    # quiet error row — a directory of non-WARC files must be loud.
    with pytest.raises(WarcError):
        list(warc_record_rows("x.warc", b"garbage"))
    # truncate mid-payload: readable prefix + exactly one error row
    raw = build_warc(RECS)
    rows = list(warc_record_rows("x.warc", raw[:-40]))
    kinds = [r[2] for r in rows]
    assert kinds[:3] == ["warcinfo", "response", "response"]
    assert rows[-1][-1] and rows[-1][-1].startswith("WarcError")
    assert sum(1 for r in rows if r[-1]) == 1


def test_bit_flip_fuzz_never_hangs_or_leaks_foreign_exceptions():
    raw = build_warc(RECS)
    rng = random.Random(13)
    for _ in range(200):
        blob = bytearray(raw)
        for _ in range(rng.randint(1, 4)):
            blob[rng.randrange(len(blob))] ^= 1 << rng.randrange(8)
        try:
            n = sum(1 for _ in iter_warc_records(bytes(blob)))
            assert n <= len(RECS) + 4  # corrupt lengths can resegment, not explode
        except WarcError:
            pass  # the one sanctioned failure mode


def test_warc_stream_equals_batch(spark, tmp_path):
    """format('warc') streaming (per-file offsets, one file per trigger)
    must emit exactly the batch rows — including the truncated segment's
    error row arriving as a live micro-batch row."""
    from distributed_video_analytics_flink_spark.operators.web import (
        _fixture_segments,
    )
    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    register_sources(spark)
    seg_dir = tmp_path / "segs"
    seg_dir.mkdir()
    for name, blob in _fixture_segments().items():
        (seg_dir / name).write_bytes(blob)

    out = tmp_path / "rows"
    q = (
        spark.readStream.format("warc")
        .option("maxFilesPerTrigger", 1)
        .load(str(seg_dir))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    streamed = spark.read.parquet(str(out))
    batch = spark.read.format("warc").load(str(seg_dir))
    cols = ["segment", "record_id", "warc_type", "target_uri", "http_status", "error"]
    a = {tuple(r) for r in streamed.select(cols).collect()}  # 7 fixture rows
    b = {tuple(r) for r in batch.select(cols).collect()}
    assert a == b and len(b) == 7


def test_truncated_gzip_stays_inside_the_warc_error_contract():
    """r14 review: gzip.decompress raises EOFError on truncation and
    zlib.error on corrupt deflate — both must surface as WarcError (the
    one sanctioned failure mode), never a foreign exception."""
    blob = build_warc(RECS, gzipped=True)
    with pytest.raises(WarcError):
        list(iter_warc_records(blob[:-20]))
    corrupt = bytearray(blob)
    corrupt[len(corrupt) // 2] ^= 0xFF
    try:
        list(iter_warc_records(bytes(corrupt)))
    except WarcError:
        pass  # fine either way: parse or WarcError, never EOFError/zlib.error
