"""Pins for the web-pipeline capstone (operators/web.py::
corpus_web_pipeline) beyond its VALUES oracle: stage-order observability
and the exact final corpus bytes.

The VALUES oracle already pins the populations against an independent
hand computation; these tests pin the PROPERTIES that make the capstone
meaningful — that the cookie banner on the Gopher-dropped page does NOT
count toward the boiler threshold (stage order), and that the final
digest is the md5 of the exact two cleaned articles in norm_url order.
"""

from __future__ import annotations

import hashlib


def test_pipeline_row_and_stage_order(spark):
    from distributed_video_analytics_flink_spark.operators.web import (
        _WEB_PACK_BUDGET,
        corpus_web_pipeline,
    )

    row = corpus_web_pipeline(spark, "/root/testdata/sf0.001").collect()[0]
    # populations: one kill per stage (6 -> 5 url-dedup -> 4 host gate
    # -> 2 gopher)
    assert (
        row["n_pages"],
        row["n_after_url_dedup"],
        row["n_after_host_gate"],
        row["n_after_gopher"],
    ) == (6, 5, 4, 2)
    # stage order: the banner appears on THREE pages (A, B, D) but D dies
    # at the Gopher gate first, so exactly the 2 surviving copies drop —
    # a pipeline that line-deduped before gating would still drop 2 here
    # but would ALSO change clean_tokens for D; the conjunction of these
    # two pins distinguishes the orders
    assert row["n_boiler_lines_dropped"] == 2
    assert row["n_bins"] == (row["clean_tokens"] - 1) // _WEB_PACK_BUDGET + 1


def test_pipeline_final_bytes():
    """The pinned corpus_md5 is the digest of the two cleaned articles
    (cookie banner removed, paragraphs intact) in norm_url order —
    recomputed here from the fixture's own page text, independent of the
    engine."""
    from distributed_video_analytics_flink_spark.operators.registry import QUERIES

    a = (
        "Spark structured streaming processes the unbounded event flow"
        " with watermarks and checkpoints so that late data lands in the"
        " correct window every time\n"
        "The engine keeps state in a versioned store and recovers the"
        " exact offsets of every source after a failure without losing a"
        " single record"
    )
    b = (
        "A broadcast join ships the small dimension table to every"
        " executor and avoids the shuffle of the large fact side"
        " completely\n"
        "Partition pruning reads only the directories that match the"
        " filter so a query over one day touches a tiny fraction of the"
        " table"
    )
    digest = hashlib.md5((a + "\n\n" + b).encode()).hexdigest()
    assert f"'{digest}'" in QUERIES["corpus_web_pipeline"].oracle


def test_stream_pipeline_equals_batch(spark, tmp_path):
    """VERDICT r15 #8: the streaming twin — fixture segments ARRIVE
    INCREMENTALLY (each written only after the previous micro-batch
    drains, the source's append-only contract) so the URL-duplicate
    pair and the shared cookie banner SPAN micro-batches — must
    reproduce the batch capstone's accounting row exactly, md5
    included."""
    from distributed_video_analytics_flink_spark.operators.web import (
        _pipeline_fixture_segments,
        corpus_web_pipeline,
    )
    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )
    from distributed_video_analytics_flink_spark.streaming import (
        stream_web_pipeline,
        web_pipeline_accounting,
    )

    register_sources(spark)
    seg_dir = tmp_path / "segments"
    seg_dir.mkdir()

    raw = spark.readStream.format("warc").load(str(seg_dir))
    q = stream_web_pipeline(raw, str(tmp_path / "state"), str(tmp_path / "ck"))
    try:
        n_batches = 0
        for name, blob in _pipeline_fixture_segments().items():
            (seg_dir / name).write_bytes(blob)
            q.processAllAvailable()
            n_batches += 1
        # genuinely multi-batch: each segment drained in its own trigger
        assert n_batches >= 2
        assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    finally:
        q.stop()

    got = web_pipeline_accounting(spark, str(tmp_path / "state")).collect()[0]
    want = corpus_web_pipeline(spark, str(tmp_path)).collect()[0]
    assert tuple(got) == tuple(want)


def test_accounting_total_on_zero_survivors(spark):
    """r16 review: SUM over zero Gopher survivors is NULL — the
    accounting must coalesce to a zero-token row instead of raising
    TypeError, a realistic state for stream-accumulated pages."""
    from distributed_video_analytics_flink_spark.operators.web import (
        web_pipeline_accounting_row,
    )

    pages = spark.createDataFrame(
        [("http://a.example/x", "too short")],
        "target_uri string, main_text string",
    )
    row = web_pipeline_accounting_row(pages)
    # (n_pages, url_dedup, host_gate, gopher, boiler, tokens, bins, md5)
    assert row[:7] == (1, 1, 1, 0, 0, 0, 0)
    assert isinstance(row[7], str) and len(row[7]) == 32
