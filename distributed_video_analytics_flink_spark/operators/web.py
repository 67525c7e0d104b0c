"""Web-corpus ingest queries: the WARC front door, driver-checked.

The fixture segments are built in-query by the engine's own writer
(``sources/warc.py::build_warc`` — fixed dates, gzip mtime=0, so both
engines and every run see byte-identical input), the same pattern the
audio family uses for its clips: closed-form fixtures, VALUES oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_video_analytics_flink_spark.operators.registry import query

_HTML_A = b"<html><head><title>t</title></head><body>alpha beta gamma</body></html>"
_HTML_B = b"<html><body>delta epsilon</body></html>"


def _fixture_segments() -> dict[str, bytes]:
    """Three deterministic segments: a plain .warc, a gzipped twin with
    different pages, and a truncated segment (readable prefix + tail
    corruption) — the permissive contract is part of the checked
    surface."""
    from distributed_video_analytics_flink_spark.sources.warc import build_warc

    seg_a = build_warc(
        [
            dict(warc_type="warcinfo", body=b"software: dvafs-fixture\r\n"),
            dict(
                warc_type="response",
                target_uri="http://fixture.example/a",
                http_body=_HTML_A,
                status=200,
            ),
            dict(
                warc_type="request",
                target_uri="http://fixture.example/a",
                body=b"GET /a HTTP/1.1\r\n",
                content_type="application/http; msgtype=request",
            ),
        ]
    )
    seg_b = build_warc(
        [
            dict(
                warc_type="response",
                target_uri="http://fixture.example/b",
                http_body=_HTML_B,
                status=200,
            ),
            dict(
                warc_type="response",
                target_uri="http://fixture.example/gone",
                http_body=b"not here",
                status=404,
            ),
        ],
        gzipped=True,
    )
    good = build_warc(
        [
            dict(
                warc_type="response",
                target_uri="http://fixture.example/c",
                http_body=b"ok",
                status=200,
            ),
            dict(
                warc_type="response",
                target_uri="http://fixture.example/cut",
                http_body=b"x" * 64,
                status=200,
            ),
        ]
    )
    seg_c = good[:-40]  # second record's payload truncated
    return {"seg-a.warc": seg_a, "seg-b.warc.gz": seg_b, "seg-c.warc": seg_c}


@query(
    "corpus_warc_ingest",
    oracle="""
    SELECT * FROM (VALUES
      ('seg-a.warc',    'warcinfo', CAST(NULL AS VARCHAR),        CAST(NULL AS INTEGER), 'ok'),
      ('seg-a.warc',    'response', 'http://fixture.example/a',   200, 'ok'),
      ('seg-a.warc',    'request',  'http://fixture.example/a',   CAST(NULL AS INTEGER), 'ok'),
      ('seg-b.warc.gz', 'response', 'http://fixture.example/b',   200, 'ok'),
      ('seg-b.warc.gz', 'response', 'http://fixture.example/gone', 404, 'ok'),
      ('seg-c.warc',    'response', 'http://fixture.example/c',   200, 'ok'),
      ('seg-c.warc',    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER), 'WarcError')
    ) AS t(segment, warc_type, target_uri, http_status, err_class)
    """,
)
def corpus_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC segment ingest end-to-end as driver evidence: the engine's
    own writer builds three deterministic segments (plain, gzipped
    member layout, truncated), ``spark.read.format("warc")`` parses them
    — one InputPartition per segment, records materialized inside the
    partition — and the projected rows are VALUES-pinned: every record
    of every layout, the HTTP status surfaced from application/http
    payloads, gzip transparency (seg-b parses identically to plain),
    and the permissive-tail contract (seg-c yields its readable prefix
    PLUS one error row instead of a dead task).

    100 TB shape: Common Crawl is ~100k segments x ~1 GB per crawl —
    the per-file partition model IS the layout's natural parallelism;
    the projection drops ``body`` before any exchange, so page bytes
    never move between executors (they do cross the one Python->JVM
    Arrow hop — the Python Data Source API doesn't push projection into
    the reader; see sources/datasources.py for the honest
    accounting)."""
    import os
    import shutil
    import tempfile

    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    register_sources(spark)
    root = tempfile.mkdtemp(prefix="dvafs-warc-")
    try:
        seg_dir = os.path.join(root, "segments")
        os.makedirs(seg_dir)
        for name, blob in _fixture_segments().items():
            with open(os.path.join(seg_dir, name), "wb") as fh:
                fh.write(blob)
        rows = (
            spark.read.format("warc")
            .load(seg_dir)
            .select(
                "segment",
                "warc_type",
                "target_uri",
                "http_status",
                F.coalesce(
                    F.substring_index("error", ":", 1), F.lit("ok")
                ).alias("err_class"),
            )
            .collect()  # bounded: 7 fixture records
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        "segment string, warc_type string, target_uri string,"
        " http_status int, err_class string",
    )


@query(
    "corpus_warc_text_stats",
    oracle="""
    SELECT * FROM (VALUES
      ('http://fixture.example/a', 't alpha beta gamma', CAST(4 AS BIGINT)),
      ('http://fixture.example/b', 'delta epsilon',    CAST(2 AS BIGINT)),
      ('http://fixture.example/c', 'ok',               CAST(1 AS BIGINT))
    ) AS t(target_uri, text, n_tokens)
    """,
)
def corpus_warc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARC leg composed into the text pipeline: 200-status
    text/html responses -> crude tag-strip text extraction (the
    regexp_replace baseline every corpus build starts from before a
    real boilerplate remover) -> whitespace token counts, all inside
    Catalyst — decode/regexp/split never leave the JVM, and because the
    projection touches only http-filtered rows, the warcinfo/request/
    error records are dropped at the scan edge.

    VALUES-pinned end to end: extracted text AND token counts for every
    qualifying page across all three fixture layouts (plain, gzip,
    truncated-tail) — the 404 page and the truncated record must NOT
    appear. 100 TB shape: one scan of the segment directory, filter +
    projection only; the extracted text column is what feeds
    text_quality_score / text_langid / dedup downstream."""
    import os
    import shutil
    import tempfile

    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    register_sources(spark)
    root = tempfile.mkdtemp(prefix="dvafs-warctext-")
    try:
        seg_dir = os.path.join(root, "segments")
        os.makedirs(seg_dir)
        for name, blob in _fixture_segments().items():
            with open(os.path.join(seg_dir, name), "wb") as fh:
                fh.write(blob)
        text = F.trim(
            F.regexp_replace(
                F.regexp_replace(F.decode("body", "UTF-8"), "<[^>]*>", " "),
                "\\s+",
                " ",
            )
        )
        rows = (
            spark.read.format("warc")
            .load(seg_dir)
            .filter(
                (F.col("http_status") == 200)
                & F.col("http_content_type").startswith("text/html")
            )
            .select(
                "target_uri",
                text.alias("text"),
                F.size(F.split(text, " ")).cast("long").alias("n_tokens"),
            )
            .collect()  # bounded: 3 qualifying fixture pages
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [tuple(r) for r in rows], "target_uri string, text string, n_tokens long"
    )


# --- HTML boilerplate extraction (VERDICT r13 #2) -------------------------
# jusText/trafilatura-family block classification (public algorithms:
# Pomikalek 2011 "Removing boilerplate and duplicate content from web
# corpora"), reduced to its two load-bearing, integer-decidable signals:
# block text length and link density. Thresholds:
_HTML_MIN_BLOCK_CHARS = 20  # jusText's LENGTH_LOW analog
# link density threshold as an exact rational: keep iff
# DEN * link_chars <= NUM * text_chars  (i.e. density <= NUM/DEN = 1/4)
_HTML_LINK_DENSITY_NUM = 1
_HTML_LINK_DENSITY_DEN = 4
_HTML_BLOCK_SPLIT = (
    "(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|"
    "br|hr|section|article|aside|nav|header|footer|main|blockquote|pre|"
    "form|fieldset|figure|figcaption|title|head|body|html)[^>]*>"
)


def _html_fixture_segments() -> dict[str, bytes]:
    """Two deterministic segments for the extraction contract: a
    nav-heavy page (boilerplate-dominated: nav list, footer link bar,
    short title — exactly one real paragraph survives) and a two-
    paragraph article whose second paragraph carries an inline link
    (low link density — must be KEPT) plus a related-links list (high
    link density — must be dropped). The article segment uses the
    gzipped member layout so both container paths stay exercised."""
    from distributed_video_analytics_flink_spark.sources.warc import build_warc

    nav_heavy = (
        b"<html><head><title>Site</title><style>p{color:red}</style></head>"
        b"<body><nav><ul><li><a href=\"/\">Home</a></li>"
        b"<li><a href=\"/about\">About</a></li>"
        b"<li><a href=\"/contact\">Contact</a></li></ul></nav>"
        b"<!-- layout comment -->"
        b"<div><p>The quick brown fox jumps over the lazy dog near the"
        b" river bank.</p></div>"
        b"<footer><a href=\"/privacy\">Privacy policy</a> | "
        b"<a href=\"/terms\">Terms of use</a></footer></body></html>"
    )
    article = (
        b"<html><head><title>T2</title>"
        b"<script>var x = 1;</script></head><body>"
        b"<article><p>Spark structured streaming handles late data with"
        b" watermarks and stateful operators.</p>"
        b"<p>Read the <a href=\"/docs\">documentation</a> for deeper"
        b" details about checkpointing and state stores.</p></article>"
        b"<div class=\"related\"><ul>"
        b"<li><a href=\"/p1\">Related post one</a></li>"
        b"<li><a href=\"/p2\">Related post two</a></li></ul></div>"
        b"</body></html>"
    )
    seg_nav = build_warc(
        [
            dict(
                warc_type="response",
                target_uri="http://fixture.example/nav-heavy",
                http_body=nav_heavy,
                status=200,
            ),
        ]
    )
    seg_art = build_warc(
        [
            dict(
                warc_type="response",
                target_uri="http://fixture.example/article",
                http_body=article,
                status=200,
            ),
            dict(
                warc_type="response",
                target_uri="http://fixture.example/plain-short",
                http_body=b"<html><body><p>too short</p></body></html>",
                status=200,
            ),
        ],
        gzipped=True,
    )
    return {"seg-nav.warc": seg_nav, "seg-art.warc.gz": seg_art}


def html_extract_columns(html_col: str = "html"):
    """(main_text, n_blocks, n_content, boiler_chars) Catalyst column
    expressions implementing the block classifier over a decoded HTML
    string column — shared by the registered query and any pipeline
    composition. Pure Catalyst: script/style subtrees and comments are
    regexp-removed, the document splits into blocks at block-level tag
    boundaries, and each block carries (clean text, anchor-text chars);
    classification is the integer predicate
    ``len >= {mn} AND 4*link_chars <= len``. No UDF, no explode — the
    per-page block array never leaves the row."""
    strip = (
        "trim(regexp_replace(regexp_replace({e}, '<[^>]*>', ' '),"
        " '\\\\s+', ' '))"
    )
    pre = (
        f"regexp_replace(regexp_replace({html_col},"
        " '(?is)<(script|style)[^>]*>.*?</\\\\1>', ' '),"
        " '(?s)<!--.*?-->', ' ')"
    )
    blocks = (
        "filter(transform("
        f"split({pre}, '{_HTML_BLOCK_SPLIT}'),"
        " b -> named_struct("
        f"   'text', {strip.format(e='b')},"
        "    'link_chars', aggregate("
        "      regexp_extract_all(b, '(?is)<a[^>]*>(.*?)</a>', 1), 0,"
        f"     (acc, x) -> acc + length({strip.format(e='x')}))"
        " )), s -> length(s.text) > 0)"
    )
    keep_body = (
        f"length({{s}}.text) >= {_HTML_MIN_BLOCK_CHARS}"
        f" AND {_HTML_LINK_DENSITY_DEN} * {{s}}.link_chars"
        f" <= {_HTML_LINK_DENSITY_NUM} * length({{s}}.text)"
    )
    keep = "s -> " + keep_body.format(s="s")
    drop = "s -> NOT (" + keep_body.format(s="s") + ")"
    main_text = F.expr(
        f"array_join(transform(filter({blocks}, {keep}), s -> s.text), '\\n')"
    )
    n_blocks = F.expr(f"size({blocks})").cast("long")
    n_content = F.expr(f"size(filter({blocks}, {keep}))").cast("long")
    boiler_chars = F.expr(
        f"aggregate(filter({blocks}, {drop}), 0,"
        " (acc, s) -> acc + length(s.text))"
    ).cast("long")
    return main_text, n_blocks, n_content, boiler_chars


@query(
    "corpus_html_extract",
    oracle="""
    SELECT * FROM (VALUES
      ('http://fixture.example/nav-heavy',
       'The quick brown fox jumps over the lazy dog near the river bank.',
       CAST(6 AS BIGINT), CAST(1 AS BIGINT), CAST(49 AS BIGINT)),
      ('http://fixture.example/article',
       'Spark structured streaming handles late data with watermarks and stateful operators.'
         || chr(10) ||
         'Read the documentation for deeper details about checkpointing and state stores.',
       CAST(5 AS BIGINT), CAST(2 AS BIGINT), CAST(34 AS BIGINT)),
      ('http://fixture.example/plain-short', '',
       CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(9 AS BIGINT))
    ) AS t(target_uri, main_text, n_blocks, n_content, boiler_chars)
    """,
)
def corpus_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-density HTML boilerplate extraction over the WARC leg
    (VERDICT r14 task #2) — the jusText-family block classifier
    (Pomikalek 2011; trafilatura's baseline rules) as a pure-Catalyst
    operator replacing corpus_warc_text_stats' crude whole-page
    tag-strip: script/style subtrees and comments are removed, the page
    splits into blocks at block-level tag boundaries, each block gets
    (clean text, anchor-text chars), and a block survives iff it is
    long enough (>= 20 chars) AND link-sparse (4 * anchor_chars <=
    text_chars — the integer-decided link-density <= 1/4 rule). The
    kept blocks join with newlines into ``main_text``; the dropped
    boilerplate is accounted per page.

    VALUES-pinned end to end on purpose-built fixtures: a nav-heavy
    page (nav list + footer link bar + short title: 5 of 6 blocks are
    boilerplate and the ONE real paragraph survives verbatim), an
    article whose second paragraph carries an inline link at density
    13/80 (must be KEPT — naive any-link dropping fails here) next to a
    related-links list at density 1 (dropped), and a too-short page
    (clean empty extraction, not a dropped row).

    100 TB shape: scan -> filter (status/mime at the WARC record edge)
    -> one projection; the block array lives and dies inside its row
    (no explode), every regex/aggregate is JVM-side Catalyst, and the
    operator adds zero shuffles and zero Python BEYOND the WARC reader
    itself (a Python Data Source without projection pushdown — the
    honest accounting in sources/datasources.py; pages cross the
    Arrow hop once, then never again). The classifier's two thresholds
    are the deterministic core of the public algorithms; the
    stopword-density leg jusText adds is language-dependent and belongs
    to the downstream text_gopher_rules/text_quality_score gates this
    feeds.
    """
    import os
    import shutil
    import tempfile

    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    register_sources(spark)
    root = tempfile.mkdtemp(prefix="dvafs-htmlx-")
    try:
        seg_dir = os.path.join(root, "segments")
        os.makedirs(seg_dir)
        for name, blob in _html_fixture_segments().items():
            with open(os.path.join(seg_dir, name), "wb") as fh:
                fh.write(blob)
        main_text, n_blocks, n_content, boiler_chars = html_extract_columns(
            "decode(body, 'UTF-8')"
        )
        rows = (
            spark.read.format("warc")
            .load(seg_dir)
            .filter(
                (F.col("http_status") == 200)
                & F.col("http_content_type").startswith("text/html")
            )
            .select(
                "target_uri",
                main_text.alias("main_text"),
                n_blocks.alias("n_blocks"),
                n_content.alias("n_content"),
                boiler_chars.alias("boiler_chars"),
            )
            .collect()  # bounded: 3 fixture pages
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        "target_uri string, main_text string, n_blocks long,"
        " n_content long, boiler_chars long",
    )


# --- URL/host-level curation (VERDICT r13 #5) -----------------------------
# The standard Common Crawl pipeline stage between ingest and text-level
# filtering: URL normalization dedup, host/registrable-domain rollups, and
# a broadcast host blocklist. Normalization rules (the conservative common
# subset of the public crawl pipelines — CCNet, RefinedWeb app. B):
# lowercase scheme+host, strip the scheme's default port, strip a leading
# 'www.', drop the fragment, drop tracking query params (utm_*, fbclid,
# gclid) keeping the rest in order, and strip trailing slashes from a
# non-root path. All pure Catalyst string/array ops.
_HOST_BLOCKLIST = ("tracker.bad.example",)
# two-level public suffixes the fixture exercises; production swaps in the
# full Mozilla PSL as a broadcast table with the same last-2/last-3 logic
_TWO_LEVEL_SUFFIXES = ("co.uk", "org.uk", "ac.uk", "com.au", "co.jp")


def url_parts_columns(uri_col: str = "target_uri"):
    """(scheme, host, registrable_domain, path, raw_query) Catalyst
    expressions over a raw URL column — the shared pieces behind
    :func:`with_url_columns` (which also folds the tracking-param filter
    and assembles ``norm_url``; use THAT for composition). Total on any
    input: a URI with no scheme/host parses to empty-string parts, a
    single-label host (localhost, intranet names) keeps itself as the
    registrable domain — ``try_element_at`` keeps the label math from
    throwing under Spark 4's default ANSI mode (r14 review: a plain
    element_at(-2) killed the job on the first 'http://localhost/x')."""
    scheme = F.lower(F.regexp_extract(uri_col, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host_raw = F.lower(F.regexp_extract(uri_col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host_noport = (
        F.when(scheme == "http", F.regexp_replace(host_raw, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host_raw, ":443$", ""))
        .otherwise(host_raw)
    )
    host = F.regexp_replace(host_noport, r"^www\.", "")
    labels = F.split(host, r"\.")
    suffix2 = F.when(
        F.size(labels) >= 2,
        F.concat_ws(
            ".", F.try_element_at(labels, F.lit(-2)), F.try_element_at(labels, F.lit(-1))
        ),
    ).otherwise(host)
    in_psl = suffix2.isin(*_TWO_LEVEL_SUFFIXES)
    domain = F.when(
        in_psl & (F.size(labels) >= 3),
        F.concat_ws(".", F.try_element_at(labels, F.lit(-3)), suffix2),
    ).otherwise(suffix2)

    rest = F.regexp_extract(uri_col, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)", 1)
    path_q = F.split(rest, r"\?", 2)
    path0 = path_q[0]
    # strip trailing slashes from a non-root path; a slashes-ONLY path is
    # the root, not the empty path (r14 review: 'http://a//' must fold
    # with 'http://a/', not mint a third canonical form)
    stripped = F.regexp_replace(path0, "/+$", "")
    path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    query_raw = F.when(F.size(path_q) > 1, path_q[1]).otherwise(F.lit(""))
    return scheme, host, domain, path, query_raw


def with_url_columns(df: DataFrame, uri_col: str = "target_uri") -> DataFrame:
    """Append (host, domain, norm_url) to ``df`` — the composable form
    (the expressions need a named intermediate for the query-param
    filter lambda, hence a DataFrame seam rather than bare columns)."""
    scheme, host, domain, path, query_raw = url_parts_columns(uri_col)
    out = df.withColumn("_scheme", scheme).withColumn("host", host).withColumn(
        "domain", domain
    ).withColumn("_path", path).withColumn("_qraw", query_raw)
    kept = F.expr(
        "filter(split(_qraw, '&'), p -> p != '' AND"
        " p NOT RLIKE '^(utm_[^=]*|fbclid|gclid)(=|$)')"
    )
    return (
        out.withColumn("_q", F.array_join(kept, "&"))
        .withColumn(
            "norm_url",
            F.concat(
                F.col("_scheme"),
                F.lit("://"),
                F.col("host"),
                F.col("_path"),
                F.when(F.col("_q") != "", F.concat(F.lit("?"), F.col("_q"))).otherwise(
                    F.lit("")
                ),
            ),
        )
        .drop("_scheme", "_path", "_qraw", "_q")
    )


def _url_fixture_segments() -> dict[str, bytes]:
    """One deterministic segment exercising every normalization rule and
    the blocklist: case-folded scheme/host, default ports, www prefix,
    fragments, tracking params, trailing slashes, a two-level public
    suffix (co.uk), duplicate texts across distinct URLs, and a blocked
    tracker host."""
    from distributed_video_analytics_flink_spark.sources.warc import build_warc

    pages = [
        ("http://www.News.Example.co.uk:80/a/?utm_source=tw", b"alpha beta gamma delta"),
        ("http://news.example.co.uk/a#section", b"alpha beta gamma delta"),
        ("https://blog.example.co.uk/post/1", b"epsilon zeta"),
        ("http://example.com/path?id=2&utm_campaign=x", b"one two three"),
        ("http://EXAMPLE.com:80/path?id=2", b"one two three"),
        ("http://example.com/other", b"one two three"),
        ("http://tracker.bad.example/pixel", b"x"),
        ("https://docs.example.com:443/guide/", b"four five six seven"),
    ]
    return {
        "seg-urls.warc": build_warc(
            [
                dict(warc_type="response", target_uri=u, http_body=b, status=200)
                for u, b in pages
            ]
        )
    }


def _url_fixture_frame(spark: SparkSession):
    import os
    import shutil
    import tempfile

    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    register_sources(spark)
    root = tempfile.mkdtemp(prefix="dvafs-urls-")
    try:
        seg_dir = os.path.join(root, "segments")
        os.makedirs(seg_dir)
        for name, blob in _url_fixture_segments().items():
            with open(os.path.join(seg_dir, name), "wb") as fh:
                fh.write(blob)
        df = (
            spark.read.format("warc")
            .load(seg_dir)
            .filter(F.col("http_status") == 200)
            .select("target_uri", F.decode("body", "UTF-8").alias("text"))
        )
    except BaseException:
        # cleanup-on-error: the caller's try/finally only guards AFTER
        # this returns (r14 review — a failed fixture write leaked the
        # tempdir on every failing run)
        shutil.rmtree(root, ignore_errors=True)
        raise
    return df, root, shutil


@query(
    "corpus_host_stats",
    oracle="""
    SELECT * FROM (VALUES
      ('example.co.uk', CAST(3 AS BIGINT), CAST(2 AS BIGINT),
       CAST(2 AS BIGINT), CAST(10 AS BIGINT)),
      ('example.com', CAST(4 AS BIGINT), CAST(3 AS BIGINT),
       CAST(2 AS BIGINT), CAST(13 AS BIGINT))
    ) AS t(domain, n_pages, n_urls, n_distinct_texts, n_tokens)
    """,
)
def corpus_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain rollup over the WARC leg (VERDICT r14 #5):
    pages per domain, distinct normalized URLs, distinct text digests
    (the host-level dup-rate numerator every crawl pipeline gates on),
    and token volume — AFTER the broadcast host blocklist drops tracker
    hosts. Registrable domain = last two host labels, or three when the
    two-label suffix is a public two-level suffix (co.uk family —
    production swaps in the full PSL as a broadcast table, same logic).

    VALUES-pinned by hand over the URL fixture segment: www/case/port
    variants of news.example.co.uk fold into one domain with blog; the
    three one-two-three texts give example.com 2 distinct texts over 4
    pages / 3 normalized URLs; the tracker host contributes NOTHING.

    100 TB: the blocklist is a broadcast anti-join at the scan edge
    (drops before any shuffle); the rollup is one partial-aggregable
    groupBy on domain whose approx-distinct twins
    (approx_count_distinct) swap in when exact URL/text cardinalities
    stop fitting — the md5 digests mean bodies never shuffle."""
    df, root, shutil = _url_fixture_frame(spark)
    try:
        block = spark.createDataFrame(
            [(h,) for h in _HOST_BLOCKLIST], "host string"
        )
        rows = (
            with_url_columns(df)
            .join(F.broadcast(block), "host", "left_anti")
            .groupBy("domain")
            .agg(
                F.count(F.lit(1)).alias("n_pages"),
                F.countDistinct("norm_url").alias("n_urls"),
                F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
                F.sum(F.size(F.split(F.trim("text"), r"\s+")))
                .cast("long")
                .alias("n_tokens"),
            )
            .collect()  # bounded: distinct fixture domains
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        "domain string, n_pages long, n_urls long,"
        " n_distinct_texts long, n_tokens long",
    ).orderBy("domain")


@query(
    "corpus_url_dedup",
    oracle="""
    SELECT * FROM (VALUES
      ('http://example.com/other', CAST(1 AS BIGINT), 'http://example.com/other'),
      ('http://example.com/path?id=2', CAST(2 AS BIGINT), 'http://EXAMPLE.com:80/path?id=2'),
      ('http://news.example.co.uk/a', CAST(2 AS BIGINT), 'http://news.example.co.uk/a#section'),
      ('https://blog.example.co.uk/post/1', CAST(1 AS BIGINT), 'https://blog.example.co.uk/post/1'),
      ('https://docs.example.com/guide', CAST(1 AS BIGINT), 'https://docs.example.com:443/guide/')
    ) AS t(norm_url, n_dups, kept_uri)
    """,
)
def corpus_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-normalization dedup over the WARC leg (VERDICT r14 #5): fold
    scheme/host case, default ports, www, fragments, tracking params and
    trailing slashes into a canonical URL; group; keep one
    deterministic representative (binary-min of the original URIs —
    retry-stable on any cluster) and count the fold. The broadcast host
    blocklist gates first, so blocked hosts never reach the dedup.

    VALUES-pinned by hand: the two news.example.co.uk variants fold
    (utm_source + trailing slash + www + :80 on one side, fragment on
    the other), the two example.com/path variants fold (case + :80 +
    utm_campaign), singletons pass through, the tracker host is gone.

    100 TB: normalization is a scan projection; the one shuffle groups
    by the canonical URL (a short string key, well spread by hash);
    representative selection is min/max inside the aggregate — no
    window, no sort."""
    df, root, shutil = _url_fixture_frame(spark)
    try:
        block = spark.createDataFrame(
            [(h,) for h in _HOST_BLOCKLIST], "host string"
        )
        rows = (
            with_url_columns(df)
            .join(F.broadcast(block), "host", "left_anti")
            .groupBy("norm_url")
            .agg(
                F.count(F.lit(1)).alias("n_dups"),
                F.min("target_uri").alias("kept_uri"),
            )
            .collect()  # bounded: distinct fixture URLs
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [tuple(r) for r in rows], "norm_url string, n_dups long, kept_uri string"
    ).orderBy("norm_url")


# --- Web-pipeline capstone (VERDICT r14 #3) -------------------------------
# The r13/r14 web stages each stand alone; this composes them into the one
# accounting query a real CC-pipeline user runs first (the
# curation_pipeline_v2 pattern applied to the WARC leg). Pipeline-local
# constants: a line appearing in >= K DISTINCT surviving documents is
# boiler (an intra-document repeat alone is content, not boilerplate —
# enforced via countDistinct, r15 review); packed sequences carry this
# token budget.
_WEB_LINE_DUP_K = 2
_WEB_PACK_BUDGET = 32


def _pipeline_fixture_segments() -> dict[str, bytes]:
    """Two segments, six pages, each built to be dropped by exactly one
    stage (or to survive them all): A + its URL-variant twin (url dedup
    folds them), B (survives; shares the cookie-banner block with A so
    line rewrite fires corpus-wide), C on the blocklisted tracker host,
    D too short for Gopher's word-count gate, E nav-only (empty
    extraction). The cookie banner appears on A, B AND D on purpose —
    D dies at the Gopher gate first, so the banner's corpus-wide count
    among SURVIVORS is exactly 2 (the stage order is observable)."""
    from distributed_video_analytics_flink_spark.sources.warc import build_warc

    cookie = (
        b"<div class=\"cookie\"><p>We use cookies to improve the experience"
        b" of this site and to analyze the traffic we receive</p></div>"
    )
    nav = (
        b"<nav><ul><li><a href=\"/\">Home</a></li>"
        b"<li><a href=\"/about\">About</a></li></ul></nav>"
    )
    page_a = (
        b"<html><body>" + cookie
        + b"<article><p>Spark structured streaming processes the unbounded"
        b" event flow with watermarks and checkpoints so that late data"
        b" lands in the correct window every time</p>"
        b"<p>The engine keeps state in a versioned store and recovers the"
        b" exact offsets of every source after a failure without losing a"
        b" single record</p></article></body></html>"
    )
    page_b = (
        b"<html><body>" + cookie
        + b"<article><p>A broadcast join ships the small dimension table to"
        b" every executor and avoids the shuffle of the large fact side"
        b" completely</p>"
        b"<p>Partition pruning reads only the directories that match the"
        b" filter so a query over one day touches a tiny fraction of the"
        b" table</p></article></body></html>"
    )
    page_c = (
        b"<html><body><p>Content on a blocked tracker host never reaches"
        b" the dedup or quality stages at all</p></body></html>"
    )
    page_d = (
        b"<html><body>" + cookie
        + b"<p>This page is intentionally brief and says almost nothing of"
        b" real substance beyond this single sentence</p></body></html>"
    )
    page_e = b"<html><body>" + nav + (
        b"<footer><a href=\"/privacy\">Privacy policy</a></footer>"
        b"</body></html>"
    )
    seg_1 = build_warc(
        [
            dict(
                warc_type="response",
                target_uri="http://www.Example.com:80/a/?utm_source=tw",
                http_body=page_a,
                status=200,
            ),
            dict(
                warc_type="response",
                target_uri="http://example.com/a",
                http_body=page_a,
                status=200,
            ),
            dict(
                warc_type="response",
                target_uri="http://example.com/b",
                http_body=page_b,
                status=200,
            ),
        ]
    )
    seg_2 = build_warc(
        [
            dict(
                warc_type="response",
                target_uri="http://tracker.bad.example/c",
                http_body=page_c,
                status=200,
            ),
            dict(
                warc_type="response",
                target_uri="http://example.com/d",
                http_body=page_d,
                status=200,
            ),
            dict(
                warc_type="response",
                target_uri="http://example.com/e",
                http_body=page_e,
                status=200,
            ),
        ],
        gzipped=True,
    )
    return {"seg-pipe1.warc": seg_1, "seg-pipe2.warc.gz": seg_2}


def web_pipeline_extracted_pages(raw: DataFrame) -> DataFrame:
    """The pipeline's PER-RECORD head over a warc-source frame (batch or
    streaming — the projection is scan-shaped, so it runs inside a
    micro-batch unchanged): HTTP 200 text/html filter + jusText-family
    main-text extraction. Shared by the batch capstone and the streaming
    twin (streaming/corpus.py::stream_web_pipeline, r16 — VERDICT r15
    #8), so the two heads cannot drift."""
    main_text, _, _, _ = html_extract_columns("decode(body, 'UTF-8')")
    return raw.filter(
        (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
    ).select("target_uri", main_text.alias("main_text"))


def web_pipeline_accounting_row(pages: DataFrame) -> tuple:
    """The CORPUS-WIDE stages of the web pipeline over an extracted-pages
    frame (target_uri, main_text), returning the 8-field accounting
    tuple. ONE implementation shared by the batch capstone and the
    streaming twin: in streaming, the per-record head runs in-stream and
    the micro-batches append to an at-rest pages table; these stages
    then run over the accumulated table — URL dedup and the line-boiler
    count are corpus-wide by definition (a duplicate URL or a shared
    banner can span micro-batches), so they are exactly the batch plans
    on the at-rest state, the maintain_incremental_pairs posture."""
    from functools import reduce

    from distributed_video_analytics_flink_spark.operators.dedup import (
        _materialize,
    )
    from distributed_video_analytics_flink_spark.operators.text_analysis import (
        gopher_ok_predicates,
        gopher_symbol_count,
        gopher_token_aggs,
    )

    spark = pages.sparkSession
    # every stage frame is materialized once: the stage counts below
    # are separate actions, and without the pins each would re-run
    # the upstream scan + extraction (r15 review — the docstring
    # promises bodies cross the wire exactly twice)
    pages = _materialize(pages)
    n_pages = pages.count()

    deduped = (
        with_url_columns(pages)
        .groupBy("norm_url")
        .agg(F.min(F.struct("target_uri", "main_text", "host")).alias("r"))
        .select("norm_url", "r.target_uri", "r.main_text", "r.host")
    )
    n_after_url_dedup = deduped.count()

    block = spark.createDataFrame(
        [(h,) for h in _HOST_BLOCKLIST], "host string"
    )
    gated_host = _materialize(
        deduped.join(F.broadcast(block), "host", "left_anti")
    )
    n_after_host_gate = gated_host.count()

    # Gopher gate on the EXTRACTED text (tokens split at the space
    # and newline separators main_text is built from) — the SHARED
    # published-threshold pieces, one copy with text_gopher_rules
    tok = gated_host.select(
        "norm_url", F.explode(F.split("main_text", "[ \n]")).alias("token")
    )
    ts = tok.groupBy("norm_url").agg(*gopher_token_aggs("token"))
    survivors = _materialize(
        gated_host.withColumn("n_sym", gopher_symbol_count("main_text"))
        .join(ts, "norm_url")
        .filter(reduce(lambda a, b: a & b, gopher_ok_predicates().values()))
        .select("norm_url", "main_text")
    )
    n_after_gopher = survivors.count()

    # corpus-wide line rewrite over the survivors (newline lines); a
    # line is boiler when it appears in >= K distinct DOCUMENTS (per
    # the constant's contract — an intra-document repeat alone is
    # content, not boilerplate; r15 review)
    lines = _materialize(
        survivors.select(
            "norm_url",
            F.posexplode(F.split("main_text", "\n")).alias("i", "line"),
        ).select("norm_url", "i", F.md5("line").alias("fp"))
    )
    boiler = (
        lines.groupBy("fp")
        .agg(F.countDistinct("norm_url").alias("c"))
        .filter(F.col("c") >= _WEB_LINE_DUP_K)
        .select("fp")
    )
    n_boiler_dropped = lines.join(boiler, "fp").count()
    kept_idx = (
        lines.join(boiler, "fp", "left_anti")
        .groupBy("norm_url")
        .agg(F.sort_array(F.collect_list("i")).alias("ks"))
    )
    clean = (
        survivors.join(kept_idx, "norm_url", "left")
        .withColumn("ls", F.split("main_text", "\n"))
        .withColumn(
            "clean",
            F.expr(
                "array_join(transform("
                "coalesce(ks, cast(array() as array<int>)),"
                " i -> element_at(ls, i + 1)), '\n')"
            ),
        )
        .select(
            "norm_url",
            "clean",
            F.size(F.split("clean", "[ \n]")).cast("long").alias("n_tok"),
        )
    )
    agg = clean.agg(
        # coalesce (r16 review): zero survivors is a realistic state for
        # the stream twin's accumulated pages (all short/nav pages so
        # far) — SUM over no rows is NULL, and the n_bins arithmetic
        # below must see 0, not None
        F.coalesce(F.sum("n_tok"), F.lit(0)).alias("clean_tokens"),
        F.md5(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("norm_url", "clean"))
                ),
                F.lit("").cast("string"),
                lambda acc, s: F.when(acc == "", s["clean"]).otherwise(
                    F.concat(acc, F.lit("\n\n"), s["clean"])
                ),
            )
        ).alias("corpus_md5"),
    ).collect()[0]  # bounded: one accounting row

    return (
        n_pages,
        n_after_url_dedup,
        n_after_host_gate,
        n_after_gopher,
        n_boiler_dropped,
        agg["clean_tokens"],
        (agg["clean_tokens"] - 1) // _WEB_PACK_BUDGET + 1,
        agg["corpus_md5"],
    )


WEB_PIPELINE_ROW_SCHEMA = (
    "n_pages long, n_after_url_dedup long, n_after_host_gate long,"
    " n_after_gopher long, n_boiler_lines_dropped long,"
    " clean_tokens long, n_bins long, corpus_md5 string"
)


@query(
    "corpus_web_pipeline",
    oracle="""
    SELECT CAST(6 AS BIGINT) AS n_pages,
           CAST(5 AS BIGINT) AS n_after_url_dedup,
           CAST(4 AS BIGINT) AS n_after_host_gate,
           CAST(2 AS BIGINT) AS n_after_gopher,
           CAST(2 AS BIGINT) AS n_boiler_lines_dropped,
           CAST(91 AS BIGINT) AS clean_tokens,
           CAST(3 AS BIGINT) AS n_bins,
           '3a3ed64e219e3c870eb6a453dd5d09b2' AS corpus_md5
    """,
)
def corpus_web_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WEB-PIPELINE CAPSTONE (VERDICT r14 #3): every r13/r14 web
    stage composed into one accounting row over purpose-built WARC
    segments — WARC ingest -> HTML boilerplate extraction
    (html_extract_columns, the jusText-family block classifier) -> URL
    normalization dedup (with_url_columns) -> broadcast host blocklist
    gate -> Gopher rule gate (the exact published thresholds, on the
    EXTRACTED text) -> corpus-wide line-level rewrite (a newline-line
    repeated across >= 2 surviving docs is boiler; documents are
    rebuilt without it) -> fixed-budget sequence packing. Every stage
    population is VALUES-pinned, plus the md5 of the final concatenated
    clean corpus — the exact bytes a training pipeline would ship.

    The fixture encodes one kill per stage: a URL-variant twin (folds),
    a tracker-host page (blocked), a short page (Gopher word count), a
    nav-only page (empty extraction), and a cookie banner shared by
    three pages of which only two survive to the line stage — so the
    banner count among survivors (2) also proves the stage ORDER.

    100 TB shape: each stage keeps its standalone query's plan — the
    extraction is a zero-shuffle scan projection; url dedup groups on
    the canonical short-string key; the blocklist is a broadcast
    anti-join at the scan edge; the Gopher gate is one explode +
    partial-aggregable groupBy; the line stage shuffles (doc, line-pos,
    16-byte fp) rows only, bodies rejoin exactly once (the
    text_line_rewrite argument); packing needs one window over the
    surviving docs. Bodies cross the wire exactly twice end to end:
    the Arrow hop out of the WARC reader and the one rejoin."""
    import os
    import shutil
    import tempfile

    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )

    register_sources(spark)
    root = tempfile.mkdtemp(prefix="dvafs-webpipe-")
    try:
        seg_dir = os.path.join(root, "segments")
        os.makedirs(seg_dir)
        for name, blob in _pipeline_fixture_segments().items():
            with open(os.path.join(seg_dir, name), "wb") as fh:
                fh.write(blob)

        row = web_pipeline_accounting_row(
            web_pipeline_extracted_pages(spark.read.format("warc").load(seg_dir))
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame([row], WEB_PIPELINE_ROW_SCHEMA)


@query(
    "corpus_web_pipeline_stream_parity",
    oracle="""
    SELECT CAST(6 AS BIGINT) AS n_pages,
           CAST(5 AS BIGINT) AS n_after_url_dedup,
           CAST(4 AS BIGINT) AS n_after_host_gate,
           CAST(2 AS BIGINT) AS n_after_gopher,
           CAST(2 AS BIGINT) AS n_boiler_lines_dropped,
           CAST(91 AS BIGINT) AS clean_tokens,
           CAST(3 AS BIGINT) AS n_bins,
           '3a3ed64e219e3c870eb6a453dd5d09b2' AS corpus_md5,
           TRUE AS stream_equals_batch
    """,
)
def corpus_web_pipeline_stream_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING twin of the web capstone, driver-checked (r16, VERDICT
    r15 #8): the same WARC fixture segments ARRIVE INCREMENTALLY — each
    segment is written to the watched directory only after the previous
    micro-batch drains, so the URL-duplicate pair and the shared cookie
    banner genuinely SPAN micro-batches (the source's append-only
    directory contract, exactly how a crawl feeds it; deliberately not a
    maxFilesPerTrigger knob — see FileStreamReader.latestOffset). The
    per-record head runs in-stream
    (streaming/corpus.py::stream_web_pipeline — the shared
    web_pipeline_extracted_pages projection), micro-batches append to
    the at-rest pages table, and the corpus-wide stages run over the
    accumulated state (web_pipeline_accounting — the same
    web_pipeline_accounting_row the batch capstone collapses to). The
    output row is the STREAM-derived accounting plus a
    ``stream_equals_batch`` boolean comparing it field-for-field to the
    batch capstone's row computed in-query; the oracle pins both the
    populations AND the parity TRUE, so a head/stage drift between the
    two drivers fails the round.

    100 TB shape: the head is a scan projection inside each micro-batch
    (no stream-side shuffle); state I/O per batch is an append of the
    batch's extracted pages only; the corpus-wide stages are the batch
    plans on at-rest state, run on demand (per-batch maintenance of the
    URL-dedup/line-boiler aggregates would be the
    maintain_incremental_pairs pattern — recompute-on-read is the
    honest baseline priced here)."""
    import os
    import shutil
    import tempfile

    from distributed_video_analytics_flink_spark.sources.datasources import (
        register_sources,
    )
    from distributed_video_analytics_flink_spark.streaming.corpus import (
        stream_web_pipeline,
        web_pipeline_accounting,
    )

    register_sources(spark)
    root = tempfile.mkdtemp(prefix="dvafs-webpipe-stream-")
    try:
        seg_dir = os.path.join(root, "segments")
        os.makedirs(seg_dir)
        raw = spark.readStream.format("warc").load(seg_dir)
        q = stream_web_pipeline(
            raw, os.path.join(root, "state"), os.path.join(root, "ck")
        )
        try:
            # incremental arrival: drain between segment writes so the
            # corpus-wide stages really see multi-batch state
            for name, blob in _pipeline_fixture_segments().items():
                with open(os.path.join(seg_dir, name), "wb") as fh:
                    fh.write(blob)
                q.processAllAvailable()
        finally:
            q.stop()

        stream_row = tuple(
            web_pipeline_accounting(spark, os.path.join(root, "state"))
            .collect()[0]  # bounded: one accounting row
        )
        batch_row = web_pipeline_accounting_row(
            web_pipeline_extracted_pages(spark.read.format("warc").load(seg_dir))
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [stream_row + (stream_row == batch_row,)],
        WEB_PIPELINE_ROW_SCHEMA + ", stream_equals_batch boolean",
    )
