"""Text-analysis operators over ``documents``: language-ID heuristic,
quality scoring, token counting, document fingerprinting, corpus term stats.

All expressions are JVM-side built-ins (split/explode/regexp/md5 — no Python
UDFs), so they whole-stage-codegen and scale linearly; the only shuffles are
the final groupBys on low-cardinality keys. Ratios are computed as exact
integer counts divided once at the end (deterministic across engines).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_video_analytics_flink_spark.operators.registry import query
from distributed_video_analytics_flink_spark.sources.tables import load_table

# tiny English stopword list for the n-gram/stopword heuristics
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_STOP_SQL = "('" + "','".join(_STOPWORDS) + "')"


@query(
    "text_langid",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    stats AS (
      SELECT doc_id, ANY_VALUE(lang) AS lang, COUNT(*) AS n_tok,
             COUNT(*) FILTER (WHERE token IN {_STOP_SQL}) AS n_stop
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id, lang,
           CASE WHEN CAST(n_stop AS DOUBLE) / n_tok >= 0.05 THEN 'en'
                ELSE 'other' END AS predicted_lang,
           CAST(n_stop AS DOUBLE) / n_tok AS stopword_ratio
    FROM stats
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English-stopword density (an n-gram-profile
    classifier degenerates to this with a 1-gram profile of function words).
    Integer counts divided once => deterministic ratios."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
    stats = tok.groupBy("doc_id").agg(
        F.first("lang").alias("lang"),
        F.count(F.lit(1)).alias("n_tok"),
        F.count(F.when(F.col("token").isin(*_STOPWORDS), 1)).alias("n_stop"),
    )
    ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    return stats.select(
        "doc_id",
        "lang",
        F.when(ratio >= 0.05, "en").otherwise("other").alias("predicted_lang"),
        ratio.alias("stopword_ratio"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tstats AS (
      SELECT doc_id, COUNT(*) AS n_tok,
             SUM(length(token)) AS sum_tok_len,
             COUNT(*) FILTER (WHERE token IN {_STOP_SQL}) AS n_stop,
             COUNT(DISTINCT token) AS n_distinct
      FROM tok GROUP BY doc_id
    )
    SELECT d.doc_id, d.n_chars, t.n_tok,
           CAST(t.sum_tok_len AS DOUBLE) / t.n_tok AS avg_token_len,
           CAST(t.n_distinct AS DOUBLE) / t.n_tok AS distinct_ratio,
           CAST(t.n_stop AS DOUBLE) / t.n_tok AS stopword_ratio,
           CASE WHEN t.n_tok >= 20
                 AND CAST(t.sum_tok_len AS DOUBLE) / t.n_tok BETWEEN 2 AND 12
                 AND CAST(t.n_distinct AS DOUBLE) / t.n_tok >= 0.2
                THEN 1 ELSE 0 END AS passes_quality
    FROM documents d JOIN tstats t ON d.doc_id = t.doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean token length, type/token ratio,
    stopword density, and a pass/fail gate — the standard pre-training
    corpus filters, all as codegen'd integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tstats = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.length("token")).alias("sum_tok_len"),
        F.count(F.when(F.col("token").isin(*_STOPWORDS), 1)).alias("n_stop"),
        F.countDistinct("token").alias("n_distinct"),
    )
    avg_len = F.col("sum_tok_len").cast("double") / F.col("n_tok")
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_tok")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    return docs.select("doc_id", "n_chars").join(tstats, "doc_id").select(
        "doc_id",
        "n_chars",
        "n_tok",
        avg_len.alias("avg_token_len"),
        distinct_ratio.alias("distinct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        F.when(
            (F.col("n_tok") >= 20) & avg_len.between(2, 12) & (distinct_ratio >= 0.2), 1
        )
        .otherwise(0)
        .alias("passes_quality"),
    )


@query(
    "text_token_count",
    oracle=r"""
    -- CASTs: DuckDB SUM(int) is HUGEINT (pandas float) and would
    -- hash-mismatch Spark's bigint at the driver
    SELECT source,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
                AS BIGINT) AS re_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    lexer ([a-z]+ | digits | single punctuation) — the cheap token-budget
    estimators a 100 TB corpus pipeline runs before training."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("ws_tokens"),
        F.sum(
            F.size(F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        ).alias("re_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text))) AS fingerprint,
           substring(md5(lower(trim(text))), 1, 8) AS shard_key
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: normalized-content digest + an 8-hex-char
    shard key — the identity used for cross-shard dedup joins (digests
    shuffle; bodies never do)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("shard_key")
    )


@query(
    "text_term_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token,
           COUNT(*) AS total_freq,
           COUNT(DISTINCT doc_id) AS doc_freq
    FROM tok GROUP BY token
    ORDER BY total_freq DESC, token ASC
    LIMIT 20
    """,
)
def text_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics (tf / df — the aggregates behind tf-idf):
    explode + two-level aggregation with partial combine; top-20 terms."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("total_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("total_freq"), F.asc("token"))
        .limit(20)
    )


@query(
    "text_tfidf_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)
               AS tfidf_ratio
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, token, tfidf_ratio,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf_ratio DESC, token ASC) AS rn
      FROM scored
    )
    SELECT doc_id, token, tfidf_ratio
    FROM ranked WHERE rn <= 3 AND doc_id % 10 = 0
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms by tf * (N / df) — the
    rational tf-idf form (a log() idf would differ across libm builds; the
    ratio is one exact IEEE division in both engines). The df table is tiny
    relative to the corpus and broadcasts UNHINTED (r17, VERDICT r16 #2
    audit): the planner/AQE picks the broadcast from its runtime size at
    test scale and degrades to a shuffle join once the Zipf vocabulary
    outgrows the threshold — a forced hint would OOM the driver instead.
    The tf side never re-shuffles the token explode. The standard
    keyword-extraction / topic-tagging pass of a corpus pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar; a literal keeps the plan join-free on N
    scored = tf.join(df, "token").select(
        "doc_id",
        "token",
        (
            F.col("tf").cast("double") * F.lit(float(n_docs)) / F.col("df").cast("double")
        ).alias("tfidf_ratio"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf_ratio"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 3) & (F.col("doc_id") % 10 == 0))
        .select("doc_id", "token", "tfidf_ratio")
    )


@query(
    "text_chunk_documents",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS w, len(string_split(text, ' ')) AS n
      FROM documents WHERE doc_id % 20 = 0
    )
    SELECT doc_id, CAST((s.start - 1) / 40 AS BIGINT) AS chunk_id,
           array_to_string(list_slice(w, s.start, s.start + 49), ' ') AS chunk_text,
           least(50, n - s.start + 1) AS chunk_tokens
    FROM tok, LATERAL (SELECT unnest(generate_series(1, n, 40)) AS start) s
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size chunking with overlap (50-token windows, stride 40) — the
    standard LLM-ingest split. Pure JVM array ops: tokenize once into a
    projected column, explode the stride sequence, slice per chunk. Scales
    embarrassingly (per-row expansion, no shuffle); at 100 TB the output
    re-partitions by hash(doc_id, chunk_id) for downstream embedding."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    tok = docs.select(
        "doc_id", F.split("text", " ").alias("w"), F.size(F.split("text", " ")).alias("n")
    )
    return (
        tok.select(
            "doc_id",
            "w",
            "n",
            F.explode(F.expr("sequence(1, n, 40)")).alias("start"),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / 40).cast("long").alias("chunk_id"),
            F.concat_ws(" ", F.expr("slice(w, start, 50)")).alias("chunk_text"),
            F.least(F.lit(50), F.col("n") - F.col("start") + 1).alias("chunk_tokens"),
        )
    )


@query(
    "text_scrub_pii",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(text,
                 '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                 '[0-9][0-9][0-9]+', '<NUM>', 'g')) AS scrubbed_md5,
           len(regexp_extract_all(text, '[0-9][0-9][0-9]+')) AS n_long_numbers
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (training-corpus hygiene): email-shaped spans and
    3+-digit runs become placeholder tokens; emits the scrubbed-content
    digest plus a per-document redaction count. regexp_replace is global in
    both engines and the patterns avoid dialect-specific syntax, so digests
    hash-match. Row-local — scales with zero shuffles."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), r"[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
        r"[0-9][0-9][0-9]+",
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.size(F.expr(r"regexp_extract_all(text, '[0-9][0-9][0-9]+', 0)")).alias(
            "n_long_numbers"
        ),
    )


@query(
    "text_repetition_stats",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, n - 1),
                    i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS gram
      FROM base
    ),
    bicnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM bi GROUP BY 1, 2),
    bistats AS (
      SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_bi
      FROM bicnt GROUP BY doc_id
    ),
    tri AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, n - 2),
                    i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS gram
      FROM base
    ),
    tristats AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
             COUNT(DISTINCT gram) AS d_tri
      FROM tri GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.top_c AS DOUBLE) / b.n_bi AS top_bigram_frac,
           CAST(t.n_tri - t.d_tri AS DOUBLE) / t.n_tri AS dup_trigram_frac
    FROM bistats b JOIN tristats t USING (doc_id)
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher-rules family): per document,
    the token fraction covered by the single most frequent bigram and the
    fraction of duplicate trigrams. Boilerplate, keyword-stuffed, and
    looping generator text score high on both; corpus curation drops the
    tail.

    Shape: n-grams come from ``transform(sequence(...))`` over the split
    array — JVM codegen, no Python — then two partial-aggregable groupBys
    keyed on doc_id(+gram). Grams shuffle as short strings; at 100 TB
    swap the gram text for ``xxhash64(gram)`` to shrink shuffle width
    (kept as text here so the DuckDB oracle is hash-portable)."""
    from distributed_video_analytics_flink_spark.sources.tables import (
        spread_small_scan,
    )

    # spread the token/shingle stage over cores when the scan is
    # one tiny split (r18; measured 1.55 -> 1.27 s min interleaved,
    # no-op at scale - sources/tables.py::spread_small_scan)
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 3
    )
    bi = base.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(t) - 1), i -> concat_ws(' ', slice(t, i, 2)))")
        ).alias("gram"),
    )
    bistats = (
        bi.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_bi"))
    )
    tri = base.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(t) - 2), i -> concat_ws(' ', slice(t, i, 3)))")
        ).alias("gram"),
    )
    tristats = tri.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tri"), F.countDistinct("gram").alias("d_tri")
    )
    return bistats.join(tristats, "doc_id").select(
        "doc_id",
        (F.col("top_c").cast("double") / F.col("n_bi")).alias("top_bigram_frac"),
        ((F.col("n_tri") - F.col("d_tri")).cast("double") / F.col("n_tri")).alias(
            "dup_trigram_frac"
        ),
    )


@query(
    "text_unigram_lm_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS total FROM tok),
    per_doc AS (
      SELECT t.doc_id, COUNT(*) AS n_tok,
             SUM(tf.cnt) AS freq_sum,
             COUNT(*) FILTER (WHERE tf.cnt <= 2) AS n_rare
      FROM tok t JOIN tf ON t.token = tf.token
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tok,
           CAST(freq_sum AS DOUBLE) / n_tok / (SELECT total FROM n)
               AS mean_token_prob,
           CAST(n_rare AS DOUBLE) / n_tok AS rare_token_ratio
    FROM per_doc
    """,
)
def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model document score — the likelihood-under-corpus
    signal behind perplexity filtering (e.g. CCNet-style quality buckets),
    in the engine's exact-rational form: per-doc mean token probability
    (SUM of integer corpus counts, divided once) and rare-token density
    (corpus count <= 2 — the OOV/typo proxy). Deliberately no log():
    libm builds differ in the last ulp and would break the cross-engine
    hash (same stance as the rational tf-idf form); the log of a ratio of
    these integers is a monotone transform downstream consumers can apply.

    Scale shape: the unigram table is a token-keyed aggregate (Zipf: small
    relative to the corpus) joined back to the exploded token stream on the
    token key — at 100 TB broadcast the high-frequency head and
    shuffle-join the long tail, or pre-bucket both sides by token."""
    per_doc, total = _unigram_doc_stats(spark, sf_dir)
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tok",
        (F.col("freq_sum").cast("double") / F.col("n_tok") / F.col("total")).alias(
            "mean_token_prob"
        ),
        (F.col("n_rare").cast("double") / F.col("n_tok")).alias("rare_token_ratio"),
    )


def _unigram_doc_stats(spark: SparkSession, sf_dir: str):
    """(per_doc, total): the unigram-LM fit+score core shared by
    text_unigram_lm_score and text_ccnet_ppl_buckets (r16) — per-doc
    token count, corpus-frequency sum, rare-token count (plus lang for
    the per-language bucketing), and the 1-row corpus total."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # corpus token total as a broadcast 1-row aggregate of the (small) tf
    # table — keeps the plan lazy; no extra pass over the exploded stream
    total = tf.agg(F.sum("cnt").alias("total"))
    per_doc = (
        # UNHINTED vocabulary join (r17, VERDICT r16 #2 audit): the tf
        # table is corpus-derived — the planner/AQE broadcasts it at test
        # scale from its runtime size and falls back to a shuffle join
        # once the Zipf vocabulary outgrows the threshold; a forced hint
        # could not degrade.
        tok.join(tf, "token")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("cnt").alias("freq_sum"),
            F.count(F.when(F.col("cnt") <= 2, 1)).alias("n_rare"),
        )
    )
    return per_doc, total


@query(
    "text_ccnet_ppl_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ),
    per_doc AS (
      SELECT t.doc_id, ANY_VALUE(t.lang) AS lang,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(tf.cnt) AS BIGINT) AS freq_sum
      FROM tok t JOIN tf ON t.token = tf.token
      GROUP BY t.doc_id
    ),
    scored AS (
      SELECT doc_id, lang, n_tok,
             CAST(CAST(freq_sum AS HUGEINT) * 1000000 // n_tok AS BIGINT)
                 AS mean_freq_micro
      FROM per_doc
    ),
    b AS (
      SELECT *, NTILE(3) OVER (PARTITION BY lang
                               ORDER BY mean_freq_micro DESC, doc_id ASC)
                    AS tercile
      FROM scored
    )
    SELECT doc_id, lang, n_tok, mean_freq_micro,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket,
           tercile <= 2 AS kept
    FROM b
    """,
)
def text_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): rank each language's documents by
    likelihood-under-corpus and split into head/middle/tail terciles;
    CCNet trains on head+middle and drops the tail (``kept``). The
    published recipe scores with a KenLM 5-gram; the engine's proxy is
    the shared unigram-LM fit (_unigram_doc_stats — one implementation
    with text_unigram_lm_score) in exact micro-units: mean_freq_micro =
    (freq_sum * 1e6) div n_tok, integral so both engines order and
    bucket identically (NTILE over a total order — score DESC, doc_id
    ASC — is deterministic on both). A real deployment swaps the scorer
    column; the bucketing plan is scorer-independent.

    100 TB shape: the fit is the Zipf-bounded token aggregate; the
    bucketing is ONE window partitioned by lang (per-language work,
    never a global sort) — the curation_quality_percentile shape with a
    fluency signal instead of a heuristic score."""
    per_doc, _total = _unigram_doc_stats(spark, sf_dir)
    # 128-bit multiply (r16 review): at 100 TB a doc's freq_sum can pass
    # 9.2e12, so * 1e6 overflows BIGINT — decimal(38,0) / HUGEINT per the
    # module discipline; the quotient fits BIGINT again
    scored = per_doc.select(
        "doc_id",
        "lang",
        "n_tok",
        F.expr(
            "cast(cast(freq_sum as decimal(38,0)) * 1000000 div n_tok"
            " as bigint)"
        ).alias("mean_freq_micro"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("mean_freq_micro"), F.asc("doc_id")
    )
    return scored.withColumn("tercile", F.ntile(3).over(w)).select(
        "doc_id",
        "lang",
        "n_tok",
        "mean_freq_micro",
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
        (F.col("tercile") <= 2).alias("kept"),
    )


@query(
    "text_bigram_topk",
    oracle="""
    WITH arr AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(2, len(t)),
                                   i -> t[i - 1] || ' ' || t[i])) AS bigram
      FROM arr
    )
    SELECT bigram, COUNT(*) AS total_freq,
           COUNT(DISTINCT doc_id) AS doc_freq
    FROM bi GROUP BY bigram
    ORDER BY total_freq DESC, bigram ASC
    LIMIT 25
    """,
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-25 bigrams (collocation mining / boilerplate
    discovery). Bigrams are assembled array-side with one HOF transform
    per document (interpreted, but amortized over the whole row — NOT
    per-pair work) and exploded once; the aggregate is a token-keyed
    count with partial combine, and the top-k is a TakeOrdered over
    (count, bigram) — no global sort materialized. Total order via the
    bigram tie-break keeps the LIMIT deterministic."""
    from distributed_video_analytics_flink_spark.sources.tables import (
        spread_small_scan,
    )

    # spread the token/shingle stage over cores when the scan is
    # one tiny split (r18; measured 1.22 -> 0.93 s min interleaved,
    # no-op at scale - sources/tables.py::spread_small_scan)
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    # pre-project the words array: split() inside the lambda body is not
    # hoisted and would re-tokenize per bigram; the if() guard keeps
    # 1-token docs at an empty list (Spark's sequence(1, 0) descends and
    # slice() throws on index 0 — DuckDB's generate_series is empty)
    base = docs.select("doc_id", F.split("text", " ").alias("t"))
    bi = base.select(
        "doc_id",
        F.explode(
            F.expr("if(size(t) < 2, array(), transform(sequence(1, size(t) - 1), "
                   "i -> concat_ws(' ', slice(t, i, 2))))")
        ).alias("bigram"),
    )
    return (
        bi.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("total_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("total_freq"), F.asc("bigram"))
        .limit(25)
    )


def _bpe_count_oracle() -> str:
    from distributed_video_analytics_flink_spark.functions.bpe import (
        bpe_token_count_sql,
    )

    return f"""
    WITH enc AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tok,
             {bpe_token_count_sql('text')} AS bpe_tok
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws_tok) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe_tok) AS BIGINT) AS bpe_tokens
    FROM enc GROUP BY source
    """


@query("text_bpe_token_count", oracle=_bpe_count_oracle())
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-EXACT token counting (VERDICT r12 #2): per-source
    corpus token budgets under a real byte-pair encoding — the pinned
    48-merge table in functions/bpe.py — next to the whitespace estimate
    the other curation queries budget with. The two diverge materially
    (BPE sees sub-word units: `filter` is 5 tokens, `customer` is 1), so
    shard and mixture arithmetic keyed on whitespace counts is wrong in
    exactly the way this query measures.

    The encoder is a chain of literal string replaces (exact BPE by the
    rank-order argument in functions/bpe.py, pinned against an
    independent priority-queue encoder by tests/test_bpe.py) — pure
    Catalyst, whole-stage codegen, no UDF; the only shuffle is the final
    low-cardinality groupBy. The oracle replays the identical replace
    chain in DuckDB, so a drift in the merge table, the symbol framing,
    or either engine's replace semantics hash-mismatches the round."""
    from distributed_video_analytics_flink_spark.functions.bpe import (
        bpe_token_count_col,
    )

    from distributed_video_analytics_flink_spark.sources.tables import (
        spread_small_scan,
    )

    # spread the token/shingle stage over cores when the scan is
    # one tiny split (r18; measured 1.51 -> 0.75 s min interleaved,
    # no-op at scale - sources/tables.py::spread_small_scan)
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "source",
            F.size(F.split("text", " ")).cast("long").alias("ws_tok"),
            bpe_token_count_col("text").alias("bpe_tok"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tok").alias("ws_tokens"),
            F.sum("bpe_tok").alias("bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Hashed-feature linear classifier (the fasttext-shaped quality filter every
# production corpus pipeline runs: CCNet/LLaMA-style "does this look like
# reference text" gating). Features are the HASHING TRICK — unigrams and
# word-bigrams hashed into a fixed bucket space, so the model is a dense
# weight vector of _CLS_BUCKETS integers regardless of vocabulary size, and
# scoring is an embarrassingly-parallel projection (NO shuffle at all).
# Weights here are formula-derived micro-unit integers (bucket * Knuth mod
# 2^20, centered) — deterministic across engines; a TRAINED table drops in
# by replacing _cls_weight_sql since scoring never assumes anything about
# the values. Training itself is text_classifier_train_step below.
_CLS_BUCKETS = 256
_CLS_MUL = 2654435761  # Knuth multiplicative constant (public domain)
_CLS_MODW = 1 << 20
_CLS_HALF = 1 << 19


def _cls_weight_sql(tok_expr: str, engine: str) -> str:
    """Micro-unit weight of one token expression's hash bucket; identical
    signed-64 arithmetic in both engines ((b%B)*MUL < 2^40, no overflow).
    ``engine`` picks the hex-fold dialect (Spark conv vs DuckDB 0x-cast,
    the module-header contract in operators/dedup.py)."""
    if engine == "spark":
        b = f"cast(conv(substring(md5({tok_expr}), 1, 4), 16, 10) as bigint)"
    else:
        b = f"('0x' || substring(md5({tok_expr}), 1, 4))::BIGINT"
    return f"((({b} % {_CLS_BUCKETS}) * {_CLS_MUL}) % {_CLS_MODW} - {_CLS_HALF})"


def _cls_score_sql(engine: str) -> str:
    """Per-document classifier score (micro-units): unigram + bigram hashed
    weights summed. Expects a pre-projected lowercase token array ``w``
    (Spark) / computes it inline (DuckDB). Single-token docs have no
    bigrams; Spark's sequence(1, 0) DESCENDS, so the bigram leg must be
    if()-guarded (the _SPARK_SHINGLES lesson in operators/dedup.py)."""
    if engine == "spark":
        uni = _cls_weight_sql("t", "spark")
        big = _cls_weight_sql("concat(element_at(w, i), '_', element_at(w, i + 1))", "spark")
        return (
            f"aggregate(transform(w, t -> {uni}), cast(0 as bigint), (a, x) -> a + x)"
            f" + if(size(w) < 2, cast(0 as bigint),"
            f" aggregate(transform(sequence(1, size(w) - 1), i -> {big}),"
            f" cast(0 as bigint), (a, x) -> a + x))"
        )
    uni = _cls_weight_sql("t", "duck")
    big = _cls_weight_sql("(w[i] || '_' || w[i + 1])", "duck")
    return (
        f"CAST(list_sum(list_transform(w, t -> {uni})) AS BIGINT)"
        f" + CAST(COALESCE(list_sum(list_transform("
        f"generate_series(1, len(w) - 1), i -> {big})), 0) AS BIGINT)"
    )


@query(
    "text_quality_classifier",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           {_cls_score_sql('duck')} AS score_micro,
           ({_cls_score_sql('duck')} > 0) AS keep
    FROM t
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality classifier: per-document score =
    sum of micro-unit integer weights of the unigram and word-bigram
    hash buckets (the fasttext hashing trick — fixed model size, any
    vocabulary), keep = score > 0.

    Plan shape at 100 TB: a pure projection — transform/aggregate over
    the pre-split token array inside whole-stage codegen, ZERO shuffles,
    zero explodes; throughput is scan-bound and scales with executors
    linearly. The weight table is formula-derived here (deterministic
    cross-engine contract); swapping in trained weights keeps the exact
    same plan because scoring is weight-value-agnostic."""
    from distributed_video_analytics_flink_spark.sources.tables import (
        spread_small_scan,
    )

    # spread the token/shingle stage over cores when the scan is
    # one tiny split (r18; measured 0.77 -> 0.30 s min interleaved,
    # no-op at scale - sources/tables.py::spread_small_scan)
    docs = spread_small_scan(load_table(spark, sf_dir, "documents")).withColumn(
        "w", F.split(F.lower("text"), " ")
    )
    score = F.expr(_cls_score_sql("spark"))
    return docs.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        score.alias("score_micro"),
        (score > 0).alias("keep"),
    )


@query(
    "text_classifier_train_step",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w
               FROM documents),
    scored AS (
      SELECT doc_id, w,
             (CASE WHEN lang = 'en' THEN 1 ELSE -1 END) AS y,
             (CASE WHEN {_cls_score_sql('duck')} > 0 THEN 1 ELSE -1 END) AS p
      FROM t
    ),
    hits AS (
      SELECT (('0x' || substring(md5(tok), 1, 4))::BIGINT % {_CLS_BUCKETS})
               AS bucket,
             (y - p) AS e
      FROM (SELECT w, y, p, unnest(w) AS tok FROM scored WHERE y != p)
    )
    SELECT bucket,
           CAST(SUM(e) AS BIGINT) AS grad,
           CAST(COUNT(*) AS BIGINT) AS n_updates
    FROM hits GROUP BY bucket
    """,
)
def text_classifier_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One batch perceptron update for the hashed classifier —
    DISTRIBUTED TRAINING AS AGGREGATION: per document compute the
    integer error e = y - sign(score) in {{-2, 0, 2}} (labels derived
    from the lang column: en vs rest), then every (token, e) occurrence
    contributes e to its unigram bucket's gradient. The new weight
    table is w' = w + lr * grad — a {bq}-row broadcast, closing the
    train/score loop without any driver-side model state.

    Plan shape at 100 TB: the token/bigram HASHING runs exactly once per
    document — the per-token unigram bucket array and per-position
    bigram bucket array are projected in ONE pass and pinned by a narrow
    materialization (ints only, a few bytes per token; the
    dedup.py::_materialize seam — checkpoint/parquet stage on a
    cluster). r17 measurement: the previous form computed the score
    expression as one giant md5-lambda projection, and Catalyst's filter
    pushdown duplicated it — the full unigram+bigram md5 scoring ran
    once in the pushed Filter and again in the Project feeding the
    explode, plus a third md5 per surviving token to re-derive its
    bucket (plans/r17/text_classifier_train_step_before.txt, nodes 2, 4
    and 6). Scoring above the barrier is a cheap integer fold over the
    bucket arrays (the md5s are already paid), so the residual
    filter/project duplication costs integer adds, not hashing. Only
    MISCLASSIFIED documents survive to the explode (e = 0 rows are
    filtered pre-explode — as the model converges, per-step work
    shrinks toward zero instead of staying O(corpus tokens)), and the
    exploded rows ARE the precomputed buckets; the gradient is then one
    groupBy on {bq} buckets — partial aggregation (map-side combine)
    collapses each task's contribution to <= {bq} rows before the
    shuffle, so the wire cost is O(tasks * buckets), independent of
    corpus size. Exact integer semantics end-to-end (no float gradient
    nondeterminism across engines).""".format(bq=_CLS_BUCKETS)
    from distributed_video_analytics_flink_spark.operators.dedup import (
        _materialize,
    )
    from distributed_video_analytics_flink_spark.sources.tables import (
        spread_small_scan,
    )

    # spread the md5-heavy projection over the cluster when the scan
    # yields fewer tasks than cores (r18, VERDICT r17 #2: one tiny local
    # file -> one task -> the hash stage AND the checkpoint barrier ran
    # single-threaded; measured 2.06 -> 0.60 s median interleaved). At
    # scale the scan's own splits dominate and no shuffle is added.
    docs = spread_small_scan(load_table(spark, sf_dir, "documents")).withColumn(
        "w", F.split(F.lower("text"), " ")
    )
    # hash buckets computed ONCE per token / bigram position (md5 is the
    # dominant cost of this query); identical arithmetic to
    # _cls_weight_sql's bucket term
    b_of = "cast(conv(substring(md5({t}), 1, 4), 16, 10) as bigint) % {m}"
    uni_b = b_of.format(t="t", m=_CLS_BUCKETS)
    big_b = b_of.format(
        t="concat(element_at(w, i), '_', element_at(w, i + 1))",
        m=_CLS_BUCKETS,
    )
    y = F.when(F.col("lang") == "en", 1).otherwise(-1)
    feats = _materialize(
        docs.select(
            y.alias("y"),
            F.expr(f"transform(w, t -> {uni_b})").alias("wb"),
            # sequence(1, 0) DESCENDS in Spark — guard short docs to an
            # empty bigram array (the _cls_score_sql lesson); the fold
            # over array() is 0, matching the score's if()-guard
            F.expr(
                "if(size(w) < 2, array(),"
                f" transform(sequence(1, size(w) - 1), i -> {big_b}))"
            ).alias("bb"),
        )
    )
    # weight fold over the precomputed buckets: (b * MUL) % MODW - HALF
    # is _cls_weight_sql with the bucket term already reduced mod B
    wsum = (
        "aggregate(transform({c}, b -> (b * {mul}) % {mod} - {half}),"
        " cast(0 as bigint), (a, x) -> a + x)"
    )
    score = F.expr(
        wsum.format(c="wb", mul=_CLS_MUL, mod=_CLS_MODW, half=_CLS_HALF)
        + " + "
        + wsum.format(c="bb", mul=_CLS_MUL, mod=_CLS_MODW, half=_CLS_HALF)
    )
    p = F.when(score > 0, 1).otherwise(-1)
    return (
        feats.select((F.col("y") - p).alias("e"), F.explode("wb").alias("bucket"))
        .filter(F.col("e") != 0)
        .groupBy("bucket")
        .agg(
            F.sum("e").alias("grad"),
            F.count(F.lit(1)).alias("n_updates"),
        )
    )


# Multi-epoch training loop: batch perceptron iterated a fixed number of
# epochs (the graph_pagerank_converged pattern applied to model fitting).
# The trained model is the UNIGRAM weight table (256 integers); epochs,
# learning rate, and the init formula are part of the operator's
# deterministic cross-engine contract.
_CLS_EPOCHS = 3
_CLS_LR = 4096


def _train_epochs_oracle() -> str:
    """Nested-CTE replay of the epoch loop: w0 is the formula init, each
    epoch scores via a bucket join, keeps misclassified docs, aggregates
    the integer gradient, and folds it into the next weight table."""
    ctes = [
        f"w0 AS (SELECT b AS bucket, CAST((b * {_CLS_MUL}) % {_CLS_MODW}"
        f" - {_CLS_HALF} AS BIGINT) AS wt FROM range({_CLS_BUCKETS}) t(b))",
        f"""hits AS (
      SELECT doc_id, (CASE WHEN lang = 'en' THEN 1 ELSE -1 END) AS y,
             (('0x' || substring(md5(tok), 1, 4))::BIGINT % {_CLS_BUCKETS})
               AS bucket
      FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents))""",
    ]
    mets = []
    for k in range(1, _CLS_EPOCHS + 1):
        p = k - 1
        ctes.append(
            f"score{k} AS (SELECT doc_id, y, SUM(wt) AS s FROM hits"
            f" JOIN w{p} USING (bucket) GROUP BY doc_id, y)"
        )
        ctes.append(
            f"err{k} AS (SELECT doc_id,"
            f" y - (CASE WHEN s > 0 THEN 1 ELSE -1 END) AS e FROM score{k}"
            f" WHERE y != (CASE WHEN s > 0 THEN 1 ELSE -1 END))"
        )
        ctes.append(
            f"grad{k} AS (SELECT bucket, CAST(SUM(e) AS BIGINT) AS g"
            f" FROM hits JOIN err{k} USING (doc_id) GROUP BY bucket)"
        )
        ctes.append(
            f"w{k} AS (SELECT bucket, wt + {_CLS_LR} * COALESCE(g, 0) AS wt"
            f" FROM w{p} LEFT JOIN grad{k} USING (bucket))"
        )
        mets.append(
            f"SELECT CAST({k} AS BIGINT) AS epoch,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM err{k})"
            f" AS n_misclassified,"
            f" (SELECT CAST(COALESCE(SUM(ABS(g)), 0) AS BIGINT) FROM grad{k})"
            f" AS grad_l1"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + " UNION ALL ".join(mets)


@query("text_classifier_train_epochs", oracle=_train_epochs_oracle())
def text_classifier_train_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-perceptron training iterated {e} epochs over the hashed
    unigram model: per epoch, score every document against the CURRENT
    weight table (256-row broadcast join), keep the misclassified docs,
    aggregate the integer gradient, and fold it into the next table.
    Emits the per-epoch learning trajectory (misclassification count +
    gradient L1) — hash-checked against a DuckDB nested-CTE replay of
    the identical loop, so a drift in scoring, error selection, gradient
    aggregation, or the weight fold in EITHER engine mismatches.

    On the synthetic corpus the trajectory oscillates (every lang shares
    one vocabulary, so the hashed features carry no class signal — no
    linear model can beat majority class); convergence-to-zero on a
    separable corpus is pinned by tests/test_hashed_classifier.py.

    Plan shape at 100 TB: the token->bucket table is materialized ONCE
    (localCheckpoint here; an explicit parquet stage on a cluster) and
    re-joined per epoch — the corpus is scanned once, not once per
    epoch. Model state is 256 integers held on the driver BY DESIGN
    (the model is the broadcast side; collecting it is O(buckets), not
    O(corpus)). Per epoch: one broadcast join + one doc-keyed agg for
    scores, a bounded localCheckpoint of the misclassified set (row
    count <= corpus docs, shrinking as the model fits), and one
    bucket-keyed agg whose map-side combine bounds the shuffle at
    O(tasks x {b}).""".format(e=_CLS_EPOCHS, b=_CLS_BUCKETS)
    docs = load_table(spark, sf_dir, "documents")
    y = F.when(F.col("lang") == "en", 1).otherwise(-1)
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long")
        % _CLS_BUCKETS
    )
    hits = (
        docs.select("doc_id", y.alias("y"), F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .select("doc_id", "y", bucket.alias("bucket"))
        .localCheckpoint()  # corpus scanned once, reused every epoch
    )
    weights = {
        b: (b * _CLS_MUL) % _CLS_MODW - _CLS_HALF for b in range(_CLS_BUCKETS)
    }
    metrics = []
    for epoch in range(1, _CLS_EPOCHS + 1):
        wdf = spark.createDataFrame(
            [(b, w) for b, w in weights.items()], "bucket long, wt long"
        )
        scored = (
            hits.join(F.broadcast(wdf), "bucket")
            .groupBy("doc_id", "y")
            .agg(F.sum("wt").alias("s"))
        )
        p = F.when(F.col("s") > 0, 1).otherwise(-1)
        errs = (
            scored.filter(F.col("y") != p)
            .select("doc_id", (F.col("y") - p).alias("e"))
            .localCheckpoint()  # bounded by misclassified-doc count
        )
        n_mis = errs.count()
        grad = {
            r["bucket"]: r["g"]
            for r in hits.join(errs, "doc_id")
            .groupBy("bucket")
            .agg(F.sum("e").alias("g"))
            .collect()  # bounded: <= _CLS_BUCKETS rows by construction
        }
        metrics.append((epoch, n_mis, sum(abs(g) for g in grad.values())))
        for b, g in grad.items():
            weights[b] += _CLS_LR * g
    return spark.createDataFrame(
        metrics, "epoch long, n_misclassified long, grad_l1 long"
    )


from distributed_video_analytics_flink_spark.operators.dedup import (  # noqa: E402
    _SPARK_SHINGLES,
)


@query(
    "text_ngram_novelty",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
               i -> array_to_string(
                      list_slice(string_split(text, ' '), i, i + 2), ' ')))
                 AS shingle
      FROM documents
    ),
    per_doc AS (SELECT DISTINCT doc_id, shingle FROM sh),
    df AS (
      SELECT shingle, COUNT(*) AS docfreq FROM per_doc GROUP BY shingle
    ),
    nov AS (
      SELECT p.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN d.docfreq = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel
      FROM per_doc p JOIN df d ON p.shingle = d.shingle
      GROUP BY p.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           CAST((n_novel * 10000) // n_shingles AS BIGINT) AS novelty_bp
    FROM nov
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    word-3-gram shingles that appear in NO other document — the
    diversity/boilerplate signal dual to dedup: novelty ~0 means the doc
    is assembled from corpus-common phrasing (template/boilerplate,
    near-dup debris the pair-level passes missed); high novelty plus low
    quality score flags gibberish. Reported in exact basis points
    (integral division — no float at the engine boundary).

    100 TB shape: same skeleton as text_term_stats/tf-idf — shingles
    shuffle once for the docfreq groupBy (partial-aggregable) and once
    for the per-doc rollup; both carry (shingle-hash, counts), never
    document bodies. The df side needs no cap here because it is
    aggregated, not joined row-to-row (contrast dedup_containment's
    df-capped inverted index, where pairs explode); the rejoin is
    per-doc-shingle x its one docfreq row."""
    from distributed_video_analytics_flink_spark.sources.tables import (
        spread_small_scan,
    )

    # spread the shingle stage over cores when the scan is one tiny
    # split (r18; measured 1.59 -> 1.32 s interleaved, no-op at scale)
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", F.split("text", " ").alias("w")
    ).select("doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("shingle"))
    per_doc = sh.distinct()
    df = per_doc.groupBy("shingle").agg(F.count(F.lit(1)).alias("docfreq"))
    nov = (
        per_doc.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("docfreq") == 1).cast("long")).alias("n_novel"),
        )
    )
    return nov.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.expr("CAST(n_novel * 10000 div n_shingles AS BIGINT)").alias(
            "novelty_bp"
        ),
    )


# The Gopher rule gate (Rae et al. 2021, App. A1.1) as SHARED pieces —
# ONE copy of the published thresholds by design (r15 review: the web
# capstone re-implemented them inline): the required-stopword set, the
# four per-document token aggregates, the symbol-count column, and the
# five cross-multiplied integer predicates. text_gopher_rules and
# corpus_web_pipeline both compose these.
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_token_aggs(token_col: str = "token") -> list:
    """The four per-document aggregates the gate needs, over an exploded
    token column."""
    t = F.col(token_col)
    return [
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.length(token_col)).alias("sum_len"),
        F.sum(t.rlike("[a-zA-Z]").cast("long")).alias("n_alpha"),
        F.countDistinct(
            F.when(t.isin(*GOPHER_REQUIRED_STOPWORDS), t)
        ).alias("n_req_stop"),
    ]


def gopher_symbol_count(text_col: str):
    """Symbol count ('#' occurrences + ellipsis occurrences) as
    replace-length arithmetic on the raw text column — scan-side, no
    second tokenization."""
    c = F.col(text_col)
    return (
        (F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit(""))))
        + (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
    ).cast("long")


def gopher_ok_predicates() -> dict:
    """The five published threshold predicates over columns named
    (n_tok, sum_len, n_alpha, n_sym, n_req_stop) — every test
    CROSS-MULTIPLIES in integers, so the booleans are bit-identical on
    any engine at any scale."""
    return {
        "ok_word_count": F.col("n_tok").between(50, 100000),
        "ok_mean_word_len": (3 * F.col("n_tok") <= F.col("sum_len"))
        & (F.col("sum_len") <= 10 * F.col("n_tok")),
        "ok_symbol_ratio": 10 * F.col("n_sym") <= F.col("n_tok"),
        "ok_alpha_ratio": 5 * F.col("n_alpha") >= 4 * F.col("n_tok"),
        "ok_stopwords": F.col("n_req_stop") >= 2,
    }


@query(
    "text_gopher_rules",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    ts AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(length(token)) AS BIGINT) AS sum_len,
             CAST(SUM(CASE WHEN regexp_matches(token, '[a-zA-Z]')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
             CAST(COUNT(DISTINCT CASE WHEN token IN
               ('the','be','to','of','and','that','have','with')
               THEN token END) AS BIGINT) AS n_req_stop
      FROM tok GROUP BY doc_id
    ),
    sym AS (
      SELECT doc_id,
             CAST((length(text) - length(replace(text, '#', '')))
                  + (length(text) - length(replace(text, '...', ''))) / 3
                  AS BIGINT) AS n_sym
      FROM documents
    )
    SELECT t.doc_id, t.n_tok, t.sum_len, t.n_alpha, s.n_sym, t.n_req_stop,
           CASE WHEN t.n_tok BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
               AS ok_word_count,
           CASE WHEN 3 * t.n_tok <= t.sum_len AND t.sum_len <= 10 * t.n_tok
                THEN 1 ELSE 0 END AS ok_mean_word_len,
           CASE WHEN 10 * s.n_sym <= t.n_tok THEN 1 ELSE 0 END
               AS ok_symbol_ratio,
           CASE WHEN 5 * t.n_alpha >= 4 * t.n_tok THEN 1 ELSE 0 END
               AS ok_alpha_ratio,
           CASE WHEN t.n_req_stop >= 2 THEN 1 ELSE 0 END AS ok_stopwords,
           CASE WHEN t.n_tok BETWEEN 50 AND 100000
                 AND 3 * t.n_tok <= t.sum_len AND t.sum_len <= 10 * t.n_tok
                 AND 10 * s.n_sym <= t.n_tok
                 AND 5 * t.n_alpha >= 4 * t.n_tok
                 AND t.n_req_stop >= 2
                THEN 1 ELSE 0 END AS passes_gopher
    FROM ts t JOIN sym s ON t.doc_id = s.doc_id
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule filter (Rae et al. 2021, App. A1.1) — the exact
    published thresholds, as one pass: word count in [50, 100k], mean
    word length in [3, 10], symbol-to-word ratio (# and ellipsis)
    <= 0.1, >= 80% of words containing an alphabetic character, and
    >= 2 of the 8 required English stop words present.
    text_repetition_stats covers the paper's repetition signals; this is
    its rule-threshold sibling — together they are the full
    Gopher-style quality gate a production English pipeline runs.

    Every threshold test CROSS-MULTIPLIES in integers (3*n <= sum <=
    10*n, 10*sym <= n, 5*alpha >= 4*n) — no ratio ever becomes a float,
    so the booleans are bit-identical on any engine at any scale. One
    explode + one partial-aggregable groupBy; the symbol counts are
    replace-length arithmetic on the raw column (scan-side, no second
    tokenization).

    Fixture note: the synthetic corpus' vocabulary contains only 'the'
    of the 8 required stop words, so ok_stopwords (and therefore the
    overall gate) is 0 for every test doc — the thresholds are kept
    FAITHFUL to the paper rather than tuned to the fixture (the blur
    3x3 / minArea 300 discipline); the discriminating variance at test
    SF lives in the other four hash-pinned booleans (e.g.
    ok_word_count passes 277/500 at sf0.01)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    ts = tok.groupBy("doc_id").agg(*gopher_token_aggs("token"))
    sym = docs.select("doc_id", gopher_symbol_count("text").alias("n_sym"))
    j = ts.join(sym, "doc_id")
    ok = gopher_ok_predicates()
    return j.select(
        "doc_id",
        "n_tok",
        "sum_len",
        "n_alpha",
        "n_sym",
        "n_req_stop",
        *[pred.cast("int").alias(name) for name, pred in ok.items()],
        reduce(lambda a, b: a & b, ok.values()).cast("int").alias("passes_gopher"),
    )


# Distributed BPE merge TRAINING (VERDICT r14 #2): functions/bpe.py encodes
# under a GIVEN merge table; this learns one from the corpus — k rounds of
# the Sennrich-2016 loop (arXiv:1508.07909 §3.2) as relational aggregation.
# Round count is part of the deterministic cross-engine contract.
_BPE_TRAIN_ROUNDS = 12


def _bpe_train_ctes() -> list:
    """The merge-training replay as a CTE list — shared by the trainer's
    own oracle and the trained-table pack oracle (ONE replay of the
    loop): words0 is the frequency-weighted distinct-word table
    (alphabetic tokens only, each rendered in the engine's angle-bracket
    symbol framing), and each round counts adjacent symbol pairs, picks
    the (weight DESC, lhs, rhs) argmax, and applies that one merge as a
    single string replace — the same left-to-right single-rule semantics
    functions/bpe.py proves exact.

    Every round CTE is MATERIALIZED: words{k} is referenced twice per
    round (by p{k+1} and words{k+1}) and b{k} three times, so DuckDB's
    default inline-expansion would duplicate the chain into 2^rounds
    parquet scans (measured: fd exhaustion at 12 rounds)."""
    ctes = [
        """words0 AS MATERIALIZED (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS w,
             regexp_replace(tok, '(.)', '<\\1>', 'g') AS enc
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
            FROM documents)
      WHERE regexp_matches(tok, '^[a-z]+$')
      GROUP BY tok)"""
    ]
    rows = []
    for k in range(1, _BPE_TRAIN_ROUNDS + 1):
        p = k - 1
        ctes.append(
            f"p{k} AS MATERIALIZED (SELECT q[1] AS a, q[2] AS b, CAST(SUM(w) AS BIGINT)"
            f" AS c FROM (SELECT w, unnest(list_zip(l[1:len(l)-1],"
            f" l[2:len(l)])) AS q FROM (SELECT w,"
            f" regexp_extract_all(enc, '<([^<>]+)>', 1) AS l"
            f" FROM words{p})) GROUP BY 1, 2)"
        )
        ctes.append(
            f"b{k} AS MATERIALIZED (SELECT a, b, c FROM p{k} ORDER BY c DESC, a, b LIMIT 1)"
        )
        ctes.append(
            f"words{k} AS MATERIALIZED (SELECT tok, w,"
            f" replace(enc, (SELECT '<'||a||'><'||b||'>' FROM b{k}),"
            f" (SELECT '<'||a||b||'>' FROM b{k})) AS enc FROM words{p})"
        )
        rows.append(
            f"SELECT CAST({k} AS BIGINT) AS rank, a AS lhs, b AS rhs,"
            f" a||b AS merged, c AS pair_weight FROM b{k}"
        )
    return [ctes, rows]


def _bpe_train_oracle() -> str:
    ctes, rows = _bpe_train_ctes()
    return "WITH " + ",\n    ".join(ctes) + "\n    " + " UNION ALL ".join(rows)


@query("text_bpe_train_merges", oracle=_bpe_train_oracle())
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn a BPE merge table FROM the corpus — distributed training as
    relational aggregation (Sennrich et al. 2016, the missing half of the
    tokenizer story next to functions/bpe.py's fixed-table encoders).
    {k} rounds of: count adjacent symbol pairs over the frequency-weighted
    distinct-word table (alphabetic tokens, corpus-frequency weights —
    unlike the pinned MERGES table, which was learned with uniform
    weights), take the global argmax with the (weight DESC, lhs, rhs)
    tie-break, and apply the winning merge as ONE string replace per word
    in the engine's angle-bracket symbol framing (exact single-rule
    left-to-right application — the same argument functions/bpe.py makes
    for the encode chain). Emits the merge trajectory (rank, pair, merged
    symbol, winning weight), hash-checked against a DuckDB nested-CTE
    replay of the identical rounds; a drift in pair extraction, weighting,
    tie-break, or merge application in EITHER engine mismatches. The
    learned table round-trips through bpe_token_count_udf/chain_count_py
    (tests/test_bpe.py).

    Plan shape at 100 TB: the corpus is scanned ONCE — the initial
    explode+groupBy collapses it to the distinct-word frequency table
    (vocabulary-sized, millions of rows at web scale, with map-side
    combine bounding the shuffle), localCheckpointed here (an explicit
    parquet stage on a cluster). Every training round then runs on that
    vocabulary table only: one partial-aggregable groupBy over adjacent
    pairs (pairs per word <= word length, so the round shuffle is
    O(vocab * mean_len) pair rows collapsing to distinct-pair counts) and
    one zero-shuffle replace projection. The argmax is a 1-row bounded
    collect per round — model state on the driver is the merge table
    itself, O(rounds), never corpus- or vocab-sized."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        # \A..\z, not ^..$: Java-regex $ matches BEFORE a trailing newline
        # while the oracle's RE2 $ does not — a doc ending "word\n" would
        # weight the token on one engine only (r15 review)
        .filter(F.col("tok").rlike(r"\A[a-z]+\z"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("enc", F.regexp_replace("tok", "(.)", "<$1>"))
        .localCheckpoint()  # corpus scanned once; rounds run on the vocab
    )
    pair_expr = (
        "explode(zip_with(slice(syms, 1, size(syms)-1),"
        " slice(syms, 2, size(syms)-1),"
        " (x, y) -> named_struct('a', x, 'b', y))) AS p"
    )
    trajectory = []
    for rank in range(1, _BPE_TRAIN_ROUNDS + 1):
        pairs = (
            words.withColumn(
                "syms", F.expr("regexp_extract_all(enc, '<([^<>]+)>', 1)")
            )
            .select("w", F.expr(pair_expr))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("w").alias("c"))
        )
        # bounded 1-row collect per round: the global argmax IS the model
        # update (the train_epochs pattern — driver state is O(rounds))
        best = pairs.orderBy(F.desc("c"), "a", "b").limit(1).collect()
        if not best:  # vocabulary fully merged before the round budget
            break
        a, b, c = best[0]["a"], best[0]["b"], best[0]["c"]
        trajectory.append((rank, a, b, a + b, c))
        words = words.withColumn(
            "enc", F.replace("enc", F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
        )
    return spark.createDataFrame(
        trajectory,
        "rank long, lhs string, rhs string, merged string, pair_weight long",
    )


# --- BM25 retrieval (r15) ----------------------------------------------------
# Okapi BM25 (Robertson & Walker, public literature) with k1 = 1.2 and
# b = 0.75, the decontamination/eval-overlap retrieval scorer. The engine's
# exact-rational discipline applies twice:
#   * the log() idf becomes the rational idf (N - df + 0.5) / (df + 0.5) =
#     (2N - 2df + 1) / (2df + 1) — same monotone ordering, all integers
#     (the text_tfidf_topk precedent);
#   * the tf saturation tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) is
#     cross-multiplied by 10*total_len (avgdl = total_len / N as a
#     rational, never materialized as a float):
#       22*tf*total_len  /  (10*tf*total_len + 3*total_len + 9*dl*N).
# One 128-bit product each side (decimal(38,0) / HUGEINT), ONE integral
# division into micro-units, integer SUM over query terms — bit-exact in
# both engines at any summation order.
_BM25_TERMS = ("merge", "window", "stream")
_BM25_TOPK = 15


# The BM25 scored-CTE chain is shared with sim_hybrid_rrf_topk's oracle
# (similarity.py) so the two engines' BM25 legs cannot drift apart.
_BM25_WITH_SQL = f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_len
      FROM docs
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(t) AS token FROM docs)
      WHERE token IN {str(_BM25_TERMS)}
      GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(SUM(
               (CAST(22 AS HUGEINT) * tf.tf * s.total_len
                  * (2 * s.n_docs - 2 * df.df + 1) * 1000000)
               // ((CAST(10 AS HUGEINT) * tf.tf * s.total_len
                     + 3 * s.total_len + 9 * d.dl * s.n_docs)
                   * (2 * df.df + 1))
             ) AS BIGINT) AS bm25_micro,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      FROM tf JOIN df USING (token)
           JOIN docs d ON tf.doc_id = d.doc_id
           CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
"""


@query(
    "text_bm25_topk",
    oracle=f"""{_BM25_WITH_SQL}
    SELECT doc_id, bm25_micro, n_terms_hit
    FROM scored ORDER BY bm25_micro DESC, doc_id ASC LIMIT {_BM25_TOPK}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 retrieval for a fixed 3-term query over the corpus —
    the standard lexical scorer a pipeline runs to pull train-set documents
    that overlap an eval query (decontamination triage) or to mine
    retrieval candidates. Exact fixed-point BM25 per the module comment:
    true k1=1.2 / b=0.75 saturation and length normalization, rational idf
    in place of the libm log, micro-unit integral division, integer sum
    over terms; ties broken on doc_id — both engines keep the identical
    ranking.

    100 TB shape: the token explode filters to the query terms BEFORE the
    per-(doc, term) count, so only matching postings shuffle (three terms'
    worth, not the corpus); df and the corpus stats are a 3-row and a
    1-row broadcast; the final top-k is TakeOrderedAndProject — per-
    partition heads, no global sort. Everything else is scan-local."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("t"),
        F.size(F.split("text", " ")).cast("long").alias("dl"),
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )  # 1 row
    tok = docs.select("doc_id", "dl", F.explode("t").alias("token")).filter(
        F.col("token").isin(*_BM25_TERMS)
    )
    # dl is functionally dependent on doc_id: grouping by it rides along for
    # free and saves re-joining the corpus for lengths — only matching
    # postings ever shuffle.
    from distributed_video_analytics_flink_spark.operators.dedup import _materialize

    # Postings materialize once (narrow: one row per matching doc x term);
    # df and the scoring leg both consume them — without this the
    # scan+explode+filter pipeline runs twice (dedup.py::_materialize).
    tf = _materialize(
        tok.groupBy("doc_id", "dl", "token").agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    term_micro = (
        "cast((cast(22 as decimal(38,0)) * tf * total_len"
        " * (2 * n_docs - 2 * df + 1) * 1000000)"
        " div ((cast(10 as decimal(38,0)) * tf * total_len"
        " + 3 * total_len + 9 * dl * n_docs)"
        " * (2 * df + 1)) as bigint)"
    )
    scored = (
        tf.join(F.broadcast(df_tbl), "token")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr(term_micro)).alias("bm25_micro"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return scored.select("doc_id", "bm25_micro", "n_terms_hit").orderBy(
        F.desc("bm25_micro"), F.asc("doc_id")
    ).limit(_BM25_TOPK)


# Broadcast gate for the KN bigram-type table (r17): ~100 B/row keeps
# this comfortably under the session's 64 MB broadcast threshold; a
# corpus whose bigram-type count crosses it takes the shuffle join.
_KN_BCAST_MAX_TYPES = 500_000


@query(
    "text_kn_bigram_lm_score",
    oracle="""
    WITH arr AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    ev AS (
      SELECT doc_id, t[i - 1] AS hist, t[i] AS w
      FROM arr, UNNEST(generate_series(2, len(t))) AS u(i)
    ),
    bi AS (
      SELECT hist, w, CAST(COUNT(*) AS BIGINT) AS c_bi
      FROM ev GROUP BY hist, w
    ),
    h AS (
      SELECT hist, CAST(SUM(c_bi) AS BIGINT) AS c_hist,
             CAST(COUNT(*) AS BIGINT) AS n1p_hist
      FROM bi GROUP BY hist
    ),
    cont AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n1p_w FROM bi GROUP BY w
    ),
    b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM bi),
    bstats AS (
      SELECT bi.hist, bi.w, bi.c_bi, h.c_hist, h.n1p_hist, cont.n1p_w
      FROM bi JOIN h ON bi.hist = h.hist JOIN cont ON bi.w = cont.w
    ),
    p AS (
      SELECT e.doc_id,
             CAST((CAST(GREATEST(4 * s.c_bi - 3, 0) AS HUGEINT) * b.n_types
                   + CAST(3 AS HUGEINT) * s.n1p_hist * s.n1p_w) * 1000000
                  // (CAST(4 AS HUGEINT) * s.c_hist * b.n_types) AS BIGINT)
                 AS p_micro
      FROM ev e JOIN bstats s ON e.hist = s.hist AND e.w = s.w
      CROSS JOIN b
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bi,
             CAST(SUM(p_micro) AS BIGINT) AS sum_p_micro
      FROM p GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(per_doc.n_bi, 0) AS n_bi,
           COALESCE(per_doc.sum_p_micro, 0) AS sum_p_micro,
           CAST(COALESCE(per_doc.sum_p_micro // per_doc.n_bi, 0) AS BIGINT)
               AS mean_p_micro
    FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
    """,
)
def text_kn_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM document scoring (Kneser & Ney
    1995; Chen & Goodman 1998's interpolated form with the standard
    absolute discount D = 3/4) — the smoothing family behind the KenLM
    n-gram models that CCNet/RefinedWeb actually filter with, upgrading
    the unigram proxy (text_unigram_lm_score / text_ccnet_ppl_buckets)
    to a conditional model:

        P(w | h) = max(c(h,w) - D, 0) / c(h)
                   + [D * N1+(h,.) / c(h)] * [N1+(.,w) / B]

    where N1+(h,.) / N1+(.,w) are distinct-continuation / distinct-
    context type counts and B the total bigram-type count — the
    continuation-probability backoff that distinguishes KN from plain
    absolute discounting. With D = 3/4 every per-event probability is
    the exact rational [max(4*c_bi - 3, 0) * B + 3 * N1+(h,.) *
    N1+(.,w)] / [4 * c(h) * B], floored once into micro-units — the
    module's no-libm discipline (the deliberately-avoided log of the
    doc-mean is a monotone transform downstream consumers can apply).
    Per doc: event count, sum and mean of p_micro; docs under 2 tokens
    are total with zeros (LEFT JOIN both engines). The exact sum-to-one
    property of the interpolated form (sum over the vocab of P(.|h) = 1
    for every history) is pinned by a Fraction-arithmetic replica in
    tests/test_kn_bigram.py.

    100 TB shape: all three stat tables live on the bigram-TYPE table
    (Zipf-bounded, far smaller than the event stream) and are assembled
    type-side — bi JOIN h JOIN cont touches types only — so the event
    stream is shuffled ONCE, on (hist, w), against the enriched stats;
    the B denominator is the measured type count inlined as a literal
    (r18 — it is collected for the broadcast gate below anyway, so the
    former 1-row aggregate + crossJoin(broadcast) subtree is free to
    drop). Hot histories ("the", ",") skew the type
    join's build side, not the event key (events key on the PAIR, whose
    top frequency is far below the top history's): AQE skew-split
    handles the residual. The type-table broadcast is CONDITIONAL (r17,
    VERDICT r16 #2): the localCheckpoint barrier hides the type table's
    true (tiny) size from the static planner, which then built the hash
    relation from the EVENT stream instead — cheap here, but the exact
    side that must never broadcast at corpus scale. So the query counts
    the pinned type aggregate (a bounded action on the checkpointed
    frame — the materialization it triggers happens anyway) and hints
    the broadcast only under _KN_BCAST_MAX_TYPES; past the gate the
    join degrades to a shuffle join instead of OOMing the driver.

    Snapshot semantics: ``n_types = bi.count()`` runs when the DataFrame
    is BUILT, and the KN denominator B is inlined as that literal. So
    re-executing the returned plan over a changed ``documents`` table
    keeps the old B (and the type table that count checkpointed): the
    scores are only right for the snapshot the query was built on. Call
    the query again for a new snapshot."""
    docs = load_table(spark, sf_dir, "documents")
    arr = docs.select("doc_id", F.split("text", " ").alias("t"))
    # sequence(2, 1) DESCENDS in Spark (DuckDB's generate_series is
    # empty) — guard 0/1-token docs to an empty event list explicitly
    ev = arr.select(
        "doc_id",
        "t",
        F.explode(
            F.expr("if(size(t) < 2, array(), sequence(2, size(t)))")
        ).alias("i"),
    ).select(
        "doc_id",
        F.expr("element_at(t, i - 1)").alias("hist"),
        F.expr("element_at(t, i)").alias("w"),
    )
    from distributed_video_analytics_flink_spark.operators.dedup import _materialize

    # pin the bigram-TYPE aggregate once: h, cont, b and the event join
    # all derive from it, and without the checkpoint Catalyst re-runs
    # the corpus explode+groupBy four times (audited: 6 scans -> 2)
    bi = _materialize(
        ev.groupBy("hist", "w").agg(F.count(F.lit(1)).alias("c_bi"))
    )
    h = bi.groupBy("hist").agg(
        F.sum("c_bi").alias("c_hist"), F.count(F.lit(1)).alias("n1p_hist")
    )
    cont = bi.groupBy("w").agg(F.count(F.lit(1)).alias("n1p_w"))
    bstats = bi.join(h, "hist").join(cont, "w")
    # conditional broadcast (r17, VERDICT r16 #2): an UNCONDITIONAL hint
    # cannot degrade (at 100 TB it OOMs the driver on the Zipf tail),
    # but fully unhinted the static planner — blind behind the
    # checkpoint barrier — broadcast the EVENT stream instead (measured
    # +0.4 s at sf0.1, and the event stream is the side that must never
    # broadcast at scale). Gate on the type table's measured
    # cardinality: ~100 B/row keeps 500k types well under the 64 MB
    # broadcast threshold; past the gate the join degrades to a shuffle
    # join. The count is one bounded action on the pinned aggregate —
    # the materialization it triggers happens anyway — and since r18
    # (VERDICT r17 #4) it is paid back inside the main plan: the
    # measured count IS the KN denominator B, so the former 1-row
    # n_types aggregate + crossJoin(broadcast) subtree collapses to a
    # literal (one fewer aggregation + broadcast exchange per run).
    n_types = bi.count()
    bstats_side = (
        F.broadcast(bstats) if n_types <= _KN_BCAST_MAX_TYPES else bstats
    )
    # 128-bit arithmetic: at 100 TB c_bi * B * 1e6 passes BIGINT range
    # (the ccnet_ppl_buckets overflow discipline); cast(.. as bigint)
    # keeps the literal's type identical to the former count() column
    b_lit = f"cast({n_types} as bigint)"
    p_micro = (
        f"cast((cast(greatest(4 * c_bi - 3, 0) as decimal(38,0)) * {b_lit}"
        " + cast(3 as decimal(38,0)) * n1p_hist * n1p_w) * 1000000"
        f" div (cast(4 as decimal(38,0)) * c_hist * {b_lit}) as bigint)"
    )
    per_doc = (
        ev.join(bstats_side, ["hist", "w"])
        .select("doc_id", F.expr(p_micro).alias("p_micro"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bi"),
            F.sum("p_micro").alias("sum_p_micro"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bi", F.lit(0)).cast("bigint").alias("n_bi"),
        F.coalesce("sum_p_micro", F.lit(0)).cast("bigint").alias("sum_p_micro"),
        F.coalesce(F.expr("sum_p_micro div n_bi"), F.lit(0))
        .cast("bigint")
        .alias("mean_p_micro"),
    )
