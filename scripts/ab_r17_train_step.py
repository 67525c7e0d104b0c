#!/usr/bin/env python3
"""Interleaved A/B: text_classifier_train_step's r16 one-projection score
(filter-pushdown duplicates the md5 scoring lambda) vs the r17
hashed-feature-array materialization. Variants alternate within ONE
session (the bench-noise discipline).

Usage: python scripts/ab_r17_train_step.py [rounds] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from distributed_video_analytics_flink_spark.operators.text_analysis import (  # noqa: E402
    _CLS_BUCKETS,
    _cls_score_sql,
    text_classifier_train_step,
)
from distributed_video_analytics_flink_spark.operators.relational import (  # noqa: E402
    load_table,
)
from distributed_video_analytics_flink_spark.session import get_spark  # noqa: E402


def old_shape(spark, sf_dir):
    """The r16 implementation, verbatim (one giant score projection; the
    optimizer duplicates it across the pushed filter and the project)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.split(F.lower("text"), " ")
    )
    score = F.expr(_cls_score_sql("spark"))
    y = F.when(F.col("lang") == "en", 1).otherwise(-1)
    p = F.when(score > 0, 1).otherwise(-1)
    scored = docs.select("w", (y - p).alias("e")).filter(F.col("e") != 0)
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long") % _CLS_BUCKETS
    )
    return (
        scored.select("e", F.explode("w").alias("tok"))
        .select(bucket.alias("bucket"), "e")
        .groupBy("bucket")
        .agg(F.sum("e").alias("grad"), F.count(F.lit(1)).alias("n_updates"))
    )


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="ab-r17-train-step")

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(fn):
        t0 = time.time()
        force(fn(spark, sf))
        return time.time() - t0

    # warm-up both
    timed(old_shape)
    timed(text_classifier_train_step)
    olds, news = [], []
    for r in range(rounds):
        spark.sparkContext.setJobDescription(f"old r{r}")
        olds.append(timed(old_shape))
        spark.sparkContext.setJobDescription(f"new r{r}")
        news.append(timed(text_classifier_train_step))
        print(f"round {r}: old {olds[-1]:.3f}s new {news[-1]:.3f}s", flush=True)
    print(f"old: {sorted(olds)} min {min(olds):.3f}")
    print(f"new: {sorted(news)} min {min(news):.3f}")


if __name__ == "__main__":
    main()
