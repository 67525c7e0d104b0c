#!/usr/bin/env python3
"""Capture `.explain("formatted")` for named registry queries into
plans/<round>/<name>_<tag>.txt (an optimization round's evidence files).

Usage: python scripts/capture_plan.py <round> <tag> <query> [<query> ...]

round names the plans/ subdirectory (e.g. "r18"); tag is normally
"before" or "after". The plan captured is the final DataFrame's plan as
built by the query function at $SPARK_GRAFT_SF_DIR (default sf0.1) — for
lifecycle queries whose fn() executes intermediate actions, those run too
(the final frame's plan is still the serving plan).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    round_, tag, *names = sys.argv[1:]
    from distributed_video_analytics_flink_spark import operators as ops
    from distributed_video_analytics_flink_spark.plans import formatted_plan
    from distributed_video_analytics_flink_spark.session import get_spark

    spark = get_spark(app_name=f"{round_}-plan-capture")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = ops.QUERIES[name].fn(spark, SF_DIR)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(formatted_plan(df))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
