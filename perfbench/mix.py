"""``analytics_mix``: one client running registered queries in a closed loop.

Each pass runs ``QUERIES`` in order over seeded tables; a query is the
registered function call (its eager driver actions: the build) plus one
``collect`` (the forcing action: the execute). A warm-up pass is part of
set-up. A pass starts while at least half of it (judged by the previous
pass) fits in the run's time. Rows are checked against each
query's registered DuckDB oracle outside timing.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

from common import dir_stats, median, percentile

# Scan/execute-bound legs first, then the job-bound one.
QUERIES = (
    "pricing_summary",
    "join_shipping_priority",
    "join_market_share",
    "agg_percentiles",
    "window_topk_per_group",
    "dedup_minhash_lsh_pairs",
    "text_bpe_token_count",
    "text_kn_bigram_lm_score",
)
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def _canon(v) -> str:
    """Canonical cell text: engine-independent for equal values."""
    import datetime as dt

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, (int, str)):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    f = float(v)
    return str(int(f)) if f == int(f) else repr(f)


def fingerprint(columns: list[str], rows: list) -> str:
    """Order-insensitive hash of a result, columns matched by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted("|".join(_canon(tuple(r)[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_fingerprints(sf_dir: str, names) -> dict[str, str]:
    import duckdb

    from distributed_video_analytics_flink_spark.operators import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
        out = {}
        for name in names:
            rel = con.sql(sql[name])
            out[name] = fingerprint(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


def run_pass(spark, sf_dir: str, names, phase=None) -> list[tuple[str, float, str, int]]:
    """One pass: (query, seconds, result fingerprint, rows) per query.
    ``phase(name, kind)``, when given, wraps each build and execute."""
    from contextlib import nullcontext

    from distributed_video_analytics_flink_spark.operators import queries

    fns = queries()
    phase = phase or (lambda name, kind: nullcontext())
    out = []
    for name in names:
        t = time.perf_counter()
        with phase(name, "build"):
            df = fns[name](spark, sf_dir)
        with phase(name, "execute"):
            rows = df.collect()
        dt = time.perf_counter() - t
        out.append((name, dt, fingerprint(df.columns, rows), len(rows)))
    return out


def run(ctx) -> dict:
    import inputs

    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = os.path.join(ctx.work, "tables")
    names = ctx.mix_queries
    with tracer.span("inputs", "bench"):
        inputs.tables(ctx.seed, sf_dir, scale=ctx.mix_scale)
    with tracer.span("warmup", "bench"):
        run_pass(spark, sf_dir, names)
    ctx.setup_done()

    passes: list[float] = []
    results: list[tuple[str, float, str, int]] = []
    start = time.perf_counter()
    while time.perf_counter() - start + (passes[-1] / 2 if passes else 0) <= ctx.seconds:
        label = f"pass {len(passes)}"
        with tracer.span(label, "bench"):
            t = time.perf_counter()
            res = run_pass(spark, sf_dir, names,
                           lambda name, kind: ctx.phase(f"{label} {name}", kind))
            passes.append(time.perf_counter() - t)
        results.extend(res)

    want = oracle_fingerprints(sf_dir, names)
    failed = sum(1 for name, _dt, fp, _n in results if fp != want[name])
    n = len(passes)
    metrics = {
        # as in the backfill, a closed-loop pass is the unit of latency
        "live_latency_p50_ms": median(passes) * 1000.0,
        "live_latency_p99_ms": percentile(passes, 99) * 1000.0,
        "backfill_fps": len(names) / median(passes),
        "mix_pass_s": median(passes),
    }
    info = {"pass_s_each": passes, "queries_per_pass": len(names),
            "query_s_median": {q: median([r[1] for r in results if r[0] == q])
                               for q in names}}
    if tracer.enabled:
        cache = os.path.join(os.environ["TMPDIR"], f"dvafs-cache-{os.getuid()}")
        files, size = dir_stats(cache, "")
        info["layers"] = {
            **ctx.operator_layers(n),
            "sinks.results_rows": sum(r[3] for r in results) / n,
            "sinks.results_files": files,
            "sinks.results_mb": size / 1e6,
        }
    return {"metrics": metrics, "attempted": len(results), "failed": failed,
            "info": info}
