"""``live_cameras``: the reference's own job, run as an open loop.

Four cameras at 10 fps each (40 fps in all) send 640x480 BGR frames in the
reference's base64-in-JSON wire format. One generator thread writes one
replay file per 100 ms tick on a fixed schedule that does not slow when the
engine slows. The cameras are not in step: of four cameras, camera ``k``
captures its frame ``3 - k`` quarter-ticks before the tick's file is
written, the last one as it is written. Each frame's event time is the time
it was due.
The engine runs ``file_frame_stream -> detect_motion_stream ->
build_processing_results -> write_results_stream`` into a
``(camera_id, day)``-partitioned parquet table with a fixed 3 s
processing-time trigger. The trigger is longer than a micro-batch takes at
this rate, so batches start on the trigger's clock rather than back to
back; a frame waits for the next trigger, then for its batch.

Latency is per result row: from the frame's due time to the modification
time of the file-sink log entry that committed the row's parquet file.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
import zlib

from common import median, percentile
from tracing import harvest_group, make_progress_listener

TICK_S = 0.1  # one replay file per tick, one frame per camera
TRIGGER_S = 3  # fixed processing-time trigger, longer than a micro-batch takes
PRIME_TICKS = 30  # written at once before pacing starts: the cold first batch
SETTLE_S = 4.0  # paced seconds after the cold batch, part of set-up
KEEP_S = 15.0  # replay files older than this are consumed; the generator deletes them


def jitter_us(cam: str, tick: int) -> int:
    """A camera's capture jitter for one frame, under 1 ms. Sink commit
    times come from a coarse file-system clock, so without it two frames of
    a camera due a whole number of ticks apart could show equal latencies."""
    return zlib.crc32(f"{cam}/{tick}".encode()) % 1000


class Generator(threading.Thread):
    """Writes one replay file per tick, on schedule, from a frame pool."""

    def __init__(self, pool, in_dir: str, t0: float, seconds: float,
                 first_tick: int = 0):
        super().__init__(daemon=True)
        self.pool, self.in_dir, self.t0 = pool, in_dir, t0
        self.ticks = range(first_tick, first_tick + int(round(seconds / TICK_S)))
        self.keep = int(round(KEEP_S / TICK_S))
        self.lag_ms: list[float] = []
        self.written: list[tuple[float, int]] = []  # (wall time, frames so far)
        self.frames: list[tuple[str, int, int]] = []  # (camId, due_us, index)
        self.error: BaseException | None = None

    def run(self):
        try:
            self._run()
        except BaseException as exc:  # noqa: BLE001 — reported by the caller
            self.error = exc

    def _run(self):
        pool, total = self.pool, 0
        for j in self.ticks:
            due = self.t0 + (j - self.ticks.start) * TICK_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            n = len(pool.cams)
            lines = []
            for k, cam in enumerate(pool.cams):
                offset = (n - 1 - k) * TICK_S / n  # before the file is written
                due_us = int(round((due - offset) * 1e6)) - jitter_us(cam, j)
                ts = dt.datetime.fromtimestamp(due_us / 1e6, dt.timezone.utc).strftime(
                    "%Y-%m-%dT%H:%M:%S.%f+00:00"
                )
                v = pool.variant(cam, j)
                lines.append(
                    f'{{"camId":"{cam}","timestamp":"{ts}","rows":{pool.rows},'
                    f'"cols":{pool.cols},"type":16,"data":"{pool.b64[cam][v]}"}}'
                )
                self.frames.append((cam, due_us, j))
            tmp = os.path.join(self.in_dir, f".tick-{j:06d}.tmp")
            with open(tmp, "w") as fh:
                fh.write("\n".join(lines))
            os.rename(tmp, os.path.join(self.in_dir, f"tick-{j:06d}.json"))
            old = os.path.join(self.in_dir, f"tick-{j - self.keep:06d}.json")
            if j - self.keep >= 0 and os.path.exists(old):
                os.remove(old)
            total += len(lines)
            now = time.time()
            self.written.append((now, total))
            self.lag_ms.append((now - due) * 1000.0)


def _start_query(spark, base: str):
    from distributed_video_analytics_flink_spark.streaming.motion import (
        detect_motion_stream,
    )
    from distributed_video_analytics_flink_spark.streaming.sinks import (
        build_processing_results,
        write_results_stream,
    )
    from distributed_video_analytics_flink_spark.streaming.sources import (
        file_frame_stream,
    )

    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir, exist_ok=True)
    frames = file_frame_stream(spark, in_dir, max_files_per_trigger=100_000)
    results = build_processing_results(
        detect_motion_stream(frames),
        image_dir=os.path.join(base, "images"),
        faithful_count=True,
    )
    q = write_results_stream(
        results, os.path.join(base, "out"), os.path.join(base, "ckpt"),
        trigger_seconds=TRIGGER_S,
    )
    return q, in_dir


def committed_rows(out_dir: str) -> list[tuple[str, int, int, float, str]]:
    """Every row of the results table as (camId, ts_us, count, commit time,
    file), with the commit time read from the file-sink log entry that
    first listed the row's file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = os.path.join(out_dir, "_spark_metadata")
    entries = []
    for name in os.listdir(log_dir):
        stem = name.split(".")[0]
        if stem.isdigit():
            entries.append((int(stem), name))
    seen: set[str] = set()
    rows = []
    for _batch, name in sorted(entries):
        path = os.path.join(log_dir, name)
        commit = os.stat(path).st_mtime
        with open(path) as fh:
            lines = fh.read().splitlines()[1:]
        for ln in lines:
            rec = json.loads(ln)
            f = rec["path"]
            if rec.get("action", "add") != "add" or f in seen:
                continue
            seen.add(f)
            local = f[len("file:"):] if f.startswith("file:") else f
            cam = next(p.split("=", 1)[1] for p in local.split("/")
                       if p.startswith("camera_id="))
            t = pq.read_table(local, columns=["frame_timestamp", "detection_count"])
            ts = (t.column("frame_timestamp").cast(pa.timestamp("us"))
                  .cast(pa.int64()).to_pylist())
            cnt = t.column("detection_count").to_pylist()
            rows.extend((cam, int(a), int(b), commit, local) for a, b in zip(ts, cnt))
    return rows


def expected_rows(pool, frames: list[tuple[str, int, int]]) -> dict:
    """Single-process reference: each camera's frames through the
    ``functions.motion`` kernel in event-time order. A frame's boxes depend
    only on the (previous, current) image pair, so each distinct pair is
    computed once."""
    from distributed_video_analytics_flink_spark.functions.motion import (
        motion_boxes_from_gray,
        preprocess_gray,
    )

    gray = {}
    memo: dict[tuple, int] = {}
    out = {}
    last: dict[str, int] = {}
    for cam, due_us, j in sorted(frames, key=lambda f: (f[0], f[1])):
        v = pool.variant(cam, j)
        if cam in last:
            key = (cam, last[cam], v)
            if key not in memo:
                for k in (last[cam], v):
                    if (cam, k) not in gray:
                        gray[(cam, k)] = preprocess_gray(
                            pool.frames[cam][k].tobytes(), pool.rows, pool.cols
                        )
                memo[key] = len(motion_boxes_from_gray(
                    gray[(cam, last[cam])], gray[(cam, v)], pool.rows, pool.cols
                ))
            if memo[key] > 0:
                out[(cam, due_us)] = memo[key]
        last[cam] = v
    return out


def run(ctx) -> dict:
    import inputs

    spark, tracer = ctx.spark, ctx.tracer
    with tracer.span("inputs", "bench"):
        pool = inputs.live_pool(ctx.seed, rows=ctx.live_rows, cols=ctx.live_cols)
    progress: list[dict] = []
    listener = None
    if tracer.enabled:
        listener = make_progress_listener(progress)
        spark.streams.addListener(listener)
    base = os.path.join(ctx.work, "live")
    with tracer.span("warmup", "bench"):
        # the first micro-batch is cold (Python workers start, plans
        # compile): run it on frames written at once, then pace and let the
        # trigger clock settle before measuring
        q, in_dir = _start_query(spark, base)
        prime = Generator(pool, in_dir, time.time() - PRIME_TICKS * TICK_S,
                          PRIME_TICKS * TICK_S)
        prime.run()
        q.processAllAvailable()
        t0 = time.time() + 0.1
        gen = Generator(pool, in_dir, t0, SETTLE_S + ctx.seconds, PRIME_TICKS)
        gen.start()
        time.sleep(max(0.0, t0 + SETTLE_S - time.time()))
    ctx.setup_done()
    with tracer.span("measure", "bench") as measure_span:
        gen.join()
        if gen.error is not None:
            q.stop()
            raise gen.error
        q.processAllAvailable()
        q.stop()
    if listener is not None:
        spark.streams.removeListener(listener)
    else:
        progress = [json.loads(p.json) for p in q.recentProgress]
    start = t0 + SETTLE_S
    batches = [p for p in progress if p.get("numInputRows", 0) > 0
               and p.get("runId") == str(q.runId) and _started(p) >= start]

    if prime.error is not None:
        raise prime.error
    frames = prime.frames + gen.frames
    rows = committed_rows(os.path.join(base, "out"))
    want = expected_rows(pool, frames)
    got = {(cam, ts): cnt for cam, ts, cnt, _c, _f in rows}
    failed = sum(1 for k, v in want.items() if got.get(k) != v)
    failed += sum(1 for k in got if k not in want)
    warm_ticks = PRIME_TICKS + int(round(SETTLE_S / TICK_S))
    due = {(cam, ts) for cam, ts, j in gen.frames if j >= warm_ticks}
    measured = [r for r in rows if (r[0], r[1]) in due]
    lat = [(commit - ts / 1e6) * 1000.0 for _cam, ts, _n, commit, _f in measured]
    p99 = percentile(lat, 99)
    tail = sum(1 for x in lat if x > p99)
    if tail < ctx.min_tail:
        raise RuntimeError(f"{len(lat)} latency samples leave {tail} beyond p99, "
                           f"fewer than {ctx.min_tail}: run longer")
    trig = [p["durationMs"]["triggerExecution"] for p in batches]
    first_due = min(ts for _cam, ts, _n, _c, _f in measured) / 1e6
    last_commit = max(commit for _cam, _ts, _n, commit, _f in measured)
    metrics = {
        "live_latency_p50_ms": median(lat),
        "live_latency_p99_ms": p99,
        # delivered rate: the offered 40 fps unless the engine falls behind
        "backfill_fps": len(measured) / (last_commit - first_due),
        "mix_pass_s": median(trig) / 1000.0,
    }
    info = {"latency_samples": len(lat), "samples_beyond_p99": tail,
            "frames": len(frames), "warmup_frames": len(frames) - len(measured),
            "batch_ms_each": trig}
    if tracer.enabled:
        done = sum(p["numInputRows"] for p in progress
                   if p.get("runId") == str(q.runId) and _started(p) < start)
        done -= len(prime.frames)  # backlog counts paced frames only
        info["layers"] = _layers(ctx, q, batches, done, gen, measured, measure_span)
    return {"metrics": metrics, "attempted": len(frames), "failed": failed,
            "info": info}


def _started(progress: dict) -> float:
    """Epoch seconds at which a progress event's trigger started."""
    return dt.datetime.fromisoformat(
        progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _layers(ctx, q, batches, done, gen, rows, measure_span) -> dict:
    """Per-layer numbers from the listener's progress events, the stream's
    job group and the generator's own record. ``done`` is the number of
    frames consumed before the first measured batch."""
    tracer = ctx.tracer
    spans = []
    for p in batches:
        start = _started(p)
        dur = p["durationMs"]["triggerExecution"] / 1000.0
        spans.append((start, start + dur,
                      tracer.add(f"batch {p['batchId']}", "streaming", start,
                                 start + dur, measure_span)))

    def parent_for(t: float):
        return next((sid for a, b, sid in spans if a <= t <= b), measure_span)

    counts = harvest_group(ctx.spark, str(q.runId), tracer, parent_for,
                           since=min((a for a, _b, _s in spans), default=None))
    n = max(1, len(batches))

    def p50(key):
        return median([p["durationMs"].get(key, 0) for p in batches])

    state = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    backlog = []
    for p in batches:
        written = max((c for w, c in gen.written if w <= _started(p)), default=0)
        backlog.append(written - done)
        done += p["numInputRows"]
    files = {r[4] for r in rows}
    size = sum(os.path.getsize(f) for f in files)
    return {
        **ctx.spark_layer(counts, n),
        "streaming.batches": len(batches),
        "streaming.frames_per_batch_p50": median([p["numInputRows"] for p in batches]),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.latest_offset_ms_p50": p50("latestOffset"),
        "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
        "streaming.state_mb": state[-1]["memoryUsedBytes"] / 1e6 if state else 0.0,
        "streaming.state_commit_ms_p50": median([s.get("commitTimeMs", 0) for s in state]),
        "streaming.backlog_frames_max": max(backlog, default=0),
        "streaming.generator_lag_ms_p99": percentile(gen.lag_ms, 99),
        "sinks.results_rows": len(rows) / n,
        "sinks.results_files": len(files) / n,
        "sinks.results_mb": size / 1e6 / n,
    }
