"""The repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload live_cameras --seed 1 --seconds 30 --trace 0

Run it from the repository root. With ``--trace 0`` the last line of
standard output holds the end-to-end metrics; with ``--trace 1`` it holds
the per-layer metrics, and the spans and the per-layer table are written
under ``.perfbench_out/``. The line before it is a JSON ``info`` record
(host, sample counts, failed share). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "distributed_video_analytics_flink_spark"
# analytics_mix runs on request but is not declared in BENCHMARK.json: its
# pass time spread too far between runs to hold a bound (see README.md)
WORKLOADS = ("live_cameras", "archive_backfill", "analytics_mix")


class Context:
    """What a workload sees: the session, its sizes, the tracer, and the
    helpers that turn the traced run's phases into per-layer numbers."""

    def __init__(self, args, root: str, work: str):
        from tracing import Tracer

        self.seed, self.seconds, self.work, self.root = (
            args.seed, float(args.seconds), work, root)
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.t_start = time.perf_counter()
        self.setup_s = None
        self.phases: list[tuple[str, float, str, int | None]] = []
        tiny = args.tiny
        self.live_rows, self.live_cols = (120, 160) if tiny else (480, 640)
        self.min_tail = 0 if tiny else 10  # live latencies beyond p99
        self.archive_cams, self.archive_frames = (4, 8) if tiny else (16, 64)
        self.mix_scale = 0.001 if tiny else 0.01
        import mix

        self.mix_queries = mix.QUERIES[:2] if tiny else mix.QUERIES

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start

    @contextmanager
    def phase(self, label: str, kind: str):
        """An operator phase of the traced run: its own job group and span."""
        if not self.tracer.enabled:
            yield
            return
        group = f"{label} {kind}"
        self.spark.sparkContext.setJobGroup(group, group)
        with self.tracer.span(group, "operators") as sid:
            t = time.perf_counter()
            yield
            dt = time.perf_counter() - t
        self.spark.sparkContext.setJobGroup("bench", "bench")
        self.phases.append((kind, dt, group, sid))

    def operator_layers(self, n_passes: int) -> dict:
        """``operators.*`` and ``spark.*`` per pass, from the phase groups."""
        from tracing import add_counts, harvest_group

        total: dict = {}
        kinds = {"build": [0.0, 0], "execute": [0.0, 0]}
        for kind, dt, group, sid in self.phases:
            c = harvest_group(self.spark, group, self.tracer, sid)
            total = add_counts(total, c)
            kinds[kind][0] += dt
            kinds[kind][1] += c["jobs"]
        n = max(1, n_passes)
        return {
            "operators.build_s": kinds["build"][0] / n,
            "operators.build_jobs": kinds["build"][1] / n,
            "operators.execute_s": kinds["execute"][0] / n,
            "operators.execute_jobs": kinds["execute"][1] / n,
            **self.spark_layer(total, n),
        }

    @staticmethod
    def spark_layer(c: dict, n: int) -> dict:
        n = max(1, n)
        return {
            "spark.jobs": c.get("jobs", 0) / n,
            "spark.stages": c.get("stages", 0) / n,
            "spark.tasks": c.get("tasks", 0) / n,
            "spark.executor_run_s": c.get("run_s", 0.0) / n,
            "spark.executor_cpu_s": c.get("cpu_s", 0.0) / n,
            "spark.shuffle_write_mb": c.get("shuffle_write_b", 0) / 1e6 / n,
            "spark.shuffle_read_mb": c.get("shuffle_read_b", 0) / 1e6 / n,
            "spark.spill_mb": c.get("spill_b", 0) / 1e6 / n,
            "spark.task_skew": c.get("skew", 0.0),
        }


def metric_units(root: str, kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def run(args, root: str) -> dict:
    import common

    host = common.host_info()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common.fit_env(host, work)
    ctx = Context(args, root, work)
    module = {"live_cameras": "live", "archive_backfill": "backfill",
              "analytics_mix": "mix"}[args.workload]
    workload = __import__(module)
    try:
        with common.PeakRss() as rss:
            with ctx.tracer.span(args.workload, "bench"):
                t = time.perf_counter()
                with ctx.tracer.span("session start", "session"):
                    ctx.spark = common.start_session(work)
                session_s = time.perf_counter() - t
                out = workload.run(ctx)
                layers = out["info"].pop("layers", {})
                if ctx.tracer.enabled:
                    import probes as layer_probe

                    layers.update(layer_probe.in_process(ctx, args.workload))
                    if args.workload == "archive_backfill":
                        layers["backfill_fps_1core"] = (
                            layer_probe.backfill_one_core(ctx))
        out["metrics"]["setup_s"] = ctx.setup_s
        out["metrics"]["peak_rss_mb"] = rss.peak_mb
        out["info"]["peak_rss_mb_by_command"] = {
            c: kb / 1024.0 for c, kb in rss.peak_parts.items()}
        out["info"].update(host)
        out["info"]["session_start_s"] = session_s
        out["info"]["workload_s"] = time.perf_counter() - t
        out["info"]["failed_share"] = out["failed"] / max(1, out["attempted"])
        if ctx.tracer.enabled:
            layers["session.start_s"] = session_s
            layers["peak_rss_mb"] = out["metrics"]["peak_rss_mb"]
            layers["failed_share"] = out["info"]["failed_share"]
            out["layers"] = _finish_trace(ctx, args, layers, out["metrics"])
        return out
    finally:
        if ctx.spark is not None:
            common.stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)


def _finish_trace(ctx, args, layers: dict, metrics: dict) -> dict:
    """Self times per layer, the traced end-to-end figure, then the spans
    file and the per-layer table."""
    from tracing import LAYERS

    names = metric_units(ctx.root, "per_layer")
    self_s = ctx.tracer.self_times()
    for layer in (*LAYERS, "spark", "bench"):
        layers[f"self_s.{layer}"] = self_s.get(layer, 0.0)
    layers["trace.mix_pass_s"] = metrics["mix_pass_s"]
    layers["trace.spans"] = len(ctx.tracer.spans)
    full = {n: float(layers.get(n, 0.0)) for n in names}
    out_dir = os.path.join(ctx.root, ".perfbench_out",
                           f"{args.workload}-seed{args.seed}")
    os.makedirs(out_dir, exist_ok=True)
    ctx.tracer.write(os.path.join(out_dir, "spans.json"))
    with open(os.path.join(out_dir, "layers.json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "traced_e2e": metrics, "layers": full}, fh, indent=1)
    return full


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's own smoke test")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    try:
        out = run(args, root)
    except Exception:  # noqa: BLE001 — the benchmark's top-level boundary
        traceback.print_exc()
        return 1
    if args.trace:
        units, values = metric_units(root, "per_layer"), out["layers"]
    else:
        units, values = metric_units(root, "end_to_end"), out["metrics"]
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in units.items()}
    out["info"]["elapsed_s"] = time.perf_counter() - T0
    print(json.dumps({"info": out["info"]}))
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
