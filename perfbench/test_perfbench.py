"""Self-tests for the benchmark: seeded inputs, span arithmetic, and a
tiny-size smoke run of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
from tracing import Tracer  # noqa: E402


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _inputs_digest(seed: int, tmp) -> str:
    base = tmp / f"s{seed}-{len(os.listdir(tmp))}"
    inputs.archive(seed, str(base / "archive"), n_cams=2, frames_per_cam=4,
                   n_scenes=1, n_variants=2)
    inputs.tables(seed, str(base / "tables"), scale=0.001)
    pool = inputs.live_pool(seed, n_cams=2, n_variants=2, rows=120, cols=160)
    h = hashlib.sha256()
    for cam in pool.cams:
        for b in pool.b64[cam]:
            h.update(b.encode())
    h.update(_tree_digest(str(base / "archive")).encode())
    h.update(_tree_digest(str(base / "tables")).encode())
    return h.hexdigest()


def test_same_seed_gives_identical_inputs(tmp_path):
    assert _inputs_digest(5, tmp_path) == _inputs_digest(5, tmp_path)


def test_other_seed_gives_other_inputs(tmp_path):
    assert _inputs_digest(5, tmp_path) != _inputs_digest(6, tmp_path)


def test_self_time_subtracts_covered_child_time():
    t = Tracer(True)
    root = t.add("run", "bench", 0.0, 10.0)
    t.add("a", "operators", 1.0, 4.0, root)
    t.add("b", "operators", 3.0, 5.0, root)  # overlaps a: union is 1..5
    kid = t.add("c", "streaming", 6.0, 8.0, root)
    t.add("job", "spark", 6.5, 7.0, kid)
    self_s = t.self_times()
    assert self_s["bench"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_s["operators"] == pytest.approx(5.0)
    assert self_s["streaming"] == pytest.approx(1.5)
    assert self_s["spark"] == pytest.approx(0.5)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x", "bench") as sid:
        assert sid is None
    assert t.add("y", "bench", 0.0, 1.0) is None
    assert t.spans == []


@pytest.mark.parametrize(
    "workload", ["live_cameras", "archive_backfill", "analytics_mix"]
)
def test_tiny_run_prints_every_end_to_end_metric(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "3", "--trace", "0", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)["end_to_end"]}
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == declared
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert all(m["value"] > 0 for m in result["metrics"].values())
