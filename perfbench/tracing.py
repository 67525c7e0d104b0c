"""Spans, Spark counters and the streaming listener for the traced run.

Spans are kept in memory and written out when the run ends. A span has a
name, the layer it belongs to (a package module, ``spark`` for jobs and
stages, ``bench`` for the benchmark's own work), wall-clock start and end
in epoch seconds, and its parent. A layer's self time is the time its
spans cover minus the part their children cover.

Spark counters are read per job group through the status tracker and the
status store, which both work with the UI disabled.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager

LAYERS = ("session", "sources", "functions", "operators", "streaming", "sinks")


class Tracer:
    """Collects spans when enabled; every method is a no-op otherwise, so
    the untraced run pays only an attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            if parent is None and self._stack:
                parent = self._stack[-1]
            self.spans.append({
                "id": sid, "parent": parent, "name": name, "layer": layer,
                "start": start, "end": end, **attrs,
            })
        return sid

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Time the block as one span; spans opened inside become children."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, layer, time.time(), 0.0, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by that span's children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            own = max(0.0, s["end"] - s["start"] - covered)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def harvest_group(spark, group: str, tracer: Tracer | None = None,
                  parent=None, since: float | None = None) -> dict:
    """Totals over every job of ``group``: jobs, stages, tasks, executor run
    and CPU time, shuffle and spill bytes, and the max/median task-time
    ratio of the stage with the most tasks. With a tracer, each job and
    stage also becomes a span under ``parent``: a span id, or a function
    from the job's submission time to one. Jobs submitted before ``since``
    (epoch seconds) are left out."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
           "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0}
    widest = None
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jd = store.job(jid)
        start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if since is not None and (start is None or start < since):
            continue
        tot["jobs"] += 1
        job_span = None
        if tracer is not None and tracer.enabled:
            if start is not None and end is not None:
                pid = parent(start) if callable(parent) else parent
                job_span = tracer.add(f"job {jid}", "spark", start, end, pid)
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted or never run
                continue
            if str(st.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numTasks()
            tot["run_s"] += st.executorRunTime() / 1000.0
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["shuffle_write_b"] += st.shuffleWriteBytes()
            tot["shuffle_read_b"] += st.shuffleReadBytes()
            tot["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if widest is None or st.numTasks() > widest[2]:
                widest = (sid, st.attemptId(), st.numTasks())
            if job_span is not None:
                start, end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                if start is not None and end is not None:
                    tracer.add(f"stage {sid}", "spark", start, end, job_span)
    tot["skew"] = 0.0
    if widest is not None:
        tasks = store.taskList(widest[0], widest[1], widest[2])
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(float(d.get()))
        if durs and statistics.median(durs) > 0:
            tot["skew"] = max(durs) / statistics.median(durs)
    return tot


def add_counts(a: dict, b: dict) -> dict:
    """Sum two harvests; skew keeps the larger value."""
    out = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b) if k != "skew"}
    out["skew"] = max(a.get("skew", 0.0), b.get("skew", 0.0))
    return out


def make_progress_listener(sink: list):
    """A StreamingQueryListener that appends every progress event, as a
    dict, to ``sink``. Built lazily so importing this module needs no
    Spark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
