"""One session memo for driver-side results that several queries share.

``memo(spark, name, key, inputs, build)`` returns ``build()``'s value,
built at most once per entry. An entry is keyed by the applicationId,
``name``, ``key`` and :func:`fingerprint` of ``inputs``, so a fixture
rewritten in place misses instead of serving a value built from the old
bytes, and a new session never sees a handle whose blocks died with the
old context. Inserting an entry evicts every entry of another
application (PySpark runs one active SparkContext per process) and keeps
at most ``_MAX_PER_NAME`` entries per name, least recently used evicted
first. Check-then-build is atomic per key; distinct keys and a call
nested in another key's build never wait on each other.
:func:`memo_stats` counts hits and misses per name.
"""

from __future__ import annotations

import glob
import hashlib
import os
import threading
from collections import OrderedDict
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import SparkSession

_MAX_PER_NAME = 4  # a bench session uses 1-2 entries per name

_LOCK = threading.Lock()  # guards the three dicts below, never held over a build
_ENTRIES: OrderedDict[tuple, Any] = OrderedDict()  # LRU order, oldest first
_SLOTS: dict[tuple, list] = {}  # key -> [per-key lock, threads using it]
_STATS: dict[str, dict[str, int]] = {}


def fingerprint(inputs: Iterable[str]) -> str:
    """Size + mtime stamp of every file (or every entry under every
    directory) in ``inputs``; a missing path contributes nothing."""
    parts = []
    for src in inputs:
        paths = [src] if os.path.isfile(src) else sorted(
            glob.glob(os.path.join(src, "**", "*"), recursive=True)
        )
        for p in paths:
            try:
                st = os.stat(p)
            except OSError:
                continue
            parts.append(f"{os.path.abspath(p)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def memo(
    spark: SparkSession, name: str, key: Any, inputs: Iterable[str], build: Callable[[], Any]
) -> Any:
    """``build()``'s value for (application, name, key, inputs), built
    at most once while the entry lives. A failed build leaves no entry."""
    app = spark.sparkContext.applicationId
    full = (app, name, key, fingerprint(inputs))
    with _LOCK:
        slot = _SLOTS.setdefault(full, [threading.Lock(), 0])
        slot[1] += 1
    try:
        with slot[0]:
            with _LOCK:
                counts = _STATS.setdefault(name, {"hits": 0, "misses": 0})
                if full in _ENTRIES:
                    counts["hits"] += 1
                    _ENTRIES.move_to_end(full)
                    return _ENTRIES[full]
                counts["misses"] += 1
            value = build()
            with _LOCK:
                same = [k for k in _ENTRIES if k[0] == app and k[1] == name]
                lru = same[: max(0, len(same) + 1 - _MAX_PER_NAME)]
                for k in [k for k in _ENTRIES if k[0] != app] + lru:
                    del _ENTRIES[k]
                _ENTRIES[full] = value
            return value
    finally:
        with _LOCK:
            slot[1] -= 1
            if not slot[1]:
                del _SLOTS[full]


def memo_stats() -> dict[str, dict[str, int]]:
    """``{name: {"hits": n, "misses": n}}`` since the process started."""
    with _LOCK:
        return {name: dict(counts) for name, counts in _STATS.items()}
