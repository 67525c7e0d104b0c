"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed and sizes: the same seed
gives byte-identical inputs, another seed gives other inputs. Nothing here
touches Spark; the engine only ever sees the files these functions write.
"""

from __future__ import annotations

import base64
import os
from dataclasses import dataclass

import numpy as np

# Frame pools keep generation cheap: each camera cycles through a few
# distinct images, so consecutive frames differ (motion) or repeat (none).
LIVE_ROWS, LIVE_COLS = 480, 640
ARCHIVE_ROWS, ARCHIVE_COLS = 240, 320
BLOCK = 48  # moving-block side in pixels: area 2304 > the kernel's 300 minimum


def _scene(rng: np.random.Generator, rows: int, cols: int) -> np.ndarray:
    """A camera background: smooth gradient plus fixed low-amplitude texture
    (below the kernel's diff threshold, so it never reads as motion)."""
    base = rng.integers(40, 120, size=3)
    yy, xx = np.mgrid[0:rows, 0:cols]
    grad = (yy * 30 // rows + xx * 30 // cols).astype(np.int16)
    tex = rng.integers(0, 6, size=(rows, cols, 1), dtype=np.int16)
    img = base[None, None, :] + grad[:, :, None] + tex
    return np.clip(img, 0, 255).astype(np.uint8)


def _variants(
    rng: np.random.Generator, scene: np.ndarray, n: int
) -> list[np.ndarray]:
    """``n`` frames of one scene, each with a bright block at its own spot;
    the spots are far enough apart that any two variants differ."""
    rows, cols = scene.shape[:2]
    out = []
    xs = np.linspace(0, cols - BLOCK, n).astype(int)
    for i in range(n):
        img = scene.copy()
        y = int(rng.integers(0, rows - BLOCK))
        img[y : y + BLOCK, xs[i] : xs[i] + BLOCK] = rng.integers(180, 255, size=3)
        out.append(img)
    return out


@dataclass
class LivePool:
    """Per-camera frame variants for the live workload, pre-encoded in the
    reference's wire format (base64 of raw BGR)."""

    cams: list[str]
    frames: dict[str, list[np.ndarray]]
    b64: dict[str, list[str]]
    rows: int
    cols: int

    def variant(self, cam: str, index: int) -> int:
        """Frame ``index`` of ``cam`` shows variant ``index mod n``: every
        frame differs from its predecessor, so every frame after a camera's
        first carries motion."""
        return index % len(self.frames[cam])


def live_pool(
    seed: int, n_cams: int = 4, n_variants: int = 5,
    rows: int = LIVE_ROWS, cols: int = LIVE_COLS,
) -> LivePool:
    rng = np.random.default_rng([seed, 1])
    cams = [f"cam{i + 1}" for i in range(n_cams)]
    frames = {c: _variants(rng, _scene(rng, rows, cols), n_variants) for c in cams}
    b64 = {
        c: [base64.b64encode(f.tobytes()).decode("ascii") for f in fs]
        for c, fs in frames.items()
    }
    return LivePool(cams, frames, b64, rows, cols)


@dataclass
class Archive:
    """An MJPEG-AVI camera archive on disk plus the frame sequence each
    file holds, as indexes into the shared pool of decoded-truth images."""

    path: str
    sequences: dict[str, list[int]]  # camId -> pool index per frame
    jpegs: list[bytes]  # pool, encoded once
    rows: int
    cols: int

    @property
    def n_frames(self) -> int:
        return sum(len(s) for s in self.sequences.values())


def archive(
    seed: int, path: str, n_cams: int = 16, frames_per_cam: int = 64,
    n_scenes: int = 4, n_variants: int = 4,
    rows: int = ARCHIVE_ROWS, cols: int = ARCHIVE_COLS,
) -> Archive:
    """Write ``n_cams`` MJPEG AVIs. Camera ``c`` films scene ``c % n_scenes``;
    at each frame it moves to another variant with the seeded motion share,
    else repeats the last one (a repeated frame has no motion)."""
    from distributed_video_analytics_flink_spark.sources.avi import encode_avi
    from distributed_video_analytics_flink_spark.sources.jpeg import encode_jpeg

    rng = np.random.default_rng([seed, 2])
    pool: list[np.ndarray] = []
    for _ in range(n_scenes):
        pool.extend(_variants(rng, _scene(rng, rows, cols), n_variants))
    jpegs = [encode_jpeg(f, quality=75, subsampling="420") for f in pool]
    motion_share = float(rng.uniform(0.45, 0.55))
    os.makedirs(path, exist_ok=True)
    sequences: dict[str, list[int]] = {}
    for c in range(n_cams):
        first = (c % n_scenes) * n_variants
        cur = int(rng.integers(0, n_variants))
        seq = []
        for _ in range(frames_per_cam):
            if rng.random() < motion_share:
                cur = (cur + int(rng.integers(1, n_variants))) % n_variants
            seq.append(first + cur)
        cam = f"cam{c:02d}"
        sequences[cam] = seq
        data = encode_avi(
            [pool[i] for i in seq], codec="mjpeg", pre_encoded=[jpegs[i] for i in seq]
        )
        with open(os.path.join(path, f"{cam}.avi"), "wb") as fh:
            fh.write(data)
    return Archive(path, sequences, jpegs, rows, cols)


# --- analytics tables ------------------------------------------------------

_WORDS = (
    "the a fast slow big small data table row column key value part line "
    "order customer join merge sort hash scan filter group agg window batch "
    "stream spark query dup"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_TYPES = ["ECONOMY", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "es", "fr", "zh"]


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(int), n)).astype("datetime64[us]")


def tables(seed: int, path: str, scale: float = 0.01) -> dict[str, int]:
    """Write the star schema + events/documents/embeddings tables the
    registered queries read (one parquet file each, TPC-H-like shapes).
    Returns the row count per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(path, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1500, int(1_500_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))
    n_docs, n_vecs, dim = 500, 500, 64

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(n_supp, -999.99, 9999.99),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(_WORDS)} widget" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": money(n_orders, 1000, 400000),
        "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_events)
    )
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, 15, n_events).astype(np.int64),
        "event_type": rng.choice(_EVENTS, n_events),
        "value": money(n_events, 0, 500),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.1:
            # near-duplicate of an earlier document: dedup legs find pairs
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(20, 80)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0, 0.1, (10, dim))
    emb = (centers[labels] + rng.normal(0, 0.06, (n_vecs, dim))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": labels,
    })
    for name, tbl in out.items():
        pq.write_table(tbl, os.path.join(path, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in out.items()}
