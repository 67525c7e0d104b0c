"""sim_ivf_pq_at_rest: IVF+PQ served from the cell-partitioned parquet
index (VERDICT r6 #6 — the composed 100 TB serving shape). Pins:

1. **Partition-pruned scan** — the probe predicate plans as a
   PartitionFilter and the executed scan's metrics read only the probed
   cells' partitions/files.
2. **Codes-only serving** — the index holds (vec_id, codes, cent_id);
   no embedding bytes exist at rest, and the serving plan contains no
   Python evaluation node (ADC is JVM element_at lookups).
3. **Equality with the in-closure twin** — identical top-5 to
   sim_ivf_pq_topk_refined (same probes, codes, integer ADC).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_video_analytics_flink_spark.operators.similarity import (
    _N_PROBE,
    _ivf_coarse_and_query,
    sim_ivf_pq_at_rest,
    sim_ivf_pq_topk_refined,
    write_ivf_pq_index,
)
from distributed_video_analytics_flink_spark.plans import formatted_plan
from distributed_video_analytics_flink_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _index_keys(path):
    """The session memo's entries for the index published at ``path``."""
    from distributed_video_analytics_flink_spark.memo import _ENTRIES

    return [k for k in _ENTRIES if k[1] == "ivf_pq_index" and k[2] == path]


def test_at_rest_serving_prunes_to_probed_cells(spark, tmp_path):
    path = write_ivf_pq_index(spark, SF, str(tmp_path / "index"))
    table = spark.read.parquet(path)
    assert sorted(table.columns) == ["cent_id", "codes", "vec_id"]

    emb = load_table(spark, SF, "embeddings")
    _, _, _, _, probes = _ivf_coarse_and_query(emb)
    assert len(probes) == _N_PROBE
    probed = table.filter(F.col("cent_id").isin(probes))

    plan = formatted_plan(probed)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cent_id" in pf_line and "IN" in pf_line

    rows = probed.collect()
    populated = {
        r["cent_id"]
        for r in table.select("cent_id").distinct().collect()
        if r["cent_id"] in probes
    }
    assert len(rows) > 0 and {r["cent_id"] for r in rows} == populated

    leaf = probed._jdf.queryExecution().executedPlan().collectLeaves().head()
    metrics = leaf.metrics()
    assert metrics.apply("numPartitions").value() == len(populated)
    assert metrics.apply("numFiles").value() < len(table.inputFiles())


def test_at_rest_serving_is_jvm_only(spark):
    df = sim_ivf_pq_at_rest(spark, SF)
    plan = formatted_plan(df)
    # the SERVING plan reads the coded table and does element_at lookups —
    # no Arrow/Python evaluation anywhere
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_at_rest_matches_in_closure_twin(spark):
    at_rest = [tuple(r) for r in sim_ivf_pq_at_rest(spark, SF).collect()]
    twin = [tuple(r) for r in sim_ivf_pq_topk_refined(spark, SF).collect()]
    assert at_rest == twin and len(at_rest) == 5


def test_index_publish_is_atomic_and_race_tolerant(spark, tmp_path):
    """The build lands in a sibling temp dir and one os.rename exposes
    it — a concurrent reader can never observe a half-written index (the
    old mode-overwrite wrote into the live path). Losing the publish
    race keeps the existing identical index and discards the duplicate
    build."""
    import os

    from distributed_video_analytics_flink_spark import memo as M

    path = str(tmp_path / "idx")
    write_ivf_pq_index(spark, SF, path)
    assert len(_index_keys(path)) == 1
    files = set(os.listdir(path))
    # a second process misses the session memo and builds again onto
    # the same published path: simulate by forgetting the memo entry
    for k in _index_keys(path):
        del M._ENTRIES[k]
    misses = M.memo_stats()["ivf_pq_index"]["misses"]
    assert write_ivf_pq_index(spark, SF, path) == path
    assert M.memo_stats()["ivf_pq_index"]["misses"] == misses + 1  # rebuilt
    assert set(os.listdir(path)) == files  # existing index kept intact
    leftovers = [d for d in os.listdir(tmp_path) if d.startswith("idx.build-")]
    assert leftovers == []  # losing build cleaned up
    assert spark.read.parquet(path).count() > 0


def test_index_path_tracks_fixture_content(tmp_path):
    """The index path fingerprints the embeddings source (size+mtime), so
    regenerating the fixture IN PLACE yields a new index path — the
    publish race-loser's 'existing directory is the same index'
    assumption can never pin a stale index to fresh data (r7 review)."""
    from distributed_video_analytics_flink_spark.operators.similarity import (
        ivf_pq_index_path,
    )

    src = tmp_path / "embeddings.parquet"
    src.write_bytes(b"AAA")
    p1 = ivf_pq_index_path(str(tmp_path))
    assert ivf_pq_index_path(str(tmp_path)) == p1  # deterministic
    src.write_bytes(b"BBBB")  # regenerated fixture, same directory
    assert ivf_pq_index_path(str(tmp_path)) != p1


def test_rebuild_removes_expired_index_dirs_of_the_fixture(spark, tmp_path):
    """A copied fixture rewritten in place builds its index under a new
    tag. The rebuild keeps the old directory while it is inside gc's
    reader grace, and removes it once its whole tree is aged past the
    grace (as sim_ivf_pq_gc_checked ages a superseded version): one
    directory per fixture is left."""
    import os
    import shutil
    import time

    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "embeddings.parquet"

    def rewrite(mtime):
        shutil.copy(f"{SF}/embeddings.parquet", src)
        os.utime(src, (mtime, mtime))

    def age(path):
        old = time.time() - 7 * 86400
        for r, ds, fs in os.walk(path):
            for nm in ds + fs:
                os.utime(os.path.join(r, nm), (old, old))
        os.utime(path, (old, old))

    def fixture_dirs(path):
        root, name = os.path.split(path)
        prefix = name.rsplit("_", 1)[0] + "_"
        return sorted(os.path.join(root, e) for e in os.listdir(root) if e.startswith(prefix))

    paths = []
    try:
        for step, mtime in enumerate((1e9, 1e9 + 10, 1e9 + 20)):
            rewrite(mtime)
            paths.append(write_ivf_pq_index(spark, str(sf)))
            if step == 1:  # the first build is still inside the grace
                assert fixture_dirs(paths[1]) == sorted(paths)
                for p in paths:
                    age(p)
        assert len(set(paths)) == 3
        assert fixture_dirs(paths[2]) == [paths[2]]
    finally:
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)


def test_index_cache_root_is_private_and_validated(tmp_path):
    """The index cache lives in a per-user 0700 subdirectory of the temp
    dir (ADVICE r7): another local user cannot squat the predictable path,
    and the publish-race loser only trusts an existing directory after an
    ownership + _SUCCESS completeness check."""
    import os
    import stat

    from distributed_video_analytics_flink_spark.operators.similarity import (
        ivf_pq_index_path,
    )

    src = tmp_path / "embeddings.parquet"
    src.write_bytes(b"AAA")
    p = ivf_pq_index_path(str(tmp_path))
    root = os.path.dirname(p)
    st = os.stat(root)
    assert st.st_uid == os.getuid()
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert f"-{os.getuid()}" in os.path.basename(root)


def test_race_loser_rejects_incomplete_existing_index(spark, tmp_path, monkeypatch):
    """If the directory already at the published path lacks the committer's
    _SUCCESS marker (a crashed half-write — or a squatted fake), the race
    loser refuses to serve from it instead of silently trusting it."""
    import os

    path = str(tmp_path / "idx")
    os.makedirs(path)  # pre-existing, incomplete: no _SUCCESS inside
    monkeypatch.setattr(
        os, "rename", lambda *a, **k: (_ for _ in ()).throw(OSError("race"))
    )
    with pytest.raises(RuntimeError, match="ownership/completeness"):
        write_ivf_pq_index(spark, SF, path)
    assert _index_keys(path) == []  # a failed build leaves no memo entry


# ---------------------------------------------------------------------------
# Incremental maintenance (VERDICT r7 #4): append_ivf_pq_index encodes new
# vectors against the index's frozen _model.json sidecar and appends them
# into the live cell-partitioned layout; serving sees them immediately and
# pruning is preserved.
# ---------------------------------------------------------------------------


def _copy_vectors(spark, n=5, id_offset=1_000_000):
    """(DataFrame, rows): copies of fixture vectors 1..n under shifted ids —
    appended vectors whose correct frozen encoding is known from the base."""
    emb = load_table(spark, SF, "embeddings")
    src = emb.filter(F.col("vec_id").between(1, n)).select(
        (F.col("vec_id") + id_offset).alias("vec_id"), "embedding"
    )
    return src


def test_append_visible_and_pruning_preserved(spark, tmp_path):
    from distributed_video_analytics_flink_spark.operators.similarity import (
        append_ivf_pq_index,
    )

    path = write_ivf_pq_index(spark, SF, str(tmp_path / "index"))
    before = spark.read.parquet(path)
    base_cells = {
        r["vec_id"]: r["cent_id"]
        for r in before.filter(F.col("vec_id").between(1, 5)).collect()
    }

    append_ivf_pq_index(_copy_vectors(spark, n=5), path)

    after = spark.read.parquet(path)
    # 1. visibility: every appended row present, in its original's cell
    got = {
        r["vec_id"] - 1_000_000: r["cent_id"]
        for r in after.filter(F.col("vec_id") >= 1_000_000).collect()
    }
    assert got == base_cells
    # 2. frozen encoding: codes identical to the base row's
    a = after.filter(F.col("vec_id") >= 1_000_000).select(
        (F.col("vec_id") - 1_000_000).alias("vec_id"),
        F.col("codes").alias("a_codes"),
    )
    b = after.filter(F.col("vec_id").between(1, 5)).select("vec_id", "codes")
    joined = a.join(b, "vec_id").collect()
    assert len(joined) == 5
    assert all(list(r["a_codes"]) == list(r["codes"]) for r in joined)
    # 3. pruning preserved: the probe predicate still plans as a
    #    PartitionFilter and the executed scan still opens only probed cells
    emb = load_table(spark, SF, "embeddings")
    probes = _ivf_coarse_and_query(emb)[4]
    probed = after.filter(F.col("cent_id").isin(probes))
    plan = formatted_plan(probed)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cent_id" in pf_line and "IN" in pf_line
    probed.collect()
    leaf = probed._jdf.queryExecution().executedPlan().collectLeaves().head()
    populated = {
        r["cent_id"]
        for r in after.select("cent_id").distinct().collect()
        if r["cent_id"] in probes
    }
    assert leaf.metrics().apply("numPartitions").value() == len(populated)


def test_append_requires_complete_index(spark, tmp_path):
    """Appending into a directory that is not a complete published index
    (no _SUCCESS / _model.json) must refuse loudly, never write blind."""
    import pytest as _pytest

    from distributed_video_analytics_flink_spark.operators.similarity import (
        append_ivf_pq_index,
    )

    bad = tmp_path / "not-an-index"
    bad.mkdir()
    with _pytest.raises(RuntimeError, match="ownership/completeness"):
        append_ivf_pq_index(_copy_vectors(spark, n=1), str(bad))


def test_append_empty_batch_is_noop(spark, tmp_path):
    from distributed_video_analytics_flink_spark.operators.similarity import (
        append_ivf_pq_index,
    )

    path = write_ivf_pq_index(spark, SF, str(tmp_path / "index"))
    files_before = sorted(spark.read.parquet(path).inputFiles())
    empty = _copy_vectors(spark, n=1).limit(0)
    append_ivf_pq_index(empty, path)
    assert sorted(spark.read.parquet(path).inputFiles()) == files_before


def test_stream_append_foreachbatch(spark, tmp_path):
    """The streaming wrapper: a (vec_id, embedding) JSON file stream appends
    into the served index one micro-batch at a time; appended vectors are
    visible after processAllAvailable with their frozen cell assignment,
    and a drained source appends nothing more."""
    import json

    from distributed_video_analytics_flink_spark.operators.similarity import (
        stream_append_ivf_pq_index,
    )

    path = write_ivf_pq_index(spark, SF, str(tmp_path / "index"))
    base = {
        r["vec_id"]: r["cent_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("vec_id").between(1, 4))
        .collect()
    }
    src_rows = (
        load_table(spark, SF, "embeddings")
        .filter(F.col("vec_id").between(1, 4))
        .collect()
    )
    data_dir = tmp_path / "incoming"
    data_dir.mkdir()
    for i, r in enumerate(src_rows):
        p = data_dir / f"vecs-{i}.json"
        p.write_text(
            json.dumps(
                {
                    "vec_id": r["vec_id"] + 2_000_000,
                    "embedding": [float(x) for x in r["embedding"]],
                }
            )
        )

    stream = spark.readStream.schema("vec_id long, embedding array<float>").option(
        "maxFilesPerTrigger", "2"
    ).json(str(data_dir))
    q = stream_append_ivf_pq_index(stream, path, str(tmp_path / "ck"))
    q.processAllAvailable()
    n_files = len(spark.read.parquet(path).inputFiles())
    q.processAllAvailable()  # drained source: no further appends
    q.stop()

    after = spark.read.parquet(path)
    assert len(after.inputFiles()) == n_files
    got = {
        r["vec_id"] - 2_000_000: r["cent_id"]
        for r in after.filter(F.col("vec_id") >= 2_000_000).collect()
    }
    assert got == base


def test_append_checked_query_green(spark):
    from distributed_video_analytics_flink_spark.operators.similarity import (
        _N_APPEND,
        sim_ivf_pq_append_checked,
    )

    rows = sim_ivf_pq_append_checked(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_appended"] == _N_APPEND
    assert r["encoding_matches_base"] is True
    assert 0 < r["n_appended_visible"] <= _N_APPEND


def test_append_drops_malformed_rows_permissive(spark, tmp_path):
    """A streamed append batch with null ids, null embeddings, or
    wrong-dimension vectors (which would make the encoder's reshape
    ragged) must drop those rows and append the valid ones — the wire
    PERMISSIVE stance; an always-on ingestion query never dies on one
    malformed record."""
    from distributed_video_analytics_flink_spark.operators.similarity import (
        append_ivf_pq_index,
    )

    path = write_ivf_pq_index(spark, SF, str(tmp_path / "index"))
    good = (
        load_table(spark, SF, "embeddings")
        .filter(F.col("vec_id") == 2)
        .select((F.col("vec_id") + 3_000_000).alias("vec_id"), "embedding")
        .collect()[0]
    )
    dim = len(good["embedding"])
    rows = [
        (good["vec_id"], list(good["embedding"])),
        (None, list(good["embedding"])),  # null id
        (3_000_099, None),  # null embedding
        (3_000_098, [1.0, 2.0]),  # wrong dimension
        (3_000_097, [float("nan")] * dim),  # NaN elements: garbage encode
        (3_000_096, [None] * dim),  # null elements: same
    ]
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    append_ivf_pq_index(batch, path)
    appended = (
        spark.read.parquet(path).filter(F.col("vec_id") >= 3_000_000).collect()
    )
    assert [r["vec_id"] for r in appended] == [good["vec_id"]]


def test_compact_rolls_version_identically(spark, tmp_path):
    """Compaction after a run of small appends must produce a NEW index
    version with (1) the identical row set — it moves bytes, never
    re-encodes, (2) bounded files per cell, (3) the frozen model carried
    over so future appends still encode identically, and (4) pruning
    intact on the compacted layout."""
    from distributed_video_analytics_flink_spark.operators.similarity import (
        append_ivf_pq_index,
        compact_ivf_pq_index,
    )

    path = write_ivf_pq_index(spark, SF, str(tmp_path / "v1"))
    for off in (1_000_000, 2_000_000, 3_000_000):
        append_ivf_pq_index(_copy_vectors(spark, n=3, id_offset=off), path)

    dst = str(tmp_path / "v2")
    compact_ivf_pq_index(spark, path, dst)

    before = spark.read.parquet(path)
    after = spark.read.parquet(dst)
    key = lambda r: (r["vec_id"], tuple(r["codes"]), r["cent_id"])  # noqa: E731
    assert sorted(map(key, after.collect())) == sorted(map(key, before.collect()))

    # bounded files: at most files_per_cell (=1) per cell directory
    import collections
    import os as _os

    per_cell = collections.Counter(
        _os.path.dirname(f) for f in after.inputFiles()
    )
    assert max(per_cell.values()) == 1
    assert len(after.inputFiles()) < len(before.inputFiles())

    # model carried: appends against the compacted version still encode
    # identically to the original build
    append_ivf_pq_index(_copy_vectors(spark, n=1, id_offset=4_000_000), dst)
    a = spark.read.parquet(dst).filter(F.col("vec_id") == 4_000_001).collect()[0]
    b = spark.read.parquet(path).filter(F.col("vec_id") == 1_000_001).collect()[0]
    assert list(a["codes"]) == list(b["codes"]) and a["cent_id"] == b["cent_id"]

    # pruning intact
    emb = load_table(spark, SF, "embeddings")
    probes = _ivf_coarse_and_query(emb)[4]
    plan = formatted_plan(after.filter(F.col("cent_id").isin(probes)))
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cent_id" in pf_line and "IN" in pf_line


def test_compact_fences_concurrent_appends(spark, tmp_path, monkeypatch):
    """Compaction's writer contract says quiesce appenders first; the
    fence must turn a violated contract (a batch landing after the read
    snapshot) into a loud error, never a silently thinner dst version.
    Injection point: right after the compacted copy is written (before
    the pre-publish fence)."""
    import pytest as _pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from distributed_video_analytics_flink_spark.operators import similarity as S

    path = write_ivf_pq_index(spark, SF, str(tmp_path / "v1"))

    orig_parquet = DataFrameWriter.parquet
    state = {"armed": True}

    def sneaky_parquet(self, p, **kw):
        out = orig_parquet(self, p, **kw)
        if state["armed"] and ".build-" in p:
            state["armed"] = False  # the injected append must not recurse
            S.append_ivf_pq_index(
                _copy_vectors(spark, n=1, id_offset=6_000_000), path
            )
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", sneaky_parquet)
    with _pytest.raises(RuntimeError, match="changed during compaction"):
        S.compact_ivf_pq_index(spark, path, str(tmp_path / "v2"))
    monkeypatch.undo()
    assert not (tmp_path / "v2").exists()  # nothing published


def test_compact_toctou_append_after_fence_rolls_back(spark, tmp_path, monkeypatch):
    """r8 ADVICE: an append landing BETWEEN the pre-publish re-list and
    os.rename was previously undetected (a silently thinner dst stayed
    published). The post-publish re-list must catch it, roll the dst
    back, and raise."""
    import os as _os

    import pytest as _pytest

    from distributed_video_analytics_flink_spark.operators import similarity as S

    path = write_ivf_pq_index(spark, SF, str(tmp_path / "v1"))

    real_rename = _os.rename
    state = {"armed": True}

    def sneaky_rename(src, dst):
        if state["armed"] and src.endswith("v2") is False and ".build-" in src:
            state["armed"] = False
            S.append_ivf_pq_index(
                _copy_vectors(spark, n=1, id_offset=7_000_000), path
            )
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", sneaky_rename)
    with _pytest.raises(RuntimeError, match="changed during compaction"):
        S.compact_ivf_pq_index(spark, path, str(tmp_path / "v2"))
    monkeypatch.undo()
    assert not (tmp_path / "v2").exists()  # published copy rolled back
    # ... but QUARANTINED, not deleted (r9 ADVICE): a reader that flipped
    # to v2 before the fence never has its files rmtree'd mid-scan, and
    # the operator can inspect/recover the complete copy
    quarantined = [
        d for d in _os.listdir(tmp_path) if d.startswith("v2.quarantine-")
    ]
    assert len(quarantined) == 1
    assert (tmp_path / quarantined[0] / "index" / "_model.json").exists()


# ---------------------------------------------------------------------------
# Deletions (VERDICT r8 #4): tombstone sidecars applied at serve time,
# physically dropped by compaction's version roll.
# ---------------------------------------------------------------------------


def test_delete_invisible_through_pruned_scan(spark, tmp_path):
    """A tombstoned vec_id disappears from the serve view immediately —
    including through the probe-pruned scan — while pruning itself stays
    a PartitionFilter and untouched rows are unaffected."""
    from distributed_video_analytics_flink_spark.operators.similarity import (
        delete_from_ivf_pq_index,
        read_ivf_pq_index,
    )

    path = write_ivf_pq_index(spark, SF, str(tmp_path / "index"))
    emb = load_table(spark, SF, "embeddings")
    probes = _ivf_coarse_and_query(emb)[4]
    base = spark.read.parquet(path)
    in_probed = [
        r["vec_id"]
        for r in base.filter(F.col("cent_id").isin(probes)).limit(2).collect()
    ]
    assert len(in_probed) == 2

    delete_from_ivf_pq_index(spark, in_probed, path)

    view = read_ivf_pq_index(spark, path)
    probed = view.filter(F.col("cent_id").isin(probes))
    got = {r["vec_id"] for r in probed.collect()}
    assert not (set(in_probed) & got)
    # untouched rows: everything else in the probed cells is still served
    want = {
        r["vec_id"]
        for r in base.filter(F.col("cent_id").isin(probes)).collect()
    } - set(in_probed)
    assert got == want
    # pruning preserved through the anti-join
    plan = formatted_plan(probed)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cent_id" in pf_line and "IN" in pf_line
    # deleting a never-indexed id is a no-op
    delete_from_ivf_pq_index(spark, [987_654_321], path)
    assert read_ivf_pq_index(spark, path).count() == view.count()


def test_compact_drops_tombstones_physically(spark, tmp_path):
    """The version roll applies tombstones: deleted rows are absent from
    the dst's PLAIN scan (physically gone, not filtered), dst starts with
    an empty tombstone set, and the model carry + appendability survive."""
    import os as _os

    from distributed_video_analytics_flink_spark.operators.similarity import (
        _IVF_PQ_TOMBSTONE_DIR,
        append_ivf_pq_index,
        compact_ivf_pq_index,
        delete_from_ivf_pq_index,
        read_ivf_pq_index,
    )

    path = write_ivf_pq_index(spark, SF, str(tmp_path / "v1"))
    append_ivf_pq_index(_copy_vectors(spark, n=3, id_offset=1_000_000), path)
    victims = [1_000_001, 1_000_002]
    delete_from_ivf_pq_index(spark, victims, path)

    dst = str(tmp_path / "v2")
    compact_ivf_pq_index(spark, path, dst)

    plain = spark.read.parquet(dst)  # NOT the tombstone-aware reader
    ids = {r["vec_id"] for r in plain.select("vec_id").collect()}
    assert not (set(victims) & ids)
    assert 1_000_003 in ids  # surviving appended row carried over
    assert not _os.path.isdir(_os.path.join(dst, _IVF_PQ_TOMBSTONE_DIR))
    # row set == source serve view, bit-identical
    key = lambda r: (r["vec_id"], tuple(r["codes"]), r["cent_id"])  # noqa: E731
    assert sorted(map(key, plain.collect())) == sorted(
        map(key, read_ivf_pq_index(spark, path).collect())
    )
    # model carried: a post-compaction append still encodes identically
    append_ivf_pq_index(_copy_vectors(spark, n=1, id_offset=4_000_000), dst)
    a = spark.read.parquet(dst).filter(F.col("vec_id") == 4_000_001).collect()[0]
    b = spark.read.parquet(path).filter(F.col("vec_id") == 1).collect()[0]
    assert list(a["codes"]) == list(b["codes"]) and a["cent_id"] == b["cent_id"]
    # re-deleting on the new version works (fresh tombstone lifecycle)
    delete_from_ivf_pq_index(spark, [4_000_001], dst)
    assert 4_000_001 not in {
        r["vec_id"] for r in read_ivf_pq_index(spark, dst).collect()
    }
