"""The one session memo (memo.py): check-then-build is atomic per key,
nested calls on other keys never wait, and an input rewritten in place
misses instead of serving the value built from the old bytes."""

from __future__ import annotations

import shutil
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from distributed_video_analytics_flink_spark import memo as M
from distributed_video_analytics_flink_spark.operators import similarity as S
from distributed_video_analytics_flink_spark.sources.tables import load_table
from tests.conftest import SF_DIR

_ZERO = {"hits": 0, "misses": 0}


@pytest.fixture
def clean_memo():
    saved = dict(M._ENTRIES)
    M._ENTRIES.clear()
    yield
    M._ENTRIES.clear()
    M._ENTRIES.update(saved)


def _stats(name):
    return M.memo_stats().get(name, _ZERO)


def test_concurrent_first_calls_build_once(spark, clean_memo):
    builds = []
    gate = threading.Barrier(2)

    def build():
        builds.append(1)
        time.sleep(0.2)  # the second caller arrives while this one builds
        return object()

    out = []

    def call():
        gate.wait()
        out.append(M.memo(spark, "t_once", "k", (), build))

    threads = [threading.Thread(target=call) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    assert len(builds) == 1
    assert len(out) == 2 and out[0] is out[1]


def test_many_threads_few_keys_count_every_call(spark, clean_memo):
    """More threads than cores on three keys, with a short switch
    interval: each key builds once and every call is counted once."""
    builds: dict[int, int] = {}
    n_threads, calls_each = 16, 20

    def build(k):
        builds[k] = builds.get(k, 0) + 1
        return k

    def work(i):
        for j in range(calls_each):
            k = (i + j) % 3
            assert M.memo(spark, "t_stress", k, (), lambda: build(k)) == k

    before = _stats("t_stress")
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    after = _stats("t_stress")
    assert builds == {0: 1, 1: 1, 2: 1}
    assert after["misses"] - before["misses"] == 3
    calls = after["hits"] + after["misses"] - before["hits"] - before["misses"]
    assert calls == n_threads * calls_each
    assert not M._SLOTS  # every per-key lock is released with its last user


def test_nested_call_and_distinct_keys_do_not_wait(spark, clean_memo):
    """The IVF-PQ index build reads the codebook memo while it holds its
    own key; a build on one key never blocks another key."""
    release = threading.Event()
    inner_done = threading.Event()

    def outer_build():
        # nested call on another key, made while this key is held
        inner = M.memo(spark, "t_inner", "k", (), lambda: "inner")
        inner_done.set()
        release.wait(timeout=30)
        return ("outer", inner)

    result = []
    t = threading.Thread(
        target=lambda: result.append(M.memo(spark, "t_outer", "k", (), outer_build))
    )
    t.start()
    assert inner_done.wait(timeout=30)
    # the outer key is still being built: another key goes straight through
    assert M.memo(spark, "t_outer", "other", (), lambda: "other") == "other"
    assert not result
    release.set()
    t.join(timeout=30)
    assert not t.is_alive()
    assert result == [("outer", "inner")]


def test_fixture_rewritten_in_place_misses(spark, tmp_path, clean_memo):
    """A copied embeddings.parquet is rewritten in place: the PQ codebook,
    the IVF coarse prelude and the k-NN frame must all miss and equal a
    fresh build over the new bytes, never serve the values built from
    the old ones."""
    sf = str(tmp_path)
    src = tmp_path / "embeddings.parquet"
    shutil.copy(f"{SF_DIR}/embeddings.parquet", src)

    def codebook():
        return S._fixture_codebook(spark, sf, load_table(spark, sf, "embeddings"))

    def coarse():
        return S._fixture_coarse(spark, sf, load_table(spark, sf, "embeddings"))

    def knn_rows(df):
        return sorted(tuple(r) for r in df.collect())

    old_cb = codebook()
    old_coarse = coarse()
    old_knn = knn_rows(S._shared_knn_frame(spark, sf))

    # every vector moves to the next vec_id: labels and ids stay, the
    # seeds, the trained centroids and the neighbour lists all change
    table = pq.read_table(src)
    emb = table.column("embedding").combine_chunks()
    n = len(emb)
    rolled = pa.concat_arrays([emb.slice(n - 1), emb.slice(0, n - 1)])
    i = table.schema.get_field_index("embedding")
    table = table.set_column(i, "embedding", rolled)
    pq.write_table(table, src)

    cb0, co0, knn0 = _stats("pq_codebook"), _stats("ivf_coarse"), _stats("knn_frame")
    new_cb = codebook()
    new_coarse = coarse()
    new_knn = knn_rows(S._shared_knn_frame(spark, sf))
    assert _stats("pq_codebook")["misses"] == cb0["misses"] + 1
    assert _stats("ivf_coarse")["misses"] == co0["misses"] + 1
    assert _stats("knn_frame")["misses"] == knn0["misses"] + 1

    fresh_emb = load_table(spark, sf, "embeddings")
    fresh_cb = S._pq_refined_codebook(fresh_emb)
    fresh_knn = knn_rows(
        S.label_knn_exact(
            fresh_emb.select("vec_id", "label", "embedding"),
            S._EXACT_CELL_BUCKETS,
            k=3,
        )
    )
    fresh_coarse = S._ivf_coarse_and_query(fresh_emb)
    assert all(np.array_equal(a, b) for a, b in zip(new_cb, fresh_cb))
    assert all(np.array_equal(a, b) for a, b in zip(new_coarse, fresh_coarse))
    assert new_knn == fresh_knn
    assert not np.array_equal(old_cb[1], new_cb[1])
    assert not np.array_equal(old_coarse[0], new_coarse[0])
    assert old_knn != new_knn
    # the memoized arrays are read-only: an in-place edit raises at once
    with pytest.raises(ValueError):
        new_coarse[0][0, 0] = 0.0


def test_second_ivf_topk_call_reuses_the_coarse_prelude(spark, tmp_path, clean_memo):
    """sim_ivf_topk's driver prelude (centroid and query collects) runs
    once per session and fixture content: on a copied fixture, a second
    call in the same session launches 2 fewer jobs than the first."""
    sf = str(tmp_path)
    shutil.copy(f"{SF_DIR}/embeddings.parquet", tmp_path / "embeddings.parquet")
    sc = spark.sparkContext

    def jobs_of_call(group):
        sc.setJobGroup(group, "ivf prelude job count")
        try:
            df = S.sim_ivf_topk(spark, sf)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), df

    n_first, first = jobs_of_call("ivf-topk-first")
    n_second, second = jobs_of_call("ivf-topk-second")
    assert n_first - n_second == 2, (n_first, n_second)
    assert sorted(first.collect()) == sorted(second.collect())
