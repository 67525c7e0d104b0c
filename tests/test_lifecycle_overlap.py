"""Pins for the r18 lifecycle-action overlap (VERDICT r17 #5): the
IVF-PQ retrain legs run their independent bounded driver actions
(pre-roll top-5, exact ground truth, coarse Lloyd chain, PQ retrain)
from a small driver thread pool instead of sequentially. The overlap
must be result-invisible: the overlapped rows equal a sequential run of
the same thunks, result order follows submission order, and a thunk's
exception propagates."""

from __future__ import annotations

import pytest

from distributed_video_analytics_flink_spark.operators import similarity as S
from tests.conftest import SF_DIR


def test_overlap_preserves_order_and_propagates_errors():
    assert S._overlap(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]
    assert S._overlap(lambda: "only") == ["only"]

    def boom():
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        S._overlap(lambda: 1, boom)


def test_retrain_rows_identical_with_and_without_overlap(spark, monkeypatch):
    ovl = S.sim_ivf_pq_retrain_checked(spark, SF_DIR).collect()
    # the sequential reference: the same thunks, run one after another
    monkeypatch.setattr(S, "_overlap", lambda *thunks: [t() for t in thunks])
    seq = S.sim_ivf_pq_retrain_checked(spark, SF_DIR).collect()
    assert seq == ovl
