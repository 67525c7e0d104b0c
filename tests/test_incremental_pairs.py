"""Pins for dedup_incremental_pairs (curation.py): (1) the incremental
carried+delta union equals a FULL LSH recompute over the new snapshot
(two-way exceptAll); (2) the delta x corpus band join is a
ShuffledHashJoin with the DELTA side as the hash BUILD side — the plan
property that makes the operator O(delta), not O(corpus^2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_video_analytics_flink_spark.operators.curation import (
    dedup_incremental_pairs,
)
from distributed_video_analytics_flink_spark.operators.dedup import (
    N_BANDS,
    _bands_from_sigs,
    _first_match_pred,
    minhash_signature_df,
)
from distributed_video_analytics_flink_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _full_recompute_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 4)
    bands = _bands_from_sigs(minhash_signature_df(docs.select("doc_id", "text")))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(_first_match_pred(lambda s, i: f"{s}.bh[{i}]", N_BANDS))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )


def test_incremental_equals_full_recompute(spark):
    inc = dedup_incremental_pairs(spark, SF_DIR).select("doc_a", "doc_b")
    full = _full_recompute_pairs(spark, SF_DIR)
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0
    # and the incremental union is itself duplicate-free
    assert inc.count() == inc.distinct().count()


def test_delta_band_join_builds_on_the_delta(spark):
    """The delta side carries hint('shuffle_hash') and sits LEFT of the
    band join, so the physical plan must contain a ShuffledHashJoin
    building on the left — a regression to sort-merge (corpus-side
    sort) or to broadcasting the CORPUS side would change this."""
    plan = dedup_incremental_pairs(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan[:2000]
    import re

    m = re.search(r"ShuffledHashJoin [^\n]*band_hash[^\n]*", plan)
    assert m and "BuildLeft" in m.group(0), m.group(0) if m else plan[:2000]


def test_stream_maintained_pairs_equal_full_recompute(spark, tmp_path):
    """The STREAMING twin (streaming/corpus.py::stream_incremental_pairs,
    VERDICT r14 #7): docs arrive across three micro-batches — including a
    doc_id RE-EMITTED with changed text (its old pair must tombstone) and
    a pair formed in batch 2 that must CARRY untouched through batch 3 —
    and the maintained ``pairs/`` state must equal a full LSH recompute
    over the latest-text corpus, via two directed exceptAll diffs."""
    import json as _json
    import os as _os

    from distributed_video_analytics_flink_spark.operators.dedup import (
        N_BANDS,
        _bands_from_sigs,
        _first_match_pred,
        minhash_signature_df,
    )
    from distributed_video_analytics_flink_spark.streaming import (
        stream_incremental_pairs,
    )

    t_a = "alpha beta gamma delta epsilon zeta"
    t_b = "uno dos tres cuatro cinco seis"
    t_c = "completely different replacement text arrives now"
    t_d = "unique unrelated content with nothing shared here"
    batches = [
        # batch 1: (1, 3) pair forms
        [(1, t_a), (2, t_b), (3, t_a)],
        # batch 2: doc 3 CHANGES (tombstones (1, 3)); 6 pairs with 1;
        # 4 pairs with 2
        [(3, t_c), (4, t_b), (6, t_a)],
        # batch 3: unrelated doc — (1, 6) and (2, 4) must carry
        [(7, t_d)],
    ]
    data_dir = tmp_path / "docs_in"
    data_dir.mkdir()
    for i, batch in enumerate(batches):
        p = data_dir / f"b{i}.jsonl"
        p.write_text(
            "\n".join(
                _json.dumps(
                    {
                        "doc_id": d,
                        "text": t,
                        "ingest_ts": f"2024-06-01T00:0{i}:00.000+00:00",
                    }
                )
                for d, t in batch
            )
        )
        _os.utime(p, (1_700_000_000 + i * 100,) * 2)

    stream = (
        spark.readStream.schema("doc_id long, text string, ingest_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    q = stream_incremental_pairs(
        stream, str(tmp_path / "state"), str(tmp_path / "ck")
    )
    q.processAllAvailable()
    q.stop()

    maintained = spark.read.parquet(str(tmp_path / "state" / "pairs")).drop(
        "bucket"
    )
    got = sorted((r["doc_a"], r["doc_b"]) for r in maintained.collect())
    assert got == [(1, 6), (2, 4)]  # tombstoned (1,3) gone; both carried

    # full recompute over the latest-text corpus, engine machinery
    final = {d: t for batch in batches for d, t in batch}
    docs = spark.createDataFrame(list(final.items()), "doc_id long, text string")
    bands = _bands_from_sigs(minhash_signature_df(docs))
    fa, fb = bands.alias("a"), bands.alias("b")
    full = (
        fa.join(
            fb,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(_first_match_pred(lambda s, i: f"{s}.bh[{i}]", N_BANDS))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    assert maintained.exceptAll(full).count() == 0
    assert full.exceptAll(maintained).count() == 0

    # the maintained signature state matches a full re-sign too
    sigs = spark.read.parquet(str(tmp_path / "state" / "sigs")).drop("bucket")
    full_sigs = minhash_signature_df(docs)
    assert sigs.exceptAll(full_sigs).count() == 0
    assert full_sigs.exceptAll(sigs).count() == 0


def test_stream_pair_maintenance_is_retry_idempotent(spark, tmp_path):
    """The docstring claims idempotency across crash-retry BY
    CONSTRUCTION (a foreachBatch re-run after a crash-before-checkpoint
    re-applies the same batch): re-running maintain_incremental_pairs on
    the SAME batch frame must leave both state tables byte-equal."""
    from distributed_video_analytics_flink_spark.streaming import (
        maintain_incremental_pairs,
    )

    state = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "2024-06-01T00:00:00"),
            (3, "alpha beta gamma delta epsilon zeta", "2024-06-01T00:00:01"),
        ],
        "doc_id long, text string, ingest_ts string",
    )
    maintain_incremental_pairs(b1, state)
    b2 = spark.createDataFrame(
        [(6, "alpha beta gamma delta epsilon zeta", "2024-06-01T00:01:00")],
        "doc_id long, text string, ingest_ts string",
    )
    maintain_incremental_pairs(b2, state)
    def _pairs():
        return sorted(
            (r["doc_a"], r["doc_b"])
            for r in spark.read.parquet(f"{state}/pairs").collect()
        )

    def _sigs():
        return sorted(
            tuple(r)
            for r in spark.read.parquet(f"{state}/sigs").drop("bucket").collect()
        )

    pairs_once, sigs_once = _pairs(), _sigs()
    # the crash-retry: batch 2 delivered again
    maintain_incremental_pairs(b2, state)
    assert _pairs() == pairs_once
    assert _sigs() == sigs_once
    # and the state is the expected one: all three docs pairwise near-dup
    assert pairs_once == [(1, 3), (1, 6), (3, 6)]


def test_untouched_bucket_files_unchanged_across_batch(spark, tmp_path):
    """The 100 TB contract of the bucketed state (VERDICT r15 #3): a
    micro-batch's state I/O is a dynamic-partition overwrite of ONLY the
    affected buckets. A batch whose delta lands entirely in bucket 2
    must leave bucket 1's sig and pair files byte-identical — same
    names, sizes, and mtimes — while bucket 2's change."""
    import os

    from distributed_video_analytics_flink_spark.streaming import (
        maintain_incremental_pairs,
    )
    from distributed_video_analytics_flink_spark.streaming.corpus import (
        _STATE_BUCKETS,
    )

    assert _STATE_BUCKETS == 16  # doc_id choices below depend on it
    state = str(tmp_path / "state")

    def _listing(sub):
        d = os.path.join(state, sub)
        if not os.path.isdir(d):
            return None
        out = set()
        for f in os.listdir(d):
            if not f.startswith(("_", ".")):
                st = os.stat(os.path.join(d, f))
                out.add((f, st.st_size, st.st_mtime_ns))
        return frozenset(out)

    t1 = "alpha beta gamma delta epsilon zeta"
    t2 = "uno dos tres cuatro cinco seis"
    # batch 1: docs 1 and 17 -> bucket 1 sigs; pair (1, 17) -> grid
    # bucket pmod(1,4)*4 + pmod(17,4) = 5
    b1 = spark.createDataFrame(
        [(1, t1, "2024-06-01T00:00:00"), (17, t1, "2024-06-01T00:00:01")],
        "doc_id long, text string, ingest_ts string",
    )
    maintain_incremental_pairs(b1, state)
    sigs1, pairs1 = _listing("sigs/bucket=1"), _listing("pairs/bucket=5")
    assert sigs1 and pairs1  # bucket state exists

    # batch 2: docs 2 and 18 -> sig bucket 2 only; pair (2, 18) -> grid
    # bucket pmod(2,4)*4 + pmod(18,4) = 10; no endpoint touches 1/17
    b2 = spark.createDataFrame(
        [(2, t2, "2024-06-01T00:01:00"), (18, t2, "2024-06-01T00:01:01")],
        "doc_id long, text string, ingest_ts string",
    )
    maintain_incremental_pairs(b2, state)

    assert _listing("sigs/bucket=1") == sigs1  # byte-identical: untouched
    assert _listing("pairs/bucket=5") == pairs1
    assert _listing("sigs/bucket=2") and _listing("pairs/bucket=10")
    # and the maintained state is still globally right
    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(f"{state}/pairs").collect()
    )
    assert got == [(1, 17), (2, 18)]


def test_pair_candidate_buckets_cover_all_endpoints():
    """Pure-function pin for the r18 grid pruning (VERDICT r17 #1): for
    any endpoint id set, _pair_candidate_buckets must be a superset of
    (a) the bucket of every pair having such an endpoint on EITHER side
    and (b) the bucket of every pair with at least one such endpoint —
    i.e. every bucket the maintenance can tombstone in or write to."""
    from distributed_video_analytics_flink_spark.streaming.corpus import (
        _PAIR_GRID,
        _STATE_BUCKETS,
        _pair_candidate_buckets,
    )

    def bucket(a, b):
        return (a % _PAIR_GRID) * _PAIR_GRID + (b % _PAIR_GRID)

    ids = range(0, 64, 7)  # arbitrary spread of endpoint ids
    others = range(0, 23)
    for g in ids:
        cand = set(_pair_candidate_buckets({g % _PAIR_GRID}))
        assert cand <= set(range(_STATE_BUCKETS))
        for o in others:
            assert bucket(g, o) in cand  # g as doc_a
            assert bucket(o, g) in cand  # g as doc_b


def test_pair_discovery_reads_only_candidate_buckets(spark, tmp_path):
    """The r18 scale pin (VERDICT r17 #1): per-batch pair-state READS
    are partition-pruned to the grid candidate buckets. A corrupt file
    planted in a NON-candidate bucket must never be opened (the explicit
    read schema means no footer inference either) — if any read scanned
    the full table, the batch would throw. A control batch whose
    candidates DO cover the poisoned bucket must throw."""
    import os

    import pytest

    from distributed_video_analytics_flink_spark.streaming import (
        maintain_incremental_pairs,
    )

    state = str(tmp_path / "state")
    t1 = "alpha beta gamma delta epsilon zeta"
    b1 = spark.createDataFrame(
        [(1, t1, "2024-06-01T00:00:00"), (17, t1, "2024-06-01T00:00:01")],
        "doc_id long, text string, ingest_ts string",
    )
    maintain_incremental_pairs(b1, state)  # pair (1, 17) -> bucket 5

    poisoned = os.path.join(state, "pairs", "bucket=0")
    os.makedirs(poisoned, exist_ok=True)
    with open(os.path.join(poisoned, "part-poison.parquet"), "wb") as fh:
        fh.write(b"this is not a parquet file")

    # batch endpoints pmod 2 -> candidates are rows/cols of 2
    # ({2, 6, 8..11, 14}); bucket 0 is NOT among them: must succeed
    b2 = spark.createDataFrame(
        [(2, "uno dos tres cuatro cinco seis", "2024-06-01T00:01:00")],
        "doc_id long, text string, ingest_ts string",
    )
    maintain_incremental_pairs(b2, state)

    # control: endpoint pmod 0 puts bucket 0 in the candidate set, so
    # the poisoned file IS read and the batch must fail loudly
    b3 = spark.createDataFrame(
        [(4, "siete ocho nueve diez once doce", "2024-06-01T00:02:00")],
        "doc_id long, text string, ingest_ts string",
    )
    with pytest.raises(Exception, match="(?i)parquet|corrupt|magic|footer"):
        maintain_incremental_pairs(b3, state)


def test_emptied_pair_bucket_is_cleared(spark, tmp_path):
    """A re-emitted doc whose text no longer matches tombstones its pair;
    if that empties the pair bucket, dynamic overwrite alone would leave
    the stale file behind — the explicit clear must remove it."""
    from distributed_video_analytics_flink_spark.streaming import (
        maintain_incremental_pairs,
    )

    state = str(tmp_path / "state")
    t1 = "alpha beta gamma delta epsilon zeta"
    b1 = spark.createDataFrame(
        [(1, t1, "2024-06-01T00:00:00"), (17, t1, "2024-06-01T00:00:01")],
        "doc_id long, text string, ingest_ts string",
    )
    maintain_incremental_pairs(b1, state)
    # doc 17 changes: pair (1, 17) tombstones; nothing new forms
    b2 = spark.createDataFrame(
        [(17, "totally different replacement body now", "2024-06-01T00:01:00")],
        "doc_id long, text string, ingest_ts string",
    )
    maintain_incremental_pairs(b2, state)
    import pyspark.errors

    try:
        n = spark.read.parquet(f"{state}/pairs").count()
    except pyspark.errors.AnalysisException:
        n = 0  # the whole pairs table emptied — also a correct outcome
    assert n == 0


def _one_doc_batch(spark):
    return spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "2024-06-01T00:00:00")],
        "doc_id long, text string, ingest_ts string",
    )


def test_fresh_pair_state_is_layout_stamped(spark, tmp_path):
    """The first batch on fresh state writes _layout.json carrying the
    grid and bucket constants; a later batch reads it back and runs."""
    import json

    from distributed_video_analytics_flink_spark.streaming import (
        maintain_incremental_pairs,
    )
    from distributed_video_analytics_flink_spark.streaming.corpus import (
        _PAIR_GRID,
        _STATE_BUCKETS,
    )

    state = tmp_path / "state"
    maintain_incremental_pairs(_one_doc_batch(spark), str(state))
    stamp = json.loads((state / "_layout.json").read_text())
    assert stamp["pair_grid"] == _PAIR_GRID
    assert stamp["state_buckets"] == _STATE_BUCKETS
    maintain_incremental_pairs(_one_doc_batch(spark), str(state))


def test_unstamped_pair_state_raises(spark, tmp_path):
    """State written before the stamp existed (here: a pairs/ dir with no
    _layout.json) has an unknown bucket layout: reading it under the
    grid pruning could silently miss pairs, so the batch must raise."""
    import pytest

    from distributed_video_analytics_flink_spark.streaming import (
        maintain_incremental_pairs,
    )

    state = tmp_path / "state"
    (state / "pairs" / "bucket=1").mkdir(parents=True)
    with pytest.raises(ValueError, match="no _layout.json stamp"):
        maintain_incremental_pairs(_one_doc_batch(spark), str(state))
    assert not (state / "_layout.json").exists()  # no stamp forged over it


def test_mismatched_pair_state_stamp_raises(spark, tmp_path):
    """A stamp from another layout (a different grid) must raise, not be
    read under this engine's pruning."""
    import json

    import pytest

    from distributed_video_analytics_flink_spark.streaming import (
        maintain_incremental_pairs,
    )
    from distributed_video_analytics_flink_spark.streaming.corpus import (
        _PAIR_STATE_LAYOUT,
    )

    state = tmp_path / "state"
    (state / "sigs").mkdir(parents=True)
    (state / "_layout.json").write_text(
        json.dumps({**_PAIR_STATE_LAYOUT, "pair_grid": 1})
    )
    with pytest.raises(ValueError, match="written under layout"):
        maintain_incremental_pairs(_one_doc_batch(spark), str(state))
