"""Streaming change-feed source (streaming/cdf_source.py): checkpointed
micro-batch drains over a SnapshotTable's change feed, and the
continuously-maintained silver rollup built on it — two drains across
a delete commit must equal the batch refresh, and crash-replayed
batches must be no-ops (exactly-once through txn stamps)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.streaming.cdf_source import (
    ChangeFeedStream,
    maintain_rollup_stream,
)
from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    SnapshotTable,
)


def _df(spark, lo, hi, grp=0):
    return (
        spark.range(lo, hi)
        .coalesce(2)
        .select(
            F.col("id").cast("int").alias("id"),
            F.lit(grp).alias("grp"),
            (F.col("id") * 2).cast("double").alias("v"),
        )
    )


_PREP = lambda df: df.select("grp", "v")


def _batch_state(fact):
    return sorted(
        (r.grp, r.n_rows, r.sum_v)
        for r in _PREP(fact.read())
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").alias("sum_v"),
        )
        .collect()
    )


def _silver_state(silver):
    return sorted(
        (r.grp, r.n_rows, r.sum_v) for r in silver.read().collect()
    )


def test_drain_delivers_per_commit_micro_batches(spark, tmp_path):
    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    fact.create(_df(spark, 0, 10))
    fact.append(_df(spark, 10, 20, grp=1))
    fact.delete(F.col("id") % 5 == 0)
    seen = []
    stream = ChangeFeedStream(fact, str(tmp_path / "ckpt"))
    ranges = stream.drain(lambda chg, lo, hi: seen.append((lo, hi)))
    assert ranges == seen == [(0, 1), (1, 2), (2, 3)]
    assert stream.pending() == (3, 3)  # caught up
    # nothing pending: drain is a no-op
    assert stream.drain(lambda *a: (_ for _ in ()).throw(AssertionError)) == []


def test_two_drains_across_delete_equal_batch_refresh(spark, tmp_path):
    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    silver = SnapshotTable(spark, str(tmp_path / "silver"))
    ckpt = str(tmp_path / "ckpt")
    fact.create(_df(spark, 0, 20))
    fact.append(_df(spark, 20, 30, grp=1))
    # drain 1: bootstrap from v0 (create + append as inserts)
    maintain_rollup_stream(fact, silver, _PREP, ["grp"], ["v"], ckpt)
    assert _silver_state(silver) == _batch_state(fact)
    # a GDPR-style delete plus more appends, then drain 2
    fact.delete(F.col("id") % 3 == 0)
    fact.append(_df(spark, 30, 35, grp=2))
    ranges = maintain_rollup_stream(
        fact, silver, _PREP, ["grp"], ["v"], ckpt
    )
    assert ranges == [(2, 3), (3, 4)]
    assert _silver_state(silver) == _batch_state(fact)


def test_crash_replay_is_exactly_once(spark, tmp_path):
    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    silver = SnapshotTable(spark, str(tmp_path / "silver"))
    ckpt = str(tmp_path / "ckpt")
    fact.create(_df(spark, 0, 20))
    fact.delete(F.col("id") % 4 == 0)
    maintain_rollup_stream(fact, silver, _PREP, ["grp"], ["v"], ckpt)
    want = _silver_state(silver)
    v_before = silver.snapshot().version
    # simulate losing the stream checkpoint AFTER the sink committed:
    # the replayed drain must fold nothing twice (txn stamps)
    os.unlink(os.path.join(ckpt, "offset.json"))
    replayed = maintain_rollup_stream(
        fact, silver, _PREP, ["grp"], ["v"], ckpt
    )
    assert replayed == [(0, 1), (1, 2)]  # stream layer replays...
    assert _silver_state(silver) == want  # ...the sink absorbs it
    assert silver.snapshot().version == v_before


def test_merge_mor_commit_flows_through_stream(spark, tmp_path):
    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    silver = SnapshotTable(spark, str(tmp_path / "silver"))
    ckpt = str(tmp_path / "ckpt")
    fact.create(_df(spark, 0, 20))
    maintain_rollup_stream(fact, silver, _PREP, ["grp"], ["v"], ckpt)
    fact.merge(_df(spark, 10, 25, grp=4), ["id"], strategy="mor")
    maintain_rollup_stream(fact, silver, _PREP, ["grp"], ["v"], ckpt)
    assert _silver_state(silver) == _batch_state(fact)


def test_multi_commit_batches_span(spark, tmp_path):
    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    silver = SnapshotTable(spark, str(tmp_path / "silver"))
    fact.create(_df(spark, 0, 10))
    fact.append(_df(spark, 10, 20, grp=1))
    fact.delete(F.col("id") < 3)
    ranges = maintain_rollup_stream(
        fact,
        silver,
        _PREP,
        ["grp"],
        ["v"],
        str(tmp_path / "ckpt"),
        max_commits_per_batch=2,
    )
    assert ranges == [(0, 2), (2, 3)]
    assert _silver_state(silver) == _batch_state(fact)


def test_metadata_only_commit_advances_stamp_cheaply(spark, tmp_path):
    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    silver = SnapshotTable(spark, str(tmp_path / "silver"))
    ckpt = str(tmp_path / "ckpt")
    fact.create(_df(spark, 0, 10))
    maintain_rollup_stream(fact, silver, _PREP, ["grp"], ["v"], ckpt)
    files_before = set(silver.snapshot().files)
    fact.compact(target_files=1)  # layout-only: zero change rows
    maintain_rollup_stream(fact, silver, _PREP, ["grp"], ["v"], ckpt)
    assert set(silver.snapshot().files) == files_before
    assert silver.snapshot().operation == "refresh_noop"
    assert _silver_state(silver) == _batch_state(fact)


def test_replica_stream_tracks_source_row_identically(spark, tmp_path):
    from summit_23_snowpark_data_lake_workloads_spark.streaming.cdf_source import (
        maintain_replica_stream,
    )

    src = SnapshotTable(spark, str(tmp_path / "src"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    ckpt = str(tmp_path / "ckpt")
    src.create(_df(spark, 0, 20))
    maintain_replica_stream(src, dst, ["id"], ckpt)
    rows = lambda t: sorted((r.id, r.grp, r.v) for r in t.read().collect())
    assert rows(dst) == rows(src)
    src.delete(F.col("id") % 5 == 0)
    src.merge(_df(spark, 15, 25, grp=8), ["id"], strategy="mor")
    ranges = maintain_replica_stream(src, dst, ["id"], ckpt)
    assert ranges == [(1, 2), (2, 3)]
    assert rows(dst) == rows(src)
    # replayed drain (lost checkpoint) is absorbed by the txn stamps
    v = dst.snapshot().version
    os.unlink(os.path.join(ckpt, "offset.json"))
    maintain_replica_stream(src, dst, ["id"], ckpt)
    assert dst.snapshot().version == v and rows(dst) == rows(src)


def test_replica_stream_survives_source_vacuum_with_persisted_cdf(
    spark, tmp_path
):
    from summit_23_snowpark_data_lake_workloads_spark.streaming.cdf_source import (
        maintain_replica_stream,
    )

    src = SnapshotTable(spark, str(tmp_path / "src"), cdf=True)
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    ckpt = str(tmp_path / "ckpt")
    src.create(_df(spark, 0, 20))
    maintain_replica_stream(src, dst, ["id"], ckpt)
    src.delete(F.col("id") % 4 == 0)  # v2
    src.append(_df(spark, 20, 25, grp=1))  # v3
    src.vacuum(retain_last=2, orphan_grace_ms=0)  # v2 pre-images die
    maintain_replica_stream(src, dst, ["id"], ckpt)
    rows = lambda t: sorted((r.id, r.grp, r.v) for r in t.read().collect())
    assert rows(dst) == rows(src)


# ------------------------------------------------- readStream facade


def test_foreach_batch_facade_drains_and_resumes(spark, tmp_path):
    """cdf_foreach_batch_stream: a REAL StreamingQuery (rate clock +
    foreachBatch) drives the drain — availableNow processes the
    backlog and stops; a restarted query delivers only new commits
    (the feed offset, not the clock checkpoint, owns progress)."""
    from summit_23_snowpark_data_lake_workloads_spark.streaming.cdf_source import (
        cdf_foreach_batch_stream,
    )

    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    fact.create(_df(spark, 0, 4))          # v1
    fact.append(_df(spark, 4, 6, grp=1))   # v2
    ckpt = str(tmp_path / "ckpt")
    got = []

    def process(chg, lo, hi):
        got.append((lo, hi, chg.count()))

    q = cdf_foreach_batch_stream(spark, fact, ckpt, process)
    q.awaitTermination()
    assert not q.isActive
    assert got == [(0, 1, 4), (1, 2, 2)]

    # restart after new commits: only the new range drains
    fact.delete(F.col("id") == 0)          # v3: 1 del + 3 re-adds
    got.clear()
    q = cdf_foreach_batch_stream(spark, fact, ckpt, process)
    q.awaitTermination()
    assert [(lo, hi) for lo, hi, _n in got] == [(2, 3)]
    # the COW delete touched one of v1's two files; the feed nets the
    # rewrite to exactly the one removed row
    assert got[0][2] == 1

    # nothing pending: a tick delivers no ranges
    got.clear()
    q = cdf_foreach_batch_stream(spark, fact, ckpt, process)
    q.awaitTermination()
    assert got == []
