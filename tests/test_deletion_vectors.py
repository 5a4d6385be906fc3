"""Merge-on-read deletes via DELETION VECTORS (sources/lakehouse.py):
a delete_mor commit records row-index runs in the manifest instead of
rewriting files (Delta DVs / Iceberg v2 position deletes); readers
subtract them through a codegen _metadata predicate; COW rewrites and
compaction purge them; CDF and the incremental consumers see DV
commits as row retractions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    SnapshotTable,
    _ranges_from_indices,
    _ranges_subtract,
    _ranges_union,
)


def _df(spark, lo, hi, grp=0):
    # coalesce(2): multi-row files, so partial deletes exercise DVs
    # (single-row files would always take the fully-dead-file removal)
    return (
        spark.range(lo, hi)
        .coalesce(2)
        .select(
            F.col("id").cast("int").alias("id"),
            F.lit(grp).alias("grp"),
            (F.col("id") * 2).cast("double").alias("v"),
        )
    )


def _ids(t, **kw):
    return sorted(r.id for r in t.read(**kw).collect())


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 20))
    return t


def test_ranges_helpers():
    assert _ranges_from_indices([5, 3, 4, 9]) == [[3, 6], [9, 10]]
    assert _ranges_union([[0, 3]], [[2, 5], [8, 9]]) == [[0, 5], [8, 9]]
    assert _ranges_union([], [[1, 2]]) == [[1, 2]]
    assert _ranges_subtract([[0, 10]], [[2, 4], [6, 7]]) == [
        [0, 2], [4, 6], [7, 10]
    ]
    assert _ranges_subtract([[0, 5]], [[0, 5]]) == []
    assert _ranges_subtract([[0, 5]], []) == [[0, 5]]


def test_delete_mor_is_metadata_only(spark, table):
    files_before = set(table.snapshot().files)
    snap = table.delete(F.col("id") % 5 == 0, strategy="mor")
    assert snap.operation == "delete_mor"
    assert set(snap.files) == files_before  # no rewrite, no removal
    assert snap.dvs and sum(len(r) for r in snap.dvs.values()) > 0
    assert _ids(table) == [i for i in range(20) if i % 5 != 0]
    # metadata row count subtracts the DV runs exactly
    assert table.row_count() == 16


def test_delete_mor_accumulates(spark, table):
    table.delete(F.col("id") % 5 == 0, strategy="mor")
    table.delete(F.col("id") % 7 == 0, strategy="mor")  # 0 already dead: no re-delete
    assert _ids(table) == [
        i for i in range(20) if i % 5 != 0 and i % 7 != 0
    ]
    assert table.row_count() == len(_ids(table))


def test_time_travel_across_dv_commits(spark, table):
    table.delete(F.col("id") < 5, strategy="mor")
    assert _ids(table, version=1) == list(range(20))
    assert _ids(table, version=2) == list(range(5, 20))


def test_fully_deleted_file_is_removed_not_dvd(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "fd"))
    t.create(_df(spark, 0, 5, grp=0))
    t.append(_df(spark, 5, 10, grp=1))
    snap = t.delete(F.col("grp") == 1, strategy="mor")  # kills the whole 2nd batch
    assert not snap.dvs  # no vector: the files just left the manifest
    assert _ids(t) == list(range(5))
    assert len(snap.files) < len(t.snapshot(version=2).files)


def test_compact_purges_dvs(spark, table):
    table.delete(F.col("id") % 3 == 0, strategy="mor")
    live = _ids(table)
    snap = table.compact(target_files=1)
    assert not snap.dvs  # rewritten files carry no vectors
    assert _ids(table) == live


def test_cow_delete_on_dvd_file_does_not_resurrect(spark, table):
    dv_files = set(table.delete(F.col("id") % 5 == 0, strategy="mor").dvs)
    touched = set(table.snapshot().files)
    table.delete(F.col("id") == 7)  # COW rewrite of the touched file
    after = table.snapshot()
    assert _ids(table) == [
        i for i in range(20) if i % 5 != 0 and i != 7
    ]
    # the REWRITTEN file's vector purged with it; untouched files keep
    # theirs, and no vector ever references a dead file
    rewritten = touched - set(after.files)
    assert rewritten and not (set(after.dvs or {}) & rewritten)
    assert set(after.dvs or {}) <= set(after.files)
    assert set(after.dvs or {}) < dv_files


def test_merge_on_dvd_file_does_not_resurrect(spark, table):
    table.delete(F.col("id") % 5 == 0, strategy="mor")
    table.merge(
        spark.createDataFrame([(7, 9, -1.0)], "id int, grp int, v double"),
        ["id"],
    )
    got = {r.id: (r.grp, r.v) for r in table.read().collect()}
    assert 0 not in got and 5 not in got  # still dead
    assert got[7] == (9, -1.0)


def test_rollback_restores_dvs(spark, table):
    table.delete(F.col("id") < 10, strategy="mor")  # v2
    table.append(_df(spark, 100, 105))  # v3
    table.rollback(2)  # v4 = v2's files AND its deletion vectors
    assert _ids(table) == list(range(10, 20))


def test_changes_emits_dv_deletes(spark, table):
    table.delete(F.col("id") % 5 == 0, strategy="mor")
    got = table.changes(1, 2).collect()
    assert all(r._change_type == "delete" for r in got)
    assert sorted(r.id for r in got) == [0, 5, 10, 15]
    assert all(r._commit_version == 2 for r in got)


def test_changes_preimage_respects_prior_dvs(spark, table):
    """A COW rewrite AFTER a DV commit must not re-emit the DV'd rows
    as deletes — the pre-image applies the prior version's vectors."""
    table.delete(F.col("id") % 5 == 0, strategy="mor")  # v2: kills 0,5,10,15
    table.delete(F.col("id") == 7)  # v3: COW rewrite of the file
    got = table.changes(2, 3).collect()
    assert sorted(r.id for r in got) == [7]


def test_rollup_refresh_through_delete_mor(spark, tmp_path):
    import datetime as dt

    from summit_23_snowpark_data_lake_workloads_spark.operators.rollup import (
        refresh_rollup,
    )

    fact = SnapshotTable(spark, str(tmp_path / "f"))
    rollup = SnapshotTable(spark, str(tmp_path / "r"), partition_by=["day"])
    fact.create(
        spark.createDataFrame(
            [(i, dt.datetime(2024, 1, 1 + i % 3, 8), float(i)) for i in range(12)],
            "id int, ts timestamp, v double",
        )
    )

    def prep(df):
        return df.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "v"
        )

    refresh_rollup(fact, rollup, prep, ["day"], ["v"])
    fact.delete(F.col("id") % 4 == 0, strategy="mor")
    assert (
        refresh_rollup(fact, rollup, prep, ["day"], ["v"])
        == "incremental_cdf"
    )
    want = sorted(
        (r.day, r.n_rows)
        for r in prep(fact.read()).groupBy("day").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows")
        ).collect()
    )
    got = sorted((r.day, r.n_rows) for r in rollup.read().collect())
    assert got == want


def test_cdc_replication_through_delete_mor(spark, tmp_path):
    from summit_23_snowpark_data_lake_workloads_spark.operators.cdc import (
        replicate_changes,
    )

    src = SnapshotTable(spark, str(tmp_path / "s"))
    dst = SnapshotTable(spark, str(tmp_path / "d"))
    src.create(_df(spark, 0, 10))
    replicate_changes(src, dst, ["id"])
    src.delete(F.col("id") % 3 == 0, strategy="mor")
    assert replicate_changes(src, dst, ["id"]) == "incremental"
    assert _ids(dst) == _ids(src)


def test_fallback_to_cow_past_run_budget(spark, table):
    snap = table.delete(F.col("id") % 2 == 0, strategy="mor", max_deleted_rows=3)
    assert snap.operation == "delete"  # honest fallback, not a huge DV
    assert _ids(table) == [i for i in range(20) if i % 2 == 1]


def test_dvs_survive_checkpoint_and_vacuum(spark, table):
    table.delete(F.col("id") % 5 == 0, strategy="mor")
    for i in range(8):  # cross the every-8 FULL-manifest checkpoint
        table.append(_df(spark, 100 + i, 101 + i))
    assert _ids(table)[:4] == [1, 2, 3, 4]
    table.vacuum(retain_last=2)
    assert 0 not in _ids(table)
    assert table.row_count() == 16 + 8


def test_partitioned_table_dvs(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "p"), partition_by=["grp"])
    t.create(
        _df(spark, 0, 10, grp=0).unionByName(_df(spark, 10, 20, grp=1))
    )
    t.delete((F.col("grp") == 1) & (F.col("id") % 2 == 0), strategy="mor")
    parts = {p["grp"]: p["num_rows"] for p in t.partitions()}
    assert parts == {"0": 10, "1": 5}
    got = _ids(t, partition_where=[("grp", "=", "1")])
    assert got == [11, 13, 15, 17, 19]


def test_clone_carries_dvs(spark, table, tmp_path):
    table.delete(F.col("id") % 5 == 0, strategy="mor")
    clone = table.clone_to(str(tmp_path / "branch"))
    assert _ids(clone) == [i for i in range(20) if i % 5 != 0]


def test_dv_commit_on_stale_base_raises(spark, table):
    """A deletion-vector commit REMOVES ROWS, so it does not commute
    with a concurrent writer: based on a stale HEAD it must raise, not
    soft-delete rows of a table state it never saw."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        ConcurrentWriteError,
    )

    stale = table.snapshot().version
    table.append(_df(spark, 100, 105))
    with pytest.raises(ConcurrentWriteError):
        table._commit(
            "delete_mor", stale, [], dv_add={table.snapshot().files[0]: [[0, 1]]}
        )
