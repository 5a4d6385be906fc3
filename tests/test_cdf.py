"""Change data feed (SnapshotTable.changes): compute-on-read row-level
changes recovered from commit manifests — Delta CDF's compute-on-read
mode. Inserts/deletes are multiset-exact per commit, layout-only
commits emit nothing, and the feed's cost is bounded by the files each
commit touched."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    SnapshotTable,
)


def _df(spark, lo, hi, grp=0):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("id"),
        F.lit(grp).alias("grp"),
        (F.col("id") * 2).cast("double").alias("v"),
    )


def _rows(chg):
    return sorted(
        (r._commit_version, r._change_type, r.id, r.grp, r.v)
        for r in chg.collect()
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    return t


def test_append_changes_are_inserts(spark, table):
    table.append(_df(spark, 10, 13, grp=1))
    got = _rows(table.changes(1, 2))
    assert got == [(2, "insert", i, 1, i * 2.0) for i in (10, 11, 12)]


def test_delete_changes_are_the_deleted_rows_only(spark, table):
    """COW rewrites whole files, but the feed diffs pre vs post images:
    survivors in the rewritten files are NOT change rows."""
    table.delete(F.col("id") % 3 == 0)
    got = _rows(table.changes(1, 2))
    assert got == [
        (2, "delete", i, 0, i * 2.0) for i in (0, 3, 6, 9)
    ]


def test_merge_update_is_delete_plus_insert(spark, table):
    src = spark.createDataFrame(
        [(5, 1, 99.0), (42, 1, 84.0)], "id int, grp int, v double"
    )
    table.merge(src, ["id"])
    got = _rows(table.changes(1, 2))
    assert got == [
        (2, "delete", 5, 0, 10.0),
        (2, "insert", 5, 1, 99.0),
        (2, "insert", 42, 1, 84.0),
    ]


def test_noop_update_emits_nothing(spark, table):
    """A MERGE that rewrites a row to an identical value is no change —
    the multiset diff cancels it (an additive consumer must see zero)."""
    src = spark.createDataFrame([(5, 0, 10.0)], "id int, grp int, v double")
    table.merge(src, ["id"])
    assert table.changes(1, 2).count() == 0


def test_compact_is_layout_only(spark, table):
    table.append(_df(spark, 10, 12))
    table.compact(target_files=1)
    got = _rows(table.changes(2, 3))
    assert got == []
    # and the full range still carries only the append's inserts
    assert len(_rows(table.changes(1, 3))) == 2


def test_multi_commit_range_stamps_versions(spark, table):
    table.append(_df(spark, 10, 12))
    table.delete(F.col("id") == 0)
    got = table.changes(1, 3)
    by_v = {
        (r._commit_version, r._change_type) for r in got.collect()
    }
    assert by_v == {(2, "insert"), (3, "delete")}


def test_overwrite_changes_are_table_sized(spark, table):
    table.overwrite(_df(spark, 5, 8, grp=1))
    got = table.changes(1, 2)
    assert got.filter(F.col("_change_type") == "delete").count() == 10
    assert got.filter(F.col("_change_type") == "insert").count() == 3


def test_vacuumed_preimage_raises(spark, table):
    table.delete(F.col("id") < 5)
    table.compact(target_files=1)
    table.compact(target_files=2)
    table.vacuum(retain_last=1)
    with pytest.raises((FileNotFoundError, LookupError)):
        table.changes(1, 2)


def test_changes_across_schema_evolution(spark, table):
    evolved = _df(spark, 20, 22).withColumn("extra", F.lit("x"))
    table.append(evolved, schema_evolution=True)
    table.delete(F.col("id") == 20)
    got = table.changes(1, 3).collect()
    ins = [r for r in got if r._change_type == "insert"]
    dels = [r for r in got if r._change_type == "delete"]
    assert {r.id for r in ins} == {20, 21}
    assert [(r.id, r.extra) for r in dels] == [(20, "x")]


def test_empty_range_has_schema(spark, table):
    chg = table.changes(1, 1)
    assert chg.count() == 0
    assert set(chg.columns) == {"id", "grp", "v", "_change_type",
                                "_commit_version"}


def test_checkpoint_manifest_in_range(spark, table):
    """A FULL checkpoint manifest inside the range diffs against the
    prior resolved file set — add/remove recovery must span it."""
    for i in range(8):  # crosses the every-8 checkpoint
        table.append(_df(spark, 100 + i, 101 + i))
    got = table.changes(1, table.snapshot().version)
    assert got.filter(F.col("_change_type") == "delete").count() == 0
    assert got.count() == 8


# ---------------------------------------------------------------- labels


def _lrows(chg):
    return sorted(
        (r._commit_version, r._change_type, r.id, r.grp, r.v)
        for r in chg.collect()
    )


def test_merge_labels_split_updates_from_inserts(spark, table):
    """``update_labels=True`` splits a MERGE commit's delta by its
    recorded merge_keys: matched keys become update_pre/postimage
    pairs, unmatched source rows stay plain inserts."""
    src = spark.createDataFrame(
        [(5, 1, 99.0), (42, 1, 84.0)], "id int, grp int, v double"
    )
    table.merge(src, ["id"])
    got = _lrows(table.changes(1, 2, update_labels=True))
    assert got == [
        (2, "insert", 42, 1, 84.0),
        (2, "update_postimage", 5, 1, 99.0),
        (2, "update_preimage", 5, 0, 10.0),
    ]
    # default mode is untouched two-way
    plain = {r[1] for r in _lrows(table.changes(1, 2))}
    assert plain == {"insert", "delete"}


def test_merge_mor_labels(spark, table):
    src = spark.createDataFrame(
        [(5, 1, 99.0), (42, 1, 84.0)], "id int, grp int, v double"
    )
    table.merge(src, ["id"], strategy="mor")
    got = _lrows(table.changes(1, 2, update_labels=True))
    assert got == [
        (2, "insert", 42, 1, 84.0),
        (2, "update_postimage", 5, 1, 99.0),
        (2, "update_preimage", 5, 0, 10.0),
    ]


def test_update_labels_cow_and_mor(spark, table):
    """UPDATE commits contain only rewrites by construction — every
    delete is an update_preimage, every insert an update_postimage."""
    table.update(F.col("id") == 3, {"v": F.col("v") + 100})
    table.update(
        F.col("id") == 4, {"v": F.col("v") + 100}, strategy="mor"
    )
    got = _lrows(table.changes(1, 3, update_labels=True))
    assert got == [
        (2, "update_postimage", 3, 0, 106.0),
        (2, "update_preimage", 3, 0, 6.0),
        (3, "update_postimage", 4, 0, 108.0),
        (3, "update_preimage", 4, 0, 8.0),
    ]


def test_labels_leave_append_and_delete_alone(spark, table):
    table.append(_df(spark, 10, 12, grp=1))
    table.delete(F.col("id") == 0)
    got = _lrows(table.changes(1, 3, update_labels=True))
    assert got == [
        (2, "insert", 10, 1, 20.0),
        (2, "insert", 11, 1, 22.0),
        (3, "delete", 0, 0, 0.0),
    ]


def test_legacy_merge_without_keys_passes_through(spark, table, tmp_path):
    """A merge manifest written before merge_keys recording cannot be
    split — the feed keeps the coarse (never wrong) two-way labels."""
    import json
    import os

    src = spark.createDataFrame([(5, 1, 99.0)], "id int, grp int, v double")
    table.merge(src, ["id"])
    mdir = os.path.join(table.path, "_manifests")
    (mf,) = [f for f in os.listdir(mdir) if "2" in f and f.endswith(".json")]
    p = os.path.join(mdir, mf)
    with open(p) as fh:
        body = json.load(fh)
    body.pop("merge_keys")
    with open(p, "w") as fh:
        json.dump(body, fh)
    got = {r[1] for r in _lrows(table.changes(1, 2, update_labels=True))}
    assert got == {"insert", "delete"}


def test_labels_survive_rename_and_persisted_cdf(spark, tmp_path):
    """merge_keys are recorded under PHYSICAL names; after a rename the
    label split translates them through the column map. With cdf=True
    the relabel applies identically to sidecar-served commits — even
    after the pre-image data files are vacuumed."""
    t = SnapshotTable(spark, str(tmp_path / "t2"), cdf=True)
    t.create(_df(spark, 0, 10))
    t.rename_column("id", "row_id")
    src = spark.createDataFrame(
        [(5, 1, 99.0), (42, 1, 84.0)], "row_id int, grp int, v double"
    )
    t.merge(src, ["row_id"])
    want = [
        (3, "insert", 42, 1, 84.0),
        (3, "update_postimage", 5, 1, 99.0),
        (3, "update_preimage", 5, 0, 10.0),
    ]

    def rows(chg):
        return sorted(
            (r._commit_version, r._change_type, r.row_id, r.grp, r.v)
            for r in chg.collect()
        )

    assert rows(t.changes(2, 3, update_labels=True)) == want
    # expire the merge's pre-image files; the sidecar still serves it
    t.compact(target_files=1)
    t.compact(target_files=2)
    t.vacuum(retain_last=10, orphan_grace_ms=0)
    assert rows(t.changes(2, 3, update_labels=True)) == want
