"""The row-level mutation kernel (sources/lakehouse.py): DELETE,
DELETE-by-keys, MERGE, conditional MERGE and UPDATE under both write
strategies, plus the merge-on-read (MoR) over-cap fallback to
copy-on-write (COW), on one 200-row, 4-file table. Each case pins the
resulting rows against a plain-Python recomputation, the manifest's
``operation`` string (an on-disk contract read by ``changes()``, the
Delta exporter and the commute checks) and the file-level shape of the
commit: COW swaps files and leaves no deletion vector (DV); MoR keeps
every file, records DVs, and a MoR delete writes no parquet."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    SnapshotTable,
)

N = 200


def _base():
    return {i: (i % 4, float(i)) for i in range(N)}


def _keys(spark, *ranges):
    # spark.range, not createDataFrame: a Python-list frame pays a
    # Python-worker round trip on every scan
    df = spark.range(*ranges[0])
    for r in ranges[1:]:
        df = df.union(spark.range(*r))
    return df.select(F.col("id").cast("int").alias("id"))


def _delete(t, spark, **kw):
    snap = t.delete(F.col("id") % 7 == 0, **kw)
    return snap, {i: r for i, r in _base().items() if i % 7}


def _delete_keys(t, spark, **kw):
    snap = t.delete_keys(_keys(spark, (0, N, 9), (500, 501)), ["id"], **kw)
    return snap, {i: r for i, r in _base().items() if i % 9}


def _merge(t, spark, **kw):
    src = _keys(spark, (0, N, 11), (200, 202)).select(
        "id", F.lit(9).alias("grp"), (-F.col("id")).cast("double").alias("v")
    )
    snap = t.merge(src, ["id"], **kw)
    new = {i: (9, -float(i)) for i in [*range(0, N, 11), 200, 201]}
    return snap, {**_base(), **new}


def _merge_when(t, spark, **kw):
    src = _keys(spark, (0, N, 13), (300, 302)).select(
        "id", F.lit(9).alias("grp"), F.lit(1000.0).alias("v")
    )
    snap = t.merge_when(
        src,
        ["id"],
        matched_update={"v": F.col("t.v") + F.col("s.v")},
        matched_update_cond=F.col("s.id") % 2 == 0,
        matched_delete_cond=F.col("s.id") % 3 == 0,
        **kw,
    )
    want = _base()
    for i in [*range(0, N, 13), 300, 301]:
        if i not in want:
            want[i] = (9, 1000.0)
        elif i % 2 == 0:
            want[i] = (want[i][0], want[i][1] + 1000.0)
        elif i % 3 == 0:
            del want[i]
    return snap, want


def _update(t, spark, **kw):
    snap = t.update(F.col("id") % 5 == 0, {"v": F.col("v") + 0.5}, **kw)
    want = {
        i: (g, v + 0.5 if i % 5 == 0 else v) for i, (g, v) in _base().items()
    }
    return snap, want


# op -> (driver, COW op string, MoR op string, cap keyword, deletes only)
OPS = {
    "delete": (_delete, "delete", "delete_mor", "max_deleted_rows", True),
    "delete_keys": (
        _delete_keys, "delete", "delete_mor", "max_deleted_rows", True,
    ),
    "merge": (_merge, "merge", "merge_mor", "max_updated_rows", False),
    "merge_when": (
        _merge_when, "merge", "merge_mor", "max_updated_rows", False,
    ),
    "update": (_update, "update", "update_mor", "max_updated_rows", False),
}


@pytest.fixture(scope="module")
def base_table(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("kernel") / "base"
    t = SnapshotTable(spark, str(root))
    t.create(
        _keys(spark, (0, N))
        .select(
            "id",
            (F.col("id") % 4).alias("grp"),
            F.col("id").cast("double").alias("v"),
        )
        .repartitionByRange(4, "id")
    )
    assert len(t.snapshot().files) == 4
    return str(root)


@pytest.mark.parametrize("mode", ["cow", "mor", "mor_over_cap"])
@pytest.mark.parametrize("op", sorted(OPS))
def test_row_level_op(spark, tmp_path, base_table, op, mode):
    run, cow_op, mor_op, cap_kw, deletes_only = OPS[op]
    path = str(tmp_path / "t")
    shutil.copytree(base_table, path)
    t = SnapshotTable(spark, path)
    before = set(t.snapshot().files)
    kw = {"strategy": "cow" if mode == "cow" else "mor"}
    if mode == "mor_over_cap":
        kw[cap_kw] = 2
    snap, want = run(t, spark, **kw)

    got = {r.id: (r.grp, r.v) for r in t.read().collect()}
    assert got == want
    assert snap.version == 2
    raw_op = t._raw(2)["operation"]
    assert snap.operation == raw_op
    added = set(snap.files) - before
    removed = before - set(snap.files)
    if mode == "mor":
        assert raw_op == mor_op
        assert not removed  # sparse matches: no file fully dead
        assert snap.dvs and set(snap.dvs) <= before
        assert not added if deletes_only else added
    else:
        assert raw_op == cow_op  # COW, or the honest over-cap fallback
        assert removed and added
        assert not snap.dvs  # rewritten files purge their vectors
