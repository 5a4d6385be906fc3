"""Threshold-driven auto-maintenance (operators/maintenance.py):
plan_maintenance decides from manifest/footer metadata only;
auto_maintain executes compaction + vacuum when thresholds trip."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.operators.maintenance import (
    MaintenancePolicy,
    auto_maintain,
    plan_maintenance,
)
from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    SnapshotTable,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 2).cast("double").alias("v"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10).coalesce(1))
    return t


def test_healthy_table_plans_nothing(spark, table):
    plan = plan_maintenance(
        table, MaintenancePolicy(min_small_files=8, max_history=None)
    )
    assert plan["compact"] is None
    assert plan["vacuum"] is None
    assert plan["reasons"] == []


def test_fragmentation_trips_compaction(spark, table):
    for i in range(8):
        table.append(_df(spark, 10 + i, 11 + i))
    policy = MaintenancePolicy(min_small_files=8)
    plan = plan_maintenance(table, policy)
    assert plan["compact"] is not None
    assert plan["compact"]["target_files"] == 1  # tiny test files
    assert any("fragmentation" in r for r in plan["reasons"])

    before = table.snapshot()
    report = auto_maintain(table, policy)
    assert report["compacted_to_version"] == before.version + 1
    after = table.snapshot()
    assert len(after.files) < len(before.files)
    assert table.read().count() == 18  # same rows, new layout


def test_dv_burden_trips_single_file_rewrite(spark, tmp_path):
    spark_df = (
        spark.range(0, 100)
        .select(F.col("id").cast("int").alias("id"))
        .coalesce(1)
    )
    t = SnapshotTable(spark, str(tmp_path / "dv"))
    t.create(spark_df)
    t.delete(F.col("id") < 40, strategy="mor")  # 40% soft-deleted, one file
    policy = MaintenancePolicy(min_small_files=10_000, dv_fraction=0.3)
    plan = plan_maintenance(t, policy)
    assert plan["compact"] is not None
    assert any("dv burden" in r for r in plan["reasons"])
    auto_maintain(t, policy)
    snap = t.snapshot()
    assert not snap.dvs  # vectors purged by the rewrite
    assert t.read().count() == 60
    # below the threshold: nothing trips
    t2 = SnapshotTable(spark, str(tmp_path / "dv2"))
    t2.create(spark_df)
    t2.delete(F.col("id") < 10, strategy="mor")  # 10% < 30%
    assert plan_maintenance(t2, policy)["compact"] is None


def test_history_trips_vacuum(spark, table, tmp_path):
    for i in range(5):
        table.append(_df(spark, 20 + i, 21 + i))
    table.compact(target_files=1)
    policy = MaintenancePolicy(
        min_small_files=10_000,
        max_history=3,
        vacuum_retain_last=1,
        orphan_grace_ms=0,
    )
    plan = plan_maintenance(table, policy)
    assert plan["vacuum"] == {"retain_last": 1, "orphan_grace_ms": 0}
    report = auto_maintain(table, policy)
    assert report["vacuumed_files"] > 0
    assert table.read().count() == 15  # live state intact


def test_compact_then_vacuum_in_one_pass(spark, table):
    """Compaction's own orphans are reclaimed by the same pass's
    vacuum (grace 0 in tests; production keeps the in-flight grace)."""
    for i in range(8):
        table.append(_df(spark, 30 + i, 31 + i))
    policy = MaintenancePolicy(
        min_small_files=8,
        max_history=3,
        vacuum_retain_last=1,
        orphan_grace_ms=0,
    )
    report = auto_maintain(table, policy)
    assert "compacted_to_version" in report and "vacuumed_files" in report
    assert table.read().count() == 18
    # compacted-away small files are gone from disk
    data_files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(table.path)
        for f in fs
        if f.endswith(".parquet") and "_changes" not in r
    ]
    snap = table.snapshot()
    assert len(data_files) == len(snap.files)


def test_plan_is_metadata_only(spark, table, monkeypatch):
    """The decision function must never launch a Spark job."""
    import pyspark.sql

    def boom(*a, **k):  # any collect/count during planning is a bug
        raise AssertionError("plan_maintenance launched a Spark job")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", boom)
    monkeypatch.setattr(pyspark.sql.DataFrame, "count", boom)
    plan = plan_maintenance(table, MaintenancePolicy(max_history=1))
    assert plan["vacuum"] is None  # only v1 committed: 1 > 1 is False


def test_auto_maintain_catalog_keeps_pin(spark, tmp_path):
    """Catalog-wide maintenance must never vacuum the version the
    catalog still serves: a long-staging transaction holds the pin
    behind the log head, and the history trigger would otherwise
    sweep it."""
    from pyspark.sql import functions as F

    from summit_23_snowpark_data_lake_workloads_spark.operators.maintenance import (
        MaintenancePolicy,
        auto_maintain_catalog,
    )
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable,
    )
    from summit_23_snowpark_data_lake_workloads_spark.sources.txn_catalog import (
        PinnedCatalog,
    )

    def df(lo, hi):
        return (
            spark.range(lo, hi)
            .coalesce(1)
            .select(F.col("id").cast("int").alias("id"))
        )

    cat = PinnedCatalog(spark, str(tmp_path / "cat"))
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(df(0, 4))
    cat.register("t", t.path)
    txn = cat.transaction()
    txn.table("t").append(df(4, 8))
    txn.commit()  # pin -> 2
    # unpinned staged commits push the head past the pin
    for n in (8, 12, 16):
        t.append(df(n, n + 4))
    policy = MaintenancePolicy(
        min_small_files=999,  # no compaction: isolate the vacuum path
        dv_fraction=None,
        max_history=2,
        vacuum_retain_last=1,
        orphan_grace_ms=0,
    )
    report = auto_maintain_catalog(cat, policy)
    assert report["t"]["vacuum"] is not None
    assert 2 in t._versions()  # the pin survived retain_last=1
    assert sorted(r.id for r in cat.read("t").collect()) == list(range(8))
