"""RENAME COLUMN without rewrite (sources/lakehouse.py column mapping,
one level: physical = creation-time name forever): metadata-only
commit, logical view on every read, writes translate back, derived
state that stores the old name refuses the rename loudly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    SchemaMismatchError,
    SnapshotTable,
)


def _df(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .coalesce(2)
        .select(
            F.col("id").cast("int").alias("id"),
            (F.col("id") * 2.0).alias("amount"),
        )
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    return t


def test_rename_is_metadata_only_and_reads_logical(spark, table):
    files_before = set(table.snapshot().files)
    snap = table.rename_column("amount", "price")
    assert snap.operation == "rename_column"
    assert set(snap.files) == files_before  # zero data movement
    assert set(table.read().columns) == {"id", "price"}
    assert table.read().agg(F.sum("price")).collect()[0][0] == 90.0


def test_writes_accept_the_new_name(spark, table):
    table.rename_column("amount", "price")
    table.append(
        spark.range(10, 13).select(
            F.col("id").cast("int").alias("id"),
            F.lit(1.0).alias("price"),
        )
    )
    got = table.read()
    assert set(got.columns) == {"id", "price"}
    assert got.count() == 13
    # old and new files merge under one logical schema (no NULL split)
    assert got.filter(F.col("price").isNull()).count() == 0


def test_rename_survives_reopen_cow_and_clone(spark, table, tmp_path):
    table.rename_column("amount", "price")
    fresh = SnapshotTable(spark, table.path)  # map from the manifest
    assert set(fresh.read().columns) == {"id", "price"}
    fresh.delete(F.col("price") == 4.0)  # COW rewrite through the map
    assert sorted(r.id for r in fresh.read().collect()) == [
        i for i in range(10) if i != 2
    ]
    clone = fresh.clone_to(str(tmp_path / "branch"))
    assert set(clone.read().columns) == {"id", "price"}


def test_chained_rename_keeps_one_physical(spark, table):
    table.rename_column("amount", "price")
    table.rename_column("price", "total")
    assert table.column_map == {"total": "amount"}
    assert set(table.read().columns) == {"id", "total"}
    v = table.snapshot().version
    assert set(table.read(version=v).columns) == {"id", "total"}


def test_skip_where_translates_to_physical(spark, table):
    table.rename_column("amount", "price")
    # stats are keyed by the physical name; the logical conjunct must
    # still prune (and never wrongly drop) files
    df = table.read(skip_where=[("price", ">=", 18.0)]).filter(
        F.col("price") >= 18.0
    )
    assert sorted(r.id for r in df.collect()) == [9]


def test_rename_refusals(spark, tmp_path):
    part = SnapshotTable(spark, str(tmp_path / "p"), partition_by=["day(ts)"])
    part.create(
        spark.sql(
            "SELECT id, timestamp'2024-01-02 03:00:00' AS ts FROM range(5)"
        )
    )
    with pytest.raises(ValueError, match="partition source"):
        part.rename_column("ts", "event_ts")

    cc = SnapshotTable(
        spark,
        str(tmp_path / "c"),
        check_constraints={"pos": "amount >= 0"},
    )
    cc.create(_df(spark, 0, 5))
    with pytest.raises(ValueError, match="CHECK constraint"):
        cc.rename_column("amount", "price")

    t = SnapshotTable(spark, str(tmp_path / "t2"))
    t.create(_df(spark, 0, 5))
    with pytest.raises(SchemaMismatchError, match="already exists"):
        t.rename_column("amount", "id")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("ghost", "x")


def test_reserved_physical_name_cannot_return(spark, table):
    table.rename_column("amount", "price")
    bad = spark.range(3).select(
        F.col("id").cast("int").alias("id"),
        F.lit(1.0).alias("price"),
        F.lit("x").alias("amount"),  # the reserved physical name
    )
    with pytest.raises(SchemaMismatchError, match="reserved physical"):
        table.append(bad, schema_evolution=True)


def test_rename_composes_with_dv_and_cdf(spark, table):
    table.delete(F.col("amount") >= 16.0, strategy="mor")  # kills ids 8, 9
    table.rename_column("amount", "price")
    assert sorted(r.id for r in table.read().collect()) == list(range(8))
    table.delete(F.col("price") == 0.0)  # COW through map + DV
    chg = table.changes(3, 4).collect()
    assert [(r._change_type, r.id, r.price) for r in chg] == [
        ("delete", 0, 0.0)
    ]

def test_drop_column_metadata_only(spark, table):
    files_before = set(table.snapshot().files)
    snap = table.drop_column("amount")
    assert snap.operation == "drop_column"
    assert set(snap.files) == files_before  # files keep the bytes
    assert set(table.read().columns) == {"id"}
    # reopened handles see the drop (table state)
    assert set(SnapshotTable(spark, table.path).read().columns) == {"id"}


def test_dropped_name_is_reserved(spark, table):
    table.drop_column("amount")
    bad = spark.range(3).select(
        F.col("id").cast("int").alias("id"), F.lit(9.0).alias("amount")
    )
    with pytest.raises(SchemaMismatchError, match="reserved physical"):
        table.append(bad, schema_evolution=True)
    # appends without it are fine, and merge under the logical schema
    table.append(spark.range(20, 22).select(F.col("id").cast("int").alias("id")))
    assert table.read().count() == 12


def test_drop_renamed_column_and_compact_purges(spark, table):
    table.rename_column("amount", "price")
    table.drop_column("price")
    assert table.column_map == {} and table.dropped_cols == ["amount"]
    assert set(table.read().columns) == {"id"}
    table.compact(target_files=1)
    # rewritten files are produced from the logical view: payload gone
    import pyarrow.parquet as pq
    import os as _os

    f = table.snapshot().files[0]
    assert "amount" not in pq.ParquetFile(
        _os.path.join(table.path, f)
    ).schema_arrow.names


def test_drop_refusals(spark, table, tmp_path):
    with pytest.raises(ValueError, match="no column"):
        table.drop_column("ghost")
    cc = SnapshotTable(
        spark, str(tmp_path / "cc"),
        check_constraints={"pos": "amount >= 0"},
    )
    cc.create(_df(spark, 0, 3))
    with pytest.raises(ValueError, match="CHECK constraint"):
        cc.drop_column("amount")
    table.drop_column("amount")
    with pytest.raises(ValueError, match="only column"):
        table.drop_column("id")


# ------------------------------------------------- readd (fresh identity)


def test_readd_after_drop_does_not_resurrect(spark, table):
    """drop 'amount' -> readd 'amount' -> evolving append: the dropped
    bytes stay hidden; old rows read NULL, new rows carry fresh data."""
    table.drop_column("amount")
    snap = table.readd_column("amount")
    assert snap.operation == "readd_column"
    table.append(
        spark.range(10, 13).select(
            F.col("id").cast("int").alias("id"),
            F.lit(777.0).alias("amount"),
        ),
        schema_evolution=True,
    )
    rows = {r.id: r.amount for r in table.read().collect()}
    assert len(rows) == 13
    assert all(rows[i] is None for i in range(10))  # never 2*i again
    assert all(rows[i] == 777.0 for i in (10, 11, 12))
    # the physical layout really is a fresh name, not the reserved one
    assert table.column_map["amount"] != "amount"
    assert "amount" in table.dropped_cols


def test_readd_cycles_stack(spark, table):
    """drop/readd twice: each cycle reserves one more physical name and
    the newest identity wins."""
    table.drop_column("amount")
    table.readd_column("amount")
    table.append(
        spark.range(10, 11).select(
            F.col("id").cast("int").alias("id"),
            F.lit(1.0).alias("amount"),
        ),
        schema_evolution=True,
    )
    first_phys = table.column_map["amount"]
    table.drop_column("amount")
    assert first_phys in table.dropped_cols
    table.readd_column("amount")
    assert table.column_map["amount"] != first_phys
    table.append(
        spark.range(11, 12).select(
            F.col("id").cast("int").alias("id"),
            F.lit(2.0).alias("amount"),
        ),
        schema_evolution=True,
    )
    rows = {r.id: r.amount for r in table.read().collect()}
    assert rows[10] is None and rows[11] == 2.0


def test_readd_name_left_behind_by_rename(spark, table):
    """rename amount->price, then readd 'amount': physical 'amount'
    still serves PRICE; the new logical 'amount' lands elsewhere."""
    table.rename_column("amount", "price")
    table.readd_column("amount")
    table.append(
        spark.range(10, 11).select(
            F.col("id").cast("int").alias("id"),
            F.lit(5.0).alias("price"),
            F.lit(-5.0).alias("amount"),
        ),
        schema_evolution=True,
    )
    rows = {r.id: (r.price, r.amount) for r in table.read().collect()}
    assert rows[0] == (0.0, None)  # old row: price from physical amount
    assert rows[10] == (5.0, -5.0)


def test_readd_refusals(spark, table):
    with pytest.raises(SchemaMismatchError):
        table.readd_column("amount")  # still exists
    with pytest.raises(ValueError, match="not reserved"):
        table.readd_column("brand_new")  # plain evolution suffices
    table.drop_column("amount")
    # without readd, the reserved name still cannot return (regression)
    with pytest.raises(SchemaMismatchError, match="reserved"):
        table.append(
            spark.range(10, 11).select(
                F.col("id").cast("int").alias("id"),
                F.lit(1.0).alias("amount"),
            ),
            schema_evolution=True,
        )


def test_readd_composes_with_compact_rename_and_cdf(spark, table):
    """COW rewrites produce files from the LOGICAL view: after a
    compact, the readded column persists under its fresh identity and
    the dropped bytes are physically gone; the change feed and a
    follow-on rename keep working."""
    table.drop_column("amount")
    table.readd_column("amount")
    table.append(
        spark.range(10, 12).select(
            F.col("id").cast("int").alias("id"),
            F.lit(9.0).alias("amount"),
        ),
        schema_evolution=True,
    )
    table.compact(target_files=1)
    rows = {r.id: r.amount for r in table.read().collect()}
    assert rows[0] is None and rows[10] == 9.0
    table.rename_column("amount", "amt")
    assert {c for c in table.read().columns} == {"id", "amt"}
    chg = table.changes(3, 4)  # the evolving append
    got = {(r.id, r.amt) for r in chg.collect()}
    assert got == {(10, 9.0), (11, 9.0)}
