"""Right-to-be-forgotten erasure (sources/lakehouse.py:erase_rows):
every PHYSICAL trace of the subject's rows must leave the table
directory — live files, DV-hidden pre-images, historical versions, and
persisted change-data-feed sidecars. The strongest assertion here reads
every parquet file under the table root RAW (no manifest, no DV filter)
and requires zero subject rows anywhere on disk."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    SnapshotTable,
)


def _df(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .coalesce(1)
        .select(F.col("id").cast("int").alias("id"))
    )


def _all_parquet_ids(spark, root):
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    if not files:
        return set()
    return {
        r.id
        for r in spark.read.option("mergeSchema", "true")
        .parquet(*files)
        .select("id")
        .collect()
    }


def test_erase_purges_every_surface(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), cdf=True)
    t.create(_df(spark, 0, 5))     # v1: file A (0-4)
    t.append(_df(spark, 5, 10))    # v2: file B (5-9)
    t.delete(F.col("id") == 3, strategy="mor")  # v3: subject row 3 DV-hidden,
    #                         bytes remain in A AND in a CDF sidecar
    rpt = t.erase_rows(F.col("id").isin(3, 7))
    # head view clean
    ids = sorted(r.id for r in t.read().collect())
    assert ids == [0, 1, 2, 4, 5, 6, 8, 9]
    # history gone: only the erase version remains, old pins refuse
    assert len(t._versions()) == 1
    with pytest.raises((LookupError, FileNotFoundError)):
        t.read(version=1)
    # THE claim: no parquet byte under the table root holds 3 or 7 —
    # data files, DV'd pre-images, and change sidecars included
    assert _all_parquet_ids(spark, t.path) & {3, 7} == set()
    # the feed still serves the retained commit, minus the subject
    head = t.snapshot().version
    ch_ids = {
        r.id for r in t.changes(head - 1, head).select("id").collect()
    }
    assert ch_ids & {3, 7} == set()
    assert rpt["files_rewritten"] == 2  # both files held subject rows
    assert rpt["sidecars_redacted"] >= 1  # the erase commit's own CDF


def test_erase_refused_under_refs(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))
    t.create_tag("hold")
    with pytest.raises(ValueError, match="refs still pin"):
        t.erase_rows(F.col("id") == 1)
    t.drop_tag("hold")
    t.create_branch("exp")
    with pytest.raises(ValueError, match="refs still pin"):
        t.erase_rows(F.col("id") == 1)
    t.drop_branch("exp")
    t.erase_rows(F.col("id") == 1)
    assert sorted(r.id for r in t.read().collect()) == [0, 2, 3]


def test_erase_no_match_still_purges_history(spark, tmp_path):
    """A subject deleted long ago lives only in OLD versions: erase
    with a predicate matching nothing LIVE must still expire history
    (and its files)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 5))
    t.delete(F.col("id") == 2)  # COW: v2 has no 2, v1's file still does
    assert 2 in _all_parquet_ids(spark, t.path)  # bytes still on disk
    rpt = t.erase_rows(F.col("id") == 2)
    assert rpt["files_rewritten"] == 0  # nothing live matched
    assert 2 not in _all_parquet_ids(spark, t.path)  # history purge got it
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 3, 4]


def test_erase_composes_with_column_mapping(spark, tmp_path):
    """Predicates are LOGICAL; sidecars and files store physical names
    — erasure must translate, not miss."""
    t = SnapshotTable(spark, str(tmp_path / "t"), cdf=True)
    t.create(_df(spark, 0, 6))
    t.rename_column("id", "ident")
    t.delete(F.col("ident") == 4, strategy="mor")
    t.erase_rows(F.col("ident").isin(1, 4))
    assert sorted(r.ident for r in t.read().collect()) == [0, 2, 3, 5]
    assert _all_parquet_ids(spark, t.path) & {1, 4} == set()


# ------------------------------------------------- catalog-level erase


def test_catalog_erase_moves_pin_in_one_cas(spark, tmp_path):
    """PinnedCatalog.erase_rows: the subject leaves every physical
    surface AND the catalog pin lands on the erase commit in one CAS —
    pinned reads serve the post-erase truth immediately, instead of
    dangling on a vacuumed version until the next transaction."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.txn_catalog import (
        PinnedCatalog,
    )

    cat = PinnedCatalog(spark, str(tmp_path / "cat"))
    cat.register("t", str(tmp_path / "t"))
    txn = cat.transaction()
    txn.table("t").create(_df(spark, 0, 10))
    txn.commit()
    v_before = cat.state()["version"]

    rpt = cat.erase_rows("t", F.col("id").isin(3, 7))
    assert rpt["catalog_version"] == v_before + 1
    # pinned read = post-erase truth, no dangling window left behind
    ids = sorted(r.id for r in cat.read("t").collect())
    assert ids == [0, 1, 2, 4, 5, 6, 8, 9]
    assert 3 not in _all_parquet_ids(spark, str(tmp_path / "t"))
    t = cat.table("t")
    assert len(t._versions()) == 1  # history expired
    assert cat.pin("t") == t.snapshot().version
    # the catalog stays transactable afterwards (no wedged lineage)
    txn2 = cat.transaction()
    txn2.table("t").append(_df(spark, 100, 102))
    txn2.commit()
    assert 101 in {r.id for r in cat.read("t").collect()}


def test_catalog_erase_refuses_dirty_log_and_unregistered(spark, tmp_path):
    """An abandoned stager's commit (log head past the pin) must not
    launder into the pinned view through an erase rewrite."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.txn_catalog import (
        PinnedCatalog,
    )

    cat = PinnedCatalog(spark, str(tmp_path / "cat"))
    cat.register("t", str(tmp_path / "t"))
    txn = cat.transaction()
    txn.table("t").create(_df(spark, 0, 5))
    txn.commit()
    with pytest.raises(KeyError):
        cat.erase_rows("ghost", F.col("id") == 1)

    # stage-and-abandon: table log head runs past the pin
    txn2 = cat.transaction()
    txn2.table("t").append(_df(spark, 50, 55))
    txn2.abandon()
    with pytest.raises(ValueError, match="repair"):
        cat.erase_rows("t", F.col("id") == 1)
    cat.repair("t")
    rpt = cat.erase_rows("t", F.col("id") == 1)
    assert rpt["files_rewritten"] >= 1
    assert sorted(r.id for r in cat.read("t").collect()) == [0, 2, 3, 4]
    # the abandoned stager's rows did NOT launder into the erased truth
    assert 50 not in _all_parquet_ids(spark, str(tmp_path / "t"))


def test_catalog_erase_refused_under_catalog_branch(spark, tmp_path):
    """A catalog branch forks every table (table-level branch refs
    exist), so the table-level refs refusal propagates through
    PinnedCatalog.erase_rows: erasure under a live warehouse branch
    would be silently partial — drop or merge the branch first."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.txn_catalog import (
        PinnedCatalog,
    )

    cat = PinnedCatalog(spark, str(tmp_path / "cat"))
    cat.register("t", str(tmp_path / "t"))
    txn = cat.transaction()
    txn.table("t").create(_df(spark, 0, 6))
    txn.commit()
    cat.create_branch("exp")
    with pytest.raises(ValueError, match="refs still pin history"):
        cat.erase_rows("t", F.col("id") == 2)
    cat.drop_branch("exp")
    rpt = cat.erase_rows("t", F.col("id") == 2)
    assert rpt["catalog_version"] is not None
    assert sorted(r.id for r in cat.read("t").collect()) == [0, 1, 3, 4, 5]


# ------------------------------------------------ model-based invariant

from hypothesis import given, settings
from hypothesis import strategies as st


# r16: model-based tier (13 s) — SPARK_GRAFT_SLOW=1 (verify-window budget)
@pytest.mark.slow
@settings(max_examples=8, deadline=None)
@given(
    subj=st.sets(st.integers(0, 19), max_size=6),
    predel=st.sets(st.integers(0, 19), max_size=4),
    cdf=st.booleans(),
)
def test_erase_model_invariant(spark, tmp_path_factory, subj, predel, cdf):
    """MODEL INVARIANT: for any subject set, any pre-erase MoR delete
    set, CDF on or off — after ``erase_rows(subject)`` (a) the head
    view is exactly the original rows minus BOTH sets, (b) no subject
    id survives in ANY parquet byte under the table root (DV-hidden
    pre-images and CDF sidecars included), (c) history is a single
    version, and (d) a fresh handle on the same path reads the same
    truth. Never a resurrected soft-deleted row, never a surviving
    subject byte."""
    tmp = tmp_path_factory.mktemp("erase_model")
    t = SnapshotTable(spark, str(tmp / "t"), cdf=cdf)
    t.create(_df(spark, 0, 10))
    t.append(_df(spark, 10, 20))
    if predel:
        t.delete(F.col("id").isin(*predel), strategy="mor")
    t.erase_rows(F.col("id").isin(*(subj or {-1})))

    expect = sorted(set(range(20)) - predel - subj)
    assert sorted(r.id for r in t.read().collect()) == expect
    disk = _all_parquet_ids(spark, str(tmp / "t"))
    assert not (disk & subj), f"subject bytes survived: {disk & subj}"
    # soft-deleted non-subjects may keep bytes (DV-hidden) but must
    # never resurrect into the head view — checked by (a); history:
    assert len(t._versions()) == 1
    fresh = SnapshotTable(spark, str(tmp / "t"))
    assert sorted(r.id for r in fresh.read().collect()) == expect


def test_catalog_erase_pin_conflict_repairs_dangling_pin(
    spark, tmp_path, monkeypatch
):
    """The erase-vs-pin-move race (r13 advice, low): when a concurrent
    catalog CAS (a rollback is the realistic mover) lands between the
    table-level erase and the pin swap, the erase has ALREADY expired
    the version the moved pin names — the old behavior raised with the
    pin dangling on a vacuumed version (pinned reads wedged, re-erase
    hit the head!=pin refusal, repair() targeted a vacuumed version).
    Now the pin is best-effort re-pinned to the erase head BEFORE the
    conflict raises, so the catalog keeps serving."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable as ST,
    )
    from summit_23_snowpark_data_lake_workloads_spark.sources.txn_catalog import (
        PinnedCatalog,
        TransactionConflict,
    )

    cat = PinnedCatalog(spark, str(tmp_path / "cat"))
    cat.register("t", str(tmp_path / "t"))
    txn = cat.transaction()
    txn.table("t").create(_df(spark, 0, 8))
    txn.commit()
    txn = cat.transaction()
    txn.table("t").append(_df(spark, 8, 10))
    txn.commit()

    orig = ST.erase_rows

    def race(self, predicate):
        stats = orig(self, predicate)
        # concurrent writer rolls the pin back to v1 — a version the
        # erase just expired — before the erase's catalog CAS lands
        cur = cat.state()
        tables = dict(cur["tables"])
        tables["t"] = {**tables["t"], "pin": 1}
        cat._cas(cur, tables)
        return stats

    monkeypatch.setattr(ST, "erase_rows", race)
    with pytest.raises(TransactionConflict, match="re-pinned to the erase head"):
        cat.erase_rows("t", F.col("id") == 3)
    monkeypatch.undo()

    # the pin was repaired to the erase head: pinned reads serve the
    # post-erase truth instead of wedging on a vacuumed version
    t = cat.table("t")
    assert cat.pin("t") == t.snapshot().version
    assert sorted(r.id for r in cat.read("t").collect()) == [
        0, 1, 2, 4, 5, 6, 7, 8, 9,
    ]
    assert 3 not in _all_parquet_ids(spark, str(tmp_path / "t"))
    # and the catalog stays transactable (the remedy is executable now)
    txn2 = cat.transaction()
    txn2.table("t").append(_df(spark, 100, 102))
    txn2.commit()
    assert 100 in {r.id for r in cat.read("t").collect()}


def test_catalog_erase_pin_conflict_leaves_readable_pin_alone(
    spark, tmp_path, monkeypatch
):
    """The other conflict arm: a moved pin that names a still-READABLE
    version (the erase head itself — e.g. a twin repair already landed)
    is a live truth the erase must not clobber; the conflict raises
    with the pin untouched."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable as ST,
    )
    from summit_23_snowpark_data_lake_workloads_spark.sources.txn_catalog import (
        PinnedCatalog,
        TransactionConflict,
    )

    cat = PinnedCatalog(spark, str(tmp_path / "cat"))
    cat.register("t", str(tmp_path / "t"))
    txn = cat.transaction()
    txn.table("t").create(_df(spark, 0, 6))
    txn.commit()

    orig = ST.erase_rows

    def race(self, predicate):
        stats = orig(self, predicate)
        head = self.snapshot().version  # the erase head: readable
        cur = cat.state()
        tables = dict(cur["tables"])
        tables["t"] = {**tables["t"], "pin": head}
        cat._cas(cur, tables)
        return stats

    monkeypatch.setattr(ST, "erase_rows", race)
    with pytest.raises(TransactionConflict, match="readable"):
        cat.erase_rows("t", F.col("id") == 2)
    monkeypatch.undo()
    t = cat.table("t")
    assert cat.pin("t") == t.snapshot().version
    assert sorted(r.id for r in cat.read("t").collect()) == [0, 1, 3, 4, 5]
