"""Named TAGS (Iceberg-style refs) + keep-aware vacuum
(sources/lakehouse.py) and the catalog side (txn_catalog.py): tagged /
pinned versions survive any ``retain_last`` horizon, gap-kept delta
manifests are materialized full before their base drops, txn stamps of
gap-dropped versions fold into the retained high-water map, and the
pinned catalog gains pin-respecting vacuum plus cross-table time
travel over its own version history."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    SnapshotTable,
)
from summit_23_snowpark_data_lake_workloads_spark.sources.txn_catalog import (
    PinnedCatalog,
)


def _df(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .coalesce(1)
        .select(F.col("id").cast("int").alias("id"))
    )


def _ids(df):
    return sorted(r.id for r in df.collect())


# ----------------------------------------------------------- tag API


def test_tag_roundtrip_and_drop(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 5))
    t.append(_df(spark, 5, 8))
    assert t.create_tag("v1-audit", version=1) == 1
    assert t.create_tag("head") == 2  # default: latest
    assert t.tags() == {"head": 2, "v1-audit": 1}
    assert _ids(t.read(tag="v1-audit")) == list(range(5))
    assert _ids(t.read(tag="head")) == list(range(8))
    t.drop_tag("head")
    assert t.tags() == {"v1-audit": 1}
    with pytest.raises(KeyError):
        t.read(tag="head")
    with pytest.raises(KeyError):
        t.drop_tag("head")


def test_tag_validation(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    with pytest.raises(FileNotFoundError):
        t.create_tag("x")  # nothing committed yet
    t.create(_df(spark, 0, 3))
    with pytest.raises(LookupError):
        t.create_tag("x", version=9)
    with pytest.raises(ValueError):
        t.create_tag("bad/name")
    t.create_tag("x")
    with pytest.raises(FileExistsError):
        t.create_tag("x")  # immutable: drop + re-create to move
    with pytest.raises(ValueError):
        t.read(tag="x", version=1)  # mutually exclusive


# ------------------------------------------------- tag-aware vacuum


def test_vacuum_keeps_tagged_version(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))          # v1
    t.append(_df(spark, 4, 8))          # v2
    t.append(_df(spark, 8, 12))         # v3
    t.overwrite(_df(spark, 100, 104))   # v4 (drops every earlier file)
    t.create_tag("keep-v2", version=2)
    removed = t.vacuum(retain_last=1, orphan_grace_ms=0)
    assert t._versions() == [2, 4]
    # the tagged snapshot reads exactly; untagged history is gone
    assert _ids(t.read(tag="keep-v2")) == list(range(8))
    assert _ids(t.read()) == list(range(100, 104))
    with pytest.raises(LookupError):
        t.read(version=3)
    # v3's own file was swept (referenced by no retained version)
    assert any("data/" in f or f.endswith(".parquet") for f in removed)
    # dropping the tag releases the hold at the next vacuum
    t.drop_tag("keep-v2")
    t.vacuum(retain_last=1, orphan_grace_ms=0)
    assert t._versions() == [4]


def test_vacuum_materializes_gap_kept_delta(spark, tmp_path):
    """v2 is a DELTA manifest based on v1; keeping {2, 4} while
    dropping v1 must rewrite v2 as a full manifest or it could never
    resolve again."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))      # v1 full
    t.append(_df(spark, 4, 8))      # v2 delta on v1
    t.append(_df(spark, 8, 12))     # v3 delta on v2
    t.append(_df(spark, 12, 16))    # v4 delta on v3
    t.create_tag("pin2", version=2)
    assert "base_version" in t._raw(2)
    t.vacuum(retain_last=1, orphan_grace_ms=0)
    assert t._versions() == [2, 4]
    # materialized full — and still carrying its own commit delta
    raw2 = t._raw(2)
    assert "base_version" not in raw2 and raw2.get("files")
    assert raw2.get("add")
    assert _ids(t.read(tag="pin2")) == list(range(8))
    # v4 (oldest-kept rule ran on keep_v[0]=2; v4's chain crosses the
    # dropped v3, so it was materialized too)
    assert _ids(t.read()) == list(range(16))


def test_vacuum_keep_versions_param(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 2))
    t.append(_df(spark, 2, 4))
    t.append(_df(spark, 4, 6))
    t.vacuum(retain_last=1, orphan_grace_ms=0, keep_versions=[2])
    assert t._versions() == [2, 3]
    assert _ids(t.read(version=2)) == list(range(4))
    with pytest.raises(LookupError):
        t.vacuum(retain_last=1, keep_versions=[99])


def test_vacuum_dry_run_respects_tags(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 2))
    t.append(_df(spark, 2, 4))
    t.overwrite(_df(spark, 9, 11))
    t.create_tag("p", version=2)
    would = t.vacuum(retain_last=1, orphan_grace_ms=0, dry_run=True)
    # only v1's file is droppable: v2 is tagged and carries v1+v2 rows?
    # no — v2 references v1's file too (append), so nothing but files
    # referenced by NO kept version may appear
    live = set(t._load(2).files) | set(t._load(3).files)
    assert all(f not in live for f in would)
    assert t._versions() == [1, 2, 3]  # dry run dropped nothing


def test_vacuum_folds_gap_dropped_txn_stamps(spark, tmp_path):
    """A dropped version NEWER than the oldest retained manifest must
    not take its replay-protection stamp with it."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 2))                               # v1
    t.append(_df(spark, 2, 4), txn={"app_id": "a", "batch_id": 5})   # v2
    t.append(_df(spark, 4, 6), txn={"app_id": "a", "batch_id": 7})   # v3
    t.append(_df(spark, 6, 8))                               # v4
    t.create_tag("old", version=1)
    t.vacuum(retain_last=1, orphan_grace_ms=0)  # keeps {1, 4}; drops 2, 3
    assert t._versions() == [1, 4]
    assert t.last_committed_batch("a") == 7


# ------------------------------------------------- catalog surfaces


def test_catalog_vacuum_keeps_pin(spark, tmp_path):
    cat = PinnedCatalog(spark, str(tmp_path / "cat"))
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))
    cat.register("t", t.path)
    txn = cat.transaction()
    txn.table("t").append(_df(spark, 4, 8))
    txn.commit()                         # pin -> 2
    # log head races ahead of the pin (a long-staging transaction)
    t.append(_df(spark, 8, 12))          # v3 staged, unpinned
    t.append(_df(spark, 12, 16))         # v4 staged, unpinned
    cat.vacuum("t", retain_last=1, orphan_grace_ms=0)
    assert t._versions() == [2, 4]       # pin survived retain_last=1
    assert _ids(cat.read("t")) == list(range(8))


def test_catalog_time_travel(spark, tmp_path):
    cat = PinnedCatalog(spark, str(tmp_path / "cat"))
    a = SnapshotTable(spark, str(tmp_path / "a"))
    a.create(_df(spark, 0, 3))
    b = SnapshotTable(spark, str(tmp_path / "b"))
    b.create(_df(spark, 0, 30))
    cat.register("a", a.path)
    cat.register("b", b.path)
    v_before = cat.state()["version"]
    txn = cat.transaction()
    txn.table("a").append(_df(spark, 3, 6))
    txn.table("b").overwrite(_df(spark, 30, 60))
    txn.commit()
    # the historical catalog state is a CONSISTENT cross-table pair
    assert _ids(cat.read("a", catalog_version=v_before)) == list(range(3))
    assert _ids(cat.read("b", catalog_version=v_before)) == list(range(30))
    assert _ids(cat.read("a")) == list(range(6))
    assert _ids(cat.read("b")) == list(range(30, 60))
    with pytest.raises(LookupError):
        cat.state(version=99)


# ---------------------------------------------- catalog-level tags


def _adv(cat, spark, n):
    """Advance the catalog: one txn appending [n, n+3) to table 'a'."""
    txn = cat.transaction()
    txn.table("a").append(_df(spark, n, n + 3))
    return txn.commit()


@pytest.fixture()
def tagcat(spark, tmp_path):
    cat = PinnedCatalog(spark, str(tmp_path / "cat"))
    for nm in ("a", "b"):
        t = SnapshotTable(spark, str(tmp_path / nm))
        t.create(_df(spark, 0, 4))
        cat.register(nm, t.path)
    # move both pins under transaction control once
    txn = cat.transaction()
    txn.table("a").append(_df(spark, 4, 6))
    txn.table("b").append(_df(spark, 4, 8))
    txn.commit()
    return cat


def test_catalog_tag_roundtrip_and_protection(spark, tagcat, tmp_path):
    cat = tagcat
    v = cat.create_tag("release-1")
    assert cat.tags() == {"release-1": v}
    # protection tags landed on every pinned table at its pin
    for nm in ("a", "b"):
        t = cat.table(nm)
        assert t.tags()["catalog-release-1"] == cat.pin(nm)
    _adv(cat, spark, 100)
    tv = cat.tag_version("release-1")
    assert _ids(cat.read("a", catalog_version=tv)) == list(range(6))
    assert 100 not in _ids(cat.read("a", catalog_version=tv))
    cat.drop_tag("release-1")
    assert cat.tags() == {}
    assert "catalog-release-1" not in cat.table("a").tags()


def test_catalog_tag_survives_expiry_and_table_vacuum(spark, tagcat):
    """The named warehouse snapshot must survive BOTH retention axes:
    catalog state expiry (tagged state kept) and raw table vacuum
    (protection tags keep the pinned table versions)."""
    cat = tagcat
    tv = cat.create_tag("audit-2026q3")
    for n in (100, 200, 300):
        _adv(cat, spark, n)
    dropped = cat.expire_states(retain_last=1)
    assert dropped and tv not in dropped
    # RAW table vacuum (not catalog.vacuum): the protection tag alone
    # must keep the tagged pin alive past retain_last=1
    cat.table("a").vacuum(retain_last=1, orphan_grace_ms=0)
    assert _ids(cat.read("a", catalog_version=tv)) == list(range(6))
    # untagged old states are gone
    with pytest.raises(LookupError):
        cat.state(version=dropped[0])
    # current head unaffected
    assert 300 in _ids(cat.read("a"))


def test_protect_tag_idempotent_and_conflict(spark, tagcat):
    cat = tagcat
    v = cat.create_tag("r2", protect=False)
    assert "catalog-r2" not in cat.table("a").tags()
    cat.protect_tag("r2")  # applies
    cat.protect_tag("r2")  # idempotent re-run (the crash-repair path)
    assert cat.table("a").tags()["catalog-r2"] == cat.pin("a")
    # a foreign tag squatting the protection name at another version
    _adv(cat, spark, 500)
    cat.table("a").drop_tag("catalog-r2")
    cat.table("a").create_tag("catalog-r2")  # now at the NEW head
    with pytest.raises(FileExistsError):
        cat.protect_tag("r2")
    assert cat.tag_version("r2") == v


def test_expire_states_keeps_last_n(spark, tagcat):
    cat = tagcat
    v0 = cat.state()["version"]
    for n in (10, 20, 30):
        _adv(cat, spark, n)
    dropped = cat.expire_states(retain_last=2)
    assert v0 in dropped
    vs = [v0 + 1, v0 + 2, v0 + 3]
    assert cat.state(version=vs[-1])["version"] == vs[-1]
    with pytest.raises(ValueError):
        cat.expire_states(retain_last=0)


def test_dangling_tag_names_itself_in_vacuum_error(spark, tmp_path):
    """A tag whose target version is gone (it lost a race with an
    earlier sweep, or the sidecar was hand-planted) must fail vacuum
    with the TAG named — and drop_tag must un-brick retention."""
    import json
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 2))
    t.append(_df(spark, 2, 4))
    tdir = tmp_path / "t" / "_manifests" / "tags"
    tdir.mkdir(parents=True, exist_ok=True)
    (tdir / "ghost.json").write_text(
        json.dumps({"name": "ghost", "version": 99, "timestamp_ms": 0})
    )
    with pytest.raises(LookupError, match="ghost"):
        t.vacuum(retain_last=1, orphan_grace_ms=0)
    assert t._versions() == [1, 2]  # nothing swept under the refusal
    t.drop_tag("ghost")
    t.vacuum(retain_last=1, orphan_grace_ms=0)
    assert t._versions() == [2]
    assert os.path.isdir(tdir)  # tags dir itself survives


@pytest.mark.slow  # r16: model/quality tier — SPARK_GRAFT_SLOW=1 (verify-window budget)
def test_tag_composes_with_mor_rename_cdf_vacuum(spark, tmp_path):
    """The session-3 tag tier must compose with the session-1/2
    mutation tier: tag a post-merge_mor version, rename a column,
    delete_mor, vacuum to retain_last=1 — the tagged read serves the
    RENAMED logical view (column mapping is table-global, the Delta
    rule) over the exact tagged snapshot, the deletion vectors of the
    tagged version still subtract, and the change feed across the
    retained range still answers."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"), cdf=True)
    t.create(
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "k int, v double"
        ).coalesce(1)
    )                                                       # v1
    t.merge(
        spark.createDataFrame([(2, -2.0), (9, 9.0)], "k int, v double"),
        ["k"],
        strategy="mor",
    )                                                       # v2: DV + append
    t.create_tag("post-merge", version=2)
    t.rename_column("v", "val")                             # v3: metadata
    t.delete(F.col("k") % 2 == 1, strategy="mor")           # v4: DVs
    t.vacuum(retain_last=1, orphan_grace_ms=0)
    assert 2 in t._versions()
    # tagged read: renamed logical view, post-merge values, DV applied
    got = {(r.k, r.val) for r in t.read(tag="post-merge").collect()}
    want = {(i, float(i)) for i in range(8) if i != 2} | {(2, -2.0), (9, 9.0)}
    assert got == want
    # head: odd keys gone
    head = {r.k for r in t.read().collect()}
    assert head == {k for k in (0, 2, 4, 6) }
    # non-contiguous retention makes a mid-range HOLE (v3, the rename,
    # was dropped): the feed refuses honestly rather than skipping a
    # commit whose delta it cannot prove empty...
    with pytest.raises(FileNotFoundError):
        t.changes(2, 4)
    # ...while the retained sub-range still answers, renamed column
    # and all (DV pre-images retained because the tagged/head
    # manifests still reference those files)
    chg = t.changes(3, 4)
    assert "val" in chg.columns
    dels = {r.k for r in chg.filter(F.col("_change_type") == "delete").collect()}
    assert dels == {1, 3, 5, 7, 9}


def test_tagged_sharded_checkpoint_survives_gap_vacuum(spark, tmp_path):
    """A tag on a SHARDED full checkpoint: the gap vacuum must keep
    that version's shard sidecars (they are the manifest's body) while
    sweeping dropped versions' shards, and pruned reads through the
    tag stay partition-local."""
    t = SnapshotTable(
        spark, str(tmp_path / "t"), partition_by=["day"]
    )
    t.shard_checkpoint_files = 8  # force sharding at test scale
    t.create(
        spark.createDataFrame(
            [(i, f"d{i % 5}", float(i)) for i in range(50)],
            "id int, day string, v double",
        ).repartition(4)
    )                                                       # v1 sharded
    t.append(
        spark.createDataFrame([(99, "d3", 9.9)], "id int, day string, v double")
    )                                                       # v2 delta
    t.overwrite(
        spark.createDataFrame([(1, "d0", 1.0)], "id int, day string, v double")
    )                                                       # v3 sharded? no: 1 file
    t.create_tag("ckpt", version=1)
    t.vacuum(retain_last=1, orphan_grace_ms=0)
    assert t._versions() == [1, 3]
    assert "shard_index" in t._raw(1)  # still the sharded form
    df = t.read(tag="ckpt")
    assert df.count() == 50
    # pruned resolution through the tagged checkpoint stays local
    t.read(version=1, partition_where=[("day", "=", "d3")]).count()
    assert len(t.last_shards_loaded) == 1


# ------------------------------------- retention + restore polish


def test_vacuum_retain_ms_keeps_recent_versions(spark, tmp_path):
    """Age-based retention: versions committed within retain_ms stay
    regardless of retain_last — 'time travel works for N hours' as one
    dial, independent of commit rate."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 2))
    t.append(_df(spark, 2, 4))
    t.append(_df(spark, 4, 6))
    t.append(_df(spark, 6, 8))
    # all four versions committed "just now": a 1h age window keeps all
    t.vacuum(retain_last=1, orphan_grace_ms=0, retain_ms=3_600_000)
    assert t._versions() == [1, 2, 3, 4]
    # age window of 0: only the count floor holds
    t.vacuum(retain_last=2, orphan_grace_ms=0, retain_ms=0)
    assert t._versions() == [3, 4]


def test_catalog_rollback_restores_consistent_pair(spark, tagcat):
    cat = tagcat
    v_good = cat.state()["version"]
    good_a = _ids(cat.read("a"))
    good_b = _ids(cat.read("b"))
    _adv(cat, spark, 500)  # bad data lands in a
    assert 500 in _ids(cat.read("a"))
    cat.rollback(v_good)
    assert _ids(cat.read("a")) == good_a
    assert _ids(cat.read("b")) == good_b
    # table logs did not move: the bad version is still in a's log,
    # just unpinned (ages out under vacuum)
    assert 500 in _ids(cat.table("a").read())
    # forward progress after the restore: a fresh txn re-pins normally
    cat.repair("a")  # log head sits past the restored pin
    txn = cat.transaction()
    txn.table("a").append(_df(spark, 900, 902))
    txn.commit()
    assert 900 in _ids(cat.read("a"))
    assert 500 not in _ids(cat.read("a"))  # rolled-back rows stay gone


def test_catalog_rollback_leaves_later_registrations(spark, tagcat, tmp_path):
    cat = tagcat
    v_old = cat.state()["version"]
    late = SnapshotTable(spark, str(tmp_path / "late"))
    late.create(_df(spark, 0, 3))
    cat.register("late", late.path)
    txn = cat.transaction()
    txn.table("late").append(_df(spark, 3, 5))
    txn.commit()
    pin_late = cat.pin("late")
    cat.rollback(v_old)
    assert cat.pin("late") == pin_late  # the old state has no opinion
    assert _ids(cat.read("late")) == list(range(5))


def test_catalog_state_as_of_ms(spark, tagcat):
    import time as _time

    cat = tagcat
    v1 = cat.state()["version"]
    ts_between = int(_time.time() * 1000)
    _time.sleep(0.05)
    _adv(cat, spark, 700)
    st = cat.state(as_of_ms=ts_between)
    assert st["version"] == v1
    with pytest.raises(LookupError):
        cat.state(as_of_ms=0)
    with pytest.raises(ValueError):
        cat.state(version=v1, as_of_ms=ts_between)


def test_restore_tag_table_and_catalog(spark, tagcat, tmp_path):
    """create_tag -> mutate -> restore_tag, at both levels: the table
    form replays the tagged content forward as a rollback commit; the
    catalog form re-pins the whole warehouse to the named snapshot in
    one CAS, protection tags guaranteeing the pins still resolve."""
    # table level
    t = SnapshotTable(spark, str(tmp_path / "solo"))
    t.create(_df(spark, 0, 4))
    t.create_tag("pre-migration")
    t.overwrite(_df(spark, 100, 102))
    snap = t.restore_tag("pre-migration")
    assert snap.operation == "rollback"
    assert _ids(t.read()) == list(range(4))
    # catalog level: survives state expiry + table vacuum, then restores
    cat = tagcat
    cat.create_tag("golden")
    good_a, good_b = _ids(cat.read("a")), _ids(cat.read("b"))
    for n in (100, 200):
        _adv(cat, spark, n)
    cat.expire_states(retain_last=1)
    cat.table("a").vacuum(retain_last=1, orphan_grace_ms=0)
    cat.restore_tag("golden")
    assert _ids(cat.read("a")) == good_a
    assert _ids(cat.read("b")) == good_b


def test_restore_unified_verb(spark, tmp_path):
    """`RESTORE TABLE t TO VERSION/TIMESTAMP AS OF` as one table-local
    verb: restore(version=) == rollback, restore(as_of_ms=) resolves
    like read()'s time travel, restore(tag=) == restore_tag — all
    replayed forward as auditable rollback commits; an explicit target
    is required and exactly one selector is accepted."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))  # v1
    t.append(_df(spark, 4, 7))  # v2
    ts_v2 = t.snapshot(2).timestamp_ms
    at_ts = _ids(t.read(as_of_ms=ts_v2))  # whatever read() resolves
    t.create_tag("keep")
    t.overwrite(_df(spark, 100, 103))  # v3

    snap = t.restore(version=1)
    assert snap.operation == "rollback"
    assert _ids(t.read()) == list(range(4))

    t.restore(as_of_ms=ts_v2)
    assert _ids(t.read()) == at_ts  # same resolution as read()

    t.restore(tag="keep")
    assert _ids(t.read()) == list(range(7))

    # history is forward-only: every restore is a new auditable commit
    assert t.snapshot().version == 6
    with pytest.raises(ValueError, match="exactly ONE"):
        t.restore()
    with pytest.raises(ValueError, match="exactly ONE"):
        t.restore(version=1, tag="keep")
    with pytest.raises(LookupError):
        t.restore(as_of_ms=0)
