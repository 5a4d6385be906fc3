"""Writable BRANCH refs + squash merge-back (sources/lakehouse.py:
create_branch / branch / merge_branch / drop_branch) — the movable twin
of tags (Iceberg/Nessie branch model): experiment on a zero-copy fork,
publish the net change back through the same commute machinery
``_commit`` already uses, or discard without a trace.

Reference anchor: iterating on CURATED.PRODUCT_SALES without touching
the serving copy the task DAG reads (04_sales_enrich_sp.sql:61)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    BranchMergeConflict,
    SnapshotTable,
)


def _df(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .coalesce(1)
        .select(F.col("id").cast("int").alias("id"))
    )


def _ids(df):
    return sorted(r.id for r in df.collect())


# ------------------------------------------------------ branch basics


def test_branch_isolation_and_ff_merge(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 5))
    br = t.create_branch("exp")
    assert t.branches()["exp"]["fork_version"] == 1
    br.append(_df(spark, 5, 8))
    # branch commits are invisible to main...
    assert _ids(t.read()) == list(range(5))
    # ...and main's are invisible to the branch handle
    assert _ids(br.read()) == list(range(8))
    snap = t.merge_branch("exp")
    assert snap.operation == "merge_branch"
    assert _ids(t.read()) == list(range(8))
    # ref released on merge; the directory (now referenced) remains
    assert "exp" not in t.branches()


def test_branch_double_create_refused(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 3))
    t.create_branch("x")
    with pytest.raises(FileExistsError):
        t.create_branch("x")
    with pytest.raises(ValueError):
        t.create_branch("bad name!")


def test_branch_at_older_version(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 5))
    t.append(_df(spark, 5, 9))
    br = t.create_branch("old", version=1)
    assert _ids(br.read()) == list(range(5))
    br.append(_df(spark, 100, 102))
    # main moved past the fork but only with appends -> rebases cleanly
    t.merge_branch("old")
    assert _ids(t.read()) == list(range(9)) + [100, 101]


def test_empty_merge_is_noop(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))
    t.create_branch("idle")
    v_before = t.snapshot().version
    snap = t.merge_branch("idle")
    assert snap.version == v_before  # no commit happened
    assert "idle" not in t.branches()


def test_drop_branch_discards(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))
    br = t.create_branch("scratch")
    br.append(_df(spark, 50, 60))
    root = br.path
    t.drop_branch("scratch")
    assert not os.path.exists(root)
    assert "scratch" not in t.branches()
    assert _ids(t.read()) == list(range(4))
    with pytest.raises(KeyError):
        t.drop_branch("scratch")


# --------------------------------------------- divergence + conflicts


def test_merge_rebases_over_disjoint_main_commits(spark, tmp_path):
    """Main appends AND soft-deletes rows in ITS OWN new file while the
    branch COW-deletes rows from a fork file — disjoint file sets, so
    the merge rebases; both sides' edits land."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 5))  # fork file A
    br = t.create_branch("exp")
    br.delete(F.col("id") < 2)  # branch rewrites A -> A' (drops 0,1)
    t.append(_df(spark, 10, 15))  # main adds file B
    t.delete(F.col("id") == 12, strategy="mor")  # main DVs B only
    t.merge_branch("exp")
    assert _ids(t.read()) == [2, 3, 4, 10, 11, 13, 14]


def test_merge_conflict_same_file_rewritten(spark, tmp_path):
    """Both sides rewrite the SAME fork file -> refuse, main unmoved,
    branch intact for a manual rebase."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 5))
    br = t.create_branch("exp")
    br.delete(F.col("id") == 0)  # branch rewrites the fork file
    t.delete(F.col("id") == 4)  # main rewrites the SAME file
    main_before = _ids(t.read())
    with pytest.raises(BranchMergeConflict):
        t.merge_branch("exp")
    assert _ids(t.read()) == main_before
    assert _ids(t.branch("exp").read()) == [1, 2, 3, 4]
    assert "exp" in t.branches()  # ref survives a refused merge


def test_merge_conflict_dv_overlap(spark, tmp_path):
    """Main DV-deletes on the fork file; branch DV-deletes on the same
    file — same-rows-maybe-touched is a conflict, not a silent union."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 6))
    br = t.create_branch("exp")
    br.delete(F.col("id") == 1, strategy="mor")
    t.delete(F.col("id") == 5, strategy="mor")
    with pytest.raises(BranchMergeConflict):
        t.merge_branch("exp")


def test_merge_conflict_metadata_diverged(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))
    br = t.create_branch("exp")
    br.append(_df(spark, 4, 6))
    t.rename_column("id", "ident")  # metadata moved on main
    with pytest.raises(BranchMergeConflict):
        t.merge_branch("exp")


def test_merge_transfers_branch_dvs(spark, tmp_path):
    """Branch soft-deletes (MoR) on a fork file transfer as DV runs —
    no rewrite on either side; main was append-only meanwhile."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 6))
    br = t.create_branch("exp")
    br.delete(F.col("id").isin(1, 3), strategy="mor")
    t.append(_df(spark, 10, 12))
    t.merge_branch("exp")
    assert _ids(t.read()) == [0, 2, 4, 5, 10, 11]
    # soft-delete, not rewrite: the fork file is still live, with a DV
    head = t.snapshot()
    assert any(head.dvs.values())


# ------------------------------------------------- retention coupling


def test_vacuum_retains_fork_while_branch_lives(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 5))  # v1 = fork
    br = t.create_branch("exp")
    t.overwrite(_df(spark, 20, 23))  # v2
    t.overwrite(_df(spark, 30, 33))  # v3
    t.vacuum(retain_last=1, orphan_grace_ms=0)
    # fork version (and its files) survived for the branch's sake
    assert _ids(br.read()) == list(range(5))
    assert 1 in t._versions()
    # merge releases the ref; the next vacuum may expire the fork
    br.append(_df(spark, 40, 42))
    t.merge_branch("exp")
    t.vacuum(retain_last=1, orphan_grace_ms=0)
    assert 1 not in t._versions()
    assert _ids(t.read()) == [30, 31, 32, 40, 41]


def test_drop_branch_refused_while_merged_files_referenced(
    spark, tmp_path
):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 3))
    br = t.create_branch("exp")
    br.append(_df(spark, 3, 5))
    t.merge_branch("exp", drop_ref=False)
    with pytest.raises(ValueError, match="still referenced"):
        t.drop_branch("exp")
    # compaction re-homes the rows under main's root, vacuum drops the
    # old references, and then the branch is droppable
    t.compact(target_files=1)
    t.vacuum(retain_last=1, orphan_grace_ms=0)
    t.drop_branch("exp")
    assert _ids(t.read()) == list(range(5))


def test_branch_of_partitioned_table(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "t"), partition_by=["part"]
    )
    df = (
        spark.range(0, 8)
        .select(
            F.col("id").cast("int").alias("id"),
            (F.col("id") % 2).cast("int").alias("part"),
        )
        .coalesce(1)
    )
    t.create(df)
    br = t.create_branch("exp")
    br.append(
        spark.range(100, 102)
        .select(
            F.col("id").cast("int").alias("id"),
            F.lit(1).cast("int").alias("part"),
        )
        .coalesce(1)
    )
    assert br.partition_by == ["part"]
    t.merge_branch("exp")
    assert _ids(t.read()) == list(range(8)) + [100, 101]
    # merged branch-local files carry their partition tuples: a pruned
    # read over part=0 must not scan the part=1 branch file
    assert _ids(t.read(partition_where=[("part", "=", 0)])) == [
        0,
        2,
        4,
        6,
    ]


def test_merge_with_cdf_emits_branch_changes(spark, tmp_path):
    """On a CDF-enabled main, the merge commit's change rows are the
    branch's net delta (inserts of added rows, deletes of removed)."""
    t = SnapshotTable(spark, str(tmp_path / "t"), cdf=True)
    t.create(_df(spark, 0, 4))
    br = t.create_branch("exp")
    br.delete(F.col("id") == 2)
    t.merge_branch("exp")
    head_v = t.snapshot().version
    ch = t.changes(head_v - 1, head_v)
    got = sorted(
        (r["_change_type"], r["id"]) for r in ch.select("_change_type", "id").collect()
    )
    # net of the branch's COW rewrite: 0,1,3 re-added, 0,1,2 removed —
    # additive fold must be exactly {-2}
    ins = [i for c, i in got if c == "insert"]
    dels = [i for c, i in got if c == "delete"]
    from collections import Counter

    net = Counter(ins)
    net.subtract(Counter(dels))
    assert {k: v for k, v in net.items() if v} == {2: -1}


# ------------------------------------------- cross-feature compositions


def test_merge_commit_flows_through_cdf_and_incremental_rollup(
    spark, tmp_path
):
    """COMPOSITION: a merge_branch commit is an ordinary add/remove/DV
    commit, so the change feed serves it and an incremental rollup
    refresh folds it — the branch workflow composes with the always-on
    maintenance tier with no special cases."""
    from summit_23_snowpark_data_lake_workloads_spark.operators.rollup import (
        refresh_rollup,
    )

    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    df = (
        spark.range(0, 8)
        .coalesce(2)
        .select(
            F.col("id").cast("int").alias("id"),
            (F.col("id") % 2).alias("grp"),
            (F.col("id") * 10).cast("long").alias("v"),
        )
    )
    fact.create(df)
    silver = SnapshotTable(spark, str(tmp_path / "silver"))
    prep = lambda d: d.select("grp", "v")  # noqa: E731
    assert refresh_rollup(fact, silver, prep, ["grp"], ["v"]) == "full"

    br = fact.create_branch("exp")
    br.delete(F.col("id") == 0)  # COW rewrite on the branch
    br.append(
        spark.range(100, 102)
        .coalesce(1)
        .select(
            F.col("id").cast("int").alias("id"),
            F.lit(1).cast("long").alias("grp"),
            F.lit(5).cast("long").alias("v"),
        )
    )
    fact.merge_branch("exp")
    # the merge commit folds INCREMENTALLY via the change feed
    mode = refresh_rollup(fact, silver, prep, ["grp"], ["v"])
    assert mode == "incremental_cdf"
    got = {
        (r.grp, r.n_rows, r.sum_v) for r in silver.read().collect()
    }
    want = {
        (r.grp, r.n_rows, r.sum_v)
        for r in fact.read()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want


def test_branch_of_renamed_table_and_merge(spark, tmp_path):
    """Branching a table that already HAS a column map: the fork
    inherits the rename, branch writes translate through it, and the
    merge succeeds because metadata matches on both sides."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))
    t.rename_column("id", "ident")
    br = t.create_branch("exp")
    assert br.column_map == t.column_map
    br.append(
        spark.range(10, 12)
        .coalesce(1)
        .select(F.col("id").cast("int").alias("ident"))
    )
    t.merge_branch("exp")
    assert sorted(r.ident for r in t.read().collect()) == [
        0, 1, 2, 3, 10, 11,
    ]


def test_branch_fork_at_version_before_rename_refuses_merge(
    spark, tmp_path
):
    """Fork BEFORE a rename, main renames after: the branch carries the
    old metadata, so the merge must refuse (metadata diverged), never
    silently write physical names main no longer serves."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))  # v1: column 'id'
    br = t.create_branch("old", version=1)
    br.append(_df(spark, 4, 6))
    t.rename_column("id", "ident")
    with pytest.raises(BranchMergeConflict):
        t.merge_branch("old")


def test_persisted_cdf_serves_merge_commit_after_vacuum(spark, tmp_path):
    """COMPOSITION with persisted CDF: on a cdf=True table the merge
    commit writes change sidecars BEFORE publishing, so the feed serves
    the branch's net delta even after the pre-image files are
    vacuumed."""
    t = SnapshotTable(spark, str(tmp_path / "t"), cdf=True)
    t.create(_df(spark, 0, 4).coalesce(1))
    br = t.create_branch("exp")
    br.delete(F.col("id") == 2)
    t.merge_branch("exp")
    head = t.snapshot().version
    t.vacuum(retain_last=1, orphan_grace_ms=0)  # pre-images gone
    ch = t.changes(head - 1, head)
    from collections import Counter

    net = Counter()
    for r in ch.select("_change_type", "id").collect():
        net[r.id] += 1 if r._change_type == "insert" else -1
    assert {k: v for k, v in net.items() if v} == {2: -1}


def test_read_branch_sugar_and_branch_from_tag(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 3))  # v1
    t.create_tag("release", version=1)
    t.append(_df(spark, 3, 6))  # v2
    br = t.create_branch("hotfix", tag="release")
    br.append(_df(spark, 100, 101))
    # read(branch=) serves the branch head; main head unaffected
    assert _ids(t.read(branch="hotfix")) == [0, 1, 2, 100]
    assert _ids(t.read()) == list(range(6))
    with pytest.raises(ValueError):
        t.read(branch="hotfix", tag="release")
    with pytest.raises(ValueError):
        t.create_branch("x", version=1, tag="release")


def test_branch_name_reuse_after_merge_refused(spark, tmp_path):
    """Reusing a branch name whose directory still holds the merged
    table must refuse BEFORE publishing a ref (r12 advice, medium):
    the old flow published the ref first, clone_to then hit the stale
    directory and raised — leaking a live ref that served the stale
    pre-merge table and could double-merge its files into main."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))
    br = t.create_branch("exp")
    br.append(_df(spark, 10, 13))
    t.merge_branch("exp")  # ref released; directory stays (referenced)
    with pytest.raises(FileExistsError, match="merged table"):
        t.create_branch("exp")
    # the failed create must NOT leak a ref: no phantom branch listed,
    # no stale pre-merge read served, and main's next merge surface
    # is untouched
    assert t.branches() == {}
    with pytest.raises(KeyError):
        t.branch("exp")
    assert _ids(t.read()) == [0, 1, 2, 3, 10, 11, 12]


def test_create_branch_clone_failure_unlinks_ref(spark, tmp_path,
                                                 monkeypatch):
    """If the clone itself dies (disk full, racing writer), the
    just-published ref must be unlinked — branches() listing a branch
    whose table never materialized would wedge vacuum retention and
    serve KeyError-less phantom reads."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 3))

    def boom(dst_path, version=None):
        raise OSError("simulated clone failure")

    monkeypatch.setattr(t, "clone_to", boom)
    with pytest.raises(OSError, match="simulated clone failure"):
        t.create_branch("doomed")
    monkeypatch.undo()
    assert t.branches() == {}
    # the name is reusable once the failure cause is gone
    br = t.create_branch("doomed")
    assert _ids(br.read()) == [0, 1, 2]


# ---------------------------------------------- model-based invariant

from hypothesis import given, settings
from hypothesis import strategies as st


# r16: model-based tier (17 s) — SPARK_GRAFT_SLOW=1 (verify-window budget)
@pytest.mark.slow
@settings(max_examples=12, deadline=None)
@given(
    bdel=st.sets(st.integers(0, 9), max_size=4),
    badd=st.integers(0, 3),
    mdel=st.sets(st.integers(0, 9), max_size=4),
    madd=st.integers(0, 3),
    b_mor=st.booleans(),
    m_mor=st.booleans(),
)
def test_merge_model_invariant(spark, tmp_path_factory, bdel, badd,
                               mdel, madd, b_mor, m_mor):
    """MODEL INVARIANT: for any combination of branch edits (COW or MoR
    deletes of init rows + appends) and concurrent main edits, a merge
    either (a) succeeds and the final content is exactly the union of
    both sides' logical edits, or (b) refuses with BranchMergeConflict
    and NEITHER side has moved — never a third outcome, never a lost or
    resurrected row."""
    tmp = tmp_path_factory.mktemp("merge_model")
    t = SnapshotTable(spark, str(tmp / "t"))
    t.create(_df(spark, 0, 5))   # file A: 0-4
    t.append(_df(spark, 5, 10))  # file B: 5-9
    init = set(range(10))
    br = t.create_branch("exp")
    if bdel:
        br.delete(
            F.col("id").isin(*[int(x) for x in bdel]),
            strategy="mor" if b_mor else "cow",
        )
    if badd:
        br.append(_df(spark, 100, 100 + badd))
    if mdel:
        t.delete(
            F.col("id").isin(*[int(x) for x in mdel]),
            strategy="mor" if m_mor else "cow",
        )
    if madd:
        t.append(_df(spark, 200, 200 + madd))
    main_before = _ids(t.read())
    branch_before = _ids(br.read())
    try:
        t.merge_branch("exp")
    except BranchMergeConflict:
        assert _ids(t.read()) == main_before  # (b) nothing moved
        assert _ids(t.branch("exp").read()) == branch_before
        return
    want = sorted(
        (init - bdel - mdel)
        | set(range(100, 100 + badd))
        | set(range(200, 200 + madd))
    )
    assert _ids(t.read()) == want  # (a) the union of both sides' edits


def test_prune_branch_dir_executes_the_prescribed_remedy(spark, tmp_path):
    """The stale-directory refusal's remedy must actually execute
    (r13 advice, low): post-merge the ref is already released, so the
    previously-prescribed drop_branch raises KeyError and could never
    clean the residue. prune_branch_dir is the maintenance step that
    removes a ref-less branch directory once main re-homed the rows —
    and the refusal message now names it."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))
    br = t.create_branch("exp")
    br.append(_df(spark, 10, 13))
    t.merge_branch("exp")  # ref released; directory stays (referenced)
    # the OLD prescribed remedy cannot run in this (only reachable)
    # state: the ref is gone
    with pytest.raises(KeyError):
        t.drop_branch("exp")
    # while main still references branch-local files, prune refuses
    with pytest.raises(ValueError, match="still referenced"):
        t.prune_branch_dir("exp")
    # the refusal prescribes the executable remedy by name
    with pytest.raises(FileExistsError, match="prune_branch_dir"):
        t.create_branch("exp")
    t.compact(target_files=1)
    t.vacuum(retain_last=1, orphan_grace_ms=0)
    t.prune_branch_dir("exp")
    t.prune_branch_dir("exp")  # idempotent on a missing directory
    br2 = t.create_branch("exp")  # the name is reusable again
    assert _ids(br2.read()) == [0, 1, 2, 3, 10, 11, 12]
    assert _ids(t.read()) == [0, 1, 2, 3, 10, 11, 12]
    # a LIVE branch is drop_branch's job, not prune's
    with pytest.raises(ValueError, match="live ref"):
        t.prune_branch_dir("exp")
