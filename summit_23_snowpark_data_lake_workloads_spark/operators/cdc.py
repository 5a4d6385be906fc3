"""CDC APPLY — keep a downstream table row-identical to an upstream
lakehouse table by consuming its CHANGE DATA FEED (the Delta Live
Tables ``APPLY CHANGES INTO`` primitive, and the replication form of
the reference's Processed-layer maintenance: where
``operators/rollup.py`` folds the feed into AGGREGATES, this applies
it at ROW granularity — downstream serving copies, region mirrors,
conformed-layer tables).

The 100 TB shape: a sync reads O(files the upstream commits touched)
(``SnapshotTable.changes``), nets the per-key effect in one aggregate
(a key inserted then deleted inside the range applies as nothing; the
LAST image wins), and lands as at most one key-scoped DELETE plus one
key-scoped MERGE on the target — both COW-rewrite only the files
holding affected keys. Never O(table) — except when the range holds a
replace-all commit (overwrite / rollback: table-sized by definition)
or has been vacuumed past recovery, where the sync honestly falls
back to a FULL resync pinned to the stamped upstream version.

Idempotency: the sync high-water mark is the upstream VERSION, stored
in the TARGET's txn stamps (``app_id``/``batch_id``); a crash between
the delete and the merge re-runs the same range, and re-deleting
absent keys / re-merging the same images is a no-op by construction.

Requires key-unique upstream rows (the same contract MERGE itself
has): two live rows sharing a key would make "the last image"
ambiguous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.lakehouse import SnapshotTable

#: upstream operations whose change set is table-sized by definition
_REPLACE_ALL_OPS = frozenset({"create", "overwrite", "rollback"})

#: metadata-only schema surgery: emits NO change rows, yet changes what
#: every existing row READS as — row-level apply cannot express it.
#: rename/drop leave a stale column on the replica; a drop+readd pair
#: INSIDE one range even leaves the schemas equal while the data
#: diverges (replica: old values; upstream: fresh-identity NULLs) —
#: which is why the op check exists alongside the schema diff.
_SCHEMA_OPS = frozenset({"rename_column", "drop_column", "readd_column"})


#: feed labels that assert a row IMAGE the key should end up with
_UPSERT_IMAGES = ("insert", "update_postimage")
#: feed labels that retract a previously-live image of the key
_RETRACTIONS = ("delete", "update_preimage")


def _netted(chg: DataFrame, key_cols: list[str]):
    """One ``max(struct)`` aggregate over the feed: per key, the
    winning image (highest ``(_commit_version, image-beats-
    retraction)`` rank) plus a ``_retract`` flag — did ANY event in
    the range retract a pre-existing image of this key? Label-aware:
    handles both the default two-way feed (insert/delete) and the
    four-way ``changes(update_labels=True)`` form (an
    ``update_postimage`` is an upsert image, its ``update_preimage``
    a retraction)."""
    data_cols = [
        c for c in chg.columns if c not in ("_change_type", "_commit_version")
    ]
    prio = F.col("_commit_version") * 2 + F.when(
        F.col("_change_type").isin(*_UPSERT_IMAGES), 1
    ).otherwise(0)
    last = (
        chg.withColumn("_prio", prio)
        .groupBy(*key_cols)
        .agg(
            F.max(F.struct("_prio", "_change_type", *data_cols)).alias("w"),
            F.max(
                F.when(
                    F.col("_change_type").isin(*_RETRACTIONS), 1
                ).otherwise(0)
            ).alias("_retract"),
        )
    )
    return last, data_cols


def net_changes(
    chg: DataFrame, key_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Collapse a multi-commit change feed to its NET per-key effect:
    ``(upserts, deleted_keys)``. The winning image per key is the one
    with the highest ``(_commit_version, image-beats-retraction)``
    rank — within one commit a MERGE emits delete(old)+insert(new)
    (or preimage/postimage under four-way labels) for the same key,
    and the post-image must win; across commits the latest wins. One
    aggregate, no window (``max(struct(...))`` carries the whole
    winning row through the shuffle)."""
    last, data_cols = _netted(chg, key_cols)
    upserts = last.filter(
        F.col("w._change_type").isin(*_UPSERT_IMAGES)
    ).select(*[F.col(f"w.{c}").alias(c) for c in data_cols])
    deleted_keys = last.filter(F.col("w._change_type") == "delete").select(
        *key_cols
    )
    return upserts, deleted_keys


def net_changes_routed(
    chg: DataFrame, key_cols: list[str]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`net_changes` split for APPLY-side routing:
    ``(fresh_inserts, upserts, deleted_keys)``.

    ``fresh_inserts`` — keys whose ONLY events in the range are upsert
    images (no delete / no update_preimage anywhere in the range).
    Under the feed's key-uniqueness contract such a key was not live
    upstream at the range start, so — replica in sync — it is absent
    downstream too, and the apply may LAND IT AS A PLAIN APPEND: no
    key-probe scan of the target at all. This is the churn-skip that
    makes an append-mostly feed (the common fact-table shape) apply at
    O(new rows) instead of O(files holding matched keys); a key that
    was deleted-then-reinserted, updated, or merge-matched inside the
    range has a retraction event and stays on the delete+merge path."""
    last, data_cols = _netted(chg, key_cols)
    img = F.col("w._change_type").isin(*_UPSERT_IMAGES)
    sel = [F.col(f"w.{c}").alias(c) for c in data_cols]
    fresh = last.filter(img & (F.col("_retract") == 0)).select(*sel)
    upserts = last.filter(img & (F.col("_retract") == 1)).select(*sel)
    deleted_keys = last.filter(F.col("w._change_type") == "delete").select(
        *key_cols
    )
    return fresh, upserts, deleted_keys


def _schema_drifted(src: SnapshotTable, dst: SnapshotTable) -> bool:
    """True when the replica holds a logical column upstream no longer
    has — the fingerprint of an upstream DROP or RENAME (both
    metadata-only: no change rows ever tell the replica). One metadata
    schema read per side; no data touched."""
    if not dst._versions():
        return False
    src_cols = {f.name for f in src.table_schema().fields}
    return any(
        f.name not in src_cols for f in dst.table_schema().fields
    )


def replicate_changes(
    src: SnapshotTable,
    dst: SnapshotTable,
    key_cols: list[str],
    app_id: str = "cdc",
    strategy: str = "cow",
    route_inserts: bool = True,
) -> str:
    """Bring ``dst`` row-identical to ``src``'s latest version. Returns
    ``"noop"`` (already current), ``"incremental"`` (consumed the
    change feed: netted per-key, applied as key-scoped delete+merge),
    or ``"full"`` (first sync, replace-all commit in range, or the
    range expired under vacuum — resync pinned to the stamped
    version).

    ``strategy="mor"`` applies the net effect through the merge-on-read
    ``delete_keys`` + ``merge`` (deletion vectors + append, one JSON
    commit each) instead of copy-on-write — the right default
    once the replica is large relative to each sync's change set.

    ``route_inserts`` (default on) — keys with no retraction event in
    the range land as ONE plain append (:func:`net_changes_routed`):
    an insert-only sync never scans the replica for key matches at
    all. Sound under the feed's key-uniqueness contract; turn off for
    upstreams that append duplicate keys outside MERGE discipline."""
    if strategy not in ("cow", "mor"):
        raise ValueError(f"unknown apply strategy {strategy!r}")
    v_hi = src.snapshot().version
    seen = dst.last_committed_batch(app_id) if dst._versions() else None
    if seen is not None and v_hi <= seen:
        return "noop"
    txn = {"app_id": app_id, "batch_id": v_hi}

    def full_resync() -> str:
        snap_df = src.read(version=v_hi)
        if dst._versions():
            dst.overwrite(snap_df, txn=txn)
        else:
            dst.create(snap_df, txn=txn)
        return "full"

    if seen is None:
        return full_resync()
    try:
        per_commit = src.file_changes(seen, v_hi)
    except (FileNotFoundError, LookupError):
        return full_resync()
    if any(op in _REPLACE_ALL_OPS for _v, op, _a, _r, _d in per_commit):
        return full_resync()
    if any(op in _SCHEMA_OPS for _v, op, _a, _r, _d in per_commit):
        # schema surgery in range: no change rows can express it
        return full_resync()
    if _schema_drifted(src, dst):
        # upstream DROPPED or RENAMED a column: metadata-only commits
        # emit no change rows, so row-level apply would keep serving
        # the stale column forever (old values where upstream now
        # reads nothing). The honest reconciliation is a full resync
        # under upstream's current logical view — DDL is rare, the
        # cost is paid when it happens, and the replica converges
        # instead of silently diverging. (New upstream columns need no
        # resync: the apply steps evolve, old rows NULL on both sides.)
        return full_resync()
    if not any(a or r or d for _v, _op, a, r, d in per_commit):
        # metadata-only range: advance the high-water mark and stop
        dst._commit("sync_noop", dst.snapshot().version, [], txn=txn)
        return "incremental"
    try:
        chg = src.changes(seen, v_hi)
    except FileNotFoundError:
        return full_resync()  # pre-images vacuumed: the retention boundary
    if route_inserts:
        fresh, upserts, deleted_keys = net_changes_routed(chg, key_cols)
    else:
        upserts, deleted_keys = net_changes(chg, key_cols)
        fresh = upserts.limit(0)
    # materialize once: each frame is consumed by several actions
    # (existence probe, the key-scoped delete's file location, the
    # merge's touched-file collect AND its write) — lazy, every action
    # would re-read the feed's files and re-run the netting aggregate.
    # All are change-sized, so the checkpoint is cheap.
    fresh = fresh.localCheckpoint(eager=True)
    upserts = upserts.localCheckpoint(eager=True)
    deleted_keys = deleted_keys.localCheckpoint(eager=True)
    _apply_netted(dst, fresh, upserts, deleted_keys, key_cols, strategy, txn)
    return "incremental"


def _apply_netted(
    dst: SnapshotTable,
    fresh: DataFrame,
    upserts: DataFrame,
    deleted_keys: DataFrame,
    key_cols: list[str],
    strategy: str,
    txn: dict,
) -> None:
    """Land a netted change set: key-scoped delete, key-scoped merge,
    then the fresh-insert append. Step order is the replay story: the
    txn stamp rides the LAST step taken, every earlier step is
    key-idempotent, and the append — the one non-idempotent step — is
    the stamp carrier itself, so a crash anywhere replays the range
    and re-runs only idempotent work before the stamped step lands
    exactly once.

    Schema evolution flows THROUGH: a replica mirrors upstream by
    contract, so when the feed carries a column the upstream added
    mid-range (the feed's ``_scan`` merges footers), the merge/append
    steps evolve the replica's schema rather than rejecting the sync
    — the write-side opt-in guard is upstream's concern, already
    exercised when the column first landed there."""
    have_dels = bool(deleted_keys.limit(1).count())
    have_ups = bool(upserts.limit(1).count())
    have_fresh = bool(fresh.limit(1).count())
    if have_dels:
        dst.delete_keys(
            deleted_keys,
            key_cols,
            txn=None if (have_ups or have_fresh) else txn,
            strategy=strategy,
        )
    if have_ups:
        dst.merge(
            upserts,
            key_cols,
            txn=None if have_fresh else txn,
            schema_evolution=True,
            strategy=strategy,
        )
    if have_fresh:
        dst.append(fresh, txn=txn, schema_evolution=True)
    if not have_dels and not have_ups and not have_fresh:
        dst._commit("sync_noop", dst.snapshot().version, [], txn=txn)
