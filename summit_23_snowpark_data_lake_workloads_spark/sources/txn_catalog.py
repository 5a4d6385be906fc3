"""Multi-table TRANSACTIONS via a pinned catalog (single-CAS commit).

No public lakehouse format gives cross-table atomicity from the table
logs alone — Delta and Iceberg both scope their optimistic commit to
one log. The production answer (Iceberg's REST-catalog multi-table
commit) moves atomicity UP one level: a catalog maps each table name to
a PINNED version, readers resolve through the pins, and a transaction
commits by compare-and-swapping the whole pin set in ONE catalog
commit. Writers stage real table versions first (durable, but
invisible through the catalog); the pin swap then exposes every staged
version at once — or none, on conflict.

This module is that design over :class:`SnapshotTable`:

- :class:`PinnedCatalog` — a versioned ``name -> (path, pin)`` map,
  committed through the same one-winner :class:`CommitProtocol` as
  table manifests (``_catalog/v{N}.json``, exclusive create). Catalog
  states are full snapshots (catalogs are metadata-small), so reads
  resolve from the latest file alone.
- :class:`MultiTableTransaction` — snapshot-isolated writes across any
  number of catalog tables. ``txn.table(name)`` hands out a normal
  table handle; every staged commit lands in that table's own log
  immediately (crash-durable, vacuum-reclaimable), and ``txn.commit()``
  swaps all touched pins in one catalog CAS. First-committer-wins: a
  concurrent transaction that moved any touched table's pin since this
  transaction began raises :class:`TransactionConflict` and NOTHING
  moves — the staged table versions become orphans the table-level
  vacuum reclaims.

Contract the caller keeps: tables registered in a pinned catalog are
READ through it (``catalog.read``) and WRITTEN through transactions —
a direct ``SnapshotTable.read`` of the same path sees staged,
not-yet-committed versions (exactly as a raw file read under any
lakehouse sees data files before their commit publishes). And
retention runs through :meth:`PinnedCatalog.vacuum`, which unions the
table's CURRENT pin into the keep set — a pin is usually at or near
the head, but a long-staging transaction holds it back, and a raw
table-level ``vacuum(retain_last=1)`` during that window would expire
the manifest the catalog still serves (the same hazard class as
``clone_to``, closed here the way table tags close it:
``keep_versions``). Historical catalog states (:meth:`state` with
``version=``) pin OLDER table versions that only ``retain_last`` or a
table tag protects — cross-table time travel reaches exactly as far
as table retention, stated not hidden.

Scale: a transaction over two 100 TB tables costs its own staged
writes plus TWO JSON publishes (one per-table manifest each was paying
anyway, one catalog CAS); the catalog file is O(#tables), independent
of data volume. Reference anchor: the task DAG's curated refresh
(``04_sales_enrich_sp.sql:61`` + ``05_task_DAG.sql``) overwrites
PRODUCT_SALES while dashboards read it — Snowflake hides that behind
transactional DDL; self-managed tables need this catalog to offer the
same read-never-torn guarantee across MULTIPLE tables.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from .lakehouse import (
    _MANIFEST_DIR,
    BranchMergeConflict,
    CommitProtocol,
    PosixCommit,
    SnapshotTable,
)

_CATALOG_DIR = "_catalog"


class TransactionConflict(RuntimeError):
    """A concurrent transaction moved a touched table's pin first."""


class PinnedCatalog:
    """Versioned ``name -> (path, pinned_version)`` map with CAS commits.

    ``commit_protocol`` supplies the same at-most-one-winner publish
    property table manifests rely on (POSIX ``O_EXCL`` by default;
    conditional PUT or a lock service on object stores)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        commit_protocol: CommitProtocol | None = None,
    ):
        self.spark = spark
        self.path = path
        self.commit_protocol = commit_protocol or PosixCommit()
        os.makedirs(os.path.join(path, _CATALOG_DIR), exist_ok=True)

    # ------------------------------------------------------------ state

    def _cat_path(self, version: int) -> str:
        return os.path.join(self.path, _CATALOG_DIR, f"v{version:012d}.json")

    def _versions(self) -> list[int]:
        d = os.path.join(self.path, _CATALOG_DIR)
        out = []
        for f in os.listdir(d):
            m = re.fullmatch(r"v(\d{12})\.json", f)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def state(
        self, version: int | None = None, as_of_ms: int | None = None
    ) -> dict:
        """Committed catalog state: ``{"version": N, "tables":
        {name: {"path": str, "pin": int}}}`` (version 0, no tables,
        before the first commit). ``version=`` time-travels the
        CATALOG: because every transaction moves all its pins in one
        catalog commit, a historical state is a CROSS-TABLE-consistent
        snapshot — "the warehouse as of catalog v7" — something no
        per-table log can offer. Reaches as far back as the catalog
        files exist and the pinned table versions survive table
        retention (:meth:`vacuum` keeps only CURRENT pins).
        ``as_of_ms`` — the last catalog state committed at-or-before
        that wall-clock (cross-table ``AT (TIMESTAMP => ...)``)."""
        versions = self._versions()
        if not versions:
            if version is not None and version != 0:
                raise LookupError(f"catalog version {version} not in []")
            return {"version": 0, "tables": {}}
        if as_of_ms is not None:
            if version is not None:
                raise ValueError(
                    "version= and as_of_ms= are mutually exclusive"
                )
            eligible = []
            for v in versions:
                with open(self._cat_path(v)) as fh:
                    if json.load(fh)["timestamp_ms"] <= as_of_ms:
                        eligible.append(v)
            if not eligible:
                raise LookupError(f"no catalog state at or before {as_of_ms}")
            version = eligible[-1]
        if version is not None and version not in versions:
            raise LookupError(
                f"catalog version {version} not in {versions}"
            )
        with open(self._cat_path(version or versions[-1])) as fh:
            return json.load(fh)

    def _cas(
        self,
        cur: dict,
        tables: dict,
        stamps: dict[str, int] | None = None,
    ) -> int:
        """Publish ``tables`` as the next catalog state iff the catalog
        is still at ``cur["version"]``; returns the new version or
        raises :class:`TransactionConflict` (the caller re-reads and
        decides). ``stamps`` fold into the state's ``txn_seen``
        high-water map (app_id -> batch_id) — the CATALOG-level replay
        detector: a transaction's effect is committed exactly when its
        pin swap lands, so idempotency stamps for transactional
        refreshes belong here, not in the table logs, where a staged-
        but-never-pinned commit would leave a stamp that lies."""
        base_version = cur["version"]
        seen = dict(cur.get("txn_seen") or {})
        for app, b in (stamps or {}).items():
            seen[app] = max(seen.get(app, b), b)
        next_v = base_version + 1
        body = json.dumps(
            {
                "version": next_v,
                "timestamp_ms": int(time.time() * 1000),
                "tables": tables,
                **({"txn_seen": seen} if seen else {}),
            }
        )
        if not self.commit_protocol.publish(self._cat_path(next_v), body):
            raise TransactionConflict(
                f"catalog moved past v{base_version}; re-read and retry"
            )
        return next_v

    def last_committed_batch(self, app_id: str) -> int | None:
        """Highest ``batch_id`` committed under ``app_id`` through a
        transaction's pin swap (None if never) — read from the latest
        catalog state only (states are full snapshots; ``_cas`` folds
        the map forward on every commit)."""
        return (self.state().get("txn_seen") or {}).get(app_id)

    # ----------------------------------------------------------- tables

    def register(self, name: str, table_path: str, **table_kwargs) -> int:
        """Add ``name`` at ``table_path``, pinned to the table's current
        version (0 for a not-yet-created table — the pin moves when the
        first transaction commits it). Retries its CAS against catalog
        commits that did not already register the name."""
        while True:
            cur = self.state()
            if name in cur["tables"]:
                raise ValueError(f"table {name!r} already registered")
            t = SnapshotTable(self.spark, table_path, **table_kwargs)
            vs = t._versions()
            tables = dict(cur["tables"])
            tables[name] = {"path": table_path, "pin": vs[-1] if vs else 0}
            try:
                return self._cas(cur, tables)
            except TransactionConflict:
                continue  # somebody registered another table; re-read

    def unregister(self, name: str) -> int:
        """Remove ``name`` from the catalog (the catalog layer of a
        DROP TABLE — Nessie/Iceberg drop semantics): one CAS deletes
        the registration. The table DIRECTORY and its log are
        untouched — re-register the path to serve it again, and
        historical catalog states still name it for cross-table time
        travel (bounded by the table's own retention, as ever). Also
        the executable escape hatch :meth:`repair` prescribes for a
        pin-0 table wedged by an abandoned stager's orphan commits:
        unregister, clear (or abandon) the directory, re-register,
        then commit the real first transaction. Refuses while a
        catalog BRANCH is live — the branch catalog forked this
        registration and :meth:`merge_branch`/:meth:`drop_branch`
        resolve it as a set. The guard re-checks before every CAS
        attempt, but branch refs live OUTSIDE the catalog-state CAS,
        so a ``create_branch`` racing inside the final window can
        still interleave (stated, not hidden): the outcome is LOUD,
        never silent — the later merge hits the only_branch refusal
        for the now-unregistered table, and re-registering the path
        recovers."""
        while True:
            if self.branches():
                raise ValueError(
                    f"unregister {name!r} refused: catalog branch(es) "
                    f"{sorted(self.branches())} are live and fork the "
                    "registrations as a set — merge_branch or "
                    "drop_branch first"
                )
            cur = self.state()
            if name not in cur["tables"]:
                raise KeyError(f"table {name!r} not registered")
            tables = {
                n: dict(e) for n, e in cur["tables"].items() if n != name
            }
            try:
                return self._cas(cur, tables)
            except TransactionConflict:
                continue  # unrelated commit; re-read

    def pin(self, name: str) -> int:
        entry = self.state()["tables"].get(name)
        if entry is None:
            raise KeyError(f"table {name!r} not registered")
        return entry["pin"]

    def table(self, name: str, **table_kwargs) -> SnapshotTable:
        """A handle on the UNDERLYING table (current head, not the pin)
        — for maintenance (vacuum/compact). Reads that want the
        catalog's transactional view go through :meth:`read`."""
        entry = self.state()["tables"].get(name)
        if entry is None:
            raise KeyError(f"table {name!r} not registered")
        return SnapshotTable(self.spark, entry["path"], **table_kwargs)

    def read(self, name: str, catalog_version: int | None = None) -> DataFrame:
        """The table AT ITS PIN — the only read that participates in
        cross-table atomicity. Staged-but-uncommitted transaction
        writes are invisible here by construction.
        ``catalog_version=`` reads the pin a HISTORICAL catalog state
        recorded (cross-table time travel); raises FileNotFoundError /
        LookupError if table retention already expired that version —
        the honest boundary, same as any pinned read."""
        entry = self.state(catalog_version)["tables"].get(name)
        if entry is None:
            raise KeyError(f"table {name!r} not registered")
        if entry["pin"] == 0:
            raise ValueError(
                f"table {name!r} has no committed transaction yet"
            )
        return SnapshotTable(self.spark, entry["path"]).read(
            version=entry["pin"]
        )

    def vacuum(self, name: str, retain_last: int = 2, **kw) -> list[str]:
        """Table-level vacuum that RESPECTS the catalog: the table's
        current pin is unioned into the keep set, so a long-staging
        transaction (pin held back while the log head advances) can
        never have the manifest the catalog still serves swept out
        from under it. All other ``vacuum`` kwargs pass through.
        Historical catalog states' pins are NOT kept — cross-table
        time travel is bounded by table retention by design (keep a
        table tag on versions that must outlive it)."""
        entry = self.state()["tables"].get(name)
        if entry is None:
            raise KeyError(f"table {name!r} not registered")
        keeps = list(kw.pop("keep_versions", None) or [])
        if entry["pin"]:
            keeps.append(entry["pin"])
        return self.table(name).vacuum(
            retain_last=retain_last, keep_versions=keeps, **kw
        )

    def erase_rows(self, name: str, predicate) -> dict:
        """RIGHT-TO-BE-FORGOTTEN through the catalog:
        :meth:`SnapshotTable.erase_rows` on the registered table, then
        the table's PIN moves to the erase commit in one catalog CAS.
        This closes the table-level docstring's pin hazard — an erase
        under a catalog pin otherwise leaves every pinned read dangling
        on a vacuumed version until the next transaction re-pins. The
        dangling window shrinks to the instant between the table's
        vacuum and this method's CAS (stated, not hidden: a reader
        racing inside it fails and retries, the same contract as any
        pinned read under retention).

        Refusals, strictest first: the table-level refs check (tags /
        branches pin history — drop them first); a log head PAST the
        pin (an abandoned stager's rows must never launder into the
        pinned view through an erase rewrite — ``repair()`` first); a
        pin that MOVES while the erase runs (TransactionConflict: the
        erase rewrote a truth someone else advanced past). On that
        conflict the table-level erase has ALREADY expired the history
        the moved pin names (a concurrent ``rollback`` is the realistic
        mover — any concurrent table-log writer would have aborted the
        erase commit itself), so before raising, the pin is
        best-effort RE-PINNED to the erase head when the version it
        names no longer exists: the erase head is the only serving
        version left, and a dangling pin would wedge every pinned read
        AND the re-erase the old message prescribed (``repair()``
        cannot help either — ``rollback(pin)`` targets a vacuumed
        version). A moved pin that still names a READABLE version is
        left alone — that advance is a live truth this erase must not
        clobber. The raised conflict says which happened; the racing
        writer's update is lost either way and must re-apply.

        Catalog TAGS are state snapshots, not table-vacuum holds
        (unless ``protect=True`` created table tags — those hit the
        table-level refusal above): their historical reads of this
        table die with the expired history — GDPR beats cross-table
        time travel, the same trade the change feed documents.

        Returns the table-level stats dict plus ``catalog_version``."""
        cur = self.state()
        entry = cur["tables"].get(name)
        if entry is None:
            raise KeyError(f"table {name!r} not registered")
        t = self.table(name)
        vs = t._versions()
        head = vs[-1] if vs else 0
        pin_at_start = entry["pin"]
        if head != pin_at_start:
            raise ValueError(
                f"table {name!r} log head v{head} != pin "
                f"v{pin_at_start}: repair() first — an erase must "
                "rewrite the pinned truth, not an abandoned stager's"
            )
        stats = t.erase_rows(predicate)
        new_head = t.snapshot().version
        while True:
            cur = self.state()
            entry_now = cur["tables"].get(name)
            if entry_now is None or os.path.realpath(
                entry_now["path"]
            ) != os.path.realpath(t.path):
                # gone, or the NAME now belongs to a different table
                # (unregister + re-register raced in) — writing the
                # erase head onto a foreign registration would serve
                # the wrong table's version or wedge every read
                raise TransactionConflict(
                    f"table {name!r} was unregistered (or re-registered "
                    "at a different path) while the erase ran; the "
                    "erase itself is durable (the table log holds only "
                    "the erased truth) — re-register the erased path "
                    "to serve it"
                )
            moved_pin = entry_now["pin"]
            if moved_pin != pin_at_start:
                if moved_pin in t._versions():
                    raise TransactionConflict(
                        f"pin for {name!r} moved to readable "
                        f"v{moved_pin} while the erase ran; the "
                        "erased truth was advanced past — re-read "
                        "and re-erase"
                    )
                # the erase already vacuumed the version the moved pin
                # names: repair the pin to the erase head (the only
                # serving version left) so pinned reads un-wedge, THEN
                # raise — the racing writer's update is still lost
                repaired = False
                try:
                    while True:
                        cur = self.state()
                        e2 = cur["tables"].get(name)
                        if (
                            e2 is None
                            or os.path.realpath(e2["path"])
                            != os.path.realpath(t.path)
                            or e2["pin"] in t._versions()
                        ):
                            break  # gone / re-registered / repaired
                        tables = dict(cur["tables"])
                        tables[name] = {**tables[name], "pin": new_head}
                        try:
                            self._cas(cur, tables)
                            repaired = True
                            break
                        except TransactionConflict:
                            continue  # unrelated commit; re-read
                except OSError:
                    pass  # best-effort: the conflict below still states it
                if repaired:
                    raise TransactionConflict(
                        f"pin for {name!r} moved to v{moved_pin} while "
                        "the erase ran, and the erase expired that "
                        f"version; pin re-pinned to the erase head "
                        f"v{new_head} — the racing update is lost, "
                        "re-read and re-apply"
                    )
                # not repaired BY US: either another writer moved it to
                # a readable version mid-repair, or the repair attempt
                # itself failed — say so instead of asserting a state
                # that may not exist
                raise TransactionConflict(
                    f"pin for {name!r} moved to v{moved_pin} while the "
                    "erase ran, and the erase expired that version; a "
                    "repair was attempted but did not land (another "
                    "writer moved the pin, or the CAS failed) — check "
                    "pin() before retrying; the racing update is lost"
                )
            tables = dict(cur["tables"])
            tables[name] = {**tables[name], "pin": new_head}
            try:
                v = self._cas(cur, tables)
                break
            except TransactionConflict:
                continue  # an unrelated table's commit; re-read
        return {**stats, "catalog_version": v}

    # ------------------------------------------------------------- tags

    def create_tag(
        self, name: str, version: int | None = None, protect: bool = True
    ) -> int:
        """Name a catalog version (default: latest) — a WAREHOUSE-WIDE
        snapshot ref: every registered table at the exact pin one
        transaction boundary committed. ``protect=True`` (default)
        also creates a TABLE tag ``catalog-<name>`` on each pinned
        table version, so the named snapshot survives table vacuums
        too — without it a catalog tag is a dangling promise (the
        catalog file outlives the table versions it points at).
        Returns the tagged catalog version.

        Crash story: the catalog tag publishes FIRST (one-winner, the
        name is reserved atomically), then protection applies
        idempotently — a crash mid-protect is repaired by calling
        :meth:`protect_tag` again; a lost name race raises before any
        table tag lands."""
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,63}", name):
            raise ValueError(
                f"tag name {name!r} must match [A-Za-z0-9][A-Za-z0-9._-]*"
                " (<= 64 chars)"
            )
        cur = self.state()
        v = cur["version"] if version is None else version
        st = self.state(version=v)  # raises on unknown version
        if v == 0:
            raise ValueError("cannot tag the empty catalog (version 0)")
        body = json.dumps(
            {
                "name": name,
                "version": v,
                "timestamp_ms": int(time.time() * 1000),
            }
        )
        tdir = os.path.join(self.path, _CATALOG_DIR, "tags")
        os.makedirs(tdir, exist_ok=True)
        if not self.commit_protocol.publish(
            os.path.join(tdir, f"{name}.json"), body
        ):
            raise FileExistsError(
                f"catalog tag {name!r} already exists (drop_tag to move)"
            )
        if protect:
            self.protect_tag(name)
        return v

    def protect_tag(self, name: str) -> None:
        """(Re)apply table-level protection for a catalog tag: tag each
        table pinned by the named state as ``catalog-<name>`` at its
        pin. Idempotent — safe to call after a crash mid-protect; a
        protection tag that exists at a DIFFERENT version raises (the
        name was taken by someone else)."""
        st = self.state(version=self.tag_version(name))
        for tname, entry in st["tables"].items():
            if not entry["pin"]:
                continue
            t = SnapshotTable(self.spark, entry["path"])
            ref = f"catalog-{name}"
            try:
                t.create_tag(ref, version=entry["pin"])
            except FileExistsError:
                if t.tags().get(ref) != entry["pin"]:
                    raise FileExistsError(
                        f"table {tname!r} tag {ref!r} exists at version "
                        f"{t.tags().get(ref)}, expected {entry['pin']}"
                    ) from None

    def drop_tag(self, name: str) -> None:
        """Remove a catalog tag and its table-level protection tags.
        Nothing is deleted — the released versions become subject to
        normal retention at the next expire/vacuum."""
        v = self.tag_version(name)
        st = self.state(version=v)
        for entry in st["tables"].values():
            try:
                SnapshotTable(self.spark, entry["path"]).drop_tag(
                    f"catalog-{name}"
                )
            except KeyError:
                pass  # never protected (protect=False) or mid-crash
        os.unlink(
            os.path.join(self.path, _CATALOG_DIR, "tags", f"{name}.json")
        )

    def tags(self) -> dict[str, int]:
        """``{tag_name: catalog_version}`` for every live catalog tag."""
        tdir = os.path.join(self.path, _CATALOG_DIR, "tags")
        out: dict[str, int] = {}
        for f in sorted(os.listdir(tdir)) if os.path.isdir(tdir) else []:
            if not f.endswith(".json"):
                continue
            try:
                with open(os.path.join(tdir, f)) as fh:
                    t = json.load(fh)
                out[t["name"]] = int(t["version"])
            except (OSError, ValueError, KeyError):
                continue  # half-written loser of a publish race
        return out

    def tag_version(self, name: str) -> int:
        v = self.tags().get(name)
        if v is None:
            raise KeyError(f"no catalog tag {name!r}")
        return v

    def restore_tag(self, name: str) -> int:
        """Warehouse-wide RESTORE to a named snapshot: re-pin every
        table the tagged catalog state knew, in one CAS
        (:meth:`rollback` of :meth:`tag_version`). The protection tags
        guarantee the pinned table versions still resolve — the
        restore cannot hit the retention boundary a raw
        ``rollback(version)`` can."""
        return self.rollback(self.tag_version(name))

    def expire_states(self, retain_last: int = 8) -> list[int]:
        """Drop catalog state files older than the last ``retain_last``
        versions, keeping tagged states — bounds cross-table time
        travel the way table vacuum bounds per-table history. States
        are full snapshots (no delta chains), so expiry is pure
        unlinks; the latest state is always retained, so the CAS
        version counter keeps advancing monotonically. Returns the
        expired version numbers."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        versions = self._versions()
        keep = set(versions[-retain_last:]) | set(self.tags().values())
        dropped = [v for v in versions if v not in keep]
        for v in dropped:
            os.unlink(self._cat_path(v))
        return dropped

    def rollback(self, version: int) -> int:
        """Warehouse-wide RESTORE: re-pin every table the historical
        catalog state ``version`` knew to the pins it recorded, in ONE
        CAS — the cross-table undo no per-table rollback can give (a
        table-by-table restore leaves readers a torn warehouse between
        steps). Tables registered AFTER that state keep their current
        pins (the old state has no opinion about them — documented,
        not silent: they appear in the returned state unchanged).
        Metadata-only: table logs do not move; the old pins must still
        resolve (within table retention / tags), else reads fail at
        read time exactly like any expired pinned read. Returns the
        new catalog version.

        A rollback is a normal catalog commit: it does NOT rewind
        ``txn_seen`` stamps — a restored-then-recommitted transaction
        needs a fresh batch id, the same rule table-level rollback
        keeps for streaming sinks."""
        old = self.state(version=version)
        while True:
            cur = self.state()
            tables = {n: dict(e) for n, e in cur["tables"].items()}
            for n, e in old["tables"].items():
                if n in tables:
                    tables[n]["pin"] = e["pin"]
            try:
                return self._cas(cur, tables)
            except TransactionConflict:
                continue  # racing commit; re-read and re-apply

    def repair(self, name: str) -> int | None:
        """Un-wedge a table whose LOG HEAD ran past its pin — the state
        an abandoned or conflicted transaction leaves behind (its
        staged commits are durable orphans, and every later transaction
        on the table would hit the foreign-staged-lineage refusal).
        Rolls the table log back to the pin's CONTENT (a normal
        ``rollback`` commit — nothing is deleted, the orphan versions
        age out under vacuum) and moves the pin to that rollback
        version in one CAS. Readers see byte-identical content
        throughout. Returns the new pin, or None if the table was
        clean (head == pin) — safe to call unconditionally.

        Racing a LIVE stager: repair cannot distinguish a crashed
        transaction's orphans from one still staging; rolling back
        under a live stager aborts it at ITS commit (the pin moved) —
        the correct first-committer-wins outcome, but run repair from
        the orchestrator that owns the table's refresh cadence, not
        from ad-hoc sessions."""
        while True:
            cur = self.state()
            entry = cur["tables"].get(name)
            if entry is None:
                raise KeyError(f"table {name!r} not registered")
            t = SnapshotTable(self.spark, entry["path"])
            vs = t._versions()
            head = vs[-1] if vs else 0
            if head == entry["pin"]:
                return None
            if entry["pin"] == 0:
                # a first transaction CANNOT fix this (its commit hits
                # the foreign-staged-lineage refusal: it staged on top
                # of the orphans), and rollback has no version-0 target
                # — the executable remedy is the unregister lifecycle
                raise ValueError(
                    f"table {name!r} has orphan staged commits but no "
                    "committed pin to roll back to; unregister() it, "
                    "clear the table directory, re-register, then "
                    "commit the first transaction"
                )
            new_head = t.rollback(entry["pin"]).version
            tables = {n: dict(e) for n, e in cur["tables"].items()}
            tables[name]["pin"] = new_head
            try:
                self._cas(cur, tables)
                return new_head
            except TransactionConflict:
                continue  # catalog moved (another registration); retry

    def transaction(self) -> "MultiTableTransaction":
        return MultiTableTransaction(self)

    # --------------------------------------------------------- branches

    def _branch_refs_dir(self) -> str:
        return os.path.join(self.path, _CATALOG_DIR, "branches")

    def _branch_root(self, name: str) -> str:
        return os.path.join(self.path, "_branches", name)

    @staticmethod
    def _table_branch_ref(name: str) -> str:
        # the per-table branch name a CATALOG branch reserves; the
        # prefix keeps it out of the way of user table branches
        return f"cat-{name}"

    def branches(self) -> dict[str, dict]:
        """``{name: {"fork_catalog_version": int, "timestamp_ms": int}}``
        for every live catalog branch ref."""
        bdir = self._branch_refs_dir()
        out: dict[str, dict] = {}
        for f in sorted(os.listdir(bdir)) if os.path.isdir(bdir) else []:
            if not f.endswith(".json"):
                continue
            try:
                with open(os.path.join(bdir, f)) as fh:
                    r = json.load(fh)
                out[r["name"]] = {
                    "fork_catalog_version": int(r["fork_catalog_version"]),
                    "timestamp_ms": int(r["timestamp_ms"]),
                }
            except (OSError, ValueError, KeyError):
                continue  # half-written loser of a publish race
        return out

    def create_branch(self, name: str) -> "PinnedCatalog":
        """Fork the WHOLE WAREHOUSE (Nessie's catalog branch): every
        registered table with a committed pin gets a table-level branch
        at exactly that pin (:meth:`SnapshotTable.create_branch` —
        zero-copy, fork version vacuum-held), and a NEW catalog over
        the branch tables is created under ``<catalog>/_branches/``.
        Experiment with full transactional semantics ON the branch
        (its own pins, its own CAS lineage) while main's tables, pins,
        and logs never see a byte; then :meth:`merge_branch` publishes
        everything back in ONE main-catalog CAS, or
        :meth:`drop_branch` discards without a trace.

        Branch writes land under each table's own ``_branches/`` root —
        NOT in main's table logs — so they can never wedge main's
        foreign-staged-lineage check the way abandoned main
        transactions do (the r11 ``repair()`` hazard class does not
        apply across branches).

        Tables registered with no committed transaction yet (pin 0)
        have nothing to fork and are skipped — register them on the
        branch if needed; note merge refuses branch-only registrations
        (see :meth:`merge_branch`).

        Cost: one ref JSON + per-table (one ref JSON + one clone
        manifest) + one branch-catalog state per table registration —
        all metadata; no data moves until the branch writes."""
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,63}", name):
            raise ValueError(
                f"branch name {name!r} must match [A-Za-z0-9][A-Za-z0-9._-]*"
                " (<= 64 chars)"
            )
        cur = self.state()
        os.makedirs(self._branch_refs_dir(), exist_ok=True)
        body = json.dumps(
            {
                "name": name,
                "fork_catalog_version": cur["version"],
                "timestamp_ms": int(time.time() * 1000),
            }
        )
        ref_path = os.path.join(self._branch_refs_dir(), f"{name}.json")
        if not self.commit_protocol.publish(ref_path, body):
            raise FileExistsError(
                f"catalog branch {name!r} already exists "
                "(drop_branch to discard)"
            )
        forked: list[str] = []
        try:
            bcat = PinnedCatalog(
                self.spark,
                self._branch_root(name),
                commit_protocol=self.commit_protocol,
            )
            for tname, entry in cur["tables"].items():
                if not entry["pin"]:
                    continue  # nothing committed to fork
                t = SnapshotTable(
                    self.spark,
                    entry["path"],
                    commit_protocol=self.commit_protocol,
                )
                bt = t.create_branch(
                    self._table_branch_ref(name), version=entry["pin"]
                )
                forked.append(entry["path"])
                bcat.register(tname, bt.path)
            return bcat
        except BaseException:
            # a half-forked warehouse must not stay listed: unwind the
            # table branches already reserved, the branch catalog, and
            # the ref (the same no-phantom-ref rule as the table level;
            # reachable e.g. when a reused name hits a table's stale
            # post-merge branch directory mid-fork)
            for path in forked:
                t = SnapshotTable(
                    self.spark, path, commit_protocol=self.commit_protocol
                )
                with contextlib.suppress(Exception):
                    t.drop_branch(self._table_branch_ref(name))
            shutil.rmtree(self._branch_root(name), ignore_errors=True)
            with contextlib.suppress(OSError):
                os.unlink(ref_path)
            raise

    def branch(self, name: str) -> "PinnedCatalog":
        """Open a handle on an existing catalog branch."""
        if name not in self.branches():
            raise KeyError(f"no catalog branch {name!r}")
        return PinnedCatalog(
            self.spark,
            self._branch_root(name),
            commit_protocol=self.commit_protocol,
        )

    def drop_branch(self, name: str) -> None:
        """Discard a catalog branch: drop every table-level branch it
        reserved (releasing the per-table fork holds; each drop is
        guarded against deleting merged files main still references)
        and delete the branch catalog. Raises KeyError if the ref is
        gone (already merged or dropped)."""
        if name not in self.branches():
            raise KeyError(f"no catalog branch {name!r}")
        ref = self._table_branch_ref(name)
        for entry in self.state()["tables"].values():
            t = SnapshotTable(self.spark, entry["path"])
            if ref in t.branches():
                t.drop_branch(ref)
        shutil.rmtree(self._branch_root(name), ignore_errors=True)
        os.unlink(os.path.join(self._branch_refs_dir(), f"{name}.json"))

    def merge_branch(
        self, name: str, auto_repair: bool = True
    ) -> int | None:
        """Merge a catalog branch back: stage every table's
        :meth:`SnapshotTable.merge_branch` (the net-delta squash with
        its commute-rebase conflict rules) through ONE
        :class:`MultiTableTransaction`, so ALL tables' merges expose in
        one main-catalog CAS — readers never see a half-merged
        warehouse. The branch catalog's ``txn_seen`` stamps fold into
        the same CAS (merged work = committed work, replay-safe).
        Returns the new main catalog version, or None if no table had
        anything to merge (no CAS spent). The catalog branch ref and
        the per-table branch refs are released after the CAS; branch
        data directories stay in place (main references merged files
        there — ``compact()`` re-homes them, exactly the table-level
        contract).

        Conflicts: any table whose merge does not commute
        (:class:`BranchMergeConflict`), a main pin that moved under
        the transaction (:class:`TransactionConflict`), or a table
        registered ONLY on the branch (cross-catalog registration
        cannot ride the same CAS; refused loudly as ValueError whose
        remedy is EXECUTABLE: register the branch table's path on
        main — the registration pins its committed head, which IS the
        merge for a branch-born table, and the staging loop then
        recognizes the ref-less table instead of KeyErroring on a
        fork ref that never existed). A branch-born table whose
        branch kept committing AFTER main registered it FAST-FORWARDS
        main's pin to the branch's pin in the same CAS — the branch
        catalog's pin is the proof those versions are committed truth
        (a plain main transaction would hit the foreign-staged-lineage
        refusal, which cannot tell branch-committed from abandoned).
        The remaining unsafe states refuse precisely: a different
        table at main's registration, data under the branch catalog
        directory (merge deletes it), main having advanced the shared
        log past the branch (a squash merge cannot arbitrate), or
        orphan staged versions past the branch pin (branch-side
        ``repair()`` first). Auto-repair NEVER runs for branch-born
        tables — the two catalogs alias ONE table log, and repair
        would roll back whichever side's commits the other has not
        pinned. On ANY failure every staged merge is rolled back
        (:meth:`repair`) and main is exactly as before — the branch
        stays intact for a manual rebase.

        Before staging, each branch table is :meth:`repair`-ed IN THE
        BRANCH CATALOG so the merge diff reads the branch's committed
        pin, never an abandoned branch-transaction's orphan staged
        commits; ``auto_repair`` also repairs MAIN tables first (an
        abandoned main stager would otherwise wedge the transaction's
        lineage check)."""
        if name not in self.branches():
            raise KeyError(f"no catalog branch {name!r}")
        bcat = self.branch(name)
        bstate = bcat.state()
        cur = self.state()
        only_branch = [
            t for t in bstate["tables"] if t not in cur["tables"]
        ]
        if only_branch:
            raise ValueError(
                f"table(s) {only_branch} registered only on branch "
                f"{name!r}: cross-catalog registration cannot ride the "
                "merge CAS — register each branch table's PATH on main "
                "first (register() pins its committed head, which IS "
                "the merge for a table born on the branch), then re-run "
                "merge_branch"
            )
        ref = self._table_branch_ref(name)
        staged: list[str] = []
        pin_ff: dict[str, int] = {}
        txn = self.transaction()
        # pin decisions (the fast-forward arm especially) must read the
        # SAME baseline commit() validates against — deciding from an
        # earlier state read would let a pin move landing between the
        # two reads be validated against the post-move value and
        # silently clobbered instead of conflicting
        cur = txn._base
        try:
            for tname in bstate["tables"]:
                entry = cur["tables"].get(tname)
                if entry is None:
                    raise TransactionConflict(
                        f"table {tname!r} was unregistered between the "
                        "merge's checks and its transaction; nothing "
                        "merged"
                    )
                main_path = entry["path"]
                mt = SnapshotTable(
                    self.spark,
                    main_path,
                    commit_protocol=self.commit_protocol,
                )
                if ref not in mt.branches():
                    # A table BORN on the branch, registered on main per
                    # the only_branch remedy: there is no fork ref to
                    # squash — the main registration (pinned at the
                    # committed head) IS the merge. Guard the states
                    # where that equivalence does not hold; CRUCIALLY,
                    # never auto-repair here — main and branch pins
                    # alias ONE table log, and repair() would roll back
                    # whichever side's commits the other has not pinned.
                    b_path = bstate["tables"][tname]["path"]
                    if os.path.realpath(main_path) != os.path.realpath(
                        b_path
                    ):
                        raise ValueError(
                            f"table {tname!r} has no fork ref for branch "
                            f"{name!r} and main's registration "
                            f"({main_path!r}) is a DIFFERENT table than "
                            f"the branch's ({b_path!r}) — merging "
                            "unrelated tables is undefined; register the "
                            "branch table's own path on main"
                        )
                    broot = os.path.realpath(self._branch_root(name))
                    if os.path.realpath(main_path).startswith(
                        broot + os.sep
                    ):
                        raise ValueError(
                            f"branch-born table {tname!r} lives UNDER the "
                            "branch catalog directory, which merge "
                            "deletes — clone_to() a main-side path, "
                            "register that, then re-run merge_branch"
                        )
                    m_pin = entry["pin"]
                    b_pin = bstate["tables"][tname]["pin"]
                    head_vs = mt._versions()
                    head = head_vs[-1] if head_vs else 0
                    if m_pin == b_pin == head:
                        continue  # registration == merge: up to date
                    if m_pin < b_pin == head:
                        # the branch advanced the SHARED log past main's
                        # registration; the branch catalog's pin proves
                        # those versions are branch-COMMITTED truth, so
                        # main's pin fast-forwards in the merge CAS (the
                        # lineage check would refuse a main transaction
                        # here — from main's view they look like a
                        # foreign stager's uncommitted rows)
                        pin_ff[tname] = b_pin
                        continue
                    if b_pin < m_pin:
                        raise ValueError(
                            f"branch-born table {tname!r}: main advanced "
                            f"the shared log past the branch's pin "
                            f"(main v{m_pin}, branch v{b_pin}) — the "
                            "branch's view is stale and a squash merge "
                            "cannot arbitrate; drop_branch() to discard "
                            "it, or rebase the branch work by hand"
                        )
                    raise ValueError(
                        f"branch-born table {tname!r}: orphan staged "
                        f"version(s) in the shared log (head v{head} "
                        f"past branch pin v{b_pin}) — "
                        f"branch({name!r}).repair({tname!r}) first, "
                        "then re-run merge_branch"
                    )
                if auto_repair:
                    self.repair(tname)
                bcat.repair(tname)  # merge from the branch's PIN
                handle = txn.table(tname)
                staged.append(tname)
                handle.merge_branch(ref, drop_ref=False)
            touched = any(
                rec.produced for rec in txn._recorders.values()
            )
            if not touched and not pin_ff:
                txn.abandon()
                v = None
            else:
                v = txn.commit(
                    stamps=bstate.get("txn_seen") or {},
                    pins=pin_ff or None,
                )
        except BaseException:
            # ANY failure mid-staging (conflicts, but also LookupError /
            # OSError from a sick table) must abandon + roll back, or
            # the transaction stays open and orphan staged manifests
            # linger until the next auto_repair. EVERY staged table is
            # attempted even if one repair itself fails (a racing
            # writer mid-rollback, an unregistered name) — and the
            # ORIGINAL conflict is what the caller sees, never the
            # cleanup's error
            txn.abandon()
            for tname in staged:
                with contextlib.suppress(Exception):
                    self.repair(tname)
            raise
        # release the refs (the merge is committed truth now); branch
        # table DIRECTORIES stay — main references merged files in place
        for entry in self.state()["tables"].values():
            p = os.path.join(
                entry["path"].rstrip("/"),
                _MANIFEST_DIR,
                "branches",
                f"{ref}.json",
            )
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass  # pin-0 table: never forked
        shutil.rmtree(
            self._branch_root(name), ignore_errors=True
        )  # catalog JSON only; table data lives under the tables
        os.unlink(os.path.join(self._branch_refs_dir(), f"{name}.json"))
        return v


class _RecordingProtocol(CommitProtocol):
    """Wrap a table's commit protocol and remember which manifest
    versions THIS wrapper successfully published — the transaction's
    own lineage, distinguishable from foreign commits that land in the
    same table log while the transaction stages."""

    def __init__(self, inner: CommitProtocol, manifest_dir: str):
        self.inner = inner
        self.manifest_dir = manifest_dir
        self.produced: list[int] = []

    def publish(self, path: str, body: str) -> bool:
        ok = self.inner.publish(path, body)
        if ok and os.path.dirname(path) == self.manifest_dir:
            m = re.fullmatch(r"v(\d+)\.json", os.path.basename(path))
            if m:
                self.produced.append(int(m.group(1)))
        return ok


class MultiTableTransaction:
    """Snapshot-isolated multi-table writes, committed by one catalog CAS.

    Lifecycle: ``txn.table(name)`` opens (and remembers) a handle; any
    number of normal table operations follow (append / merge /
    delete / update — each lands in the table's own log, durable
    but unpinned, with the versions this transaction produced recorded
    via its commit protocol); ``commit()`` moves every touched pin to
    the HIGHEST VERSION THIS TRANSACTION PRODUCED in one CAS — never
    the raw log head, which may contain another transaction's staged
    commits.

    Conflict rules (first-committer-wins, per touched table):

    - another transaction committed a pin move on a touched table since
      this transaction began -> :class:`TransactionConflict`, no pins
      move, staged versions orphan (aged out by later commits + table
      vacuum);
    - this transaction's lineage is ROOTED on unpinned foreign commits
      (the table log had advanced past the pin when this transaction
      first wrote it — pinning our head would expose the foreign
      stager's uncommitted rows) -> :class:`TransactionConflict`;
    - catalog commits touching only OTHER tables (registrations,
      disjoint transactions) never conflict — the CAS retries over
      them, re-validating the touched pins each time;
    - table-log-level races (two stagers writing the same table)
      surface earlier as the table's own ConcurrentWriteError /
      auto-rebase, exactly as outside transactions.
    """

    def __init__(self, catalog: PinnedCatalog):
        self.catalog = catalog
        self._base = catalog.state()
        self._handles: dict[str, SnapshotTable] = {}
        self._recorders: dict[str, _RecordingProtocol] = {}
        self._stage_base: dict[str, int] = {}
        self._done = False

    def table(self, name: str, **table_kwargs) -> SnapshotTable:
        if self._done:
            raise RuntimeError("transaction already committed/abandoned")
        if name in self._handles:
            return self._handles[name]
        entry = self._base["tables"].get(name)
        if entry is None:
            raise KeyError(f"table {name!r} not registered")
        inner = table_kwargs.pop("commit_protocol", None) or PosixCommit()
        rec = _RecordingProtocol(
            inner, os.path.join(entry["path"].rstrip("/"), _MANIFEST_DIR)
        )
        t = SnapshotTable(
            self.catalog.spark,
            entry["path"],
            commit_protocol=rec,
            **table_kwargs,
        )
        vs = t._versions()
        self._handles[name] = t
        self._recorders[name] = rec
        self._stage_base[name] = vs[-1] if vs else 0
        return t

    def commit(
        self,
        stamps: dict[str, int] | None = None,
        pins: dict[str, int] | None = None,
    ) -> int:
        """Swap every touched pin in one catalog CAS; returns the new
        catalog version. Touched = tables this transaction actually
        committed versions to (a handle that staged nothing carries its
        pin unchanged). ``stamps`` (app_id -> batch_id) fold into the
        catalog's ``txn_seen`` map IN THE SAME CAS — the atomic
        stamp+publish a transactional refresh needs for exactly-once
        (:meth:`PinnedCatalog.last_committed_batch`).

        ``pins`` are explicit pin FAST-FORWARDS riding the same CAS for
        tables this transaction did NOT stage — the caller asserts the
        target versions are committed truth it can prove (the one user:
        :meth:`PinnedCatalog.merge_branch` for branch-born tables,
        where the branch catalog's own pin is that proof; the lineage
        check below would refuse them as a foreign stager's rows
        otherwise). Same first-committer-wins rule: the pin moving
        since the transaction began conflicts."""
        if self._done:
            raise RuntimeError("transaction already committed/abandoned")
        touched: dict[str, int] = {}
        for name, rec in self._recorders.items():
            if rec.produced:
                touched[name] = max(rec.produced)
        overlap = set(touched) & set(pins or {})
        if overlap:
            raise ValueError(
                f"pin override for staged table(s) {sorted(overlap)} — "
                "a staged table's pin is its own highest produced version"
            )
        while True:
            cur = self.catalog.state()
            for name in list(touched) + list(pins or {}):
                # unregister() can now remove entries mid-flight — a
                # clean first-committer-wins conflict, never a KeyError;
                # and the NAME must still mean the same TABLE: an
                # unregister + re-register at a different path with a
                # coinciding pin would otherwise accept our staged
                # versions onto a foreign registration
                entry = cur["tables"].get(name)
                base_path = self._base["tables"][name]["path"]
                if entry is None or os.path.realpath(
                    entry["path"]
                ) != os.path.realpath(base_path):
                    raise TransactionConflict(
                        f"table {name!r} was unregistered (or "
                        "re-registered at a different path) since this "
                        "transaction began; nothing committed"
                    )
            for name in touched:
                base_pin = self._base["tables"][name]["pin"]
                if self._stage_base[name] != base_pin:
                    raise TransactionConflict(
                        f"{name!r}: this transaction staged on top of "
                        f"unpinned version(s) (log at "
                        f"v{self._stage_base[name]}, pin at v{base_pin}) "
                        "— committing would expose another stager's "
                        "uncommitted rows; nothing committed"
                    )
                if cur["tables"][name]["pin"] != base_pin:
                    raise TransactionConflict(
                        f"pin of {name!r} moved "
                        f"{base_pin} -> {cur['tables'][name]['pin']} "
                        "since this transaction began; nothing committed"
                    )
            for name in pins or {}:
                base_pin = self._base["tables"][name]["pin"]
                if cur["tables"][name]["pin"] != base_pin:
                    raise TransactionConflict(
                        f"pin of {name!r} moved "
                        f"{base_pin} -> {cur['tables'][name]['pin']} "
                        "since this transaction began; nothing committed"
                    )
            tables = {n: dict(e) for n, e in cur["tables"].items()}
            for name, head in touched.items():
                tables[name]["pin"] = head
            for name, target in (pins or {}).items():
                tables[name]["pin"] = target
            try:
                v = self.catalog._cas(cur, tables, stamps=stamps)
            except TransactionConflict:
                continue  # lost the publish race; re-read, re-validate
            self._done = True
            return v

    def abandon(self) -> None:
        """Drop the transaction: no pins move; staged table versions
        stay in their logs as orphans until the table vacuums."""
        self._done = True
