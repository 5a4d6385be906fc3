"""Delta Lake log export (sources/delta_export.py): the open-format
interop hand-off. No Delta jars / network in this environment, so a
real third-party read is env-blocked; verification here is three
independent ways instead:

1. STRUCTURAL — the written log is protocol-shaped (newline-delimited
   JSON actions, protocol/metaData/add fields, URL-encoded paths,
   sizes that match the bytes on disk, stats that sum to row_count).
2. A from-spec MINIMAL READER (below) that shares NO code with the
   writer: folds the JSON commits exactly as PROTOCOL.md prescribes
   (adds minus removes, schema from metaData.schemaString) and must
   reproduce the source table bit-for-bit, at head AND at historical
   Delta versions.
3. DuckDB reading exactly the exported parquet file set.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from summit_23_snowpark_data_lake_workloads_spark.sources.delta_export import (
    export_delta,
    sync_delta,
)
from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    SnapshotTable,
)


def _df(spark, lo, hi, grp=0):
    return (
        spark.range(lo, hi)
        .coalesce(1)
        .select(
            F.col("id").cast("int").alias("id"),
            F.lit(grp).cast("int").alias("grp"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        )
    )


def _rows(df):
    return sorted((r.id, r.grp, r.val) for r in df.collect())


# ------------------------------------------------ from-spec reader


def _fold_log(dst: str, version: int | None = None):
    """Fold _delta_log per PROTOCOL.md: commits are \\d{20}.json files
    of newline-delimited actions; state = adds minus removes; schema =
    last metaData.schemaString; configuration carries the column-
    mapping mode when present."""
    logdir = os.path.join(dst, "_delta_log")
    live: dict[str, dict] = {}
    schema_string = None
    protocol = None
    config: dict = {}
    for name in sorted(os.listdir(logdir)):
        if not re.fullmatch(r"\d{20}\.json", name):
            continue
        if version is not None and int(name[:-5]) > version:
            continue
        with open(os.path.join(logdir, name)) as fh:
            for line in fh:
                a = json.loads(line)
                if "protocol" in a:
                    protocol = a["protocol"]
                if "metaData" in a:
                    md = a["metaData"]
                    assert md["format"]["provider"] == "parquet"
                    schema_string = md["schemaString"]
                    config = md.get("configuration") or {}
                if "add" in a:
                    live[unquote(a["add"]["path"])] = a["add"]
                if "remove" in a:
                    live.pop(unquote(a["remove"]["path"]), None)
    assert protocol is not None
    mapped = config.get("delta.columnMapping.mode") == "name"
    # PROTOCOL.md: name-mode column mapping requires reader 2; the
    # plain-parquet feature set stays at reader 1
    assert protocol["minReaderVersion"] == (2 if mapped else 1)
    assert schema_string is not None
    return live, schema_string, config


def _read_delta(spark, dst: str, version: int | None = None):
    live, schema_string, config = _fold_log(dst, version)
    sch = json.loads(schema_string)
    if config.get("delta.columnMapping.mode") == "name":
        # mapped reader: bind parquet columns by their PHYSICAL names
        # from the field metadata, present the logical view
        phys_fields = [
            {
                **f,
                "name": f["metadata"]["delta.columnMapping.physicalName"],
                "metadata": {},
            }
            for f in sch["fields"]
        ]
        phys = StructType.fromJson(
            {"type": "struct", "fields": phys_fields}
        )
        proj = [
            F.col(pf["name"]).alias(lf["name"])
            for pf, lf in zip(phys_fields, sch["fields"])
        ]
        if not live:
            return spark.createDataFrame(
                [], StructType.fromJson(sch)
            )
        return (
            spark.read.schema(phys)
            .parquet(*[os.path.join(dst, p) for p in live])
            .select(*proj)
        )
    schema = StructType.fromJson(sch)
    if not live:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(dst, p) for p in live]
    )


# ------------------------------------------------------------ tests


def test_snapshot_export_round_trip_and_structure(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    t.append(_df(spark, 10, 20, grp=1))
    t.delete(F.col("id") < 3)  # COW rewrite
    t.compact(target_files=2)
    dst = str(tmp_path / "delta")
    rpt = export_delta(t, dst)
    assert rpt["delta_version"] == 0 and rpt["files"] >= 1

    # independent from-spec reader == source table
    assert _rows(_read_delta(spark, dst)) == _rows(t.read())

    # DuckDB over exactly the exported file set
    live, _, _ = _fold_log(dst)
    paths = [os.path.join(dst, p) for p in live]
    con = duckdb.connect()
    n, s = con.sql(
        f"SELECT count(*), sum(id) FROM read_parquet({paths!r})"
    ).fetchone()
    assert n == t.read().count()
    assert s == sum(r.id for r in t.read().collect())

    # structural: sizes match bytes, stats sum to the exact row count,
    # every referenced file exists, data files are hard links (zero-copy)
    num_records = 0
    for rel, add in live.items():
        p = os.path.join(dst, rel)
        assert os.path.exists(p)
        assert add["size"] == os.path.getsize(p)
        assert os.stat(p).st_nlink >= 2, "export must hard-link, not copy"
        st = json.loads(add["stats"])
        num_records += st["numRecords"]
        assert "minValues" in st and "id" in st["minValues"]
    assert num_records == t.row_count()


def test_export_refusals_and_compact_remedy(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    t.delete(F.col("id") == 4, strategy="mor")
    dst = str(tmp_path / "delta")
    with pytest.raises(ValueError, match="deletion vectors"):
        export_delta(t, dst)
    t.compact(target_files=1)  # folds the vectors: the stated remedy
    export_delta(t, dst)
    assert _rows(_read_delta(spark, dst)) == _rows(t.read())
    with pytest.raises(FileExistsError, match="_delta_log"):
        export_delta(t, dst)

    # a renamed table no longer refuses: it exports with NAME-mode
    # column mapping (full lifecycle pinned in
    # test_column_mapped_table_exports_with_name_mapping)
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.create(_df(spark, 0, 5))
    t2.rename_column("val", "value")
    export_delta(t2, str(tmp_path / "delta2"))
    out = _read_delta(spark, str(tmp_path / "delta2"))
    assert out.columns == ["id", "grp", "value"]
    assert sorted((r.id, r.grp, r.value) for r in out.collect()) == _rows(
        t2.read().withColumnRenamed("value", "val")
    )


def test_sync_replays_history_with_delta_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))  # v1
    dst = str(tmp_path / "delta")
    export_delta(t, dst)  # delta 0 == table v1
    t.append(_df(spark, 10, 15, grp=1))  # v2
    t.delete(F.col("id").isin(0, 12))  # v3 (COW)
    rpt = sync_delta(t, dst)
    assert rpt == {"synced_versions": 2, "delta_version": 2}

    # head and BOTH historical delta versions replay the table history
    assert _rows(_read_delta(spark, dst)) == _rows(t.read())
    assert _rows(_read_delta(spark, dst, version=0)) == _rows(
        t.read(version=1)
    )
    assert _rows(_read_delta(spark, dst, version=1)) == _rows(
        t.read(version=2)
    )
    # idempotent: nothing new to sync
    assert sync_delta(t, dst)["synced_versions"] == 0

    # a metadata op poisons the range with its exact version named
    t.rename_column("val", "value")
    t.append(
        spark.range(20, 22).select(
            F.col("id").cast("int").alias("id"),
            F.lit(2).cast("int").alias("grp"),
            F.concat(F.lit("v"), F.col("id")).alias("value"),
        )
    )
    with pytest.raises(ValueError, match="rename_column"):
        sync_delta(t, dst)


def test_sync_refuses_dv_commit(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    t.delete(F.col("id") == 7, strategy="mor")
    with pytest.raises(ValueError, match="deletion vectors"):
        sync_delta(t, dst)


def test_export_survives_source_vacuum(spark, tmp_path):
    """Hard links keep the exported bytes alive through a source-side
    compact + retention sweep — the export is a SNAPSHOT hand-off, not
    a view that can rot under the source's lifecycle."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    t.append(_df(spark, 10, 20, grp=1))
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    before = _rows(_read_delta(spark, dst))
    t.compact(target_files=1)
    t.vacuum(retain_last=1, orphan_grace_ms=0)  # pre-compact files die
    assert _rows(_read_delta(spark, dst)) == before


def test_clone_absolute_refs_export_under_imported(spark, tmp_path):
    """A shallow clone's manifest references the SOURCE's files by
    absolute path; the export must content-address them under
    imported/ (no collision, no absolute paths in the log) and still
    round-trip."""
    src = SnapshotTable(spark, str(tmp_path / "src"))
    src.create(_df(spark, 0, 10))
    clone = src.clone_to(str(tmp_path / "clone"))
    assert any(os.path.isabs(f) for f in clone.snapshot().files)
    dst = str(tmp_path / "delta")
    export_delta(clone, dst)
    live, _, _ = _fold_log(dst)
    assert all(not os.path.isabs(p) for p in live)
    assert any(p.startswith("imported/") for p in live)
    assert _rows(_read_delta(spark, dst)) == _rows(clone.read())


def test_partitioned_table_exports_columns_in_data(spark, tmp_path):
    """Partition columns are physically present in this format's data
    files, so the export declares partitionColumns=[] and every value
    survives as a regular column."""
    t = SnapshotTable(
        spark, str(tmp_path / "t"), partition_by=["grp"]
    )
    t.create(_df(spark, 0, 6, grp=0).unionByName(_df(spark, 6, 12, grp=1)))
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    df = _read_delta(spark, dst)
    assert _rows(df) == _rows(t.read())
    logdir = os.path.join(dst, "_delta_log")
    with open(os.path.join(logdir, f"{0:020d}.json")) as fh:
        md = next(
            json.loads(l)["metaData"]
            for l in fh
            if "metaData" in json.loads(l)
        )
    assert md["partitionColumns"] == []


# ------------------------------------------------ model-based invariant

from hypothesis import given, settings
from hypothesis import strategies as st

_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 7)),
        st.tuples(st.just("delete"), st.integers(0, 9)),
        st.tuples(st.just("compact"), st.just(0)),
    ),
    min_size=1,
    max_size=5,
)


@pytest.mark.slow  # r16: model/quality tier — SPARK_GRAFT_SLOW=1 (verify-window budget)
@settings(max_examples=6, deadline=None)
@given(ops=_OPS)
def test_delta_export_model_invariant(spark, tmp_path_factory, ops):
    """MODEL INVARIANT: for ANY post-export sequence of appends, COW
    deletes, and compactions, sync_delta produces a log whose from-spec
    fold reproduces the source table EXACTLY at every Delta version —
    head and all intermediates — i.e. Delta-side time travel IS the
    source history. (Compaction commits replay as add+remove and must
    leave every version's row set untouched.)"""
    tmp = tmp_path_factory.mktemp("delta_model")
    t = SnapshotTable(spark, str(tmp / "t"))
    t.create(_df(spark, 0, 8))
    dst = str(tmp / "delta")
    export_delta(t, dst)
    base_v = t.snapshot().version
    nxt = 100
    for kind, arg in ops:
        if kind == "append":
            t.append(_df(spark, nxt, nxt + 2 + arg % 3, grp=1))
            nxt += 10
        elif kind == "delete":
            t.delete(F.col("id") % 10 == arg)
        else:
            t.compact(target_files=1)
    sync_delta(t, dst)
    head = t.snapshot().version
    for dv in range(head - base_v + 1):
        assert _rows(_read_delta(spark, dst, version=dv)) == _rows(
            t.read(version=base_v + dv)
        ), f"delta v{dv} != table v{base_v + dv}"


# --------------------------------------------- checkpoint parquet


def _fold_with_checkpoint(spark, dst: str):
    """From-spec checkpoint-aware fold: seed from _last_checkpoint's
    parquet (read independently via DuckDB), then apply newer JSON
    commits — exactly what a real reader does on a long log."""
    logdir = os.path.join(dst, "_delta_log")
    with open(os.path.join(logdir, "_last_checkpoint")) as fh:
        ckpt_v = json.load(fh)["version"]
    ck = os.path.join(logdir, f"{ckpt_v:020d}.checkpoint.parquet")
    con = duckdb.connect()
    live: dict[str, dict] = {}
    schema_string = None
    for (proto, md, add) in con.sql(
        f"SELECT protocol, metaData, add FROM read_parquet('{ck}')"
    ).fetchall():
        if md:
            schema_string = md["schemaString"]
        if add:
            live[add["path"]] = add
    for name in sorted(os.listdir(logdir)):
        m = re.fullmatch(r"(\d{20})\.json", name)
        if not m or int(m.group(1)) <= ckpt_v:
            continue
        with open(os.path.join(logdir, name)) as fh:
            for line in fh:
                a = json.loads(line)
                if "metaData" in a:
                    schema_string = a["metaData"]["schemaString"]
                if "add" in a:
                    live[a["add"]["path"]] = a["add"]
                if "remove" in a:
                    live.pop(a["remove"]["path"], None)
    schema = StructType.fromJson(json.loads(schema_string))
    paths = [os.path.join(dst, unquote(p)) for p in live]
    return spark.read.schema(schema).parquet(*paths)


def test_checkpoint_bounds_the_fold_and_survives_log_expiry(spark, tmp_path):
    from summit_23_snowpark_data_lake_workloads_spark.sources.delta_export import (
        expire_delta_log,
        write_delta_checkpoint,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 8))
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    t.append(_df(spark, 8, 12, grp=1))
    t.delete(F.col("id").isin(1, 9))
    sync_delta(t, dst)

    # expiry without a checkpoint refuses — it would destroy the log
    with pytest.raises(FileNotFoundError, match="checkpoint"):
        expire_delta_log(dst)

    rpt = write_delta_checkpoint(dst)
    assert rpt["checkpoint_version"] == 2
    logdir = os.path.join(dst, "_delta_log")
    ck = os.path.join(logdir, f"{2:020d}.checkpoint.parquet")
    assert os.path.isfile(ck), "checkpoint must be a single FILE"
    # PROTOCOL.md: checkpoint-reconstituted actions carry
    # dataChange: false (a streaming reader must not replay them)
    ck_adds = [
        a
        for (a,) in duckdb.sql(
            f"SELECT add FROM read_parquet('{ck}') WHERE add IS NOT NULL"
        ).fetchall()
    ]
    assert ck_adds and all(a["dataChange"] is False for a in ck_adds)
    # checkpoint-aware fold == JSON-only fold == the table
    assert _rows(_fold_with_checkpoint(spark, dst)) == _rows(t.read())
    assert _rows(_read_delta(spark, dst)) == _rows(t.read())

    # expire the pre-checkpoint JSONs: head reads keep working off the
    # checkpoint; the JSON-only fold is now impossible (files GONE)
    assert expire_delta_log(dst) == 3  # commits 0, 1, 2
    assert not [
        f for f in os.listdir(logdir) if re.fullmatch(r"\d{20}\.json", f)
    ]
    assert _rows(_fold_with_checkpoint(spark, dst)) == _rows(t.read())

    # sync continues PAST the checkpoint: new JSON commits fold on top
    t.append(_df(spark, 20, 23, grp=2))
    assert sync_delta(t, dst)["synced_versions"] == 1
    assert _rows(_fold_with_checkpoint(spark, dst)) == _rows(t.read())

    # a second checkpoint folds checkpoint + tail into the new one
    rpt2 = write_delta_checkpoint(dst)
    assert rpt2["checkpoint_version"] == 3
    assert expire_delta_log(dst) == 1
    assert _rows(_fold_with_checkpoint(spark, dst)) == _rows(t.read())


def test_export_timestamp_table_round_trips(spark, sf_dir, tmp_path):
    """An events slice (TimestampType through read_table's ts
    normalization) exports and folds back bit-for-bit — the schemaString
    carries the timestamp type and the from-spec reader applies it."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.batch import (
        read_table,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts")
        .filter(F.col("event_id") % 50 == 0)
    )
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(ev)
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    got = _read_delta(spark, dst)
    assert "timestamp" in dict(got.dtypes)["ts"]
    a = sorted((r.event_id, r.ts) for r in got.collect())
    b = sorted((r.event_id, r.ts) for r in t.read().collect())
    assert a == b


def test_export_empty_head(spark, tmp_path):
    """Delete-everything then export: a metaData+protocol-only commit,
    and the reader returns an empty frame WITH the schema."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 5))
    t.delete(F.col("id") >= 0)
    dst = str(tmp_path / "delta")
    rpt = export_delta(t, dst)
    assert rpt["files"] == 0
    df = _read_delta(spark, dst)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id", "grp", "val"]


def test_sync_refuses_dvs_on_readded_files(spark, tmp_path):
    """The review-found gap: a ROLLBACK re-adds files WITH their
    deletion vectors, and the per-commit delta deliberately excludes
    DVs riding on added files — so the old dv_delta-only refusal let
    the sync export a reader-1 log that resurrects the soft-deleted
    rows. The whole-version DV check closes it."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))  # v1
    t.delete(F.col("id") == 3, strategy="mor")  # v2: DVs
    t.compact(target_files=1)  # v3: folded — exportable head
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    t.rollback(2)  # v4: re-adds v2's files WITH their vectors,
    # and the rollback commit's dv_delta is EMPTY by design
    with pytest.raises(ValueError, match="re-added DV-carrying"):
        sync_delta(t, dst)
    # nothing was written: the export still folds to the v3 state
    assert _rows(_read_delta(spark, dst)) == _rows(t.read(version=3))


def test_sync_refuses_wrong_table(spark, tmp_path):
    """Syncing a different table into an export would splice two
    histories into one log — refused by the recorded table_path."""
    a = SnapshotTable(spark, str(tmp_path / "a"))
    a.create(_df(spark, 0, 5))
    b = SnapshotTable(spark, str(tmp_path / "b"))
    b.create(_df(spark, 100, 110))
    dst = str(tmp_path / "delta")
    export_delta(a, dst)
    b.append(_df(spark, 110, 112))
    with pytest.raises(ValueError, match="splice two histories"):
        sync_delta(b, dst)
    assert sync_delta(a, dst)["synced_versions"] == 0


def test_sync_resumes_after_sidecar_crash(spark, tmp_path):
    """A death between the commit write and the sidecar update must
    not wedge the export: the next sync reconciles the sidecar against
    the log on disk and continues (the old behavior: FileExistsError
    forever)."""
    import json as _json

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 6))
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    t.append(_df(spark, 6, 9, grp=1))  # v2
    t.append(_df(spark, 9, 12, grp=2))  # v3
    sync_delta(t, dst)
    # simulate the crash: the sidecar never learned about the LAST
    # synced commit (delta 2 / table v3)
    sp = os.path.join(dst, "_spark_graft_export.json")
    with open(sp) as fh:
        state = _json.load(fh)
    state["delta_version"] -= 1
    state["table_version"] -= 1
    with open(sp, "w") as fh:
        _json.dump(state, fh)
    # heals: no FileExistsError, nothing re-synced, log unchanged
    assert sync_delta(t, dst)["synced_versions"] == 0
    t.append(_df(spark, 12, 14, grp=3))  # and sync continues past it
    assert sync_delta(t, dst)["synced_versions"] == 1
    assert _rows(_read_delta(spark, dst)) == _rows(t.read())


def test_sync_refuses_schema_evolution_even_when_head_reverts(
    spark, tmp_path
):
    """A schema_evolution=True append widens the schema WITHOUT a
    metadata op, and a later rollback can revert the head — a
    head-only schema check passes while the range exports files whose
    physical schema the log's schemaString does not describe. The
    per-version check refuses at the exact version."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 5))  # v1
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    t.append(
        _df(spark, 5, 8, grp=1).withColumn("extra", F.lit(7)),
        schema_evolution=True,
    )  # v2: wider, no metadata op
    t.rollback(1)  # v3: head schema == exported schema again
    with pytest.raises(ValueError, match="schema diverged"):
        sync_delta(t, dst)
    # whole-range validation: NOTHING was written
    assert _rows(_read_delta(spark, dst)) == _rows(t.read(version=1))


def test_rewrite_sync_marks_data_change_false(spark, tmp_path):
    """Delta's OPTIMIZE convention: a rewrite-only source commit
    (compact/zorder) syncs with dataChange: false on every add AND
    remove — a Delta STREAMING consumer must not reprocess the
    compacted rows as new data. A real append keeps dataChange true,
    and batch folds are unaffected either way."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 8))
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    t.append(_df(spark, 8, 12, grp=1))  # v2: real data change
    t.compact(target_files=1)  # v3: layout only
    assert sync_delta(t, dst)["synced_versions"] == 2

    def flags(delta_v):
        out = []
        with open(
            os.path.join(dst, "_delta_log", f"{delta_v:020d}.json")
        ) as fh:
            for line in fh:
                a = json.loads(line)
                for k in ("add", "remove"):
                    if k in a:
                        out.append((k, a[k]["dataChange"]))
        return out

    append_flags = flags(1)
    compact_flags = flags(2)
    assert append_flags and all(dc for _k, dc in append_flags)
    assert {k for k, _dc in compact_flags} == {"add", "remove"}
    assert all(dc is False for _k, dc in compact_flags)
    # the fold (batch read) is oblivious to the flag
    assert _rows(_read_delta(spark, dst)) == _rows(t.read())


def test_sync_vacuumed_file_refuses_before_any_commit_publishes(
    spark, tmp_path
):
    """Whole-range pre-validation includes source-file EXISTENCE: a
    file vacuumed between commit and sync must surface the guided
    'sync before vacuuming' refusal BEFORE any Delta commit of the
    range publishes — not a raw copy error after a prefix landed."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 6))
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    t.append(_df(spark, 6, 9, grp=1))  # v2
    t.append(_df(spark, 9, 12, grp=2))  # v3
    # simulate a vacuum race: a file added by the LAST version is gone,
    # so the naive per-commit loop would publish v2's delta first
    changes = t.file_changes(1, 3)
    victim = os.path.join(t.path, changes[-1][2][0])
    victim_bytes = open(victim, "rb").read()
    os.unlink(victim)
    with pytest.raises(FileNotFoundError, match="sync before vacuuming"):
        sync_delta(t, dst)
    # NOTHING published: commit 0 is still the whole log
    logdir = os.path.join(dst, "_delta_log")
    assert [
        n for n in sorted(os.listdir(logdir)) if re.fullmatch(r"\d{20}\.json", n)
    ] == ["0" * 20 + ".json"]
    # restore the bytes and the same sync goes through cleanly
    with open(victim, "wb") as fh:
        fh.write(victim_bytes)
    assert sync_delta(t, dst)["synced_versions"] == 2
    assert _rows(_read_delta(spark, dst)) == _rows(t.read())


def test_export_crash_before_commit0_is_diagnosed_not_wedged(
    spark, tmp_path, monkeypatch
):
    """The sidecar now publishes BEFORE commit 0 ('commit pending'
    state), so a crash inside export_delta leaves a destination that
    sync_delta diagnoses with a guided error instead of an unguided
    FileNotFoundError from the sidecar load — and a crash after
    commit 0 published but before the final sidecar update heals via
    sync's existing log-ahead repair."""
    import summit_23_snowpark_data_lake_workloads_spark.sources.delta_export as de

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 6))
    t.append(_df(spark, 6, 9, grp=1))  # v2: export at head v2

    # crash BEFORE commit 0 publishes
    dst1 = str(tmp_path / "delta1")
    real_write = de._write_commit

    def boom(dstp, v, actions):
        raise RuntimeError("injected crash before commit 0")

    monkeypatch.setattr(de, "_write_commit", boom)
    with pytest.raises(RuntimeError, match="injected"):
        export_delta(t, dst1)
    monkeypatch.setattr(de, "_write_commit", real_write)
    # the sidecar exists in pending state; sync names the remedy
    with pytest.raises(FileNotFoundError, match="delete dst and export"):
        sync_delta(t, dst1)

    # crash AFTER commit 0 but before the final sidecar update:
    # rewind the sidecar to its published pre-commit state
    dst2 = str(tmp_path / "delta2")
    export_delta(t, dst2)
    sp = os.path.join(dst2, "_spark_graft_export.json")
    state = json.load(open(sp))
    state.update(
        {"delta_version": -1, "table_version": state["table_version"] - 1}
    )
    json.dump(state, open(sp, "w"))
    assert sync_delta(t, dst2)["synced_versions"] == 0  # repaired
    t.append(_df(spark, 9, 11, grp=2))  # v3 — and sync continues
    assert sync_delta(t, dst2)["synced_versions"] == 1
    assert _rows(_read_delta(spark, dst2)) == _rows(t.read())


def test_sync_missing_sidecar_gets_guided_error(spark, tmp_path):
    """A destination holding a _delta_log but no sidecar (deleted, or
    a foreign Delta table) refuses with a guided message naming the
    sidecar — not a raw open() FileNotFoundError."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    os.unlink(os.path.join(dst, "_spark_graft_export.json"))
    with pytest.raises(FileNotFoundError, match="no export sidecar"):
        sync_delta(t, dst)


def test_column_mapped_table_exports_with_name_mapping(spark, tmp_path):
    """A table with an active column map / dropped columns exports
    with Delta NAME-mode column mapping (PROTOCOL.md reader 2 /
    writer 5) instead of refusing: per-field id + physicalName
    metadata in the schemaString, mapping keys in the metaData
    configuration; a mapped reader binds parquet columns by physical
    name, presents the logical view, and ignores dropped columns'
    retained bytes. Sync keeps working; a rename AFTER export still
    refuses sync (schema must equal commit 0's)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 8))  # physical names id/grp/val forever
    t.rename_column("id", "ident")
    t.drop_column("val")
    dst = str(tmp_path / "delta")
    export_delta(t, dst)

    live, schema_string, config = _fold_log(dst)
    assert config["delta.columnMapping.mode"] == "name"
    assert config["delta.columnMapping.maxColumnId"] == "2"
    sch = json.loads(schema_string)
    assert [f["name"] for f in sch["fields"]] == ["ident", "grp"]
    assert {
        f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
        for f in sch["fields"]
    } == {"ident": "id", "grp": "grp"}
    assert sorted(
        f["metadata"]["delta.columnMapping.id"] for f in sch["fields"]
    ) == [1, 2]
    with open(
        os.path.join(dst, "_delta_log", "0" * 20 + ".json")
    ) as fh:
        acts = [json.loads(l) for l in fh]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto == {"minReaderVersion": 2, "minWriterVersion": 5}

    def logical_rows(df):
        return sorted((r.ident, r.grp) for r in df.collect())

    out = _read_delta(spark, dst)
    assert out.columns == ["ident", "grp"]
    assert logical_rows(out) == logical_rows(t.read())

    # DuckDB binds the same files by PHYSICAL name
    paths = [os.path.join(dst, p) for p in live]
    n, s = duckdb.sql(
        f"SELECT count(*), sum(id) FROM read_parquet({paths!r})"
    ).fetchone()
    assert (n, s) == (8, sum(range(8)))

    # sync keeps working: appends/deletes store physical names
    t.append(
        spark.range(8, 12).select(
            F.col("id").cast("int").alias("ident"),
            F.lit(9).cast("int").alias("grp"),
        )
    )
    t.delete(F.col("ident") == 2)
    assert sync_delta(t, dst)["synced_versions"] == 2
    assert logical_rows(_read_delta(spark, dst)) == logical_rows(t.read())

    # a rename AFTER export is a metadata op: sync still refuses
    t.rename_column("grp", "grp2")
    with pytest.raises(ValueError, match="metadata operation"):
        sync_delta(t, dst)


# ------------------------------------------------------------ import


def test_import_delta_round_trip_zero_copy(spark, tmp_path):
    """export -> import round-trip: the imported SnapshotTable serves
    the same rows, files are hard-linked (zero-copy), stats are
    recomputed from footers (metadata-only row_count works), and the
    imported table is fully writable."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.delta_export import (
        import_delta,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    t.append(_df(spark, 10, 16, grp=1))
    t.delete(F.col("id") < 2)
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    sync_delta(t, dst)

    rpt = import_delta(spark, dst, str(tmp_path / "t2"))
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    assert _rows(t2.read()) == _rows(t.read())
    assert rpt["rows"] == t.read().count()
    assert t2.row_count() == t.read().count()  # footer stats landed
    # zero-copy: every imported data file is a link, not a copy
    for f in t2.snapshot().files:
        assert os.stat(os.path.join(t2.path, f)).st_nlink >= 2
    # the imported table is a first-class table: writes work
    t2.append(_df(spark, 100, 103, grp=9))
    assert t2.read().count() == t.read().count() + 3


def test_import_delta_name_mapped_table(spark, tmp_path):
    """A NAME-mapped Delta log imports with the mapping folded into
    the table's column_map (+ extra physical columns registered as
    dropped_cols): logical views agree, the dropped bytes stay
    invisible, and the reserved names cannot be re-appended."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.delta_export import (
        import_delta,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 8))
    t.rename_column("id", "ident")
    t.drop_column("val")
    dst = str(tmp_path / "delta")
    export_delta(t, dst)

    import_delta(spark, dst, str(tmp_path / "t2"))
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    assert t2.column_map == {"ident": "id"}
    assert t2.dropped_cols == ["val"]
    assert t2.read().columns == sorted(
        t.read().columns, key=t.read().columns.index
    )
    assert sorted((r.ident, r.grp) for r in t2.read().collect()) == sorted(
        (r.ident, r.grp) for r in t.read().collect()
    )


def test_import_delta_from_checkpoint_seeded_log(spark, tmp_path):
    """Import folds through a checkpoint like any reader: after the
    pre-checkpoint JSON commits are expired, the import still lands
    the head exactly."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.delta_export import (
        expire_delta_log,
        import_delta,
        write_delta_checkpoint,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 6))
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    t.append(_df(spark, 6, 9, grp=1))
    sync_delta(t, dst)
    write_delta_checkpoint(dst)
    assert expire_delta_log(dst) >= 1
    import_delta(spark, dst, str(tmp_path / "t2"))
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    assert _rows(t2.read()) == _rows(t.read())


def test_import_delta_refusals(spark, tmp_path):
    """Honest refusals mirror the export's: reader-3 logs, ID-mode
    mapping, partitionColumns, DV-carrying adds, existing tables, and
    empty heads all refuse with guided messages."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.delta_export import (
        import_delta,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))
    dst = str(tmp_path / "delta")
    export_delta(t, dst)

    def tweak(name, fn):
        """Copy the exported log into a fresh dst with commit 0's
        actions rewritten by fn."""
        import shutil as _sh

        d2 = str(tmp_path / name)
        _sh.copytree(dst, d2)
        p = os.path.join(d2, "_delta_log", "0" * 20 + ".json")
        acts = [json.loads(l) for l in open(p)]
        acts = [fn(a) for a in acts]
        with open(p, "w") as fh:
            for a in acts:
                fh.write(json.dumps(a) + "\n")
        return d2

    d_r3 = tweak(
        "r3",
        lambda a: (
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}}
            if "protocol" in a
            else a
        ),
    )
    with pytest.raises(ValueError, match="minReaderVersion 3"):
        import_delta(spark, d_r3, str(tmp_path / "x1"))

    def idmode(a):
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.columnMapping.mode": "id"
            }
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 2, "minWriterVersion": 5}
        return a

    with pytest.raises(ValueError, match="ID mode"):
        import_delta(spark, tweak("idm", idmode), str(tmp_path / "x2"))

    def parted(a):
        if "metaData" in a:
            a["metaData"]["partitionColumns"] = ["grp"]
        return a

    with pytest.raises(ValueError, match="partition columns"):
        import_delta(spark, tweak("pc", parted), str(tmp_path / "x3"))

    def dv(a):
        if "add" in a:
            a["add"]["deletionVector"] = {"storageType": "u"}
        return a

    with pytest.raises(ValueError, match="deletion vector"):
        import_delta(spark, tweak("dv", dv), str(tmp_path / "x4"))

    # an existing table refuses; so does an empty head
    with pytest.raises(FileExistsError, match="already exists"):
        import_delta(spark, dst, str(tmp_path / "t"))
    t.delete(F.col("id") >= 0)  # empty the head
    sync_delta(t, dst)
    with pytest.raises(ValueError, match="no live files"):
        import_delta(spark, dst, str(tmp_path / "x5"))


def test_import_refuses_multipart_checkpoint_shape(spark, tmp_path):
    """A foreign log with a multi-part checkpoint (legal at reader 1,
    but not a shape the single-file fold reads) refuses with the
    shape named — not a raw missing-file error."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.delta_export import (
        import_delta,
        write_delta_checkpoint,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4))
    dst = str(tmp_path / "delta")
    export_delta(t, dst)
    write_delta_checkpoint(dst)
    logdir = os.path.join(dst, "_delta_log")
    single = os.path.join(logdir, f"{0:020d}.checkpoint.parquet")
    os.rename(
        single,
        os.path.join(
            logdir, f"{0:020d}.checkpoint.{1:010d}.{2:010d}.parquet"
        ),
    )
    with pytest.raises(ValueError, match="checkpoint shape"):
        import_delta(spark, dst, str(tmp_path / "t2"))


def test_sync_import_incremental_pull(spark, tmp_path):
    """The bridge is incremental in BOTH directions: A's history
    pushes out via sync_delta, and the imported mirror B pulls new
    Delta commits via sync_import — appends, COW deletes, and an
    OPTIMIZE (dataChange:false) that must apply as a layout-only
    'compact' commit B's change feed skips."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.delta_export import (
        import_delta,
        sync_import,
    )

    a = SnapshotTable(spark, str(tmp_path / "a"))
    a.create(_df(spark, 0, 10))
    dst = str(tmp_path / "delta")
    export_delta(a, dst)
    import_delta(spark, dst, str(tmp_path / "b"))
    b = SnapshotTable(spark, str(tmp_path / "b"))
    assert _rows(b.read()) == _rows(a.read())

    # no-op sync
    assert sync_import(spark, dst, b.path)["synced_versions"] == 0

    # push two real commits + one rewrite-only commit out of A...
    a.append(_df(spark, 10, 14, grp=1))
    a.delete(F.col("id").isin(1, 11))
    a.compact(target_files=1)
    sync_delta(a, dst)
    # ...and pull them into B
    rpt = sync_import(spark, dst, b.path)
    assert rpt["synced_versions"] == 3
    b = SnapshotTable(spark, str(tmp_path / "b"))
    assert _rows(b.read()) == _rows(a.read())
    # the OPTIMIZE landed as a layout-only 'compact' commit: B's
    # change feed must skip it (same rows, new layout)
    ops = [op for _v, op, _a, _r, _d in b.file_changes(0, b.snapshot().version)]
    assert ops[-1] == "compact"
    # idempotent: nothing new
    assert sync_import(spark, dst, b.path)["synced_versions"] == 0


def test_sync_import_crash_repair_and_refusals(spark, tmp_path):
    """A crash between a pulled commit and the sidecar update is
    absorbed by the commit's txn stamp (the streaming-sink replay
    detector): the re-applied version no-ops. Refusals: foreign src,
    missing sidecar, expired JSON gap, mid-range metaData."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.delta_export import (
        expire_delta_log,
        import_delta,
        sync_import,
        write_delta_checkpoint,
    )

    a = SnapshotTable(spark, str(tmp_path / "a"))
    a.create(_df(spark, 0, 6))
    dst = str(tmp_path / "delta")
    export_delta(a, dst)
    import_delta(spark, dst, str(tmp_path / "b"))
    b_path = str(tmp_path / "b")
    a.append(_df(spark, 6, 9, grp=1))
    sync_delta(a, dst)
    assert sync_import(spark, dst, b_path)["synced_versions"] == 1

    # crash simulation: sidecar forgets the last applied version —
    # the committed txn stamp still wins, nothing re-applies
    sp = os.path.join(b_path, "_spark_graft_import.json")
    st = json.load(open(sp))
    st["delta_version"] -= 1
    json.dump(st, open(sp, "w"))
    assert sync_import(spark, dst, b_path)["synced_versions"] == 0
    b = SnapshotTable(spark, b_path)
    assert _rows(b.read()) == _rows(a.read())

    # foreign src refuses; a table without the sidecar refuses
    other = SnapshotTable(spark, str(tmp_path / "o"))
    other.create(_df(spark, 0, 3))
    dst2 = str(tmp_path / "delta2")
    export_delta(other, dst2)
    with pytest.raises(ValueError, match="splice"):
        sync_import(spark, dst2, b_path)
    with pytest.raises(FileNotFoundError, match="import sidecar"):
        sync_import(spark, dst, str(tmp_path / "o"))

    # expired JSON gap: checkpoint + expire on the Delta side kills
    # the per-commit history this sync needs
    a.append(_df(spark, 9, 12, grp=2))
    sync_delta(a, dst)
    write_delta_checkpoint(dst)
    expire_delta_log(dst)
    with pytest.raises(FileNotFoundError, match="expired into a checkpoint"):
        sync_import(spark, dst, b_path)

    # mid-range metaData refuses (fresh pair, synthetic commit)
    c = SnapshotTable(spark, str(tmp_path / "c"))
    c.create(_df(spark, 0, 4))
    dst3 = str(tmp_path / "delta3")
    export_delta(c, dst3)
    import_delta(spark, dst3, str(tmp_path / "d"))
    c.append(_df(spark, 4, 6, grp=1))
    sync_delta(c, dst3)
    p1 = os.path.join(dst3, "_delta_log", f"{1:020d}.json")
    acts = [json.loads(l) for l in open(p1)]
    md = {"metaData": {"id": "x", "format": {"provider": "parquet", "options": {}}, "schemaString": "{}", "partitionColumns": [], "configuration": {}, "createdTime": 0}}
    with open(p1, "w") as fh:
        for x in [md] + acts:
            fh.write(json.dumps(x) + "\n")
    with pytest.raises(ValueError, match="metaData/"):
        sync_import(spark, dst3, str(tmp_path / "d"))
