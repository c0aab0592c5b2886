"""Snapshot table (sources/snapshot.py): versioned commits, time
travel, file-pruned MERGE, copy-on-write DELETE, and the
optimistic-concurrency commit protocol."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alternating_least_squares_spark.sources import snapshot as SN
from tests.conftest import fresh_ledger


@pytest.fixture
def base(spark):
    # 4 range-partitioned files with disjoint key ranges 0-24 / 25-49 /
    # 50-74 / 75-99 -> manifest stats enable real file pruning
    return (
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartitionByRange(4, "k")
    )


def test_create_read_roundtrip_and_history(spark, base, tmp_path):
    path = str(tmp_path / "t")
    assert SN.create_table(base, path, key="k") == 0
    got = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, path).collect()}
    assert got == {(i, i * 10) for i in range(100)}
    h = SN.history(path)
    assert [x["version"] for x in h] == [0]
    assert h[0]["rows"] == 100 and h[0]["operation"] == "create"


def test_merge_upserts_and_inserts(spark, base, tmp_path):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    updates = spark.createDataFrame(
        [(10, -1), (20, -2), (200, -3)], "k long, v long"
    )
    v = SN.merge_upsert(updates, path)
    assert v == 1
    got = {r["k"]: r["v"] for r in SN.read_snapshot(spark, path).collect()}
    assert len(got) == 101  # 100 originals, 10/20 replaced, 200 new
    assert got[10] == -1 and got[20] == -2 and got[200] == -3
    assert got[11] == 110  # untouched neighbor


def test_merge_prunes_non_overlapping_files(spark, base, tmp_path):
    """Updates touching only keys 10/20 overlap only the 0-24 file:
    the other three files must carry into v1 by REFERENCE (identical
    path entries), and the manifest must say so."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    m0 = SN._read_manifest(path, 0)
    assert len(m0["files"]) == 4
    SN.merge_upsert(
        spark.createDataFrame([(10, -1), (20, -2)], "k long, v long"), path
    )
    m1 = SN._read_manifest(path, 1)
    carried = {f["path"] for f in m0["files"]} & {f["path"] for f in m1["files"]}
    assert len(carried) == 3
    assert m1["pruning"] == {"rewritten": 1, "carried": 3}


def test_time_travel_is_stable_across_mutations(spark, base, tmp_path):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    v0 = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, path, 0).collect()}
    SN.merge_upsert(
        spark.createDataFrame([(10, -1)], "k long, v long"), path
    )
    SN.delete_where(path, "k >= 90", spark)
    # latest reflects both mutations
    latest = {r["k"]: r["v"] for r in SN.read_snapshot(spark, path).collect()}
    assert latest[10] == -1 and max(latest) == 89
    # v0 is untouched; v1 sees the merge but not the delete
    again = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, path, 0).collect()}
    assert again == v0
    v1 = {r["k"]: r["v"] for r in SN.read_snapshot(spark, path, 1).collect()}
    assert v1[10] == -1 and max(v1) == 99


def test_delete_carries_untouched_files(spark, base, tmp_path):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.delete_where(path, "k = 30", spark)
    m1 = SN._read_manifest(path, 1)
    assert m1["pruning"]["carried"] == 3 and m1["pruning"]["rewritten"] == 1
    got = {r["k"] for r in SN.read_snapshot(spark, path).collect()}
    assert got == set(range(100)) - {30}


def test_append_adds_without_rewrite(spark, base, tmp_path):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    m0_paths = {f["path"] for f in SN._read_manifest(path, 0)["files"]}
    SN.append(
        spark.createDataFrame([(500, 1), (501, 2)], "k long, v long"), path
    )
    m1 = SN._read_manifest(path, 1)
    assert m0_paths <= {f["path"] for f in m1["files"]}
    assert SN.read_snapshot(spark, path).count() == 102


def test_concurrent_commit_conflict_raises(spark, base, tmp_path, monkeypatch):
    """Two writers based on the same version: the second publish of
    the same version number must fail loudly (atomic 'x' create), and
    the table must still read as the FIRST winner's commit."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    manifest = SN._read_manifest(path, 0)
    SN._commit(path, 1, dict(manifest, version=1, operation="merge"))
    with pytest.raises(FileExistsError):
        SN._commit(path, 1, dict(manifest, version=1, operation="merge"))
    # end-to-end: a merge whose racing twin lands between its log read
    # and its publish loses with the same error
    real_write = SN._write_data_files

    def race_then_write(df, p, key):
        files = real_write(df, p, key)
        SN._commit(p, 2, dict(manifest, version=2, operation="merge"))
        return files

    monkeypatch.setattr(SN, "_write_data_files", race_then_write)
    with pytest.raises(FileExistsError):
        SN.merge_upsert(
            spark.createDataFrame([(1, -1)], "k long, v long"), path
        )


def test_create_refuses_existing_table(spark, base, tmp_path):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    with pytest.raises(FileExistsError, match="already exists"):
        SN.create_table(base, path, key="k")


def test_empty_updates_is_noop_version(spark, base, tmp_path):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    v = SN.merge_upsert(
        spark.createDataFrame([], "k long, v long"), path
    )
    assert v == 1
    assert SN.read_snapshot(spark, path).count() == 100


def test_delete_all_leaves_readable_empty_version(spark, base, tmp_path):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.delete_where(path, "k >= 0", spark)
    df = SN.read_snapshot(spark, path)
    assert df.count() == 0
    assert df.columns == ["k", "v"]  # schema survives via the manifest


def test_delete_null_predicate_keeps_row(spark, tmp_path):
    """SQL DELETE removes only TRUE matches: a NULL-valued predicate
    (here k = 30 on a NULL key) must KEEP the row, even when its file
    is rewritten because a sibling row matched."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(25, 1), (30, 2), (None, 3)], "k long, v long"
    ).coalesce(1)
    SN.create_table(df, path, key="k")
    SN.delete_where(path, "k = 30", spark)
    got = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, path).collect()}
    assert got == {(25, 1), (None, 3)}


def test_merge_rejects_null_and_duplicate_keys(spark, base, tmp_path):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    with pytest.raises(ValueError, match="NULL"):
        SN.merge_upsert(
            spark.createDataFrame([(None, -1), (5, -2)], "k long, v long"),
            path,
        )
    with pytest.raises(ValueError, match="duplicate"):
        SN.merge_upsert(
            spark.createDataFrame([(5, -1), (5, -2)], "k long, v long"), path
        )


def test_append_rejects_different_key(spark, base, tmp_path):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    with pytest.raises(ValueError, match="table key"):
        SN.append(base, path, key="v")


def test_profile_batches_disjoint_keys_keep_decimal_scale(spark, tmp_path):
    """Three micro-batches with strictly increasing user ids: batch 3
    overlaps NO existing file, taking merge's touched==[] path — the
    written decimals must stay at scale 10 so the table remains
    readable (dec(38,10)+dec(38,10) types as dec(38,9) without the
    explicit cast)."""
    from alternating_least_squares_spark.streaming.events import (
        _apply_profile_batch,
    )

    path = str(tmp_path / "t")
    for i, uid in enumerate((1, 100, 10_000)):
        batch = spark.createDataFrame(
            [(uid, 1.25 + i)], "user_id long, value double"
        )
        ledger = fresh_ledger(path, "profile", "feedA")
        _apply_profile_batch(batch, i, ledger)
    got = {
        r["user_id"]: r["total_value"]
        for r in SN.read_snapshot(spark, path).collect()
    }
    assert {k: float(v) for k, v in got.items()} == {
        1: 1.25, 100: 2.25, 10_000: 3.25
    }


def test_profile_batch_redelivery_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-applying an already-committed
    batch id must be a no-op (no double-counted totals, no new
    version), including a redelivered create batch."""
    from alternating_least_squares_spark.streaming.events import (
        _apply_profile_batch,
    )

    path = str(tmp_path / "t")
    b0 = spark.createDataFrame([(1, 2.0)], "user_id long, value double")
    b1 = spark.createDataFrame([(1, 3.0)], "user_id long, value double")

    def apply(batch, batch_id, feed):
        ledger = fresh_ledger(path, "profile", feed)
        _apply_profile_batch(batch, batch_id, ledger)

    apply(b0, 0, "feedA")
    apply(b0, 0, "feedA")  # redelivered create
    apply(b1, 1, "feedA")
    apply(b1, 1, "feedA")  # redelivered merge
    rows = SN.read_snapshot(spark, path).collect()
    assert len(rows) == 1
    assert rows[0]["n_events"] == 2 and float(rows[0]["total_value"]) == 5.0
    assert len(SN.history(path)) == 2
    # a NEW checkpoint lineage restarts batch ids at 0: its batches
    # must APPLY (exactly-once is per-lineage, the Delta txnAppId
    # contract) — the pre-r17 table-scoped bare batch id silently
    # dropped them, which for a summing sink is data loss
    apply(b1, 0, "feedB")
    rows = SN.read_snapshot(spark, path).collect()
    assert rows[0]["n_events"] == 3 and float(rows[0]["total_value"]) == 8.0
    # ... and feedA's own ledger is unaffected by feedB's commit
    apply(b1, 1, "feedA")  # still redelivered
    assert SN.read_snapshot(spark, path).collect()[0]["n_events"] == 3


def _parquet_files_on_disk(path: str) -> set[str]:
    import os

    out = set()
    for root, _, files in os.walk(os.path.join(path, "data")):
        out.update(
            os.path.join(root, f) for f in files if f.endswith(".parquet")
        )
    return out


def test_vacuum_expires_history_and_removes_only_orphans(
    spark, base, tmp_path
):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    updates = spark.createDataFrame([(10, -1)], "k long, v long")
    SN.merge_upsert(updates, path)  # rewrites only the 0-24 file
    before = _parquet_files_on_disk(path)
    latest_rows = {
        (r["k"], r["v"]) for r in SN.read_snapshot(spark, path).collect()
    }

    stats = SN.vacuum(path, keep_last=1)
    assert stats["versions_removed"] == 1
    # only v0's rewritten 0-24 file is orphaned; the three carried
    # files are shared with v1 and MUST survive
    assert stats["files_removed"] == 1
    after = _parquet_files_on_disk(path)
    assert after < before and len(before) - len(after) == 1

    # latest still reads exactly as before the vacuum
    got = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, path).collect()}
    assert got == latest_rows
    # expired version is gone LOUDLY
    with pytest.raises(ValueError, match="version 0"):
        SN.read_snapshot(spark, path, version=0)
    # idempotent
    again = SN.vacuum(path, keep_last=1)
    assert again["versions_removed"] == 0 and again["files_removed"] == 0


def test_vacuum_keep_last_retains_time_travel_window(spark, base, tmp_path):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.merge_upsert(
        spark.createDataFrame([(10, -1)], "k long, v long"), path
    )
    SN.delete_where(path, "k % 10 = 3", spark)
    SN.vacuum(path, keep_last=2)
    # v1 and v2 both readable; v0 expired
    assert SN.read_snapshot(spark, path, version=1).count() == 100
    assert SN.read_snapshot(spark, path, version=2).count() == 90
    with pytest.raises(ValueError, match="version 0"):
        SN.read_snapshot(spark, path, version=0)


def test_vacuum_validates_inputs(spark, base, tmp_path):
    with pytest.raises(FileNotFoundError):
        SN.vacuum(str(tmp_path / "missing"))
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    with pytest.raises(ValueError, match="keep_last"):
        SN.vacuum(path, keep_last=0)


def test_vacuum_reclaims_losing_writer_orphans(spark, base, tmp_path):
    """Data files written by a writer that lost the commit race are
    referenced by NO manifest — vacuum must reclaim them (the Delta
    VACUUM contract), while the age guard protects in-flight ones."""
    import os

    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    orphan_dir = os.path.join(path, "data", "losingwriter")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-0000.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")

    # young orphan + retention window -> untouched (in-flight writer)
    guarded = SN.vacuum(path, keep_last=1, min_age_seconds=3600)
    assert guarded["files_removed"] == 0 and os.path.exists(orphan)

    # no retention window -> reclaimed, and its debris dir goes too
    stats = SN.vacuum(path, keep_last=1)
    assert stats["files_removed"] == 1
    assert not os.path.exists(orphan)
    # v0 (the only version) still reads fine
    assert SN.read_snapshot(spark, path).count() == 100


def test_vacuum_survives_temporary_dir_debris(spark, base, tmp_path):
    """An aborted writer's _temporary directory must not crash vacuum
    (directories are not os.remove-able) and gets swept once aged."""
    import os

    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.merge_upsert(
        spark.createDataFrame([(10, -1)], "k long, v long"), path
    )
    debris = os.path.join(path, "data", "aborted", "_temporary")
    os.makedirs(debris)
    stats = SN.vacuum(path, keep_last=1)
    assert stats["versions_removed"] == 1
    assert not os.path.exists(os.path.join(path, "data", "aborted"))
    # merge replaced key 10 (already present), so count stays 100
    assert SN.read_snapshot(spark, path).count() == 100


def test_vacuum_with_unnormalized_path_never_touches_live_files(
    spark, base, tmp_path
):
    """Manifest paths are normalized absolute URIs (input_file_name);
    a caller may spell the same table path differently (doubled
    slashes here). The referenced-file comparison must identify them
    as the SAME files — a spelling mismatch would make every live file
    look unreferenced and vacuum would delete the table."""
    canonical = str(tmp_path / "t")
    SN.create_table(base, canonical, key="k")
    SN.merge_upsert(
        spark.createDataFrame([(10, -1)], "k long, v long"), canonical
    )
    sloppy = str(tmp_path) + "//t"
    stats = SN.vacuum(sloppy, keep_last=1)
    assert stats["files_removed"] == 1  # only v0's rewritten file
    assert SN.read_snapshot(spark, canonical).count() == 100


def test_create_rejects_relative_path(spark, base, tmp_path, monkeypatch):
    """Spark resolves relative paths against the JVM cwd, the manifest
    log against the Python cwd — the table would silently split in
    two, so relative paths are refused up front."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="absolute"):
        SN.create_table(base, "reltable", key="k")


def test_vacuum_age_guard_spares_fresh_inflight_commit_dir(
    spark, base, tmp_path
):
    """A writer creates its commit dir + _temporary/ BEFORE any part
    file opens; with a retention window that fresh, file-less dir must
    survive (the age guard applies to directories, not only files)."""
    import os

    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    inflight = os.path.join(path, "data", "inflight", "_temporary")
    os.makedirs(inflight)
    SN.vacuum(path, keep_last=1, min_age_seconds=3600)
    assert os.path.isdir(inflight)
    # without the window it is debris and goes
    SN.vacuum(path, keep_last=1)
    assert not os.path.exists(os.path.join(path, "data", "inflight"))


def test_append_schema_discipline_and_evolution(spark, base, tmp_path):
    """Exact-match by default; merge_schema=True allows additions only;
    dropping/retyping always refuses; pre-evolution files project the
    new column as NULL; time travel keeps the OLD schema."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    extra = spark.createDataFrame([(200, 1, "web")], "k long, v long, ch string")
    with pytest.raises(ValueError, match="merge_schema"):
        SN.append(extra, path)
    with pytest.raises(ValueError, match="additive"):
        SN.append(spark.createDataFrame([(1,)], "k long"), path,
                  merge_schema=True)
    v = SN.append(extra, path, merge_schema=True)
    assert v == 1
    latest = SN.read_snapshot(spark, path)
    assert latest.columns == ["k", "v", "ch"]
    # evolved column must be nullable in the manifest, whatever the
    # appended frame claimed (lit() columns come in non-nullable)
    assert latest.schema["ch"].nullable
    got = {r["k"]: r["ch"] for r in latest.collect()}
    assert got[200] == "web" and got[0] is None and len(got) == 101
    # v0 still reads with its ORIGINAL 2-column schema
    assert SN.read_snapshot(spark, path, version=0).columns == ["k", "v"]


def test_merge_respects_evolved_schema(spark, base, tmp_path):
    """After evolution, merges must carry the FULL evolved schema (a
    short-schema merge is refused loudly), and rewriting a
    pre-evolution file projects NULL for the evolved column of its
    untouched rows."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.append(
        spark.createDataFrame([(200, 1, "web")], "k long, v long, ch string"),
        path,
        merge_schema=True,
    )
    with pytest.raises(ValueError, match="schema"):
        SN.merge_upsert(
            spark.createDataFrame([(10, -1)], "k long, v long"), path
        )
    SN.merge_upsert(
        spark.createDataFrame([(10, -1, "app")], "k long, v long, ch string"),
        path,
    )
    got = {r["k"]: (r["v"], r["ch"]) for r in SN.read_snapshot(spark, path).collect()}
    assert got[10] == (-1, "app")
    assert got[11] == (110, None)  # same file rewritten, NULL projected
    assert got[200] == (1, "web")


def test_merge_schema_evolution_under_merge(spark, base, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION (round 5): the upsert batch adds a
    column; carried-over files and surviving pre-evolution rows project
    NULL, updated/inserted rows carry the value, and the manifest
    schema evolves in the same commit."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    updates = spark.createDataFrame(
        [(10, -1, "a"), (200, -3, "b")], "k long, v long, tag string"
    )
    with pytest.raises(ValueError, match="merge_schema"):
        SN.merge_upsert(updates, path)
    v = SN.merge_upsert(updates, path, merge_schema=True)
    assert v == 1
    got = {r["k"]: (r["v"], r["tag"]) for r in
           SN.read_snapshot(spark, path).collect()}
    assert len(got) == 101
    assert got[10] == (-1, "a") and got[200] == (-3, "b")
    assert got[11] == (110, None)   # survivor in the rewritten file
    assert got[90] == (900, None)   # carried-over file, never rewritten
    # evolved column is nullable in the manifest whatever updates claim
    from alternating_least_squares_spark.sources.snapshot import (
        _manifest_schema, _read_manifest,
    )
    sch = _manifest_schema(_read_manifest(path, 1))
    assert [f.name for f in sch.fields] == ["k", "v", "tag"]
    assert sch["tag"].nullable
    # a later plain merge with the evolved schema needs no flag
    more = spark.createDataFrame([(11, -4, None)],
                                 "k long, v long, tag string")
    SN.merge_upsert(more, path)
    got2 = {r["k"]: (r["v"], r["tag"]) for r in
            SN.read_snapshot(spark, path).collect()}
    assert got2[11] == (-4, None) and got2[10] == (-1, "a")


def test_merge_schema_evolution_rejects_missing_or_retyped(spark, base, tmp_path):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    retyped = spark.createDataFrame([(1, "x")], "k long, v string")
    with pytest.raises(ValueError, match="additive"):
        SN.merge_upsert(retyped, path, merge_schema=True)
    missing = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="additive"):
        SN.merge_upsert(missing, path, merge_schema=True)


def test_diff_versions_change_feed(spark, base, tmp_path):
    """CDC diff (round 5): insert/update/delete classification over a
    create -> merge -> delete history, with _new payload columns."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")                      # v0: 0..99
    SN.merge_upsert(
        spark.createDataFrame([(10, -1), (200, -3)], "k long, v long"), path
    )                                                          # v1
    SN.delete_where(path, "k = 20", spark)                     # v2
    feed = {
        r["k"]: (r["change_type"], r["v_new"])
        for r in SN.diff_versions(spark, path, 0, 2).collect()
    }
    assert feed == {
        10: ("update", -1), 200: ("insert", -3), 20: ("delete", None)
    }
    # no-change diff is empty; bad version raises
    assert SN.diff_versions(spark, path, 2, 2).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="versions"):
        SN.diff_versions(spark, path, 0, 9)


def test_diff_versions_across_schema_evolution(spark, base, tmp_path):
    """Evolving a table must NOT make every row read as updated: a
    pre-evolution row whose values are unchanged (new column NULL on
    both sides) stays out of the feed."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.merge_upsert(
        spark.createDataFrame([(10, -1, "a")], "k long, v long, tag string"),
        path,
        merge_schema=True,
    )
    feed = {
        r["k"]: (r["change_type"], r["v_new"], r["tag_new"])
        for r in SN.diff_versions(spark, path, 0, 1).collect()
    }
    assert feed == {10: ("update", -1, "a")}


def test_delete_keys_prunes_and_never_collects(spark, base, tmp_path):
    """delete_keys: distributed key-set delete with the merge-style
    file pruning (non-overlapping files carry over by reference)."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")  # 4 files: 0-24/25-49/50-74/75-99
    keys = spark.createDataFrame([(10,), (11,), (None,)], "k long")
    v = SN.delete_keys(path, keys)
    assert v == 1
    got = {r["k"] for r in SN.read_snapshot(spark, path).collect()}
    assert got == set(range(100)) - {10, 11}
    assert SN.history(path)[-1]["operation"] == "delete"
    from alternating_least_squares_spark.sources.snapshot import _read_manifest
    m = _read_manifest(path, 1)
    assert m["pruning"] == {"rewritten": 1, "carried": 3}
    # empty key set = no-op version; wrong column loud
    v2 = SN.delete_keys(path, spark.createDataFrame([], "k long"))
    assert SN.read_snapshot(spark, path).count() == 98 and v2 == 2
    import pytest as _pytest
    with _pytest.raises(ValueError, match="table key"):
        SN.delete_keys(path, spark.createDataFrame([(1,)], "wrong long"))


def test_tag_lifecycle_and_validation(spark, base, tmp_path):
    """Tags: create-once named refs — default to latest, resolve by
    name, reject retags, unsafe names, and unknown versions."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.append(base.filter(F.col("k") < 10), path)
    assert SN.create_tag(path, "v0-baseline", version=0) == 0
    assert SN.create_tag(path, "latest.rel") == 1  # defaults to latest
    assert SN.list_tags(path) == {"v0-baseline": 0, "latest.rel": 1}
    got = {(r["k"], r["v"])
           for r in SN.read_tag(spark, path, "v0-baseline").collect()}
    assert got == {(i, i * 10) for i in range(100)}
    with pytest.raises(FileExistsError):
        SN.create_tag(path, "v0-baseline", version=1)  # immutable
    with pytest.raises(ValueError, match="filesystem-safe"):
        SN.create_tag(path, "bad/name")
    with pytest.raises(ValueError, match="filesystem-safe"):
        SN.create_tag(path, "caf\u00e9")  # isalnum() would pass this
    with pytest.raises(ValueError, match="cannot tag"):
        SN.create_tag(path, "ghost", version=99)
    with pytest.raises(KeyError):
        SN.read_tag(spark, path, "nope")


def test_tag_publish_linkless_fallback_and_tmp_debris_sweep(
    spark, base, tmp_path, monkeypatch
):
    """ADVICE r12 + r13: the publish is write-tmp-then-hard-link. On
    mounts where os.link is unsupported (some NFS/object-store/FAT:
    OSError, NOT FileExistsError) create_tag must fall back to an
    'x'-mode copy of the fsynced bytes — same one-winner contract —
    instead of surfacing a confusing OSError. Crash-orphaned
    ``.{name}.*.tmp`` debris is ignored by list_tags and swept by
    vacuum once aged."""
    import os

    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")

    calls = {"n": 0}

    def linkless(src, dst, **kw):
        calls["n"] += 1
        raise OSError(38, "Function not implemented")  # ENOSYS

    monkeypatch.setattr(os, "link", linkless)
    # fallback publishes a complete, readable ref despite the failure
    assert SN.create_tag(path, "rel1") == 0
    assert calls["n"] == 1
    assert SN.list_tags(path) == {"rel1": 0}
    refs_dir = os.path.join(path, "_refs")
    assert [f for f in os.listdir(refs_dir) if f.endswith(".json")] == [
        "rel1.json"
    ]
    # one-winner holds on the fallback path too
    with pytest.raises(FileExistsError):
        SN.create_tag(path, "rel1", version=0)
    monkeypatch.undo()
    # leftover tmp debris (hard kill between fsync and unlink) never
    # breaks list_tags, and vacuum sweeps it once aged
    debris = os.path.join(refs_dir, ".rel9.999.tmp")
    with open(debris, "w") as fh:
        fh.write('{"name": "rel9"')  # truncated on purpose
    assert SN.list_tags(path) == {"rel1": 0}
    guarded = SN.vacuum(path, keep_last=1, min_age_seconds=3600)
    assert guarded["ref_tmp_removed"] == 0 and os.path.exists(debris)
    swept = SN.vacuum(path, keep_last=1)
    assert swept["ref_tmp_removed"] == 1 and not os.path.exists(debris)
    assert SN.list_tags(path) == {"rel1": 0}


def test_create_tag_concurrent_same_name_one_winner(spark, base, tmp_path):
    """Self-review r13: two threads in one process racing the same
    tag name must produce exactly one complete ref and one loud
    FileExistsError — never a truncated ref (a pid-derived tmp name
    both racers would share; mkstemp gives each its own file, so the
    outcome is deterministic under ANY interleaving)."""
    import threading

    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    results = []
    barrier = threading.Barrier(2)

    def worker():
        barrier.wait()
        try:
            SN.create_tag(path, "rel1")
            results.append("ok")
        except FileExistsError:
            results.append("exists")

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(results) == ["exists", "ok"]
    assert SN.list_tags(path) == {"rel1": 0}  # complete, readable ref


def test_vacuum_pins_tagged_versions(spark, base, tmp_path):
    """vacuum(keep_last=1) must expire untagged history but keep every
    TAGGED manifest and its files readable — the Iceberg
    expire_snapshots-respects-refs contract."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")                      # v0
    SN.create_tag(path, "baseline")                           # pins v0
    SN.merge_upsert(
        base.select("k", (F.col("v") + 1).alias("v")), path
    )                                                         # v1
    SN.append(base.filter(F.col("k") >= 95), path)            # v2
    res = SN.vacuum(path, keep_last=1)
    # v1 (untagged, not latest) expired; v0 pinned; v2 kept
    assert res["versions_removed"] == 1
    assert res["versions_kept"] == 2  # v0 (pinned) + v2 (latest)
    got = {(r["k"], r["v"])
           for r in SN.read_tag(spark, path, "baseline").collect()}
    assert got == {(i, i * 10) for i in range(100)}
    with pytest.raises(ValueError, match="not in"):
        SN.read_snapshot(spark, path, version=1)


def test_restore_is_a_forward_commit_sharing_files(spark, base, tmp_path):
    """RESTORE commits a NEW version whose file entries are v0's BY
    REFERENCE: no data file is written, history stays append-only
    (the in-between version still time-travels), and the head reads
    exactly the restored content."""
    import os

    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.merge_upsert(
        spark.createDataFrame([(10, -1), (200, -2)], "k long, v long"),
        path,
    )

    def data_files():
        out = set()
        for root, _, names in os.walk(os.path.join(path, "_data")):
            out |= {
                os.path.join(root, n)
                for n in names
                if n.endswith(".parquet")
            }
        return out

    before = data_files()
    v = SN.restore(path, 0)
    assert v == 2
    assert data_files() == before  # nothing written, shared by ref
    m0, m2 = SN._read_manifest(path, 0), SN._read_manifest(path, 2)
    assert m2["files"] == m0["files"]
    assert m2["operation"] == "restore" and m2["restored_from"] == 0
    # head == v0; v1 still time-travels until vacuum expires it
    got = {r["k"]: r["v"] for r in SN.read_snapshot(spark, path).collect()}
    assert got == {i: i * 10 for i in range(100)}
    v1 = {r["k"]: r["v"] for r in SN.read_snapshot(spark, path, 1).collect()}
    assert v1[10] == -1 and v1[200] == -2
    assert [h["operation"] for h in SN.history(path)] == [
        "create", "merge", "restore",
    ]


def test_vacuum_after_restore_keeps_restored_files(spark, base, tmp_path):
    """vacuum(keep_last=1) after a restore reclaims files only the
    rolled-back versions wrote, but the restored head's (= v0's)
    files survive because the head references them."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.merge_upsert(
        spark.createDataFrame([(10, -1), (200, -2)], "k long, v long"),
        path,
    )
    SN.restore(path, 0)
    stats = SN.vacuum(path, keep_last=1)
    # v1's rewritten 0-24 file + its 200-insert file are unreferenced
    assert stats["files_removed"] >= 1 and stats["versions_removed"] == 2
    got = {r["k"]: r["v"] for r in SN.read_snapshot(spark, path).collect()}
    assert got == {i: i * 10 for i in range(100)}


def test_restore_of_expired_version_fails_loudly(spark, base, tmp_path):
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.merge_upsert(
        spark.createDataFrame([(10, -1)], "k long, v long"), path
    )
    SN.vacuum(path, keep_last=1)  # expires v0
    with pytest.raises(FileNotFoundError, match="vacuum-expired"):
        SN.restore(path, 0)
    # restoring the current head is ALLOWED (audit re-assert)
    v = SN.restore(path, 1)
    assert v == 2
    assert SN._read_manifest(path, 2)["restored_from"] == 1


def test_restore_preserves_caller_manifest_metadata(spark, base, tmp_path):
    """RESTORE must carry the target manifest's caller metadata (the
    create_table ``extra`` contract, and the streaming sink's
    batch_id redelivery guard) — a restore that dropped batch_id
    would disarm at-least-once dedupe on the next restart."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k", extra={"batch_id": 7})
    SN.merge_upsert(
        spark.createDataFrame([(10, -1)], "k long, v long"), path
    )
    SN.restore(path, 0)
    m = SN._read_manifest(path, 2)
    assert m["batch_id"] == 7
    assert m["operation"] == "restore" and m["restored_from"] == 0


def _rows(spark, path, version=None):
    return {
        (r["k"], r["v"])
        for r in SN.read_snapshot(spark, path, version=version).collect()
    }


def test_dv_delete_is_merge_on_read_and_time_travels(spark, base, tmp_path):
    """delete_where_dv must carry every data file by reference and
    commit only a position sidecar; reads of the new version see the
    delete, reads of every OLD version do not (time travel across DV
    commits), and a second DV delete accumulates without re-recording
    already-deleted positions."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    all_rows = {(i, i * 10) for i in range(100)}

    v1 = SN.delete_where_dv(path, "k % 10 = 3", spark)
    m0 = SN._read_manifest(path, 0)
    m1 = SN._read_manifest(path, v1)
    assert [f["path"] for f in m1["files"]] == [
        f["path"] for f in m0["files"]
    ]  # merge-on-read: zero data files rewritten
    assert len(m1["dvs"]) == 1 and m1["dvs"][0]["rows"] == 10
    assert _rows(spark, path) == {
        (k, v) for k, v in all_rows if k % 10 != 3
    }
    assert _rows(spark, path, version=0) == all_rows  # time travel

    v2 = SN.delete_where_dv(path, "k % 5 = 3", spark)  # overlaps v1's set
    m2 = SN._read_manifest(path, v2)
    assert [f["path"] for f in m2["files"]] == [
        f["path"] for f in m0["files"]
    ]
    # k%5==3 matches 20 keys, but the 10 with k%10==3 are already
    # deleted and must NOT be re-recorded
    assert [dv["rows"] for dv in m2["dvs"]] == [10, 10]
    assert _rows(spark, path) == {
        (k, v) for k, v in all_rows if k % 10 != 3 and k % 5 != 3
    }
    assert _rows(spark, path, version=v1) == {
        (k, v) for k, v in all_rows if k % 10 != 3
    }
    assert _rows(spark, path, version=0) == all_rows
    h = SN.history(path)
    assert [x["rows_deleted"] for x in h] == [0, 10, 20]
    assert h[-1]["operation"] == "delete_dv"

    # a no-match predicate commits a clean no-op version
    v3 = SN.delete_where_dv(path, "k > 1000000", spark)
    m3 = SN._read_manifest(path, v3)
    assert [dv["rows"] for dv in m3["dvs"]] == [10, 10]
    assert _rows(spark, path) == _rows(spark, path, version=v2)


def test_dv_folding_compaction_and_vacuum_of_sidecars(
    spark, base, tmp_path
):
    """cluster_optimize folds deletion vectors into the rewritten data
    files (the new manifest has no dvs and reads identically), after
    which vacuum reclaims the superseded sidecars from disk — while a
    vacuum that RETAINS a DV version must keep its sidecars alive."""
    import os

    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.delete_where_dv(path, "k % 10 = 3", spark)
    live = {(k, k * 10) for k in range(100) if k % 10 != 3}
    m1 = SN._read_manifest(path, 1)
    sidecars = [p for dv in m1["dvs"] for p in dv["paths"]]
    assert sidecars and all(os.path.exists(p) for p in sidecars)

    # retaining the DV version keeps its sidecars on disk
    SN.vacuum(path, keep_last=2)
    assert all(os.path.exists(p) for p in sidecars)
    assert _rows(spark, path) == live

    stats = SN.cluster_optimize(spark, path, 4)
    m2 = SN._read_manifest(path, stats["version"])
    assert not m2.get("dvs") and m2["dvs_folded"] == 10
    assert stats["rows"] == len(live)  # folded: physical rows shrank
    assert _rows(spark, path) == live

    # now nothing references the sidecars — vacuum reclaims them
    SN.vacuum(path, keep_last=1)
    assert not any(os.path.exists(p) for p in sidecars)
    assert _rows(spark, path) == live


def test_cow_rewrites_never_resurrect_dv_deleted_rows(
    spark, base, tmp_path
):
    """merge_upsert / delete_keys / delete_where after a DV delete:
    the copy-on-write rewrite of a touched file must apply the DVs
    first — a raw rewrite would fold the deleted rows back in."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.delete_where_dv(path, "k % 10 = 3", spark)

    # upsert touches the file holding k=0..24 (contains deleted 3, 13, 23)
    SN.merge_upsert(
        spark.createDataFrame([(10, -1)], "k long, v long"), path
    )
    got = _rows(spark, path)
    assert (10, -1) in got
    assert not any(k % 10 == 3 for k, _ in got)

    # delete_keys rewrite of the same region
    SN.delete_keys(
        path, spark.createDataFrame([(11,)], "k long")
    )
    got = _rows(spark, path)
    assert (11, 110) not in got
    assert not any(k % 10 == 3 for k, _ in got)

    # predicate delete: hit detection and rewrite both DV-aware —
    # k=3 is already DV-deleted, so "k = 3 OR k = 50" must rewrite
    # only the file holding 50
    v = SN.delete_where(path, "k = 3 OR k = 50", spark)
    m = SN._read_manifest(path, v)
    assert m["pruning"]["rewritten"] == 1
    got = _rows(spark, path)
    assert (50, 500) not in got
    assert not any(k % 10 == 3 for k, _ in got)


def test_read_key_range_applies_deletion_vectors(spark, base, tmp_path):
    """Review r16: the manifest-pruned range scan must anti-join DVs
    exactly like read_snapshot — a range read that skipped them would
    resurrect merge-on-read deletes."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.delete_where_dv(path, "k = 5", spark)
    df, files_read, files_total = SN.read_key_range(spark, path, 0, 10)
    got = {(r["k"], r["v"]) for r in df.collect()}
    assert got == {(k, k * 10) for k in range(11) if k != 5}
    assert files_read == 1 and files_total == 4  # pruning still real
    # time-travel range read on v0 still sees the row
    df0, _, _ = SN.read_key_range(spark, path, 0, 10, version=0)
    assert (5, 50) in {(r["k"], r["v"]) for r in df0.collect()}


def test_rewrites_prune_fully_folded_dv_entries(spark, base, tmp_path):
    """Review r16: a copy-on-write rewrite folds DVs for the files it
    replaces — a carried DV entry whose covered files ALL got
    rewritten must be dropped from the manifest (else sidecars and
    rows_deleted accumulate forever), while an entry still covering a
    surviving file is kept."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.delete_where_dv(path, "k = 5", spark)      # covers file 0-24 only
    SN.delete_where_dv(path, "k = 80", spark)     # covers file 75-99 only
    # rewrite ONLY the first file: k=5's entry folds away, k=80's stays
    v = SN.merge_upsert(
        spark.createDataFrame([(10, -1)], "k long, v long"), path
    )
    m = SN._read_manifest(path, v)
    assert [dv["rows"] for dv in m["dvs"]] == [1]  # only k=80's entry
    got = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, path).collect()}
    assert (5, 50) not in got and (80, 800) not in got and (10, -1) in got
    h = SN.history(path)
    assert h[-1]["rows_deleted"] == 1


def test_vacuum_sweeps_emptied_dv_commit_dirs(spark, base, tmp_path):
    """Review r16: after folding + vacuum reclaim the sidecar
    parquets, the dv/ commit directory holds only _SUCCESS/.crc
    debris and must be swept like any emptied data commit dir."""
    import os

    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.delete_where_dv(path, "k % 10 = 3", spark)
    m1 = SN._read_manifest(path, 1)
    dv_commit_dirs = {
        os.path.dirname(os.path.dirname(p))
        for dv in m1["dvs"]
        for p in dv["paths"]
    }
    assert all(os.path.isdir(d) for d in dv_commit_dirs)
    SN.cluster_optimize(spark, path, 4)
    SN.vacuum(path, keep_last=1)
    assert not any(os.path.exists(d) for d in dv_commit_dirs)
    live = {(k, k * 10) for k in range(100) if k % 10 != 3}
    assert {(r["k"], r["v"])
            for r in SN.read_snapshot(spark, path).collect()} == live


def test_change_feed_sees_dv_deletes(spark, base, tmp_path):
    """CDC × DV composition: diff_versions across a delete_dv commit
    classifies the DV-deleted keys as deletes (the feed reads through
    read_snapshot, so merge-on-read deletes are first-class changes —
    Delta CDF-with-DV semantics)."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    v1 = SN.delete_where_dv(path, "k % 25 = 7", spark)
    feed = {
        (r["k"], r["change_type"])
        for r in SN.diff_versions(spark, path, 0, v1).collect()
    }
    assert feed == {(k, "delete") for k in range(100) if k % 25 == 7}


def test_restore_to_dv_version_keeps_sidecars_through_vacuum(
    spark, base, tmp_path
):
    """RESTORE carries the target's dvs by reference; vacuum must
    treat the restored head's sidecars as referenced — reclaiming
    them would resurrect the deleted rows."""
    import os

    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    v1 = SN.delete_where_dv(path, "k % 10 = 3", spark)
    live = {(k, k * 10) for k in range(100) if k % 10 != 3}
    SN.cluster_optimize(spark, path, 4)          # v2: DVs folded
    SN.restore(path, v1)                         # v3: head back on DVs
    sidecars = [
        p
        for dv in SN._read_manifest(path, v1)["dvs"]
        for p in dv["paths"]
    ]
    SN.vacuum(path, keep_last=1)                 # expires v0-v2
    assert all(os.path.exists(p) for p in sidecars)
    assert {(r["k"], r["v"])
            for r in SN.read_snapshot(spark, path).collect()} == live


def test_dv_delete_keys_merge_on_read_semantics(spark, base, tmp_path):
    """delete_keys_dv: key-set merge-on-read delete carries every
    data file by reference, ignores NULL keys, treats absent keys as
    no-ops (including a miss-everything set → clean no-op version),
    never re-records positions a prior DV already deleted, and
    composes with delete_where_dv."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.delete_where_dv(path, "k = 30", spark)  # prior DV commit

    keys = spark.createDataFrame(
        [(10,), (30,), (None,), (5000,)], "k long"
    )  # 30 already deleted, NULL ignored, 5000 absent
    v2 = SN.delete_keys_dv(path, keys)
    m0 = SN._read_manifest(path, 0)
    m2 = SN._read_manifest(path, v2)
    assert [f["path"] for f in m2["files"]] == [
        f["path"] for f in m0["files"]
    ]
    assert [dv["rows"] for dv in m2["dvs"]] == [1, 1]  # only k=10 new
    got = {(r["k"], r["v"])
           for r in SN.read_snapshot(spark, path).collect()}
    assert got == {(k, k * 10) for k in range(100) if k not in (10, 30)}

    # miss-everything key set: clean no-op version, same dvs
    v3 = SN.delete_keys_dv(
        path, spark.createDataFrame([(7777,)], "k long")
    )
    m3 = SN._read_manifest(path, v3)
    assert [dv["rows"] for dv in m3["dvs"]] == [1, 1]
    assert {(r["k"], r["v"])
            for r in SN.read_snapshot(spark, path).collect()} == got

    # missing key column refuses loudly
    with pytest.raises(ValueError, match="key frame must carry"):
        SN.delete_keys_dv(
            path, spark.createDataFrame([(1,)], "wrong long")
        )


def test_delete_where_on_empty_table_is_a_clean_noop(spark, base, tmp_path):
    """Review r16: a predicate delete against a legitimately-empty
    table (delete-all earlier) commits a no-op version instead of
    crashing on an empty scan."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.delete_where(path, "k >= 0", spark)        # delete-all
    assert SN.read_snapshot(spark, path).count() == 0
    v = SN.delete_where(path, "k = 1", spark)     # no-op on empty
    m = SN._read_manifest(path, v)
    assert m["files"] == [] and m["operation"] == "delete"
    assert SN.read_snapshot(spark, path).count() == 0


from hypothesis import given, settings
from hypothesis import strategies as hst

# a bounded random program over the table's whole mutation surface:
# each step is (op, param); params are kept tiny so a 5-example run
# stays in test-suite budget while still interleaving COW rewrites,
# MOR deletes, folding, and vacuum in orders no hand-written test
# would think to try
_ops = hst.lists(
    hst.one_of(
        hst.tuples(hst.just("upsert"),
                   hst.sets(hst.integers(0, 119), min_size=1, max_size=4)),
        hst.tuples(hst.just("delete_keys"),
                   hst.sets(hst.integers(0, 119), min_size=1, max_size=4)),
        hst.tuples(hst.just("delete_keys_dv"),
                   hst.sets(hst.integers(0, 119), min_size=1, max_size=4)),
        hst.tuples(hst.just("delete_where"), hst.integers(2, 9)),
        hst.tuples(hst.just("delete_where_dv"), hst.integers(2, 9)),
        hst.tuples(hst.just("optimize"), hst.integers(1, 4)),
        hst.tuples(hst.just("vacuum"), hst.just(None)),
    ),
    min_size=2,
    max_size=6,
)


@settings(max_examples=5, deadline=None)
@given(ops=_ops)
def test_snapshot_state_machine_matches_dict_model(
    spark, tmp_path_factory, ops
):
    """Property test of the whole mutation surface: a random program
    of upserts, COW deletes (predicate + key set), MOR deletes
    (predicate + key set), clustered rewrites, and vacuums must leave
    every surviving VERSION equal to a plain Python dict model
    replayed to the same step — time travel included (vacuum prunes
    history, so only retained versions are compared). This is the
    interleaving coverage hand-written tests can't enumerate: DV
    commits folded by optimize, COW rewrites over live DVs, vacuum
    between any two."""
    path = str(tmp_path_factory.mktemp("sm") / "t")
    base = spark.createDataFrame(
        [(k, k * 10) for k in range(100)], "k long, v long"
    ).repartitionByRange(4, "k")
    SN.create_table(base, path, key="k")
    model = {k: k * 10 for k in range(100)}
    history = {0: dict(model)}  # version -> model state

    for op, arg in ops:
        if op == "upsert":
            updates = [(k, k + 1000) for k in sorted(arg)]
            v = SN.merge_upsert(
                spark.createDataFrame(updates, "k long, v long"), path
            )
            model.update(dict(updates))
        elif op == "delete_keys":
            v = SN.delete_keys(
                path,
                spark.createDataFrame(
                    [(k,) for k in sorted(arg)], "k long"
                ),
            )
            for k in arg:
                model.pop(k, None)
        elif op == "delete_keys_dv":
            v = SN.delete_keys_dv(
                path,
                spark.createDataFrame(
                    [(k,) for k in sorted(arg)], "k long"
                ),
            )
            for k in arg:
                model.pop(k, None)
        elif op == "delete_where":
            v = SN.delete_where(path, f"k % {arg} = 1", spark)
            model = {k: x for k, x in model.items() if k % arg != 1}
        elif op == "delete_where_dv":
            v = SN.delete_where_dv(path, f"k % {arg} = 1", spark)
            model = {k: x for k, x in model.items() if k % arg != 1}
        elif op == "optimize":
            v = SN.cluster_optimize(spark, path, arg)["version"]
        else:  # vacuum: prunes history, head keeps reading
            SN.vacuum(path, keep_last=1)
            latest = SN._list_versions(path)[-1]
            history = {latest: history[latest]}
            v = latest
        history[v] = dict(model)

    for v, want in history.items():
        got = {
            (r["k"], r["v"])
            for r in SN.read_snapshot(spark, path, version=v).collect()
        }
        assert got == set(want.items()), f"version {v} diverged"


def test_reserved_working_cols_rejected_on_dv_paths(spark, tmp_path):
    """ADVICE r16: the DV paths stage position columns named
    ``__fp``/``__ri`` via withColumn, which would silently overwrite
    and then DROP a real table column of either name on every
    DV-applied read (data loss on read). The write path now refuses
    such tables outright (see
    test_working_cols_rejected_at_write_time), so the read-side
    guards are the BELT for tables created before the write-time
    check existed — exercised directly against _apply_dvs and through
    delete_where_dv on a hand-planted legacy manifest."""
    for col in ("__fp", "__ri"):
        df = spark.range(10).select(
            F.col("id").alias("k"), F.col("id").alias(col)
        )
        with pytest.raises(ValueError, match="reserved working"):
            SN._apply_dvs(
                spark, df, [{"paths": ["/nonexistent.parquet"], "rows": 1}]
            )
    # legacy table planted by writing parquet + manifest directly
    # (bypassing the new write-time guard, as a pre-guard table would)
    import json
    import os

    path = str(tmp_path / "legacy")
    df = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").alias("__fp")
    )
    data_dir = os.path.join(path, "data", "d0")
    df.write.parquet(data_dir)
    files = [
        {"path": os.path.join(data_dir, f), "rows": 10,
         "min_key": 0, "max_key": 9}
        for f in os.listdir(data_dir) if f.endswith(".parquet")
    ]
    os.makedirs(os.path.join(path, "_log"))
    with open(os.path.join(path, "_log", "0.json"), "w") as fh:
        json.dump({"version": 0, "operation": "create", "key": "k",
                   "schema": df.schema.json(), "files": files}, fh)
    # non-DV reads still work on the legacy table
    assert SN.read_snapshot(spark, path).columns == ["k", "__fp"]
    # the MOR delete must refuse before staging working columns
    with pytest.raises(ValueError, match="reserved working"):
        SN.delete_where_dv(path, "k < 3", spark)


def test_update_where_dv_equals_cow_merge_upsert(spark, base, tmp_path):
    """The VERDICT r16 #3 equivalence: read-after-MOR-update equals
    what copy-on-write merge_upsert of the corrected rows produces on
    the same batch — and the update commit carried every data file by
    reference, appending only the corrections."""
    mor, cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    SN.create_table(base, mor, key="k")
    SN.create_table(base, cow, key="k")
    files0 = [f["path"] for f in SN._read_manifest(mor, 0)["files"]]

    v = SN.update_where_dv(mor, "k % 10 = 3", {"v": "v + 1000"}, spark)
    corrected = SN.read_snapshot(spark, cow).filter("k % 10 = 3").selectExpr(
        "k", "v + 1000 AS v"
    )
    SN.merge_upsert(corrected, cow)

    got = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, mor).collect()}
    want = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, cow).collect()}
    assert got == want and len(got) == 100
    m = SN._read_manifest(mor, v)
    fl = [f["path"] for f in m["files"]]
    assert fl[: len(files0)] == files0 and len(fl) > len(files0)
    assert m["operation"] == "update_dv" and m["dvs"][-1]["rows"] == 10
    # time travel: v0 still shows the pre-update image
    v0 = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, mor, version=0).collect()}
    assert v0 == {(i, i * 10) for i in range(100)}


def test_update_dv_cdc_classifies_as_update(spark, base, tmp_path):
    """CDC across a DV-update commit reports the changed keys as
    'update' — not delete+insert — because diff_versions runs over
    DV-applied reads (the VERDICT r16 #3 interplay pin)."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.update_where_dv(path, "k < 5", {"v": "v + 7"}, spark)
    d = SN.diff_versions(spark, path, 0, 1)
    rows = {(r["k"], r["change_type"], r["v_new"]) for r in d.collect()}
    assert rows == {(i, "update", i * 10 + 7) for i in range(5)}


def test_update_dv_fold_and_second_update_hits_corrections(spark, base, tmp_path):
    """cluster_optimize folds BOTH the DV and the appended correction
    (manifest dvs reset, read unchanged); and a second update whose
    predicate matches already-corrected rows DVs positions inside the
    first update's appended file — update-over-update through the
    sidecar machinery."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    SN.update_where_dv(path, "k = 7", {"v": "1000000"}, spark)
    # second update matches ONLY the corrected row's new image
    SN.update_where_dv(path, "v = 1000000", {"v": "v + 1"}, spark)
    live = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, path).collect()}
    assert (7, 1000001) in live and len(live) == 100
    res = SN.cluster_optimize(spark, path, 2)
    m = SN._read_manifest(path, res["version"])
    assert not m.get("dvs")
    folded = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, path).collect()}
    assert folded == live


def test_update_dv_guards_and_noop(spark, base, tmp_path):
    """Loud contracts: empty/unknown/key/retyping assignments raise;
    a no-match predicate commits a no-op version (deterministic
    version contract); NULL predicate keeps rows untouched."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    with pytest.raises(ValueError, match="non-empty"):
        SN.update_where_dv(path, "k = 1", {}, spark)
    with pytest.raises(ValueError, match="unknown column"):
        SN.update_where_dv(path, "k = 1", {"nope": "1"}, spark)
    with pytest.raises(ValueError, match="cannot be assigned"):
        SN.update_where_dv(path, "k = 1", {"k": "k + 1"}, spark)
    with pytest.raises(ValueError, match="retypes"):
        SN.update_where_dv(path, "k = 1", {"v": "'text'"}, spark)
    # failed attempts must not have committed anything
    assert SN._list_versions(path) == [0]
    v = SN.update_where_dv(path, "k = -1", {"v": "v + 1"}, spark)
    assert v == 1
    m = SN._read_manifest(path, 1)
    assert not m.get("dvs") and len(m["files"]) == len(
        SN._read_manifest(path, 0)["files"]
    )
    # NULL predicate (NULL v) keeps the row: plant a NULL-v row first
    from pyspark.sql import types as T  # noqa: F401

    SN.append(
        base.sparkSession.createDataFrame([(200, None)], "k long, v long"),
        path,
    )
    SN.update_where_dv(path, "v < 0", {"v": "0"}, spark)
    live = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, path).collect()}
    assert (200, None) in live and len(live) == 101


def test_extra_cannot_clobber_reserved_manifest_keys(spark, base, tmp_path):
    """Review r17: the extra manifest hook must refuse reserved keys —
    extra={'files': []} would commit an empty file list and silently
    empty the table on every later read."""
    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="reserved manifest"):
        SN.create_table(base, path, key="k", extra={"files": []})
    SN.create_table(base, path, key="k")
    for bad in ({"dvs": []}, {"schema": "x"}, {"version": 99}):
        with pytest.raises(ValueError, match="reserved manifest"):
            SN.append(base.limit(1), path, extra=bad)
        with pytest.raises(ValueError, match="reserved manifest"):
            SN.merge_upsert(base.limit(1), path, extra=bad)
        with pytest.raises(ValueError, match="reserved manifest"):
            SN.delete_keys_dv(
                path, base.select("k").limit(1), extra=bad
            )
    # benign ledger keys still pass through
    v = SN.append(base.limit(1).selectExpr("k + 1000 AS k", "v"), path,
                  extra={"batch_id": 7})
    assert SN._read_manifest(path, v)["batch_id"] == 7


def test_working_cols_rejected_at_write_time(spark, tmp_path):
    """Review r17: __fp/__ri are refused where the mistake is MADE
    (create_table/append/merge_upsert), not months later on the first
    DV commit."""
    bad = spark.range(5).select(
        F.col("id").alias("k"), F.col("id").alias("__fp")
    )
    with pytest.raises(ValueError, match="reserved working"):
        SN.create_table(bad, str(tmp_path / "a"), key="k")
    path = str(tmp_path / "b")
    SN.create_table(
        spark.range(5).select(F.col("id").alias("k"),
                              F.col("id").alias("v")),
        path, key="k",
    )
    bad2 = spark.range(5).select(
        F.col("id").alias("k"), F.col("id").alias("v"),
        F.col("id").alias("__ri"),
    )
    with pytest.raises(ValueError, match="reserved working"):
        SN.append(bad2, path, merge_schema=True)
    with pytest.raises(ValueError, match="reserved working"):
        SN.merge_upsert(bad2, path, merge_schema=True)


def test_update_dv_validates_before_any_write(spark, base, tmp_path):
    """Review r17: assignment-type validation is data-INDEPENDENT (a
    no-match predicate raises on a retyping assignment exactly like a
    matching one) and runs BEFORE any sidecar write, so a failed
    update leaves neither a version nor orphan data files."""
    import glob
    import os

    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    files_before = set(glob.glob(os.path.join(path, "data", "**", "*"),
                                 recursive=True))
    with pytest.raises(ValueError, match="retypes"):
        SN.update_where_dv(path, "k = -999", {"v": "'text'"}, spark)
    assert SN._list_versions(path) == [0]
    files_after = set(glob.glob(os.path.join(path, "data", "**", "*"),
                                recursive=True))
    assert files_after == files_before  # no orphan sidecar/data files


def test_dv_mutations_extra_ledger_hook(spark, base, tmp_path):
    """ADVICE r18: update_where_dv / delete_where_dv expose the same
    ``extra`` manifest hook as create_table/append/merge_upsert/
    delete_keys_dv, so a streaming MOR-update sink can stamp a
    (feed, batch_id) ledger; reserved manifest keys stay rejected."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    v1 = SN.update_where_dv(
        path, "k % 10 = 3", {"v": "v + 1"}, spark,
        extra={"upd_feed": "f1", "upd_batch_id": 7},
    )
    m = SN._read_manifest(path, v1)
    assert m["upd_feed"] == "f1" and m["upd_batch_id"] == 7
    v2 = SN.delete_where_dv(
        path, "k % 10 = 4", spark, extra={"del_feed": "f1"}
    )
    assert SN._read_manifest(path, v2)["del_feed"] == "f1"
    for bad in (
        lambda: SN.update_where_dv(
            path, "k = 1", {"v": "v"}, spark, extra={"files": []}
        ),
        lambda: SN.delete_where_dv(
            path, "k = 1", spark, extra={"schema": "x"}
        ),
    ):
        with pytest.raises(ValueError, match="reserved manifest"):
            bad()


def test_dv_predicate_resolved_against_table_schema(spark, base, tmp_path):
    """ADVICE r18: a predicate naming the internal ``__fp``/``__ri``
    working columns (or any unknown column) must raise loudly instead
    of silently filtering on scan-internal metadata — and it must
    raise BEFORE any sidecar/commit lands (no orphaned version)."""
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    for pred in ("__fp IS NOT NULL", "__ri > 0", "no_such_col = 1"):
        with pytest.raises(AnalysisException):
            SN.delete_where_dv(path, pred, spark)
        with pytest.raises(AnalysisException):
            SN.update_where_dv(path, pred, {"v": "v + 1"}, spark)
    assert SN._list_versions(path) == [0]  # nothing committed
    # sane predicates still work against the real scan
    SN.delete_where_dv(path, "k = 1", spark)
    assert SN.read_snapshot(spark, path).filter("k = 1").count() == 0


def test_dv_debt_gauge_and_auto_fold(spark, base, tmp_path):
    """VERDICT r17 #5: the gauge is exact manifest arithmetic (no data
    scan), auto_fold declines at/below threshold and folds above it,
    and a fold resets the gauge to zero."""
    path = str(tmp_path / "t")
    SN.create_table(base, path, key="k")
    g0 = SN.dv_debt_gauge(path)
    assert g0 == {
        "version": 0, "file_rows": 100, "live_rows": 100,
        "dv_positions": 0, "debt_ppm": 0, "dv_commits": 0,
        "sidecar_files": 0,
    }
    import pyspark.sql.functions as F  # noqa: N812

    SN.delete_keys_dv(
        path, spark.range(10).select((F.col("id") * 10).alias("k"))
    )
    SN.update_where_dv(path, "k % 10 = 3", {"v": "v + 1"}, spark)
    g1 = SN.dv_debt_gauge(path)
    # 100 created + 10 update corrections appended; 10 deleted + 10
    # updated old images hidden
    assert g1["file_rows"] == 110
    assert g1["dv_positions"] == 20
    assert g1["live_rows"] == 90
    assert g1["debt_ppm"] == 20 * 1_000_000 // 110
    assert g1["dv_commits"] == 2 and g1["sidecar_files"] >= 2
    # gauge is pure metadata: historical versions gauge too
    assert SN.dv_debt_gauge(path, version=0)["dv_positions"] == 0
    # decline at threshold == debt (no version churn)
    before = SN._list_versions(path)
    assert SN.auto_fold(spark, path, g1["debt_ppm"], 4)["folded"] is False
    assert SN._list_versions(path) == before
    # fold just below it; gauge resets to zero and content survives
    res = SN.auto_fold(spark, path, g1["debt_ppm"] - 1, 4)
    assert res["folded"] is True
    g2 = SN.dv_debt_gauge(path)
    assert (g2["file_rows"], g2["live_rows"], g2["dv_positions"],
            g2["debt_ppm"], g2["dv_commits"]) == (90, 90, 0, 0, 0)
    got = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, path).collect()}
    want = {
        (k, k * 10 + (1 if k % 10 == 3 else 0))
        for k in range(100) if k % 10 != 0
    }
    assert got == want
    with pytest.raises(ValueError, match="threshold_ppm"):
        SN.auto_fold(spark, path, -1, 4)
