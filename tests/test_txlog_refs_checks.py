"""Named tags (Iceberg-style immutable refs) and CHECK constraints
(Delta's ALTER TABLE ADD CONSTRAINT surface) on the commit-log table.
Tags pin snapshots against vacuum retention; checks are enforced at the
single write chokepoint by one aggregate scan over the NEW files only —
O(batch) at any table size — and a rejected write leaves the table
byte-identical."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.txlog import (
    CheckViolation,
    TxLogTable,
    merge_into_txlog,
)


def _t(spark, tmp_path, rows=((1, 10.0), (2, 20.0))):
    return TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(list(rows), "k int, price double"),
    )


# ------------------------------------------------------------------ tags


def test_tag_read_and_immutability(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.tag("v1.0")
    t.append(spark.createDataFrame([(3, 30.0)], "k int, price double"))
    t.tag("after-append", version=t.version())
    assert t.tags() == {"v1.0": 0, "after-append": 1}
    assert {r.k for r in t.read_tag("v1.0").collect()} == {1, 2}
    assert {r.k for r in t.read_tag("after-append").collect()} == {1, 2, 3}
    with pytest.raises(FileExistsError):
        t.tag("v1.0", version=1)  # immutable: re-tag fails loudly
    with pytest.raises(ValueError):
        t.tag("nope", version=99)
    with pytest.raises(ValueError):
        t.tag("../escape")
    with pytest.raises(KeyError):
        t.read_tag("absent")
    t.drop_tag("after-append")
    assert t.tags() == {"v1.0": 0}


def test_tagged_version_survives_vacuum(spark, tmp_path):
    """The operational point of tags: retention must not eat a pinned
    snapshot. Same table, same vacuum call — files of the tagged version
    survive; after drop_tag they are collected."""
    t = _t(spark, tmp_path)
    t.tag("train-v1")
    # three rewrites push version 0 far outside retain_versions=1
    for i in range(3):
        t.optimize(target_files=1)
    t.vacuum(retain_versions=1)
    assert {r.k for r in t.read_tag("train-v1").collect()} == {1, 2}
    t.drop_tag("train-v1")
    deleted = t.vacuum(retain_versions=1)
    assert deleted, "untagging released the old files to retention"
    with pytest.raises(Exception):
        t.read_version(0).collect()  # past the horizon once unpinned


# ----------------------------------------------------------------- checks


def test_check_rejects_bad_append_atomically(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.add_check("price_pos", "price >= 0")
    v = t.version()
    files_before = sorted(
        f for f in os.listdir(t.path) if f.endswith(".parquet")
    )
    with pytest.raises(CheckViolation, match="price_pos"):
        t.append(spark.createDataFrame([(9, -1.0)], "k int, price double"))
    # nothing committed, no orphan data files
    assert t.version() == v
    assert sorted(
        f for f in os.listdir(t.path) if f.endswith(".parquet")
    ) == files_before
    assert {r.k for r in t.read().collect()} == {1, 2}
    # a good append still lands
    t.append(spark.createDataFrame([(3, 3.0)], "k int, price double"))
    assert {r.k for r in t.read().collect()} == {1, 2, 3}


def test_check_null_passes_false_violates(spark, tmp_path):
    # SQL CHECK semantics: NULL is not a violation
    t = _t(spark, tmp_path)
    t.add_check("price_pos", "price >= 0")
    t.append(
        spark.createDataFrame([(5, None)], "k int, price double")
    )  # NULL passes
    assert t.read().count() == 3


def test_check_enforced_on_update_and_merge(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.add_check("price_pos", "price >= 0")
    with pytest.raises(CheckViolation):
        t.update_where("k = 1", {"price": F.lit(-5.0)})
    assert t.read().filter("price < 0").count() == 0
    with pytest.raises(CheckViolation):
        merge_into_txlog(
            spark,
            t,
            spark.createDataFrame([(2, -9.0)], "k int, price double"),
            keys=["k"],
        )
    # valid DML still flows; delete/optimize (row-preserving) unaffected
    t.update_where("k = 1", {"price": F.lit(99.0)})
    t.delete_where("k = 2")
    t.optimize(target_files=1)
    assert {(r.k, r.price) for r in t.read().collect()} == {(1, 99.0)}


def test_add_check_validates_existing_rows(spark, tmp_path):
    t = _t(spark, tmp_path, rows=[(1, 10.0), (2, -1.0)])
    with pytest.raises(CheckViolation, match="existing rows"):
        t.add_check("price_pos", "price >= 0")
    assert t.checks() == {}


def test_drop_check_lifts_enforcement_and_time_travels(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.add_check("price_pos", "price >= 0")
    v_with = t.version()
    t.drop_check("price_pos")
    assert t.checks() == {}
    assert t.checks(as_of=v_with) == {"price_pos": "price >= 0"}
    t.append(spark.createDataFrame([(9, -1.0)], "k int, price double"))
    assert t.read().filter("price < 0").count() == 1
    with pytest.raises(KeyError):
        t.drop_check("absent")


def test_check_on_partition_column(spark, tmp_path):
    """Constraint referencing a partition column: the validation scan
    reattaches partition values under the RECORDED types (basePath +
    explicit schema, never inference)."""
    import datetime

    D = datetime.date
    df = spark.createDataFrame(
        [(1, D(2024, 1, 1)), (2, D(2024, 2, 1))], "k int, d date"
    )
    t = TxLogTable.create(
        spark, str(tmp_path / "pt"), df, partition_by=["d"]
    )
    t.add_check("recent", "d >= DATE'2024-01-01'")
    with pytest.raises(CheckViolation, match="recent"):
        t.append(
            spark.createDataFrame([(3, D(2023, 12, 31))], "k int, d date")
        )
    t.append(spark.createDataFrame([(3, D(2024, 3, 1))], "k int, d date"))
    assert t.read().count() == 3


def test_delta_export_mirrors_constraints(spark, tmp_path):
    """The exported _delta_log must carry active checks as the protocol's
    delta.constraints.* configuration, upgrading minWriterVersion to 3 in
    the same commit the first constraint lands (Delta requires writer v3
    to enforce constraints); a drop refreshes metaData without them."""
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )

    t = _t(spark, tmp_path)
    t.add_check("price_pos", "price >= 0")
    t.to_delta_log()
    dd = os.path.join(t.path, "_delta_log")
    st = _replay_delta_log(dd)
    assert st.metadata["configuration"] == {
        "delta.constraints.price_pos": "price >= 0"
    }
    assert st.protocol["minWriterVersion"] == 3
    # version 0 predates the constraint: its metaData has no constraints
    st0 = _replay_delta_log(dd, version=0)
    assert st0.metadata["configuration"] == {}
    assert st0.protocol["minWriterVersion"] == 2
    # drop + incremental re-export refreshes configuration
    t.drop_check("price_pos")
    t.to_delta_log()
    st2 = _replay_delta_log(dd)
    assert st2.metadata["configuration"] == {}


# ------------------------------------------------------------- add_column


def test_add_column_metadata_only_evolution(spark, tmp_path):
    """ALTER TABLE ADD COLUMN: zero data rewritten — pre-evolution files
    null-fill at read; time travel before the commit shows no column;
    appends in the OLD shape keep working (null-fill); the Delta export
    refreshes metaData exactly at the evolution commit."""
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )

    t = _t(spark, tmp_path)
    files_before = set(t.files())
    v = t.add_column("discount", "double")
    assert set(t.files()) == files_before, "metadata-only: no data rewrite"
    assert dict(t.read().dtypes)["discount"] == "double"
    assert t.read().filter("discount IS NULL").count() == 2
    assert "discount" not in t.read_version(v - 1).columns  # exact time travel
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("discount", "double")
    # old-shape producer still appends (null-fill); new shape lands typed
    t.append(spark.createDataFrame([(3, 30.0)], "k int, price double"))
    t.append(
        spark.createDataFrame(
            [(4, 40.0, 0.1)], "k int, price double, discount double"
        )
    )
    got = {(r.k, r.discount) for r in t.read().collect()}
    assert got == {(1, None), (2, None), (3, None), (4, 0.1)}
    # Delta export: metaData refresh lands ON the evolution commit
    t.to_delta_log()
    dd = os.path.join(t.path, "_delta_log")
    st_before = _replay_delta_log(dd, version=v - 1)
    st_at = _replay_delta_log(dd, version=v)
    assert "discount" not in st_before.metadata["schemaString"]
    assert "discount" in st_at.metadata["schemaString"]


def test_append_retry_preserves_concurrent_evolution(spark, tmp_path):
    """An append whose first commit loses the race to an add_column must
    NOT roll the evolution back: the retry records the schema current at
    commit time (its old-shape files legally null-fill the new column)."""
    t = _t(spark, tmp_path)
    t2 = TxLogTable(spark, t.path)
    orig = t.commit
    fired = {}

    def race(adds, removes, base_version, op, schema=None, txn=None):
        if "v" not in fired:
            fired["v"] = t2.add_column("extra", "int")
        return orig(adds, removes, base_version, op, schema=schema, txn=txn)

    t.commit = race
    t.append(spark.createDataFrame([(3, 30.0)], "k int, price double"))
    assert fired["v"] == 1 and t.version() == 2
    assert "extra" in t.read().columns, "append retry rolled back add_column"
    assert t.read().filter("extra IS NULL").count() == 3


# ---------------------------------------------------------------- restore


def test_restore_is_metadata_only_and_reversible(spark, tmp_path):
    """RESTORE TO VERSION AS OF: live set snaps back to the target
    version's files with one commit — no data copied; history preserved;
    a restore is itself restorable; schema restores with it."""
    t = _t(spark, tmp_path)  # v0: {1, 2}
    t.append(spark.createDataFrame([(3, 30.0)], "k int, price double"))  # v1
    t.delete_where("k = 1")  # v2: {2, 3}
    n_parquet = len(
        [f for f in os.listdir(t.path) if f.endswith(".parquet")]
    )
    v = t.restore(1)
    assert v == 3 and t.history()[-1]["op"] == "restore"
    assert {r.k for r in t.read().collect()} == {1, 2, 3}  # v1 exactly
    # metadata-only: no new data files appeared
    assert len(
        [f for f in os.listdir(t.path) if f.endswith(".parquet")]
    ) == n_parquet
    # pre-restore states still time-travel
    assert {r.k for r in t.read_version(2).collect()} == {2, 3}
    # restore the restore
    t.restore(2)
    assert {r.k for r in t.read().collect()} == {2, 3}


def test_restore_restores_schema_before_evolution(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.add_column("discount", "double")  # v1
    t.append(
        spark.createDataFrame(
            [(3, 30.0, 0.5)], "k int, price double, discount double"
        )
    )  # v2
    t.restore(0)
    assert t.read().columns == ["k", "price"], "schema restored with data"
    assert {r.k for r in t.read().collect()} == {1, 2}


def test_restore_past_vacuum_horizon_fails_loudly(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.optimize(target_files=1)
    t.optimize(target_files=1)
    t.vacuum(retain_versions=1)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(0)


# ----------------------------------------- review fixes: races & guards


def test_drop_tag_rejects_traversal_and_missing(spark, tmp_path):
    """drop_tag shares tag()'s name guard — a traversal name would
    resolve outside refs/ and delete a COMMIT file (a hole in the
    version sequence replay cannot detect)."""
    t = _t(spark, tmp_path)
    t.tag("keep")
    with pytest.raises(ValueError, match="invalid tag name"):
        t.drop_tag("../" + "0" * 12)
    with pytest.raises(KeyError, match="absent"):
        t.drop_tag("absent")
    assert t.tags() == {"keep": 0}
    assert t.version() == 0  # no commit file was harmed


def test_restore_out_of_range_raises(spark, tmp_path):
    """restore(version > latest) must raise, not silently no-op-commit
    'restoring' to the current state (a typo'd version would otherwise
    report success)."""
    t = _t(spark, tmp_path)
    with pytest.raises(ValueError, match="does not exist"):
        t.restore(99)
    with pytest.raises(ValueError, match="does not exist"):
        t.restore(-1)
    assert t.version() == 0


def test_restore_restores_check_set(spark, tmp_path):
    """RESTORE restores table METADATA like Delta's: the CHECK set
    reverts with the schema. Without this, restoring past an add_column
    leaves a live check referencing a column the restored schema no
    longer has — every later validated write dies on an unresolved
    column and its staged files leak."""
    t = _t(spark, tmp_path)  # v0: k, price; no checks
    t.add_column("discount", "double")  # v1
    t.add_check("d_ok", "discount >= 0")  # v2 (NULLs pass)
    t.restore(0)  # v3: schema AND checks revert
    assert t.checks() == {}
    assert t.read().columns == ["k", "price"]
    # the write that used to die on AnalysisException now lands clean
    t.append(spark.createDataFrame([(3, 30.0)], "k int, price double"))
    assert {r.k for r in t.read().collect()} == {1, 2, 3}
    # restoring forward brings the constraint back
    t.restore(2)
    assert t.checks() == {"d_ok": "discount >= 0"}
    # time travel over checks stays exact across the resets
    assert t.checks(as_of=3) == {}
    assert t.checks(as_of=2) == {"d_ok": "discount >= 0"}


def test_restore_checks_reset_mirrors_to_delta_export(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )

    t = _t(spark, tmp_path)
    t.add_check("price_pos", "price >= 0")  # v1
    t.restore(0)  # v2: constraint set reverts to {}
    t.to_delta_log()
    dd = os.path.join(t.path, "_delta_log")
    assert _replay_delta_log(dd, version=1).metadata[
        "configuration"
    ] == {"delta.constraints.price_pos": "price >= 0"}
    assert _replay_delta_log(dd).metadata["configuration"] == {}


def test_add_check_revalidates_after_losing_race(spark, tmp_path):
    """A concurrent append that commits BETWEEN add_check's existing-row
    scan and its commit must be re-validated on the retry — otherwise
    the constraint is born already-violated over rows the scan never
    saw."""
    t = _t(spark, tmp_path)
    t2 = TxLogTable(spark, t.path)
    orig = t._try_commit
    fired = {}

    def race(version, adds, removes, op, extra=None):
        if "v" not in fired:
            # violating row lands after the validation scan ran
            fired["v"] = t2.append(
                spark.createDataFrame([(9, -1.0)], "k int, price double")
            )
        return orig(version, adds=adds, removes=removes, op=op, extra=extra)

    t._try_commit = race
    with pytest.raises(CheckViolation, match="existing rows violate"):
        t.add_check("price_pos", "price >= 0")
    assert "price_pos" not in t.checks(), "constraint must not have landed"
    assert fired["v"] == 1 and t.version() == 1


def test_append_retry_revalidates_against_new_check(spark, tmp_path):
    """An append whose staged (invisible) files violate a check that a
    CONCURRENT add_check commits mid-retry must fail CheckViolation on
    the retry — the add_check's own existing-row scan could not see the
    staged files, so the append side must re-validate them."""
    t = _t(spark, tmp_path)
    t2 = TxLogTable(spark, t.path)
    orig = t.commit
    fired = {}

    def race(adds, removes, base_version, op, schema=None, txn=None):
        if "v" not in fired:
            # constraint lands while our files sit staged: existing rows
            # all pass, so add_check succeeds — and our commit conflicts
            fired["v"] = t2.add_check("price_pos", "price >= 0")
        return orig(adds, removes, base_version, op, schema=schema, txn=txn)

    t.commit = race
    files_before = sorted(
        f for f in os.listdir(t.path) if f.endswith(".parquet")
    )
    with pytest.raises(CheckViolation, match="price_pos"):
        t.append(spark.createDataFrame([(9, -1.0)], "k int, price double"))
    # staged files were removed; table rows untouched; constraint active
    assert sorted(
        f for f in os.listdir(t.path) if f.endswith(".parquet")
    ) == files_before
    assert {r.k for r in t.read().collect()} == {1, 2}
    assert t.checks() == {"price_pos": "price >= 0"}


def test_append_cleans_staged_files_on_retry_exhaustion(spark, tmp_path):
    """Exhausting retries must not leave orphan parquet in the table dir
    (delete/update already clean up per-conflict; append cleans on the
    final raise) — a persistently-losing streaming sink would otherwise
    accumulate invisible files until vacuum."""
    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        CommitConflict,
    )

    t = _t(spark, tmp_path)

    def always_lose(*a, **k):
        raise CommitConflict("simulated")

    t.commit = always_lose
    files_before = sorted(
        f for f in os.listdir(t.path) if f.endswith(".parquet")
    )
    with pytest.raises(CommitConflict, match="gave up"):
        t.append(
            spark.createDataFrame([(3, 30.0)], "k int, price double"),
            max_retries=1,
        )
    assert sorted(
        f for f in os.listdir(t.path) if f.endswith(".parquet")
    ) == files_before


def test_vacuum_age_guard_spares_staged_files(spark, tmp_path):
    """min_age_s is the staged-file guard (Delta's retention-hours
    analog): a concurrent writer's staged-but-uncommitted parquet looks
    like an orphan to vacuum, and deleting it would make that writer
    commit references to vanished files."""
    t = _t(spark, tmp_path)
    # stage files the way a racing append would: written, uncommitted
    staged = t._write_data(
        spark.createDataFrame([(9, 90.0)], "k int, price double")
    )
    assert t.vacuum(retain_versions=1, min_age_s=3600) == []
    for f in staged:
        assert os.path.exists(os.path.join(t.path, f)), "staged file eaten"
    # without the guard the same files are collectable orphans
    deleted = t.vacuum(retain_versions=1)
    assert set(deleted) == set(staged)


def test_vacuum_records_audit_commit(spark, tmp_path):
    """A deleting vacuum logs itself: history shows op='vacuum' with the
    deleted files, and the commit gives concurrently-retrying writers
    (restore) a CommitConflict signal instead of a silent race. A no-op
    vacuum stays out of the log."""
    t = _t(spark, tmp_path)
    v0 = t.version()
    assert t.vacuum(retain_versions=1) == []  # nothing to delete
    assert t.version() == v0, "no-op vacuum must not pollute the log"
    t.optimize(target_files=1)
    deleted = t.vacuum(retain_versions=1)
    assert deleted
    h = t.history()[-1]
    assert h["op"] == "vacuum" and h["n_adds"] == 0 and h["n_removes"] == 0
    with open(
        os.path.join(t.log_dir, f"{t.version():012d}.json")
    ) as fh:
        assert json.load(fh)["vacuumed"] == sorted(deleted)
    # the audit commit is data-unchanged: live set identical across it
    assert set(t._replay(as_of=t.version() - 1)[1]) == set(t.files())


# ---------------------------------------------------------------- clone


def test_clone_is_zero_copy_and_independent(spark, tmp_path):
    """Zero-copy clone: hardlinked files (no bytes moved), full metadata
    (schema + checks) carried, and DML/vacuum on either side leaves the
    other byte-identical — the clone-for-experiments contract."""
    t = _t(spark, tmp_path)
    t.add_check("price_pos", "price >= 0")
    c = t.clone(str(tmp_path / "c"))
    assert {r.k for r in c.read().collect()} == {1, 2}
    assert c.checks() == {"price_pos": "price >= 0"}
    assert c.version() == 0 and c.tags() == {}  # fresh history, no tags
    # zero-copy: same inode (hardlink), not a byte copy
    f = t.files()[0]
    assert os.path.samefile(
        os.path.join(t.path, f), os.path.join(c.path, f)
    )
    # clone-side DML + vacuum never touches the source
    c.delete_where("k = 1")
    c.optimize(target_files=1)
    c.vacuum(retain_versions=1)
    assert {r.k for r in t.read().collect()} == {1, 2}, "source mutated"
    assert {r.k for r in c.read().collect()} == {2}
    # source-side vacuum never touches the clone
    t.optimize(target_files=1)
    t.vacuum(retain_versions=1)
    assert {r.k for r in c.read().collect()} == {2}
    # clone enforces the carried constraint
    with pytest.raises(CheckViolation):
        c.append(spark.createDataFrame([(9, -1.0)], "k int, price double"))
    # refuses to overwrite an existing table
    with pytest.raises(FileExistsError):
        t.clone(str(tmp_path / "c"))


def test_clone_partitioned_table(spark, tmp_path):
    t = TxLogTable.create(
        spark,
        str(tmp_path / "p"),
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
            "k int, part string, price double",
        ),
        partition_by=["part"],
    )
    c = t.clone(str(tmp_path / "pc"))
    assert c.partition_meta()[0] == ["part"]
    # partition pruning works on the clone (directory-name pruning)
    got = {r.k for r in c.read_where("part", "a", "a").collect()}
    assert got == {1, 3}
