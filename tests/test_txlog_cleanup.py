"""Log retention (TxLogTable.cleanup_log): commit JSONs below a
metadata-complete checkpoint horizon are deleted — Delta's log cleanup.
Every fold must survive truncation because periodic checkpoints now
stamp the FULL metadata state (schema, column mapping, CHECK set,
partition spec, streaming-txn high-waters) alongside the file list and
DV state. What's below the horizon raises loudly; nothing silently
degrades."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.txlog import (
    _CHECKPOINT_EVERY,
    TxLogTable,
)


def _mk(spark, path):
    return TxLogTable.create(
        spark,
        str(path),
        spark.createDataFrame(
            [(k, float(k)) for k in range(12)], "k int, v double"
        ).coalesce(1),
    )


@pytest.fixture(scope="module")
def driven(spark, tmp_path_factory):
    """The ~22-commit driven tables, built ONCE per module: each test
    copies the directory tree (tiny files, instant) instead of paying
    the 20-commit Spark build per test — the round-14 suite-wall-clock
    fix (the driver verify budget; same coverage, the copied log is
    byte-identical state)."""
    base = tmp_path_factory.mktemp("driven")
    t = _mk(spark, base / "plain")
    _drive_past_checkpoint(spark, t)
    ts = _mk(spark, base / "sidecar")
    ts.ckpt_sidecar_min_files = 0
    _drive_past_checkpoint(spark, ts)
    return base


def _copy(spark, driven, tmp_path, which="plain"):
    import shutil

    dst = tmp_path / "t"
    shutil.copytree(str(driven / which), str(dst))
    return TxLogTable(spark, str(dst))


def _drive_past_checkpoint(spark, t):
    """Commit past the first periodic checkpoint with a mix of ops whose
    state must survive truncation: DML, schema evolution via mapping,
    constraints, txn-marked appends."""
    t.update_where("k = 1", {"v": F.lit(100.0)})  # v1
    t.rename_column("v", "val")  # v2
    t.add_check("val_lo", "val >= -1000")  # v3
    t.append(
        spark.createDataFrame([(50, 50.0)], "k int, val double"),
        txn=("app-a", 7),
    )  # v4
    t.delete_where("k = 9", mode="dv")  # v5: live DV state
    # fillers to the checkpoint are METADATA-ONLY commits (driver-side
    # JSON, no Spark write job — ~10x cheaper per version): the folds
    # under test (rows, checks, mapping, txn, DVs) were all committed
    # above, and the periodic checkpoint snapshots full state no matter
    # which op lands on the boundary. The two commits BEYOND it stay
    # real one-row appends — test_parquet_sidecar_checkpoints_roundtrip
    # asserts the post-checkpoint CDF tail is exactly those inserts.
    while t.version() < _CHECKPOINT_EVERY:
        t.set_properties({"test.filler": str(t.version())})
    n = 12
    while t.version() < _CHECKPOINT_EVERY + 2:
        t.append(
            spark.createDataFrame([(100 + n, 1.0)], "k int, val double")
        )
        n += 1


def test_cleanup_preserves_every_fold(spark, driven, tmp_path):
    t = _copy(spark, driven, tmp_path)
    latest = t.version()
    before_rows = sorted(map(tuple, t.read().collect()))
    before_checks = t.checks()
    before_cols = t.read().columns
    before_txn = t.last_txn_version("app-a")
    before_dvs = t.dvs()
    assert before_dvs, "scenario must leave a live deletion vector"

    deleted = t.cleanup_log(retain_versions=2)
    assert deleted, "commits below the checkpoint horizon must be deleted"
    oldest = min(
        int(f.split(".")[0])
        for f in os.listdir(t.log_dir)
        if f.endswith(".json")
    )
    assert oldest == _CHECKPOINT_EVERY, "horizon = the periodic checkpoint"

    # every fold survives, on a FRESH handle (no warm caches)
    t2 = TxLogTable(spark, t.path)
    assert sorted(map(tuple, t2.read().collect())) == before_rows
    assert t2.read().columns == before_cols  # rename survived
    assert t2.checks() == before_checks  # constraint survived
    assert t2.last_txn_version("app-a") == before_txn  # txn high-water
    assert t2.dvs() == before_dvs  # merge-on-read state
    assert t2.partition_meta() == ([], None)
    # retained time travel works from the horizon up; below raises
    assert t2.read_version(oldest).count() > 0
    assert t2.read_version(latest).count() > 0
    with pytest.raises(FileNotFoundError):
        t2.read_version(oldest - 1)
    # CDF: from the horizon fine, below refuses loudly
    assert t2.read_changes(oldest + 1, latest).count() >= 0
    with pytest.raises(FileNotFoundError, match="retained log head"):
        t2.read_changes(1, latest).count()
    # appends still work and the next periodic checkpoint still lands
    t2.append(spark.createDataFrame([(999, 9.0)], "k int, val double"))
    assert t2.read().filter("k = 999").count() == 1


def test_cleanup_respects_tags_and_retention(spark, driven, tmp_path):
    t = _copy(spark, driven, tmp_path)
    t.tag("baseline", 0)
    # the tag pins version 0: nothing may be deleted
    assert t.cleanup_log(retain_versions=1) == []
    assert os.path.exists(os.path.join(t.log_dir, f"{0:012d}.json"))
    assert t.read_tag("baseline").count() == 12
    # untag -> cleanup proceeds; tag at a retained version stays readable
    t.drop_tag("baseline")
    t.tag("late", t.version())
    assert t.cleanup_log(retain_versions=2)
    assert t.read_tag("late").count() == t.read().count()


def test_cleanup_is_noop_before_first_checkpoint(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.update_where("k = 1", {"v": F.lit(5.0)})
    assert t.cleanup_log(retain_versions=1) == []
    assert os.path.exists(os.path.join(t.log_dir, f"{0:012d}.json"))


def test_delta_export_refuses_after_cleanup(spark, driven, tmp_path):
    t = _copy(spark, driven, tmp_path)
    t.cleanup_log(retain_versions=2)
    with pytest.raises(ValueError, match="cleanup_log"):
        t.to_delta_log()


def test_partitioned_table_survives_cleanup(spark, tmp_path):
    import datetime

    t = TxLogTable.create(
        spark,
        str(tmp_path / "p"),
        spark.createDataFrame(
            [(k, datetime.date(2024, 1 + k % 2, 1), float(k)) for k in range(8)],
            "k int, month date, amt double",
        ),
        partition_by=["month"],
    )
    t.append(
        spark.createDataFrame(
            [(100, datetime.date(2024, 1, 1), 1.0)],
            "k int, month date, amt double",
        )
    )
    # metadata-only fillers to the checkpoint (see _drive_past_checkpoint)
    while t.version() < _CHECKPOINT_EVERY:
        t.set_properties({"test.filler": str(t.version())})
    before = sorted(map(tuple, t.read().collect()))
    assert t.cleanup_log(retain_versions=1)
    t2 = TxLogTable(spark, t.path)
    assert t2.partition_meta()[0] == ["month"]  # commit-0 fallback path
    assert sorted(map(tuple, t2.read().collect())) == before
    # partition pruning still resolves types from the checkpoint spec
    feb = datetime.date(2024, 2, 1)
    assert t2.read_where("month", feb, feb).count() == 4


def test_fresh_stream_clamps_to_horizon_snapshot(spark, driven, tmp_path):
    """A default-start stream on a cleaned-up table bootstraps from the
    horizon checkpoint's snapshot instead of dying on the deleted
    commits (Delta's startingVersion clamp)."""
    from airbnb_listings_data_pipelines_spark.sources import txlog_source

    txlog_source.register(spark)
    t = _copy(spark, driven, tmp_path)
    t.cleanup_log(retain_versions=2)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("txlog")
        .load(t.path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == sorted(map(tuple, t.read().collect()))


def test_batch_cdf_refuses_at_and_below_horizon(spark, driven, tmp_path):
    """read_changes needs live(from_version - 1): after cleanup, a range
    STARTING at the horizon is just as unreconstructible as one below it
    — both must refuse (review finding: the horizon checkpoint's full
    list must never be misreported as one giant insert)."""
    t = _copy(spark, driven, tmp_path)
    t.cleanup_log(retain_versions=2)
    oldest = min(
        int(f.split(".")[0])
        for f in os.listdir(t.log_dir)
        if f.endswith(".json")
    )
    with pytest.raises(FileNotFoundError, match="retained log head"):
        t.read_changes(oldest, t.version()).count()
    assert t.read_changes(oldest + 1, t.version()).count() >= 0


def test_cleanup_audit_commit_and_staged_next_horizon(spark, driven, tmp_path):
    t = _copy(spark, driven, tmp_path)
    v_before = t.version()
    assert t.cleanup_log(retain_versions=2)
    hist = t.history()
    assert hist[-1]["op"] == "cleanup_log" and hist[-1]["version"] == v_before + 1
    # the audit commit is itself a metadata-complete checkpoint: the
    # NEXT cleanup can truncate straight up to it once retention allows
    import json as _json

    with open(
        os.path.join(t.log_dir, f"{v_before + 1:012d}.json")
    ) as fh:
        c = _json.load(fh)
    assert c["checkpoint"] and "txns_state" in c and "checks_reset" in c


def test_parquet_sidecar_checkpoints_roundtrip(spark, driven, tmp_path):
    """Above ckpt_sidecar_min_files the checkpoint's live list + DV state
    live in a parquet sidecar (Delta stores checkpoints as parquet for
    the same reason: JSON parse time at millions of files). Forced on
    via threshold=0: every fold — snapshot, time travel, CDF, history,
    DataSource stream, cleanup — must behave identically to inline
    checkpoints."""
    from airbnb_listings_data_pipelines_spark.sources import txlog_source

    t = _copy(spark, driven, tmp_path, "sidecar")
    ckpts = [
        f for f in os.listdir(os.path.join(t.log_dir, "ckpt"))
        if f.endswith(".parquet")
    ]
    assert ckpts, "the periodic checkpoint must have written a sidecar"
    import json as _json

    with open(os.path.join(t.log_dir, f"{_CHECKPOINT_EVERY:012d}.json")) as fh:
        c = _json.load(fh)
    assert c["adds"] == [] and c["adds_sidecar"] and c["n_adds"] > 0
    # every fold reads through the sidecar
    t2 = TxLogTable(spark, t.path)
    assert t2.read().count() > 0
    assert t2.dvs(), "DV state must survive the sidecar roundtrip"
    assert t2.read_version(_CHECKPOINT_EVERY).count() > 0
    # CDF over the post-checkpoint tail: the commits after the sidecar'd
    # checkpoint are pure one-row appends, so the feed must be exactly
    # one insert per commit in the range — a real content check, not
    # count() >= 0
    feed = t2.read_changes(_CHECKPOINT_EVERY + 1, t2.version())
    n_range = t2.version() - _CHECKPOINT_EVERY
    assert feed.count() == n_range
    assert {r._change_type for r in feed.collect()} == {"insert"}
    hist = {h["version"]: h for h in t2.history()}
    # the checkpoint commit is a metadata-only filler: its TRUE delta is
    # empty (a sidecar read as an empty list would show every live file
    # removed), and the next commit is its one-row append
    assert (
        hist[_CHECKPOINT_EVERY]["n_adds"], hist[_CHECKPOINT_EVERY]["n_removes"]
    ) == (0, 0)
    assert hist[_CHECKPOINT_EVERY + 1]["n_adds"] == 1
    # the DataSource's inlined twin reads the sidecar too
    txlog_source.register(spark)
    ds = spark.read.format("txlog").load(t.path)
    assert sorted(map(tuple, ds.collect())) == sorted(
        map(tuple, t2.read().collect())
    )
    # cleanup truncates up to the sidecar'd checkpoint and keeps working
    before = sorted(map(tuple, t2.read().collect()))
    assert t2.cleanup_log(retain_versions=2)
    t3 = TxLogTable(spark, t.path)
    assert sorted(map(tuple, t3.read().collect())) == before


def test_sidecar_checkpoint_dv_state_exports_to_delta(spark, driven, tmp_path):
    """A sidecar'd checkpoint carrying DV state used to trip the Delta
    export's refusal; round 9's deletionVectors-feature export must fold
    the sidecar's dvs_state like any commit and export faithfully —
    combined here with column mapping and CHECKs, so the table-features
    protocol carries ALL three and the independent reader resolves
    physical names AND anti-joins the vectors."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
    )

    t = _copy(spark, driven, tmp_path, "sidecar")
    t.to_delta_log()
    proto = _read_protocols(t.path)[-1]
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert {"deletionVectors", "columnMapping"} <= set(proto["readerFeatures"])
    assert "checkConstraints" in proto["writerFeatures"]
    expect = sorted(map(tuple, t.read().collect()))
    got = sorted(map(tuple, read_delta_snapshot(spark, t.path).collect()))
    assert got == expect
    assert not any(r[0] == 9 for r in got), "DV'd row must stay deleted"


def _read_protocols(path):
    import json as _json

    delta_dir = os.path.join(path, "_delta_log")
    out = []
    for name in sorted(os.listdir(delta_dir)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(delta_dir, name)) as fh:
            for line in fh:
                a = _json.loads(line)
                if "protocol" in a:
                    out.append(a["protocol"])
    return out


def test_vacuum_sweeps_orphan_checkpoint_sidecars(spark, driven, tmp_path):
    """A crash between sidecar write and commit publish leaves an
    unreferenced live-list parquet under _txlog/ckpt/ — vacuum's stated
    job is deleting crashed writers' orphans, so it must sweep these
    (and abandoned .ckpt-stage temp files) while keeping referenced
    sidecars."""
    t = _copy(spark, driven, tmp_path, "sidecar")
    ckpt_dir = os.path.join(t.log_dir, "ckpt")
    referenced = set(os.listdir(ckpt_dir))
    # simulate the crash artifacts
    orphan = os.path.join(ckpt_dir, "000000000099-deadbeef.parquet")
    open(orphan, "wb").write(b"not really parquet")
    stage = os.path.join(t.log_dir, ".ckpt-stage-deadbeef")
    open(stage, "wb").write(b"partial")
    deleted = t.vacuum()
    assert "_txlog/ckpt/000000000099-deadbeef.parquet" in deleted
    assert "_txlog/.ckpt-stage-deadbeef" in deleted
    assert referenced <= set(os.listdir(ckpt_dir)), "referenced sidecars kept"
    assert t.read().count() > 0
