"""Merge-on-read DML via deletion vectors (public design: Delta Lake's
deletion vectors, reader v3/writer v7 table feature): a delete records
matched row POSITIONS in a tiny parquet sidecar applied at read time by
one anti join — bytes written scale with deleted rows, not touched
files; a DV update writes ONLY the updated rows as new files and DVs the
old positions. Copy-on-write remains the compaction story: any COW
DML or OPTIMIZE that rewrites a DV'd file folds the vector away.

Every consumption surface must honor the vectors: snapshot reads, time
travel, read_where skipping, COW DML and MERGE on a DV'd table, CDF
(net row-exact and raw via the DataSource), diff_versions, restore
(vectors revert — rows resurrect), clone (sidecars travel), vacuum
(superseded sidecars are orphans; referenced ones pinned), and the
``txlog`` Python DataSource (batch + CDF)."""

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


def _mk(spark, tmp_path, n=100, parts=4, name="t"):
    df = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(n)], "k int, v string, g int"
    ).repartition(parts)
    return TxLogTable.create(spark, str(tmp_path / name), df)


def _keys(t):
    return sorted(r.k for r in t.read().collect())


def test_dv_delete_rewrites_no_data_file(spark, tmp_path):
    t = _mk(spark, tmp_path)
    files0 = set(t.files())
    sizes0 = {f: os.path.getsize(os.path.join(t.path, f)) for f in files0}
    t.delete_where("k % 10 = 0", mode="dv")
    assert set(t.files()) == files0, "no data file added or removed"
    for f, s in sizes0.items():
        assert os.path.getsize(os.path.join(t.path, f)) == s
    assert _keys(t) == [i for i in range(100) if i % 10 != 0]
    # the vector is tiny: sidecar bytes << the touched files it spares
    side = {d["sidecar"] for d in t.dvs().values()}
    assert len(side) == 1
    sidecar_bytes = os.path.getsize(os.path.join(t.path, side.pop()))
    touched_bytes = sum(
        sizes0[f] for f in t.dvs()
    )
    assert sidecar_bytes < touched_bytes


def test_dv_delete_null_condition_keeps_rows(spark, tmp_path):
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, None), (2, 5)], "k int, x int"),
    )
    t.delete_where("x > 1", mode="dv")  # NULL -> kept (SQL DELETE)
    assert {r.k for r in t.read().collect()} == {1}


def test_dv_time_travel_and_read_where(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where("k < 50", mode="dv")
    assert t.read_version(0).count() == 100
    assert t.read_version(1).count() == 50
    got = sorted(r.k for r in t.read_where("k", 40, 60).collect())
    assert got == list(range(50, 61))


def test_dv_update_writes_only_matched_rows(spark, tmp_path):
    t = _mk(spark, tmp_path)
    files0 = set(t.files())
    # k=8 matches too, but its assignment is a no-op: not rewritten
    t.update_where(
        "k IN (7, 8)",
        {"v": "CASE WHEN k = 7 THEN 'SEVEN' ELSE v END"},
        mode="dv",
    )
    new_files = set(t.files()) - files0
    assert files0 <= set(t.files()), "old files stay (merge-on-read)"
    import pyarrow.parquet as pq

    assert (
        sum(
            pq.ParquetFile(os.path.join(t.path, f)).metadata.num_rows
            for f in new_files
        )
        == 1
    )
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[7] == "SEVEN" and rows[8] == "v8" and len(rows) == 100


def test_dv_full_file_coverage_retires_file(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where("true", mode="dv")
    assert t.files() == [] and t.dvs() == {}
    assert t.read().count() == 0
    assert t.read_version(0).count() == 100


def test_dv_deletes_accumulate_and_stay_deleted(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where("k < 10", mode="dv")
    t.delete_where("k < 20", mode="dv")  # overlap: rows 0-9 already gone
    assert _keys(t) == list(range(20, 100))
    total = sum(d["cardinality"] for d in t.dvs().values())
    assert total == 20
    # a second delete of already-deleted rows is a faithful no-op commit
    v = t.delete_where("k < 20", mode="dv")
    assert _keys(t) == list(range(20, 100))
    assert t.history()[-1]["op"] == "delete"
    assert v == t.version()


def test_cow_dml_on_dvd_table_folds_vectors(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where("k < 10", mode="dv")
    t.delete_where("k >= 90")  # COW: rewrites touched files DV-applied
    assert _keys(t) == list(range(10, 90))
    # files the COW delete rewrote lost their vectors
    for f in t.dvs():
        assert f in t.files()
    t.optimize(target_files=2)
    assert t.dvs() == {} and _keys(t) == list(range(10, 90))


def test_merge_on_dvd_table_never_resurrects(spark, tmp_path):
    t = _mk(spark, tmp_path, n=20, parts=2)
    t.delete_where("k = 5", mode="dv")
    src = spark.createDataFrame(
        [(5, "FIVE", 99), (100, "new", 1)], "k int, v string, g int"
    )
    merge_into_txlog(spark, t, src, keys=["k"])
    rows = {r.k: r.v for r in t.read().collect()}
    # k=5 was deleted -> the merge re-INSERTS it (not-matched path)
    assert rows[5] == "FIVE" and rows[100] == "new" and len(rows) == 21


def test_dv_restore_resurrects_rows(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where("k < 50", mode="dv")  # v1
    t.delete_where("k < 70", mode="dv")  # v2
    t.restore(1)
    assert _keys(t) == list(range(50, 100))
    t.restore(0)
    assert _keys(t) == list(range(100))
    assert t.dvs() == {}


def test_dv_clone_carries_sidecars(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where("k % 2 = 0", mode="dv")
    c = t.clone(str(tmp_path / "c"))
    assert sorted(r.k for r in c.read().collect()) == list(range(1, 100, 2))
    # independence: vacuuming the source leaves the clone intact
    t.delete_where("k < 90")  # COW rewrite retires DV'd files in source
    t.vacuum(retain_versions=1)
    assert sorted(r.k for r in c.read().collect()) == list(range(1, 100, 2))


def test_dv_vacuum_gc_superseded_sidecars(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where("k < 10", mode="dv")  # sidecar A
    sc_a = {d["sidecar"] for d in t.dvs().values()}.pop()
    t.delete_where("k < 20", mode="dv")  # sidecar B supersedes A
    sc_b = {d["sidecar"] for d in t.dvs().values()}.pop()
    assert sc_a != sc_b
    deleted = t.vacuum(retain_versions=1)
    assert sc_a in deleted
    assert os.path.exists(os.path.join(t.path, sc_b))
    assert _keys(t) == list(range(20, 100))
    # v1 is gone (its sidecar vacuumed); latest still exact
    with pytest.raises(Exception):
        t.read_version(1).collect()


def test_dv_vacuum_pins_tagged_sidecars(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where("k < 10", mode="dv")
    t.tag("model-v1", 1)
    sc_a = {d["sidecar"] for d in t.dvs().values()}.pop()
    t.delete_where("k < 20", mode="dv")
    deleted = t.vacuum(retain_versions=1)
    assert sc_a not in deleted
    assert t.read_tag("model-v1").count() == 90


def test_dv_read_changes_row_exact(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where("k < 10", mode="dv")  # v1: 10 deletes, 0 inserts
    # v2: 1+1 — k=51 matches with a no-op assignment: no change, no pair
    t.update_where(
        "k IN (50, 51)",
        {"v": "CASE WHEN k = 50 THEN 'X' ELSE v END"},
        mode="dv",
    )
    ch = t.read_changes(1, 2)
    agg = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in ch.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert agg == {(1, "delete"): 10, (2, "delete"): 1, (2, "insert"): 1}
    v2 = {
        (r.k, r.v, r["_change_type"])
        for r in ch.filter("_commit_version = 2").collect()
    }
    assert v2 == {(50, "v50", "delete"), (50, "X", "insert")}


def test_dv_read_changes_restore_reinserts(spark, tmp_path):
    t = _mk(spark, tmp_path, n=20, parts=2)
    t.delete_where("k < 5", mode="dv")  # v1
    t.restore(0)  # v2: rows 0-4 resurrect
    ch = t.read_changes(2, 2)
    got = {(r.k, r["_change_type"]) for r in ch.collect()}
    assert got == {(k, "insert") for k in range(5)}


def test_dv_diff_versions_netting(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where("k < 10", mode="dv")
    t.delete_where("k < 30", mode="dv")
    d = t.diff_versions(1, 2)
    got = {(r.k, r.change_type) for r in d.collect()}
    assert got == {(k, "delete") for k in range(10, 30)}


def test_dv_checkpoint_commit_carries_state(spark, tmp_path, monkeypatch):
    import airbnb_listings_data_pipelines_spark.operators.txlog as txmod

    monkeypatch.setattr(txmod, "_CHECKPOINT_EVERY", 5)
    t = _mk(spark, tmp_path, n=50, parts=2)
    t.delete_where("k = 0", mode="dv")
    # push past a checkpoint boundary (every 5 commits, patched seam)
    for i in range(6):
        t.append(spark.createDataFrame([(1000 + i, "a", 0)], "k int, v string, g int"))
    assert 0 not in set(_keys(t)), "DV survives the checkpoint fold"
    assert t.dvs() != {}
    assert t.read_version(t.version()).count() == 49 + 6


def test_dv_datasource_batch_and_cdf(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.sources.txlog_source import (
        register,
    )

    register(spark)
    t = _mk(spark, tmp_path)
    t.delete_where("k < 10", mode="dv")
    t.update_where("k = 50", {"v": F.lit("X")}, mode="dv")
    got = spark.read.format("txlog").load(t.path)
    assert sorted(r.k for r in got.collect()) == list(range(10, 100))
    assert {r.v for r in got.filter("k = 50").collect()} == {"X"}
    # versionAsOf honors per-version DV state
    v1 = spark.read.format("txlog").option("versionAsOf", 1).load(t.path)
    assert v1.count() == 90
    # CDF: DV deltas arrive as row-exact change slices
    cdf = (
        spark.read.format("txlog")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .load(t.path)
    )
    agg = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in cdf.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert agg == {(1, "delete"): 10, (2, "delete"): 1, (2, "insert"): 1}


def test_dv_stream_source_guards_dv_commits(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.sources.txlog_source import (
        register,
    )

    register(spark)
    t = _mk(spark, tmp_path, n=20, parts=2)
    t.delete_where("k < 5", mode="dv")
    t.append(spark.createDataFrame([(777, "n", 0)], "k int, v string, g int"))
    # skipChangeCommits: the DV commit is dropped, the append flows
    q = (
        spark.readStream.format("txlog")
        .option("skipChangeCommits", "true")
        .load(t.path)
        .writeStream.format("memory")
        .queryName("dv_skip_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.k for r in spark.sql("select * from dv_skip_stream").collect()}
    assert got == set(range(20)) | {777}


def test_dv_update_runs_check_gate(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10, parts=1)
    t.add_check("k_nonneg", "k >= 0")
    with pytest.raises(CheckViolation, match="k_nonneg"):
        t.update_where("k = 3", {"k": F.lit(-1)}, mode="dv")
    assert _keys(t) == list(range(10)), "failed update left no trace"
    assert t.dvs() == {}


def test_dv_delete_racing_append_converges(spark, tmp_path):
    """A DV delete that loses its commit race re-runs against the
    winner's snapshot: the append's rows survive, the delete's rows go."""
    t = _mk(spark, tmp_path, n=20, parts=2)
    orig_commit = TxLogTable.commit
    raced = {"done": False}

    def racing_commit(self, *a, **kw):
        if not raced["done"] and kw.get("op") == "delete":
            raced["done"] = True
            t2 = TxLogTable(spark, self.path)
            t2.append(
                spark.createDataFrame([(500, "r", 0)], "k int, v string, g int")
            )
        return orig_commit(self, *a, **kw)

    import unittest.mock as mock

    with mock.patch.object(TxLogTable, "commit", racing_commit):
        t.delete_where("k < 5", mode="dv")
    assert _keys(t) == list(range(5, 20)) + [500]


def test_dv_on_colliding_basename_layout(spark, tmp_path):
    """Round-9 verdict item 5 (was: the refusal test): foreign-adopted
    layouts with DUPLICATE BASENAMES across partition dirs now take
    merge-on-read DML — sidecars key on relative paths, and the read
    side splits the scan per basename-collision group so the anti-join
    key stays exact. The delete must hit ONLY the matching partition's
    rows even though both files are named data.parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "foreign"
    for part in ("g=0", "g=1"):
        os.makedirs(root / part)
        pq.write_table(
            pa.table({"k": [1, 2]}), str(root / part / "data.parquet")
        )
    t = TxLogTable.convert(spark, str(root), partition_by=["g"])
    t.delete_where("k = 1 AND g = 0", mode="dv")
    assert sorted((r.k, r.g) for r in t.read().collect()) == [
        (1, 1),
        (2, 0),
        (2, 1),
    ]
    # descriptor keys the file's RELATIVE path, not its basename
    dvs = t.dvs()
    assert list(dvs) == ["g=0/data.parquet"]
    assert dvs["g=0/data.parquet"]["pathkey"] == "rel"
    # second DV DML on the OTHER same-named file: distinct vectors,
    # time travel and DV-applied discovery stay row-exact
    t.delete_where("k = 1", mode="dv")  # only g=1's k=1 remains matched
    assert sorted((r.k, r.g) for r in t.read().collect()) == [
        (2, 0),
        (2, 1),
    ]
    assert {r.k for r in t.read_version(1).filter("g = 0").collect()} == {2}
    # update on the collided layout: rewrites matched rows, vectors old
    t.update_where("k = 2 AND g = 1", {"k": F.lit(20)}, mode="dv")
    assert sorted((r.k, r.g) for r in t.read().collect()) == [
        (2, 0),
        (20, 1),
    ]


def test_dv_delta_export_roundtrip_live_vectors(spark, tmp_path):
    """Round-8 gap closed: a table holding LIVE deletion vectors exports
    under Delta's deletionVectors table feature (reader 3 / writer 7,
    RoaringBitmap .bin sidecars, add.deletionVector descriptors) and the
    independent _delta_log reader replays it row-exactly — no OPTIMIZE
    fold needed. Covers delete + update vectors (multiple sidecars),
    protocol/feature emission, and time travel across DV versions."""
    import json as _json

    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
    )

    t = _mk(spark, tmp_path, n=30, parts=3)
    t.delete_where("k % 10 = 0", mode="dv")  # v1: delete DV
    t.update_where("k = 7", {"v": F.lit("SEVEN")}, mode="dv")  # v2: update DV
    assert len({d["sidecar"] for d in t.dvs().values()}) >= 2
    v = t.to_delta_log()
    assert v == t.version() == 2
    # the exported protocol carries the table-features form
    delta_dir = os.path.join(t.path, "_delta_log")
    protos = []
    descs = []
    for name in sorted(os.listdir(delta_dir)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(delta_dir, name)) as fh:
            for line in fh:
                a = _json.loads(line)
                if "protocol" in a:
                    protos.append(a["protocol"])
                if "add" in a and a["add"].get("deletionVector"):
                    descs.append(a["add"]["deletionVector"])
    assert protos[-1]["minReaderVersion"] == 3
    assert protos[-1]["minWriterVersion"] == 7
    assert "deletionVectors" in protos[-1]["readerFeatures"]
    assert "deletionVectors" in protos[-1]["writerFeatures"]
    assert descs and all(d["storageType"] == "u" for d in descs)
    # stats on DV-carrying adds are marked wide-bounds
    with open(os.path.join(delta_dir, f"{1:020d}.json")) as fh:
        for line in fh:
            a = _json.loads(line)
            if "add" in a and a["add"].get("deletionVector"):
                assert _json.loads(a["add"]["stats"])["tightBounds"] is False
    # independent reader parity, latest + time travel at every version
    expect_now = sorted((r.k, r.v) for r in t.read().collect())
    got_now = sorted(
        (r.k, r.v) for r in read_delta_snapshot(spark, t.path).collect()
    )
    assert got_now == expect_now
    for ver in range(3):
        exp = sorted((r.k, r.v) for r in t.read_version(ver).collect())
        got = sorted(
            (r.k, r.v)
            for r in read_delta_snapshot(spark, t.path, version=ver).collect()
        )
        assert got == exp, f"version {ver} mismatch"


def test_dv_delta_export_incremental_and_optimize_fold(spark, tmp_path):
    """Incremental re-export after more DV DML appends only the missing
    commits; an OPTIMIZE that folds vectors exports as remove+add of
    plain files and the reader drops the descriptors."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
    )

    t = _mk(spark, tmp_path, n=20, parts=2)
    t.delete_where("k < 3", mode="dv")
    assert t.to_delta_log() == 1
    t.delete_where("k >= 17", mode="dv")  # extends one file's vector
    t.optimize()
    assert t.to_delta_log() == t.version()
    expect = sorted(r.k for r in t.read().collect())
    assert expect == list(range(3, 17))
    got = sorted(r.k for r in read_delta_snapshot(spark, t.path).collect())
    assert got == expect
    # post-OPTIMIZE snapshot carries no descriptors
    import json as _json

    delta_dir = os.path.join(t.path, "_delta_log")
    latest = sorted(
        f for f in os.listdir(delta_dir) if f.endswith(".json")
    )[-1]
    with open(os.path.join(delta_dir, latest)) as fh:
        for line in fh:
            a = _json.loads(line)
            if "add" in a:
                assert not a["add"].get("deletionVector")


def test_dv_delta_export_restore_resurrects_rows(spark, tmp_path):
    """RESTORE reverts DV state; the export must re-add the file WITHOUT
    a descriptor so external readers resurrect the rows at that version."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
    )

    t = _mk(spark, tmp_path, n=12, parts=1)
    t.delete_where("k = 5", mode="dv")
    t.restore(0)
    t.to_delta_log()
    got = sorted(r.k for r in read_delta_snapshot(spark, t.path).collect())
    assert got == list(range(12)), "restored rows must resurrect"
    got1 = sorted(
        r.k for r in read_delta_snapshot(spark, t.path, version=1).collect()
    )
    assert got1 == [k for k in range(12) if k != 5]


def test_convert_from_delta_adopts_deletion_vectors(spark, tmp_path):
    """Import direction: CONVERT FROM DELTA on a DV-carrying log decodes
    the bitmaps into a txlog sidecar — reads match, and further DML /
    OPTIMIZE work on the adopted table."""
    import shutil

    t = _mk(spark, tmp_path, n=20, parts=2, name="src")
    t.delete_where("k % 5 = 0", mode="dv")
    t.to_delta_log()
    expect = sorted(r.k for r in t.read().collect())
    shutil.rmtree(t.log_dir)  # now it is "just" a Delta table with DVs

    c = TxLogTable.convert_from_delta(spark, t.path)
    assert sorted(r.k for r in c.read().collect()) == expect
    assert c.dvs(), "adopted table must carry DV state"
    # merge-on-read DML keeps working on the adopted vectors
    c.delete_where("k = 7", mode="dv")
    assert sorted(r.k for r in c.read().collect()) == [
        k for k in expect if k != 7
    ]
    c.optimize()
    assert not c.dvs()
    assert sorted(r.k for r in c.read().collect()) == [
        k for k in expect if k != 7
    ]


def _downgrade_to_legacy_sidecars(t):
    """Rewrite a table's DV sidecars + descriptors to the PRE-round-9
    on-disk form (file column = basename, no pathkey marker) — a real
    pre-change table fixture for the keying-migration compat tests."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rel_by_base = {}
    for rec in sorted(os.listdir(os.path.join(t.path, "_txlog"))):
        if not rec.endswith(".json"):
            continue
        p = os.path.join(t.path, "_txlog", rec)
        with open(p) as fh:
            c = json.load(fh)
        changed = False
        for field in ("dvs", "dvs_state", "dvs_reset"):
            for f, desc in (c.get(field) or {}).items():
                if desc and desc.pop("pathkey", None):
                    changed = True
                rel_by_base[os.path.basename(f)] = f
        if changed:
            with open(p, "w") as fh:
                json.dump(c, fh)
    for sc in sorted(os.listdir(os.path.join(t.path, "_dv"))):
        full = os.path.join(t.path, "_dv", sc)
        tbl = pq.read_table(full)
        files = [x.rsplit("/", 1)[-1] for x in tbl.column("file").to_pylist()]
        pq.write_table(
            pa.table(
                {
                    "file": pa.array(files, pa.string()),
                    "row_index": tbl.column("row_index"),
                }
            ),
            full,
        )
    return rel_by_base


def test_legacy_basename_sidecars_still_read(spark, tmp_path):
    """Round-9 keying migration: a PRE-change table (basename-keyed
    sidecars, descriptors without pathkey — emulated by downgrading a
    fresh table's on-disk state to the old format) must keep reading,
    time-traveling, CDF-tailing, and taking NEW DML whose sidecars are
    rel-keyed — mixed-generation descriptors on one table."""
    df = spark.createDataFrame(
        [(i, f"v{i}", i % 2) for i in range(40)], "k int, v string, g int"
    )
    t = TxLogTable.create(
        spark, str(tmp_path / "legacy"), df, partition_by=["g"]
    )
    t.delete_where("k % 10 = 0", mode="dv")  # v1
    t.update_where("k = 7", {"v": F.lit("SEVEN")}, mode="dv")  # v2
    expect = sorted(
        (i, "SEVEN" if i == 7 else f"v{i}") for i in range(40) if i % 10
    )
    _downgrade_to_legacy_sidecars(t)
    t2 = TxLogTable(spark, str(tmp_path / "legacy"))
    assert all("pathkey" not in d for d in t2.dvs().values())
    # snapshot + time travel on the legacy form (partitioned table:
    # basename != relative path, so the legacy mapping branch is live)
    assert sorted((r.k, r.v) for r in t2.read().collect()) == expect
    assert sorted(r.k for r in t2.read_version(1).collect()) == [
        i for i in range(40) if i % 10
    ]
    # row-exact CDF across the legacy DV commits
    ch = t2.read_changes(1, 2)
    dels = {
        r.k for r in ch.filter("_change_type = 'delete'").collect()
    }
    assert dels == {i for i in range(40) if i % 10 == 0} | {7}
    # NEW DML on the legacy table: the fresh sidecar is rel-keyed, the
    # union with the PRIOR legacy vector normalizes both to rel paths
    t2.delete_where("k = 11", mode="dv")
    assert sorted(r.k for r in t2.read().collect()) == [
        i for i in range(40) if i % 10 and i != 11
    ]
    mixed = t2.dvs()
    assert any(d.get("pathkey") == "rel" for d in mixed.values())
    # checkpoint fold preserves the per-descriptor keying via the
    # dv_pathkey sidecar column
    t2.ckpt_sidecar_min_files = 1
    t2.cleanup_log(retain_versions=2)
    t3 = TxLogTable(spark, str(tmp_path / "legacy"))
    assert sorted(r.k for r in t3.read().collect()) == [
        i for i in range(40) if i % 10 and i != 11
    ]


def test_convert_from_delta_dv_colliding_basenames(spark, tmp_path):
    """Round-9 keying change, import direction: a foreign Delta table
    whose nested layout repeats a basename (sub1/data.parquet,
    sub2/data.parquet) AND carries deletion vectors now ADOPTS instead
    of refusing — the re-encoded sidecar keys relative paths, and
    further merge-on-read DML works on the adopted table."""
    import base64
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from airbnb_listings_data_pipelines_spark.operators.roaring import (
        serialize_rba,
    )

    path = str(tmp_path / "foreign")
    for sub, ks in (("sub1", range(5)), ("sub2", range(5, 10))):
        os.makedirs(os.path.join(path, sub))
        pq.write_table(
            pa.table({"k": pa.array(list(ks), pa.int64())}),
            os.path.join(path, sub, "data.parquet"),
        )

    def _inline_dv(idx):
        blob = serialize_rba(idx)
        return {
            "storageType": "i",
            "pathOrInlineDv": base64.b85encode(blob).decode("ascii"),
            "offset": 0,
            "sizeInBytes": len(blob),
            "cardinality": len(idx),
        }

    dl = os.path.join(path, "_delta_log")
    os.makedirs(dl)
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "k",
                    "type": "long",
                    "nullable": True,
                    "metadata": {},
                }
            ],
        }
    )
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
        {
            "metaData": {
                "id": "dv-collide",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 0,
            }
        },
    ]
    for sub, idx in (("sub1", [1]), ("sub2", [2])):
        f = f"{sub}/data.parquet"
        actions.append(
            {
                "add": {
                    "path": f,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(path, f)),
                    "modificationTime": 0,
                    "dataChange": True,
                    "deletionVector": _inline_dv(idx),
                }
            }
        )
    with open(os.path.join(dl, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(_json.dumps(a) for a in actions) + "\n")

    c = TxLogTable.convert_from_delta(spark, path)
    assert sorted(r.k for r in c.read().collect()) == [0, 2, 3, 4, 5, 6, 8, 9]
    dvs = c.dvs()
    assert set(dvs) == {"sub1/data.parquet", "sub2/data.parquet"}
    assert all(d["pathkey"] == "rel" for d in dvs.values())
    # merge-on-read DML on the adopted colliding layout: the new vector
    # unions with the adopted one per file, keyed by relative path
    c.delete_where("k = 2", mode="dv")
    assert sorted(r.k for r in c.read().collect()) == [0, 3, 4, 5, 6, 8, 9]
    assert c.dvs()["sub1/data.parquet"]["cardinality"] == 2


def test_dv_export_colliding_basenames(spark, tmp_path):
    """Review finding: the export's sidecar-row attribution used a dual
    basename+relpath mapping that silently cross-attributed vectors on
    colliding-basename layouts. Keying now follows each descriptor's
    recorded pathkey — export a nested colliding layout holding live
    vectors and replay it through the independent Delta reader."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
    )

    root = tmp_path / "foreign"
    for part, ks in (("g=0", [1, 2, 3]), ("g=1", [4, 5, 6])):
        os.makedirs(root / part)
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int64())}),
            str(root / part / "data.parquet"),
        )
    t = TxLogTable.convert(spark, str(root), partition_by=["g"])
    t.delete_where("k = 2", mode="dv")  # vector on g=0/data.parquet
    t.delete_where("k = 5", mode="dv")  # vector on g=1/data.parquet
    t.to_delta_log()
    got = read_delta_snapshot(spark, str(root))
    assert sorted((r.k, r.g) for r in got.collect()) == [
        (1, 0),
        (3, 0),
        (4, 1),
        (6, 1),
    ]
