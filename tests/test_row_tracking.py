"""Row tracking (Delta's ``rowTracking`` writer feature): STABLE row
identity. Enabled via the ``delta.enableRowTracking`` table property —
the property commit itself BACKFILLS base row ids for every live file
(one metadata-only commit; bases are log metadata, so enabling on an
existing table rewrites nothing). A fresh row's id is ``baseRowId +
in-file row index`` (metadata-derived, embarrassingly parallel — no
global numbering, no shuffle); rewrite paths (OPTIMIZE, merge-on-read
UPDATE/MERGE post-images) MATERIALIZE ids into the physical-only
``_rt_row_id`` column, which wins via coalesce. Copy-on-write DML
(round 12) routes its rewrites through the same materialization —
surviving rows carry their old ids BY VALUE into the rewritten files,
inserts fence beyond the watermark — so UPDATE/DELETE/MERGE preserve
ids under BOTH physical modes, Delta's actual design.

Export: ``add.baseRowId`` / ``add.defaultRowCommitVersion``, the
``delta.rowTracking`` domainMetadata action carrying the
rowIdHighWaterMark, the rowTracking+domainMetadata writer features, and
the materialized-column name in the config — an INDEPENDENT log-replay
reader (:func:`read_delta_row_ids`) reconstructs identical ids from the
``_delta_log`` alone, including through parquet checkpoints.
"""
from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.txlog import (
    TxLogTable,
    merge_into_txlog,
)


def _mk(spark, tmp_path, n=20):
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, float(k)) for k in range(n)], "k int, amt double"
        ).repartition(3),
    )
    t.set_properties({"delta.enableRowTracking": "true"})
    return t


def _ids(t, as_of=None):
    return {
        r["k"]: r["_row_id"]
        for r in t.read_with_row_ids(as_of=as_of).collect()
    }


def test_enablement_backfills_and_appends_fence(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ids0 = _ids(t)
    assert len(ids0) == 20
    vals = list(ids0.values())
    assert len(set(vals)) == 20 and all(v is not None for v in vals)
    hw0 = t.row_tracking_meta()[1]
    assert hw0 == max(vals)
    t.append(spark.createDataFrame([(100, 1.0), (101, 2.0)], "k int, amt double"))
    ids1 = _ids(t)
    assert all(ids1[k] == ids0[k] for k in ids0)
    assert min(ids1[100], ids1[101]) > hw0
    assert len(set(ids1.values())) == 22


def test_stability_across_dv_dml_optimize_restore(spark, tmp_path):
    """The verdict's done-criterion chain: UPDATE (dv) + OPTIMIZE +
    RESTORE, ids stable at every step; the watermark never regresses."""
    t = _mk(spark, tmp_path)
    t.delete_where("k % 5 = 1", mode="dv")  # v2
    ids_v2 = _ids(t)
    t.update_where("k = 2", {"amt": F.lit(999.0)}, mode="dv")
    ids_u = _ids(t)
    assert ids_u == ids_v2  # updated row KEEPS its id
    t.optimize(target_files=2)
    assert _ids(t) == ids_v2  # compaction materializes, ids stable
    # a post-optimize dv update still resolves the materialized ids
    t.update_where("k = 3", {"amt": F.lit(777.0)}, mode="dv")
    assert _ids(t) == ids_v2
    hw = t.row_tracking_meta()[1]
    t.restore(2)
    assert _ids(t) == ids_v2  # ids revert with the rows
    assert t.row_tracking_meta()[1] >= hw  # watermark monotone
    t.append(spark.createDataFrame([(400, 7.0)], "k int, amt double"))
    assert _ids(t)[400] > hw  # fresh ids fence beyond the OLD watermark
    # time travel reproduces historical ids
    assert _ids(t, as_of=2) == ids_v2


def test_dv_merge_preserves_matched_assigns_inserts(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ids0 = _ids(t)
    hw0 = t.row_tracking_meta()[1]
    merge_into_txlog(
        spark,
        t,
        spark.createDataFrame([(4, 555.0), (300, 6.0)], "k int, amt double"),
        ["k"],
        mode="dv",
    )
    ids1 = _ids(t)
    assert ids1[4] == ids0[4]  # update post-image keeps its id
    assert all(ids1[k] == ids0[k] for k in ids0)
    assert ids1[300] > hw0  # insert beyond the watermark
    assert len(set(ids1.values())) == len(ids1)


def test_cow_delete_update_preserve_ids(spark, tmp_path):
    """Round 12: copy-on-write DELETE/UPDATE materialize surviving
    rows' ids into the rewritten files — ids stable, deleted ids gone,
    nothing renumbered (the round-11 refusal is closed)."""
    t = _mk(spark, tmp_path)
    ids0 = _ids(t)
    t.delete_where("k % 5 = 1")  # COW: rewrites touched files
    ids1 = _ids(t)
    assert set(ids1) == {k for k in ids0 if k % 5 != 1}
    assert all(ids1[k] == ids0[k] for k in ids1)
    t.update_where("k = 2", {"amt": F.lit(999.0)})  # COW rewrite
    ids2 = _ids(t)
    assert ids2 == ids1  # updated row KEEPS its id
    got = {
        r["k"]: r["amt"] for r in t.read().collect()
    }
    assert got[2] == 999.0 and 1 not in got


def test_cow_merge_preserves_matched_assigns_inserts(spark, tmp_path):
    """COW MERGE twin of the dv test: matched post-images keep their
    ids by value, carried rows keep theirs, inserts fence beyond the
    watermark — simple form (whole-row) included."""
    t = _mk(spark, tmp_path)
    ids0 = _ids(t)
    hw0 = t.row_tracking_meta()[1]
    merge_into_txlog(
        spark,
        t,
        spark.createDataFrame([(4, 555.0), (300, 6.0)], "k int, amt double"),
        ["k"],
    )
    ids1 = _ids(t)
    assert ids1[4] == ids0[4]
    assert all(ids1[k] == ids0[k] for k in ids0)
    assert ids1[300] > hw0
    assert len(set(ids1.values())) == len(ids1)
    # the physical-only id column never leaks into the logical read
    assert "_rt_row_id" not in t.read().columns
    # simple-form whole-row contract stays loud through the conversion
    with pytest.raises(AssertionError, match="schemas must match"):
        merge_into_txlog(
            spark,
            t,
            spark.createDataFrame([(1,)], "k int"),
            ["k"],
        )


def test_cow_insert_only_merge_still_fences(spark, tmp_path):
    t = _mk(spark, tmp_path, n=5)
    hw0 = t.row_tracking_meta()[1]
    merge_into_txlog(
        spark,
        t,
        spark.createDataFrame([(50, 1.0)], "k int, amt double"),
        ["k"],
        clauses={"not_matched": [{"values": None}]},
    )
    assert _ids(t)[50] > hw0


def test_racing_append_unique_ids(spark, tmp_path):
    """A commit loser re-runs base assignment against the winner's fold
    — bases live ONLY in the log, so nothing stale can land."""
    import unittest.mock as mock

    t = _mk(spark, tmp_path)
    orig = TxLogTable.commit
    fired = {"done": False}

    def racing(self, *a, **kw):
        if not fired["done"] and kw.get("op") == "append":
            fired["done"] = True
            TxLogTable(spark, self.path).append(
                spark.createDataFrame([(200, 1.0)], "k int, amt double")
            )
        return orig(self, *a, **kw)

    with mock.patch.object(TxLogTable, "commit", racing):
        t.append(spark.createDataFrame([(300, 2.0)], "k int, amt double"))
    assert fired["done"]
    ids = list(_ids(t).values())
    assert len(set(ids)) == len(ids) == 22


def test_txlog_checkpoint_and_cleanup_keep_bases(spark, tmp_path, monkeypatch):
    """Checkpoint commits snapshot the full base map (row_base_state);
    cleanup_log truncating the head must not lose a retained file's
    base."""
    import airbnb_listings_data_pipelines_spark.operators.txlog as txmod

    monkeypatch.setattr(txmod, "_CHECKPOINT_EVERY", 5)
    t = _mk(spark, tmp_path, n=6)
    ids0 = _ids(t)
    for i in range(7):  # push past a checkpoint boundary (patched to 5)
        t.append(
            spark.createDataFrame([(1000 + i, float(i))], "k int, amt double")
        )
    t.cleanup_log(retain_versions=2)
    ids1 = _ids(t)
    assert all(ids1[k] == ids0[k] for k in ids0)
    assert len(set(ids1.values())) == len(ids1) == 13


def test_export_and_independent_reader_agree(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        delta_row_id_high_watermark,
        export_delta_log,
        read_delta_row_ids,
        write_delta_checkpoint,
    )

    t = _mk(spark, tmp_path)
    t.delete_where("k % 5 = 1", mode="dv")
    t.update_where("k = 2", {"amt": F.lit(999.0)}, mode="dv")
    t.optimize(target_files=2)
    merge_into_txlog(
        spark,
        t,
        spark.createDataFrame([(4, 5.0), (300, 6.0)], "k int, amt double"),
        ["k"],
        mode="dv",
    )
    export_delta_log(spark, t)
    native = {
        (r["k"], r["amt"], r["_row_id"])
        for r in t.read_with_row_ids().collect()
    }
    ext = {
        (r["k"], r["amt"], r["_row_id"])
        for r in read_delta_row_ids(spark, t.path).collect()
    }
    assert native == ext
    assert delta_row_id_high_watermark(spark, t.path) == (
        t.row_tracking_meta()[1]
    )
    dd = os.path.join(t.path, "_delta_log")
    # protocol: rowTracking + domainMetadata writer features; reader
    # version untouched by them (writer-only features)
    protos = []
    adds_with_base = 0
    for f in sorted(os.listdir(dd)):
        if not re.fullmatch(r"\d{20}\.json", f):
            continue
        for line in open(os.path.join(dd, f)):
            a = json.loads(line)
            if "protocol" in a:
                protos.append(a["protocol"])
            if "add" in a and a["add"].get("baseRowId") is not None:
                adds_with_base += 1
                assert "defaultRowCommitVersion" in a["add"]
    assert {"rowTracking", "domainMetadata"} <= set(
        protos[-1].get("writerFeatures") or []
    )
    assert adds_with_base > 0
    # checkpoint + head cleanup: bases and the domain survive in the
    # parquet checkpoint (add.baseRowId column + domainMetadata rows)
    hw = delta_row_id_high_watermark(spark, t.path)
    v = write_delta_checkpoint(spark, t.path)
    for f in sorted(os.listdir(dd)):
        if re.fullmatch(r"\d{20}\.json", f) and int(f.split(".")[0]) < v:
            os.remove(os.path.join(dd, f))
    assert {
        (r["k"], r["amt"], r["_row_id"])
        for r in read_delta_row_ids(spark, t.path).collect()
    } == native
    assert delta_row_id_high_watermark(spark, t.path) == hw


def test_read_refuses_without_property(spark, tmp_path):
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 1.0)], "k int, amt double"),
    )
    with pytest.raises(ValueError, match="row tracking is not enabled"):
        t.read_with_row_ids()
    # and plain reads never see the physical column on tracked tables
    t2 = TxLogTable.create(
        spark,
        str(tmp_path / "t2"),
        spark.createDataFrame(
            [(k, float(k)) for k in range(4)], "k int, amt double"
        ),
    )
    t2.set_properties({"delta.enableRowTracking": "true"})
    t2.optimize(target_files=1)  # writes materialized _rt_row_id
    assert set(t2.read().columns) == {"k", "amt"}


def test_export_backfills_pre_enablement_files(spark, tmp_path):
    """Review finding (round 11): files live BEFORE enablement were
    exported without add.baseRowId and never re-committed — the mirror's
    row-id reader hard-failed unless an OPTIMIZE happened to rewrite
    them first. The enablement version now re-commits them."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        export_delta_log,
        read_delta_row_ids,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, float(k)) for k in range(6)], "k int, amt double"
        ).repartition(2),
    )
    export_delta_log(spark, t)  # pre-enablement export: no baseRowIds
    t.set_properties({"delta.enableRowTracking": "true"})
    t.append(spark.createDataFrame([(100, 1.0)], "k int, amt double"))
    export_delta_log(spark, t)
    native = {
        (r["k"], r["_row_id"]) for r in t.read_with_row_ids().collect()
    }
    ext = {
        (r["k"], r["_row_id"])
        for r in read_delta_row_ids(spark, t.path).collect()
    }
    assert native == ext and len(native) == 7


def test_export_backfill_keeps_deletion_vectors(spark, tmp_path):
    """Enabling row tracking re-commits every live file to give it a
    baseRowId. A re-committed file that already carries a deletion
    vector must keep it: an add without its vector resurrects the
    deleted rows for every Delta reader at and after that version."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, float(k)) for k in range(6)], "k int, amt double"
        ).repartition(2),
    )
    t.delete_where("k = 1", mode="dv")
    t.set_properties({"delta.enableRowTracking": "true"})
    t.to_delta_log()
    for v in range(t.version() + 1):
        got = read_delta_snapshot(spark, t.path, version=v).collect()
        want = t.read_version(v).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), f"v{v}"


def test_full_rewrite_merge_preserves_ids(spark, tmp_path):
    """rewrite='full' rewrites EVERY live file — the case round 11
    refused; round 12 materializes ids through the full rewrite, so
    even an insert-only clause set preserves every existing id."""
    t = _mk(spark, tmp_path, n=6)
    ids0 = _ids(t)
    hw0 = t.row_tracking_meta()[1]
    merge_into_txlog(
        spark,
        t,
        spark.createDataFrame([(50, 1.0)], "k int, amt double"),
        ["k"],
        clauses={"not_matched": [{"values": None}]},
        rewrite="full",
    )
    ids1 = _ids(t)
    assert all(ids1[k] == ids0[k] for k in ids0)
    assert ids1[50] > hw0
    assert len(set(ids1.values())) == 7


def test_cow_dml_cdc_feed_stays_logical(spark, tmp_path):
    """cdc sidecars carry LOGICAL rows only — the physical _rt_row_id
    column must not leak into the change feed of a COW DML on a
    row-tracking table."""
    t = _mk(spark, tmp_path, n=6)
    t.update_where("k = 2", {"amt": F.lit(42.0)}, cdc=True)
    t.delete_where("k = 3", cdc=True)
    ch = t.read_changes(2, t.version())
    assert "_rt_row_id" not in ch.columns
    kinds = {
        (r["k"], r["_change_type"])
        for r in ch.collect()
    }
    # internal feed maps update_pre/postimage to delete/insert
    assert (2, "insert") in kinds and (3, "delete") in kinds


def test_rt_state_survives_checkpoint_while_disabled(spark, tmp_path):
    """Review finding (round 11): once row-tracking state exists it must
    ride EVERY metadata-complete checkpoint, even while the property is
    false — otherwise cleanup_log can truncate the commits holding the
    watermark and a re-enable backfills from hw=-1 over files still
    carrying old materialized ids (duplicate ids)."""
    t = _mk(spark, tmp_path, n=6)
    t.optimize(target_files=1)  # materializes ids into the data file
    ids0 = _ids(t)
    hw0 = t.row_tracking_meta()[1]
    t.set_properties({"delta.enableRowTracking": "false"})
    for i in range(3):
        t.append(
            spark.createDataFrame([(1000 + i, 1.0)], "k int, amt double")
        )
    # cleanup_log's own commit IS a metadata-complete checkpoint,
    # written while the property is false — the exact failure window
    t.cleanup_log(retain_versions=1)
    _b, hw_after = t.row_tracking_meta()
    assert hw_after >= hw0  # watermark survived truncation
    t.set_properties({"delta.enableRowTracking": "true"})
    ids1 = _ids(t)
    assert all(ids1[k] == ids0[k] for k in ids0)  # old ids intact
    assert len(set(ids1.values())) == len(ids1)  # and no duplicates


def test_clone_carries_row_ids(spark, tmp_path):
    """Clone carries row-tracking state BY VALUE: the hardlinked files'
    materialized _rt_row_id columns hold the source's ids, so fresh
    base assignment at clone commit 0 would mix two id spaces (possible
    duplicates). Bases + watermark carry over; ids are identical and
    the clone's appends fence beyond the source's watermark."""
    t = _mk(spark, tmp_path, n=8)
    t.update_where("k = 2", {"amt": F.lit(9.0)}, mode="dv")
    t.optimize(target_files=1)  # materializes ids
    src_ids = _ids(t)
    c = t.clone(str(tmp_path / "c"))
    clone_ids = {
        r["k"]: r["_row_id"] for r in c.read_with_row_ids().collect()
    }
    assert clone_ids == src_ids
    hw = t.row_tracking_meta()[1]
    c.append(spark.createDataFrame([(500, 1.0)], "k int, amt double"))
    got = {r["k"]: r["_row_id"] for r in c.read_with_row_ids().collect()}
    assert got[500] > hw
    assert len(set(got.values())) == len(got)


def test_x103_chain_gates(spark, tmp_path):
    """The id-stability gates trimmed OUT of registry query x103
    (round 12): DV DELETE + DV UPDATE + OPTIMIZE + DV MERGE, then (a)
    survivors keep their pre-DML ids, (b) re-inserts fence beyond the
    pre-DML watermark, (c) the independent _delta_log replay reader
    reproduces the native (row, id) set exactly."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        export_delta_log,
        read_delta_row_ids,
    )

    rows = [(k, "OFP"[k % 3]) for k in range(84)]
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(rows, "k int, st string").repartition(4),
    )
    t.set_properties({"delta.enableRowTracking": "true"})
    pre = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    hw0 = t.row_tracking_meta()[1]
    t.delete_where("k % 7 = 3", mode="dv")
    t.update_where("k % 5 = 2", {"st": F.lit("U")}, mode="dv")
    t.optimize(target_files=2)
    merge_into_txlog(
        spark,
        t,
        spark.createDataFrame(
            [(k, "M") for k in range(84) if k % 6 == 2], "k int, st string"
        ),
        ["k"],
        mode="dv",
    )
    final = {
        r["k"]: (r["st"], r["_row_id"])
        for r in t.read_with_row_ids().collect()
    }
    for k, (_st, rid) in final.items():
        if k % 7 != 3:
            assert rid == pre[k], f"survivor {k} moved"
        else:
            assert k % 6 == 2 and rid > hw0, f"re-insert {k} unfenced"
    export_delta_log(spark, t)
    ext = {
        r["k"]: (r["st"], r["_row_id"])
        for r in read_delta_row_ids(spark, t.path).collect()
    }
    assert ext == final


def test_merge_refuses_assigning_reserved_id_column(spark, tmp_path):
    """Round-12 review finding: the target frame carries _rt_row_id as
    an ordinary column for the rewrite, so clause validation alone
    would accept SET/INSERT of it and silently corrupt stable ids —
    engine-owned, refused like identity columns, in BOTH modes."""
    t = _mk(spark, tmp_path, n=5)
    src = spark.createDataFrame([(1, 9.0)], "k int, amt double")
    for mode in ("cow", "dv"):
        with pytest.raises(ValueError, match="engine-assigned"):
            merge_into_txlog(
                spark, t, src, ["k"], mode=mode,
                clauses={"matched": [
                    {"action": "update", "set": {"_rt_row_id": "0"}}
                ]},
            )
        with pytest.raises(ValueError, match="reserved column"):
            merge_into_txlog(
                spark,
                t,
                src.withColumn("_rt_row_id", F.lit(0)),
                ["k"],
                mode=mode,
                evolve_schema=True,
            )
    # and the ids are untouched by the refused attempts
    assert len(set(_ids(t).values())) == 5
