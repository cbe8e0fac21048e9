"""Clustered tables (Delta's CLUSTER BY / liquid-clustering surface —
the ``clustering`` writer feature + the ``delta.clustering`` domain):
``cluster_by(cols)`` records the clustering columns in one metadata
commit; ``optimize()`` then Z-orders along them WITHOUT restating
(Delta's operational shape — this engine's physical realization is the
Morton-curve rewrite; Delta's incremental ZCube maintenance optimizes
WHEN to rewrite, not the layout contract). Recorded clustering survives
checkpoints/cleanup, reverts with RESTORE, and exports as the
``delta.clustering`` domainMetadata action under the clustering writer
feature."""
from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.txlog import (
    TxLogTable,
    footer_stats_dict,
)


def _mk(spark, tmp_path, n=4000):
    return TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, k * 7 % 100, float(k)) for k in range(n)],
            "a bigint, b bigint, amt double",
        ).repartition(8),
    )


def _envelope_width(t, col):
    _v, files, _d = t._replay_full()
    tot = 0
    for f in files:
        st = footer_stats_dict(os.path.join(t.path, f))
        tot += st["maxValues"][col] - st["minValues"][col]
    return tot, len(files)


def test_cluster_by_drives_optimize_and_skipping(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.cluster_by(["a", "b"])
    assert t.clustering_columns() == ["a", "b"]
    t.optimize(target_files=8)  # no zorder_by: clustering columns drive
    # file envelopes are tight on BOTH columns — a single-column sort
    # could only tighten one
    wa, n = _envelope_width(t, "a")
    wb, _ = _envelope_width(t, "b")
    assert wa < n * 4000 * 0.75, (wa, n)
    assert wb < n * 100 * 0.75, (wb, n)
    # and pruning actually skips files on the SECOND clustering column
    _v, files, _d = t._replay_full()
    hit = t._prune_files(files, "b", 10, 20)
    assert len(hit) < len(files)
    got = sorted(
        r["a"] for r in t.read_where("b", 10, 20).collect()
    )
    assert got == sorted(k for k in range(4000) if 10 <= k * 7 % 100 <= 20)


def test_refusals_uncluster_restore(spark, tmp_path):
    p = TxLogTable.create(
        spark,
        str(tmp_path / "p"),
        spark.createDataFrame([(1, 2, 3)], "a int, b int, c int"),
        partition_by=["c"],
    )
    with pytest.raises(ValueError, match="absent"):
        p.cluster_by(["zz"])
    # Delta disallows clustering + partitioning on one table ENTIRELY
    # (round-12 review finding: previously only overlap was refused)
    with pytest.raises(ValueError, match="not both"):
        p.cluster_by(["a"])
    t = TxLogTable.create(
        spark,
        str(tmp_path / "u"),
        spark.createDataFrame([(1, 2, 3)], "a int, b int, c int"),
    )
    t.cluster_by(["a"])
    v_cl = t.version()
    t.cluster_by([])  # un-cluster
    assert t.clustering_columns() == []
    t.restore(v_cl)
    assert t.clustering_columns() == ["a"]
    # full=True contract (round-12 review finding): refuses explicit
    # zorder and non-clustered tables instead of silently ignoring
    with pytest.raises(ValueError, match="cannot combine"):
        t.optimize(zorder_by=["a"], full=True)
    with pytest.raises(ValueError, match="requires a clustered"):
        p.optimize(full=True)


def test_checkpoint_cleanup_no_resurrection(spark, tmp_path, monkeypatch):
    """An un-cluster commit truncated by cleanup_log must not let an
    older retained checkpoint's columns resurrect — metadata-complete
    checkpoints snapshot even the EMPTY list."""
    import airbnb_listings_data_pipelines_spark.operators.txlog as txmod

    monkeypatch.setattr(txmod, "_CHECKPOINT_EVERY", 5)
    t = _mk(spark, tmp_path, n=10)
    t.cluster_by(["a"])
    for i in range(6):  # cross a checkpoint boundary while clustered
        t.append(
            spark.createDataFrame(
                [(1000 + i, 0, 0.0)], "a bigint, b bigint, amt double"
            )
        )
    t.cluster_by([])  # un-cluster
    for i in range(6):  # cross ANOTHER checkpoint boundary
        t.append(
            spark.createDataFrame(
                [(2000 + i, 0, 0.0)], "a bigint, b bigint, amt double"
            )
        )
    t.cleanup_log(retain_versions=2)
    assert t.clustering_columns() == []


def test_export_domain_and_protocol(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        export_delta_log,
        write_delta_checkpoint,
    )

    t = _mk(spark, tmp_path, n=100)
    t.cluster_by(["a", "b"])
    t.optimize(target_files=2)
    export_delta_log(spark, t)
    dd = os.path.join(t.path, "_delta_log")
    st = _replay_delta_log(dd)
    assert json.loads(
        st.domains["delta.clustering"]["configuration"]
    )["clusteringColumns"] == [["a"], ["b"]]
    assert {"clustering", "domainMetadata"} <= set(
        st.protocol.get("writerFeatures") or []
    )
    assert st.protocol["minReaderVersion"] == 1  # writer-only features
    # the domain survives a parquet checkpoint + head cleanup
    import re

    v = write_delta_checkpoint(spark, t.path)
    for f in sorted(os.listdir(dd)):
        if re.fullmatch(r"\d{20}\.json", f) and int(f.split(".")[0]) < v:
            os.remove(os.path.join(dd, f))
    st2 = _replay_delta_log(dd)
    assert "delta.clustering" in st2.domains


def test_rename_drop_clustering_column_refused(spark, tmp_path):
    """Review finding (round 11): a rename/drop of a clustering column
    would leave the recorded clustering list (and the exported
    delta.clustering domain) naming a nonexistent column — bare
    OPTIMIZE would then die on AnalysisException."""
    t = _mk(spark, tmp_path, n=10)
    t.cluster_by(["a"])
    with pytest.raises(ValueError, match="clustering column"):
        t.rename_column("a", "a2")
    with pytest.raises(ValueError, match="clustering column"):
        t.drop_column("a")
    t.cluster_by(["b"])  # re-cluster without it, then both work
    t.rename_column("a", "a2")
    assert t.clustering_columns() == ["b"]
    t.optimize()  # bare OPTIMIZE still resolves


def test_export_domain_physical_names_under_mapping(spark, tmp_path):
    """Review finding (round 11): under column mapping the spec stores
    PHYSICAL names in clusteringColumns — external engines resolve the
    domain against the files, not the logical schema."""
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        export_delta_log,
    )

    t = _mk(spark, tmp_path, n=50)
    t.rename_column("amt", "amount")  # flips the table to mapped mode
    t.cluster_by(["a", "amount"])
    t.optimize(target_files=1)
    export_delta_log(spark, t)
    st = _replay_delta_log(os.path.join(t.path, "_delta_log"))
    cols = json.loads(
        st.domains["delta.clustering"]["configuration"]
    )["clusteringColumns"]
    mapping = t._snapshot().mapping
    assert cols == [[mapping["a"]], [mapping["amount"]]]
    # amount's physical name is the pre-rename one
    assert mapping["amount"] == "amt"


def test_create_table_partitioned_and_clustered_refused(spark, tmp_path):
    """Review finding (round 11): Delta disallows clustering and
    partitioning on the same table entirely — the DDL must refuse, not
    silently accept a combination the mirrored log can't express."""
    from airbnb_listings_data_pipelines_spark.functions.tx_sql import (
        TxSqlSession,
    )

    sess = TxSqlSession(spark, {"x": str(tmp_path / "x")})
    with pytest.raises(ValueError, match="one or the other"):
        sess.execute(
            "CREATE TABLE x (a BIGINT, b BIGINT, c BIGINT) "
            "PARTITIONED BY (c) CLUSTER BY (a)"
        )


def test_sql_surface(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.functions.tx_sql import (
        TxSqlSession,
    )

    t = _mk(spark, tmp_path, n=10)
    sess = TxSqlSession(spark, {"t": t.path})
    sess.execute("ALTER TABLE t CLUSTER BY (a, b)")
    assert t.clustering_columns() == ["a", "b"]
    sess.execute("ALTER TABLE t CLUSTER BY NONE")
    assert t.clustering_columns() == []


def test_create_table_cluster_by_sql(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.functions.tx_sql import (
        TxSqlSession,
    )

    sess = TxSqlSession(spark, {"c": str(tmp_path / "c")})
    sess.execute(
        "CREATE TABLE c (a BIGINT, b BIGINT, amt DOUBLE) CLUSTER BY (a, b)"
    )
    t = sess.table("c")
    assert t.clustering_columns() == ["a", "b"]
    sess.execute("INSERT INTO c SELECT id, id * 7 % 100, id * 1.0 FROM range(0, 200)")
    sess.execute("OPTIMIZE c")  # clusters along (a, b) without restating
    assert sess.execute("SELECT COUNT(*) AS n FROM c").collect()[0]["n"] == 200


def test_incremental_reclustering(spark, tmp_path):
    """Liquid-style maintenance (round 12): after the initial clustering
    pass, a bare OPTIMIZE rewrites ONLY files added since — the
    already-clustered files survive by identity, so recluster cost
    tracks the batch, not the table."""
    t = _mk(spark, tmp_path, n=2000)
    t.cluster_by(["a", "b"])
    t.optimize(target_files=4)  # initial pass: everything untagged
    _v, clustered_files, _ = t._replay_full()
    assert len(clustered_files) == 4
    v_clustered = t.version()
    # fully clustered: bare OPTIMIZE is a NO-OP (no commit)
    assert t.optimize() == v_clustered
    # ingest a new batch, then incrementally recluster
    t.append(
        spark.createDataFrame(
            [(9000 + i, i % 100, float(i)) for i in range(500)],
            "a bigint, b bigint, amt double",
        ).repartition(3)
    )
    t.optimize(target_files=2)
    _v, files_after, _ = t._replay_full()
    # every file of the initial pass is STILL LIVE — untouched
    assert set(clustered_files) <= set(files_after)
    new_files = set(files_after) - set(clustered_files)
    assert len(new_files) == 2  # the batch's own ZCube
    assert t.read().count() == 2500
    # pruning still exact across both ZCubes
    got = sorted(r["a"] for r in t.read_where("b", 10, 12).collect())
    want = sorted(
        [k for k in range(2000) if 10 <= k * 7 % 100 <= 12]
        + [9000 + i for i in range(500) if 10 <= i % 100 <= 12]
    )
    assert got == want
    # changing the clustering columns invalidates every tag
    t.cluster_by(["b"])
    v0 = t.version()
    t.optimize(target_files=3)
    assert t.version() == v0 + 1
    _v, files_b, _ = t._replay_full()
    assert len(files_b) == 3  # whole snapshot re-clustered
    # OPTIMIZE FULL forces the global merge pass even when tagged
    t.append(
        spark.createDataFrame([(1, 2, 3.0)], "a bigint, b bigint, amt double")
    )
    t.optimize(target_files=1, full=True)
    _v, files_full, _ = t._replay_full()
    assert len(files_full) == 1
    assert t.read().count() == 2501


def test_sql_optimize_full_and_row_tracking_props(spark, tmp_path):
    """Round-12 SQL surface: OPTIMIZE t FULL forces the global recluster
    on a clustered table, and SET TBLPROPERTIES
    ('delta.enableRowTracking'='true') enables + backfills through the
    dialect front-end (the property commit is the enablement)."""
    from airbnb_listings_data_pipelines_spark.functions.tx_sql import (
        TxSqlSession,
    )

    t = _mk(spark, tmp_path, n=300)
    sess = TxSqlSession(spark, {"t": t.path})
    sess.execute("ALTER TABLE t CLUSTER BY (a, b)")
    sess.execute("OPTIMIZE t")  # initial pass
    _v, pass1, _ = t._replay_full()
    sess.execute(
        "INSERT INTO t SELECT id + 5000, id % 100, id * 1.0 "
        "FROM range(0, 50)"
    )
    sess.execute("OPTIMIZE t")  # incremental: pass1 files survive
    _v, live, _ = t._replay_full()
    assert set(pass1) <= set(live)
    sess.execute("OPTIMIZE t FULL")  # global pass: pass1 files retired
    _v, full_files, _ = t._replay_full()
    assert not (set(pass1) & set(full_files))
    with pytest.raises(ValueError, match="cannot combine"):
        sess.execute("OPTIMIZE t ZORDER BY (a) FULL")
    # row tracking through SET TBLPROPERTIES: enablement backfills
    sess.execute(
        "ALTER TABLE t SET TBLPROPERTIES ('delta.enableRowTracking' = 'true')"
    )
    ids = [r["_row_id"] for r in t.read_with_row_ids().collect()]
    assert len(ids) == 350 and len(set(ids)) == 350
    # and COW DML through SQL preserves the ids (round-12 closure)
    pre = {
        r["a"]: r["_row_id"] for r in t.read_with_row_ids().collect()
    }
    sess.execute("DELETE FROM t WHERE a % 10 = 1")
    got = {r["a"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    assert all(got[a] == pre[a] for a in got)
    assert set(got) == {a for a in pre if a % 10 != 1}
