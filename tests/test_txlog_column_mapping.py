"""RENAME/DROP COLUMN via column mapping (Delta's columnMapping=name
design): logical names change as METADATA-ONLY commits; physical parquet
column names never change once written, so zero files are rewritten at
any table size. Reads resolve logical -> physical and alias back; writes
rename at the _write_data chokepoint; a re-added dropped name maps to a
FRESH physical name so dropped data can never resurrect. Time travel is
exact across both operations (schema AND mapping are per-version)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.txlog import (
    CheckViolation,
    TxLogTable,
)


def _t(spark, tmp_path, rows=((1, 10.0), (2, 20.0))):
    return TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(list(rows), "k int, price double").coalesce(1),
    )


def test_rename_is_metadata_only_and_exact(spark, tmp_path):
    t = _t(spark, tmp_path)
    files_before = set(t.files())
    v = t.rename_column("price", "amount")
    assert set(t.files()) == files_before, "rename rewrote data files"
    assert t.read().columns == ["k", "amount"]
    assert {(r.k, r.amount) for r in t.read().collect()} == {(1, 10.0), (2, 20.0)}
    # time travel: the old logical name before the rename
    assert t.read_version(v - 1).columns == ["k", "price"]
    # writes after the rename: new logical name in, physical stays stable
    t.append(spark.createDataFrame([(3, 30.0)], "k int, amount double"))
    assert {r.amount for r in t.read().collect()} == {10.0, 20.0, 30.0}
    # the OLD name is now an unknown extra column — rejected loudly
    with pytest.raises(ValueError, match="absent from table"):
        t.append(spark.createDataFrame([(4, 40.0)], "k int, price double"))
    # DML through the mapping: predicate + assignment on the new name
    t.update_where("amount = 10.0", {"amount": F.col("amount") + 1.0})
    t.delete_where("amount = 30.0")
    assert {(r.k, r.amount) for r in t.read().collect()} == {(1, 11.0), (2, 20.0)}


def test_drop_and_readd_never_resurrects(spark, tmp_path):
    t = _t(spark, tmp_path)
    v_drop = t.drop_column("price")
    assert t.read().columns == ["k"]
    assert "price" in t.read_version(v_drop - 1).columns  # time travel exact
    # re-adding the same logical name maps to a FRESH physical column:
    # the old files' stored values must NOT come back
    t.add_column("price", "double")
    assert {(r.k, r.price) for r in t.read().collect()} == {(1, None), (2, None)}
    t.append(spark.createDataFrame([(3, 99.0)], "k int, price double"))
    assert {(r.k, r.price) for r in t.read().collect()} == {
        (1, None),
        (2, None),
        (3, 99.0),
    }


def test_mapping_guards(spark, tmp_path):
    t = TxLogTable.create(
        spark,
        str(tmp_path / "p"),
        spark.createDataFrame(
            [(1, "a", 10.0)], "k int, part string, price double"
        ),
        partition_by=["part"],
    )
    with pytest.raises(ValueError, match="partition column"):
        t.rename_column("part", "region")
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("part")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("price", "k")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("ghost", "x")
    t.add_check("price_pos", "price >= 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.rename_column("price", "amount")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.drop_column("price")
    t.drop_check("price_pos")
    t.rename_column("price", "amount")  # now allowed
    assert t.read().columns == ["k", "part", "amount"]


def test_checks_enforced_through_mapping(spark, tmp_path):
    """A CHECK added AFTER a rename references the new logical name; the
    write-time enforcement scan must resolve it against files that carry
    the old physical name."""
    t = _t(spark, tmp_path)
    t.rename_column("price", "amount")
    t.add_check("amount_pos", "amount >= 0")
    with pytest.raises(CheckViolation, match="amount_pos"):
        t.append(spark.createDataFrame([(9, -1.0)], "k int, amount double"))
    t.append(spark.createDataFrame([(3, 30.0)], "k int, amount double"))
    assert {r.k for r in t.read().collect()} == {1, 2, 3}


def test_restore_reverts_mapping(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.rename_column("price", "amount")
    t.restore(0)
    assert t.read().columns == ["k", "price"]
    assert {(r.k, r.price) for r in t.read().collect()} == {(1, 10.0), (2, 20.0)}
    t.append(spark.createDataFrame([(3, 30.0)], "k int, price double"))
    assert {r.price for r in t.read().collect()} == {10.0, 20.0, 30.0}


def test_change_feed_and_read_where_through_mapping(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.rename_column("price", "amount")  # v1
    t.delete_where("amount = 10.0")  # v2
    feed = t.read_changes(2, 2)
    assert {(r._change_type, r.k, r.amount) for r in feed.collect()} == {
        ("delete", 1, 10.0)
    }
    # footer-stats skipping translates logical -> physical for the lookup
    got = {r.k for r in t.read_where("amount", 15.0, 25.0).collect()}
    assert got == {2}


def test_delta_export_of_mapped_table_roundtrips(spark, tmp_path):
    """Delta export of a renamed+dropped+re-added table (protocol
    reader 2 / writer 5, columnMapping=name): the independent log-replay
    reader matches the native reader row-for-row at EVERY version, the
    upgrade commit carries the mode=name configuration + per-field
    physicalName metadata, a commit that records no schema keeps the
    logical names, and incremental re-export after further DML stays
    green. Reference: delta.io PROTOCOL.md 'Column Mapping'."""
    import json as _json

    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
        read_delta_where,
    )

    t = _t(spark, tmp_path)
    t.to_delta_log()  # v0 exported pre-mapping (stays reader v1)
    t.rename_column("price", "amount")  # v1: activates columnMapping
    # v2 records no schema: its exported metaData must still carry the
    # table's schema (logical names), not a data file's physical footer
    t.set_properties({"team": "core"})
    t.drop_column("k")  # v3: schema narrows to [amount]
    t.add_column("note", "string")  # v4
    t.append(
        spark.createDataFrame(
            [(30.0, "x")], "amount double, note string"
        ).coalesce(1)
    )  # v5
    t.to_delta_log()
    for v in range(t.version() + 1):
        d = read_delta_snapshot(spark, str(tmp_path / "t"), version=v)
        n = t.read_version(v)
        assert d.columns == n.columns, f"v{v} columns"
        assert sorted(map(tuple, d.collect())) == sorted(
            map(tuple, n.collect())
        ), f"v{v} rows"
    # the upgrade commit: protocol 2/5 + annotated metaData
    dl = str(tmp_path / "t" / "_delta_log")
    acts = [
        _json.loads(ln)
        for ln in open(os.path.join(dl, f"{1:020d}.json"))
        if ln.strip()
    ]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto == {"minReaderVersion": 2, "minWriterVersion": 5}
    md = next(a["metaData"] for a in acts if "metaData" in a)
    assert md["configuration"]["delta.columnMapping.mode"] == "name"
    fields = _json.loads(md["schemaString"])["fields"]
    by_name = {f["name"]: f["metadata"] for f in fields}
    assert by_name["amount"]["delta.columnMapping.physicalName"] == "price"
    assert by_name["k"]["delta.columnMapping.physicalName"] == "k"
    ids = [f["metadata"]["delta.columnMapping.id"] for f in fields]
    assert len(set(ids)) == len(ids) and all(isinstance(i, int) for i in ids)
    # stats-driven skipping resolves the logical name through the mapping
    got = {
        r.amount
        for r in read_delta_where(
            spark, str(tmp_path / "t"), "amount", 15.0, 25.0
        ).collect()
    }
    assert got == {20.0}
    # incremental re-export after more DML under the mapping
    t.delete_where("amount = 10.0")
    t.to_delta_log()
    d = read_delta_snapshot(spark, str(tmp_path / "t"))
    assert sorted(map(tuple, d.collect())) == sorted(
        map(tuple, t.read().collect())
    )


def test_delta_export_fresh_physical_name_on_readd(spark, tmp_path):
    """DROP then re-ADD of the same logical name: the export's field
    metadata carries the FRESH physical name and a NEW column id (never
    reused — maxColumnId is the high-water mark), and external replay
    null-fills the re-added column for pre-drop files instead of
    resurrecting dropped values."""
    import json as _json

    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
    )

    t = _t(spark, tmp_path)
    t.rename_column("price", "amount")  # activate mapping
    t.drop_column("amount")
    t.add_column("amount", "double")  # fresh physical name
    t.to_delta_log()
    d = read_delta_snapshot(spark, str(tmp_path / "t"))
    assert {(r.k, r.amount) for r in d.collect()} == {(1, None), (2, None)}
    dl = str(tmp_path / "t" / "_delta_log")
    last_md = None
    for v in range(t.version() + 1):
        p = os.path.join(dl, f"{v:020d}.json")
        for ln in open(p):
            a = _json.loads(ln)
            if "metaData" in a:
                last_md = a["metaData"]
    fields = _json.loads(last_md["schemaString"])["fields"]
    amt = next(f for f in fields if f["name"] == "amount")
    ph = amt["metadata"]["delta.columnMapping.physicalName"]
    assert ph not in ("price", "amount"), "re-add must mint a fresh physical name"
    max_id = int(last_md["configuration"]["delta.columnMapping.maxColumnId"])
    assert amt["metadata"]["delta.columnMapping.id"] == max_id


def test_delta_checkpoint_preserves_mapping_state(spark, tmp_path):
    """A parquet checkpoint of a column-mapped export must carry the
    protocol (2/5) and the annotated metaData through — a reader
    bootstrapping from the checkpoint alone still resolves physical
    columns correctly."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
        write_delta_checkpoint,
    )

    t = _t(spark, tmp_path)
    t.rename_column("price", "amount")
    t.append(spark.createDataFrame([(3, 30.0)], "k int, amount double"))
    t.to_delta_log()
    write_delta_checkpoint(spark, str(tmp_path / "t"))
    d = read_delta_snapshot(spark, str(tmp_path / "t"))
    assert d.columns == ["k", "amount"]
    assert sorted(map(tuple, d.collect())) == sorted(
        map(tuple, t.read().collect())
    )


def test_convert_from_delta_adopts_mapped_table(spark, tmp_path):
    """CONVERT FROM DELTA of a columnMapping=name table: the physicalName
    field metadata becomes the txlog column_mapping, reads alias back to
    logical names, and a later re-add mints a fresh physical name (the
    mapping is active from adoption)."""
    import shutil

    t = _t(spark, tmp_path)
    t.rename_column("price", "amount")
    t.to_delta_log()
    expect = sorted(map(tuple, t.read().collect()))
    shutil.rmtree(t.log_dir)
    c = TxLogTable.convert_from_delta(spark, str(tmp_path / "t"))
    assert c.read().columns == ["k", "amount"]
    assert sorted(map(tuple, c.read().collect())) == expect
    # mapping is live: dropping and re-adding cannot resurrect old bytes
    c.drop_column("amount")
    c.add_column("amount", "double")
    assert {(r.k, r.amount) for r in c.read().collect()} == {(1, None), (2, None)}


def test_clone_carries_mapping(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.rename_column("price", "amount")
    c = t.clone(str(tmp_path / "c"))
    assert c.read().columns == ["k", "amount"]
    assert {(r.k, r.amount) for r in c.read().collect()} == {(1, 10.0), (2, 20.0)}
    c.append(spark.createDataFrame([(3, 30.0)], "k int, amount double"))
    assert {r.k for r in c.read().collect()} == {1, 2, 3}


def test_datasource_reads_mapped_table(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.sources import txlog_source

    txlog_source.register(spark)
    t = _t(spark, tmp_path)
    t.rename_column("price", "amount")
    t.drop_column("amount")
    t.add_column("amount", "double")
    t.append(spark.createDataFrame([(3, 42.0)], "k int, amount double"))
    got = spark.read.format("txlog").load(t.path)
    assert got.columns == ["k", "amount"]
    assert {(r.k, r.amount) for r in got.collect()} == {
        (1, None),
        (2, None),
        (3, 42.0),
    }
    # time travel through the DataSource reads the pre-rename binding
    v0 = spark.read.format("txlog").option("versionAsOf", 0).load(t.path)
    assert v0.columns == ["k", "price"]
    assert {(r.k, r.price) for r in v0.collect()} == {(1, 10.0), (2, 20.0)}


# ------------------------------------------- review-fix regressions


def test_evolving_merge_respects_mapping_fresh_name_rule(spark, tmp_path):
    """merge_into_txlog(evolve_schema=True) re-introducing a DROPPED
    logical name must behave like add_column: fresh physical name, so
    untouched pre-drop files null-fill instead of resurrecting the old
    values."""
    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        merge_into_txlog,
    )

    t = _t(spark, tmp_path, rows=((1, 10.0), (2, 20.0)))
    t.drop_column("price")  # files still physically carry 'price'
    merge_into_txlog(
        spark,
        t,
        spark.createDataFrame([(2, 99.0)], "k int, price double"),
        ["k"],
        evolve_schema=True,
    )
    got = {(r.k, r.price) for r in t.read().collect()}
    # k=1's file was untouched by the merge: its old price must NOT
    # resurrect; k=2 was rewritten with the merged value
    assert got == {(1, None), (2, 99.0)}, got
    # and the mapping records a fresh physical name for the column
    m = t._snapshot().mapping
    assert m["price"] != "price"


def test_rename_retry_preserves_concurrent_add_column(spark, tmp_path):
    """A rename losing its commit race to an add_column must recompute
    its payload: committing the pre-conflict schema/mapping would erase
    the concurrently added column."""
    t = _t(spark, tmp_path)
    t2 = TxLogTable(spark, t.path)
    orig = t._try_commit
    fired = {}

    def race(version, adds, removes, op, extra=None):
        if op == "rename_column" and "v" not in fired:
            fired["v"] = t2.add_column("extra", "int")
        return orig(version, adds=adds, removes=removes, op=op, extra=extra)

    t._try_commit = race
    t.rename_column("price", "amount")
    assert fired["v"] == 1 and t.version() == 2
    cols = t.read().columns
    assert "extra" in cols and "amount" in cols, (
        f"rename retry erased concurrent evolution: {cols}"
    )


def test_invalid_rename_target_names_rejected(spark, tmp_path):
    t = _t(spark, tmp_path)
    for bad in ("total.price", "a b", "x`y", "", "1col", "a/b", "a=b"):
        with pytest.raises(ValueError, match="invalid column name"):
            t.rename_column("price", bad)


def test_read_changes_skips_optimize_and_keeps_schema_on_empty(spark, tmp_path):
    """OPTIMIZE is dataChange=false: excluded from the feed entirely.
    And an empty range returns to_version's schema, not the current
    table's — successive polls must union cleanly by name."""
    t = _t(spark, tmp_path)
    t.optimize(target_files=1)  # v1: rewrite, logically a no-op
    assert t.read_changes(1, 1).count() == 0
    t.add_column("extra", "int")  # v2 (schema evolves AFTER the range)
    empty = t.read_changes(1, 1)
    assert "extra" not in empty.columns, (
        "empty feed leaked the CURRENT schema instead of to_version's"
    )
    assert empty.columns == ["k", "price", "_change_type", "_commit_version"]


def test_stream_source_survives_auto_compaction(spark, tmp_path):
    """An OPTIMIZE commit in the tailed range is row-identical — the
    append-only streaming source must skip it silently (Delta
    dataChange=false), not die or require skipChangeCommits."""
    from airbnb_listings_data_pipelines_spark.sources import txlog_source

    txlog_source.register(spark)
    t = _t(spark, tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def drain():
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

    drain()
    t.append(spark.createDataFrame([(3, 30.0)], "k int, price double"))
    t.optimize(target_files=1)  # the auto-compaction shape
    t.append(spark.createDataFrame([(4, 40.0)], "k int, price double"))
    drain()
    assert sorted(r.k for r in spark.read.parquet(out).collect()) == [
        1, 2, 3, 4,
    ], "optimize commit broke or polluted the tail"


def test_datasource_partition_value_never_wrong_null(spark, tmp_path):
    """The DataSource must RAISE on a partition value it cannot parse,
    never silently emit NULL row data (the pruning twin's
    conservatively-keep contract does not apply to values)."""
    from airbnb_listings_data_pipelines_spark.sources.txlog_source import (
        _typed_pval,
    )
    from pyspark.sql.types import DateType, StringType, TimestampNTZType

    assert _typed_pval(None, StringType()) is None  # true null stays null
    assert _typed_pval("07", StringType()) == "07"
    with pytest.raises(ValueError, match="wrong NULL"):
        _typed_pval("not-a-date", DateType())
    with pytest.raises(ValueError, match="wrong NULL"):
        _typed_pval("2020-01-01T00:00:00", TimestampNTZType())


def test_checks_enforced_through_swap_cycle_mapping(spark, tmp_path):
    """A swap-cycle mapping (a->tmp, b->a, tmp->b leaves logical 'k'
    bound to physical 'price' and vice versa) must still evaluate CHECKs
    against the right data: the physical->logical rename is one atomic
    select — sequential withColumnRenamed would collide an intermediate
    name with a still-unrenamed physical column (round-7 ADVICE)."""
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, price double"),
    )
    t.rename_column("k", "tmp")
    t.rename_column("price", "k")
    t.rename_column("tmp", "price")  # now logical k <-> physical price
    t.add_check("k_big", "k >= 10.0")  # k is the old price column
    with pytest.raises(CheckViolation, match="k_big"):
        t.append(spark.createDataFrame([(5.0, 3)], "k double, price int"))
    t.append(spark.createDataFrame([(30.0, 3)], "k double, price int"))
    got = {(r.price, r.k) for r in t.read().collect()}
    assert got == {(1, 10.0), (2, 20.0), (3, 30.0)}
