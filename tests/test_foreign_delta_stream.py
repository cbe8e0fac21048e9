"""Foreign Delta tables as batch + streaming sources WITHOUT adoption
(round-10 verdict item 4): the txlog DataSource accepts a directory
whose log is ``_delta_log`` (no ``_txlog``) and plans the same slice
shapes from the Delta JSON commits — snapshot, versionAsOf, batch and
streaming CDF (deletion-vector deltas, AddCDCFile slices), checkpoint
bootstrap, partitionValues from the LOG (non-hive paths included), and
column mapping. All per the public delta.io PROTOCOL.md; fixtures are
exported logs plus hand-written foreign logs (never a copy of Delta
code)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.txlog import (
    TxLogTable,
)
from airbnb_listings_data_pipelines_spark.sources import txlog_source


@pytest.fixture()
def registered(spark):
    txlog_source.register(spark)
    return spark


def _foreignize(native_path, foreign_path):
    """Copy an exported table and strip its _txlog — what's left is
    exactly what a foreign Delta writer would have produced."""
    shutil.copytree(native_path, foreign_path)
    shutil.rmtree(os.path.join(foreign_path, "_txlog"))
    return foreign_path


def _mk_exported(spark, path, n=40):
    t = TxLogTable.create(
        spark,
        str(path),
        spark.createDataFrame(
            [(k, f"v{k}", float(k)) for k in range(n)],
            "k int, v string, amt double",
        ).repartition(4),
    )
    t.delete_where("k % 10 = 3", mode="dv")  # v1: deletion-vector commit
    t.update_where(
        "k % 7 = 0", {"amt": F.col("amt") + 100.0}, cdc=True
    )  # v2: change-data sidecar commit (exports as AddCDCFile)
    t.append(
        spark.createDataFrame(
            [(100, "new", 1.0)], "k int, v string, amt double"
        )
    )  # v3
    t.to_delta_log()
    return t


def test_foreign_snapshot_version_and_cdf(registered, spark, tmp_path):
    t = _mk_exported(spark, tmp_path / "native")
    foreign = _foreignize(str(tmp_path / "native"), str(tmp_path / "foreign"))
    got = spark.read.format("txlog").load(foreign)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, t.read().collect())
    )
    assert (
        spark.read.format("txlog").option("versionAsOf", "0").load(foreign)
    ).count() == 40
    cdf = (
        spark.read.format("txlog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(foreign)
    )
    byv = {}
    for r in cdf.collect():
        byv.setdefault((r._commit_version, r._change_type), set()).add(r.k)
    assert byv[(1, "delete")] == {3, 13, 23, 33}, "DV delta slices"
    assert byv[(2, "delete")] == byv[(2, "insert")] == {0, 7, 14, 21, 28, 35}, (
        "AddCDCFile slices, update_pre/postimage mapped to delete/insert"
    )
    assert byv[(3, "insert")] == {100}


def test_foreign_streaming_medallion(registered, spark, tmp_path):
    """The verdict's done-shape: stream a foreign-written Delta table —
    exported, then INDEPENDENTLY MUTATED (a hand-authored commit the
    engine never saw) — into a silver merge, row-exact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from airbnb_listings_data_pipelines_spark.streaming.upsert import (
        cdf_apply_stream_txlog,
    )

    t = _mk_exported(spark, tmp_path / "native")
    foreign = _foreignize(str(tmp_path / "native"), str(tmp_path / "foreign"))
    # independent mutation: a foreign writer appends a file + commit v4
    pq.write_table(
        pa.table(
            {
                "k": pa.array([777], pa.int32()),
                "v": pa.array(["foreign"], pa.string()),
                "amt": pa.array([7.0], pa.float64()),
            }
        ),
        os.path.join(foreign, "foreign-add.parquet"),
    )
    with open(
        os.path.join(foreign, "_delta_log", f"{4:020d}.json"), "w"
    ) as fh:
        fh.write(
            json.dumps(
                {
                    "add": {
                        "path": "foreign-add.parquet",
                        "partitionValues": {},
                        "size": os.path.getsize(
                            os.path.join(foreign, "foreign-add.parquet")
                        ),
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
    b_path, ckpt = str(tmp_path / "silver"), str(tmp_path / "ck")
    q = cdf_apply_stream_txlog(
        spark.readStream.format("txlog")
        .option("readChangeFeed", "true")
        .load(foreign),
        b_path,
        ["k"],
        ckpt,
        app_id="fd",
    )
    q.awaitTermination(300)
    b = TxLogTable(spark, b_path)
    want = sorted(map(tuple, t.read().collect())) + [(777, "foreign", 7.0)]
    assert sorted(map(tuple, b.read().collect())) == sorted(want)


def test_foreign_partitioned_nonhive_paths(registered, spark, tmp_path):
    """partitionValues come from the LOG: a foreign layout whose file
    paths carry NO hive segments still reads its partition columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "foreign")
    dl = os.path.join(path, "_delta_log")
    os.makedirs(dl)
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "g", "type": "long", "nullable": True, "metadata": {}},
            ],
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "part-nonhive",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": ["g"],
                "configuration": {},
                "createdTime": 0,
            }
        },
    ]
    for i, g in enumerate((0, 1)):
        f = f"blob-{i}.parquet"  # NO g=... segment anywhere
        pq.write_table(
            pa.table({"k": pa.array([10 * g, 10 * g + 1], pa.int64())}),
            os.path.join(path, f),
        )
        actions.append(
            {
                "add": {
                    "path": f,
                    "partitionValues": {"g": str(g)},
                    "size": os.path.getsize(os.path.join(path, f)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    with open(os.path.join(dl, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    got = spark.read.format("txlog").load(path)
    assert {tuple(r) for r in got.collect()} == {
        (0, 0), (1, 0), (10, 1), (11, 1)
    }
    # streaming append-only tail sees the same typed partition columns
    stream = spark.readStream.format("txlog").load(path)
    q = (
        stream.writeStream.format("memory")
        .queryName("fps")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {
        tuple(r) for r in spark.sql("select * from fps").collect()
    } == {(0, 0), (1, 0), (10, 1), (11, 1)}


def test_foreign_checkpoint_bootstrap_after_log_truncation(
    registered, spark, tmp_path
):
    """A foreign log whose JSON head expired below a parquet checkpoint:
    the stream bootstraps ONE synthetic snapshot batch from the
    checkpoint, then tails the remaining commits."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        write_delta_checkpoint,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "native"),
        spark.createDataFrame(
            [(k, float(k)) for k in range(20)], "k int, amt double"
        ).coalesce(2),
    )
    t.append(spark.createDataFrame([(100, 1.0)], "k int, amt double"))  # v1
    t.append(spark.createDataFrame([(101, 2.0)], "k int, amt double"))  # v2
    t.to_delta_log()
    foreign = _foreignize(str(tmp_path / "native"), str(tmp_path / "foreign"))
    write_delta_checkpoint(spark, foreign, version=1)
    dl = os.path.join(foreign, "_delta_log")
    for v in (0, 1):  # expire the JSON head at/below the checkpoint
        os.remove(os.path.join(dl, f"{v:020d}.json"))
    stream = spark.readStream.format("txlog").load(foreign)
    q = (
        stream.writeStream.format("memory")
        .queryName("fckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.k for r in spark.sql("select * from fckpt").collect())
    assert got == sorted(list(range(20)) + [100, 101])
    # batch snapshot rides the same bootstrap
    assert spark.read.format("txlog").load(foreign).count() == 22


def test_foreign_column_mapped_table(registered, spark, tmp_path):
    """columnMapping=name: physical parquet names resolve to logical
    columns, partitionValues keyed by PHYSICAL name (the spec's rule)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "foreign")
    dl = os.path.join(path, "_delta_log")
    os.makedirs(dl)
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "renamed_k",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-aaa",
                    },
                },
                {
                    "name": "part",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-bbb",
                    },
                },
            ],
        }
    )
    pq.write_table(
        pa.table({"col-aaa": pa.array([1, 2], pa.int64())}),
        os.path.join(path, "data.parquet"),
    )
    actions = [
        {
            "protocol": {
                "minReaderVersion": 2,
                "minWriterVersion": 5,
            }
        },
        {
            "metaData": {
                "id": "mapped",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": ["part"],
                "configuration": {"delta.columnMapping.mode": "name"},
                "createdTime": 0,
            }
        },
        {
            "add": {
                "path": "data.parquet",
                "partitionValues": {"col-bbb": "5"},
                "size": os.path.getsize(os.path.join(path, "data.parquet")),
                "modificationTime": 0,
                "dataChange": True,
            }
        },
    ]
    with open(os.path.join(dl, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    got = spark.read.format("txlog").load(path)
    assert got.columns == ["renamed_k", "part"]
    assert {tuple(r) for r in got.collect()} == {(1, 5), (2, 5)}


def test_foreign_skip_change_commits_append_tail(registered, spark, tmp_path):
    """Append-only streaming over a foreign log with a DML commit in the
    middle: raises by default, skips it with skipChangeCommits=true —
    the same contract as the native tail."""
    t = _mk_exported(spark, tmp_path / "native")
    foreign = _foreignize(str(tmp_path / "native"), str(tmp_path / "foreign"))
    stream = (
        spark.readStream.format("txlog")
        .option("skipChangeCommits", "true")
        .load(foreign)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("fskip")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ks = sorted(r.k for r in spark.sql("select * from fskip").collect())
    # v0 create (all 40) + v3 append (100); the DV delete and cdc update
    # commits are change commits -> skipped entirely
    assert ks == sorted(list(range(40)) + [100])


def test_datasource_snapshot_matches_deltalog_reader(
    registered, spark, tmp_path
):
    """The DataSource's pyarrow planner and operators/deltalog's Spark
    scan read the same foreign log through the one Delta fold
    (operators/logfold) and must return the same rows."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
    )

    _mk_exported(spark, tmp_path / "native")
    foreign = _foreignize(str(tmp_path / "native"), str(tmp_path / "foreign"))
    via_source = spark.read.format("txlog").load(foreign)
    via_deltalog = read_delta_snapshot(spark, foreign)
    assert sorted(map(tuple, via_source.collect())) == sorted(
        map(tuple, via_deltalog.collect())
    )


# ----------------------------- pre-adoption CDF (CONVERT keeps history)


def test_convert_keeps_preadoption_cdf(registered, spark, tmp_path):
    """Round-10 verdict item 6: CONVERT FROM DELTA adopts at the foreign
    LATEST version (one continuous version space) and read_changes over
    pre-adoption versions serves the foreign log's history — AddCDCFile
    commits row-exact, DV commits as index deltas, COW commits netted —
    IDENTICAL to the native table's own feed before export."""
    import shutil

    t = _mk_exported(spark, tmp_path / "native")  # v0..v3 + _delta_log
    native_feed = sorted(
        map(
            tuple,
            t.read_changes(1, 3)
            .select("k", "v", "amt", "_change_type", "_commit_version")
            .collect(),
        )
    )
    foreign = _foreignize(str(tmp_path / "native"), str(tmp_path / "foreign"))
    c = TxLogTable.convert_from_delta(spark, foreign)
    # unified version space: the adoption commit sits at delta latest
    assert c.version() == 3
    assert c.history()[0]["op"] == "convert_delta"
    got = sorted(
        map(
            tuple,
            c.read_changes(1, 3)
            .select("k", "v", "amt", "_change_type", "_commit_version")
            .collect(),
        )
    )
    assert got == native_feed, "pre-adoption feed != native feed"
    # a range SPANNING the adoption boundary: pre-adoption (delta) +
    # post-adoption (txlog) commits in one feed
    c.delete_where("k = 5")  # v4, native txlog commit
    span = c.read_changes(2, 4)
    by_cv = {}
    for r in span.collect():
        by_cv.setdefault((r._commit_version, r._change_type), set()).add(r.k)
    assert by_cv[(2, "insert")] == {0, 7, 14, 21, 28, 35}  # cdc commit
    assert by_cv[(3, "insert")] == {100}
    assert by_cv[(4, "delete")] == {5}
    # pre-adoption commit 0 (the create) surfaces as inserts
    v0 = c.read_changes(0, 0)
    assert v0.count() == 40
    # post-adoption schema evolution: the feed reads under TO_VERSION's
    # schema, so a pre-adoption-only range keeps the delta-era schema
    # and a range reaching past the add_column null-fills it
    c.add_column("extra", "int")
    assert "extra" not in c.read_changes(1, 1).columns
    ev = c.read_changes(1, c.version())
    assert "extra" in ev.columns
    pre = [r for r in ev.collect() if r._commit_version == 1]
    assert len(pre) == 4 and all(r.extra is None for r in pre)


def test_convert_preadoption_table_changes_tvf(registered, spark, tmp_path):
    """The SQL surface: table_changes(t, lo, hi) over pre-adoption
    versions on an adopted table."""
    from airbnb_listings_data_pipelines_spark.functions.tx_sql import (
        TxSqlSession,
    )

    t = _mk_exported(spark, tmp_path / "native")
    native = {
        (r._commit_version, r._change_type, r.k)
        for r in t.read_changes(1, 2).collect()
    }
    foreign = _foreignize(str(tmp_path / "native"), str(tmp_path / "foreign"))
    c = TxLogTable.convert_from_delta(spark, foreign)
    sess = TxSqlSession(spark, {"t": c})
    got = {
        (r._commit_version, r._change_type, r.k)
        for r in sess.execute(
            "SELECT k, _change_type, _commit_version FROM table_changes(t, 1, 2)"
        ).collect()
    }
    assert got == native


def test_read_delta_changes_standalone(registered, spark, tmp_path):
    """deltalog.read_delta_changes works on a bare foreign log with no
    txlog at all — the operator-level twin of the DataSource CDF, with
    per-commit netting."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_changes,
    )

    t = _mk_exported(spark, tmp_path / "native")
    foreign = _foreignize(str(tmp_path / "native"), str(tmp_path / "foreign"))
    got = read_delta_changes(spark, foreign, 1, 3)
    by_cv = {}
    for r in got.collect():
        by_cv.setdefault((r._commit_version, r._change_type), set()).add(r.k)
    assert by_cv[(1, "delete")] == {3, 13, 23, 33}  # DV index delta
    assert by_cv[(2, "delete")] == by_cv[(2, "insert")] == {0, 7, 14, 21, 28, 35}
    assert by_cv[(3, "insert")] == {100}
    # truncated foreign log below the range: loud refusal
    os.remove(os.path.join(foreign, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(FileNotFoundError, match="missing|cleaned below"):
        read_delta_changes(spark, foreign, 1, 3).collect()


def test_convert_keeps_preadoption_time_travel(registered, spark, tmp_path):
    """read_version (and SELECT ... VERSION AS OF through tx_sql) below
    the adoption commit time-travels the pre-adoption Delta history."""
    t = _mk_exported(spark, tmp_path / "native")
    pre_v0 = sorted(map(tuple, t.read_version(0).collect()))
    pre_v1 = sorted(map(tuple, t.read_version(1).collect()))
    foreign = _foreignize(str(tmp_path / "native"), str(tmp_path / "foreign"))
    c = TxLogTable.convert_from_delta(spark, foreign)
    assert sorted(map(tuple, c.read_version(0).collect())) == pre_v0
    assert sorted(map(tuple, c.read_version(1).collect())) == pre_v1
    # the adoption version itself reads from the txlog
    assert sorted(map(tuple, c.read_version(3).collect())) == sorted(
        map(tuple, t.read().collect())
    )
    # SQL time travel rides the same dispatch
    from airbnb_listings_data_pipelines_spark.functions.tx_sql import (
        TxSqlSession,
    )

    sess = TxSqlSession(spark, {"t": c})
    n0 = sess.execute("SELECT COUNT(*) AS n FROM t VERSION AS OF 0").collect()
    assert n0[0].n == 40


def test_foreign_checkpoint_at_retained_json_head(registered, spark, tmp_path):
    """Review finding (round 10): a foreign writer that cleans JSON
    commits strictly BELOW its checkpoint (the checkpoint-version json
    survives) must still bootstrap — the checkpoint covers the gap
    exactly."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        write_delta_checkpoint,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "native"),
        spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k int, amt double"
        ).coalesce(1),
    )
    t.append(spark.createDataFrame([(100, 1.0)], "k int, amt double"))  # v1
    t.append(spark.createDataFrame([(101, 2.0)], "k int, amt double"))  # v2
    t.to_delta_log()
    foreign = _foreignize(str(tmp_path / "native"), str(tmp_path / "foreign"))
    write_delta_checkpoint(spark, foreign, version=1)
    # clean STRICTLY below the checkpoint: 00..01.json stays
    os.remove(os.path.join(foreign, "_delta_log", f"{0:020d}.json"))
    stream = spark.readStream.format("txlog").load(foreign)
    q = (
        stream.writeStream.format("memory")
        .queryName("fhead")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.k for r in spark.sql("select * from fhead").collect())
    assert got == sorted(list(range(10)) + [100, 101])


def test_foreign_cdf_range_below_cleaned_checkpoint_refused(
    registered, spark, tmp_path
):
    """Review finding (round 10): a CDF range lying entirely below a
    checkpoint whose JSON commits were cleaned must refuse loudly — not
    emit a full-snapshot record OUTSIDE the requested range."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        write_delta_checkpoint,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "native"),
        spark.createDataFrame(
            [(k, float(k)) for k in range(6)], "k int, amt double"
        ).coalesce(1),
    )
    for i in range(4):  # v1..v4
        t.append(
            spark.createDataFrame([(100 + i, 1.0)], "k int, amt double")
        )
    t.to_delta_log()
    foreign = _foreignize(str(tmp_path / "native"), str(tmp_path / "foreign"))
    write_delta_checkpoint(spark, foreign, version=3)
    for v in range(4):  # JSON head now starts at 4, checkpoint at 3
        os.remove(os.path.join(foreign, "_delta_log", f"{v:020d}.json"))
    with pytest.raises(Exception, match="unreconstructible|below"):
        (
            spark.read.format("txlog")
            .option("readChangeFeed", "true")
            .option("startingVersion", "0")
            .option("endingVersion", "2")
            .load(foreign)
            .collect()
        )
    # and a range REACHING the checkpoint bootstraps + tails fine
    ok = (
        spark.read.format("txlog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("endingVersion", "4")
        .load(foreign)
    )
    byv = {}
    for r in ok.collect():
        byv.setdefault(r._commit_version, set()).add(r.k)
    assert byv[3] == set(range(6)) | {100, 101, 102}, "snapshot at ckpt"
    assert byv[4] == {103}


def test_cdf_twins_datasource_vs_operator(registered, spark, tmp_path):
    """Twin-equivalence pin for the two foreign-Delta CDF readers: the
    DataSource batch CDF (logfold.delta_deltas_full records planned as
    pyarrow slices, raw file granularity) and
    deltalog.read_delta_changes(net=False) (Spark scans) must emit the
    IDENTICAL multiset over the same foreign log."""
    from collections import Counter

    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_changes,
    )

    _mk_exported(spark, tmp_path / "native")
    foreign = _foreignize(str(tmp_path / "native"), str(tmp_path / "foreign"))
    via_source = (
        spark.read.format("txlog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(foreign)
    )
    via_operator = read_delta_changes(spark, foreign, 0, 3, net=False)
    a = Counter(map(tuple, via_source.collect()))
    b = Counter(
        map(
            tuple,
            via_operator.select(*via_source.columns).collect(),
        )
    )
    assert a == b


# ------------------------------- one fold: protocol and _last_checkpoint


def _mk_small_foreign(spark, tmp_path):
    native = str(tmp_path / "native")
    t = TxLogTable.create(
        spark, native, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    )
    t.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    t.to_delta_log()
    return _foreignize(native, str(tmp_path / "foreign"))


@pytest.mark.parametrize(
    "protocol",
    [
        {"minReaderVersion": 3, "minWriterVersion": 7},
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["changeDataFeed"],
            "writerFeatures": ["changeDataFeed"],
        },
    ],
    ids=["v3-no-features", "v3-changeDataFeed"],
)
def test_unsupported_protocol_refused_by_both_readers(
    registered, spark, tmp_path, protocol
):
    """Reader version 3 with no readerFeatures list, or with a feature
    no reader here implements (changeDataFeed is a WRITER feature), must
    be refused by the DataSource exactly as by read_delta_snapshot —
    both run the one protocol check of the shared fold."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
    )

    foreign = _mk_small_foreign(spark, tmp_path)
    c0 = os.path.join(foreign, "_delta_log", f"{0:020d}.json")
    with open(c0) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    actions = [
        {"protocol": protocol} if "protocol" in a else a for a in actions
    ]
    with open(c0, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    with pytest.raises(NotImplementedError):
        read_delta_snapshot(spark, foreign)
    with pytest.raises(Exception, match="NotImplementedError"):
        spark.read.format("txlog").load(foreign).collect()


def test_truncated_last_checkpoint_is_only_a_hint(registered, spark, tmp_path):
    """``_last_checkpoint`` is a hint: a torn one must not fail the read.
    read_delta_snapshot returns the DataSource's rows, and both still
    bootstrap from the checkpoint the directory listing finds (the JSON
    commits below it are gone)."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
        write_delta_checkpoint,
    )

    foreign = _mk_small_foreign(spark, tmp_path)
    dd = os.path.join(foreign, "_delta_log")
    assert write_delta_checkpoint(spark, foreign) == 1
    os.remove(os.path.join(dd, f"{0:020d}.json"))
    with open(os.path.join(dd, "_last_checkpoint"), "w") as fh:
        fh.write('{"version": 1, "si')
    want = sorted(map(tuple, spark.read.format("txlog").load(foreign).collect()))
    assert want == [(1, "a"), (2, "b"), (3, "c")]
    assert sorted(map(tuple, read_delta_snapshot(spark, foreign).collect())) == want
