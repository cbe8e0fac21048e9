"""Delta-protocol interop for txlog tables: the export writes a
``_delta_log`` that an INDEPENDENT log-replay reader (which never looks at
``_txlog``) opens to the identical snapshot, including time travel; the
reader also opens a hand-crafted external Delta log (simulating a foreign
writer, with remove actions and a parquet checkpoint) per the public
PROTOCOL.md replay rule."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.deltalog import (
    read_delta_snapshot,
)
from airbnb_listings_data_pipelines_spark.operators.txlog import TxLogTable, merge_into_txlog


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _make_table(spark, path) -> TxLogTable:
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    t = TxLogTable.create(spark, path, df)
    merge_into_txlog(
        spark, t, spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]), ["id"]
    )
    return t


def test_export_then_delta_reader_matches_txlog_snapshot(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    v = t.to_delta_log()
    assert v == t.version() == 1
    # the second reader path: replays _delta_log only
    got = read_delta_snapshot(spark, path)
    assert _rows(got) == _rows(t.read()) == {(1, "a"), (2, "B"), (3, "c")}
    # log layout follows the protocol: 20-digit names, NDJSON actions,
    # protocol+metaData in commit 0
    names = sorted(os.listdir(os.path.join(path, "_delta_log")))
    assert names[0] == "0" * 19 + "0.json"
    with open(os.path.join(path, "_delta_log", names[0])) as fh:
        actions = [json.loads(line) for line in fh if line.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "protocol" and kinds[1] == "metaData"
    proto = actions[0]["protocol"]
    assert proto["minReaderVersion"] == 1 and proto["minWriterVersion"] == 2
    schema = json.loads(actions[1]["metaData"]["schemaString"])
    assert [f["name"] for f in schema["fields"]] == ["id", "v"]
    # every referenced path exists and is relative
    for a in actions:
        if "add" in a:
            assert "/" not in a["add"]["path"]
            assert os.path.exists(os.path.join(path, a["add"]["path"]))


def test_delta_time_travel_matches_txlog_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.optimize()  # version 2: logical no-op rewrite
    t.to_delta_log()
    for v in range(3):
        assert _rows(read_delta_snapshot(spark, path, version=v)) == _rows(
            t.read_version(v)
        ), f"version {v}"


def test_export_is_incremental_and_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.to_delta_log()
    c1 = os.path.join(path, "_delta_log", "0" * 19 + "1.json")
    mtime = os.path.getmtime(c1)
    content = open(c1).read()
    # new txlog commit, re-export: only the missing Delta commit appears
    merge_into_txlog(spark, t, spark.createDataFrame([(4, "d")], ["id", "v"]), ["id"])
    assert t.to_delta_log() == 2
    assert os.path.getmtime(c1) == mtime and open(c1).read() == content
    assert _rows(read_delta_snapshot(spark, path)) == _rows(t.read())


def test_reader_opens_foreign_delta_log_with_removes(spark, tmp_path):
    """Simulate an EXTERNAL Delta writer: hand-write parquet files and a
    _delta_log whose commit 1 removes a file — the reader must apply the
    remove and must never require _txlog to exist."""
    path = str(tmp_path / "ext")
    os.makedirs(os.path.join(path, "_delta_log"))
    df1 = spark.createDataFrame([(1, 10)], ["k", "x"])
    df2 = spark.createDataFrame([(2, 20)], ["k", "x"])
    df1.coalesce(1).write.parquet(str(tmp_path / "s1"))
    df2.coalesce(1).write.parquet(str(tmp_path / "s2"))
    for i, src in enumerate((tmp_path / "s1", tmp_path / "s2")):
        part = next(f for f in os.listdir(src) if f.endswith(".parquet"))
        os.rename(os.path.join(src, part), os.path.join(path, f"f{i}.parquet"))
    meta = {
        "id": "ext-table",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": df1.schema.json(),
        "partitionColumns": [],
        "configuration": {},
        "createdTime": 0,
    }
    add = lambda p: {"add": {"path": p, "partitionValues": {}, "size": 1, "modificationTime": 0, "dataChange": True}}  # noqa: E731
    with open(os.path.join(path, "_delta_log", "0" * 20 + ".json"), "w") as fh:
        for a in ({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                  {"metaData": meta}, add("f0.parquet"), add("f1.parquet")):
            fh.write(json.dumps(a) + "\n")
    with open(os.path.join(path, "_delta_log", "0" * 19 + "1.json"), "w") as fh:
        fh.write(json.dumps({"remove": {"path": "f0.parquet", "deletionTimestamp": 1, "dataChange": True}}) + "\n")
    assert _rows(read_delta_snapshot(spark, path, version=0)) == {(1, 10), (2, 20)}
    assert _rows(read_delta_snapshot(spark, path)) == {(2, 20)}


def test_reader_replays_parquet_checkpoint_plus_json_tail(spark, tmp_path):
    """_last_checkpoint + <v>.checkpoint.parquet (the protocol's compacted
    state) followed by a JSON commit: reader starts from the checkpoint
    and applies only the tail."""
    path = str(tmp_path / "ckpt")
    t = _make_table(spark, path)  # versions 0,1
    t.to_delta_log()
    delta_dir = os.path.join(path, "_delta_log")
    # build a version-1 checkpoint carrying the full live set, then a
    # version-2 JSON commit adding one more file (hand-made, foreign-style)
    live = t.files()
    rows = [{"add": {"path": f, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True},
             "remove": None, "metaData": None} for f in live]
    rows.append({"add": None, "remove": None,
                 "metaData": {"schemaString": t.read().schema.json()}})
    cp = spark.createDataFrame(
        [json.dumps(r) for r in rows], "string"
    ).selectExpr(
        "from_json(value, 'add struct<path:string,partitionValues:map<string,string>,size:bigint,modificationTime:bigint,dataChange:boolean>,"
        "remove struct<path:string,deletionTimestamp:bigint,dataChange:boolean>,"
        "metaData struct<schemaString:string>') AS a"
    ).select("a.add", "a.remove", "a.metaData")
    cp.coalesce(1).write.parquet(str(tmp_path / "cpstage"))
    part = next(f for f in os.listdir(tmp_path / "cpstage") if f.endswith(".parquet"))
    os.rename(
        os.path.join(tmp_path / "cpstage", part),
        os.path.join(delta_dir, f"{1:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(delta_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1, "size": len(rows)}, fh)
    # remove the json commits the checkpoint supersedes to PROVE the reader
    # starts from the checkpoint
    os.remove(os.path.join(delta_dir, "0" * 20 + ".json"))
    extra = spark.createDataFrame([(9, "z")], ["id", "v"])
    extra.coalesce(1).write.parquet(str(tmp_path / "estage"))
    epart = next(f for f in os.listdir(tmp_path / "estage") if f.endswith(".parquet"))
    os.rename(os.path.join(tmp_path / "estage", epart), os.path.join(path, "extra.parquet"))
    with open(os.path.join(delta_dir, "0" * 19 + "2.json"), "w") as fh:
        fh.write(json.dumps({"add": {"path": "extra.parquet", "partitionValues": {},
                                     "size": 1, "modificationTime": 0, "dataChange": True}}) + "\n")
    got = read_delta_snapshot(spark, path)
    assert _rows(got) == _rows(t.read()) | {(9, "z")}


def test_reader_refuses_unsupported_protocol(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.to_delta_log()
    c0 = os.path.join(path, "_delta_log", "0" * 20 + ".json")
    lines = open(c0).read().splitlines()
    lines[0] = json.dumps({"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}})
    with open(c0, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with pytest.raises(NotImplementedError, match="minReaderVersion"):
        read_delta_snapshot(spark, path)


def test_write_checkpoint_then_reader_skips_json_head(spark, tmp_path):
    """write_delta_checkpoint compacts the log; the reader resolves the
    snapshot from the checkpoint + JSON tail and still matches txlog,
    including after MORE commits land on top of the checkpoint."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        write_delta_checkpoint,
    )

    path = str(tmp_path / "t")
    t = _make_table(spark, path)  # versions 0,1
    t.to_delta_log()
    assert write_delta_checkpoint(spark, path) == 1
    delta_dir = os.path.join(path, "_delta_log")
    assert os.path.exists(os.path.join(delta_dir, f"{1:020d}.checkpoint.parquet"))
    lc = json.load(open(os.path.join(delta_dir, "_last_checkpoint")))
    assert lc["version"] == 1
    # delete the JSON commits the checkpoint covers: reader must not need them
    os.remove(os.path.join(delta_dir, "0" * 20 + ".json"))
    os.remove(os.path.join(delta_dir, "0" * 19 + "1.json"))
    assert _rows(read_delta_snapshot(spark, path)) == _rows(t.read())
    # a fresh commit after the checkpoint is applied as the JSON tail
    merge_into_txlog(spark, t, spark.createDataFrame([(9, "z")], ["id", "v"]), ["id"])
    t.to_delta_log()
    assert _rows(read_delta_snapshot(spark, path)) == _rows(t.read())
    # time travel to the checkpointed version still works
    assert _rows(read_delta_snapshot(spark, path, version=1)) == _rows(t.read_version(1))


def test_add_actions_carry_footer_stats(spark, tmp_path):
    """Exported add actions include the protocol's optional stats JSON
    (numRecords/minValues/maxValues/nullCount from the parquet footer) so
    external Delta readers can data-skip."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.to_delta_log()
    n_checked = 0
    for name in sorted(os.listdir(os.path.join(path, "_delta_log"))):
        if not name.endswith(".json"):
            continue
        for line in open(os.path.join(path, "_delta_log", name)):
            a = json.loads(line)
            if "add" not in a:
                continue
            stats = json.loads(a["add"]["stats"])
            assert stats["numRecords"] >= 0
            assert set(stats["minValues"]) <= {"id", "v"}
            if "id" in stats["minValues"]:
                assert stats["minValues"]["id"] <= stats["maxValues"]["id"]
            n_checked += 1
    assert n_checked >= 2
    # checkpoint preserves the stats column
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        write_delta_checkpoint,
    )

    write_delta_checkpoint(spark, path)
    cp = spark.read.parquet(
        os.path.join(path, "_delta_log", f"{t.version():020d}.checkpoint.parquet")
    )
    with_stats = [r for r in cp.select("add").collect() if r.add and r.add.stats]
    assert with_stats, "checkpoint dropped add.stats"


def test_time_travel_below_checkpoint_with_expired_head_raises(spark, tmp_path):
    """Version continuity (spec requirement): after the JSON head covered
    by a checkpoint expires, time travel BELOW the checkpoint must raise,
    never return a partial snapshot."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        write_delta_checkpoint,
    )

    path = str(tmp_path / "t")
    t = _make_table(spark, path)  # versions 0,1
    t.to_delta_log()
    write_delta_checkpoint(spark, path)  # checkpoint@1
    os.remove(os.path.join(path, "_delta_log", "0" * 20 + ".json"))
    with pytest.raises(FileNotFoundError, match="missing commit"):
        read_delta_snapshot(spark, path, version=0)
    # the checkpointed version itself stays readable
    assert _rows(read_delta_snapshot(spark, path, version=1)) == _rows(t.read_version(1))


def test_recheckpoint_after_head_cleanup_preserves_state(spark, tmp_path):
    """write_delta_checkpoint must bootstrap from the existing checkpoint:
    after the covered JSON head is deleted and new commits land, a second
    checkpoint still carries every live file and the metaData."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        write_delta_checkpoint,
    )

    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.to_delta_log()
    write_delta_checkpoint(spark, path)  # checkpoint@1
    for n in ("0" * 20 + ".json", "0" * 19 + "1.json"):
        os.remove(os.path.join(path, "_delta_log", n))
    merge_into_txlog(spark, t, spark.createDataFrame([(9, "z")], ["id", "v"]), ["id"])
    t.to_delta_log()
    assert write_delta_checkpoint(spark, path) == 2  # would raise pre-fix
    # nuke ALL json: reader must reconstruct v2 purely from checkpoint 2
    for n in list(os.listdir(os.path.join(path, "_delta_log"))):
        if n.endswith(".json") and n.split(".")[0].isdigit():
            os.remove(os.path.join(path, "_delta_log", n))
    assert _rows(read_delta_snapshot(spark, path)) == _rows(t.read())


def test_export_after_vacuum_derives_schema_from_live_files(spark, tmp_path):
    """to_delta_log after vacuum(): version 0's data files are gone, so
    the metaData schema must come from the live snapshot instead of
    crashing on the vacuumed paths."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path)  # v1 rewrote all of v0's files
    removed = t.vacuum(retain_versions=1)
    assert removed, "vacuum should drop v0's files for this test to bite"
    v = t.to_delta_log()
    # v2 is the vacuum audit commit (data-unchanged; exports as a
    # commitInfo-only Delta commit)
    assert v == 2 and t.history()[-1]["op"] == "vacuum"
    got = read_delta_snapshot(spark, path)
    assert _rows(got) == _rows(t.read())
    assert [f.name for f in got.schema.fields] == ["id", "v"]


def test_reader_rejects_partition_column_missing_from_schema(spark, tmp_path):
    """Partitioned tables ARE read now (round 6) — but a log whose
    partitionColumns name a column absent from schemaString is corrupt,
    and silently dropping the column would be a wrong answer; it must
    raise loudly."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.to_delta_log()
    c0 = os.path.join(path, "_delta_log", "0" * 20 + ".json")
    lines = open(c0).read().splitlines()
    meta = json.loads(lines[1])
    meta["metaData"]["partitionColumns"] = ["date"]
    lines[1] = json.dumps(meta)
    with open(c0, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with pytest.raises(ValueError, match="absent from schemaString"):
        read_delta_snapshot(spark, path).collect()


def test_random_operation_sequences_roundtrip(spark, tmp_path):
    """Property-style differential: random merge/optimize sequences (seeded,
    deterministic) — after every export, the Delta log-replay reader must
    equal the txlog reader at EVERY version, and a checkpoint written at a
    random point must not change any answer."""
    import random

    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        write_delta_checkpoint,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        path = str(tmp_path / f"t{seed}")
        t = TxLogTable.create(
            spark, path, spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
        )
        n_ops = 5
        for i in range(n_ops):
            op = rng.choice(["merge", "merge", "optimize"])
            if op == "merge":
                rows = [
                    (rng.randrange(8), rng.choice("xyzw")) for _ in range(rng.randrange(1, 4))
                ]
                merge_into_txlog(
                    spark, t, spark.createDataFrame(rows, ["id", "v"]), ["id"]
                )
            else:
                t.optimize(target_files=rng.choice([1, 2]))
            t.to_delta_log()
            if rng.random() < 0.4:
                write_delta_checkpoint(spark, path)
            # latest snapshots agree after every step
            assert _rows(read_delta_snapshot(spark, path)) == _rows(t.read()), (seed, i)
        # full version-by-version time travel at the end
        for v in range(t.version() + 1):
            assert _rows(read_delta_snapshot(spark, path, version=v)) == _rows(
                t.read_version(v)
            ), (seed, v)


def _two_range_table(spark, path) -> TxLogTable:
    """Two exported files with disjoint id ranges: 0-9 and 100-109."""
    lo_df = spark.createDataFrame([(i, "lo") for i in range(10)], ["id", "v"]).coalesce(1)
    t = TxLogTable.create(spark, path, lo_df)
    hi_df = spark.createDataFrame([(i, "hi") for i in range(100, 110)], ["id", "v"]).coalesce(1)
    adds = t._write_data(hi_df)
    t.commit(adds=adds, removes=[], base_version=0, op="append")
    t.to_delta_log()
    return t


def _corrupt_add_stats(path, version, stats):
    """Rewrite every ``add.stats`` of Delta commit ``version`` to
    ``stats``, as a defective foreign writer would have logged them."""
    c = os.path.join(path, "_delta_log", f"{version:020d}.json")
    lines = open(c).read().splitlines()
    for i, line in enumerate(lines):
        a = json.loads(line)
        if "add" in a:
            a["add"]["stats"] = stats
            lines[i] = json.dumps(a)
    with open(c, "w") as fh:
        fh.write("\n".join(lines) + "\n")


_NAN_STATS = '{"minValues":{"id":NaN},"maxValues":{"id":NaN},"nullCount":{}}'


def test_read_delta_where_skips_files_by_log_stats(spark, tmp_path):
    """Stats-driven skipping: two disjoint-range files; a range query must
    read ONLY the overlapping file (verified via the input_file_name set)
    and return exactly the rows the full-scan filter returns."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_where,
    )

    path = str(tmp_path / "t")
    _two_range_table(spark, path)
    got = read_delta_where(spark, path, "id", 100, 105)
    rows = got.collect()
    assert {r.id for r in rows} == set(range(100, 106))
    # the skip must be visible at the SCAN level, pre-residual-filter:
    # inputFiles() lists the files handed to the reader, so a broken
    # skipper (keep=True for all) fails here even though the residual
    # filter would hide it from a row-level assertion
    assert len(got.inputFiles()) == 1, got.inputFiles()
    assert len(read_delta_snapshot(spark, path).inputFiles()) == 2
    # semantics equal to the unskipped filter
    full = read_delta_snapshot(spark, path).filter("id BETWEEN 100 AND 105")
    assert _rows(got) == _rows(full)
    # a range nothing matches: empty result, no crash
    assert read_delta_where(spark, path, "id", 50, 60).count() == 0
    # NaN bounds in foreign stats must KEEP the file (negated-form test):
    # corrupt the hi file's stats to NaN and re-read — rows still found
    _corrupt_add_stats(path, 1, _NAN_STATS)
    assert {r.id for r in read_delta_where(spark, path, "id", 100, 105).collect()} == set(
        range(100, 106)
    )
    # malformed non-dict stats: conservative keep, no crash
    _corrupt_add_stats(path, 1, "4")
    assert {r.id for r in read_delta_where(spark, path, "id", 100, 105).collect()} == set(
        range(100, 106)
    )


def _adopt_with_stats(spark, tmp_path, stats) -> TxLogTable:
    """:func:`_two_range_table` adopted back as a foreign Delta table
    whose second commit's ``add.stats`` are ``stats``."""
    import shutil

    path = str(tmp_path / "t")
    t = _two_range_table(spark, path)
    shutil.rmtree(t.log_dir)
    _corrupt_add_stats(path, 1, stats)
    return TxLogTable.convert_from_delta(spark, path)


def test_adopted_nan_stats_keep_rows_for_read_where(spark, tmp_path):
    """NaN bounds adopted from a foreign log cannot rule a file out: the
    pruned read returns the rows of the unpruned filter."""
    c = _adopt_with_stats(spark, tmp_path, _NAN_STATS)
    got = c.read_where("id", 100, 105)
    assert _rows(got) == _rows(c.read().filter("id BETWEEN 100 AND 105"))
    assert len(_rows(got)) == 6


def test_adopted_nan_stats_keep_rows_for_pruned_delete(spark, tmp_path):
    """The same NaN bounds under a DML prune hint: the delete reaches
    every matching row."""
    c = _adopt_with_stats(spark, tmp_path, _NAN_STATS)
    c.delete_where("id BETWEEN 100 AND 105", prune=("id", 100, 105))
    assert c.read().filter("id BETWEEN 100 AND 105").count() == 0
    assert c.read().count() == 14


def test_adopted_non_dict_stats_count_as_absent(spark, tmp_path):
    """A foreign ``add.stats`` that is JSON but not an object adopts as
    no stats: the commit fills the entry from the footer, so the
    metadata-only count stays exact."""
    c = _adopt_with_stats(spark, tmp_path, "4")
    assert c.row_count() == c.read().count() == 20


def test_txlog_and_delta_skippers_agree(spark, tmp_path):
    """The txlog skipper (recorded stats) and the Delta skipper (the
    exported add.stats) are one rule: on int, string and DATE columns,
    string bounds on a DATE partition and an empty range, they return
    the same rows from the same number of files."""
    import datetime

    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_where,
    )

    D = datetime.date
    schema = "id int, name string, d date, day date"

    def batch(k):
        day = D(2024, 1, 1) if k < 2 else D(2024, 2, 1)
        return spark.createDataFrame(
            [
                (100 * k + i, f"{chr(97 + k)}-{i}", D(2024, 1 + k, 1 + i), day)
                for i in range(10)
            ],
            schema,
        ).coalesce(1)

    path = str(tmp_path / "t")
    t = TxLogTable.create(spark, path, batch(0), partition_by=["day"])
    for k in (1, 2, 3):
        t.append(batch(k))
    t.to_delta_log()
    assert len(t.files()) == 4
    cols = ["id", "name", "d", "day"]
    cases = [
        ("id", 105, 205, 2),
        ("name", "b", "b~", 1),
        ("d", D(2024, 3, 1), D(2024, 3, 5), 1),
        ("d", "2024-03-01", "2024-03-05", 1),
        ("day", "2024-02-01", "2024-02-01", 2),
        ("day", D(2024, 1, 1), D(2024, 1, 1), 2),
        ("id", 5000, 6000, 0),
    ]
    for column, lo, hi, n_files in cases:
        tx = t.read_where(column, lo, hi)
        dl = read_delta_where(spark, path, column, lo, hi)
        case = (column, lo, hi)
        assert sorted(map(tuple, tx.select(cols).collect())) == sorted(
            map(tuple, dl.select(cols).collect())
        ), case
        assert len(tx.inputFiles()) == len(dl.inputFiles()) == n_files, case


# ---------------------------------------------------- CONVERT FROM DELTA


def test_convert_from_delta_adopts_in_place(spark, tmp_path):
    """Bidirectional interop: a foreign Delta table (simulated by
    exporting ours and deleting the txlog) adopts back into a txlog
    with ZERO data movement — same files, exact schema, constraints and
    streaming txn markers carried, and the new txlog is immediately
    writable with full enforcement."""
    import shutil

    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        CheckViolation,
        TxLogTable,
    )

    path = str(tmp_path / "t")
    t = TxLogTable.create(
        spark,
        path,
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, price double"),
    )
    t.add_check("price_pos", "price >= 0")
    t.append(
        spark.createDataFrame([(3, 30.0)], "k int, price double"),
        txn=("sink-a", 7),
    )
    t.to_delta_log()
    expected = sorted((r.k, r.price) for r in t.read().collect())
    files_before = set(t.files())
    shutil.rmtree(t.log_dir)  # now it is "just" a Delta table

    c = TxLogTable.convert_from_delta(spark, path)
    assert sorted((r.k, r.price) for r in c.read().collect()) == expected
    assert set(c.files()) == files_before, "conversion moved data"
    assert c.checks() == {"price_pos": "price >= 0"}
    assert c.last_txn_version("sink-a") == 7  # exactly-once sink resumes
    assert c.history()[0]["op"] == "convert_delta"
    # adopted table enforces and writes like any other
    with pytest.raises(CheckViolation):
        c.append(spark.createDataFrame([(9, -1.0)], "k int, price double"))
    c.append(spark.createDataFrame([(4, 40.0)], "k int, price double"))
    assert {r.k for r in c.read().collect()} == {1, 2, 3, 4}
    # the txlog is now authoritative: re-export would misalign versions
    with pytest.raises(ValueError, match="misalign"):
        c.to_delta_log()
    # double-adoption refused
    with pytest.raises(FileExistsError):
        TxLogTable.convert_from_delta(spark, path)


def test_convert_from_delta_partitioned_and_guards(spark, tmp_path):
    import json as _json
    import shutil

    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        TxLogTable,
    )

    path = str(tmp_path / "p")
    t = TxLogTable.create(
        spark,
        path,
        spark.createDataFrame(
            [(1, "07", 10.0), (2, "1", 20.0)], "k int, bucket string, price double"
        ),
        partition_by=["bucket"],
    )
    t.to_delta_log()
    shutil.rmtree(t.log_dir)
    c = TxLogTable.convert_from_delta(spark, path)
    assert c.partition_meta()[0] == ["bucket"]
    # exact recorded partition types: the string "07" did not become 7
    assert dict(c.read().dtypes)["bucket"] == "string"
    assert {(r.k, r.bucket) for r in c.read().collect()} == {(1, "07"), (2, "1")}
    # mode=id foreign tables are refused loudly (parquet-field-id
    # resolution is not implemented; mode=name IS adopted — see
    # test_txlog_column_mapping.test_convert_from_delta_adopts_mapped_table)
    mapped = str(tmp_path / "m")
    t2 = TxLogTable.create(
        spark, mapped, spark.createDataFrame([(1, 1.0)], "k int, v double")
    )
    t2.to_delta_log()
    shutil.rmtree(t2.log_dir)
    c0 = os.path.join(mapped, "_delta_log", f"{0:020d}.json")
    lines = open(c0).read().splitlines()
    out = []
    for ln in lines:
        d = _json.loads(ln)
        if "metaData" in d:
            d["metaData"]["configuration"]["delta.columnMapping.mode"] = "id"
        out.append(_json.dumps(d))
    open(c0, "w").write("\n".join(out) + "\n")
    with pytest.raises(NotImplementedError, match="columnMapping.mode"):
        TxLogTable.convert_from_delta(spark, mapped)


def _write_foreign_log(path, protocol, schema_string, files, cfg=None):
    """Synthesize a minimal foreign _delta_log: protocol + metaData +
    one add per file (already on disk)."""
    import json as _json
    import time as _time

    dl = os.path.join(path, "_delta_log")
    os.makedirs(dl, exist_ok=True)
    actions = [
        {"protocol": protocol},
        {
            "metaData": {
                "id": "feat-test",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": cfg or {},
                "createdTime": int(_time.time() * 1000),
            }
        },
    ]
    for f in files:
        actions.append(
            {
                "add": {
                    "path": f,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(path, f)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    with open(os.path.join(dl, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(_json.dumps(a) for a in actions) + "\n")


def test_reader_accepts_table_features_protocol(spark, tmp_path):
    """Delta 3.x writes protocol reader 3 / writer 7 with explicit
    feature lists even for tables this reader fully implements — accept
    when every readerFeature is supported (columnMapping via the
    schemaString's physicalName metadata here), refuse otherwise."""
    import json as _json

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k int, col_a1b2 double"
    ).coalesce(1).write.parquet(path)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "k"}},
            {"name": "price", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col_a1b2"}},
        ],
    }
    _write_foreign_log(
        path,
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
            "writerFeatures": ["columnMapping", "appendOnly"],
        },
        _json.dumps(schema),
        files,
        cfg={
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": "2",
        },
    )
    got = read_delta_snapshot(spark, path)
    assert got.columns == ["k", "price"]
    assert {(r.k, r.price) for r in got.collect()} == {(1, 10.0), (2, 20.0)}
    # convert adopts the features-form mapped table too
    c = TxLogTable.convert_from_delta(spark, path)
    assert {(r.k, r.price) for r in c.read().collect()} == {(1, 10.0), (2, 20.0)}


def test_reader_refuses_unsupported_table_feature(spark, tmp_path):
    import json as _json

    path = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "k int").coalesce(1).write.parquet(path)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "integer", "nullable": True, "metadata": {}}
        ],
    }
    _write_foreign_log(
        path,
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            # variantType is a real Delta reader feature this engine
            # does not implement (typeWidening, the previous example
            # here, became supported in round 11)
            "readerFeatures": ["variantType"],
            "writerFeatures": ["variantType"],
        },
        _json.dumps(schema),
        files,
    )
    with pytest.raises(NotImplementedError, match="variantType"):
        read_delta_snapshot(spark, path)


def test_export_never_downgrades_protocol(spark, tmp_path):
    """Delta PROTOCOL.md requires protocol versions to be monotonically
    non-decreasing. Dropping the LAST CHECK constraint empties the
    table configuration, which used to revert want_proto to
    minWriterVersion=2 and re-emit a protocol action — a downgrade that
    real Delta readers reject. The protocol must latch at its max."""
    path = str(tmp_path / "t")
    t = TxLogTable.create(
        spark,
        path,
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, price double"),
    )
    t.add_check("price_pos", "price >= 0")  # -> writer v3 on export
    t.drop_check("price_pos")  # cfg shrinks back to {}
    t.append(spark.createDataFrame([(3, 30.0)], "k int, price double"))
    t.to_delta_log()
    delta_dir = os.path.join(path, "_delta_log")
    protos = []
    for name in sorted(os.listdir(delta_dir)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(delta_dir, name)) as fh:
            for line in fh:
                a = json.loads(line)
                if "protocol" in a:
                    protos.append(
                        (
                            a["protocol"]["minReaderVersion"],
                            a["protocol"]["minWriterVersion"],
                        )
                    )
    assert (1, 3) in protos, "the CHECK-era upgrade must be emitted"
    assert protos == sorted(protos), f"protocol downgraded: {protos}"
    # and the latched log still replays
    got = {tuple(r) for r in read_delta_snapshot(spark, path).collect()}
    assert got == {tuple(r) for r in t.read().collect()}


def test_partial_multipart_checkpoint_falls_back(spark, tmp_path):
    """Spec rule: a multi-part checkpoint is only valid when ALL parts
    exist — a crashed/concurrent checkpoint writer leaves e.g. part
    1-of-3 only. Readers must skip the incomplete candidate and serve
    the snapshot from an older complete checkpoint (or the JSON tail),
    not hard-fail the read."""
    import re

    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        write_delta_checkpoint,
    )
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        _replay_delta_log,
    )

    path = str(tmp_path / "t")
    t = TxLogTable.create(
        spark, path, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    )
    t.append(spark.createDataFrame([(3, "c")], ["k", "v"]))
    t.to_delta_log()
    dd = os.path.join(path, "_delta_log")
    v1 = write_delta_checkpoint(spark, path)  # complete single-part at 1
    t.append(spark.createDataFrame([(4, "d")], ["k", "v"]))
    t.to_delta_log()
    v2 = write_delta_checkpoint(spark, path, parts=3)
    assert (v1, v2) == (1, 2)
    want = _rows(t.read())
    # simulate the crashed multi-part write: drop parts 2 and 3 of the
    # newest checkpoint (the directory listing still surfaces part 1,
    # and _last_checkpoint still names version 2 with parts=3)
    dropped = 0
    for f in sorted(os.listdir(dd)):
        m = re.fullmatch(r"\d{20}\.checkpoint\.(\d{10})\.0000000003\.parquet", f)
        if m and int(m.group(1)) >= 2:
            os.remove(os.path.join(dd, f))
            dropped += 1
    assert dropped == 2
    # both independent readers fall back: older checkpoint at v1 + JSON
    # tail commit 2 -> full correct snapshot
    assert _rows(read_delta_snapshot(spark, path)) == want
    r = _replay_delta_log(dd)
    assert r.version == 2 and len(r.live) > 0
    # and with the JSON head expired below v1, the v1 bootstrap is the
    # ONLY source of that state — still served
    for f in sorted(os.listdir(dd)):
        m = re.fullmatch(r"(\d{20})\.json", f)
        if m and int(m.group(1)) <= 1:
            os.remove(os.path.join(dd, f))
    assert _rows(read_delta_snapshot(spark, path)) == want
    assert _replay_delta_log(dd).version == 2
