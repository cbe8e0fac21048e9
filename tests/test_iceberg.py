"""Iceberg metadata export (UniForm shape) + the independent snapshot
reader — byte-level Avro spec assertions, export semantics, refusals,
and native-vs-iceberg read parity. No external Iceberg engine exists in
this sandbox (probed round 12: no pyiceberg, no network), so
conformance evidence is spec-level: container magic/sync/varint edges,
the spec's field-id annotations, v2 metadata required keys, and a
from-scratch reader that reconstructs the table from the metadata
alone."""
from __future__ import annotations

import io
import json
import os

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.iceberg import (
    _AVRO_MAGIC,
    _zigzag,
    _read_zigzag,
    export_iceberg_metadata,
    read_avro_container,
    read_iceberg_snapshot,
    write_avro_container,
)
from airbnb_listings_data_pipelines_spark.operators.txlog import (
    TxLogTable,
    merge_into_txlog,
)


def _mk(spark, tmp_path, n=40, partition_by=None):
    return TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, float(k), "ab"[k % 2]) for k in range(n)],
            "k int, amt double, g string",
        ).repartition(3),
        partition_by=partition_by,
    )


def _rows(df):
    return set(map(tuple, df.select("k", "amt", "g").collect()))


def test_zigzag_varint_spec_vectors():
    """Avro spec's own zigzag examples + 64-bit edges."""
    assert _zigzag(0) == b"\x00"
    assert _zigzag(-1) == b"\x01"
    assert _zigzag(1) == b"\x02"
    assert _zigzag(-2) == b"\x03"
    assert _zigzag(64) == b"\x80\x01"
    for v in (2**63 - 1, -(2**63), 12345678901234, -987654321):
        assert _read_zigzag(io.BytesIO(_zigzag(v))) == v


def test_container_magic_sync_and_roundtrip(tmp_path):
    sch = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": ["null", "long"]}],
    }
    p = str(tmp_path / "f.avro")
    write_avro_container(p, sch, [{"a": 7}, {"a": None}], {"x": "y"})
    raw = open(p, "rb").read()
    assert raw[:4] == _AVRO_MAGIC
    s, m, r = read_avro_container(p)
    assert r == [{"a": 7}, {"a": None}] and m["x"] == "y"
    # corrupting the block sync must be detected
    bad = raw[:-1] + bytes([raw[-1] ^ 0xFF])
    open(p, "wb").write(bad)
    with pytest.raises(ValueError, match="sync"):
        read_avro_container(p)


def test_export_reads_back_and_field_ids(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert t.to_iceberg() == 1
    md = json.load(
        open(os.path.join(t.path, "metadata", "v1.metadata.json"))
    )
    assert md["format-version"] == 2
    fields = md["schemas"][0]["fields"]
    assert [f["id"] for f in fields] == [1, 2, 3]
    assert md["current-snapshot-id"] == md["snapshots"][-1]["snapshot-id"]
    nmap = json.loads(
        md["properties"]["schema.name-mapping.default"]
    )
    assert nmap[0] == {"field-id": 1, "names": ["k"]}
    # the manifest's entries carry the spec's field ids
    snap = md["snapshots"][-1]
    _s, _m, mfs = read_avro_container(snap["manifest-list"])
    ms, mm, entries = read_avro_container(mfs[0]["manifest_path"])
    assert mm["format-version"] == "2" and mm["content"] == "data"
    by_name = {f["name"]: f for f in ms["fields"]}
    assert by_name["status"]["field-id"] == 0
    assert by_name["data_file"]["field-id"] == 2
    df_ids = {
        f["name"]: f["field-id"]
        for f in by_name["data_file"]["type"]["fields"]
    }
    assert df_ids["file_path"] == 100 and df_ids["record_count"] == 103
    assert all(e["status"] == 1 for e in entries)  # first export: ADDED
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())


def test_incremental_export_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.to_iceberg()
    v1_snap = t.version()
    rows_v1 = _rows(t.read())
    t.append(
        spark.createDataFrame([(100, 1.0, "c")], "k int, amt double, g string")
    )
    t.delete_where("k % 10 = 3")  # COW retires + rewrites files
    assert t.to_iceberg() == 2
    md = json.load(
        open(os.path.join(t.path, "metadata", "v2.metadata.json"))
    )
    assert len(md["snapshots"]) == 2
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())
    # time travel: the FIRST snapshot still reads exactly v1
    assert (
        _rows(read_iceberg_snapshot(spark, t.path, snapshot_id=v1_snap))
        == rows_v1
    )
    # carried files are EXISTING in the new manifest, new ones ADDED
    snap2 = md["snapshots"][-1]
    _s, _m, mfs = read_avro_container(snap2["manifest-list"])
    _ms, _mm, entries = read_avro_container(mfs[0]["manifest_path"])
    statuses = {e["status"] for e in entries}
    assert statuses == {0, 1}
    assert mfs[0]["existing_files_count"] > 0
    # re-export at the same txlog version is a no-op
    assert t.to_iceberg() == 2


def test_partitioned_export_manifest_partition_values(spark, tmp_path):
    t = _mk(spark, tmp_path, partition_by=["g"])
    t.to_iceberg()
    md = json.load(
        open(os.path.join(t.path, "metadata", "v1.metadata.json"))
    )
    spec = md["partition-specs"][0]
    assert spec["fields"][0]["transform"] == "identity"
    assert spec["fields"][0]["source-id"] == 3  # g is field 3
    assert spec["fields"][0]["field-id"] == 1000
    # reader attaches partition values from the MANIFEST, not hive dirs
    got = read_iceberg_snapshot(spark, t.path)
    assert _rows(got) == _rows(t.read())


def test_column_mapped_name_mapping(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rename_column("amt", "amount")  # physical stays 'amt'
    t.to_iceberg()
    md = json.load(
        open(os.path.join(t.path, "metadata", "v1.metadata.json"))
    )
    nmap = json.loads(md["properties"]["schema.name-mapping.default"])
    amount = next(e for e in nmap if "amount" in e["names"])
    assert amount["names"] == ["amount", "amt"]
    ice = read_iceberg_snapshot(spark, t.path)
    assert "amount" in ice.columns
    assert set(r["amount"] for r in ice.collect()) == set(
        r["amount"] for r in t.read().collect()
    )


def test_dv_exports_position_deletes(spark, tmp_path):
    """Deletion vectors export as Iceberg v2 POSITION DELETE files —
    beyond UniForm, which refuses DV tables outright. The deletes
    manifest is content=1; the independent reader anti-joins the
    (file_path, pos) parquet; after OPTIMIZE folds the vectors the
    next snapshot is delete-free."""
    t = _mk(spark, tmp_path)
    t.delete_where("k % 5 = 1", mode="dv")
    t.update_where("k = 2", {"amt": F.lit(99.0)}, mode="dv")
    t.to_iceberg()
    md = json.load(
        open(os.path.join(t.path, "metadata", "v1.metadata.json"))
    )
    snap = md["snapshots"][-1]
    assert int(snap["summary"]["total-position-deletes"]) > 0
    _s, _m, mfs = read_avro_container(snap["manifest-list"])
    contents = sorted(m["content"] for m in mfs)
    assert contents == [0, 1]  # one data + one deletes manifest
    delm = next(m for m in mfs if m["content"] == 1)
    _ms, mm, entries = read_avro_container(delm["manifest_path"])
    assert mm["content"] == "deletes"
    assert entries[0]["data_file"]["content"] == 1
    # the delete parquet is sorted by (file_path, pos) per the spec
    import pyarrow.parquet as pq

    tbl = pq.read_table(entries[0]["data_file"]["file_path"])
    rows = list(
        zip(tbl.column("file_path").to_pylist(), tbl.column("pos").to_pylist())
    )
    assert rows == sorted(rows)
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())
    t.optimize()  # folds the DVs away
    t.to_iceberg()
    md2 = json.load(
        open(os.path.join(t.path, "metadata", "v2.metadata.json"))
    )
    assert md2["snapshots"][-1]["summary"]["total-position-deletes"] == "0"
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())


def test_partitioned_dv_exports_global_deletes(spark, tmp_path):
    """Partitioned table + live DVs: position deletes ride the spec's
    GLOBAL form — an UNPARTITIONED spec (spec-id 1) whose delete files
    apply across partitions."""
    t = _mk(spark, tmp_path, partition_by=["g"])
    t.delete_where("k % 5 = 1", mode="dv")
    t.to_iceberg()
    md = json.load(
        open(os.path.join(t.path, "metadata", "v1.metadata.json"))
    )
    specs = {sp["spec-id"]: sp["fields"] for sp in md["partition-specs"]}
    assert specs[1] == []  # the global-delete spec
    _s, _m, mfs = read_avro_container(
        md["snapshots"][-1]["manifest-list"]
    )
    delm = next(m for m in mfs if m["content"] == 1)
    assert delm["partition_spec_id"] == 1
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())


def test_nested_schema_exports_per_element_field_ids(spark, tmp_path):
    """struct/array/map columns export with spec-faithful per-element
    field ids (round-13: the judged top real-user wall — token arrays
    and multimodal metadata are nested). Allocation order mirrors
    Iceberg's assignFreshIds: a level's direct fields first, then
    descend."""
    nested = TxLogTable.create(
        spark,
        str(tmp_path / "n"),
        spark.createDataFrame(
            [
                (1, [1, 2], {"a": 1.0}, (7, "x")),
                (2, [3], {"b": 2.0}, (8, "y")),
            ],
            "k int, xs array<int>, m map<string,double>, "
            "s struct<p:int,q:string>",
        ),
    )
    nested.to_iceberg()
    md = json.load(
        open(os.path.join(nested.path, "metadata", "v1.metadata.json"))
    )
    fields = md["schemas"][0]["fields"]
    by_name = {f["name"]: f for f in fields}
    # top-level ids first (1..4), nested elements after
    assert [f["id"] for f in fields] == [1, 2, 3, 4]
    assert by_name["xs"]["type"]["type"] == "list"
    assert by_name["xs"]["type"]["element-id"] == 5
    assert by_name["xs"]["type"]["element"] == "int"
    assert by_name["m"]["type"]["key-id"] == 6
    assert by_name["m"]["type"]["value-id"] == 7
    assert [
        (f["id"], f["name"]) for f in by_name["s"]["type"]["fields"]
    ] == [(8, "p"), (9, "q")]
    assert md["last-column-id"] == 9
    # name mapping carries the nested structure
    nmap = json.loads(md["properties"]["schema.name-mapping.default"])
    by_fid = {e["field-id"]: e for e in nmap}
    assert by_fid[2]["fields"][0] == {"field-id": 5, "names": ["element"]}
    assert [c["names"] for c in by_fid[3]["fields"]] == [["key"], ["value"]]
    assert [c["field-id"] for c in by_fid[4]["fields"]] == [8, 9]
    # the independent reader reconstructs the nested rows exactly
    got = read_iceberg_snapshot(spark, nested.path)
    assert got.schema == nested.read().schema
    assert {
        (r["k"], tuple(r["xs"]), tuple(sorted(r["m"].items())), r["s"])
        for r in got.collect()
    } == {
        (r["k"], tuple(r["xs"]), tuple(sorted(r["m"].items())), r["s"])
        for r in nested.read().collect()
    }


def test_nested_ids_stable_across_evolution(spark, tmp_path):
    """Adding a nested column in a later export mints fresh ids past
    last-column-id; existing nested element ids never move (the same
    path-keyed stability rule as top-level columns)."""
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, [1, 2])], "k int, xs array<int>"),
    )
    t.to_iceberg()
    t.add_column("meta", "struct<w:double,tag:string>")
    t.append(
        spark.createDataFrame(
            [(3, [7], (1.5, "z"))],
            "k int, xs array<int>, meta struct<w:double,tag:string>",
        )
    )
    t.to_iceberg()
    _o, md = (
        2,
        json.load(
            open(os.path.join(t.path, "metadata", "v2.metadata.json"))
        ),
    )
    cur = next(
        s
        for s in md["schemas"]
        if s["schema-id"] == md["current-schema-id"]
    )
    by_name = {f["name"]: f for f in cur["fields"]}
    assert by_name["k"]["id"] == 1 and by_name["xs"]["id"] == 2
    assert by_name["xs"]["type"]["element-id"] == 3  # unchanged
    assert by_name["meta"]["id"] == 4
    assert [
        (f["id"], f["name"]) for f in by_name["meta"]["type"]["fields"]
    ] == [(5, "w"), (6, "tag")]
    assert md["last-column-id"] == 6
    got = read_iceberg_snapshot(spark, t.path)
    rows = {r["k"]: r for r in got.collect()}
    assert rows[1]["meta"] is None and rows[3]["meta"] == (1.5, "z")


def test_nested_convert_roundtrip(spark, tmp_path):
    """Nested export -> strip txlog -> adopt: the schema survives the
    full circle and rows match (struct inside array inside struct)."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [
                (1, ((1, "a"), [2.0, 3.0])),
                (2, ((4, "b"), [5.0])),
            ],
            "k int, payload struct<hdr:struct<v:int,tag:string>,"
            "vals:array<double>>",
        ),
    )
    def canon(df):
        return {
            (
                r["k"],
                r["payload"]["hdr"],
                tuple(r["payload"]["vals"]),
            )
            for r in df.collect()
        }

    want = canon(t.read())
    t.to_iceberg()
    _strip_txlog(t)
    t2 = convert_from_iceberg(spark, t.path)
    assert t2.read().schema == spark.createDataFrame(
        [],
        "k int, payload struct<hdr:struct<v:int,tag:string>,"
        "vals:array<double>>",
    ).schema
    assert canon(t2.read()) == want


def test_nested_mapping_rename_refuses_on_adoption(spark, tmp_path):
    """A foreign table whose name mapping renames a NESTED field must
    refuse adoption — only top-level columns remap, and a silent
    mismatch would read NULLs."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, (2, "x"))], "k int, s struct<p:int,q:string>"
        ),
    )
    t.to_iceberg()
    _strip_txlog(t)
    meta = os.path.join(t.path, "metadata")
    mp = os.path.join(meta, "v1.metadata.json")
    md = json.load(open(mp))
    nmap = json.loads(md["properties"]["schema.name-mapping.default"])
    s_entry = next(e for e in nmap if "fields" in e)
    s_entry["fields"][0]["names"] = ["p_old"]  # nested physical rename
    md["properties"]["schema.name-mapping.default"] = json.dumps(nmap)
    json.dump(md, open(mp, "w"))
    with pytest.raises(NotImplementedError, match="nested field"):
        convert_from_iceberg(spark, t.path)


def test_iceberg_and_delta_exports_coexist(spark, tmp_path):
    """UniForm's whole point: BOTH formats over the same parquet."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        export_delta_log,
        read_delta_snapshot,
    )

    t = _mk(spark, tmp_path)
    export_delta_log(spark, t)
    t.to_iceberg()
    native = _rows(t.read())
    assert _rows(read_delta_snapshot(spark, t.path)) == native
    assert _rows(read_iceberg_snapshot(spark, t.path)) == native


def test_metadata_log_chains_predecessors(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10)
    t.to_iceberg()
    t.append(
        spark.createDataFrame([(99, 1.0, "c")], "k int, amt double, g string")
    )
    t.to_iceberg()
    md = json.load(
        open(os.path.join(t.path, "metadata", "v2.metadata.json"))
    )
    logs = md["metadata-log"]
    assert len(logs) == 1 and logs[0]["metadata-file"].endswith(
        "v1.metadata.json"
    )


def test_universal_format_property_refreshes_iceberg(spark, tmp_path):
    """Delta UniForm's enablement property: exporting the Delta log with
    delta.universalFormat.enabledFormats containing 'iceberg' refreshes
    the Iceberg layer too — both formats over one parquet copy."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        export_delta_log,
    )

    t = _mk(spark, tmp_path, n=10)
    t.set_properties(
        {"delta.universalFormat.enabledFormats": "iceberg"}
    )
    export_delta_log(spark, t)
    assert os.path.exists(
        os.path.join(t.path, "metadata", "version-hint.text")
    )
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())


def test_avro_negative_block_counts_decode():
    """Avro spec: array/map blocks may carry a NEGATIVE count followed
    by a byte size (for skipping). Our writer never emits the form, but
    a conforming external writer may — the decoder must accept it."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        _avro_decode,
        _avro_encode,
        _zigzag,
    )

    sch = {"type": "array", "items": "long"}
    # hand-build: one block of 2 items in negative form, then terminator
    payload = bytearray()
    items = bytearray()
    _avro_encode(3, "long", items)
    _avro_encode(-9, "long", items)
    payload += _zigzag(-2)  # negative count
    payload += _zigzag(len(items))  # byte size follows
    payload += items
    payload += _zigzag(0)
    assert _avro_decode(io.BytesIO(bytes(payload)), sch) == [3, -9]


# ------------------------------------------------- convert_from_iceberg


def _strip_txlog(t):
    """Turn an exported table dir into a FOREIGN Iceberg table: remove
    the txlog and its DV sidecars so metadata/ is the only format."""
    import shutil

    shutil.rmtree(t.log_dir)
    shutil.rmtree(os.path.join(t.path, "_dv"), ignore_errors=True)


def test_convert_roundtrip_plain(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path)
    want = _rows(t.read())
    t.to_iceberg()
    _strip_txlog(t)
    t2 = convert_from_iceberg(spark, t.path)
    assert t2.version() == 0
    assert _rows(t2.read()) == want
    # manifest record counts adopted: metadata-only COUNT(*) shape
    st = t2.stats_at()
    assert sum(s["numRecords"] for s in st.values()) == len(want)
    # footer envelopes were stamped too (not just counts)
    assert any("minValues" in s for s in st.values())


def test_convert_position_deletes_become_dvs(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path, n=60)
    t.delete_where("k % 4 = 1", mode="dv")
    t.update_where(
        "k % 4 = 2", {"amt": F.col("amt") + F.lit(100.0)}, mode="dv"
    )
    want = _rows(t.read())
    t.to_iceberg()
    _strip_txlog(t)
    t2 = convert_from_iceberg(spark, t.path)
    dvs = t2.dvs()
    assert dvs, "position deletes must adopt as deletion vectors"
    # 15 deleted + 15 updated originals are vectored out
    assert sum(d["cardinality"] for d in dvs.values()) == 30
    assert _rows(t2.read()) == want
    # the adopted table is fully writable: further DML + time travel
    t2.delete_where("k % 4 = 0")
    assert _rows(t2.read()) == {r for r in want if r[0] % 4 != 0}
    assert _rows(t2.read_version(0)) == want


def test_convert_partitioned_hive_paths(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path, partition_by=["g"])
    want = _rows(t.read())
    t.to_iceberg()
    _strip_txlog(t)
    t2 = convert_from_iceberg(spark, t.path)
    pby, pschema = t2.partition_meta()
    assert pby == ["g"]
    assert _rows(t2.read()) == want
    # partition pruning still works off the adopted spec
    assert _rows(t2.read_where("g", "a", "a")) == {
        r for r in want if r[2] == "a"
    }


def test_convert_column_mapped_name_mapping(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path)
    t.rename_column("amt", "amount")
    t.to_iceberg()
    _strip_txlog(t)
    t2 = convert_from_iceberg(spark, t.path)
    # logical name reads back; physical parquet column is still 'amt'
    got = set(
        map(tuple, t2.read().select("k", "amount", "g").collect())
    )
    assert got == {(k, float(k), "ab"[k % 2]) for k in range(40)}
    m = t2._snapshot().mapping
    assert m and m.get("amount") == "amt"


def test_convert_properties_carry_over(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path)
    t.set_properties({"owner": "curation", "delta.appendOnly": "false"})
    t.to_iceberg()
    _strip_txlog(t)
    t2 = convert_from_iceberg(spark, t.path)
    props = t2.properties()
    assert props.get("owner") == "curation"
    # export bookkeeping keys do NOT adopt as table properties
    assert "schema.name-mapping.default" not in props
    assert "converted-from" not in props


def test_convert_then_delta_export(spark, tmp_path):
    """Iceberg -> txlog -> Delta over ONE copy of the data."""
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        read_delta_snapshot,
    )
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path)
    t.delete_where("k % 5 = 0", mode="dv")
    want = _rows(t.read())
    t.to_iceberg()
    _strip_txlog(t)
    t2 = convert_from_iceberg(spark, t.path)
    with pytest.raises(ValueError, match="adopted via convert_from_iceberg"):
        t2.to_iceberg()
    t2.to_delta_log()
    assert _rows(read_delta_snapshot(spark, t2.path)) == want


def test_convert_refusals(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path)
    t.to_iceberg()
    # existing txlog refuses
    with pytest.raises(FileExistsError):
        convert_from_iceberg(spark, t.path)
    _strip_txlog(t)
    meta = os.path.join(t.path, "metadata")
    with open(os.path.join(meta, "version-hint.text")) as fh:
        ordinal = int(fh.read().strip())
    mp = os.path.join(meta, f"v{ordinal}.metadata.json")
    md = json.load(open(mp))

    # format-version 1
    md1 = dict(md)
    md1["format-version"] = 1
    json.dump(md1, open(mp, "w"))
    with pytest.raises(NotImplementedError, match="format-version 2"):
        convert_from_iceberg(spark, t.path)

    # UNKNOWN partition transform refuses; known non-identity ones
    # adopt unpartitioned (see test_convert_day_transform_*)
    md2 = json.loads(json.dumps(md))
    md2["partition-specs"] = [
        {
            "spec-id": 0,
            "fields": [
                {
                    "name": "k_z",
                    "transform": "zorder[4]",
                    "source-id": 1,
                    "field-id": 1000,
                }
            ],
        }
    ]
    json.dump(md2, open(mp, "w"))
    with pytest.raises(NotImplementedError, match="unknown partition"):
        convert_from_iceberg(spark, t.path)
    json.dump(md, open(mp, "w"))  # restore


def test_expire_snapshots(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        expire_iceberg_snapshots,
    )

    t = _mk(spark, tmp_path)
    t.to_iceberg()
    t.append(
        spark.createDataFrame([(100, 1.0, "a")], "k int, amt double, g string")
    )
    t.to_iceberg()
    t.append(
        spark.createDataFrame([(101, 2.0, "b")], "k int, amt double, g string")
    )
    t.to_iceberg()
    meta = os.path.join(t.path, "metadata")
    md_before = json.load(
        open(os.path.join(meta, "v3.metadata.json"))
    )
    assert len(md_before["snapshots"]) == 3
    old_mlists = [
        s["manifest-list"] for s in md_before["snapshots"][:-1]
    ]
    data_files = set(t.files())
    removed = expire_iceberg_snapshots(t.path, keep_last=1)
    # dropped snapshots' manifest lists are gone from disk
    for ml in old_mlists:
        assert not os.path.exists(ml)
        assert ml in removed
    # data files are NEVER touched
    for f in data_files:
        assert os.path.exists(os.path.join(t.path, f))
    md_after = json.load(open(os.path.join(meta, "v4.metadata.json")))
    assert len(md_after["snapshots"]) == 1
    assert (
        md_after["current-snapshot-id"]
        == md_before["current-snapshot-id"]
    )
    # the current snapshot still reads exactly
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())
    # idempotent / bounded
    assert expire_iceberg_snapshots(t.path, keep_last=1) == []
    with pytest.raises(ValueError):
        expire_iceberg_snapshots(t.path, keep_last=0)


def test_expire_keeps_shared_position_delete_artifacts(spark, tmp_path):
    """A delete parquet referenced by BOTH a dropped and a kept snapshot
    must survive expiry (the kept snapshot's manifests still point at
    it)."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        expire_iceberg_snapshots,
    )

    t = _mk(spark, tmp_path, n=60)
    t.delete_where("k % 4 = 1", mode="dv")
    t.to_iceberg()  # snapshot A: carries delete file D
    t.append(
        spark.createDataFrame([(200, 3.0, "a")], "k int, amt double, g string")
    )
    t.to_iceberg()  # snapshot B: same live DVs -> new delete file D'
    removed = expire_iceberg_snapshots(t.path, keep_last=1)
    assert removed  # A's manifest list at minimum
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())


# ------------------------------------------------- schema evolution


def test_schema_evolution_appends_schemas_with_stable_ids(spark, tmp_path):
    """Spec 'Schema Evolution': a changed field list APPENDS a schema
    with a fresh schema-id; field ids stay stable (rename keeps the id,
    add mints last-column-id+1, dropped ids are never reused); each
    snapshot reads under ITS schema."""
    t = _mk(spark, tmp_path)
    t.to_iceberg()  # schema 0: k(1), amt(2), g(3)
    t.add_column("note", "string")
    t.append(
        spark.createDataFrame(
            [(100, 1.0, "a", "n1")], "k int, amt double, g string, note string"
        )
    )
    t.to_iceberg()  # schema 1: + note(4)
    t.rename_column("note", "comment")
    t.to_iceberg()  # schema 2: comment keeps id 4
    md = json.load(
        open(os.path.join(t.path, "metadata", "v3.metadata.json"))
    )
    schemas = {s["schema-id"]: s["fields"] for s in md["schemas"]}
    assert sorted(schemas) == [0, 1, 2]
    assert [f["name"] for f in schemas[0]] == ["k", "amt", "g"]
    assert [f["id"] for f in schemas[0]] == [1, 2, 3]
    assert schemas[1][3] == {
        "id": 4, "name": "note", "required": False, "type": "string"
    }
    # rename kept id 4 under the new logical name
    assert schemas[2][3]["id"] == 4 and schemas[2][3]["name"] == "comment"
    assert md["last-column-id"] == 4
    assert md["current-schema-id"] == 2
    # snapshots reference THEIR schema
    by_sid = {s["snapshot-id"]: s["schema-id"] for s in md["snapshots"]}
    assert list(by_sid.values()) == [0, 1, 2]
    # the name mapping binds id 4 to the stable PHYSICAL name
    nmap = {
        e["field-id"]: e["names"]
        for e in json.loads(md["properties"]["schema.name-mapping.default"])
    }
    assert nmap[4][0] == "comment" and nmap[4][-1] == "note"
    # old snapshot reads under the OLD schema (no 'note'/'comment')
    first = min(by_sid)
    old = read_iceberg_snapshot(spark, t.path, snapshot_id=first)
    assert old.columns == ["k", "amt", "g"]
    assert len(old.collect()) == 40
    # current snapshot carries the renamed column with its values
    cur = read_iceberg_snapshot(spark, t.path)
    got = {r["k"]: r["comment"] for r in cur.collect()}
    assert got[100] == "n1" and got[0] is None


def test_schema_evolution_drop_never_reuses_ids(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.to_iceberg()
    t.drop_column("amt")
    t.to_iceberg()
    t.add_column("amt", "double")  # re-add same LOGICAL name
    t.to_iceberg()
    md = json.load(
        open(os.path.join(t.path, "metadata", "v3.metadata.json"))
    )
    cur = next(
        s
        for s in md["schemas"]
        if s["schema-id"] == md["current-schema-id"]
    )
    ids = {f["name"]: f["id"] for f in cur["fields"]}
    # the re-added amt is a NEW field id, not the dropped 2
    assert ids["amt"] == 4 and md["last-column-id"] == 4


def test_type_widening_appends_schema_same_field_id(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.to_iceberg()
    t.set_properties({"delta.enableTypeWidening": "true"})
    t.alter_column_type("k", "bigint")  # int -> long: legal in Iceberg
    t.append(
        spark.createDataFrame(
            [(5_000_000_000, 9.0, "a")], "k bigint, amt double, g string"
        )
    )
    t.to_iceberg()
    md = json.load(
        open(os.path.join(t.path, "metadata", "v2.metadata.json"))
    )
    assert len(md["schemas"]) == 2
    s0, s1 = md["schemas"]
    assert s0["fields"][0]["type"] == "int"
    assert s1["fields"][0] == {
        "id": 1, "name": "k", "required": False, "type": "long"
    }
    got = read_iceberg_snapshot(spark, t.path)
    assert got.schema["k"].dataType.simpleString() == "bigint"
    assert {r["k"] for r in got.collect()} >= {5_000_000_000, 0, 39}


def test_manifest_reuse_append_only_refresh(spark, tmp_path):
    """Spec 'Manifest Lists': manifests may be carried forward — an
    append-only refresh references the prior data manifest VERBATIM and
    writes one fresh manifest holding only the new files, so refresh
    cost is O(changed files), not O(live files)."""
    t = _mk(spark, tmp_path)
    t.to_iceberg()
    md1 = json.load(
        open(os.path.join(t.path, "metadata", "v1.metadata.json"))
    )
    _s, _m, mfs1 = read_avro_container(
        md1["snapshots"][-1]["manifest-list"]
    )
    first_manifest = mfs1[0]["manifest_path"]
    t.append(
        spark.createDataFrame([(100, 1.0, "c")], "k int, amt double, g string")
    )
    t.to_iceberg()
    md2 = json.load(
        open(os.path.join(t.path, "metadata", "v2.metadata.json"))
    )
    _s2, _m2, mfs2 = read_avro_container(
        md2["snapshots"][-1]["manifest-list"]
    )
    assert len(mfs2) == 2
    # the first manifest rides along untouched (same path, same counts)
    assert mfs2[0]["manifest_path"] == first_manifest
    assert mfs2[0]["added_files_count"] == mfs1[0]["added_files_count"]
    # the fresh manifest holds ONLY the appended file
    _ms, _mm, fresh = read_avro_container(mfs2[1]["manifest_path"])
    assert len(fresh) == 1 and fresh[0]["status"] == 1
    assert fresh[0]["data_file"]["record_count"] == 1
    # summary still totals the whole table
    assert md2["snapshots"][-1]["summary"]["total-records"] == "41"
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())
    # a third append-only refresh carries BOTH prior manifests
    t.append(
        spark.createDataFrame([(101, 2.0, "d")], "k int, amt double, g string")
    )
    t.to_iceberg()
    md3 = json.load(
        open(os.path.join(t.path, "metadata", "v3.metadata.json"))
    )
    _s3, _m3, mfs3 = read_avro_container(
        md3["snapshots"][-1]["manifest-list"]
    )
    assert [mf["manifest_path"] for mf in mfs3[:2]] == [
        mf["manifest_path"] for mf in mfs2
    ]
    assert md3["snapshots"][-1]["summary"]["total-records"] == "42"


def test_manifest_reuse_expiry_keeps_shared_manifests(spark, tmp_path):
    """Expiring the OLD snapshot must not delete a manifest the CURRENT
    snapshot carries."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        expire_iceberg_snapshots,
    )

    t = _mk(spark, tmp_path)
    t.to_iceberg()
    t.append(
        spark.createDataFrame([(100, 1.0, "c")], "k int, amt double, g string")
    )
    t.to_iceberg()
    md2 = json.load(
        open(os.path.join(t.path, "metadata", "v2.metadata.json"))
    )
    _s, _m, mfs = read_avro_container(
        md2["snapshots"][-1]["manifest-list"]
    )
    shared = mfs[0]["manifest_path"]
    removed = expire_iceberg_snapshots(t.path, keep_last=1)
    assert removed  # the old manifest LIST at least
    assert os.path.exists(shared), "shared carried manifest was deleted"
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())


# ----------------------------------------------- per-column metrics


def _decode_bound(b, typ):
    import struct as _struct

    if typ == "int":
        return _struct.unpack("<i", b)[0]
    if typ == "long":
        return _struct.unpack("<q", b)[0]
    if typ == "double":
        return _struct.unpack("<d", b)[0]
    if typ == "string":
        return b.decode("utf-8")
    raise AssertionError(typ)


def test_manifest_column_metrics_match_files(spark, tmp_path):
    """The exported lower/upper bounds and counts must equal what an
    external engine would compute from the parquet files themselves —
    per file, per column, under the spec's single-value binary forms."""
    import pyarrow.parquet as pq

    t = _mk(spark, tmp_path, n=60)
    t.to_iceberg()
    md = json.load(
        open(os.path.join(t.path, "metadata", "v1.metadata.json"))
    )
    fields = {f["name"]: f for f in md["schemas"][0]["fields"]}
    _s, _m, mfs = read_avro_container(
        md["snapshots"][-1]["manifest-list"]
    )
    _ms, _mm, entries = read_avro_container(mfs[0]["manifest_path"])
    assert entries
    for e in entries:
        df = e["data_file"]
        tbl = pq.read_table(df["file_path"])
        n = tbl.num_rows
        vc = {kv["key"]: kv["value"] for kv in df["value_counts"]}
        nc = {kv["key"]: kv["value"] for kv in df["null_value_counts"]}
        lo = {kv["key"]: kv["value"] for kv in df["lower_bounds"]}
        hi = {kv["key"]: kv["value"] for kv in df["upper_bounds"]}
        for name, typ in (("k", "int"), ("amt", "double"), ("g", "string")):
            fid = fields[name]["id"]
            col = tbl.column(name).to_pylist()
            assert vc[fid] == n
            assert nc[fid] == sum(1 for v in col if v is None)
            assert _decode_bound(lo[fid], typ) == min(col)
            assert _decode_bound(hi[fid], typ) == max(col)


def test_manifest_metrics_prune_like_an_engine(spark, tmp_path):
    """Simulate an external engine's min/max file pruning on the
    exported bounds: candidates from the bounds alone, then a
    candidate-only read must equal the full filtered read — and the
    bounds must actually skip files for a selective range."""
    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.range(1000)
        .selectExpr("CAST(id AS INT) AS k", "CAST(id AS DOUBLE) AS amt")
        .repartitionByRange(8, "k"),
    )
    t.to_iceberg()
    md = json.load(
        open(os.path.join(t.path, "metadata", "v1.metadata.json"))
    )
    kid = next(
        f["id"] for f in md["schemas"][0]["fields"] if f["name"] == "k"
    )
    _s, _m, mfs = read_avro_container(
        md["snapshots"][-1]["manifest-list"]
    )
    _ms, _mm, entries = read_avro_container(mfs[0]["manifest_path"])
    lo_q, hi_q = 100, 180
    cand = []
    for e in entries:
        lo = {kv["key"]: kv["value"] for kv in e["data_file"]["lower_bounds"]}
        hi = {kv["key"]: kv["value"] for kv in e["data_file"]["upper_bounds"]}
        fmin = _decode_bound(lo[kid], "int")
        fmax = _decode_bound(hi[kid], "int")
        if fmax >= lo_q and fmin <= hi_q:
            cand.append(e["data_file"]["file_path"])
    assert 0 < len(cand) < len(entries), "selective range must skip files"
    got = {
        r["k"]
        for r in spark.read.parquet(*cand)
        .filter(f"k BETWEEN {lo_q} AND {hi_q}")
        .collect()
    }
    assert got == set(range(lo_q, hi_q + 1))


def test_reader_prunes_on_exported_metrics(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        _load_current_metadata,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.range(1000)
        .selectExpr("CAST(id AS INT) AS k", "CAST(id AS DOUBLE) AS amt")
        .repartitionByRange(8, "k"),
    )
    t.delete_where("k % 10 = 7", mode="dv")  # deletes still apply
    t.to_iceberg()
    full = read_iceberg_snapshot(spark, t.path)
    pruned = read_iceberg_snapshot(spark, t.path, prune=("k", 100, 180))
    # pruning bounds I/O, never the visible-row semantics of the range
    want = {r["k"] for r in full.filter("k BETWEEN 100 AND 180").collect()}
    got = {r["k"] for r in pruned.filter("k BETWEEN 100 AND 180").collect()}
    assert got == want and 77 not in got
    # and it actually skipped files: the pruned plan reads fewer paths
    n_full = len(full.inputFiles())
    n_pruned = len(pruned.inputFiles())
    assert 0 < n_pruned < n_full
    with pytest.raises(ValueError, match="prune column"):
        read_iceberg_snapshot(spark, t.path, prune=("zz", 0, 1))


def test_appends_between_snapshots(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        read_iceberg_appends,
    )

    t = _mk(spark, tmp_path)
    t.to_iceberg()
    s1 = t.version()
    t.append(
        spark.createDataFrame(
            [(100, 1.0, "c"), (101, 2.0, "c")],
            "k int, amt double, g string",
        )
    )
    t.to_iceberg()
    s2 = t.version()
    t.append(
        spark.createDataFrame([(102, 3.0, "d")], "k int, amt double, g string")
    )
    t.to_iceberg()
    s3 = t.version()
    # (s1, s2]: exactly the first append
    a12 = read_iceberg_appends(spark, t.path, s1, s2)
    assert {r["k"] for r in a12.collect()} == {100, 101}
    # (s1, s3]: both appends; (s2, s3]: just the second
    assert {
        r["k"] for r in read_iceberg_appends(spark, t.path, s1).collect()
    } == {100, 101, 102}
    assert {
        r["k"] for r in read_iceberg_appends(spark, t.path, s2, s3).collect()
    } == {102}
    # a COW delete in range refuses (rewritten files would double-count)
    t.delete_where("k = 0")
    t.to_iceberg()
    with pytest.raises(ValueError, match="append scan would double-count"):
        read_iceberg_appends(spark, t.path, s3)
    # a DV UPDATE of an already-published row makes the snapshot an
    # OVERWRITE — the export stamps it from the txlog's dvs deltas even
    # though no file was removed, and the append scan refuses (the
    # update's sliver would otherwise double-count the rewritten row;
    # review finding, round 12)
    t2 = _mk(spark, tmp_path / "dv")
    t2.to_iceberg()
    b1 = t2.version()
    t2.update_where("k = 2", {"amt": F.lit(99.0)}, mode="dv")
    t2.to_iceberg()
    with pytest.raises(ValueError, match="append scan would double-count"):
        read_iceberg_appends(spark, t2.path, b1)
    # append-then-vanish between exports is NET-EMPTY, not an overwrite:
    # a whole-file DV delete of a file the export never published leaves
    # prior rows untouched — the range legally reports zero appends
    t4 = _mk(spark, tmp_path / "net")
    t4.to_iceberg()
    d1 = t4.version()
    t4.append(
        spark.createDataFrame([(400, 1.0, "z")], "k int, amt double, g string")
    )
    t4.delete_where("k = 400", mode="dv")  # whole-file: plain remove
    t4.to_iceberg()
    assert read_iceberg_appends(spark, t4.path, d1).count() == 0
    # while an append landing on a table with UNCHANGED pre-existing
    # vectors is still an append: its new files carry no positions
    t3 = _mk(spark, tmp_path / "dv2")
    t3.delete_where("k % 10 = 3", mode="dv")
    t3.to_iceberg()
    c1 = t3.version()
    t3.append(
        spark.createDataFrame([(300, 5.0, "f")], "k int, amt double, g string")
    )
    t3.to_iceberg()
    got = read_iceberg_appends(spark, t3.path, c1)
    assert {r["k"] for r in got.collect()} == {300}


def test_convert_partitioned_int_column(spark, tmp_path):
    """Regression: the manifest-vs-hive partition cross-check must type
    the hive value under the ICEBERG type string (an int-partitioned
    adoption crashed when the check routed it through the Spark-name
    table)."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, float(k), k % 3) for k in range(30)],
            "k int, amt double, bucket int",
        ).repartition(2),
        partition_by=["bucket"],
    )
    want = set(map(tuple, t.read().select("k", "amt", "bucket").collect()))
    t.to_iceberg()
    _strip_txlog(t)
    t2 = convert_from_iceberg(spark, t.path)
    assert t2.partition_meta()[0] == ["bucket"]
    got = set(map(tuple, t2.read().select("k", "amt", "bucket").collect()))
    assert got == want


# -------------------------------------- external readers (env-gated)
# Mirrors the delta-rs / DuckDB-delta gates in test_deltalog_partitioned:
# no external Iceberg engine is installable in this sandbox (re-probed
# 2026-08-16: `import pyiceberg` ModuleNotFound; DuckDB `LOAD iceberg`
# fails — extensions.duckdb.org unreachable, no bundled binary). These
# define the conformance bar and run the moment an environment has one.


def test_pyiceberg_opens_exported_metadata(spark, tmp_path):
    pytest.importorskip(
        "pyiceberg", reason="pyiceberg not installed (no network in sandbox)"
    )
    from pyiceberg.table import StaticTable

    t = _mk(spark, tmp_path)
    ordinal = t.to_iceberg()
    tbl = StaticTable.from_metadata(
        os.path.join(t.path, "metadata", f"v{ordinal}.metadata.json")
    )
    arrow = tbl.scan().to_arrow()
    assert arrow.num_rows == 40
    assert set(arrow.column("k").to_pylist()) == set(range(40))


def test_pyiceberg_reads_nested_and_v3_dvs(spark, tmp_path):
    """Env-gated (probed round 13: no pyiceberg, no network): a REAL
    external reader over the round-13 surfaces — nested schema export
    and v3 Puffin deletion vectors. Runs the moment pyiceberg lands."""
    pytest.importorskip(
        "pyiceberg", reason="pyiceberg not installed (no network in sandbox)"
    )
    from pyiceberg.table import StaticTable

    nested = TxLogTable.create(
        spark,
        str(tmp_path / "n"),
        spark.createDataFrame(
            [(k, [k, k + 1], (k * 1.0, "t")) for k in range(30)],
            "k int, xs array<int>, s struct<w:double,tag:string>",
        ),
    )
    ordn = nested.to_iceberg()
    tb = StaticTable.from_metadata(
        os.path.join(nested.path, "metadata", f"v{ordn}.metadata.json")
    )
    arrow = tb.scan().to_arrow()
    assert arrow.num_rows == 30
    assert sorted(arrow.column("xs").to_pylist())[0] == [0, 1]

    dvt = _mk(spark, tmp_path, n=40)
    dvt.delete_where("k % 4 = 1", mode="dv")
    ordv = dvt.to_iceberg(format_version=3)
    tb3 = StaticTable.from_metadata(
        os.path.join(dvt.path, "metadata", f"v{ordv}.metadata.json")
    )
    arrow3 = tb3.scan().to_arrow()
    assert set(arrow3.column("k").to_pylist()) == {
        k for k in range(40) if k % 4 != 1
    }


def test_duckdb_iceberg_extension_reads_export(spark, tmp_path):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("LOAD iceberg")
    except Exception:
        pytest.skip(
            "DuckDB iceberg extension not installed (no network in sandbox)"
        )
    t = _mk(spark, tmp_path)
    t.to_iceberg()
    n, ksum = con.execute(
        f"SELECT COUNT(*), SUM(k) FROM iceberg_scan('{t.path}')"
    ).fetchone()
    assert n == 40 and ksum == sum(range(40))


# ------------------------------------------------- avro property fuzz


def test_avro_container_roundtrip_fuzz(tmp_path):
    """Property fuzz over the spec-built Avro container: arbitrary
    records under a schema exercising every branch the Iceberg
    metadata needs (union-null, nested record, array-of-record map
    encoding, bytes, string, int/long zigzag edges) must round-trip
    bit-exactly through write_avro_container/read_avro_container."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    schema = {
        "type": "record",
        "name": "fuzz",
        "fields": [
            {"name": "a", "type": ["null", "long"]},
            {"name": "s", "type": "string"},
            {"name": "b", "type": ["null", "bytes"]},
            {
                "name": "kv",
                "type": [
                    "null",
                    {
                        "type": "array",
                        "logicalType": "map",
                        "items": {
                            "type": "record",
                            "name": "kv_e",
                            "fields": [
                                {"name": "key", "type": "int"},
                                {"name": "value", "type": "bytes"},
                            ],
                        },
                    },
                ],
            },
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [
                        {"name": "x", "type": "double"},
                        {"name": "flag", "type": "boolean"},
                    ],
                },
            },
        ],
    }
    longs = st.one_of(
        st.none(),
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
    )
    recs = st.lists(
        st.fixed_dictionaries(
            {
                "a": longs,
                "s": st.text(max_size=40),
                "b": st.one_of(st.none(), st.binary(max_size=24)),
                "kv": st.one_of(
                    st.none(),
                    st.lists(
                        st.fixed_dictionaries(
                            {
                                "key": st.integers(
                                    min_value=-(2**31), max_value=2**31 - 1
                                ),
                                "value": st.binary(max_size=8),
                            }
                        ),
                        max_size=5,
                    ),
                ),
                "nested": st.fixed_dictionaries(
                    {
                        "x": st.floats(
                            allow_nan=False, allow_infinity=False
                        ),
                        "flag": st.booleans(),
                    }
                ),
            }
        ),
        max_size=8,
    )
    counter = iter(range(10**6))

    @settings(max_examples=60, deadline=None)
    @given(recs=recs)
    def check(recs):
        p = str(tmp_path / f"f{next(counter)}.avro")
        write_avro_container(p, schema, recs, meta={"m": "1"})
        _s, m, got = read_avro_container(p)
        assert m["m"] == "1"
        assert got == recs

    check()


def test_prune_on_date_partition_column(spark, tmp_path):
    """Regression: identity DATE partition values live in manifests as
    days-from-epoch ints; prune=(d, date, date) must compare them as
    dates against date bounds instead of raising TypeError."""
    import datetime

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [
                (k, datetime.date(2024, 1 + (k % 3), 1))
                for k in range(30)
            ],
            "k int, d date",
        ).repartition(2),
        partition_by=["d"],
    )
    t.to_iceberg()
    pruned = read_iceberg_snapshot(
        spark,
        t.path,
        prune=("d", datetime.date(2024, 2, 1), datetime.date(2024, 2, 28)),
    )
    assert len(pruned.inputFiles()) < len(
        read_iceberg_snapshot(spark, t.path).inputFiles()
    )
    got = {r["k"] for r in pruned.collect()}
    assert got == {k for k in range(30) if k % 3 == 1}


# ------------------------------------------------- round-13 advice fixes


def test_adoption_gate_survives_cleanup_log(spark, tmp_path):
    """cleanup_log truncating commit 0 must NOT bypass the to_iceberg
    adoption refusal: metadata-complete checkpoints re-stamp the
    converted_from_iceberg marker, and the gate scans the whole
    retained log — without this a txlog->iceberg->txlog roundtrip
    could append the new table's snapshots into the stale
    pre-adoption snapshot/sequence space (round-13 advice)."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )
    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        _CHECKPOINT_EVERY,
    )

    t = _mk(spark, tmp_path)
    t.to_iceberg()
    _strip_txlog(t)
    t2 = convert_from_iceberg(spark, t.path)
    # metadata-only commits up to a natural checkpoint, then truncate
    while t2.version() < _CHECKPOINT_EVERY:
        t2.set_properties({"probe": str(t2.version())})
    deleted = t2.cleanup_log(retain_versions=1)
    names = sorted(
        f for f in os.listdir(t2.log_dir) if f.endswith(".json")
    )
    assert deleted and int(names[0].split(".")[0]) > 0  # commit 0 gone
    with pytest.raises(
        ValueError, match="adopted via convert_from_iceberg"
    ):
        t2.to_iceberg()


def test_convert_adopts_current_schema_not_snapshots(spark, tmp_path):
    """A column added to the CURRENT schema after the last data-writing
    snapshot survives adoption: Iceberg scans resolve against the
    table's current-schema-id, so old files read NULL for the new
    column (round-13 advice)."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path)
    want = _rows(t.read())
    t.to_iceberg()
    _strip_txlog(t)
    meta = os.path.join(t.path, "metadata")
    with open(os.path.join(meta, "version-hint.text")) as fh:
        ordinal = int(fh.read().strip())
    mp = os.path.join(meta, f"v{ordinal}.metadata.json")
    md = json.load(open(mp))
    cur = next(
        s for s in md["schemas"]
        if s["schema-id"] == md["current-schema-id"]
    )
    new_id = int(md["last-column-id"]) + 1
    evolved = {
        "type": "struct",
        "schema-id": max(s["schema-id"] for s in md["schemas"]) + 1,
        "fields": cur["fields"]
        + [
            {
                "id": new_id,
                "name": "note",
                "required": False,
                "type": "string",
            }
        ],
    }
    md["schemas"] = md["schemas"] + [evolved]
    md["current-schema-id"] = evolved["schema-id"]
    md["last-column-id"] = new_id
    json.dump(md, open(mp, "w"))
    t2 = convert_from_iceberg(spark, t.path)
    got = t2.read()
    assert "note" in got.columns
    rows = got.collect()
    assert all(r["note"] is None for r in rows)
    assert _rows(got) == want


def test_convert_file_uri_paths(spark, tmp_path):
    """Real Iceberg writers record file:// URIs in manifests and
    position-delete files; adoption must normalize them for the
    table-root check AND the delete loop — a URI-spelled delete
    target silently skipped would resurrect rows (round-13 advice)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path, n=60)
    t.delete_where("k % 4 = 1", mode="dv")
    want = _rows(t.read())
    t.to_iceberg()
    _strip_txlog(t)
    meta = os.path.join(t.path, "metadata")
    with open(os.path.join(meta, "version-hint.text")) as fh:
        ordinal = int(fh.read().strip())
    md = json.load(
        open(os.path.join(meta, f"v{ordinal}.metadata.json"))
    )
    snap = next(
        s
        for s in md["snapshots"]
        if s["snapshot-id"] == md["current-snapshot-id"]
    )
    _s, _m, mfs = read_avro_container(snap["manifest-list"])
    for mf in mfs:
        ms, mm, entries = read_avro_container(mf["manifest_path"])
        for e in entries:
            df_ = e["data_file"]
            if df_.get("content", 0) == 1:
                # rewrite the position-delete parquet with URI paths
                tbl = pq.read_table(df_["file_path"])
                pq.write_table(
                    pa.table(
                        {
                            "file_path": pa.array(
                                [
                                    "file://" + p
                                    for p in tbl.column(
                                        "file_path"
                                    ).to_pylist()
                                ],
                                type=pa.string(),
                            ),
                            "pos": tbl.column("pos"),
                        }
                    ),
                    df_["file_path"],
                )
            df_["file_path"] = "file://" + df_["file_path"]
        write_avro_container(mf["manifest_path"], ms, entries, mm)
    t2 = convert_from_iceberg(spark, t.path)
    assert _rows(t2.read()) == want


# ---------------------------------------------- equality-delete adoption


def _append_foreign_equality_delete(
    table_path, del_table, equality_ids, seq
):
    """Simulate a FOREIGN Flink/CDC writer adding an equality-delete
    file (content=2) to an existing Iceberg layer."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        append_equality_delete,
    )

    append_equality_delete(table_path, del_table, equality_ids, seq)


def test_convert_equality_deletes_become_dvs(spark, tmp_path):
    """A foreign equality delete (content=2) applies at adoption as a
    null-safe value semi-join and re-encodes as the DV sidecar —
    merge-on-read CDC deletes survive adoption row-exactly."""
    import pyarrow as pa

    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path, n=60)
    t.to_iceberg()
    _strip_txlog(t)
    # delete every g='a' row via an equality delete on field id 3 (g),
    # landing at sequence number 2 (> the data files' seq 1)
    _append_foreign_equality_delete(
        t.path,
        pa.table({"g": pa.array(["a"], type=pa.string())}),
        equality_ids=[3],
        seq=2,
    )
    t2 = convert_from_iceberg(spark, t.path)
    got = _rows(t2.read())
    assert got == {(k, float(k), "b") for k in range(60) if k % 2 == 1}
    # surviving deletions landed as ONE DV sidecar, not rewritten files
    assert t2.version() == 0
    dvs = t2._replay_full()[2]
    assert dvs and all(d["pathkey"] == "rel" for d in dvs.values())


def test_convert_mixed_position_and_equality_deletes(spark, tmp_path):
    """Both delete shapes on one foreign table: position deletes from
    the DV export plus a foreign equality delete at a later sequence
    number — both fold into the same sidecar."""
    import pyarrow as pa

    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path, n=60)
    t.delete_where("k % 4 = 1", mode="dv")  # -> position deletes
    t.to_iceberg()
    _strip_txlog(t)
    _append_foreign_equality_delete(
        t.path,
        pa.table({"k": pa.array([0, 8, 999], type=pa.int32())}),
        equality_ids=[1],
        seq=5,
    )
    t2 = convert_from_iceberg(spark, t.path)
    got = {r[0] for r in _rows(t2.read())}
    assert got == {
        k for k in range(60) if k % 4 != 1 and k not in (0, 8)
    }


def test_convert_equality_delete_seq_rule(spark, tmp_path):
    """STRICTLY-below sequence rule: an equality delete at the same
    sequence number as the data files must NOT delete their rows (it
    only applies to older data — the spec's concurrent-write shape)."""
    import pyarrow as pa

    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path, n=20)
    t.to_iceberg()  # data files at sequence number 0 (create commit)
    _strip_txlog(t)
    _append_foreign_equality_delete(
        t.path,
        pa.table({"g": pa.array(["a"], type=pa.string())}),
        equality_ids=[3],
        seq=0,  # same seq as the data: applies to nothing
    )
    t2 = convert_from_iceberg(spark, t.path)
    assert len(_rows(t2.read())) == 20


def test_convert_equality_delete_refusals(spark, tmp_path):
    """Nested and partition-column equality ids refuse loudly."""
    import pyarrow as pa

    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path, partition_by=["g"])
    t.to_iceberg()
    _strip_txlog(t)
    _append_foreign_equality_delete(
        t.path,
        pa.table({"g": pa.array(["a"], type=pa.string())}),
        equality_ids=[3],
        seq=9,
    )
    with pytest.raises(NotImplementedError, match="partition column"):
        convert_from_iceberg(spark, t.path)


def test_convert_day_transform_adopts_unpartitioned(spark, tmp_path):
    """A days(ts)-partitioned foreign table adopts UNPARTITIONED (the
    source column lives in the data files), keeps every row, records
    the transform spec for provenance, and still PRUNES day-range
    scans through the footer envelopes stamped at adoption."""
    import datetime

    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = TxLogTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [
                (k, datetime.date(2024, 1, 1 + k // 10), float(k))
                for k in range(60)
            ],
            "k int, d date, amt double",
        ).repartitionByRange(6, "d"),
    )
    want = {
        (r["k"], r["d"], r["amt"]) for r in t.read().collect()
    }
    t.to_iceberg()
    _strip_txlog(t)
    mp = os.path.join(t.path, "metadata", "v1.metadata.json")
    md = json.load(open(mp))
    md["partition-specs"] = [
        {
            "spec-id": 0,
            "fields": [
                {
                    "name": "d_day",
                    "transform": "day",
                    "source-id": 2,
                    "field-id": 1000,
                }
            ],
        }
    ]
    md["default-spec-id"] = 0
    json.dump(md, open(mp, "w"))
    # the reader refuses (derived values can't reattach as columns)...
    with pytest.raises(NotImplementedError, match="non-identity"):
        read_iceberg_snapshot(spark, t.path)
    # ...but adoption works, unpartitioned
    t2 = convert_from_iceberg(spark, t.path)
    pby, _ps = t2.partition_meta()
    assert pby == []
    assert {
        (r["k"], r["d"], r["amt"]) for r in t2.read().collect()
    } == want
    # provenance marker carries the transform spec
    with open(
        os.path.join(t2.log_dir, "000000000000.json")
    ) as fh:
        c0 = json.load(fh)
    assert (
        c0["converted_from_iceberg"]["partition_transforms"][0][
            "transform"
        ]
        == "day"
    )
    # stats-pruned day-range scan reads fewer files than a full scan
    pruned = t2.read_where(
        "d", datetime.date(2024, 1, 3), datetime.date(2024, 1, 3)
    )
    assert 0 < len(pruned.inputFiles()) < len(t2.read().inputFiles())
    assert {r["k"] for r in pruned.collect()} >= {
        k for k in range(60) if 1 + k // 10 == 3
    }


def test_convert_transform_missing_source_column_refuses(
    spark, tmp_path
):
    """If the transform's source column is NOT in the data files
    (impossible for real Iceberg writers, but cheap to verify),
    unpartitioned adoption refuses instead of reading NULLs."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path)
    t.to_iceberg()
    _strip_txlog(t)
    mp = os.path.join(t.path, "metadata", "v1.metadata.json")
    md = json.load(open(mp))
    # schema gains a phantom column 'ts' (id 99) the files don't have;
    # the spec buckets on it
    md["schemas"][0]["fields"].append(
        {"id": 99, "name": "ts", "required": False, "type": "long"}
    )
    md["last-column-id"] = 99
    md["partition-specs"] = [
        {
            "spec-id": 0,
            "fields": [
                {
                    "name": "ts_bucket",
                    "transform": "bucket[4]",
                    "source-id": 99,
                    "field-id": 1000,
                }
            ],
        }
    ]
    json.dump(md, open(mp, "w"))
    with pytest.raises(ValueError, match="source column"):
        convert_from_iceberg(spark, t.path)


# --------------------------------------------------- iceberg v3 / puffin


def test_puffin_v3_dv_export_and_reader(spark, tmp_path):
    """format_version=3: DVs export as PUFFIN deletion-vector-v1 blobs
    (spec byte layout: BE length, magic D1 D3 39 64, portable 64-bit
    roaring bitmap, BE CRC-32) referenced per data file from the
    delete manifest; the independent reader anti-joins them exactly."""
    import struct as _struct

    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        read_puffin_dv_file,
    )
    from airbnb_listings_data_pipelines_spark.operators.txlog import (
        TxLogTable as _T,
    )

    t = _mk(spark, tmp_path, n=60)
    t.delete_where("k % 5 = 1", mode="dv")
    t.update_where("k = 2", {"amt": F.lit(99.0)}, mode="dv")
    assert t.to_iceberg(format_version=3) == 1
    md = json.load(
        open(os.path.join(t.path, "metadata", "v1.metadata.json"))
    )
    assert md["format-version"] == 3
    assert "next-row-id" in md
    snap = md["snapshots"][-1]
    assert snap["first-row-id"] == 0
    assert int(snap["summary"]["total-position-deletes"]) > 0
    _s, _m, mfs = read_avro_container(snap["manifest-list"])
    delm = next(m for m in mfs if m["content"] == 1)
    _ms, _mm, entries = read_avro_container(delm["manifest_path"])
    # one DV entry per referenced data file, all into ONE puffin file
    puffins = {e["data_file"]["file_path"] for e in entries}
    assert len(puffins) == 1 and all(
        p.endswith(".puffin") for p in puffins
    )
    refs = {
        e["data_file"]["referenced_data_file"]: (
            e["data_file"]["content_offset"],
            e["data_file"]["content_size_in_bytes"],
            e["data_file"]["record_count"],
        )
        for e in entries
    }
    assert len(refs) == len(entries) and len(refs) >= 1
    pf = next(iter(puffins))
    raw = open(pf, "rb").read()
    assert raw[:4] == b"PFA1" and raw[-4:] == b"PFA1"
    # manifest framing: blob starts with BE length then D1 D3 39 64
    for ref, (off, ln, card) in refs.items():
        (vlen,) = _struct.unpack_from(">i", raw, off)
        assert 4 + vlen + 4 == ln
        assert raw[off + 4 : off + 8] == b"\xd1\xd3\x39\x64"
    # footer-path reader agrees with the manifest + the txlog DV state
    blobs = read_puffin_dv_file(pf)
    assert set(blobs) == set(refs)
    _v, _files, dvs = t._replay_full()
    assert sum(len(v) for v in blobs.values()) == sum(
        d["cardinality"] for d in dvs.values()
    )
    # end to end: independent snapshot reader == native read
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())


def test_v3_upgrade_allowed_downgrade_refused(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.to_iceberg()  # v2
    t.append(
        spark.createDataFrame(
            [(100, 1.0, "c")], "k int, amt double, g string"
        )
    )
    assert t.to_iceberg(format_version=3) == 2  # upgrade appends
    md = json.load(
        open(os.path.join(t.path, "metadata", "v2.metadata.json"))
    )
    assert md["format-version"] == 3
    assert len(md["snapshots"]) == 2
    t.append(
        spark.createDataFrame(
            [(101, 2.0, "d")], "k int, amt double, g string"
        )
    )
    # unset format_version inherits the prior export's (3)
    assert t.to_iceberg() == 3
    md3 = json.load(
        open(os.path.join(t.path, "metadata", "v3.metadata.json"))
    )
    assert md3["format-version"] == 3
    # row-id ranges advance by added rows
    assert md3["next-row-id"] > md["next-row-id"]
    t.append(
        spark.createDataFrame(
            [(102, 3.0, "e")], "k int, amt double, g string"
        )
    )
    with pytest.raises(ValueError, match="downgrade"):
        t.to_iceberg(format_version=2)
    assert t.to_iceberg(format_version=3) == 4
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())


def test_convert_v3_puffin_dvs_roundtrip(spark, tmp_path):
    """v3 export with DVs -> strip txlog -> adopt: the Puffin blobs
    decode through the MANIFEST framing back into a txlog DV sidecar,
    row-exactly."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path, n=60)
    t.delete_where("k % 4 = 1", mode="dv")
    want = _rows(t.read())
    t.to_iceberg(format_version=3)
    _strip_txlog(t)
    t2 = convert_from_iceberg(spark, t.path)
    assert _rows(t2.read()) == want
    dvs = t2._replay_full()[2]
    assert dvs and all(d["pathkey"] == "rel" for d in dvs.values())


def test_v3_via_table_property_and_expiry_gc(spark, tmp_path):
    """iceberg.format-version='3' as a TABLE PROPERTY drives the first
    export (UniForm-style: declarative, no code change), and
    expire_iceberg_snapshots garbage-collects a dropped snapshot's
    Puffin DV file exactly like v2's delete parquets."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        expire_iceberg_snapshots,
    )

    t = _mk(spark, tmp_path, n=40)
    t.set_properties({"iceberg.format-version": "3"})
    t.delete_where("k % 4 = 1", mode="dv")
    t.to_iceberg()  # property-driven v3
    md = json.load(
        open(os.path.join(t.path, "metadata", "v1.metadata.json"))
    )
    assert md["format-version"] == 3
    meta_dir = os.path.join(t.path, "metadata")
    puffins_v1 = {
        f for f in os.listdir(meta_dir) if f.endswith(".puffin")
    }
    assert len(puffins_v1) == 1
    # second snapshot rewrites the DV state into a fresh puffin
    t.delete_where("k % 4 = 2", mode="dv")
    t.to_iceberg()
    puffins_v2 = {
        f for f in os.listdir(meta_dir) if f.endswith(".puffin")
    }
    assert len(puffins_v2) == 2
    removed = expire_iceberg_snapshots(t.path, keep_last=1)
    # the old snapshot's puffin is gone, the current one survives
    left = {f for f in os.listdir(meta_dir) if f.endswith(".puffin")}
    assert len(left) == 1 and left < puffins_v2
    assert any(p.endswith(".puffin") for p in removed)
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())


def test_manifest_list_partition_summaries_prune_manifests(
    spark, tmp_path
):
    """The manifest-list's field_summary (contains_null, lower/upper
    bounds per partition field) lets the reader skip WHOLE manifests
    before decoding an entry — verified by poisoning the out-of-range
    manifest file on disk: a pruned read succeeds (never opened), a
    full read raises."""
    t = _mk(spark, tmp_path, partition_by=["g"])
    t.to_iceberg()
    # second export after an append into ONE partition: the fresh
    # manifest covers only g='c'
    t.append(
        spark.createDataFrame(
            [(100 + i, 1.0, "c") for i in range(5)],
            "k int, amt double, g string",
        )
    )
    t.to_iceberg()
    md = json.load(
        open(os.path.join(t.path, "metadata", "v2.metadata.json"))
    )
    snap = md["snapshots"][-1]
    _s, _m, mfs = read_avro_container(snap["manifest-list"])
    with_summary = [
        m for m in mfs if m["content"] == 0 and m.get("partitions")
    ]
    assert with_summary, "fresh manifests must carry field summaries"
    fresh = next(
        m
        for m in with_summary
        if m["partitions"][0].get("lower_bound") == b"c"
    )
    assert fresh["partitions"][0]["upper_bound"] == b"c"
    assert fresh["partitions"][0]["contains_null"] is False
    # prune to g='a': the g='c' manifest must not even be OPENED
    rows_a = {
        r["k"]
        for r in read_iceberg_snapshot(
            spark, t.path, prune=("g", "a", "a")
        ).collect()
    }
    assert rows_a >= {k for k in range(40) if k % 2 == 0}
    os.rename(fresh["manifest_path"], fresh["manifest_path"] + ".bak")
    try:
        pruned = read_iceberg_snapshot(
            spark, t.path, prune=("g", "a", "a")
        )
        assert {r["k"] for r in pruned.collect()} == rows_a
        with pytest.raises(FileNotFoundError):
            read_iceberg_snapshot(spark, t.path)
    finally:
        os.rename(
            fresh["manifest_path"] + ".bak", fresh["manifest_path"]
        )


def test_metadata_file_retention_property(spark, tmp_path):
    """write.metadata.delete-after-commit.enabled +
    previous-versions-max trim metadata/ to the newest N history
    files; snapshots and the current file are untouched."""
    t = _mk(spark, tmp_path)
    t.set_properties(
        {
            "write.metadata.delete-after-commit.enabled": "true",
            "write.metadata.previous-versions-max": "2",
        }
    )
    for i in range(5):
        t.append(
            spark.createDataFrame(
                [(1000 + i, 1.0, "z")], "k int, amt double, g string"
            )
        )
        t.to_iceberg()
    meta = os.path.join(t.path, "metadata")
    have = sorted(
        f for f in os.listdir(meta) if f.endswith(".metadata.json")
    )
    with open(os.path.join(meta, "version-hint.text")) as fh:
        ordinal = int(fh.read().strip())
    md = json.load(
        open(os.path.join(meta, f"v{ordinal}.metadata.json"))
    )
    assert len(md["metadata-log"]) == 2
    # only the retained history files + the current one survive
    kept = {
        os.path.basename(e["metadata-file"]) for e in md["metadata-log"]
    } | {f"v{ordinal}.metadata.json"}
    assert set(have) == kept
    # every snapshot still reads (snapshots don't live in old vK files)
    assert len(md["snapshots"]) == 5
    assert _rows(read_iceberg_snapshot(spark, t.path)) == _rows(t.read())


def test_convert_v3_puffin_partitioned(spark, tmp_path):
    """v3 DVs on a hive-partitioned table survive adoption: blob
    references carry the partition dirs in their paths and re-key to
    relative txlog paths."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path, n=60, partition_by=["g"])
    t.delete_where("k % 4 = 1", mode="dv")
    want = _rows(t.read())
    t.to_iceberg(format_version=3)
    _strip_txlog(t)
    t2 = convert_from_iceberg(spark, t.path)
    assert _rows(t2.read()) == want
    pby, _ = t2.partition_meta()
    assert pby == ["g"]


def test_convert_equality_deletes_column_mapped(spark, tmp_path):
    """Equality deletes against a COLUMN-MAPPED foreign table: the
    delete parquet carries LOGICAL names, the data files physical
    ones — the semi-join must bridge through the name mapping."""
    import pyarrow as pa

    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        convert_from_iceberg,
    )

    t = _mk(spark, tmp_path, n=40)
    t.rename_column("g", "grp")  # physical stays 'g'
    t.to_iceberg()
    _strip_txlog(t)
    # field ids: k=1, amt=2, grp=3 (stable under rename)
    _append_foreign_equality_delete(
        t.path,
        pa.table({"grp": pa.array(["a"], type=pa.string())}),
        equality_ids=[3],
        seq=9,
    )
    t2 = convert_from_iceberg(spark, t.path)
    got = {
        (r["k"], r["grp"]) for r in t2.read().collect()
    }
    assert got == {(k, "b") for k in range(40) if k % 2 == 1}


def test_v3_row_lineage_explicit_ids(spark, tmp_path):
    """v3 row lineage, explicit-everywhere form: every data_file
    carries first_row_id; ADDED files consume the snapshot's budget in
    deterministic order, EXISTING files keep their range; _row_id =
    first_row_id + position is stable across appends and DV DML and
    dense over everything ever added."""
    t = _mk(spark, tmp_path, n=40)
    t.to_iceberg(format_version=3)
    ids1 = {
        r["k"]: r["_row_id"]
        for r in read_iceberg_snapshot(
            spark, t.path, with_row_ids=True
        ).collect()
    }
    assert len(ids1) == 40 and len(set(ids1.values())) == 40
    assert min(ids1.values()) == 0 and max(ids1.values()) == 39
    t.append(
        spark.createDataFrame(
            [(100 + i, 1.0, "c") for i in range(10)],
            "k int, amt double, g string",
        )
    )
    t.to_iceberg()
    t.delete_where("k % 4 = 1", mode="dv")
    t.to_iceberg()
    got = {
        r["k"]: r["_row_id"]
        for r in read_iceberg_snapshot(
            spark, t.path, with_row_ids=True
        ).collect()
    }
    # survivors keep their snapshot-1 ids (DV gaps preserved)
    for k, rid in ids1.items():
        if k % 4 != 1:
            assert got[k] == rid
    # surviving appended rows hold ids from the 40..49 budget (three
    # of the ten appended keys — 101/105/109 — were DV-deleted, and
    # their ids stay as gaps), all live ids distinct
    app_ids = {got[k] for k in got if k >= 100}
    assert len(app_ids) == 7 and app_ids < set(range(40, 50))
    assert len(set(got.values())) == len(got)
    md = json.load(
        open(os.path.join(t.path, "metadata", "v3.metadata.json"))
    )
    assert md["next-row-id"] == 50
    assert [s.get("first-row-id") for s in md["snapshots"]] == [
        0,
        40,
        50,
    ]
    # v2 metadata refuses
    t2 = _mk(spark, tmp_path / "v2", n=10)
    t2.to_iceberg()
    with pytest.raises(ValueError, match="first_row_id"):
        read_iceberg_snapshot(spark, t2.path, with_row_ids=True)


def test_v3_upgrade_relists_with_row_ids(spark, tmp_path):
    """The 2->3 upgrade export re-lists EVERY live file with an
    explicit first_row_id (no v2-era manifest without ids is carried)
    — the one O(live files) backfill, Delta's row-tracking enablement
    shape."""
    t = _mk(spark, tmp_path, n=40)
    t.to_iceberg()  # v2
    t.append(
        spark.createDataFrame(
            [(200, 1.0, "d")], "k int, amt double, g string"
        )
    )
    t.to_iceberg(format_version=3)  # upgrade
    md = json.load(
        open(os.path.join(t.path, "metadata", "v2.metadata.json"))
    )
    snap = md["snapshots"][-1]
    _s, _m, mfs = read_avro_container(snap["manifest-list"])
    data_entries = []
    for mf in mfs:
        if mf.get("content", 0) != 0:
            continue
        _ms, _mm, es = read_avro_container(mf["manifest_path"])
        data_entries += [e for e in es if e["status"] != 2]
    assert data_entries
    assert all(
        e["data_file"].get("first_row_id") is not None
        for e in data_entries
    )
    ids = {
        r["k"]: r["_row_id"]
        for r in read_iceberg_snapshot(
            spark, t.path, with_row_ids=True
        ).collect()
    }
    assert len(set(ids.values())) == 41
    # later exports KEEP the upgrade-assigned ids (carried manifests)
    t.append(
        spark.createDataFrame(
            [(201, 2.0, "e")], "k int, amt double, g string"
        )
    )
    t.to_iceberg()
    ids2 = {
        r["k"]: r["_row_id"]
        for r in read_iceberg_snapshot(
            spark, t.path, with_row_ids=True
        ).collect()
    }
    for k, rid in ids.items():
        assert ids2[k] == rid


def test_reader_resolves_current_schema_for_current_read(spark, tmp_path):
    """read_iceberg_snapshot twin of the adoption fix (round-13 advice,
    reader side): a column added to the current schema AFTER the last
    data-writing snapshot appears (as NULLs) on a current-snapshot
    read, while an EXPLICIT time-travel read keeps the snapshot's own
    schema — Iceberg's scan semantics."""
    from airbnb_listings_data_pipelines_spark.operators.iceberg import (
        read_iceberg_snapshot,
    )

    t = _mk(spark, tmp_path)
    want = _rows(t.read())
    t.to_iceberg()
    meta = os.path.join(t.path, "metadata")
    with open(os.path.join(meta, "version-hint.text")) as fh:
        ordinal = int(fh.read().strip())
    mp = os.path.join(meta, f"v{ordinal}.metadata.json")
    md = json.load(open(mp))
    cur = next(
        s for s in md["schemas"]
        if s["schema-id"] == md["current-schema-id"]
    )
    new_id = int(md["last-column-id"]) + 1
    evolved = {
        "type": "struct",
        "schema-id": max(s["schema-id"] for s in md["schemas"]) + 1,
        "fields": cur["fields"]
        + [{"id": new_id, "name": "note", "required": False,
            "type": "string"}],
    }
    md["schemas"] = md["schemas"] + [evolved]
    md["current-schema-id"] = evolved["schema-id"]
    md["last-column-id"] = new_id
    json.dump(md, open(mp, "w"))
    got = read_iceberg_snapshot(spark, t.path)
    assert "note" in got.columns
    assert all(r["note"] is None for r in got.collect())
    assert _rows(got.drop("note")) == want
    # explicit time travel to the same snapshot: the snapshot's schema
    tt = read_iceberg_snapshot(
        spark, t.path, snapshot_id=md["current-snapshot-id"]
    )
    assert "note" not in tt.columns
    assert _rows(tt) == want
