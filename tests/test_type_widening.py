"""Type widening (Delta's ``typeWidening`` reader+writer table feature):
``ALTER TABLE ... ALTER COLUMN c TYPE <wider>`` is a METADATA-ONLY
commit — existing files keep their narrow physical type and readers
upcast at scan time (Spark 4's parquet reader resolves int32 under a
LONG/DOUBLE/DECIMAL requested schema natively; verified by probe).
Gated on the ``delta.enableTypeWidening`` property like Delta; the
change rides the field's ``delta.typeChanges`` metadata; time travel
reads earlier versions under their own (narrow) recorded schema.
"""
from __future__ import annotations

import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from airbnb_listings_data_pipelines_spark.operators.txlog import (
    TxLogTable,
    merge_into_txlog,
)


def _mk(spark, tmp_path, name="t"):
    t = TxLogTable.create(
        spark,
        str(tmp_path / name),
        spark.createDataFrame(
            [(k, float(k), k * 10) for k in range(10)],
            "k int, v float, c smallint",
        ).repartition(2),
    )
    t.set_properties({"delta.enableTypeWidening": "true"})
    return t


def test_widen_then_mixed_files_read_and_dml(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.alter_column_type("k", "bigint")
    t.alter_column_type("v", "double")
    t.alter_column_type("c", "decimal(12,2)")
    assert dict(t.read().dtypes) == {
        "k": "bigint", "v": "double", "c": "decimal(12,2)"
    }
    # values beyond the old type's range land alongside the narrow files
    t.append(
        spark.createDataFrame(
            [(10_000_000_000, 1.5, Decimal("99999999.25"))],
            "k bigint, v double, c decimal(12,2)",
        )
    )
    assert t.read().count() == 11
    assert t.read().filter("k > 2147483647").count() == 1
    # DML across mixed narrow/wide files
    t.delete_where("k = 3")
    t.update_where("k = 4", {"v": F.col("v") + 0.5})
    merge_into_txlog(
        spark,
        t,
        spark.createDataFrame(
            [(5, 100.0, Decimal("1.00")), (77, 2.0, Decimal("3.00"))],
            "k bigint, v double, c decimal(12,2)",
        ),
        ["k"],
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert 3 not in got and got[4] == 4.5 and got[5] == 100.0 and 77 in got
    # the field metadata records the change (Delta's representation)
    sj = json.loads(t._snapshot().schema)
    tc = next(f for f in sj["fields"] if f["name"] == "k")["metadata"][
        "delta.typeChanges"
    ]
    assert tc[0]["fromType"] == "int" and tc[0]["toType"] == "bigint"


def test_time_travel_reads_narrow_schema(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v_narrow = t.version()
    t.alter_column_type("k", "bigint")
    from airbnb_listings_data_pipelines_spark.operators.logfold import (
        schema_json_at,
    )
    from pyspark.sql.types import StructType

    old = StructType.fromJson(
        json.loads(schema_json_at(t.log_dir, v_narrow))
    )
    assert old["k"].dataType.typeName() == "integer"
    now = StructType.fromJson(json.loads(t._snapshot().schema))
    assert now["k"].dataType.typeName() == "long"


def test_widening_matrix_refusals(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for col, bad in (
        ("k", "int"),          # same type
        ("k", "smallint"),     # narrowing
        ("v", "float"),        # same
        ("k", "string"),       # cross-family
        ("v", "decimal(20,2)"),  # float -> decimal is not in the matrix
        ("c", "decimal(4,2)"),   # integer digits would shrink (5 needed)
    ):
        with pytest.raises(ValueError, match="WIDENING"):
            t.alter_column_type(col, bad)
    with pytest.raises(ValueError, match="does not exist"):
        t.alter_column_type("zz", "bigint")
    # decimal growth obeys Delta's rule (digits never shrink)
    t.alter_column_type("c", "decimal(12,2)")
    t.alter_column_type("c", "decimal(14,4)")
    with pytest.raises(ValueError, match="WIDENING"):
        t.alter_column_type("c", "decimal(14,5)")


def test_property_gate_and_special_columns(spark, tmp_path):
    t = TxLogTable.create(
        spark,
        str(tmp_path / "p"),
        spark.createDataFrame([(1, 2)], "a int, b int"),
        generated={"g": "CAST(a % 3 AS INT)"},
        identity={"rid": (1, 1)},
    )
    with pytest.raises(ValueError, match="delta.enableTypeWidening"):
        t.alter_column_type("a", "bigint")
    t.set_properties({"delta.enableTypeWidening": "true"})
    with pytest.raises(ValueError, match="BIGINT"):
        t.alter_column_type("rid", "decimal(22,0)")
    with pytest.raises(ValueError, match="generation expression"):
        t.alter_column_type("g", "bigint")
    # widening a generation SOURCE is fine (the expr casts its result)
    t.alter_column_type("a", "bigint")
    t.append(spark.createDataFrame([(5_000_000_000, 7)], "a bigint, b int"))
    rows = {r["a"]: r["g"] for r in t.read().collect()}
    assert rows[5_000_000_000] == 5_000_000_000 % 3
    # partition columns refuse
    t2 = TxLogTable.create(
        spark,
        str(tmp_path / "q"),
        spark.createDataFrame([(1, 2)], "a int, b int"),
        partition_by=["a"],
    )
    t2.set_properties({"delta.enableTypeWidening": "true"})
    with pytest.raises(ValueError, match="partition"):
        t2.alter_column_type("a", "bigint")


def test_export_and_sql_surface(spark, tmp_path):
    from airbnb_listings_data_pipelines_spark.functions.tx_sql import (
        TxSqlSession,
    )
    from airbnb_listings_data_pipelines_spark.operators.deltalog import (
        export_delta_log,
        read_delta_snapshot,
    )

    t = _mk(spark, tmp_path)
    t.alter_column_type("k", "bigint")
    t.append(
        spark.createDataFrame(
            [(10_000_000_000, 1.0, 1)], "k bigint, v float, c smallint"
        )
    )
    export_delta_log(spark, t)
    snap = read_delta_snapshot(spark, t.path)
    assert sorted(map(tuple, snap.collect())) == sorted(
        map(tuple, t.read().collect())
    )
    dd = os.path.join(t.path, "_delta_log")
    protos = []
    for f in sorted(os.listdir(dd)):
        if f.endswith(".json") and f.count(".") == 1:
            for line in open(os.path.join(dd, f)):
                a = json.loads(line)
                if "protocol" in a:
                    protos.append(a["protocol"])
                if "metaData" in a:
                    cfg = a["metaData"]["configuration"]
    assert "typeWidening" in (protos[-1].get("readerFeatures") or [])
    assert "typeWidening" in (protos[-1].get("writerFeatures") or [])
    assert cfg.get("delta.enableTypeWidening") == "true"
    # the exported schemaString carries the typeChanges metadata
    sess = TxSqlSession(spark, {"s": str(tmp_path / "s")})
    sess.execute("CREATE TABLE s (a INT, b FLOAT)")
    sess.execute("INSERT INTO s VALUES (1, CAST(1.5 AS FLOAT))")
    sess.execute(
        "ALTER TABLE s SET TBLPROPERTIES ('delta.enableTypeWidening' = 'true')"
    )
    sess.execute("ALTER TABLE s ALTER COLUMN a TYPE BIGINT")
    sess.execute("INSERT INTO s VALUES (20000000000, CAST(2.5 AS FLOAT))")
    assert sorted(
        map(tuple, sess.execute("SELECT * FROM s").collect())
    ) == [(1, 1.5), (20000000000, 2.5)]
