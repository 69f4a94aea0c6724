"""Schema registry: versioning + key-set evolution semantics
(SURVEY §1.3), including the evolution scenario observed in the
reference's shipped etl_data.db (text-schema -> CSV-schema bump).
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamic_etl_pipeline_spark.ingest import read_csv, read_txt
from dynamic_etl_pipeline_spark.schema_registry import (
    _CHANGES_SCHEMA,
    _HISTORY_SCHEMA,
    SchemaRegistry,
)


def schema_of(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


# the reference app's shipped database; absent outside a reference checkout
_REFERENCE_DB = Path("/root/reference/etl_data.db")


def test_first_registration_is_v1(spark, tmp_path):
    reg = SchemaRegistry(spark, str(tmp_path))
    version, changed = reg.register(schema_of("a", "b"))
    assert (version, changed) == (1, True)
    assert reg.latest()[0] == 1
    assert reg.changes().count() == 0


def test_same_keyset_does_not_bump(spark, tmp_path):
    reg = SchemaRegistry(spark, str(tmp_path))
    reg.register(schema_of("a", "b"))
    # same keys, different type: key-set rule says no bump (app.py:339-350)
    typed = T.StructType([
        T.StructField("a", T.LongType()), T.StructField("b", T.StringType()),
    ])
    version, changed = reg.register(typed)
    assert (version, changed) == (1, False)
    assert reg.history().count() == 1


def test_keyset_change_bumps_and_logs(spark, tmp_path):
    """The bump writes one row to each catalog table with pyarrow:
    no Spark job, where a DataFrame write costs one job per table."""
    reg = SchemaRegistry(spark, str(tmp_path))
    reg.register(schema_of("a", "b"))
    sc = spark.sparkContext
    group = "schema-registry-bump-probe"
    sc.setJobGroup(group, "a key-set bump must schedule nothing")
    try:
        version, changed = reg.register(schema_of("b", "c", "d"))
    finally:
        sc.setJobGroup("schema-registry-post", "reads after the bump")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert (version, changed) == (2, True)
    change = reg.changes().first()
    assert change["old_version"] == 1 and change["new_version"] == 2
    assert change["added_fields"] == ["c", "d"]
    assert change["removed_fields"] == ["a"]


def test_arrow_rows_read_back_beside_spark_rows(spark, tmp_path):
    """A catalog written by Spark and extended by ``register`` reads
    back with the all-Spark catalog's schema, values and order."""
    # versions 1-2 as a Spark DataFrame write leaves them
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    history = [
        (v, json.dumps(schema_of(*names).jsonValue()),
         t0 + dt.timedelta(minutes=v))
        for v, names in [(1, ("a",)), (2, ("a", "b"))]
    ]
    changes = [(1, 2, ["b"], [], t0 + dt.timedelta(minutes=2))]
    spark.createDataFrame(history, _HISTORY_SCHEMA).write.parquet(
        str(tmp_path / "schema_history"))
    spark.createDataFrame(changes, _CHANGES_SCHEMA).write.parquet(
        str(tmp_path / "schema_changes"))
    spark_only = SchemaRegistry(spark, str(tmp_path))
    want_history, want_changes = (
        spark_only.history().schema, spark_only.changes().schema)

    reg = SchemaRegistry(spark, str(tmp_path))
    assert reg.register(schema_of("c")) == (3, True)
    assert reg.register(schema_of("c", "d")) == (4, True)

    fresh = SchemaRegistry(spark, str(tmp_path))
    history, changes = fresh.history(), fresh.changes()
    assert history.schema == want_history
    assert changes.schema == want_changes
    rows = history.collect()
    assert [r["version"] for r in rows] == [1, 2, 3, 4]
    assert [T.StructType.fromJson(json.loads(r["schema_json"])).fieldNames()
            for r in rows] == [["a"], ["a", "b"], ["c"], ["c", "d"]]
    assert all(isinstance(r["created_at"], dt.datetime) for r in rows)
    # newest first; the registered rows are newer than the 2024 Spark row
    assert [(r["old_version"], r["new_version"], r["added_fields"],
             r["removed_fields"]) for r in changes.collect()] == [
        (3, 4, ["d"], []), (2, 3, ["c"], ["a", "b"]), (1, 2, ["b"], []),
    ]
    assert fresh.latest()[0] == 4
    assert fresh.schema_for(3).fieldNames() == ["c"]


def test_inprogress_part_file_is_invisible(spark, tmp_path):
    """A crash between the part-file write and its rename leaves a
    hidden ``.part-*.inprogress`` file; readers must not see it, even
    when it is a complete file claiming a higher version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    SchemaRegistry(spark, str(tmp_path)).register(schema_of("a"))
    hist = tmp_path / "schema_history"
    (part,) = hist.glob("part-*.parquet")
    stray = pq.read_table(part).to_pylist()[0] | {"version": 99}
    pq.write_table(
        pa.Table.from_pylist([stray], schema=pq.read_schema(part)),
        hist / ".part-crashed.parquet.inprogress",
    )

    fresh = SchemaRegistry(spark, str(tmp_path))
    assert fresh.latest()[0] == 1
    assert [r["version"] for r in fresh.history().collect()] == [1]


def test_created_at_is_utc_now(spark, tmp_path):
    """``created_at`` is the bump's UTC instant, whatever the host's
    local zone: rendered under a UTC session zone it reads as now."""
    reg = SchemaRegistry(spark, str(tmp_path))
    before = dt.datetime.now(dt.timezone.utc)
    reg.register(schema_of("a"))
    reg.register(schema_of("b"))
    after = dt.datetime.now(dt.timezone.utc)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        stamps = [
            r["ts"] for df in (reg.history(), reg.changes())
            for r in df.select(
                F.date_format("created_at", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                .alias("ts")).collect()
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert len(stamps) == 3
    slack = dt.timedelta(seconds=5)
    for s in stamps:
        got = dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f").replace(
            tzinfo=dt.timezone.utc)
        assert before - slack <= got <= after + slack


def test_reference_evolution_scenario(spark, tmp_path, fixtures_dir):
    """Replay the evolution recorded in the reference's shipped DB:
    ingest notes.txt (content-only schema) then customers.csv
    (12 fields added, content removed)."""
    reg = SchemaRegistry(spark, str(tmp_path))
    notes = read_txt(spark, str(fixtures_dir / "notes.txt")).select("content")
    v1, changed1 = reg.register_df(notes)
    assert (v1, changed1) == (1, True)

    csv = read_csv(spark, str(fixtures_dir / "customers.csv"))
    v2, changed2 = reg.register_df(csv)
    assert (v2, changed2) == (2, True)
    change = reg.changes().first()
    assert len(change["added_fields"]) == 12
    assert change["removed_fields"] == ["content"]


def test_registry_persists_across_instances(spark, tmp_path):
    SchemaRegistry(spark, str(tmp_path)).register(schema_of("x"))
    reg2 = SchemaRegistry(spark, str(tmp_path))
    assert reg2.latest()[0] == 1
    version, changed = reg2.register(schema_of("x", "y"))
    assert (version, changed) == (2, True)


def test_json_schema_export_matches_reference_db(spark, tmp_path):
    """to_json_schema must reproduce the reference's genson documents
    byte-for-byte in structure: compared against the ACTUAL v1/v2 rows
    of /root/reference/etl_data.db schema_history (app.py:250-263)."""
    import json
    import sqlite3

    if not _REFERENCE_DB.exists():
        pytest.skip(f"reference database {_REFERENCE_DB} is not present")
    con = sqlite3.connect(_REFERENCE_DB)
    ref = {
        v: json.loads(s)
        for v, s in con.execute("SELECT version, schema FROM schema_history")
    }
    con.close()
    assert set(ref) == {1, 2}

    patterns = T.StructType([
        T.StructField(k, T.ArrayType(T.StringType()))
        for k in ["emails", "phones", "dates", "numbers"]
    ])
    v1_schema = T.StructType([
        T.StructField("content", T.StringType()),
        T.StructField("_extracted_patterns", patterns),
    ])
    # the CSV ingest str()-coerces everything (app.py:255-261), so v2's
    # _extracted_patterns column is a stringified dict -> "string"
    v2_schema = T.StructType(
        [T.StructField(n, T.StringType()) for n in [
            "Index", "Customer Id", "First Name", "Last Name", "Company",
            "City", "Country", "Phone 1", "Phone 2", "Email",
            "Subscription Date", "Website", "_extracted_patterns",
        ]]
    )
    reg = SchemaRegistry(spark, str(tmp_path))
    assert reg.register(v1_schema) == (1, True)
    assert reg.register(v2_schema) == (2, True)

    assert reg.to_json_schema(1) == ref[1]
    assert reg.to_json_schema(2) == ref[2]
    # ordered serialization parity too: same key order at every level
    assert (json.dumps(reg.to_json_schema(1), sort_keys=True)
            == json.dumps(ref[1], sort_keys=True))


def test_json_schema_export_type_mapping(spark, tmp_path):
    reg = SchemaRegistry(spark, str(tmp_path))
    st = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("tags", T.ArrayType(T.LongType())),
        T.StructField("kv", T.MapType(T.StringType(), T.DoubleType())),
    ])
    v, _ = reg.register(st)
    doc = reg.to_json_schema(v)
    p = doc["properties"]
    assert p["n"] == {"type": "integer"}
    assert p["x"] == {"type": "number"}
    assert p["ok"] == {"type": "boolean"}
    assert p["ts"] == {"type": "string"}  # str()-coerced in the reference
    assert p["tags"] == {"type": "array", "items": {"type": "integer"}}
    assert p["kv"]["type"] == "object"
    assert doc["required"] == ["kv", "n", "ok", "tags", "ts", "x"]
    with __import__("pytest").raises(ValueError):
        reg.to_json_schema(99)
