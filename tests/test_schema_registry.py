"""Schema registry: versioning + key-set evolution semantics
(SURVEY §1.3), including the evolution scenario observed in the
reference's shipped etl_data.db (text-schema -> CSV-schema bump).
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import types as T

from dynamic_etl_pipeline_spark.ingest import read_csv, read_txt
from dynamic_etl_pipeline_spark.schema_registry import SchemaRegistry


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
    reg = SchemaRegistry(spark, str(tmp_path))
    reg.register(schema_of("a", "b"))
    version, changed = reg.register(schema_of("b", "c", "d"))
    assert (version, changed) == (2, True)
    change = reg.changes().first()
    assert change["old_version"] == 1 and change["new_version"] == 2
    assert change["added_fields"] == ["c", "d"]
    assert change["removed_fields"] == ["a"]


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
