"""MERGE/upsert + SCD2 operator semantics (operators/merge.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dynamic_etl_pipeline_spark.operators.merge import merge_upsert, scd2_apply


@pytest.fixture()
def target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        ["k", "status", "amount"],
    )


def test_merge_update_insert_delete_carry(spark, target):
    source = spark.createDataFrame(
        [(2, "B", 99.0), (5, "e", 50.0)], ["k", "status", "amount"]
    )
    deletes = spark.createDataFrame([(3,)], ["k"])
    got = {
        r["k"]: (r["status"], r["amount"])
        for r in merge_upsert(target, source, ["k"], deletes=deletes).collect()
    }
    assert got == {
        1: ("a", 10.0),   # carried
        2: ("B", 99.0),   # updated
        4: ("d", 40.0),   # carried
        5: ("e", 50.0),   # inserted
    }                      # 3 deleted


def test_merge_no_insert_partial_update_cols(spark, target):
    source = spark.createDataFrame(
        [(1, "Z", 111.0), (9, "x", 1.0)], ["k", "status", "amount"]
    )
    got = {
        r["k"]: (r["status"], r["amount"])
        for r in merge_upsert(
            target, source, ["k"], update_cols=["status"], insert=False
        ).collect()
    }
    # amount NOT in update_cols -> target value kept; key 9 not inserted
    assert got[1] == ("Z", 10.0)
    assert 9 not in got and len(got) == 4


def test_scd2_close_append_noop_insert(spark):
    dim = spark.createDataFrame(
        [(1, "red", 1, True), (1, "blue", 0, False),   # key 1: history + current
         (2, "green", 1, True), (3, "grey", 1, True)],
        ["k", "color", "version", "is_current"],
    )
    changes = spark.createDataFrame(
        [(1, "yellow"),   # real change: close + append v2
         (2, "green"),    # no-op: same value
         (9, "white")],   # new key: insert v2 current
        ["k", "color"],
    )
    out = scd2_apply(dim, changes, ["k"], ["color"], batch_version=2)
    rows = {(r["k"], r["color"]): (r["version"], r["is_current"])
            for r in out.collect()}
    assert rows == {
        (1, "red"): (1, False),      # closed by the change
        (1, "blue"): (0, False),     # history untouched
        (1, "yellow"): (2, True),    # new version
        (2, "green"): (1, True),     # no-op change: untouched
        (3, "grey"): (1, True),      # unmentioned key: untouched
        (9, "white"): (2, True),     # brand-new key
    }


def test_orc_roundtrip_and_dispatch(spark, tmp_path):
    from dynamic_etl_pipeline_spark.ingest.readers import read_any, read_orc

    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).cast("double").alias("v")
    )
    p = str(tmp_path / "t.orc")
    df.write.mode("overwrite").orc(p)
    assert read_orc(spark, p).count() == 10
    got = read_any(spark, p, format="orc")
    assert sorted(r["v"] for r in got.collect()) == [float(i * 2) for i in range(10)]


def test_avro_degrades_clearly(spark, tmp_path):
    from dynamic_etl_pipeline_spark.ingest.readers import read_avro

    with pytest.raises(NotImplementedError, match="spark-avro"):
        read_avro(spark, str(tmp_path / "x.avro")).collect()


def test_merge_null_keys_classified_by_presence(spark):
    target = spark.createDataFrame([(None, "t-null"), (1, "t1")], "k int, v string")
    source = spark.createDataFrame([(None, "s-null"), (1, "s1")], "k int, v string")
    # NULL keys never equi-match: target NULL-key row is carried, source
    # NULL-key row inserts WITH ITS OWN values
    key = lambda t: (t[0] is not None, t[0] or 0, t[1])
    got = sorted(((r["k"], r["v"]) for r in
                  merge_upsert(target, source, ["k"]).collect()), key=key)
    assert got == [(None, "s-null"), (None, "t-null"), (1, "s1")]
    # insert=False must still carry the NULL-key target row
    kept = sorted(((r["k"], r["v"]) for r in
                   merge_upsert(target, source, ["k"], insert=False).collect()),
                  key=key)
    assert kept == [(None, "t-null"), (1, "s1")]
