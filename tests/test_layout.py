"""Z-order layout (operators/layout.py): unit-checks the Morton math,
then proves the layout property the operator exists for — per-partition
min/max extents stay tight on BOTH clustered columns, where a
single-column sort leaves the second column's extents at full range
(i.e. no data skipping)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dynamic_etl_pipeline_spark import catalog
from dynamic_etl_pipeline_spark.catalog import load_table
from dynamic_etl_pipeline_spark.operators.layout import (
    cluster_by_zvalue,
    with_zvalue,
)

SF = "/root/testdata/sf0.001"


def test_interleave_known_values(spark):
    # two 2-bit keys spanning [0,3]: normalization is identity, and the
    # Morton code is the textbook interleave
    df = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], ["x", "y"]
    )
    got = {
        (r["x"], r["y"]): r["_zvalue"]
        for r in with_zvalue(df, ["x", "y"], bits=2).collect()
    }
    def morton(x, y):
        return ((x & 1) | ((y & 1) << 1) | ((x >> 1 & 1) << 2)
                | ((y >> 1 & 1) << 3))
    assert got == {(x, y): morton(x, y) for x in range(4) for y in range(4)}


def test_zvalue_monotone_in_each_dim(spark):
    # fixing one key, the z-value is strictly increasing in the other
    df = spark.createDataFrame([(i, 7) for i in range(64)], ["a", "b"])
    vals = [
        r["_zvalue"]
        for r in with_zvalue(df, ["a", "b"], bits=6).orderBy("a").collect()
    ]
    assert vals == sorted(vals) and len(set(vals)) == len(vals)


def test_cluster_preserves_rows(spark):
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    clustered = cluster_by_zvalue(o, ["o_custkey", "o_orderkey"], 8)
    assert clustered.count() == o.count()
    assert (
        clustered.exceptAll(o).count() == 0
        and o.exceptAll(clustered).count() == 0
    )


def _extents(df, cols):
    """Per-partition (max-min) extent of each column, averaged."""
    stats = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(*[
            (F.max(c) - F.min(c)).alias(f"ext_{c}") for c in cols
        ])
        .agg(*[F.avg(f"ext_{c}").alias(c) for c in cols])
        .collect()[0]
    )
    return {c: stats[c] for c in cols}


def test_zorder_tightens_both_dims(spark):
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    cols = ["o_custkey", "o_orderkey"]
    n_part = 16

    single = o.repartitionByRange(n_part, "o_custkey").sortWithinPartitions("o_custkey")
    zorder = cluster_by_zvalue(o, cols, n_part)

    ext_single = _extents(single, cols)
    ext_z = _extents(zorder, cols)

    full_order = o.agg((F.max("o_orderkey") - F.min("o_orderkey"))).collect()[0][0]
    # single-column sort: orderkey extents are ~full range per partition
    assert ext_single["o_orderkey"] > 0.8 * full_order
    # z-order: BOTH dims' extents are materially tighter than full range
    assert ext_z["o_orderkey"] < 0.5 * full_order
    full_cust = o.agg((F.max("o_custkey") - F.min("o_custkey"))).collect()[0][0]
    assert ext_z["o_custkey"] < 0.5 * full_cust


def test_zvalue_plan_is_jvm_only(spark):
    o = load_table(spark, SF, "orders")
    plan = (
        with_zvalue(o, ["o_custkey", "o_orderkey"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _py_zvalue(vals: list[int], mns: list[int], mxs: list[int], bits: int) -> int:
    """Pure-Python reference of minmax_normalize + Morton interleave."""
    n = len(vals)
    z = 0
    for i, (v, mn, mx) in enumerate(zip(vals, mns, mxs)):
        norm = 0 if mx == mn else (v - mn) * ((1 << bits) - 1) // (mx - mn)
        for b in range(bits):
            z |= ((norm >> b) & 1) << (b * n + i)
    return z


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1 << 20), st.integers(-(1 << 20), 1 << 20)),
        min_size=2, max_size=40,
    ),
    st.integers(2, 16),
)
def test_zvalue_matches_python_reference(spark, pairs, bits):
    df = spark.createDataFrame(pairs, ["x", "y"]).coalesce(1)
    got = {
        (r["x"], r["y"]): r["_zvalue"]
        for r in with_zvalue(df, ["x", "y"], bits=bits).collect()
    }
    xs, ys = [p[0] for p in pairs], [p[1] for p in pairs]
    mns = [min(xs), min(ys)]
    mxs = [max(xs), max(ys)]
    for x, y in pairs:
        assert got[(x, y)] == _py_zvalue([x, y], mns, mxs, bits), (x, y, bits)


def test_partitioned_write_prunes_and_dynamic_overwrite(spark, sf_dir, tmp_path):
    from dynamic_etl_pipeline_spark.operators.partitioned import (
        read_partitioned,
        write_partitioned,
    )
    from dynamic_etl_pipeline_spark.plans.inspect import formatted_plan

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    write_partitioned(ev, path, ["event_date"])

    t = read_partitioned(spark, path)
    assert t.count() == ev.count()

    # partition pruning: a partition-key filter must land in
    # PartitionFilters (directory-level), not PushedFilters (row-level)
    one_day = ev.select(F.min("event_date")).collect()[0][0]
    pruned = t.filter(F.col("event_date") == F.lit(one_day))
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan and "event_date" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0]
    assert pruned.count() == ev.filter(F.col("event_date") == F.lit(one_day)).count()

    # dynamic overwrite: rewriting ONE day (values doubled) must leave
    # every other day byte-identical and not truncate the table
    day1 = ev.filter(F.col("event_date") == F.lit(one_day)).withColumn(
        "value", F.col("value") * 2
    )
    write_partitioned(day1, path, ["event_date"])
    after = read_partitioned(spark, path)
    assert after.count() == ev.count()
    got_day = after.filter(F.col("event_date") == F.lit(one_day)).agg(
        F.sum("value")).collect()[0][0]
    want_day = 2 * ev.filter(F.col("event_date") == F.lit(one_day)).agg(
        F.sum("value")).collect()[0][0]
    assert abs(got_day - want_day) < 1e-6
    others_got = after.filter(F.col("event_date") != F.lit(one_day)).count()
    others_want = ev.filter(F.col("event_date") != F.lit(one_day)).count()
    assert others_got == others_want


def test_partitioned_static_overwrite_truncates(spark, sf_dir, tmp_path):
    from dynamic_etl_pipeline_spark.operators.partitioned import (
        read_partitioned,
        write_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_static")
    write_partitioned(ev, path, ["event_date"])
    one_day = ev.select(F.min("event_date")).collect()[0][0]
    day1 = ev.filter(F.col("event_date") == F.lit(one_day))
    write_partitioned(day1, path, ["event_date"], dynamic=False)
    assert read_partitioned(spark, path).count() == day1.count()


def test_load_table_schema_cache_hits_and_matches(spark, tmp_path):
    """load_table infers each table's schema once per (path,
    stat-stamp, inference-conf) key and declares it afterwards. The
    declared-schema read must see the identical StructType the
    inference read saw, and rewriting the file must invalidate."""
    import os

    import pandas as pd

    catalog._SCHEMA_CACHE.clear()
    first = load_table(spark, SF, "lineitem")
    key = catalog._schema_key(spark, catalog.table_path(SF, "lineitem"))
    assert key in catalog._SCHEMA_CACHE  # miss populated the cache
    # a rewritten path gets a DIFFERENT key (mtime/size in the stamp)
    p = f"{tmp_path}/t.parquet"
    spark.range(3).toPandas().to_parquet(p)
    k1 = catalog._schema_key(spark, p)
    pd.DataFrame({"id": [1, 2, 3], "x": ["a", "b", "c"]}).to_parquet(p)
    k2 = catalog._schema_key(spark, p)
    assert k1 != k2
    # a part file rewritten IN PLACE inside a directory table leaves
    # the directory's own mtime alone; the key must still change
    d = f"{tmp_path}/dir_table"
    os.mkdir(d)
    part = f"{d}/part-0.parquet"
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(part)
    dir_st = os.stat(d)
    k3 = catalog._schema_key(spark, d)
    pd.DataFrame({"id": [1, 2, 3], "x": ["a", "b", "c"]}).to_parquet(part)
    os.utime(d, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    assert os.stat(d).st_mtime_ns == dir_st.st_mtime_ns
    assert catalog._schema_key(spark, d) != k3
    second = load_table(spark, SF, "lineitem")
    assert second.schema == first.schema
    # events goes through the same cache AND the ts normalization
    ev1 = load_table(spark, SF, "events")
    ev2 = load_table(spark, SF, "events")
    assert ev2.schema == ev1.schema
    assert dict(ev2.dtypes)["ts"].startswith("timestamp")
