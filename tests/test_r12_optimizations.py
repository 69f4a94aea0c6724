"""Regression pins for the r12 optimization round's internals.

Each test pins the MECHANISM of an optimization (cache populated, free
convergence metric, array/postings equivalence) — the outputs
themselves stay pinned by the oracle gate, which is unchanged.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dynamic_etl_pipeline_spark import catalog
from dynamic_etl_pipeline_spark.operators.dedup import connected_components
from dynamic_etl_pipeline_spark.operators.shingles import (
    word_ngram_arrays,
    word_ngram_postings,
)

SF_DIR = "/root/testdata/sf0.001"


def test_load_table_schema_cache_hits_and_matches(spark):
    """r12: load_table infers each table's schema once per (path,
    stat-stamp, inference-conf) key and declares it afterwards (the
    key gained the file stamp + full conf tuple in r13, ADVICE r12).
    The declared-schema read must see the identical StructType the
    inference read saw, and rewriting the file must invalidate."""
    catalog._SCHEMA_CACHE.clear()
    first = catalog.load_table(spark, SF_DIR, "lineitem")
    key = catalog._schema_key(
        spark, catalog.table_path(SF_DIR, "lineitem"))
    assert key in catalog._SCHEMA_CACHE  # miss populated the cache
    # a rewritten path gets a DIFFERENT key (mtime/size in the stamp)
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="cache_inval_")
    p = f"{tmp}/t.parquet"
    spark.range(3).toPandas().to_parquet(p)
    k1 = catalog._schema_key(spark, p)
    import pandas as pd

    pd.DataFrame({"id": [1, 2, 3], "x": ["a", "b", "c"]}).to_parquet(p)
    k2 = catalog._schema_key(spark, p)
    assert k1 != k2
    # a part file rewritten IN PLACE inside a directory table leaves
    # the directory's own mtime alone; the key must still change
    import os

    d = f"{tmp}/dir_table"
    os.mkdir(d)
    part = f"{d}/part-0.parquet"
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(part)
    dir_st = os.stat(d)
    k3 = catalog._schema_key(spark, d)
    pd.DataFrame({"id": [1, 2, 3], "x": ["a", "b", "c"]}).to_parquet(part)
    os.utime(d, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    assert os.stat(d).st_mtime_ns == dir_st.st_mtime_ns
    assert catalog._schema_key(spark, d) != k3
    shutil.rmtree(tmp, ignore_errors=True)
    second = catalog.load_table(spark, SF_DIR, "lineitem")
    assert second.schema == first.schema
    # events goes through the same cache AND the ts normalization
    ev1 = catalog.load_table(spark, SF_DIR, "events")
    ev2 = catalog.load_table(spark, SF_DIR, "events")
    assert ev2.schema == ev1.schema
    assert dict(ev2.dtypes)["ts"].startswith("timestamp")


def test_word_ngram_arrays_explode_is_postings(spark):
    """r12: word_ngram_postings == explode(word_ngram_arrays) — the
    near-dup family materializes the array form and recovers postings
    for free, so the two views must agree row-for-row (incl. the
    short-doc dropout and within-doc distinctness)."""
    docs = spark.createDataFrame(
        [(1, "a b c d a b c"), (2, "a b"), (3, ""), (4, "x y z"),
         (5, "a a a a")],
        ["doc_id", "text"],
    )
    via_arrays = (
        word_ngram_arrays(docs, 3)
        .select("doc_id", F.explode("shingles").alias("shingle"))
    )
    direct = word_ngram_postings(docs, 3)
    assert sorted(map(tuple, via_arrays.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # counts channel: size(shingles) == the old groupBy count
    sizes = dict(
        word_ngram_arrays(docs, 3)
        .select("doc_id", F.size("shingles").alias("n")).collect()
    )
    counted = dict(
        direct.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    )
    # doc 1: grams abc bcd cda dab abc -> 4 distinct; docs 2/3 drop out
    assert sizes == counted == {1: 4, 4: 1, 5: 1}


def test_connected_components_observation_convergence(spark, monkeypatch):
    """r12: the CC convergence check rides the checkpoint action as an
    Observation metric. Pin that (a) results are the min-label closure
    and (b) the loop EXITS EARLY — the round count is observed by
    counting materialize() calls (ADVICE r12: asserting only the final
    closure let an always-truthy metric spin to max_iter undetected).
    The deepest chain here is 20-21-22-23: min-label propagation
    needs 3 label rounds + 1 no-change round = 5 materializes
    (1 for the edge frame) — far below max_iter=20's 21."""
    import dynamic_etl_pipeline_spark.operators.dedup as dedup_mod

    calls = {"n": 0}
    real = dedup_mod.materialize

    def counting(df, eager=True):
        calls["n"] += 1
        return real(df, eager)

    monkeypatch.setattr(dedup_mod, "materialize", counting)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["id_a", "id_b"],
    )
    out = {
        r["id"]: r["component"]
        for r in connected_components(pairs, max_iter=20).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}
    # 1 edge materialize + one per executed round; early exit means
    # far fewer than the 1 + max_iter ceiling (21)
    assert calls["n"] <= 6, calls["n"]
    assert calls["n"] >= 4, calls["n"]


def test_connected_components_empty_edges(spark):
    """Empty edge frame: the observed sum(changed) is NULL — the loop
    must treat it as converged, not crash or spin."""
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs, max_iter=3).count() == 0


@pytest.mark.parametrize("texts,expect_collapse", [
    # identical texts -> identical signatures -> collapse path
    (["w1 w2 w3 w4 w5"] * 3 + ["a b c d e"], True),
    # all-distinct signatures -> fast path (no expansion joins)
    (["%d x%d y%d z%d q%d" % (i, i, i + 1, i + 2, i) for i in range(6)],
     False),
])
def test_minhash_window_collapse_paths(spark, texts, expect_collapse):
    """r12: the single-pass window collapse must keep both paths of
    minhash_lsh_pairs correct: exact-dup groups expand to member pairs
    with est_jaccard 1.0; distinct corpora take the no-dup fast path
    and still pair near-dups."""
    from dynamic_etl_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, shingle_n=2
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    if expect_collapse:
        # the three identical docs form all three member pairs, exact
        assert got[(0, 1)] == got[(0, 2)] == got[(1, 2)] == 1.0
