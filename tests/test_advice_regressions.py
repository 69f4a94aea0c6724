"""Regressions for the round-1 advisor findings (ADVICE.md):

- doc_winnow_fingerprint / corpus_decontaminate crashed on documents
  shorter than one shingle/window (Spark `sequence(1, n)` is DESCENDING
  for n < 1, so the downstream slice(…, 0, …) threw at runtime, while
  the DuckDB oracle's range()/generate_series() just emit no rows);
- simhash64 crashed on NULL/empty text while the MinHash kernel
  null-guards.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from dynamic_etl_pipeline_spark.operators.dedup import simhash64, simhash_pairs
from dynamic_etl_pipeline_spark.queries.text import doc_winnow_fingerprint
from dynamic_etl_pipeline_spark.queries.training import corpus_decontaminate

_DOC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
])


@pytest.fixture(scope="module")
def short_doc_dir(spark, tmp_path_factory):
    """A documents table containing every degenerate length class."""
    rows = [
        (1, "hi"),                      # shorter than one k-gram
        (2, ""),                        # empty
        (3, None),                      # NULL
        (4, "seven77"),                 # exactly k+w-2: still no window
        (5, "one two three four"),      # < 5 tokens: no 5-gram shingle
        (6, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (7, "alpha beta gamma delta epsilon different tail tokens here now"),
    ]
    d = tmp_path_factory.mktemp("shortdocs")
    spark.createDataFrame(rows, _DOC_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    return str(d)


def test_winnow_fingerprint_survives_short_docs(spark, short_doc_dir):
    out = doc_winnow_fingerprint(spark, short_doc_dir).collect()
    got_ids = {r["doc_id"] for r in out}
    # degenerate docs contribute nothing (matching the oracle), long docs do
    assert got_ids.issubset({5, 6, 7}) and {6, 7} <= got_ids
    assert all(r["fp"] is not None for r in out)


def test_decontaminate_survives_short_docs(spark, short_doc_dir):
    # must not throw; docs with < 5 tokens contribute no shingles
    out = corpus_decontaminate(spark, short_doc_dir).collect()
    assert all(r["doc_id"] not in {1, 2, 3, 4, 5} for r in out)


def test_simhash_null_and_empty_text(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "the quick brown fox"),
         (5, "the quick brown fox")],
        _DOC_SCHEMA,
    )
    fps = df.select("doc_id", simhash64("text").alias("fp")).collect()
    by_id = {r["doc_id"]: r["fp"] for r in fps}
    assert by_id[1] is None and by_id[2] is None
    assert by_id[4] == by_id[5] is not None
    # pair mining skips the null-fingerprint docs instead of crashing
    pairs = simhash_pairs(df, "doc_id", "text", max_hamming=0).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(4, 5)}


def test_cdc_chunks_reassemble_exactly(spark, sf_dir):
    from dynamic_etl_pipeline_spark.queries.text import doc_cdc_chunks

    chunks = doc_cdc_chunks(spark, sf_dir)
    per_doc = {
        r["doc_id"]: r["total"]
        for r in chunks.groupBy("doc_id")
        .agg(F.sum("chunk_len").alias("total")).collect()
    }
    docs = {
        r["doc_id"]: len(r["text"])
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id < 100 AND length(text) >= 5").collect()
    }
    assert per_doc == docs  # chunks partition every doc exactly


def test_cdc_edit_locality(spark, tmp_path):
    """An insertion must invalidate only the chunks overlapping the
    edit — the property that makes CDC robust where fixed blocks
    are not."""
    from dynamic_etl_pipeline_spark.queries.text import doc_cdc_chunks

    import random

    # non-repeating text: repeated phrases would collapse the md5 sets
    # and hide (or fake) locality
    rng = random.Random(7)
    base = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                for _ in range(rng.randint(3, 9)))
        for _ in range(120)
    )
    edited = base[:250] + "XYZ" + base[250:]
    spark.createDataFrame(
        [(1, base), (2, edited)], ["doc_id", "text"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = doc_cdc_chunks(spark, str(tmp_path)).collect()
    a = [r["chunk_md5"] for r in rows if r["doc_id"] == 1]
    b = [r["chunk_md5"] for r in rows if r["doc_id"] == 2]
    # every chunk except the edited one (and at most its neighbor)
    # survives the insertion; boundaries re-synchronize after the edit
    assert len(a) > 4
    assert len(set(a) - set(b)) <= 2 and len(set(b) - set(a)) <= 2


# ---------------------------------------------------------------------------
# Round-2 advisor findings (ADVICE.md r2)
# ---------------------------------------------------------------------------

def test_window_ignore_nulls_null_event_type(spark, tmp_path):
    """NULL event_type must KEEP its value (oracle CASE semantics), not
    be blanked by inverted 3VL in when(type != 'error', value)."""
    import shutil

    from dynamic_etl_pipeline_spark.queries import QUERIES

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "sfnull")
    shutil.copytree(src, d)
    # inject NULL event_type rows with known values
    ev = spark.read.parquet(f"{src}/events.parquet")
    ev = ev.withColumn(
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("event_type")
        ),
    )
    ev.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = QUERIES["window_ignore_nulls"](spark, d)
    null_rows = (
        spark.read.parquet(f"{d}/events.parquet")
        .filter(F.col("event_type").isNull())
        .select("event_id", "value")
    )
    joined = got.join(null_rows, "event_id").collect()
    assert joined, "fixture injection produced no NULL event_type rows"
    for r in joined:
        assert r["val"] == r["value"], (
            f"event {r['event_id']}: NULL event_type blanked the value"
        )


def test_unpivot_include_nulls_matches_union_all(spark, sf_dir):
    """sql_unpivot_facade must keep NULL measures like the oracle's
    UNION ALL does (UNPIVOT excludes them by default)."""
    from dynamic_etl_pipeline_spark.catalog import load_table
    from dynamic_etl_pipeline_spark.queries import QUERIES

    n_orders = load_table(spark, sf_dir, "orders").count()
    out = QUERIES["sql_unpivot_facade"](spark, sf_dir)
    # every order yields exactly two rows regardless of measure nullity
    assert out.count() == 2 * n_orders
    # and a synthetic NULL measure survives the rotation
    spark.createDataFrame(
        [(1, 10.0, None)], "o_orderkey long, total_price double, acct_balance double"
    ).createOrReplaceTempView("null_measure_probe")
    rows = spark.sql(
        """SELECT metric, val FROM null_measure_probe
           UNPIVOT INCLUDE NULLS (val FOR metric IN (total_price, acct_balance))"""
    ).collect()
    assert {(r["metric"], r["val"]) for r in rows} == {
        ("total_price", 10.0), ("acct_balance", None)
    }


def test_session_paths_all_null_session_is_null_path(spark, tmp_path):
    """Round-3 ADVICE: a session whose first <=3 events ALL have NULL
    event_type must land in the NULL path group (string_agg semantics),
    not '' (bare concat_ws) — and partial-NULL paths skip NULLs."""
    import duckdb

    from dynamic_etl_pipeline_spark.queries import ORACLES, QUERIES

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # user A: one session, all-NULL types; user B: partial-NULL session
    ev = ev.withColumn(
        "event_type",
        F.when(F.col("user_id") == 1, F.lit(None))
        .when(
            (F.col("user_id") == 2) & (F.col("event_id") % 2 == 0),
            F.lit(None),
        )
        .otherwise(F.col("event_type")),
    )
    d = str(tmp_path / "sfnullpath")
    import shutil

    shutil.copytree("/root/testdata/sf0.001", d)
    ev.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        r["path"]: r["n_sessions"]
        for r in QUERIES["events_session_paths"](spark, d).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    want = {
        row[0]: row[1]
        for row in con.execute(ORACLES["events_session_paths"]).fetchall()
    }
    assert None in want, "injection produced no all-NULL session"
    assert got == want


def test_recursive_cte_scales_past_default_row_limit(spark, monkeypatch):
    """100x-corpus catch (round 6): Spark's recursive-CTE row guard
    (spark.sql.cteRecursionRowLimit, default 1M) killed
    sql_recursive_supplier_chain at 100k suppliers (~1.57M chain
    rows). The query function must raise the guard itself — the
    driver runs it on a vanilla session, so a session-builder conf
    would not survive. 120k synthetic suppliers ≈ 1.99M chain rows
    exceed the default; the depth bound (<= 64 halvings) keeps the
    level guard in force."""
    from dynamic_etl_pipeline_spark.queries import mutations

    old = spark.conf.get("spark.sql.cteRecursionRowLimit")
    spark.conf.set("spark.sql.cteRecursionRowLimit", 1_000_000)
    monkeypatch.setattr(
        mutations, "register_views",
        lambda s, d, names=None: s.range(1, 120_001)
        .selectExpr("id AS s_suppkey")
        .createOrReplaceTempView("supplier"),
    )
    try:
        out = mutations.sql_recursive_supplier_chain(spark, "ignored")
        from pyspark.sql import functions as F

        total = out.agg(F.sum("n_chain_rows").alias("t")).collect()[0]["t"]
        assert total > 1_000_000  # would have tripped the default guard
    finally:
        spark.conf.set("spark.sql.cteRecursionRowLimit", old)
        spark.catalog.dropTempView("supplier")


def test_recursive_cte_row_limit_not_leaked_to_caller_session(spark):
    """r6 advisor item: sql_recursive_supplier_chain must not disable
    the caller session's 1M-row recursion tripwire — the raised limit
    lives on a dedicated sub-session."""
    from dynamic_etl_pipeline_spark.queries import mutations

    before = spark.conf.get("spark.sql.cteRecursionRowLimit")
    out = mutations.sql_recursive_supplier_chain(
        spark, "/root/testdata/sf0.001"
    )
    assert out.limit(1).count() >= 0  # executes under the sub-session
    assert spark.conf.get("spark.sql.cteRecursionRowLimit") == before
    sub = mutations.sql_recursive_supplier_chain._sub_session
    assert sub is not spark
    assert sub.conf.get("spark.sql.cteRecursionRowLimit") == "2000000000"


def test_round_half_up_halfway_boundary_vs_duckdb(spark):
    """r6 advisor item: pin the documented rounding-divergence class.
    For doubles whose shortest repr ends exactly at a halfway digit
    but whose binary value is below the decimal halfway, Spark (and
    _round_half_up, its Python twin) round the shortest-repr HALF_UP
    while DuckDB rounds the binary double — one ulp apart at the
    target scale. The engine's contract is Spark == _round_half_up
    (asserted hard); the DuckDB side documents the divergence so a
    future corpus hitting it is diagnosed here first."""
    import duckdb

    from dynamic_etl_pipeline_spark.operators.knn import _round_half_up

    cases = [  # (value, digits) — found by halfway-scan, all diverge
        (22.54255, 4),
        (1.058755, 5),
        (0.26585, 4),
    ]
    con = duckdb.connect()
    for x, d in cases:
        py = _round_half_up(x, d)
        got = spark.sql(
            f"SELECT round(CAST({x!r} AS DOUBLE), {d}) AS r"
        ).collect()[0]["r"]
        assert got == py, f"Spark diverged from its Python twin on {x}"
        dd = con.execute(
            f"SELECT round(CAST({x!r} AS DOUBLE), {d})"
        ).fetchone()[0]
        assert dd != py, (
            f"DuckDB now agrees on {x}: the documented divergence class "
            "closed upstream — update _round_half_up's docstring"
        )
        assert abs(dd - py) <= 10 ** -d * 1.0000001


def test_empty_regex_split_has_no_trailing_empty(spark):
    """ADVICE r9: the winnowing/CDC char-array rewrite
    (queries/text.py:518,603) relies on Spark's split(text, '')
    returning EXACTLY length(text) elements — no trailing "" (whose
    ascii() is 0 and would append one bogus k-gram position per
    document, silently changing every fingerprint). Raw Java
    split("", -1) semantics WOULD yield that trailing element; pinned
    PySpark 4.1.2 does not. This test makes an engine/version change
    fail loudly instead of corrupting hashes."""
    rows = spark.createDataFrame(
        [("",), ("a",), ("ab",), ("hello world",), ("café ü",),
         ("trailing space ",), ("\n",), ("a" * 300,)],
        ["text"],
    ).select(
        F.length("text").alias("n"),
        F.size(F.split("text", "")).alias("k"),
        F.expr("transform(split(text, ''), c -> ascii(c))").alias("codes"),
    ).collect()
    for r in rows:
        # empty string: split returns [""] (size 1) but the winnow path
        # filters length(text) >= k beforehand, so only the invariant
        # for non-empty text is load-bearing
        if r["n"] == 0:
            continue
        assert r["k"] == r["n"], (r["n"], r["k"])
        assert 0 not in r["codes"], "trailing empty element leaked"


# ---- round-10 ADVICE items ------------------------------------------------


def test_group_cardinality_error_names_real_trip_point(spark):
    """ADVICE r10: the error message understated the bound (trip point
    is max_groups*1.1, message said max_groups). It must now name the
    headroom-adjusted threshold."""
    import pytest

    from dynamic_etl_pipeline_spark.operators.twolevel import (
        GroupCardinalityError,
        two_level_quantiles,
    )

    df = spark.range(400).select(
        F.col("id").alias("gk"),
        (F.col("id") % 50).cast("double").alias("v"),
    )
    with pytest.raises(GroupCardinalityError) as exc:
        two_level_quantiles(
            df, "v", lambda c: F.floor(c / 10).cast("long"), [0.5],
            part_cols=["gk"], max_groups=100,
        )
    msg = str(exc.value)
    assert "max_groups=100" in msg
    assert "110" in msg and "headroom" in msg


def test_winnow_codepoint_dtype_is_explicit_little_endian():
    """ADVICE r11: the winnow kernel decodes text.encode('utf-32-le')
    with an EXPLICITLY little-endian dtype ('<u4'), not native-order
    np.uint32 — a native view on a big-endian host would silently
    misread every code point. The decode must equal [ord(c) for c in
    text] regardless of host byte order (which this asserts on the
    only host we have; the source pin below keeps the dtype honest)."""
    import inspect

    import numpy as np

    from dynamic_etl_pipeline_spark.queries import text as text_mod

    s = "aé中\U0001f600z"  # ascii, latin-1, CJK, astral
    codes = np.frombuffer(s.encode("utf-32-le"), dtype="<u4").astype(
        np.int64
    )
    assert codes.tolist() == [ord(c) for c in s]
    src = inspect.getsource(text_mod)
    assert 'dtype="<u4"' in src
    assert "dtype=np.uint32" not in src


def test_kmeans_fit_drops_element_null_vectors(spark):
    """ADVICE r11: a vector with a NULL ELEMENT used to reach the
    update step as a cluster_id=None group, and the new_mu rebuild's
    mu[None] raised an opaque TypeError mid-iteration (on both
    assignment paths once the Arrow NULL-parity landed). The fit now
    excludes element-null vectors up front — same semantics as the
    whole-vector null filter — and the run completes with the dense
    rows only."""
    from dynamic_etl_pipeline_spark.operators.knn import kmeans_exact_fit

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [None, 2.0]), (2, [9.0, 8.0]),
         (3, None), (4, [3.0, None]), (5, [2.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    assigned, mu = kmeans_exact_fit(df, n_centroids=2, iters=2)
    rows = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    assert set(rows) == {0, 2, 5}          # 1, 3, 4 dropped up front
    assert all(c is not None for c in rows.values())
    assert len(mu) == 2


def test_kmeans_assign_arrow_nonfinite_documented_divergence(spark):
    """ADVICE r11: for genuine NaN/+-inf elements the two assignment
    paths intentionally diverge — HOF's all-NaN/all-inf distance row
    lands on cluster 0 (Spark's NaN-largest ordering plus
    array_position's NaN=NaN), the Arrow kernel masks any non-finite
    element to NULL. Unreachable from in-repo callers (qd is cast from
    floor-quantized BIGINTs), but the docstring now states the
    divergence and this test pins it so it cannot drift silently."""
    from dynamic_etl_pipeline_spark.operators.knn import _kmeans_exact_assign

    inf, nan = float("inf"), float("nan")
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [inf, 2.0]), (2, [nan, 2.0]),
         (3, [-inf, 1.0])],
        "vec_id int, qd array<double>",
    )
    mu = [[0.0, 0.0], [4.0, 5.0]]
    hof = {r["vec_id"]: r["cluster_id"]
           for r in _kmeans_exact_assign(df, mu, arrow=False).collect()}
    arw = {r["vec_id"]: r["cluster_id"]
           for r in _kmeans_exact_assign(df, mu, arrow=True).collect()}
    assert hof == {0: 0, 1: 0, 2: 0, 3: 0}
    assert arw == {0: 0, 1: None, 2: None, 3: None}
