"""Kill-and-re-drain idempotency, parametrized across ALL maintain_*
sinks (VERDICT r5 item 5).

Contract under test: drain part of the source, stop (the "kill" — an
availableNow drain that terminates), land more files, re-drain from the
SAME checkpoint, and the maintained store must equal a one-shot drain
over everything. A third drain with no new data must change nothing.
Batch composition is pinned with max_files_per_trigger=1 so resumed and
one-shot runs see identical micro-batches.

Also: the fresh-checkpoint fingerprint guard (ADVICE r5) — pointing a
brand-new checkpoint at an existing store fails loudly by default for
every sink, and on_fresh_checkpoint='replay' opts into the deliberate
idempotent re-drain the older tests exercise.
"""
from __future__ import annotations

import datetime as dt
import functools
import os
import shutil
import time as _time

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# feed helper: one parquet file per micro-batch, mtime-ordered
# ---------------------------------------------------------------------------

_FILE_NO = {"n": 0}


def _append_files(spark, feed, schema_str, batches):
    feed.mkdir(exist_ok=True)
    for rows in batches:
        i = _FILE_NO["n"]
        _FILE_NO["n"] += 1
        d = feed.parent / f"_stage_{feed.name}_{i}"
        spark.createDataFrame(rows, schema_str).coalesce(1).write.mode(
            "overwrite").parquet(str(d))
        part = next(d.glob("part-*.parquet"))
        dest = feed / f"{i:05d}.parquet"
        shutil.move(str(part), dest)
        os.utime(dest, (_time.time() + i, _time.time() + i))
        shutil.rmtree(d)


def _stream(spark, feed, schema_str):
    from dynamic_etl_pipeline_spark.streaming.source import stream_parquet_dir

    schema = spark.createDataFrame([], schema_str).schema
    return stream_parquet_dir(spark, str(feed), schema,
                              max_files_per_trigger=1)


# ---------------------------------------------------------------------------
# sink specs: (schema, batches_a, batches_b, drain -> canonical snapshot)
# ---------------------------------------------------------------------------

_T0 = dt.datetime(2024, 1, 1, 9, 0, 0)

_EVENTS = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _ev(eid, minutes, user, etype, value):
    return (eid, _T0 + dt.timedelta(minutes=minutes), user, etype, value, "{}")


_EVENTS_A = [
    [_ev(0, 0, 1, "click", 2.0), _ev(1, 5, 2, "view", 3.0)],
    [_ev(2, 65, 1, "click", 4.0), _ev(3, 70, 3, "view", 1.0)],
]
_EVENTS_B = [
    [_ev(4, 125, 2, "click", 5.0), _ev(5, 130, 1, "view", 6.0)],
    [_ev(6, 190, 3, "click", 0.5)],
]

_DOCS = "doc_id long, text string"
_BASE_TEXT = ("the quick brown fox jumps over the lazy dog while the cat "
              "watches from the warm windowsill every single morning")
_OTHER_TEXT = ("completely unrelated text about distributed query engines "
               "shuffling partitioned columnar data across executor nodes")
_DOCS_A = [
    [(1, _BASE_TEXT), (2, _OTHER_TEXT)],
]
_DOCS_B = [
    [(3, _BASE_TEXT.replace("morning", "evening"))],
    [(4, _OTHER_TEXT.replace("columnar", "vectorised"))],
]

_VECS = "vec_id long, embedding array<double>"


def _vec_rows(ids):
    return [(i, [float(i % 5), float((i * 3) % 7), float(i % 2), 1.0])
            for i in ids]


def _run_rollup(spark, feed, store, ck, **kw):
    from dynamic_etl_pipeline_spark.streaming.sinks import (
        maintain_incremental_rollup,
    )

    return maintain_incremental_rollup(
        _stream(spark, feed, _EVENTS), str(store), str(ck), **kw)


def _run_distinct(spark, feed, store, ck, **kw):
    from dynamic_etl_pipeline_spark.streaming.sinks import (
        maintain_distinct_rollup,
    )

    return maintain_distinct_rollup(
        _stream(spark, feed, _EVENTS), str(store), str(ck), **kw)


def _run_ols(spark, feed, store, ck, **kw):
    from dynamic_etl_pipeline_spark.streaming.sinks import maintain_ols_trend

    return maintain_ols_trend(
        _stream(spark, feed, _EVENTS), str(store), str(ck),
        "2024-01-01 00:00:00", **kw)


def _run_decay(spark, feed, store, ck, **kw):
    from dynamic_etl_pipeline_spark.streaming.sinks import (
        maintain_decay_features,
    )

    return maintain_decay_features(
        _stream(spark, feed, _EVENTS), str(store), str(ck), **kw)


_CDC = "k long, val string, seq long, op string"
_CDC_A = [
    [(1, "a1", 10, "u"), (2, "b1", 11, "u")],
    [(1, "a2", 12, "u"), (3, "c1", 13, "u")],
]
_CDC_B = [
    [(2, None, 14, "d"), (4, "d1", 15, "u")],
    [(1, "a3", 16, "u")],
]


def _run_keyed(spark, feed, store, ck, **kw):
    from dynamic_etl_pipeline_spark.streaming.sinks import maintain_keyed_store

    return maintain_keyed_store(
        _stream(spark, feed, _CDC), str(store), str(ck),
        keys=["k"], seq_col="seq", op_col="op", **kw)


_JV = "side string, k long, v string"
_JV_A = [
    [("A", 1, "a1"), ("B", 1, "b1"), ("A", 2, "a2")],
]
_JV_B = [
    [("B", 2, "b2"), ("A", 1, "a3")],
    [("B", 3, "b3"), ("A", 3, "a4")],
]


def _run_joinview(spark, feed, store, ck, **kw):
    from dynamic_etl_pipeline_spark.streaming.sinks import maintain_join_view

    return maintain_join_view(
        _stream(spark, feed, _JV), str(store), str(ck),
        side_col="side", on=["k"], **kw)


def _run_dedup(spark, feed, store, ck, **kw):
    from dynamic_etl_pipeline_spark.streaming.sinks import maintain_dedup_index

    return maintain_dedup_index(
        _stream(spark, feed, _DOCS), str(store), str(ck),
        threshold=0.4, **kw)


def _run_dupclusters(spark, feed, store, ck, **kw):
    from dynamic_etl_pipeline_spark.streaming.sinks import (
        maintain_dup_clusters,
    )

    return maintain_dup_clusters(
        _stream(spark, feed, _DOCS), str(store), str(ck),
        threshold=0.4, **kw)


_RECS = "rec_id long, content string"
_RECS_A = [[(1, "fine"), (2, None)]]
_RECS_B = [[(3, "ok"), (4, None)]]


def _run_quality(spark, feed, store, ck, **kw):
    from dynamic_etl_pipeline_spark.quality import validate
    from dynamic_etl_pipeline_spark.streaming.sinks import (
        maintain_quality_split,
    )

    schema = T.StructType([
        T.StructField("rec_id", T.StringType()),
        T.StructField("content", T.StringType()),
    ])
    stream = validate(_stream(spark, feed, _RECS), schema)
    return maintain_quality_split(stream, str(store), str(ck), **kw)


def _run_ivf(spark, feed, store, ck, **kw):
    from dynamic_etl_pipeline_spark.streaming.sinks import (
        init_ivf_stream_index,
        maintain_ivf_index,
    )

    if not (store / "centroids").exists():
        boot = spark.createDataFrame(_vec_rows(range(100, 120)), _VECS)
        init_ivf_stream_index(boot, str(store), n_centroids=2)
    return maintain_ivf_index(
        _stream(spark, feed, _VECS), str(store), str(ck), **kw)


def _run_scatter(spark, feed, store, ck, **kw):
    from dynamic_etl_pipeline_spark.streaming.sinks import (
        maintain_scatter_stats,
    )

    return maintain_scatter_stats(
        _stream(spark, feed, _VECS), str(store), str(ck), **kw)


# sink -> (schema, batches_a, batches_b, run, row): ``run`` drains and
# returns what the sink returns; ``row`` maps one result row to the
# hashable form the snapshot compares
_SPECS = {
    "incremental_rollup": (
        _EVENTS, _EVENTS_A, _EVENTS_B, _run_rollup,
        lambda r: (r["bucket"], r["event_type"], r["n_events"],
                   r["total_value"])),
    "distinct_rollup": (
        _EVENTS, _EVENTS_A, _EVENTS_B, _run_distinct,
        lambda r: (r["bucket"], r["event_type"], r["distinct_keys_est"])),
    "ols_trend": (_EVENTS, _EVENTS_A, _EVENTS_B, _run_ols, tuple),
    "decay_features": (
        _EVENTS, _EVENTS_A, _EVENTS_B, _run_decay,
        lambda r: (r["user_id"], r["event_id"], r["n_terms"],
                   r["decayed_sum"])),
    "keyed_store": (_CDC, _CDC_A, _CDC_B, _run_keyed,
                    lambda r: (r["k"], r["val"], r["seq"])),
    "join_view": (_JV, _JV_A, _JV_B, _run_joinview,
                  lambda r: (r["k"], r["v_a"], r["v_b"])),
    "dedup_index": (_DOCS, _DOCS_A, _DOCS_B, _run_dedup,
                    lambda r: (r["id_a"], r["id_b"])),
    "dup_clusters": (_DOCS, _DOCS_A, _DOCS_B, _run_dupclusters,
                     lambda r: (r["id"], r["component"])),
    "quality_split": (_RECS, _RECS_A, _RECS_B, _run_quality,
                      lambda r: r["rec_id"]),
    "ivf_index": (_VECS, [_vec_rows(range(0, 6))], [_vec_rows(range(6, 12))],
                  _run_ivf, lambda r: (r["vec_id"], r["list_id"])),
    "scatter_stats": (_VECS, [_vec_rows(range(0, 6))],
                      [_vec_rows(range(6, 12))], _run_scatter,
                      lambda r: (r["i"], r["j"], int(r["S"]), r["nn"])),
}


def _frames(got):
    """The frames a sink returned: none (IVF), one, or a tuple."""
    if got is None:
        return ()
    return got if isinstance(got, tuple) else (got,)


def _drain(sink, spark, feed, store, ck, **kw):
    """Drain ``feed`` through ``sink`` and return a canonical snapshot
    of its result (the IVF sink returns nothing: its store is read)."""
    _, _, _, run, row = _SPECS[sink]
    got = run(spark, feed, store, ck, **kw)
    frames = _frames(got) or (spark.read.parquet(str(store / "lists")),)
    return tuple(frozenset(row(r) for r in f.collect()) for f in frames)


@pytest.mark.parametrize("sink", sorted(_SPECS))
def test_kill_and_redrain_equals_oneshot(spark, tmp_path, sink):
    schema, batches_a, batches_b, _, _ = _SPECS[sink]
    drain = functools.partial(_drain, sink)

    feed = tmp_path / "feed"
    store = tmp_path / "store"
    ck = tmp_path / "ck"

    _append_files(spark, feed, schema, batches_a)
    drain(spark, feed, store, ck)           # partial drain, then "kill"
    _append_files(spark, feed, schema, batches_b)
    resumed = drain(spark, feed, store, ck)  # resume from SAME checkpoint

    # one-shot twin over the identical file sequence
    store2, ck2 = tmp_path / "store2", tmp_path / "ck2"
    oneshot = drain(spark, feed, store2, ck2)
    assert resumed == oneshot, f"{sink}: resumed != one-shot"

    # pure replay: same checkpoint, no new files -> unchanged
    assert drain(spark, feed, store, ck) == oneshot


@pytest.mark.parametrize("sink", sorted(_SPECS))
def test_fresh_checkpoint_over_existing_store_fails_loudly(
        spark, tmp_path, sink):
    """ADVICE r5: checkpoint loss over a live store must not silently
    clobber (batch-id sinks) or skip (pointer sinks) — default errors,
    explicit on_fresh_checkpoint='replay' allows the deliberate
    re-drain."""
    schema, batches_a, _, _, _ = _SPECS[sink]
    drain = functools.partial(_drain, sink)

    feed = tmp_path / "feed"
    store = tmp_path / "store"
    _append_files(spark, feed, schema, batches_a)
    first = drain(spark, feed, store, tmp_path / "ck1")
    with pytest.raises(Exception, match="fresh checkpoint"):
        drain(spark, feed, store, tmp_path / "ck_fresh")
    # deliberate replay is allowed and idempotent
    again = drain(spark, feed, store, tmp_path / "ck_fresh2",
                  on_fresh_checkpoint="replay")
    assert again == first


@pytest.mark.parametrize("sink", sorted(_SPECS))
def test_empty_feed_drains_to_empty_result(spark, tmp_path, sink):
    """Draining a feed with no files commits no batch: the sink returns
    empty frame(s) with the same columns a non-empty drain returns,
    instead of raising."""
    schema, batches_a, _, run, _ = _SPECS[sink]

    empty_feed = tmp_path / "empty_feed"
    empty_feed.mkdir()
    got = run(spark, empty_feed, tmp_path / "store0", tmp_path / "ck0")

    feed = tmp_path / "feed"
    _append_files(spark, feed, schema, batches_a)
    full = run(spark, feed, tmp_path / "store1", tmp_path / "ck1")

    assert len(_frames(got)) == len(_frames(full))
    for g, f in zip(_frames(got), _frames(full)):
        assert g.columns == f.columns
        assert g.count() == 0


def test_batch_dirs_numeric_order_skips_dirs_without_parquet(tmp_path):
    from dynamic_etl_pipeline_spark.streaming.sinks import _batch_dirs

    for bid in (10, 2, 1):
        d = tmp_path / f"batch-{bid}"
        d.mkdir()
        (d / "part-00000.parquet").touch()
    (tmp_path / "batch-3").mkdir()  # crashed before its first file
    (tmp_path / "batch-3" / "_temporary").mkdir()

    assert _batch_dirs(tmp_path) == [
        (1, tmp_path / "batch-1"),
        (2, tmp_path / "batch-2"),
        (10, tmp_path / "batch-10"),
    ]
    assert _batch_dirs(tmp_path / "missing") == []
