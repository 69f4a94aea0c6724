"""Streaming sinks.

``run_available_now_to_memory`` is the verification harness: drain the
whole (bounded) replay in one availableNow run and hand back the result
as a DataFrame. The memory sink collects to the driver, so it is for
tests/oracles only.

``foreach_batch_parquet`` is the deployment-shaped sink: per-batch
parquet append keyed by batch_id, idempotent on retry (overwrite of the
same batch directory), arbitrarily parallel.

The ``maintain_*`` sinks keep an at-rest store up to date and all drain
through ``_drain_foreach_batch`` (availableNow foreachBatch pass plus
the fresh-checkpoint guard). Two store shapes recur, each with one
helper:

- versioned pointer store (``_maintain_versioned``): the full state is
  rewritten per batch as ``v-<batch_id>`` and committed by an atomic
  swap of ``CURRENT`` (rollup, keyed CDC, distinct, OLS, scatter);
- batch-addressed directories (``_batch_dirs``): each batch writes its
  own ``batch-<id>`` output, replay overwrites it (dedup index, quality
  split, decay features, dup clusters).

The join view and the IVF index append ``batch_id=<id>`` partitions
instead.
"""

from __future__ import annotations

import uuid
from pathlib import Path

from pyspark.sql import DataFrame

from ..materialize import materialize


class FreshCheckpointError(RuntimeError):
    """A stream with a FRESH checkpoint was pointed at an EXISTING
    maintained store: batch ids restart at 0, so per-batch-id
    idempotency would silently clobber (overwrite-by-batch-id sinks) or
    skip (pointer-marker sinks) committed data. Raised loudly instead
    (ADVICE r5)."""


def _check_run_fingerprint(store: Path, checkpoint: str,
                           on_fresh_checkpoint: str, what: str) -> None:
    """The store remembers which stream run built it (``_STREAM_RUN``
    holds the checkpoint's query id, which Structured Streaming keeps
    stable across restarts of the SAME checkpoint and regenerates for a
    fresh one). Same id -> normal recovery, proceed. Different id ->
    the checkpoint is fresh but the store is not: raise (default) or,
    with ``on_fresh_checkpoint='replay'``, adopt the new run id for a
    deliberate idempotent re-drain of the same source."""
    import json
    import os

    try:
        qid = json.loads((Path(checkpoint) / "metadata").read_text())["id"]
    except (OSError, ValueError, KeyError):  # non-standard checkpoint impl
        return
    marker = store / "_STREAM_RUN"
    if marker.exists():
        prev = marker.read_text().strip()
        if prev == qid:
            return
        if on_fresh_checkpoint == "error":
            raise FreshCheckpointError(
                f"{what} store {store} was built by stream run {prev}, but "
                f"this query runs under a fresh checkpoint (run {qid}). "
                "Resume from the original checkpoint, rebuild the store, or "
                "pass on_fresh_checkpoint='replay' for a deliberate "
                "idempotent re-drain of the same source."
            )
    store.mkdir(parents=True, exist_ok=True)
    tmp = store / f"_STREAM_RUN.tmp-{os.getpid()}"
    tmp.write_text(qid)
    os.replace(tmp, marker)


def _drain_foreach_batch(stream_df: DataFrame, body, checkpoint: str, *,
                         store_dir: str,
                         on_fresh_checkpoint: str = "error",
                         output_mode: str | None = None,
                         timeout_s: int = 300, what: str = "sink") -> None:
    """The one drain loop every maintain_* sink shares: wrap ``body``
    with the fresh-checkpoint fingerprint guard on ``store_dir``, run
    an availableNow foreachBatch pass, stop the query."""
    if on_fresh_checkpoint not in ("error", "replay"):
        raise ValueError(
            f"on_fresh_checkpoint must be error|replay, "
            f"got {on_fresh_checkpoint!r}"
        )
    checked = False

    def guarded(batch_df, batch_id):
        nonlocal checked
        if not checked:  # once per drain; foreachBatch runs driver-side
            _check_run_fingerprint(
                Path(store_dir), checkpoint, on_fresh_checkpoint, what
            )
            checked = True
        body(batch_df, batch_id)

    writer = stream_df.writeStream.foreachBatch(guarded)
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(
                f"{what} drain did not finish within {timeout_s}s"
            )
    finally:
        q.stop()


def _maintain_versioned(stream_df: DataFrame, store_dir: str,
                        checkpoint: str, step, *, timeout_s: int,
                        on_fresh_checkpoint: str, what: str) -> DataFrame:
    """Drain ``stream_df`` into a versioned pointer store and return the
    final state. ``step(batch_df, prev)`` returns the next FULL state
    from one micro-batch and the committed state ``prev`` (``None``
    before the first commit).

    Exactly-once across retries: commits use the atomic-pointer idiom
    (Delta/Hive-style). Each batch's state is written to its own
    versioned directory ``v-<batch_id>``; the single commit point is an
    ``os.replace`` of the ``CURRENT`` pointer file, which is atomic on
    POSIX. The pointer doubles as the replay marker (a batch id at or
    below it is skipped), so data and marker can never disagree, and
    readers always see a complete version — there is no window where
    the store is absent or half-swapped. A crash after the data write
    but before the pointer swap leaves an orphan ``v-`` directory that
    the replayed batch simply overwrites; the previous version is
    removed only after the swap.

    An empty drain commits nothing and returns an empty frame with the
    state schema (``step(stream_df, None)`` resolves it on the
    streaming frame without starting a query).
    """
    import os
    import shutil

    spark = stream_df.sparkSession
    store = Path(store_dir)
    pointer = store / "CURRENT"

    def current_version() -> int | None:
        return int(pointer.read_text()) if pointer.exists() else None

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = current_version()
        if last is not None and last >= batch_id:
            return  # replayed batch: already committed
        prev = (
            None if last is None
            else spark.read.parquet(str(store / f"v-{last}"))
        )
        step(batch_df, prev).write.mode("overwrite").parquet(
            str(store / f"v-{batch_id}")
        )
        tmp = store / f"_CURRENT.tmp-{batch_id}"
        tmp.write_text(str(batch_id))
        os.replace(tmp, pointer)  # atomic commit: pointer IS the marker
        if last is not None:  # post-commit GC; orphans on crash are harmless
            shutil.rmtree(store / f"v-{last}", ignore_errors=True)

    _drain_foreach_batch(
        stream_df, commit_batch, checkpoint, store_dir=store_dir,
        on_fresh_checkpoint=on_fresh_checkpoint,
        output_mode="update", timeout_s=timeout_s, what=what,
    )
    ver = current_version()
    if ver is None:  # empty stream: nothing ever committed
        return spark.createDataFrame([], step(stream_df, None).schema)
    return spark.read.parquet(str(store / f"v-{ver}"))


def _batch_dirs(root: Path) -> list[tuple[int, Path]]:
    """The ``batch-<id>`` directories under ``root`` that hold parquet
    output, as ``(batch_id, path)`` sorted by NUMERIC batch id (so
    ``batch-2`` precedes ``batch-10``). A missing root yields none."""
    return sorted(
        (int(d.name.split("-", 1)[1]), d) for d in root.glob("batch-*")
        if any(d.glob("*.parquet"))
    )


def run_available_now_to_memory(stream_df: DataFrame,
                                output_mode: str = "complete",
                                timeout_s: float = 300,
                                state_partitions: int | None = 8) -> DataFrame:
    """Process everything currently available, stop, return results.

    complete mode re-emits the full aggregate result on the final
    trigger, which is what makes streaming output comparable 1:1 with
    the batch twin (append would hold back windows newer than the
    watermark at end-of-stream).

    ``state_partitions`` temporarily lowers shuffle partitions for the
    run: every stateful operator opens one state store per shuffle
    partition, and at verification scale 32 stores are pure overhead
    (a real deployment sizes this to key cardinality and keeps it fixed
    for the checkpoint's lifetime).

    Raises ``TimeoutError`` when the drain outlives ``timeout_s``: the
    memory table would hold only the batches finished so far.
    """
    spark = stream_df.sparkSession
    name = f"vr_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(timeout_s):
                raise TimeoutError(
                    f"memory drain {name} did not finish within {timeout_s}s"
                )
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def foreach_batch_parquet(stream_df: DataFrame, path: str,
                          checkpoint: str,
                          output_mode: str = "update"):
    """Start a foreachBatch sink appending each micro-batch to
    ``path/batch_id=N`` (idempotent per-batch overwrite + checkpoint
    tracking = effectively-once on retries)."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{path.rstrip('/')}/batch_id={batch_id}"
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def maintain_incremental_rollup(stream_df: DataFrame, store_dir: str,
                                checkpoint: str, width: str = "1 hour",
                                timeout_s: int = 300,
                on_fresh_checkpoint: str = "error") -> DataFrame:
    """Streaming materialized view: maintain an at-rest hourly rollup
    table under foreachBatch, merging each micro-batch's PARTIAL
    aggregates into the store instead of re-aggregating history.

    The merge exploits associativity: the store keeps (bucket, type) ->
    (n_events, total_value DECIMAL) partials; each batch computes its
    own partials and the merge is `union -> groupBy -> sum` over
    |store| + |batch-keys| rows — cost is proportional to the ROLLUP
    size, never to accumulated raw history (the property that makes a
    materialized view viable when the raw stream is 100 TB). DECIMAL
    totals at rest make merge order irrelevant, so the maintained view
    is bit-identical to the batch twin.

    Exactly-once across retries via the atomic CURRENT-pointer commit
    of ``_maintain_versioned``.

    Returns the final rollup as a DataFrame (bucket, event_type,
    n_events, total_value DOUBLE) after an availableNow drain.
    """
    from pyspark.sql import functions as F

    unit = width.split()[-1]  # "1 hour" -> date_trunc('hour', ...)

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        new = batch_df.groupBy(
            F.date_trunc(unit, F.col("ts")).alias("bucket"),
            "event_type",
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,4)")).alias("total_value"),
        )
        if prev is None:
            return new
        return prev.unionByName(new).groupBy("bucket", "event_type").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").cast("decimal(27,4)").alias("total_value"),
        )

    return _maintain_versioned(
        stream_df, store_dir, checkpoint, step, timeout_s=timeout_s,
        on_fresh_checkpoint=on_fresh_checkpoint, what="incremental-rollup",
    ).select(
        "bucket", "event_type", "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )


def maintain_keyed_store(stream_df: DataFrame, store_dir: str,
                         checkpoint: str, keys: list[str],
                         seq_col: str, op_col: str | None = None,
                         timeout_s: int = 300,
                on_fresh_checkpoint: str = "error") -> DataFrame:
    """Streaming CDC apply: maintain an at-rest keyed table by MERGE-ing
    each micro-batch of change records into the store — the
    foreachBatch + merge_upsert composition that gives Spark the
    Delta-style `MERGE INTO` streaming sink from public primitives.

    Batch semantics: within a micro-batch, only the LATEST change per
    key (max ``seq_col``, arrival order breaking ties) applies — MERGE
    requires unique source keys, and CDC replays deliver per-key
    monotone sequence numbers precisely so late/duplicate intermediates
    collapse. If ``op_col`` is given, rows whose value is ``'D'`` are
    deletes (WHEN MATCHED THEN DELETE); everything else upserts.

    Exactly-once across retries via the atomic CURRENT-pointer commit
    of ``_maintain_versioned``. Store cost per batch is |store| +
    |batch| (one full-outer join on the keys), never accumulated
    history.

    Returns the final store contents after an availableNow drain.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.merge import merge_upsert

    data_cols = [c for c in stream_df.columns if c != op_col]

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        # content-hash tie-break: deterministic under any partitioning
        # (real CDC feeds guarantee unique (key, seq) so it rarely fires)
        w = Window.partitionBy(*keys).orderBy(
            F.col(seq_col).desc(), F.xxhash64(*data_cols)
        )
        latest = (
            batch_df.withColumn("_ks_rn", F.row_number().over(w))
            .filter(F.col("_ks_rn") == 1)
            .drop("_ks_rn")
        )
        if op_col is not None:
            deletes = latest.filter(F.col(op_col) == "D").select(*keys)
            upserts = latest.filter(
                F.coalesce(F.col(op_col) != "D", F.lit(True))
            ).select(*data_cols)
        else:
            deletes, upserts = None, latest.select(*data_cols)
        if prev is not None:
            return merge_upsert(prev, upserts, keys, deletes=deletes)
        if deletes is None:
            return upserts
        return upserts.join(deletes, keys, "left_anti")

    return _maintain_versioned(
        stream_df, store_dir, checkpoint, step, timeout_s=timeout_s,
        on_fresh_checkpoint=on_fresh_checkpoint, what="keyed-store",
    )


def maintain_join_view(stream_df: DataFrame, store_dir: str,
                       checkpoint: str, side_col: str, on: list[str],
                       timeout_s: int = 300,
                on_fresh_checkpoint: str = "error") -> DataFrame:
    """Incremental JOIN view maintenance: keep J = A JOIN B up to date
    as rows for either side arrive on one tagged stream
    (``side_col`` = 'A' or 'B'), using the bilinear delta rule

        dJ = dA JOIN B_hist  UNION ALL  A_hist JOIN dB
             UNION ALL  dA JOIN dB

    so each micro-batch APPENDS only the new join results — the view is
    never recomputed, and unlike Spark's stream-stream join the history
    is unbounded (no watermark expiry): this is the materialized-view
    semantics (DBSP / differential-dataflow style) rather than the
    event-time-bounded streaming join.

    Store layout: ``a/batch_id=N``, ``b/batch_id=N`` (side history,
    append-only), ``j/batch_id=N`` (per-batch join deltas). Every write
    is an idempotent per-batch overwrite and the ``_last_batch`` marker
    commits last, so replays rewrite identical files and skip merged
    batches — effectively-once without any store rewrite. Reading the
    view = reading ``j/`` (union of deltas).

    Scale: per batch the work is dA x B + A x dB join probes — with
    both histories written BUCKETED on the join key (operators/
    bucketing.py) the probes are shuffle-free lookups, and the appended
    delta files keep the view write cost proportional to CHANGE size,
    never view size. A and B histories here are plain parquet dirs; the
    fixture-scale test reads them whole.

    Returns the view (all join deltas) after an availableNow drain;
    an empty drain returns the view's columns with no rows.
    """
    import os
    from pathlib import Path

    from pyspark.sql import functions as F

    spark = stream_df.sparkSession
    store = Path(store_dir)
    store.mkdir(parents=True, exist_ok=True)
    marker = store / "_last_batch"
    data_cols = [c for c in stream_df.columns if c != side_col]
    payload = [c for c in data_cols if c not in on]

    def last_done() -> int | None:
        return int(marker.read_text()) if marker.exists() else None

    def read_side(d: Path, schema) -> DataFrame:
        if d.exists() and any(d.glob("batch_id=*/*.parquet")):
            return spark.read.parquet(*[str(p) for p in d.glob("batch_id=*")])
        return spark.createDataFrame([], schema)

    def j(left: DataFrame, right: DataFrame) -> DataFrame:
        r = right.select(
            *[F.col(k).alias(f"_r_{k}") for k in on],
            *[F.col(c).alias(f"{c}_b") for c in payload],
        )
        cond = [left[k] == r[f"_r_{k}"] for k in on]
        return left.join(r, cond).select(
            *on, *[F.col(c).alias(f"{c}_a") for c in payload],
            *[f"{c}_b" for c in payload],
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = last_done()
        if last is not None and last >= batch_id:
            return
        d_a = batch_df.filter(F.col(side_col) == "A").select(*data_cols)
        d_b = batch_df.filter(F.col(side_col) == "B").select(*data_cols)
        schema = d_a.schema
        a_hist = read_side(store / "a", schema)
        b_hist = read_side(store / "b", schema)

        d_j = (
            j(d_a, b_hist)
            .unionByName(j(a_hist, d_b))
            .unionByName(j(d_a, d_b))
        )
        d_j.write.mode("overwrite").parquet(
            str(store / "j" / f"batch_id={batch_id}")
        )
        d_a.write.mode("overwrite").parquet(
            str(store / "a" / f"batch_id={batch_id}")
        )
        d_b.write.mode("overwrite").parquet(
            str(store / "b" / f"batch_id={batch_id}")
        )
        tmp = store / f"_last_batch.tmp-{batch_id}"
        tmp.write_text(str(batch_id))
        os.replace(tmp, marker)  # single commit point, idempotent replays

    _drain_foreach_batch(
        stream_df, apply_batch, checkpoint, store_dir=store_dir,
        on_fresh_checkpoint=on_fresh_checkpoint,
        output_mode="update", timeout_s=timeout_s, what="join-view",
    )
    paths = [str(p) for p in (store / "j").glob("batch_id=*")]
    if not paths:  # empty stream: the view's columns, no rows
        side = stream_df.select(*data_cols).schema
        return j(spark.createDataFrame([], side),
                 spark.createDataFrame([], side))
    return spark.read.parquet(*paths)


def maintain_distinct_rollup(stream_df: DataFrame, store_dir: str,
                             checkpoint: str, width: str = "1 hour",
                             key_col: str = "user_id",
                             timeout_s: int = 300,
                on_fresh_checkpoint: str = "error") -> DataFrame:
    """Streaming DISTINCT-COUNT materialized view: maintain an at-rest
    (bucket, event_type) -> distinct-``key_col`` rollup where the
    at-rest state is an HLL SKETCH column (DataSketches), merged per
    micro-batch with ``hll_union_agg``.

    Exact distinct is not associative (you cannot merge two counts),
    which is why maintain_incremental_rollup stops at sums — sketches
    restore mergeability: each batch builds per-group sketches
    (``hll_sketch_agg``), the store merge is union -> groupBy ->
    ``hll_union_agg``, and cost stays proportional to ROLLUP size.
    Because HLL register merge is max-based, the maintained sketch is
    IDENTICAL to a from-scratch batch sketch — order-, batch--, and
    partition-insensitive — so the streamed estimate equals the batch
    twin exactly (pinned in tests), with ~2% standard error vs truth.

    Same atomic CURRENT-pointer commit as the sum rollup
    (``_maintain_versioned``).

    Returns (bucket, event_type, distinct_keys_est) after an
    availableNow drain.
    """
    from pyspark.sql import functions as F

    unit = width.split()[-1]

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        new = batch_df.groupBy(
            F.date_trunc(unit, F.col("ts")).alias("bucket"), "event_type"
        ).agg(F.hll_sketch_agg(key_col).alias("sketch"))
        if prev is None:
            return new
        return prev.unionByName(new).groupBy("bucket", "event_type").agg(
            F.hll_union_agg("sketch").alias("sketch")
        )

    return _maintain_versioned(
        stream_df, store_dir, checkpoint, step, timeout_s=timeout_s,
        on_fresh_checkpoint=on_fresh_checkpoint, what="distinct-rollup",
    ).select(
        "bucket", "event_type",
        F.hll_sketch_estimate("sketch").cast("bigint")
        .alias("distinct_keys_est"),
    )


def apply_dedup_index_batch(batch_df, batch_id: int, store_dir: str,
                            id_col: str = "doc_id", text_col: str = "text",
                            num_perm: int = 64, bands: int = 16,
                            shingle_n: int = 3, threshold: float = 0.5,
                            seed: int = 42,
                            max_postings_per_band: int | None = 4096,
                            portable_hash: bool = False) -> None:
    """One micro-batch of the incremental near-dup index (the
    foreachBatch body of maintain_dedup_index, callable directly for
    batch backfills).

    Per batch: (1) MinHash signatures for the new docs (map-only);
    (2) LSH postings probe the ACCUMULATED postings store — so new docs
    pair against every previously indexed doc without recomputing
    anything for the old corpus — plus a batch-internal self-join;
    (3) candidates verify by signature agreement >= threshold;
    (4) the batch's postings/signatures/pairs land in batch-addressed
    subdirectories, so a replayed batch OVERWRITES its own output
    instead of double-indexing (idempotent under at-least-once
    delivery).

    Incremental cost: |batch postings| x matching store postings — the
    all-pairs recompute a batch pipeline would need is gone, which is
    the point: at corpus scale the index accretes, it is never rebuilt.

    Hot-band safety: a duplicate-heavy batch probing a store whose
    matching band buckets are themselves hot would multiply — so BOTH
    probe sides pass through the same per-(band_id, band_hash) cap the
    batch pair functions use (``max_postings_per_band``, None
    disables). The STORE keeps full postings: caps apply at join time
    only, so tightening/loosening the cap never requires a reindex.
    """
    from pathlib import Path

    from pyspark.sql import functions as F

    from ..operators.dedup import _cap_postings, band_postings, minhash_signatures

    spark = batch_df.sparkSession
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands})"
        )
    r = num_perm // bands
    store = Path(store_dir)
    post_dir = store / "postings"
    sig_dir = store / "signatures"
    pair_dir = store / "pairs"

    sigs = minhash_signatures(
        batch_df, id_col, text_col, num_perm, shingle_n, seed,
        udf_partitions=8, portable_hash=portable_hash,
    ).transform(materialize)
    posts = band_postings(
        sigs, id_col, bands, r, portable=portable_hash
    ).transform(materialize)
    probe = (
        _cap_postings(posts, max_postings_per_band, label="index-batch")
        if max_postings_per_band is not None else posts
    )

    # candidates: new-vs-store (cross-batch) + new-vs-new (in-batch).
    # Exclude THIS batch's own directory from the store read so a
    # replayed batch doesn't pair against its half-written self.
    older = [str(d) for bid, d in _batch_dirs(post_dir) if bid != batch_id]
    new_posts = probe.select(
        F.col("_id").alias("id_b"), "band_id", "band_hash"
    )
    cands = []
    if older:
        stored = spark.read.parquet(*older)
        if max_postings_per_band is not None:
            stored = _cap_postings(stored, max_postings_per_band, label="index-store")
        stored = stored.select(
            F.col("_id").alias("id_a"), "band_id", "band_hash"
        )
        cands.append(
            stored.join(new_posts, ["band_id", "band_hash"])
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b")
        )
    intra = probe.select(F.col("_id").alias("id_a"), "band_id", "band_hash")
    cands.append(
        intra.join(new_posts, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cand = cands[0]
    for c in cands[1:]:
        cand = cand.unionByName(c)
    cand = cand.dropDuplicates(["id_a", "id_b"])

    # verify on signatures: old sigs come from the store, new from this
    # batch (union covers both sides of cross-batch pairs)
    old_sig_dirs = [
        str(d) for bid, d in _batch_dirs(sig_dir) if bid != batch_id
    ]
    all_sigs = sigs.select(F.col(id_col).alias("_sid"), "sig")
    if old_sig_dirs:
        all_sigs = all_sigs.unionByName(
            spark.read.parquet(*old_sig_dirs).select(
                F.col(id_col).alias("_sid"), "sig"
            )
        )
    sig_a = all_sigs.select(F.col("_sid").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = all_sigs.select(F.col("_sid").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                 lambda eq: eq)
    )
    pairs = (
        cand.join(sig_a, "id_a").join(sig_b, "id_b")
        .select(
            "id_a", "id_b",
            (agree.cast("double") / num_perm).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )

    # batch-addressed writes: replay = overwrite, never append-twice
    pairs.write.mode("overwrite").parquet(str(pair_dir / f"batch-{batch_id}"))
    sigs.write.mode("overwrite").parquet(str(sig_dir / f"batch-{batch_id}"))
    posts.write.mode("overwrite").parquet(str(post_dir / f"batch-{batch_id}"))


def maintain_dedup_index(stream_df, store_dir: str, checkpoint: str,
                         id_col: str = "doc_id", text_col: str = "text",
                         timeout_s: int = 300,
                         on_fresh_checkpoint: str = "error", **lsh_kwargs):
    """Streaming near-dup index maintenance: each arriving micro-batch
    of documents is MinHash-indexed and paired against everything
    indexed before it — exact-once under replay via batch-addressed
    output dirs. Returns the accumulated (id_a, id_b, est_jaccard)
    pairs after an availableNow drain."""
    from pathlib import Path

    spark = stream_df.sparkSession

    def _body(batch_df, batch_id):
        apply_dedup_index_batch(
            batch_df, batch_id, store_dir,
            id_col=id_col, text_col=text_col, **lsh_kwargs,
        )

    _drain_foreach_batch(
        stream_df, _body, checkpoint, store_dir=store_dir,
        on_fresh_checkpoint=on_fresh_checkpoint,
        output_mode=None, timeout_s=timeout_s, what="dedup-index",
    )
    pair_dirs = [str(d) for _, d in _batch_dirs(Path(store_dir) / "pairs")]
    if not pair_dirs:
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [], T.StructType([
                T.StructField("id_a", T.LongType()),
                T.StructField("id_b", T.LongType()),
                T.StructField("est_jaccard", T.DoubleType()),
            ])
        )
    return spark.read.parquet(*pair_dirs).dropDuplicates(["id_a", "id_b"])


def maintain_quality_split(stream_df, store_dir: str, checkpoint: str,
                           issues_col: str = "_quality_issues",
                           timeout_s: int = 300,
                on_fresh_checkpoint: str = "error"):
    """Streaming ingest with a dead-letter queue: each micro-batch
    splits on the quality annotation (quality.validate's issues column
    — the reference's per-record issue strings, app.py:355-360) and
    lands good rows in the main store, bad rows in the DLQ — the
    at-scale answer to the reference's counters-only handling: bad
    records stay queryable and replayable instead of being a number in
    a UI.

    Both sides write batch-addressed directories (replay = overwrite =
    idempotent, same contract as the dedup index / CDC sinks). Returns
    (good_df, bad_df) after an availableNow drain; either may be empty.
    """
    from pathlib import Path

    from pyspark.sql import functions as F

    spark = stream_df.sparkSession
    store = Path(store_dir)
    schema = stream_df.schema

    def _body(batch_df, batch_id):
        is_bad = F.size(F.col(issues_col)) > 0
        batch_df.filter(~is_bad).write.mode("overwrite").parquet(
            str(store / "good" / f"batch-{batch_id}")
        )
        batch_df.filter(is_bad).write.mode("overwrite").parquet(
            str(store / "bad" / f"batch-{batch_id}")
        )

    _drain_foreach_batch(
        stream_df, _body, checkpoint, store_dir=store_dir,
        on_fresh_checkpoint=on_fresh_checkpoint,
        output_mode=None, timeout_s=timeout_s, what="quality-split",
    )

    def _read(side: str):
        dirs = [str(d) for _, d in _batch_dirs(store / side)]
        if not dirs:
            return spark.createDataFrame([], schema)
        return spark.read.parquet(*dirs)

    return _read("good"), _read("bad")


def apply_decay_features_batch(batch_df, batch_id: int, store_dir: str,
                               depth: int = 19) -> None:
    """One micro-batch of the incremental exponential-decay feature
    (the foreachBatch body of maintain_decay_features; the streaming
    twin of queries/timeseries.py::events_decay_ewma and held to the
    same batch-twin contract: drained output == the one-shot batch
    query over the unioned, arrival-ordered events).

    State is a per-user TAIL: the last ``depth`` (rn, cents) rows under
    the cumulative per-user arrival order. Per batch: (1) new rows rank
    on from the stored max rn; (2) their decayed sums band-join against
    tail + batch (each row meets <= depth+1 partners — identical
    integer kernel to the batch query: cents * 2^(depth-k), one final
    division); (3) features land batch-addressed (replay = overwrite,
    exactly-once under at-least-once delivery); (4) a full tail
    snapshot is written for THIS batch id, and a replayed batch reads
    the snapshot of the latest EARLIER batch, so recomputation is
    deterministic.

    Scale note: the tail snapshot is O(users * depth) per batch — the
    right shape while user cardinality is storage-cheap (it is: 20
    BIGINTs per user). Beyond that, the same per-key bounded-buffer
    state moves into a RocksDB-backed stateful operator
    (transformWithState, which needs protobuf) with this function
    unchanged as the backfill path.
    """
    from pathlib import Path

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = batch_df.sparkSession
    store = Path(store_dir)
    feat_dir = store / "features"
    tail_dir = store / "tail"

    prior = [d for bid, d in _batch_dirs(tail_dir) if bid < batch_id]
    cents = F.expr("cast(round(value * 100) as bigint)")
    b = batch_df.select(
        "user_id", "event_id", "ts", cents.alias("cents")
    ).transform(materialize)
    if prior:
        tail = spark.read.parquet(str(prior[-1]))
    else:
        tail = spark.createDataFrame(
            [], "user_id long, rn long, cents long, event_id long"
        )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base_rn = tail.groupBy("user_id").agg(F.max("rn").alias("rn0"))
    ranked = (
        b.withColumn("brn", F.row_number().over(w))
        .join(F.broadcast(base_rn), "user_id", "left")
        .select(
            "user_id", "event_id", "cents",
            (F.col("brn") + F.coalesce(F.col("rn0"), F.lit(0))).alias("rn"),
        )
    )
    hist = tail.select("user_id", "rn", "cents").unionByName(
        ranked.select("user_id", "rn", "cents")
    )
    cur = ranked.select(
        F.col("user_id").alias("u"), "event_id", F.col("rn").alias("crn")
    )
    prev = hist.select(
        F.col("user_id").alias("pu"), F.col("cents").alias("pc"),
        F.col("rn").alias("prn"),
    )
    scaled = F.col("pc") * F.expr(
        f"shiftleft(1L, {depth} - cast(crn - prn as int))"
    )
    denom = float(100 * (1 << depth))
    feats = (
        cur.join(
            prev,
            (F.col("u") == F.col("pu"))
            & (F.col("prn") >= F.col("crn") - depth)
            & (F.col("prn") <= F.col("crn")),
        )
        .groupBy(F.col("u").alias("user_id"), "event_id")
        .agg(
            F.count("*").cast("int").alias("n_terms"),
            (F.sum(scaled).cast("double") / F.lit(denom)).alias("decayed_sum"),
        )
    )
    feats.write.mode("overwrite").parquet(str(feat_dir / f"batch-{batch_id}"))

    keep = Window.partitionBy("user_id").orderBy(F.desc("rn"))
    new_tail = (
        hist.join(
            ranked.select("user_id", "rn", "event_id"), ["user_id", "rn"],
            "left",
        )
        .withColumn("_k", F.row_number().over(keep))
        .filter(F.col("_k") <= depth)
        .select("user_id", "rn", "cents",
                F.coalesce("event_id", F.lit(-1)).alias("event_id"))
    )
    new_tail.write.mode("overwrite").parquet(str(tail_dir / f"batch-{batch_id}"))


def maintain_decay_features(stream_df, store_dir: str, checkpoint: str,
                            depth: int = 19, timeout_s: int = 300,
                on_fresh_checkpoint: str = "error"):
    """Streaming decay-feature maintenance: drain the event stream with
    availableNow, computing each arriving event's exponential-decay sum
    incrementally against per-user tail state. Returns the accumulated
    (user_id, event_id, n_terms, decayed_sum) frame."""
    from pathlib import Path

    spark = stream_df.sparkSession

    def _body(batch_df, batch_id):
        apply_decay_features_batch(batch_df, batch_id, store_dir, depth=depth)

    _drain_foreach_batch(
        stream_df, _body, checkpoint, store_dir=store_dir,
        on_fresh_checkpoint=on_fresh_checkpoint,
        output_mode=None, timeout_s=timeout_s, what="decay-feature",
    )
    feat_dirs = [str(d) for _, d in _batch_dirs(Path(store_dir) / "features")]
    if not feat_dirs:
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [], T.StructType([
                T.StructField("user_id", T.LongType()),
                T.StructField("event_id", T.LongType()),
                T.StructField("n_terms", T.IntegerType()),
                T.StructField("decayed_sum", T.DoubleType()),
            ])
        )
    return spark.read.parquet(*feat_dirs)


def maintain_ols_trend(stream_df, store_dir: str, checkpoint: str,
                       anchor_ts: str, timeout_s: int = 300,
                on_fresh_checkpoint: str = "error"):
    """Streaming per-group OLS maintenance — the payoff of expressing
    regression as SUFFICIENT STATISTICS (queries/timeseries.py::
    events_ols_trend): (n, Σx, Σy, Σx², Σxy) are associative sums, so
    the incremental merge is the SAME union->groupBy->sum shape as
    maintain_incremental_rollup, cost proportional to the group
    cardinality, never to accumulated history. Exactly-once via the
    atomic-pointer commit of ``_maintain_versioned``.

    ``anchor_ts`` fixes the x origin (a stream can't know a global min
    up front). The slope rational is mathematically anchor-INVARIANT
    (n*Σxy - ΣxΣy and n*Σx² - (Σx)² are shift-invariant), so any
    anchor yields the batch query's slope; matching the batch twin's
    anchor also reproduces the raw sums bit-for-bit (pinned in tests).

    Returns (event_type, n_points, sum_x, sum_y, sum_xx, sum_xy,
    slope_num, slope_den) after an availableNow drain — same schema and
    exact digit-string transport as the batch query.
    """
    from pyspark.sql import functions as F

    sums = ("n", "sx", "sy", "sxx", "sxy")

    def step(batch_df, prev):
        base = batch_df.filter(F.col("value").isNotNull()).select(
            "event_type",
            (F.unix_timestamp("ts")
             - F.unix_timestamp(F.lit(anchor_ts).cast("timestamp"))).alias("x"),
            F.expr("cast(round(value * 100) as bigint)").alias("y"),
        )
        dec = lambda c: F.sum(c.cast("decimal(38,0)"))  # noqa: E731
        new = base.groupBy("event_type").agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            dec(F.col("x")).alias("sx"),
            dec(F.col("y")).alias("sy"),
            dec(F.col("x") * F.col("x")).alias("sxx"),
            dec(F.col("x") * F.col("y")).alias("sxy"),
        )
        if prev is None:
            return new
        return prev.unionByName(new).groupBy("event_type").agg(*[
            F.sum(c).cast("decimal(38,0)").alias(c) for c in sums
        ])

    stats = _maintain_versioned(
        stream_df, store_dir, checkpoint, step, timeout_s=timeout_s,
        on_fresh_checkpoint=on_fresh_checkpoint, what="OLS-trend",
    )
    # cast to decimal(10,0) so n * sxy stays inside Spark's 38-digit cap
    # (same finisher as the batch query)
    n10 = F.col("n").cast("decimal(10,0)")
    num = n10 * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n10 * F.col("sxx") - F.col("sx") * F.col("sx")
    return stats.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_points"),
        F.col("sx").cast("bigint").alias("sum_x"),
        F.col("sy").cast("bigint").alias("sum_y"),
        F.col("sxx").cast("decimal(30,0)").cast("string").alias("sum_xx"),
        F.col("sxy").cast("decimal(30,0)").cast("string").alias("sum_xy"),
        num.cast("decimal(38,0)").cast("string").alias("slope_num"),
        den.cast("decimal(38,0)").cast("string").alias("slope_den"),
    )


def apply_dup_clusters_batch(batch_df, batch_id: int, store_dir: str,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             **index_kwargs) -> None:
    """One micro-batch of incremental duplicate-CLUSTER maintenance
    (round 4): the foreachBatch body of maintain_dup_clusters.

    Builds on apply_dedup_index_batch (which finds this batch's
    cross-batch near-dup pairs incrementally), then folds those pairs
    into a persistent (id, component) label store by COMPONENT
    CONTRACTION — the incremental union-find:

    1. new docs enter with self-labels (singleton components);
    2. the batch's pairs are mapped id -> current component (two
       equi-joins against the label store);
    3. connected components run on the COMPONENT CONTACT GRAPH only —
       rows = distinct component pairs this batch touched, a frame
       orders of magnitude smaller than the corpus — never on the
       full accumulated pair set;
    4. the store relabels through the resulting old->new mapping
       (broadcast-sized: only merged components appear) and lands as a
       batch-addressed snapshot.

    Replay safety: the batch reads the latest label snapshot with
    batch id < this one and overwrites its own snapshot, so an
    at-least-once redelivery converges to the identical store. At
    corpus scale the per-batch cost is |batch pairs| equi-joins + a
    tiny contraction CC + one map-side relabel join; snapshots are
    full copies here (test-sized) — production would compact/retain
    like EtlPipeline.vacuum.
    """
    from pathlib import Path

    from pyspark.sql import functions as F

    from ..operators.dedup import connected_components

    spark = batch_df.sparkSession
    store = Path(store_dir)
    labels_dir = store / "labels"

    apply_dedup_index_batch(
        batch_df, batch_id, store_dir, id_col=id_col, text_col=text_col,
        **index_kwargs,
    )

    pair_path = store / "pairs" / f"batch-{batch_id}"
    pairs = (
        spark.read.parquet(str(pair_path)).select("id_a", "id_b")
        if any(pair_path.glob("*.parquet")) else None
    )

    prior = [d for bid, d in _batch_dirs(labels_dir) if bid < batch_id]
    new_ids = batch_df.select(
        F.col(id_col).alias("id")
    ).distinct().withColumn("component", F.col("id"))
    if prior:
        old = spark.read.parquet(str(prior[-1]))
        labels = (
            old.unionByName(new_ids.join(old, "id", "left_anti"))
            .transform(materialize)
        )
    else:
        labels = new_ids.transform(materialize)

    if pairs is not None:
        la = labels.select(F.col("id").alias("id_a"),
                           F.col("component").alias("comp_a"))
        lb = labels.select(F.col("id").alias("id_b"),
                           F.col("component").alias("comp_b"))
        contact = (
            pairs.join(la, "id_a").join(lb, "id_b")
            .filter(F.col("comp_a") != F.col("comp_b"))
            .select("comp_a", "comp_b").distinct()
        )
        if contact.limit(1).count():
            mapping = connected_components(
                contact, "comp_a", "comp_b"
            ).select(
                F.col("id").alias("component"),
                F.col("component").alias("_new"),
            )
            labels = (
                labels.join(F.broadcast(mapping), "component", "left")
                .select(
                    "id",
                    F.coalesce("_new", "component").alias("component"),
                )
            )

    labels.write.mode("overwrite").parquet(
        str(labels_dir / f"batch-{batch_id}")
    )


def maintain_dup_clusters(stream_df, store_dir: str, checkpoint: str,
                          id_col: str = "doc_id", text_col: str = "text",
                          timeout_s: int = 300,
                          on_fresh_checkpoint: str = "error",
                          **index_kwargs):
    """Streaming duplicate-cluster maintenance: drains the doc stream
    through apply_dup_clusters_batch and returns the final (id,
    component) label store — the thing a curation pipeline joins onto
    the corpus to pick per-cluster keepers without ever recomputing
    history. Batch twin: connected_components over minhash_lsh_pairs
    on the full corpus (equality pinned in tests/test_streaming.py)."""
    from pathlib import Path

    spark = stream_df.sparkSession

    def _body(batch_df, batch_id):
        apply_dup_clusters_batch(
            batch_df, batch_id, store_dir,
            id_col=id_col, text_col=text_col, **index_kwargs,
        )

    _drain_foreach_batch(
        stream_df, _body, checkpoint, store_dir=store_dir,
        on_fresh_checkpoint=on_fresh_checkpoint,
        output_mode=None, timeout_s=timeout_s, what="dup-cluster",
    )
    snaps = [d for _, d in _batch_dirs(Path(store_dir) / "labels")]
    if not snaps:
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [], T.StructType([
                T.StructField("id", T.LongType()),
                T.StructField("component", T.LongType()),
            ])
        )
    return spark.read.parquet(str(snaps[-1]))


# ---------------------------------------------------------------------------
# Streaming IVF-index maintenance: frozen-centroid appends.
#
# The production ANN lifecycle is train-offline / append-online:
# centroids are trained once on a bootstrap corpus (or any sample) and
# FROZEN; the stream then only assigns each arriving vector to its
# inverted list and appends it — a map-only pass per micro-batch, no
# retrain, no index rewrite. Probing via operators/knn.py::
# ivf_index_topk is unchanged: the probe reads only the probed lists'
# partitions (PartitionFilters), now across every appended batch.
# Centroid drift is handled the way real systems do it — a periodic
# full rebuild (init_ivf_stream_index again), not incremental retrain.


def init_ivf_stream_index(bootstrap_df: DataFrame, index_dir: str,
                          n_centroids: int = 16, kmeans_iters: int = 2,
                          seed: int = 42, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> None:
    """Train centroids on the bootstrap corpus and lay down the
    streaming index layout: ``centroids/`` (tiny parquet) +
    ``lists/batch_id=-1/list_id=N/`` holding the bootstrap vectors.
    Every partition level is a real directory partition, so a probe
    prunes on list_id across batch_id values for free.

    A rebuild over an existing index dir (the periodic full-rebuild
    lifecycle) wipes the old inverted lists and the stream-run
    fingerprint first — stale ``batch_id=N`` dirs from the previous
    run must not survive under new centroids."""
    import shutil
    from pathlib import Path

    from pyspark.sql import functions as F

    from ..operators.knn import _centroid_assign_udf, kmeans_centroids

    spark = bootstrap_df.sparkSession
    for stale in ("lists", "_STREAM_RUN"):
        target = Path(index_dir) / stale
        if target.is_dir():
            shutil.rmtree(target)
        elif target.exists():
            target.unlink()
    centroids = kmeans_centroids(
        bootstrap_df, n_centroids, kmeans_iters=kmeans_iters, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    cent_rows = [
        (i, [float(x) for x in centroids[i]])
        for i in range(centroids.shape[0])
    ]
    spark.createDataFrame(
        cent_rows, ["list_id", "centroid"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(Path(index_dir) / "centroids")
    )
    assign1 = _centroid_assign_udf(centroids, top=1)
    bootstrap_df.select(
        F.col(id_col), F.col(vec_col),
        assign1(F.col(vec_col))[0].alias("list_id"),
    ).filter(F.col("list_id").isNotNull()).write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(
        str(Path(index_dir) / "lists" / "batch_id=-1")
    )


def apply_ivf_append_batch(batch_df: DataFrame, batch_id: int,
                           index_dir: str, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> None:
    """Append one micro-batch to the streaming IVF index: assign each
    vector to its frozen inverted list (broadcast of a KB-sized
    centroid matrix, Arrow-batched matmul — map-only) and write the
    batch under ``lists/batch_id=<id>/list_id=N/``. Retry-idempotent:
    a replayed batch OVERWRITES its own batch_id directory, so the
    index never holds a vector twice (pinned in
    tests/test_streaming.py)."""
    from pathlib import Path

    import numpy as np
    from pyspark.sql import functions as F

    from ..operators.knn import _centroid_assign_udf

    spark = batch_df.sparkSession
    cent = spark.read.parquet(str(Path(index_dir) / "centroids")).collect()
    centroids = np.zeros((len(cent), len(cent[0]["centroid"])))
    for r in cent:
        centroids[r["list_id"]] = np.asarray(r["centroid"])
    assign1 = _centroid_assign_udf(centroids, top=1)
    batch_df.select(
        F.col(id_col), F.col(vec_col),
        assign1(F.col(vec_col))[0].alias("list_id"),
    ).filter(F.col("list_id").isNotNull()).write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(
        str(Path(index_dir) / "lists" / f"batch_id={batch_id}")
    )


def maintain_ivf_index(stream_df: DataFrame, index_dir: str,
                       checkpoint: str, timeout_s: int = 300,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                on_fresh_checkpoint: str = "error"):
    """Drain a vector stream into the streaming IVF index (frozen
    centroids — init_ivf_stream_index must have run). Per-batch cost is
    one map-only assign + one partitioned write of THAT batch; nothing
    scales with accumulated index size. Batch twin: an index built by
    assigning the full corpus under the same centroids probes
    identically (equality pinned in tests/test_streaming.py)."""

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        apply_ivf_append_batch(
            batch_df, batch_id, index_dir, id_col=id_col, vec_col=vec_col
        )

    _drain_foreach_batch(
        stream_df, _body, checkpoint, store_dir=index_dir,
        on_fresh_checkpoint=on_fresh_checkpoint,
        output_mode=None, timeout_s=timeout_s, what="IVF-index",
    )


# ---------------------------------------------------------------------------
# Streaming scatter-statistics maintenance: the incremental twin of the
# exact PC1 pass. The scatter cells (operators/pca.py::scatter_cells)
# are ADDITIVE INTEGERS — per-batch partials merge into the store by
# exact summation, so the maintained statistics (and therefore the
# power-iteration direction computed from them) are BIT-IDENTICAL to
# the one-shot batch pass over the full corpus, in any batch order.
# This is the payoff of the exact-arithmetic design: the operator gets
# a streaming materialized view for free, with equality — not
# approximate agreement — as the test contract.


def maintain_scatter_stats(stream_df: DataFrame, store_dir: str,
                           checkpoint: str, scale: int = 1_000_000,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           timeout_s: int = 300,
                on_fresh_checkpoint: str = "error") -> DataFrame:
    """Maintain the d(d+1)/2 + d scatter cells of a vector stream under
    foreachBatch: each micro-batch contributes its own exact cell
    partials (one map-heavy pass over THAT batch), merged into the
    at-rest store by `union -> groupBy -> sum` over two cell-table-sized
    inputs — cost proportional to d^2, never to accumulated history.
    Exactly-once via the atomic CURRENT-pointer commit of
    ``_maintain_versioned``. Returns the final cells frame (i, j, S,
    nn); feed it to operators/pca.py::pc1_from_cells / project_pc1 for
    the direction and scores."""
    from pyspark.sql import functions as F

    from ..operators.pca import scatter_cells

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        new = scatter_cells(
            batch_df, scale=scale, id_col=id_col, vec_col=vec_col
        )
        if prev is None:
            return new
        return prev.unionByName(new).groupBy("i", "j").agg(
            F.sum("S").cast("decimal(38,0)").alias("S"),
            F.sum("nn").alias("nn"),
        )

    return _maintain_versioned(
        stream_df, store_dir, checkpoint, step, timeout_s=timeout_s,
        on_fresh_checkpoint=on_fresh_checkpoint, what="scatter-stats",
    )
