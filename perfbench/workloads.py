"""The closed-loop workloads. Each drives only the package's public
functions.

A workload is prepared once per set-up repetition (seeded inputs into
a fresh directory), then runs ops one after another with one client:
the next op starts when the previous one has returned. Every op's
outputs are checked outside its timing; a failed check fails the op.

JVM and Python garbage is collected before every op, outside its
timing. Untraced ops time the public calls as a user makes them.
Traced ops (``--trace 1``) run the same work as a chain of layer
calls, forcing each layer's output frame into a noop write so that a
layer's time is the difference between consecutive cumulative
prefixes.
"""

from __future__ import annotations

import gc
import hashlib
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import gen


@dataclass
class Op:
    kind: str                  # the sample this op contributes to
    secs: float
    items: int = 0             # records / docs / events / queries completed
    ok: bool = True
    chain_s: float = 0.0       # traced layer chain run before the op, if apart


def force(df: DataFrame) -> None:
    """Run a frame to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def settle(spark) -> None:
    """Collect garbage on both sides before an op, outside its timing."""
    spark._jvm.System.gc()
    gc.collect()


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def dir_files(path: Path, suffix: str = ".parquet") -> int:
    return sum(1 for p in Path(path).rglob(f"*{suffix}") if p.is_file())


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Workload:
    name = ""
    warm_passes = 1
    # whether a traced run first times plain passes, for the per-op
    # Spark counters and the chain overhead
    plain_half = True

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.layer_s: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.store_ratio: list[float] = []     # one per timed pass
        self.facts: dict = {}
        self.passes = self.traced_passes = 0

    # overridden ------------------------------------------------------------
    def prepare(self, rep_dir: Path) -> None:
        raise NotImplementedError

    def pass_ops(self, traced: bool) -> list[Op]:
        """One pass of the op sequence; returns its op records."""
        raise NotImplementedError

    def final_checks(self) -> list[str]:
        """Checks run once after the timed phase; returns failures."""
        return []

    def warm_up(self) -> list[Op]:
        """One untimed pass before the timed phase."""
        ops = self.pass_ops(traced=False)
        self.store_ratio.clear()
        return ops

    def end_to_end(self, ops: list[Op]) -> dict[str, float]:
        raise NotImplementedError

    # shared ------------------------------------------------------------------
    def timed(self, kind: str, fn, items: int = 0) -> tuple[Op, object]:
        settle(self.spark)
        t0 = time.perf_counter()
        out = fn()
        return Op(kind, time.perf_counter() - t0, items), out

    def chain(self, steps) -> DataFrame:
        """Traced layer chain: ``steps`` is a list of (layer, fn) where
        fn maps the previous frame to the next. Records each layer's
        prefix-difference time in ``self.layer_s``."""
        prev_force, df = 0.0, None
        for layer, fn in steps:
            with self.tracer.span(layer, layer) as call:
                df = fn(df)
            with self.tracer.span("force:" + layer, layer) as f:
                force(df)
            self.layer_s[layer].append(call.dur + f.dur - prev_force)
            prev_force = f.dur
        return df

    def span(self, name: str, layer: str = ""):
        return self.tracer.span(name, layer or name)



# ---------------------------------------------------------------------------
# etl_ingest


class EtlIngest(Workload):
    """The reference's own job: a seeded six-format upload sequence into
    one growing record store, with keyed upserts and full scans."""

    name = "etl_ingest"
    N_UPLOADS, TABULAR_ROWS = 12, 3_000
    # a traced pass makes the plain pass's pipeline calls, each in its
    # own span after its layer chain, so it needs no plain half
    plain_half = False

    def prepare(self, rep_dir: Path) -> None:
        self.uploads = gen.write_uploads(
            rep_dir / "uploads", self.seed, self.N_UPLOADS, self.TABULAR_ROWS,
            doc_every=3, doc_files=12)
        # the warm-up runs every kind of op in the sequence (each format,
        # a drift, upserts, scans) on a tenth of the rows: the cold cost is
        # per code path, not per row
        self.warm_uploads = gen.write_uploads(
            rep_dir / "warm", self.seed, 8, self.TABULAR_ROWS // 10,
            doc_every=2, doc_files=2)
        self.facts = {
            "uploads_per_pass": sum(u.kind == "ingest" for u in self.uploads),
            "upserts_per_pass": sum(u.kind == "upsert" for u in self.uploads),
            "scans_per_pass": sum(u.kind == "scan" for u in self.uploads),
            "tabular_rows": self.TABULAR_ROWS,
            "schema_versions_per_pass": gen.expected_versions(self.uploads)[-1],
        }

    def warm_up(self) -> list[Op]:
        ops = self.pass_ops(traced=False, uploads=self.warm_uploads)
        self.store_ratio.clear()
        return ops

    def pass_ops(self, traced: bool, uploads: list | None = None) -> list[Op]:
        from dynamic_etl_pipeline_spark.pipeline import EtlPipeline

        uploads = uploads or self.uploads
        versions = gen.expected_versions(uploads)
        self.passes += 1
        self.traced_passes += traced
        store = self.work / f"store-{self.passes}"
        shutil.rmtree(self.work / f"store-{self.passes - 1}", ignore_errors=True)
        pipe = EtlPipeline(self.spark, str(store))
        # traced ops replay each upload's layers against a registry that
        # sees the same schema sequence as the store's own
        self._trace_registry = self.work / f"trace-registry-{self.passes}"
        shutil.rmtree(self.work / f"trace-registry-{self.passes - 1}", ignore_errors=True)
        ops, j, stored_rows, keys = [], 0, 0, set()
        input_bytes = 0
        for u in uploads:
            self.tracer.next_op()
            if u.kind == "scan":
                with self.span("pipeline.records", "pipeline.read"):
                    op, _ = self.timed("scan", lambda: force(pipe.records()))
                if traced:
                    self.layer_s["pipeline.read"].append(op.secs)
                ops.append(op)
                continue
            chain_s = 0.0
            if traced:
                t0 = time.perf_counter()
                self._trace_layers(u)
                chain_s = time.perf_counter() - t0
            call = (lambda u=u: pipe.ingest(u.path, format=u.fmt)) if u.kind == "ingest" else (
                lambda u=u: pipe.upsert(u.path, keys=["id"]))
            layer = "pipeline.append" if u.kind == "ingest" else "pipeline.upsert"
            with self.span(f"pipeline.{u.kind}:{u.fmt}", layer) as s:
                op, rep = self.timed(u.kind, call, u.n_records)
            if traced:
                # append/upsert = the whole call minus its forced quality prefix
                self.layer_s[layer].append(s.dur - self._last_prefix)
                op.chain_s = chain_s
            new_keys = set(u.keys) - keys
            stored_rows += u.n_records if u.kind == "ingest" else len(new_keys)
            keys |= set(u.keys)
            input_bytes += u.input_bytes
            op.ok = (rep.n_records == u.n_records
                     and rep.n_with_issues == u.n_with_issues
                     and rep.n_good == u.n_records - u.n_with_issues
                     and rep.schema_version == versions[j])
            if traced:
                self.counts["quality.records_with_issues"].append(rep.n_with_issues)
            j += 1
            ops.append(op)
        # store state after the pass: rows, keys, versions, footprint
        df = pipe.records()
        got = df.agg(F.count(F.lit(1)).alias("n"),
                     F.count("id").alias("n_id"),
                     F.countDistinct("id").alias("d_id")).first()
        n_versions = pipe.registry.latest()[0]
        if not (got["n"] == stored_rows and got["n_id"] == len(keys)
                and got["d_id"] == len(keys) and n_versions == versions[-1]):
            ops[-1].ok = False
        self.store_ratio.append(dir_bytes(store) / input_bytes)
        if traced:
            self.counts["schema_registry.versions"].append(n_versions)
            self.counts["pipeline.files_written"].append(dir_files(store))
            self.counts["pipeline.store_bytes"].append(dir_bytes(store))
        return ops

    def _trace_layers(self, u: gen.Upload) -> None:
        """read -> extract -> register -> validate/lineage, each forced;
        the registry is the pass's scratch one, so the store's own
        catalog is not touched."""
        from dynamic_etl_pipeline_spark.functions.extract import extract_patterns
        from dynamic_etl_pipeline_spark.ingest import read_any
        from dynamic_etl_pipeline_spark.quality import validate, with_lineage
        from dynamic_etl_pipeline_spark.schema_registry import SchemaRegistry

        registry = SchemaRegistry(self.spark, str(self._trace_registry))
        version = []

        def extract(df):
            if "content" in df.columns:
                return df.withColumn("_extracted_patterns", extract_patterns("content"))
            return df

        def register(df):
            version.append(registry.register_df(df)[0])
            return df

        def check(df):
            return with_lineage(validate(df, registry.latest()[1]), version[0])

        self.chain([
            (f"ingest.read.{u.fmt}", lambda _: read_any(self.spark, u.path, format=u.fmt)),
            ("functions.extract", extract),
            ("schema_registry.register", register),
            ("quality.validate", check),
        ])
        self._last_prefix = self.tracer.spans[-1].dur

    def end_to_end(self, ops: list[Op]) -> dict[str, float]:
        by = defaultdict(list)
        for op in ops:
            by[op.kind].append(op.secs)
        work = sum(op.items for op in ops)
        return {
            "throughput_per_s": work / sum(op.secs for op in ops),
            "op_p50_s": median(by["ingest"]),
            "upsert_p50_s": median(by["upsert"]),
            "read_p50_s": median(by["scan"]),
            "store_bytes_per_input_byte": median(self.store_ratio),
        }


# ---------------------------------------------------------------------------
# curation_dedup


class CurationDedup(Workload):
    """Quality gate -> exact dedup -> MinHash-LSH near-dup pairs ->
    connected components -> keep the longest document per cluster.

    One op is one full pass, whose kept set is written to a staging
    parquet directory. As a curation job's caller keeps its output, the
    pass's kept set is then upserted once into a keyed result store and
    the store is scanned once, each timed on its own (``upsert_p50_s``,
    ``read_p50_s``)."""

    name = "curation_dedup"
    N_BASE = 80
    # after one warm-up pass the next is still about 10% slower
    warm_passes = 2

    def prepare(self, rep_dir: Path) -> None:
        self.corpus = gen.write_corpus(rep_dir / "corpus", self.seed, self.N_BASE)
        self.docs_path = self.corpus.path
        self.must_keep, self.may_keep = gen.expected_kept(self.corpus)
        self.kept_hash = None
        self.facts = {"docs": self.corpus.n_docs, **self.corpus.shares,
                      "planted_exact_copies": len(self.corpus.copy_of),
                      "expected_kept": len(self.must_keep),
                      "lsh_uncertain": len(self.may_keep)}
        self.store = self.work / "result-store"
        shutil.rmtree(self.store, ignore_errors=True)

    def input_bytes(self) -> int:
        return dir_bytes(Path(self.docs_path))

    def pass_ops(self, traced: bool) -> list[Op]:
        self.passes += 1
        self.traced_passes += traced
        self.tracer.next_op()
        staging = self.work / f"result-{self.passes}"
        settle(self.spark)
        with self.span(self.name, "op"):
            t0 = time.perf_counter()
            items = self.run_pass(staging, traced)
            op = Op("pass", time.perf_counter() - t0, items)
        op.ok = self.check_pass(staging)
        result = self.spark.read.parquet(str(staging))
        with self.span("result.upsert", "operators.merge"):
            upsert, _ = self.timed("upsert", lambda: self.upsert_result(result))
        with self.span("result.scan", "result.read"):
            scan, _ = self.timed(
                "scan", lambda: force(self.spark.read.parquet(str(self.store))))
        self.store_ratio.append(dir_bytes(self.store) / self.input_bytes())
        shutil.rmtree(self.work / f"result-{self.passes - 1}", ignore_errors=True)
        return [op, upsert, scan]

    def upsert_result(self, kept: DataFrame) -> None:
        """Merge a pass's kept set into the result store, keyed on
        doc_id, and swap the rewritten table into place."""
        from dynamic_etl_pipeline_spark.operators.merge import merge_upsert

        if not self.store.exists():
            kept.write.parquet(str(self.store))
            return
        tmp = self.store.with_name(self.store.name + ".next")
        merged = merge_upsert(self.spark.read.parquet(str(self.store)), kept, ["doc_id"])
        merged.write.mode("overwrite").parquet(str(tmp))
        shutil.rmtree(self.store)
        tmp.rename(self.store)

    def end_to_end(self, ops: list[Op]) -> dict[str, float]:
        by = defaultdict(list)
        for op in ops:
            by[op.kind].append(op.secs)
        return {
            "throughput_per_s": sum(o.items for o in ops) / sum(by["pass"]),
            "op_p50_s": median(by["pass"]),
            "upsert_p50_s": median(by["upsert"]),
            "read_p50_s": median(by["scan"]),
            "store_bytes_per_input_byte": median(self.store_ratio),
        }

    def _steps(self):
        from dynamic_etl_pipeline_spark.materialize import materialize
        from dynamic_etl_pipeline_spark.operators.dedup import (
            connected_components, dedup_exact, minhash_lsh_pairs)

        docs = self.spark.read.parquet(self.docs_path)
        state = {}

        def quality(_):
            return _gated(docs)

        def exact(df):
            # three consumers read the exact-dedup survivors (the LSH
            # pairs and keep-best twice), so the caller checkpoints them
            # once with the package's materialize
            state["exact"] = materialize(
                dedup_exact(df, subset=["text"], keep_order_col="doc_id"))
            return state["exact"]

        def pairs(df):
            state["pairs"] = minhash_lsh_pairs(df, "doc_id", "text")
            return state["pairs"]

        def components(df):
            return connected_components(df, "id_a", "id_b")

        def keep_best(comp):
            # no package function keeps the best document of each
            # component of an arbitrary frame, so this is the caller's
            # plan, with dedup_keep_best_exact's order: longest, then
            # smallest doc_id
            ex = state["exact"]
            w = Window.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("id"))
            dropped = (comp.join(ex.select(F.col("doc_id").alias("id"), "n_chars"), "id")
                       .withColumn("_rn", F.row_number().over(w))
                       .filter("_rn > 1").select(F.col("id").alias("doc_id")))
            return ex.join(dropped, "doc_id", "left_anti")

        return [("queries.curation.quality", quality),
                ("operators.dedup.exact", exact),
                ("operators.dedup.lsh_pairs", pairs),
                ("operators.dedup.components", components),
                ("operators.dedup.keep_best", keep_best)], state

    def run_pass(self, staging: Path, traced: bool) -> int:
        steps, state = self._steps()
        if traced:
            self._trace_signatures()
            kept = self.chain(steps)
            self._trace_pair_counts(state)
        else:
            kept = None
            for _, fn in steps:
                kept = fn(kept)
        kept.write.parquet(str(staging))
        return self.corpus.n_docs

    def _trace_signatures(self) -> None:
        from dynamic_etl_pipeline_spark.operators.dedup import minhash_signatures

        docs = self.spark.read.parquet(self.docs_path)
        with self.span("force:operators.dedup.signatures", "operators.dedup.signatures") as s:
            force(minhash_signatures(docs, "doc_id", "text"))
        self.layer_s["operators.dedup.signatures"].append(s.dur)

    def _trace_pair_counts(self, state) -> None:
        """Candidate pairs vs verified pairs, and the label-propagation
        rounds the verified pairs need. The candidates are what
        ``minhash_lsh_pairs`` returns with a threshold of 0: its own
        band join, with its identical-signature collapse, posting cap
        and pair expansion, before the agreement filter."""
        from dynamic_etl_pipeline_spark.operators.dedup import minhash_lsh_pairs

        with self.span("count:pairs", "count"):
            cand = minhash_lsh_pairs(state["exact"], "doc_id", "text",
                                     threshold=0.0).count()
            edges = [(r[0], r[1]) for r in state["pairs"].select("id_a", "id_b").collect()]
        self.counts["operators.dedup.candidate_pairs"].append(cand)
        self.counts["operators.dedup.verified_pairs"].append(len(edges))
        self.counts["operators.dedup.pair_yield"].append(len(edges) / cand if cand else 0.0)
        self.counts["operators.dedup.cc_rounds"].append(_lp_rounds(edges))

    def check_pass(self, staging: Path) -> bool:
        """The kept set holds every doc ``gen.expected_kept`` says it
        must and nothing it may not, with no doc_id twice, and hashes
        the same on every pass of the run."""
        ids = sorted(r[0] for r in self.spark.read.parquet(str(staging))
                     .select("doc_id").collect())
        digest = hashlib.sha256(np.asarray(ids, dtype="int64").tobytes()).hexdigest()
        if self.kept_hash is None:
            self.kept_hash = digest
        kept = set(ids)
        return (digest == self.kept_hash and len(ids) == len(kept)
                and self.must_keep <= kept <= self.must_keep | self.may_keep)

    def final_checks(self) -> list[str]:
        """The gate keeps exactly the docs the Gopher rules keep, and
        dedup_exact keeps exactly the smallest doc_id of each distinct
        gated text."""
        from dynamic_etl_pipeline_spark.operators.dedup import dedup_exact

        texts = self.corpus.texts
        want_gated = {i for i, t in texts.items() if gen.gopher_keep(t)}
        want_exact = {}
        for i in sorted(want_gated):
            want_exact.setdefault(texts[i], i)
        gated = _gated(self.spark.read.parquet(self.docs_path))
        got_gated = {r[0] for r in gated.select("doc_id").collect()}
        got_exact = {r[0] for r in dedup_exact(gated, subset=["text"], keep_order_col="doc_id")
                     .select("doc_id").collect()}
        self.facts["kept_set_sha256"] = self.kept_hash
        failures = []
        if got_gated != want_gated:
            failures.append("gopher gate survivors")
        if got_exact != set(want_exact.values()):
            failures.append("dedup_exact survivors")
        return failures


def _gated(docs: DataFrame) -> DataFrame:
    """(doc_id, text, n_chars) of the documents that pass the Gopher
    quality gate, filtered on its ``keep`` flag."""
    from dynamic_etl_pipeline_spark.queries.curation import gopher_signals

    return (docs.join(gopher_signals(docs).filter("keep").select("doc_id"), "doc_id")
            .select("doc_id", "text", "n_chars"))


def _lp_rounds(edges: list[tuple[int, int]], cap: int = 20) -> int:
    """Rounds min-label propagation takes on this edge list: one per
    hop from the farthest node to its component's minimum, plus the
    round that observes no change."""
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    seen, worst = set(), 0
    for root in sorted(adj):
        if root in seen:
            continue
        dist, frontier = {root: 0}, [root]
        while frontier:
            nxt = []
            for v in frontier:
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        nxt.append(w)
            frontier = nxt
        seen |= set(dist)
        worst = max(worst, max(dist.values()))
    return min(worst + 1, cap) if adj else 0


WORKLOADS = {w.name: w for w in (EtlIngest, CurationDedup)}
