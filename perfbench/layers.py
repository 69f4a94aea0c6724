"""Per-layer metrics of a traced run (``--trace 1``).

The traced run measures in two halves: plain ops first (the same
calls as the untraced run, each op in its own job group), then traced
ops (the layer chain with forced prefixes). Layer times come from the
traced half; Spark counters per op come from the plain half, so the
forced prefixes do not inflate them. A workload whose traced op runs
its layer chain apart from the plain call (``plain_half = False``)
skips the plain half: its plain-op counters and times come from the
plain calls' own spans in the traced half. Every name in
``PER_LAYER`` is reported on every workload, 0 where the workload does
not call that layer.
"""

from __future__ import annotations

from collections import defaultdict

from .trace import PY_FROM, PY_TIME, PY_TO
from .workloads import median

FORMATS = ("csv", "json", "txt", "xml", "pdf", "docx")
MODULES = ("ingest", "functions", "schema_registry", "quality", "pipeline",
           "operators", "queries")

# name -> (unit, better)
PER_LAYER = {
    **{f"ingest.read_s.{f}": ("s", "lower") for f in FORMATS},
    "ingest.python_bytes": ("bytes", "lower"),
    "functions.extract_s": ("s", "lower"),
    "schema_registry.register_s": ("s", "lower"),
    "schema_registry.versions": ("count", "lower"),
    "quality.validate_s": ("s", "lower"),
    "quality.records_with_issues": ("count", "lower"),
    "pipeline.append_s": ("s", "lower"),
    "pipeline.files_written": ("count", "lower"),
    "pipeline.store_bytes": ("bytes", "lower"),
    "pipeline.upsert_s": ("s", "lower"),
    "pipeline.read_s": ("s", "lower"),
    "queries.curation.quality_s": ("s", "lower"),
    "operators.dedup.exact_s": ("s", "lower"),
    "operators.dedup.signatures_s": ("s", "lower"),
    "operators.dedup.lsh_pairs_s": ("s", "lower"),
    "operators.dedup.components_s": ("s", "lower"),
    "operators.dedup.keep_best_s": ("s", "lower"),
    "operators.dedup.candidate_pairs": ("count", "lower"),
    "operators.dedup.verified_pairs": ("count", "higher"),
    "operators.dedup.pair_yield": ("ratio", "higher"),
    "operators.dedup.cc_rounds": ("count", "lower"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.all_jobs_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.python_worker_s": ("s", "lower"),
    "spark.python_bytes_to": ("bytes", "lower"),
    "spark.python_bytes_from": ("bytes", "lower"),
    **{f"self_s.{m}": ("s", "lower") for m in MODULES},
    "run.peak_rss_mb": ("MB", "lower"),
    "trace.chain_overhead_s": ("s", "lower"),
}

# span layers whose time is the op a user waits for
_OP_LAYERS = {"op", "pipeline.append", "pipeline.upsert", "pipeline.read"}

# layer name in the workloads -> metric name
_LAYER_METRIC = {
    **{f"ingest.read.{f}": f"ingest.read_s.{f}" for f in FORMATS},
    "functions.extract": "functions.extract_s",
    "schema_registry.register": "schema_registry.register_s",
    "quality.validate": "quality.validate_s",
    "pipeline.append": "pipeline.append_s",
    "pipeline.upsert": "pipeline.upsert_s",
    "pipeline.read": "pipeline.read_s",
    "queries.curation.quality": "queries.curation.quality_s",
    "operators.dedup.exact": "operators.dedup.exact_s",
    "operators.dedup.signatures": "operators.dedup.signatures_s",
    "operators.dedup.lsh_pairs": "operators.dedup.lsh_pairs_s",
    "operators.dedup.components": "operators.dedup.components_s",
    "operators.dedup.keep_best": "operators.dedup.keep_best_s",
}


def per_layer_metrics(wl, tracer, plain_ops, traced_ops, rss_mb: float) -> dict:
    out = {name: 0.0 for name in PER_LAYER}
    for layer, secs in wl.layer_s.items():
        out[_LAYER_METRIC[layer]] = median(secs)
    for name, vals in wl.counts.items():
        out[name] = median(vals)

    traced_passes = max(1, wl.traced_passes)
    spans = tracer.spans
    traced = [s for s in spans if s.phase == "traced"]
    out["ingest.python_bytes"] = sum(
        s.counters[PY_TO] + s.counters[PY_FROM] for s in traced
        if s.layer.startswith("ingest.read")) / traced_passes
    for m in MODULES:
        out[f"self_s.{m}"] = sum(
            tracer.self_time(s) for s in traced
            if s.layer.split(".")[0] == m) / traced_passes

    # eager jobs: fired inside the layer calls themselves (the chain's
    # call spans are named after their layer), before any forced action
    eager = defaultdict(float)
    for s in traced:
        if s.name == s.layer and s.layer in _LAYER_METRIC:
            eager[s.op] += s.counters["jobs"]
    out["spark.jobs_per_op"] = median(eager.values())

    plain_phase = "plain" if plain_ops else "traced"
    per_op = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s.phase == plain_phase and s.parent is None and s.layer in _OP_LAYERS:
            for k, v in s.counters.items():
                per_op[s.op][k] += v
    ops = list(per_op.values())
    for name, key, scale in (
        ("spark.all_jobs_per_op", "jobs", 1),
        ("spark.tasks_per_op", "tasks", 1),
        ("spark.shuffle_write_bytes", "shuffle_write_bytes", 1),
        ("spark.spill_bytes", "spill_bytes", 1),
        ("spark.python_worker_s", PY_TIME, 1e-3),
        ("spark.python_bytes_to", PY_TO, 1),
        ("spark.python_bytes_from", PY_FROM, 1),
    ):
        out[name] = median(o[key] * scale for o in ops)

    kind = "ingest" if wl.name == "etl_ingest" else "pass"
    # the event log and job groups are on for both figures, so this is
    # the cost of the forced-prefix layer chain, not of the event log
    out["trace.chain_overhead_s"] = (
        median(o.secs + o.chain_s for o in traced_ops if o.kind == kind)
        - median(o.secs for o in plain_ops or traced_ops if o.kind == kind))
    out["run.peak_rss_mb"] = rss_mb
    return {k: {"value": float(v), "unit": PER_LAYER[k][0]} for k, v in out.items()}
