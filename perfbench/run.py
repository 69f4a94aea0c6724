"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. The run sets up (Spark session start,
then several repetitions of seeded input generation plus an untimed
warm-up pass), measures whole passes of the workload's op sequence
until ``--seconds`` have elapsed, checks every output, and prints as
its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics (see perfbench/README.md). The line before it records the
run's facts: seed, cores, heap, versions and host steal share.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("etl_ingest", "curation_dedup")
SETUP_REPS = 3
CPUS = 4
HEAP = "3g"

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
    "upsert_p50_s": "s",
    "read_p50_s": "s",
    "store_bytes_per_input_byte": "ratio",
}


def _environment(work: Path, trace: bool) -> None:
    """Everything the session and its Python workers need, set before
    the JVM starts: the repository on the workers' import path, a heap
    that fits the host, and every scratch directory inside ``work``."""
    for d in ("local", "tmp", "events", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap (no resizing pauses) and no hsperfdata file,
        # which the JVM would otherwise write under /tmp
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        confs |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": str(work / "events"),
        }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


def _log(ops):
    """One stderr line per pass: each op's kind, seconds and check."""
    print(" ".join(f"{o.kind}{'' if o.ok else '!'}={o.secs:.2f}" for o in ops),
          file=sys.stderr, flush=True)
    return ops


def _wait_for_exit(proc) -> None:
    """The JVM exits when its stdin closes; wait for it, so that no
    process outlives the run. The Py4J connections are closed first, so
    that a Java object Python frees later does not send its release to
    a half-closed socket."""
    from pyspark import SparkContext

    SparkContext._gateway.close()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _passes(wl, spark, seconds: float, traced: bool) -> tuple[list, int]:
    """Whole passes until ``seconds`` have elapsed. A pass that raises
    ends the phase and counts as one failed op."""
    ops, t0 = [], time.perf_counter()
    while True:
        try:
            ops += _log(wl.pass_ops(traced=traced))
        except Exception:  # noqa: BLE001 - reported as a failed op
            traceback.print_exc()
            return ops, 1
        if time.perf_counter() - t0 >= seconds:
            return ops, 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "dynamic_etl_pipeline_spark").is_dir():
        print("perfbench: run from a checkout of the repository "
              "(dynamic_etl_pipeline_spark/ not found)", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    try:
        _environment(work, bool(args.trace))
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_run").rmdir()
        except OSError:
            pass


def _run(args, work: Path) -> int:
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS as CLASSES, median
    from dynamic_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    jvm = spark.sparkContext._gateway.proc
    try:
        session_s = time.perf_counter() - T_START
        tracer = tr.Tracer(spark, work / "events") if args.trace else tr.NullTracer()
        wl = CLASSES[args.workload](spark, work, args.seed, tracer)
        # set-up: input generation repeated (its median is reported),
        # then untimed warm-up passes over the same op sequence
        preps = []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            shutil.rmtree(work / f"inputs-{r - 1}", ignore_errors=True)
            wl.prepare(work / f"inputs-{r}")
            preps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = []
        for _ in range(wl.warm_passes):
            warm += _log(wl.warm_up())
        warm_s = time.perf_counter() - t0
        warm_ok = all(op.ok for op in warm)

        steal0 = tr.cpu_times()
        tracer.phase = "plain"
        ops, crashed, traced_ops = [], 0, []
        if not args.trace:
            ops, crashed = _passes(wl, spark, args.seconds, traced=False)
        elif wl.plain_half:
            ops, crashed = _passes(wl, spark, args.seconds / 2, traced=False)
        if args.trace and not crashed:
            tracer.phase = "traced"
            traced_ops, crashed = _passes(wl, spark, args.seconds / 2, traced=True)
        steal = tr.steal_share(steal0, tr.cpu_times())
        failures = wl.final_checks()
        all_ops = ops + traced_ops
        n_failed = sum(not op.ok for op in all_ops) + crashed
        if failures or not warm_ok:
            n_failed = len(all_ops) + crashed
        e2e = {"setup_s": session_s + median(preps) + warm_s,
               **wl.end_to_end(ops or traced_ops)}
        facts = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "spark_version": spark.version,
            "java_version": spark._jvm.System.getProperty("java.version"),
            "steal_share": round(steal, 4),
            "session_start_s": round(session_s, 3),
            "input_generation_s": [round(x, 3) for x in preps],
            "warm_up_s": round(warm_s, 3),
            "ops": len(ops), "traced_ops": len(traced_ops),
            "check_failures": failures,
            **wl.facts,
        }
        if args.trace:
            from perfbench.layers import per_layer_metrics

            rss = tr.peak_rss_mb([tr.jvm_pid(spark), os.getpid()])
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    finally:
        spark.stop()
        _wait_for_exit(jvm)
    if args.trace:
        tracer.attribute()
        metrics = per_layer_metrics(wl, tracer, ops, traced_ops, rss)
    print(json.dumps({"run": facts, "end_to_end": e2e}))
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": len(all_ops) + crashed,
        "failed": n_failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
