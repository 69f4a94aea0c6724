"""Alternating-session A/B of headline queries between two git
revisions.

Cross-round bench deltas are noise-limited on a drifting host, so this
tool checks both revisions out into temp worktrees and runs the
queries in ALTERNATING subprocess sessions (A B A B ...), so slow host
drift lands on both revisions equally. Per revision it reports the
per-query MEDIAN of the per-session best-of-N, the A/B ratio and the
totals over the queries both revisions define.

By default it runs the whole bench.HEADLINE set, the round-level
regression gate. ``--queries a,b`` narrows it to named movers: more
sessions on fewer queries give a per-query median that resolves a
1.2-1.3x question without paying session wall-clock for the rest.

The per-session runner is injected via stdin (python - <<script) with
cwd at the worktree, so it needs nothing to exist at the old revision
beyond the package itself.

Usage:
  python tools/bench_ab_focus.py REV_A [REV_B] [--queries a,b]
      [--sessions 5] [--runs 3] [--sf-dir /root/testdata/sf0.1]
      [--out BENCH_AB_FOCUS_rNN.json]
REV_B defaults to the current working tree (run in place, uncommitted
changes included). Output: one JSON line to stdout (+ optional file).
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

RUNNER = r'''
import json, sys, time
sys.path.insert(0, ".")
names = json.loads(sys.argv[1]); sf_dir = sys.argv[2]; runs = int(sys.argv[3])
from dynamic_etl_pipeline_spark.session import get_spark
from dynamic_etl_pipeline_spark.queries import QUERIES
names = [n for n in names if n in QUERIES]  # older revisions lack some
from pyspark.sql import functions as F
spark = get_spark("ab-focus")
spark.range(64).repartition(32).select(
    F.pandas_udf(lambda s: s, "long")("id")
).write.format("noop").mode("overwrite").save()
for n in names:  # warm pass: JVM codegen + parquet footers, unmeasured
    QUERIES[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
out = {}
for n in names:
    ts = []
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        QUERIES[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    out[n] = round(min(ts), 3)
print("ABFOCUS " + json.dumps(out))
'''


def _run_session(cwd: str, names: list[str], sf_dir: str,
                 runs: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, "-", json.dumps(names), sf_dir, str(runs)],
        cwd=cwd, input=RUNNER, capture_output=True, text=True, timeout=3600,
        env=dict(os.environ),
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        raise RuntimeError(f"runner failed in {cwd}")
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("ABFOCUS ")][-1]
    return json.loads(line[len("ABFOCUS "):])


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("rev_a")
    p.add_argument("rev_b", nargs="?", default=None)
    p.add_argument("--queries", default=None,
                   help="comma-separated names (default: bench.HEADLINE)")
    p.add_argument("--sessions", type=int, default=5)
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    p.add_argument("--out", default=None)
    a = p.parse_args()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if a.queries:
        names = a.queries.split(",")
    else:
        sys.path.insert(0, repo)
        from bench import HEADLINE
        names = HEADLINE

    wts: list[str] = []

    def worktree(rev: str) -> str:
        wt = tempfile.mkdtemp(prefix=f"ab_focus_{rev[:8]}_")
        subprocess.run(["git", "worktree", "add", "--detach", wt, rev],
                       cwd=repo, check=True, capture_output=True)
        wts.append(wt)
        return wt

    wt_a = worktree(a.rev_a)
    wt_b = worktree(a.rev_b) if a.rev_b else repo
    try:
        a_runs: list[dict[str, float]] = []
        b_runs: list[dict[str, float]] = []
        for s in range(a.sessions):
            sys.stderr.write(f"session {s + 1}/{a.sessions} A ({a.rev_a})\n")
            a_runs.append(_run_session(wt_a, names, a.sf_dir, a.runs))
            sys.stderr.write(f"session {s + 1}/{a.sessions} B "
                             f"({a.rev_b or 'worktree'})\n")
            b_runs.append(_run_session(wt_b, names, a.sf_dir, a.runs))
        common = [q for q in names
                  if all(q in r for r in a_runs + b_runs)]
        a_med = {q: round(_median([r[q] for r in a_runs]), 3)
                 for q in common}
        b_med = {q: round(_median([r[q] for r in b_runs]), 3)
                 for q in common}
        result = {
            "rev_a": a.rev_a, "rev_b": a.rev_b or "worktree",
            "sessions": a.sessions, "runs_per_session": a.runs,
            "sf_dir": a.sf_dir, "queries": common,
            "a_sessions": a_runs, "b_sessions": b_runs,
            "a_median": a_med, "b_median": b_med,
            "b_over_a": {q: round(b_med[q] / a_med[q], 3)
                         if a_med[q] else None for q in common},
            "total_a": round(sum(a_med.values()), 3),
            "total_b": round(sum(b_med.values()), 3),
        }
        line = json.dumps(result)
        print(line)
        if a.out:
            with open(os.path.join(repo, a.out), "w") as f:
                json.dump(result, f, indent=1)
    finally:
        for wt in wts:
            subprocess.run(["git", "worktree", "remove", "--force", wt],
                           cwd=repo, capture_output=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
