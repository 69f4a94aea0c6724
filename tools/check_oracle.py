"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry at a given SF and compares it to its
DuckDB ``oracle_sql()`` twin: row count, sorted column names, and exact
cell values (after sorting columns by name and rows by all columns).
Reports max float deviation so any nondeterministic-aggregation risk is
visible even when a tolerant comparison would pass.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
import traceback
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from dynamic_etl_pipeline_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Bound the oracle's memory and give it a spill dir: the sweep runs
    # next to a 32-thread Spark JVM, and DuckDB's default limit (80% of
    # RAM) assumes it owns the host — under concurrent pressure a heavy
    # oracle (corpus_semdedup at sf0.1) can abort with an allocator OOM
    # instead of spilling. With an explicit limit + temp_directory it
    # spills and finishes.
    import tempfile

    spill = tempfile.mkdtemp(prefix="duck_spill_")
    con.execute("SET memory_limit='24GB'")
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _sort_key(v) -> str:
    """Stable, dtype-insensitive representation used only for row
    ordering (arrays are unhashable and numpy reprs differ from Python
    ones; actual comparison still happens on the raw values)."""
    import numpy as np

    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_sort_key(x) for x in list(v)) + "]"
    if isinstance(v, float):
        return repr(v)
    return repr(v)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        keys = pd.DataFrame({c: df[c].map(_sort_key) for c in df.columns})
        order = keys.sort_values(by=list(keys.columns)).index
        df = df.loc[order]
    return df.reset_index(drop=True)


def cells_equal(a, b) -> tuple[bool, float]:
    """Exact equality; returns (equal, float_delta) for diagnostics."""
    import numpy as np

    if isinstance(a, (list, tuple, np.ndarray)) or isinstance(b, (list, tuple, np.ndarray)):
        la, lb = list(a), list(b)
        if len(la) != len(lb):
            return False, math.inf
        worst = 0.0
        for x, y in zip(la, lb):
            eq, delta = cells_equal(x, y)
            if not eq:
                return False, math.inf
            worst = max(worst, delta)
        return True, worst
    if a is None and b is None:
        return True, 0.0
    try:
        if pd.isna(a) and pd.isna(b):
            return True, 0.0
        if pd.isna(a) != pd.isna(b):
            return False, math.inf
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
            return fa == fb, abs(fa - fb)
        except (TypeError, ValueError):
            return False, math.inf
    return a == b, 0.0 if a == b else math.inf


def compare(name: str, spark_df, duck_df) -> tuple[bool, str]:
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return False, f"columns differ: {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return False, f"row count: spark={len(spark_df)} duck={len(duck_df)}"
    s, d = normalize(spark_df), normalize(duck_df)
    max_delta, bad = 0.0, 0
    first_bad = None
    for col in s.columns:
        sv, dv = s[col].tolist(), d[col].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            eq, delta = cells_equal(a, b)
            max_delta = max(max_delta, delta if delta != math.inf else 0)
            if not eq:
                bad += 1
                if first_bad is None:
                    first_bad = f"{col}[{i}]: spark={a!r} duck={b!r}"
    if bad:
        return False, f"{bad} cells differ; first: {first_bad}"
    # Dtype-parity audit: the driver's value hash is representation-
    # sensitive (int 123 vs float 123.0 hash differently), while the
    # cell comparison above is not. A kind mismatch between an integer
    # column on one side and a float column on the other — when neither
    # side has NULLs forcing pandas float coercion — is exactly the
    # DuckDB HUGEINT→float64 class that made window_exclude_current
    # hash-red in round 4 despite being value-exact. Surface it loudly.
    dtype_warns = []
    for col in s.columns:
        ka, kb = s[col].dtype.kind, d[col].dtype.kind
        if ka != kb and {ka, kb} == {"i", "f"}:
            fa = s[col] if ka == "f" else d[col]
            if not fa.isna().any():
                dtype_warns.append(
                    f"{col}: spark={s[col].dtype} duck={d[col].dtype}"
                )
    if dtype_warns:
        return False, "DTYPE mismatch (driver-hash risk): " + "; ".join(dtype_warns)
    note = f"max_float_delta={max_delta:.3g}" if max_delta else "exact"
    return True, note


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    # SPARK_GRAFT_MASTER overrides the master — e.g.
    # local-cluster[2,2,4096] for the multi-process sanity pass
    # (local[N] shares one JVM with the driver, which can mask
    # driver-side-state assumptions: temp-dir visibility, broadcast
    # lifecycle, Python-worker import paths).
    import os

    spark = get_spark(master=os.environ.get("SPARK_GRAFT_MASTER"))
    con = duck_connection(sf_dir)
    qs, oracles = e.queries(), e.oracle_sql()
    failures, rows_only = [], []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: spark side raised")
            traceback.print_exc(limit=3)
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb side raised: {ex}")
            continue
        ok, msg = compare(name, sdf, ddf)
        status = "ok  " if ok else "FAIL"
        print(f"{status}  {name}: {len(sdf)} rows, {msg} [{time.time()-t0:.1f}s]")
        if not ok:
            failures.append(name)
    from dynamic_etl_pipeline_spark.queries.registry import BASELINES

    tagged = [n for n in rows_only if n in BASELINES]
    note = (
        f" (all {len(tagged)} are registry-tagged engine-specific "
        "baselines with exact-oracled twins)"
        if rows_only and len(tagged) == len(rows_only) else ""
    )
    print(f"\n{n_run - len(failures)}/{n_run} pass; "
          f"rows-only: {len(rows_only)}{note}")
    if failures:
        print("failures:", ", ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
