"""Structured Streaming surface (SURVEY §2.9 — tier [D]; the reference
is strictly one-shot batch, app.py:296).

Design: every windowed aggregation here is the SAME logical plan as its
batch twin in queries/events.py, run through the micro-batch engine
with an event-time watermark. Verification exploits that equivalence:
an availableNow replay of the fixture in complete output mode must
produce bit-identical results to the batch query, so the streaming path
gets full DuckDB oracles instead of rows-only checks.

At deployment scale the memory sink used for verification is replaced
by ``foreach_batch_parquet`` (idempotent per-batch parquet/Delta
append) — the memory sink is a driver-bound harness, never the 100 TB
path.
"""

from .source import stream_events  # noqa: F401
from .rollups import (  # noqa: F401
    dedup_within_watermark,
    session_counts,
    sliding_avg,
    tumbling_rollup,
    user_running_totals,
)
from .sinks import (  # noqa: F401
    FreshCheckpointError,
    foreach_batch_parquet,
    run_available_now_to_memory,
)
