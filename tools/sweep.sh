#!/bin/sh
# Full three-scale oracle sweep: every queries() entry vs its DuckDB
# oracle at sf0.001 / sf0.01 / sf0.1. The driver's per-round
# CORRECTNESS_r*.json samples ~50 of the registered queries; this is
# the committed, reproducible full-coverage artifact the COVERAGE.md
# header refers to (it runs from its own checkout's root; ~15 min
# for all three).
#
# Usage: tools/sweep.sh [out_file]        (default SWEEP.txt)
set -e
cd "$(dirname "$0")/.."
out="${1:-SWEEP.txt}"
: > "$out"
for sf in sf0.001 sf0.01 sf0.1; do
    echo "=== $sf ===" | tee -a "$out"
    python tools/check_oracle.py "/root/testdata/$sf" 2>/dev/null \
        | grep -E "(ok|FAIL|ERR|rows)[[:space:]]+|pass" | tee -a "$out"
done
echo "sweep complete: $out"
