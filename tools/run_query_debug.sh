#!/bin/bash
# standalone_bench.sh variant that KEEPS stderr (Spark logs + fatal
# errors) — for diagnosing a query that dies without a usable message.
# Usage: tools/run_query_debug.sh <query> [stderr_file]
set -u
cd "$(dirname "$0")/.."
Q="$1"
ERRF="${2:-/tmp/${Q}_debug.err}"
SPARK_GRAFT_ONLY="$Q" RUN_MAIN_ERRF="$ERRF" tools/run_main.sh graft.Bench \
  | grep -E '"metric"'
echo "stderr -> $ERRF" >&2
