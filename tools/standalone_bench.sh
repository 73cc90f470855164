#!/bin/bash
# Standalone per-query benchmark: ONE fresh JVM + SparkSession per query,
# warmup + min-of-2-measured (same statistic as the in-session isolated
# mode), so in-session numbers can be validated against a clean-room
# measurement. Usage:
#   tools/standalone_bench.sh q1_pricing dedup_minhash ...
# Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), plus
#      run_main.sh's JVM settings (SPARK_GRAFT_CPUS, SPARK_GRAFT_GC, ...).
set -u
cd "$(dirname "$0")/.."
for q in "$@"; do
  # keep query_error lines too: a failed query otherwise surfaces only as
  # an empty all_queries map, silently eating the reason.
  SPARK_GRAFT_ONLY="$q" RUN_MAIN_ERRF=/dev/null tools/run_main.sh graft.Bench \
    | grep -E '"metric":"(all_queries|query_error)"'
done
