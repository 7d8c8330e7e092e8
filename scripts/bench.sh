#!/bin/sh
# Driver-safe bench entrypoint (VERDICT r17 #1): runs the standard bench
# (`sbt "runMain graft.Bench"`) with sbt's own output diverted to a log, then
# prints the one-line JSON artifact as the FINAL (and only) stdout line, so a
# line-oriented JSON parse always succeeds regardless of sbt/log4j noise.
#
# Environment (all passed straight through to Bench):
#   SPARK_GRAFT_SF_DIR     data directory        (default /root/testdata/sf0.1)
#   SPARK_GRAFT_CPUS       local[N] core count   (default 32)
#   SPARK_GRAFT_BENCH_OUT  JSON output file      (default bench_result.json)
#   SPARK_GRAFT_BENCH_RUNS timed rounds          (default 3)
#
# Exit code is sbt's exit code (Bench exits 1 when any query throws).
set -u
cd "$(dirname "$0")/.."
OUT="${SPARK_GRAFT_BENCH_OUT:-bench_result.json}"
LOG="${SPARK_GRAFT_BENCH_LOG:-/tmp/graft-bench-sbt.log}"
# a failed run must never print a stale artifact from an earlier run
rm -f "$OUT"
sbt "runMain graft.Bench" >"$LOG" 2>&1
rc=$?
if [ -f "$OUT" ]; then
  cat "$OUT"
else
  echo "BENCH FAILED: no $OUT produced; sbt log tail follows" >&2
  tail -50 "$LOG" >&2
  [ $rc -eq 0 ] && rc=1
fi
exit $rc
