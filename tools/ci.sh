#!/usr/bin/env bash
# Full local gate, exactly what the driver exercises plus the test suite:
#   tools/ci.sh [sfDir]           (default /root/testdata/sf0.01)
# Exits non-zero on any failure.
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft_ci.XXXXXX)"

echo "== 1/8 compile + tests"
# includes graft.util.ForklessWriteSpec: a JFR jdk.ProcessStart recording
# around each forkless local writer fails the run on any chmod it forks
sbt -batch test

echo "== 2/8 perfbench arithmetic tests + regression-tool tests"
python3 -m unittest discover -s perfbench -p 'test_*.py'
python3 -m unittest discover -s tools -p 'test_*.py'

echo "== 3/8 perfbench harness: compile against the engine API + ChecksumSpec"
(cd perfbench/harness && sbt -batch harness/test)

echo "== 4/8 perfbench daily_merge + query_mix: correctness checks against the engine"
# daily_merge's untimed checks (backfill rows/partitions/checksum, merge
# content, unique keys, idempotent replay) are the only end-to-end check of
# the company/year store's write and merge path; query_mix's are its
# DuckDB oracles and rows-only floors over the engine's registered queries
for W in daily_merge query_mix; do
  python3 perfbench/run.py --workload "$W" --seed 1 --seconds 3 --trace 0 \
    | tail -1 | tee "$OUT/$W.json"
  python3 -c 'import json, sys; r = json.load(open(sys.argv[1])); sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)' "$OUT/$W.json" \
    || { echo "${W^^} CHECKS FAILED"; exit 1; }
done

echo "== 5/8 verify dump @ $SF"
sbt -batch "runMain graft.Verify $SF $OUT"

echo "== 6/8 DuckDB oracle compare"
# one compare (~14 min, ~11 GB RSS over the full dump): keep its output
# and grep the kept file for the summary
python3 tools/check.py "$SF" "$OUT" | tee "$OUT/check.txt" | tail -5
grep -q " 0 failing" "$OUT/check.txt" \
  || { echo "ORACLE FAILURES"; exit 1; }

echo "== 7/8 oracle fragility audit (r7 cross-engine-round failure class)"
python3 tools/fragility.py "$SF" "$OUT" | tail -12 \
  || { echo "FRAGILE ORACLE ROUNDS"; exit 1; }

echo "== 8/8 bench (sf0.1)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
  | grep -oE '\{"metric".*' | tee "$OUT/bench.json"
# a query that throws lands in the Bench line's "failed" list, not in the
# exit code — read the list back so a throwing query fails the gate
FAILED="$(python3 -c 'import json, sys; print(" ".join(json.load(open(sys.argv[1]))["failed"]))' "$OUT/bench.json")"
[ -z "$FAILED" ] || { echo "BENCH QUERY FAILURES: $FAILED"; exit 1; }

echo "CI GREEN — artifacts in $OUT"
