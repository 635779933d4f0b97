#!/bin/bash
# Isolated A/B probe: run graft.Bench N times restricted to the given
# queries (fresh JVM each run), report the per-query MIN across runs —
# the contention-robust statistic for before/after comparisons. A query
# named in a run's "failed" list contributes no time from that run.
# Usage: tools/probe.sh <runs> <comma-separated-queries> [outfile]
set -e
RUNS=${1:?runs}; ONLY=${2:?queries}; OUT=${3:-/tmp/probe_agg.json}
TMP=$(mktemp -d)
for i in $(seq 1 "$RUNS"); do
  SPARK_GRAFT_ONLY="$ONLY" sbt -batch "runMain graft.Bench" \
    > "$TMP/run$i.log" 2>&1 || true
  grep -o '{"metric".*' "$TMP/run$i.log" > "$TMP/run$i.json" || true
done
python3 - "$TMP" "$RUNS" "$OUT" <<'EOF'
import json, sys, os
tmp, runs, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
agg = {}
ok_runs = 0
for i in range(1, runs + 1):
    p = os.path.join(tmp, f"run{i}.json")
    if not os.path.exists(p) or os.path.getsize(p) == 0: continue
    # parse per line and take the LAST metric line that carries a
    # per-query map (a log can hold several metric lines, and not every
    # one has a "queries" key)
    d = None
    for line in open(p):
        line = line.strip()
        if line.startswith('{"metric"'):
            try: m = json.loads(line)
            except json.JSONDecodeError: continue
            if isinstance(m, dict) and "queries" in m: d = m
    if d is None: continue
    ok_runs += 1
    failed = set(d.get("failed", []))
    for k, v in d["queries"].items():
        if k in failed:
            print(f"run {i}: {k} failed — time skipped")
            continue
        agg.setdefault(k, []).append(v)
if ok_runs == 0:
    sys.exit(f"probe: no run of {runs} produced a metrics line — "
             f"check {tmp}/run*.log")
res = {k: min(v) for k, v in agg.items()}
json.dump(res, open(out, "w"), indent=0)
for k, v in sorted(res.items(), key=lambda kv: -kv[1]):
    print(f"{k}: {v:.3f}  (runs: {', '.join(f'{x:.2f}' for x in agg[k])})")
EOF
rm -rf "$TMP"
