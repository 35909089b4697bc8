#!/usr/bin/env bash
# Core-scaling artifact (r19 verdict item 5): run graft.CoreScale at 32
# and 8 cores over the SAME factor-10 replicated corpora, merge into
# CORESCALE_r{N}.json with per-query 8c/32c ratios. Run inside tmux; do
# NOT run sbt or anything heavy concurrently (timings are load-sensitive).
#
# Usage: tools/corescale.sh <round> [factor]
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: tools/corescale.sh <round> [factor]}"
FACTOR="${2:-10}"
OUT32=/tmp/corescale_c32.json
OUT8=/tmp/corescale_c8.json

# wait for the host to go idle between (and before) the two legs — the
# first leg's load tail otherwise contaminates the second (measured:
# c8 load_start 10.6 right after the c32 leg)
wait_idle() {
  for _ in $(seq 1 36); do
    L=$(cut -d' ' -f1 /proc/loadavg)
    awk -v l="$L" 'BEGIN{exit !(l < 1.5)}' && return 0
    sleep 5
  done
  echo "[corescale] WARNING: host never went idle (load $L)" >&2
}

wait_idle
SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.CoreScale $OUT32 $FACTOR"
wait_idle
SPARK_GRAFT_CPUS=8  sbt -batch "runMain graft.CoreScale $OUT8 $FACTOR"

python3 - "$OUT32" "$OUT8" "CORESCALE_r${ROUND}.json" <<'EOF'
import json, sys
c32 = json.load(open(sys.argv[1]))
c8 = json.load(open(sys.argv[2]))
cells = {}
for q, v32 in c32["cells"].items():
    v8 = c8["cells"].get(q)
    if v8 is None:
        cells[q] = {"c32_median": v32["median"], "c8_median": None, "ratio": None}
        continue
    cells[q] = {
        "c32_median": v32["median"], "c8_median": v8["median"],
        "ratio": round(v8["median"] / v32["median"], 3),
        "c32_runs": v32["runs"], "c8_runs": v8["runs"],
    }
out = {
    "factor": c32["factor"], "protocol": c32["protocol"],
    "cells": cells,
    "env_c32": c32["env"], "env_c8": c8["env"],
    "note": ("ratio = 8-core median / 32-core median over the same "
             "replicated corpus; shuffle.partitions follows the core "
             "count (the bench's scale-adaptive convention). calib "
             "stamps are a single-thread loop, so they compare across "
             "core counts; each env carries its own window_ok."),
}
json.dump(out, open(sys.argv[3], "w"), indent=1)
print("wrote", sys.argv[3])
for q, c in cells.items():
    print(f"{q:28s} c32={c['c32_median']}s c8={c['c8_median']}s ratio={c['ratio']}")
EOF
