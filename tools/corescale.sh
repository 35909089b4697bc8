#!/usr/bin/env bash
# Core-scaling artifact: run graft.Crossover's Spark half at 32 and 8
# cores over the SAME factor-N replicated corpora, merge into
# CORESCALE_r{N}.json with per-query 8c/32c ratios. Run inside tmux; do
# NOT run sbt or anything heavy concurrently (timings are load-sensitive).
#
# At sf0.1 the bench's 8-vs-32-core twin reads every ratio ≈ 1: the
# suite is session-constant bound there, and several heavy cells are
# scan-parallelism bound (q71's md5 passes run as 3 tasks). The
# replicated corpora (factor 10 by default) carry enough bytes that
# scans split and exchanges carry real data, so the artifact shows
# compute-bound queries using the cores. Protocol = Crossover's: 5 reps
# per query against the noop sink, first dropped, median of the other
# 4; SPARK_GRAFT_CPUS sets master AND shuffle.partitions, so the 8-core
# leg shuffles 8-wide like a real 8-core deployment.
#
# Usage: tools/corescale.sh <round> [factor]
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: tools/corescale.sh <round> [factor]}"
FACTOR="${2:-10}"
OUT32=/tmp/corescale_c32
OUT8=/tmp/corescale_c8
# Heavy absolute cells over the three replicated tables (documents,
# lineitem, embeddings), spanning the catalog's families: set-similarity,
# text aggregation, dedup canonicalization, inverted index, source
# overlap, resample, sketches, ANN. Run in this order.
COHORT=q82_setsim_join,q20_token_stats,q45_dedup_canonical,q88_inverted_index,q97_source_overlap,q146_dsir_resample,q71_heavy_hitters,q64_hll_distinct,q72_hll_merge,q42_knn_lsh

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

for leg in "32 $OUT32" "8 $OUT8"; do
  read -r CPUS OUT <<<"$leg"
  rm -f "$OUT/spark_crossover.json"
  wait_idle
  SPARK_GRAFT_CPUS=$CPUS SPARK_GRAFT_CROSSOVER_COHORT=$COHORT \
    sbt -batch "runMain graft.Crossover $OUT $FACTOR"
done

python3 - "$OUT32/spark_crossover.json" "$OUT8/spark_crossover.json" \
    "CORESCALE_r${ROUND}.json" <<'EOF'
import json, sys
c32 = json.load(open(sys.argv[1]))
c8 = json.load(open(sys.argv[2]))
x = f"x{c32['factors'][0]}"
cells = {}
for q, row32 in c32["spark"].items():
    v32 = row32[x]
    v8 = c8["spark"].get(q, {}).get(x)
    if v8 is None:
        cells[q] = {"c32_median": v32["median"], "c8_median": None, "ratio": None}
        continue
    cells[q] = {
        "c32_median": v32["median"], "c8_median": v8["median"],
        "ratio": round(v8["median"] / v32["median"], 3),
        "c32_runs": v32["runs"], "c8_runs": v8["runs"],
    }
out = {
    "factor": c32["factors"][0],
    "protocol": "drop-first median-of-4, noop sink, clear+gc between reps",
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
