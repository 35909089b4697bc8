#!/usr/bin/env bash
# Core-scaling artifact: run graft.Crossover's Spark half at two core
# counts taken from the host, every core `nproc` reports ("all") and a
# quarter of them with a minimum of 1 ("quarter"), over the SAME
# factor-N replicated corpora, and merge both into CORESCALE_r{N}.json
# with per-query quarter/all ratios and each leg's core count. Run
# inside tmux; do NOT run sbt or anything heavy concurrently (timings
# are load-sensitive). CORESCALE_r19.json is the older record of a
# 32-core host (legs 32 and 8, in its c32/c8 layout).
#
# At sf0.1 the bench's two core counts read every ratio ≈ 1: the
# suite is session-constant bound there, and several heavy cells are
# scan-parallelism bound (q71's md5 passes run as 3 tasks). The
# replicated corpora (factor 10 by default) carry enough bytes that
# scans split and exchanges carry real data, so the artifact shows
# compute-bound queries using the cores. Protocol = Crossover's: 5 reps
# per query against the noop sink, first dropped, median of the other
# 4; SPARK_GRAFT_CPUS sets master AND shuffle.partitions, so the
# quarter leg shuffles as narrow as a deployment of that size.
#
# Usage: tools/corescale.sh <round> [factor]
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: tools/corescale.sh <round> [factor]}"
FACTOR="${2:-10}"
ALL=$(env -u OMP_NUM_THREADS -u OMP_THREAD_LIMIT nproc)
QUARTER=$(( ALL / 4 > 1 ? ALL / 4 : 1 ))
# Heavy absolute cells over the three replicated tables (documents,
# lineitem, embeddings), spanning the catalog's families: set-similarity,
# text aggregation, dedup canonicalization, inverted index, source
# overlap, resample, sketches, ANN. Run in this order.
COHORT=q82_setsim_join,q20_token_stats,q45_dedup_canonical,q88_inverted_index,q97_source_overlap,q146_dsir_resample,q71_heavy_hitters,q64_hll_distinct,q72_hll_merge,q42_knn_lsh

# wait for the host to go idle between (and before) the two legs — the
# first leg's load tail otherwise contaminates the second (measured:
# the second leg's load_start 10.6 right after the first)
wait_idle() {
  for _ in $(seq 1 36); do
    L=$(cut -d' ' -f1 /proc/loadavg)
    awk -v l="$L" 'BEGIN{exit !(l < 1.5)}' && return 0
    sleep 5
  done
  echo "[corescale] WARNING: host never went idle (load $L)" >&2
}

for leg in "all $ALL" "quarter $QUARTER"; do
  read -r ROLE CPUS <<<"$leg"
  OUT=/tmp/corescale_$ROLE
  rm -f "$OUT/spark_crossover.json"
  wait_idle
  SPARK_GRAFT_CPUS=$CPUS SPARK_GRAFT_CROSSOVER_COHORT=$COHORT \
    sbt -batch "runMain graft.Crossover $OUT $FACTOR"
done

python3 - "$ALL" "$QUARTER" "CORESCALE_r${ROUND}.json" <<'EOF'
import json, sys
cores = {"all": int(sys.argv[1]), "quarter": int(sys.argv[2])}
runs = {role: json.load(open(f"/tmp/corescale_{role}/spark_crossover.json"))
        for role in cores}
x = f"x{runs['all']['factors'][0]}"
cells = {}
for q, row in runs["all"]["spark"].items():
    va = row[x]
    vq = runs["quarter"]["spark"].get(q, {}).get(x)
    if vq is None:
        cells[q] = {"all_median": va["median"], "quarter_median": None, "ratio": None}
        continue
    cells[q] = {
        "all_median": va["median"], "quarter_median": vq["median"],
        "ratio": round(vq["median"] / va["median"], 3),
        "all_runs": va["runs"], "quarter_runs": vq["runs"],
    }
out = {
    "factor": runs["all"]["factors"][0],
    "protocol": "drop-first median-of-4, noop sink, clear+gc between reps",
    "legs": {role: {"cores": cores[role], "env": runs[role]["env"]} for role in cores},
    "cells": cells,
    "note": ("legs: all = every core nproc reports, quarter = a quarter of "
             "them (at least 1); ratio = quarter median / all median over "
             "the same replicated corpus; shuffle.partitions follows the "
             "core count (the bench's scale-adaptive convention). calib "
             "stamps are a single-thread loop, so they compare across "
             "core counts; each env carries its own window_ok."),
}
json.dump(out, open(sys.argv[3], "w"), indent=1)
print("wrote", sys.argv[3])
for q, c in cells.items():
    print(f"{q:28s} all={c['all_median']}s quarter={c['quarter_median']}s ratio={c['ratio']}")
EOF
