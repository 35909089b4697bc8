#!/bin/bash
# Pairing protocol (PAIRING_r{N}.json): min-of-4 cold + 2 warm in-JVM
# sweeps at sf0.1, DUCK_RUNS=3, all hash-checked queries, at the
# session's default core count (SPARK_GRAFT_CPUS, else the host's cores).
# The round number is a required argument; output json + floor skeleton
# land in the repo root. Idempotent per round dir: sweeps whose output
# json already exists are skipped — wipe /tmp/pairing_r$R to re-certify
# a new HEAD within the same round.
#   usage: tools/pairing.sh <round>
set -e
cd "$(dirname "$0")/.."
R=${1:?usage: tools/pairing.sh <round>}
SF=/root/testdata/sf0.1
OUT=/tmp/pairing_r$R
mkdir -p $OUT
if [ ! -f $OUT/verify/oracle_sql.json ]; then
  sbt -batch "runMain graft.Verify $SF $OUT/verify zzz_no_query" > $OUT/verify.log 2>&1
fi
for i in 1 2 3 4; do
  if [ -f $OUT/cold$i.json ]; then echo "=== cold sweep $i: already done"; continue; fi
  echo "=== cold sweep $i $(date +%T) load=$(cut -d' ' -f1 /proc/loadavg)"
  SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_WARM=0 SPARK_GRAFT_VARIANCE=0 \
    SPARK_GRAFT_BENCH_OUT=$OUT/cold$i.json \
    sbt -batch "runMain graft.Bench" > $OUT/cold$i.log 2>&1
  tail -1 $OUT/cold$i.log
done
for i in 1 2; do
  if [ -f $OUT/warm$i.json ]; then echo "=== warm sweep $i: already done"; continue; fi
  echo "=== warm sweep $i $(date +%T) load=$(cut -d' ' -f1 /proc/loadavg)"
  SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_WARM=2 SPARK_GRAFT_VARIANCE=0 \
    SPARK_GRAFT_BENCH_OUT=$OUT/warm$i.json \
    sbt -batch "runMain graft.Bench" > $OUT/warm$i.log 2>&1
  tail -1 $OUT/warm$i.log
done
echo "=== duckdb $(date +%T)"
DUCK_RUNS=3 python3 tools/duck_bench.py $SF $OUT/verify \
  --pair "$PWD/PAIRING_r$R.json" \
  $OUT/cold1.json $OUT/cold2.json $OUT/cold3.json $OUT/cold4.json \
  $OUT/warm1.json $OUT/warm2.json
echo "=== done $(date +%T)"
