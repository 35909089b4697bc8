#!/bin/bash
# Tri-scale-factor oracle gate: runs graft.Verify + tools/check.py at
# sf0.001, sf0.01 AND sf0.1 and writes one committed artifact
# (TRISF_r$R.json) recording the pass/fail counts per scale factor —
# the reproducible form of the "hash-green at three SFs" claim (round
# 12 ran it ad hoc; the commit recorded the result but not the runner).
#
# The round number is a required argument.
#   usage: tools/trisf.sh <round>
# Output: TRISF_r$R.json in the repo root + full check logs under
# /tmp/trisf_r$R. Idempotent per round dir: an SF whose check log
# already exists is skipped — wipe /tmp/trisf_r$R to re-run at a new
# HEAD within the same round.
#
# NOTE: runs sbt + DuckDB serially; don't run while a pairing or bench
# sweep is live (measurement hygiene — this is a correctness gate, but
# it still competes for the host's cores).
set -e
cd "$(dirname "$0")/.."
R=${1:?usage: tools/trisf.sh <round>}
OUT=/tmp/trisf_r$R
DATA=${GRAFT_TESTDATA:-/root/testdata}
mkdir -p $OUT
for sf in 0.001 0.01 0.1; do
  # idempotency keys on the SUCCESS marker (a parseable summary line),
  # not mere log existence: a crashed Verify/check leaves a log that a
  # re-run must NOT treat as done
  if [ -f $OUT/check_sf$sf.log ] \
      && grep -Eq '[0-9]+ pass, [0-9]+ fail' $OUT/check_sf$sf.log; then
    echo "=== sf$sf: already done"; continue
  fi
  echo "=== sf$sf verify $(date +%T)"
  sbt -batch "runMain graft.Verify $DATA/sf$sf $OUT/sf$sf" \
    > $OUT/verify_sf$sf.log 2>&1
  echo "=== sf$sf oracle check $(date +%T)"
  python3 tools/check.py $DATA/sf$sf $OUT/sf$sf \
    > $OUT/check_sf$sf.log 2>&1 || true
  tail -2 $OUT/check_sf$sf.log
done
python3 - "$R" "$OUT" <<'EOF'
import json, re, subprocess, sys
r, out = sys.argv[1], sys.argv[2]
res = {"round": int(r) if r.isdigit() else r,
       "head": subprocess.check_output(
           ["git", "rev-parse", "--short", "HEAD"]).decode().strip(),
       "sfs": {}}
ok = True
for sf in ("0.001", "0.01", "0.1"):
    try:
        log = open(f"{out}/check_sf{sf}.log").read()
    except OSError:
        log = ""
    m = re.search(r"(\d+) pass, (\d+) fail", log)
    fails = sorted(set(re.findall(r"^FAIL (\S+?):", log, re.M)))
    if m:
        res["sfs"][f"sf{sf}"] = {"pass": int(m.group(1)),
                                 "fail": int(m.group(2)),
                                 "failed_queries": fails}
        ok = ok and int(m.group(2)) == 0
    else:
        # Verify/check crashed before printing a summary ('|| true'
        # swallows the exit code): record the broken SF instead of
        # dying after three expensive runs with no artifact
        res["sfs"][f"sf{sf}"] = {"pass": 0, "fail": -1, "error": True,
                                 "failed_queries": fails}
        ok = False
res["all_green"] = ok
with open(f"TRISF_r{r}.json", "w") as fh:
    json.dump(res, fh, indent=1)
print(json.dumps(res["sfs"], indent=1))
print(f"wrote TRISF_r{r}.json  all_green={ok}")
EOF
