#!/bin/bash
# Floor-resident crossover duel: both engines on the SAME 1x/10x/100x
# replicated-documents corpora (the ScaleBench cache), one committed
# artifact (CROSSOVER_r$R.json) recording per-query Spark/DuckDB times
# and ratios per factor — the reproducible form of round 13's "the weak
# set is a measurement-scale property" evidence (ARCHITECTURE.md "The
# crossover, measured"), promoted from transcribed spark-shell medians
# exactly as trisf.sh promoted the tri-SF gate.
#
# Protocol (round-13 duel, unchanged): Spark = median of 4 reps after a
# dropped warmup at Harness.cpus cores (graft.Crossover); DuckDB = min of 5 on
# the per-factor oracle SQL the Spark side dumps, with the documents
# view swapped to the scaled parquet and every other table from the
# base SF dir. q107's support threshold scales with the factor on BOTH
# sides (see Relational.q107SqlWith). Both halves run serially in one
# invocation on an otherwise idle machine.
#
# The round number is a required argument.
#   usage: tools/crossover.sh <round>
# Output: CROSSOVER_r$R.json in the repo root + logs under
# /tmp/crossover_r$R. Idempotent per round dir: the Spark half is
# skipped when its json exists — wipe /tmp/crossover_r$R to re-run at
# a new HEAD within the same round.
#
# NOTE: measurement — don't run while a pairing/bench sweep is live.
set -e
cd "$(dirname "$0")/.."
R=${1:?usage: tools/crossover.sh <round>}
OUT=/tmp/crossover_r$R
DATA=${GRAFT_TESTDATA:-/root/testdata}
mkdir -p $OUT
if [ -f $OUT/spark_crossover.json ]; then
  echo "=== spark half: already done"
else
  echo "=== spark half $(date +%T)"
  SPARK_GRAFT_SF_DIR=$DATA/sf0.1 \
    sbt -batch "runMain graft.Crossover $OUT 1 10 100" \
    > $OUT/spark.log 2>&1
  grep '^\[crossover\]' $OUT/spark.log
fi
echo "=== duckdb half $(date +%T)"
python3 - "$R" "$OUT" "$DATA/sf0.1" <<'EOF'
import json, os, subprocess, sys, tempfile

r, out, base = sys.argv[1], sys.argv[2], sys.argv[3]
sp = json.load(open(f"{out}/spark_crossover.json"))
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
DUCK_RUNS = 5

# Each (factor, query) runs in its OWN subprocess: a DuckDB OutOfMemory
# poisons the process allocator beyond recovery (measured: after one
# in-process OOM "recovery", the NEXT query's reconnect failed on a
# 32 KB allocation), so isolation at the process boundary is the only
# form that keeps one blown-up plan from voiding the rest of the duel.
WORKER = r"""
import json, os, sys, time
import duckdb
base, corpus, sql_path, runs = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
tables = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
con = duckdb.connect()
con.execute(f"SET threads TO {os.cpu_count()}")
con.execute("SET memory_limit='64GB'")
con.execute("SET temp_directory='/tmp/duck_spill'")
# the corpus dir CONTRACTUALLY provides the replicated tables the
# Spark ensure* synthesis writes; silently falling back to the base
# table here would time DuckDB on 1x data against Spark medians from
# 10x/100x data (e.g. after a wiped /tmp cache between halves) and
# corrupt the ratios — fail the worker hard instead. The base-table
# fallback stays for the untouched TPC-H side tables only.
CONTRACT = {"documents", "lineitem", "embeddings"}
for t in tables:
    p = f"{corpus}/{t}.parquet"
    if t in CONTRACT:
        complete = os.path.isfile(p) or (
            os.path.isdir(p) and os.path.exists(f"{p}/_SUCCESS"))
        if not complete:
            sys.stderr.write(f"contract table missing/incomplete: {p}\n")
            sys.exit(3)
    elif not os.path.exists(p):
        p = f"{base}/{t}.parquet"
    if os.path.exists(p):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            if os.path.isdir(p) else
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
sql = open(sql_path).read()
# Salvage partial runs: DuckDB's memory accounting can leak
# reservations across REPEAT executions of a spill-heavy plan on one
# connection (q146 x100, measured r16: run 0 completes at 5.3 GB RSS,
# run 1 dies requesting 16 KB — deterministic, not host pressure; and
# a reconnect after an in-process OOM fails too, the r15 worker-
# isolation finding). A completed run's time is a valid min-of-N
# sample on a multi-second query, so report best-of-completed with the
# count instead of voiding the cell; fail only when run 0 itself dies.
best = None
completed = 0
err = None
for _ in range(runs):
    t0 = time.time()
    try:
        con.execute(sql).fetchall()
    except Exception as e:
        err = f"{type(e).__name__}: {e}"
        break
    best = min(best or 1e99, time.time() - t0)
    completed += 1
if best is None:
    sys.stderr.write(err + "\n")
    sys.exit(1)
out = {"best": round(best, 3), "runs_completed": completed}
if err:
    out["error_after"] = err[:160]
print(json.dumps(out))
"""
worker_path = f"{out}/duck_worker.py"
with open(worker_path, "w") as fh:
    fh.write(WORKER)

duck = {}
fails = {}
partials = {}
for f in sp["factors"]:
    corpus = sp["corpora"][f"x{f}"]
    for name in sp["cohort"]:
        # a (query, factor) the Spark half recorded as failed/absent is
        # skipped here too — the artifact carries the absence
        sql = sp["sql"].get(name, {}).get(f"x{f}")
        if sql is None:
            continue
        with tempfile.NamedTemporaryFile("w", suffix=".sql", delete=False) as sf:
            sf.write(sql)
            sql_path = sf.name
        try:
            # one process-level retry: a worker failure can be a
            # transient host condition rather than the plan (r15's only
            # duck_failure, q146 x100 "bad allocation" = system malloc,
            # reproduced clean at 5.3 GB peak RSS the next round). A
            # FRESH subprocess keeps the poisoned-allocator isolation
            # intact; a persistent failure still records after 2 tries.
            for attempt in (1, 2):
                res = subprocess.run(
                    [sys.executable, worker_path, base, corpus, sql_path,
                     str(DUCK_RUNS)],
                    capture_output=True, text=True, timeout=900)
                if res.returncode == 0:
                    break
                if attempt == 1:
                    print(f"[duck] x{f} {name} attempt 1 failed "
                          f"(exit {res.returncode}) — retrying once")
        finally:
            os.unlink(sql_path)
        if res.returncode == 0:
            cell = json.loads(res.stdout.strip().splitlines()[-1])
            best = cell["best"]
            duck.setdefault(name, {})[f"x{f}"] = best
            done = cell.get("runs_completed", DUCK_RUNS)
            if done < DUCK_RUNS:
                partials.setdefault(name, {})[f"x{f}"] = {
                    "runs_completed": done,
                    "error_after": cell.get("error_after")}
                print(f"[duck] x{f} {name} min-of-{done} (PARTIAL, "
                      f"{cell.get('error_after', '')[:60]})={best:.3f}")
            else:
                print(f"[duck] x{f} {name} min-of-{DUCK_RUNS}={best:.3f}")
        else:
            # one engine failing at scale IS a result (e.g. q42's LSH
            # SQL OOMs DuckDB at 100x) — record it, keep the duel alive
            err = (res.stderr or "").strip().splitlines()
            msg = err[-1][:160] if err else f"exit {res.returncode}"
            fails.setdefault(name, {})[f"x{f}"] = msg
            print(f"[duck] x{f} {name} FAILED: {msg[:80]}")

queries = {}
for name in sp["cohort"]:
    row = {}
    for f in sp["factors"]:
        cell = sp.get("spark", {}).get(name, {}).get(f"x{f}")
        if cell is None or f"x{f}" not in duck.get(name, {}):
            continue
        s = cell["median"]
        d = duck[name][f"x{f}"]
        rcell = {"spark_sec": s, "duck_sec": d,
                 "ratio": round(s / d, 3) if d > 0 else None}
        # a min-of-fewer-than-N duck sample can only RAISE duck's best
        # and flatter the ratio — mark the cell itself so a partial
        # ratio is self-identifying where it is read, not only in the
        # sibling duck_partial_runs map (r16 ADVICE)
        part = partials.get(name, {}).get(f"x{f}")
        if part is not None:
            rcell["duck_runs_completed"] = part["runs_completed"]
            rcell["partial"] = True
        row[f"x{f}"] = rcell
    if row:
        queries[name] = row

load = open("/proc/loadavg").read().split()[0]
# host-window stamp for the duck half (script runs from the repo root)
sys.path.insert(0, "tools")
try:
    from duck_bench import duck_calib
    calib_duck = duck_calib()
except Exception:
    calib_duck = None
art = {
    "round": int(r) if r.isdigit() else r,
    "head": subprocess.check_output(
        ["git", "rev-parse", "--short", "HEAD"]).decode().strip(),
    "base": sp["base"],
    "factors": sp["factors"],
    "protocol": dict(sp["protocol"],
                     duck=f"min of {DUCK_RUNS} on the identical per-factor "
                          "oracle SQL, corpus-dir tables (documents, "
                          "lineitem, embeddings) swapped to the scaled parquet, "
                          "threads=%d" % os.cpu_count()),
    "env": dict(sp["env"], load_end_duck=float(load), calib_duck=calib_duck),
    "duck_failures": fails,
    "duck_partial_runs": partials,
    "queries": queries,
}
with open(f"CROSSOVER_r{r}.json", "w") as fh:
    json.dump(art, fh, indent=1)
print(f"wrote CROSSOVER_r{r}.json")
for name, row in queries.items():
    print(" ", name,
          " ".join(f"x{f}={row[f'x{f}']['ratio']}x" for f in sp["factors"]
                   if f"x{f}" in row))
EOF
