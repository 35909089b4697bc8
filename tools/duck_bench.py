#!/usr/bin/env python3
"""DuckDB timing twin of graft.Bench (NOT shipped code).

Times every oracle SQL from a graft.Verify dump against the same
parquet tables DuckDB-side, printing one JSON line in the same shape as
BENCH_r*.json so the Spark/DuckDB ratio is a reproducible measurement
instead of an inference. DUCK_RUNS=N (default 1) times each query N
times and keeps the min — the same de-spiking knob as running the
Spark sweep twice. Usage:

    sbt "runMain graft.Verify /root/testdata/sf0.1 /tmp/verify_sf01"
    python3 tools/duck_bench.py /root/testdata/sf0.1 /tmp/verify_sf01

With --pair, ALSO writes a per-query pairing artifact so the
">2x slower than baseline" check is a mechanical per-query read
instead of an aggregate inference. Any number of Spark bench JSONs
(the line graft.Bench prints) may be given; they are grouped by their
recorded env.warm mode into cold (warm=0, per-query min across runs)
and warm (warm>0) columns:

    python3 tools/duck_bench.py SF_DIR OUT_DIR \
        --pair PAIRING.json cold1.json cold2.json warm.json
"""
import sys, json, os, re, time
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


# Floor-carousel stabilization (round 13): sub-second DuckDB samples
# swing +-30% run-to-run, and with DUCK_RUNS=3 the min-of-3 oracle
# estimate is far noisier than the Spark side's min over 4+2 full
# sweeps — across rounds 10-12 the warm over-2x membership rotated
# q88 -> q64 -> q107 -> q97 purely on which floor query drew the slow
# oracle sample (each query's own warm time was flat between pairings).
# Fix the estimator, not the plans: any query whose best time is still
# under FLOOR_ORACLE_SEC after the base runs keeps sampling up to
# FLOOR_RUNS total, so the min-estimator quality is comparable on both
# sides of exactly the ratios that decide the weak set. Cost: ~(9-3)
# extra runs x ~0.2s over ~140 sub-floor queries ~= 2-3 min per pairing.
FLOOR_ORACLE_SEC = 0.5
FLOOR_RUNS = 9


def duck_calib():
    """Fixed DuckDB ALU probe, seconds: a multiplicative-hash sum over
    150M rows, about 1.7 s on an idle 32-core host. It stamps the
    DuckDB half of a pairing/crossover at both ends, so a slow-window
    DuckDB run identifies itself in the artifact.

    DuckDB evaluates this single-streamish (~14 ns/row regardless of
    threads), which is fine: the signal is relative drift, not an
    absolute cross-engine constant.
    """
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    t0 = time.time()
    con.execute("SELECT sum((i % 1000003) * 2654435761 % 97) "
                "FROM range(150000000) t(i)").fetchall()
    return round(time.time() - t0, 3)


def time_queries(sf_dir, out_dir, runs):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name in sorted(oracle):
        best = None
        n = 0
        while n < runs or (best < FLOOR_ORACLE_SEC and n < max(runs, FLOOR_RUNS)):
            t0 = time.time()
            con.execute(oracle[name]).fetchall()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            n += 1
        results[name] = round(best, 3)
    return results


def per_query_min(bench_jsons):
    merged = {}
    for b in bench_jsons:
        for q, v in b["queries"].items():
            v = float(v)
            if v >= 0:
                merged[q] = min(merged.get(q, v), v)
    return merged


# Entries whose DECLARED ROLE makes the Spark/DuckDB ratio measure
# something other than comparable work, excluded from over_2x_nontrivial
# by name with the reason recorded in the artifact's protocol block:
# ungated baselines (their gated twin is the production entry), and
# lifecycle/streaming-parity entries whose Spark side deliberately does
# MORE than the oracle (materializes a persisted artifact, or runs the
# STREAMING kernel over a staged file stream) while the oracle computes
# the same ANSWER as a plain batch query. Their per-query rows still
# appear in the pairing for inspection.
BASELINE_QUERIES = {
    "q63_pq_adc_knn": ("full-corpus ADC scan kept as the ungated baseline; "
                       "the gated production twin is q73_ivfpq_knn "
                       "(cell-pruned, measured well under 1x)"),
    "q141_streaming_runs": ("runs the STREAMING SCD2 kernel (file-stream "
                            "staging + 3 micro-batches + state store) to "
                            "hash-match the batch oracle; the comparable "
                            "batch form is q121_scd2_runs"),
    "q145_streaming_hll": ("runs the STREAMING windowed-HLL kernel over a "
                           "staged file stream; the comparable batch sketch "
                           "form is q64_hll_distinct"),
    "q142_ivfpq_index_persist": ("builds AND persists the IVF+PQ index to "
                                 "parquet before querying it; the comparable "
                                 "in-query form is q73_ivfpq_knn"),
    "q143_hll_index_persist": ("persists + re-reads the register artifact; "
                               "comparable in-query form is q64_hll_distinct"),
    "q144_cms_index_persist": ("persists + re-reads the CMS artifact; "
                               "comparable in-query form is q67_countmin"),
    "q147_streaming_cms": ("runs the STREAMING windowed count-min kernel "
                           "over a staged file stream; comparable batch "
                           "form is q67_countmin"),
    "q148_streaming_dedup": ("stages the source PLUS a 20% duplicate feed "
                             "and runs streaming dropDuplicates; comparable "
                             "batch form is q26_fingerprint/q27_dedup_exact"),
    "q149_streaming_bloom": ("runs the STREAMING windowed bloom build over "
                             "a staged file stream; comparable batch form "
                             "is q65_bloom_semijoin"),
    "q150_streaming_quantile": ("runs the STREAMING windowed quantile "
                                "sketch over a staged file stream; "
                                "comparable batch form is "
                                "q66_quantile_sketch"),
}


# Pinned floor exceptions — queries whose warm over-2x residue carries a
# COMMITTED closing adjudication: every replacement plan duelled and
# rejected with numbers, the stage decomposition priced against the
# session-constant table, and the crossover behaviour certified (q64:
# register-space shape, crossover-adjudicated when <=1x at scale; q72:
# 300x min-vs-min parity, 2x medians shown to be fresh-JVM warm-up).
# They STAY in over_2x_nontrivial whenever they measure over — the bar
# is the bar — but the artifact attaches the pinned evidence so each
# round stops re-deriving the adjudication in prose. Reopen conditions
# live in ARCHITECTURE.md "Pinned floors".
PINNED_FLOORS = {
    "q64_hll_distinct": ("ARCHITECTURE.md 'Pinned floors' (q64 row; duels "
                         "in git show 06799ef:ARCHITECTURE.md 'Round-17: "
                         "q64 fused (last removable constant) and its floor "
                         "pinned') — two unmergeable exchanges + session "
                         "constant; wide-register/configs/checkpoint+join "
                         "alternatives all rejected with committed duels"),
    "q72_hll_merge": ("ARCHITECTURE.md 'Pinned floors' (q72 row; duels in "
                      "git show 06799ef:ARCHITECTURE.md 'Round-18: q72's "
                      "300x re-cert — the floor pinned final, off the "
                      "carousel') — 300x min-vs-min parity (1.09x), dedup "
                      "exchange is the irreducible cost; r15/r17 "
                      "alternatives rejected with committed duels"),
}


def crossover_candidates(names):
    """CROSSOVER_r{N}.json filenames, newest round first — NUMERIC
    round order, not lexicographic (r100 > r14 > r9; the old string
    sort broke at both of those boundaries). Pure so test_tools.py can
    pin the ordering."""
    arts = []
    for f in names:
        m = re.match(r"CROSSOVER_r(\d+)\.json$", f)
        if m:
            arts.append((int(m.group(1)), f))
    return [f for _, f in sorted(arts, reverse=True)]


def floor_resident_adjudication(over_2x, sf_dir):
    """Carry the crossover adjudication INTO the pairing artifact.

    A warm over-2x entry whose crossover duel (CROSSOVER_r*.json, the
    committed 1x/10x/100x same-corpora duel) shows it at <= 1x DuckDB at
    10x or 100x data is a FLOOR RESIDENT: its sf0.1 ratio measures the
    local[32] session constant against a sub-second oracle, not the
    plan — one to two decades up the same plan is the faster engine.
    The weak set stays listed (the bar is the bar); this field attaches
    the measured adjudication so each round stops re-deriving it in
    prose. Uses the newest (numeric round) artifact whose `base`
    matches this pairing's sf_dir — a crossover measured against a
    different base SF must not adjudicate this pairing. Returns {} when
    no such artifact exists or none qualifies.
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # normalize both sides: a trailing slash or relative sf_dir must not
    # silently disqualify every artifact (r15 ADVICE)
    want = os.path.realpath(sf_dir)
    candidates = list(crossover_candidates(os.listdir(root)))
    matched = False
    for art in candidates:
        try:
            cx = json.load(open(os.path.join(root, art)))
        except (OSError, ValueError):
            continue
        # a missing/empty base must never match: realpath("") is the
        # CURRENT DIRECTORY, which can spuriously equal sf_dir when the
        # harness is invoked from the data dir (r16 review)
        base = cx.get("base")
        if not base or os.path.realpath(base) != want:
            continue
        matched = True
        out = {}
        for name in over_2x:
            row = cx.get("queries", {}).get(name)
            if not row:
                continue
            ratios = {k: v.get("ratio") for k, v in row.items()}
            scaled = [v for k, v in ratios.items()
                      if k != "x1" and v is not None]
            if scaled and min(scaled) <= 1.0:
                out[name] = {"crossover_ratios": ratios, "artifact": art,
                             "rule": "<=1x DuckDB on the same corpus at 10x "
                                     "or 100x data"}
        return out
    if candidates and not matched:
        sys.stderr.write(
            f"[pairing] WARNING: {len(candidates)} crossover artifact(s) "
            f"present but none has base == {want}; floor-resident "
            "adjudication skipped\n")
    return {}


def write_pairing(duck, spark_paths, pairing_path, sf_dir, duck_runs,
                  duck_env=None):
    benches = [json.load(open(p)) for p in spark_paths]
    cold = per_query_min([b for b in benches if b.get("env", {}).get("warm", 0) == 0])
    warm = per_query_min([b for b in benches if b.get("env", {}).get("warm", 0) > 0])
    paired = {}
    for name in sorted(set(duck) & (set(cold) | set(warm))):
        d = duck[name]
        row = {"duck_sec": d}
        for label, src in (("cold", cold), ("warm", warm)):
            if name in src:
                row[f"spark_{label}_sec"] = src[name]
                row[f"{label}_ratio"] = round(src[name] / d, 3) if d > 0 else None
        paired[name] = row

    def agg(label, src):
        names = [n for n in paired if n in src]
        if not names:
            return None
        s_tot = sum(src[n] for n in names)
        d_tot = sum(duck[n] for n in names)
        ratios = sorted(paired[n][f"{label}_ratio"] for n in names
                        if paired[n].get(f"{label}_ratio") is not None)
        return {
            "n_paired": len(names),
            "spark_total": round(s_tot, 3),
            "duck_total": round(d_tot, 3),
            "total_ratio": round(s_tot / max(d_tot, 1e-9), 3),
            "median_ratio": ratios[len(ratios) // 2],
            "n_over_2x": sum(1 for r in ratios if r > 2.0),
            "over_2x_nontrivial": sorted(
                n for n in names
                if (paired[n].get(f"{label}_ratio") or 0) > 2.0
                and duck[n] >= 0.2
                and n not in BASELINE_QUERIES),
        }

    warm_agg = agg("warm", warm)
    if warm_agg:
        warm_agg["floor_residents"] = floor_resident_adjudication(
            warm_agg["over_2x_nontrivial"], sf_dir)
        warm_agg["pinned_floors"] = {
            n: PINNED_FLOORS[n] for n in warm_agg["over_2x_nontrivial"]
            if n in PINNED_FLOORS}

    out = {
        "sf": sf_dir,
        "protocol": {
            "spark_runs": [{"path": os.path.basename(p),
                            "env": b.get("env")} for p, b in zip(spark_paths, benches)],
            "duck_runs": duck_runs,
            "duck_env": duck_env,
            "duck_floor_runs": {"below_sec": FLOOR_ORACLE_SEC,
                                "min_runs": FLOOR_RUNS,
                                "why": ("sub-0.5s oracle samples swing +-30%; "
                                        "min-of-9 equalizes estimator quality "
                                        "with the Spark side's 4+2 sweeps so "
                                        "over_2x membership stops rotating on "
                                        "oracle variance (rounds 10-12: "
                                        "q88->q64->q107->q97)")},
            "note": ("cold = per-query min across idle-start cold sweeps "
                     "(driver protocol); warm = SPARK_GRAFT_WARM in-JVM "
                     "steady state, the form that amortizes Spark's fixed "
                     "multi-stage constants; over_2x lists only queries "
                     "with duck_sec >= 0.2s - below that the ratio "
                     "measures per-query session constants, not the data "
                     "path - and excludes the named baseline entries"),
            "excluded_baselines": BASELINE_QUERIES},
        "summary": {"cold": agg("cold", cold), "warm": warm_agg},
        "queries": paired,
    }
    with open(pairing_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    for label in ("cold", "warm"):
        s = out["summary"][label]
        if s:
            print(f"pairing[{label}]: {s['n_paired']} queries, total ratio "
                  f"{s['total_ratio']}, >2x nontrivial: {s['over_2x_nontrivial']}")
            fr = s.get("floor_residents")
            if fr:
                print(f"  floor residents (crossover-adjudicated <=1x at "
                      f"10x/100x data): {sorted(fr)}")
            pf = s.get("pinned_floors")
            if pf:
                print(f"  pinned floors (committed ARCHITECTURE "
                      f"adjudication): {sorted(pf)}")
    # floor-decomposition skeleton for the warm residue: one pre-filled
    # table row per over-2x nontrivial entry, written next to the
    # pairing artifact so certification and decomposition ship from ONE
    # command (the accepted device for residue queries; see
    # ARCHITECTURE.md "Pinned floors"). Session constants of
    # record: empty job 0.05s, one 32-task exchange ~0.35s, parquet
    # scan 0.14s.
    warm_summary = out["summary"]["warm"]
    if warm_summary:
        skel = os.path.join(os.path.dirname(os.path.abspath(pairing_path)),
                            "floor_skeleton.md")
        with open(skel, "w") as fh:
            fh.write("### Warm residue floor decomposition (skeleton)\n\n")
            fh.write("| query | warm s | duck s | ratio | plan stages "
                     "(fill: scans + exchanges + joins) | floor sum |\n")
            fh.write("|---|---|---|---|---|---|\n")
            for n in warm_summary["over_2x_nontrivial"]:
                r = paired[n]
                fh.write(f"| {n} | {r.get('spark_warm_sec')} | "
                         f"{r['duck_sec']} | {r.get('warm_ratio')} | "
                         f"TODO | TODO |\n")
            if not warm_summary["over_2x_nontrivial"]:
                fh.write("| (none - warm residue empty) | | | | | |\n")
        print(f"floor skeleton: {skel}")


def main(argv):
    sf_dir, out_dir = argv[0], argv[1]
    runs = max(1, int(os.environ.get("DUCK_RUNS", "1")))
    calib_start = duck_calib()
    results = time_queries(sf_dir, out_dir, runs)
    calib_end = duck_calib()
    load = open("/proc/loadavg").read().split()[0]
    print(json.dumps({
        "metric": "duckdb_total", "value": round(sum(results.values()), 3),
        "unit": "sec", "queries": results, "sf": sf_dir,
        "env": {"cpus": os.cpu_count(), "load_end": float(load), "runs": runs,
                "calib_start": calib_start, "calib_end": calib_end,
                "calib_note": ("duck_calib fixed ALU probe, seconds; "
                               "idle-host reference ~1.7")}}))
    if len(argv) > 3 and argv[2] == "--pair":
        write_pairing(results, argv[4:], argv[3], sf_dir, runs,
                      duck_env={"cpus": os.cpu_count(), "runs": runs,
                                "calib_start": calib_start,
                                "calib_end": calib_end})


if __name__ == "__main__":
    main(sys.argv[1:])
