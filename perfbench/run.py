#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark driver from source with the Scala compiler that ships with Spark
(`spark-submit` must be on PATH, or SPARK_HOME set); later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed
(see gen.py) or, for the catalog, are the repo's sf0.01 test tables copied
into perfbench/data/. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when --trace is 0 and the per-layer metrics of
the traced run when --trace is 1. `--report FILE` runs the workload three
times on the same seed, untraced, traced and untraced again, and writes the
traced-run report (self time per layer, the layer check, tracing overhead)
to FILE; it exits with 1 when the check fails, that is when the instruments
leave more than 10% of some operation's wall time unexplained.

Everything the benchmark writes goes under .perfbench/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

# catalog_cold: a fixed cross-section of the catalog, one to three queries
# of each of the seven query modules, one of them streaming, on the repo's
# sf0.01 test tables (copied into data/); the seed permutes the order they
# run in. The warm-up queries run first, untimed,
# so that the JVM's own start-up is not charged to the first measured ones.
CATALOG_QUERIES = (
    "q03_join_broadcast", "q10_window_rank", "q56_range_join",  # Relational
    "q21_vocab_df", "q70_bm25_topk",  # TextQueries
    "q30_knn_brute", "q41_simhash",  # SimilarityQueries
    "q52_pos_lexicon_dist",  # MlQueries
    "q61_media_features",  # MultimodalQueries
    "q66_quantile_sketch", "q67_countmin",  # SketchQueries
    "q131_pit_features", "q148_streaming_dedup")  # StatsQueries
CATALOG_WARMUP = ("q01_scan_filter_project", "q20_token_stats", "q31_embed_norm")
CATALOG_TABLES = os.path.join(HERE, "data", "sf0.01")
# the fixed parquet file the host stamp's I/O probe re-reads
IO_PROBE_FILE = os.path.join(CATALOG_TABLES, "lineitem.parquet")

IMDB_TRAIN, IMDB_TEST = 500, 500
# held-out accuracy floor of each fitted pipeline, about ten points under
# what it reaches on this corpus; chance is 0.5
ACCURACY_FLOOR = {"script1": 0.65, "script5": 0.75, "naiveBayes": 0.8, "script3": 0.75}

WORKLOADS = ("catalog_cold", "imdb_pipeline")


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            die("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        die(f"no jars directory under {home}")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        die("program sources (src/main/scala) are missing")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compiles the program and the driver into .perfbench/classes; a
    stamp of every source's path and bytes skips unchanged rebuilds."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(STATE, "classes")
    stamp_file = os.path.join(STATE, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmpdir()}",
         "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        die("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def tmpdir():
    d = os.path.join(STATE, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


# ------------------------------------------------------------------ host

def heap_gb():
    """Driver heap from MemTotal: half of it, clamped to 2..8 GiB."""
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return max(2, min(8, kb // 2097152)), kb


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """The host's CPU time split as /proc/stat counts it, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_ratio(before, after):
    """Share of the host's CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def cpu_probe():
    """Seconds for a fixed single-thread integer loop (well under 2 s)."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def io_probe(path):
    """Seconds to re-read one fixed file, and its size in MB."""
    t = time.perf_counter()
    with open(path, "rb") as f:
        n = len(f.read())
    return time.perf_counter() - t, n / 1048576.0


# ------------------------------------------------------------------ run

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_driver(classes, jars, workload, inp, work, seed, trace, cores, extra):
    """Runs the JVM driver once and returns its record; its set-up times
    count from just before the JVM is launched."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    heap, _ = heap_gb()
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write its perf data file to
    # the system temp directory, outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap}g", "-Xss8m", "-Djava.awt.headless=true",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmpdir()}"] + opens +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Driver",
            f"workload={workload}", f"input={inp}", f"work={work}", f"seed={seed}",
            f"trace={1 if trace else 0}", f"cores={cores}"] +
           [f"{k}={v}" for k, v in extra.items()])
    log = os.path.join(work, "driver.log")
    with open(log, "w") as f:
        cmd.append(f"launched={time.time_ns()}")
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait()
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    rec_path = os.path.join(work, "record.json")
    if code != 0 or not os.path.exists(rec_path):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"driver exited with {code}")
    with open(rec_path) as f:
        return json.load(f)


def workload_setup(workload, seed):
    cache = os.path.join(STATE, "inputs")
    if workload == "catalog_cold":
        order = np.random.Generator(np.random.PCG64(seed)).permutation(CATALOG_QUERIES)
        if not os.path.isdir(CATALOG_TABLES):
            die(f"catalog tables missing: {CATALOG_TABLES}")
        return CATALOG_TABLES, {
            "queries": ",".join(order), "warmup": ",".join(CATALOG_WARMUP)}
    return gen.imdb_input(cache, seed, IMDB_TRAIN, IMDB_TEST), {}


# ------------------------------------------------------------------ checks

def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_queries(inp, work, dumps):
    """Each dumped result against DuckDB running the query's oracle SQL on
    the same input files, compared as sorted rows with sorted columns;
    a query without oracle SQL must return rows. Returns the failures
    and each query's row count."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp}/{t}.parquet')")
    bad, rows = {}, {}
    for name in dumps["names"]:
        files = f"{work}/out/{name}/*.parquet"
        if name in dumps["failed"] or not glob.glob(files):
            bad[name] = "no output"
            continue
        rows[name] = con.execute(f"SELECT count(*) FROM read_parquet('{files}')").fetchone()[0]
        sql = dumps["oracle"].get(name)
        if sql is None:
            if rows[name] == 0:
                bad[name] = "no rows"
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{files}')").fetchdf()
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"oracle error {e}"
            continue
        g, w = _norm(got), _norm(want)
        if list(g.columns) != list(w.columns):
            bad[name] = f"columns {list(g.columns)} != {list(w.columns)}"
        elif len(g) != len(w):
            bad[name] = f"rows {len(g)} != {len(w)}"
        elif [str(d) for d in g.dtypes] != [str(d) for d in w.dtypes]:
            bad[name] = "dtypes differ"
        elif not g.equals(w):
            bad[name] = "values differ"
    return bad, rows


def check_imdb(inp, work, rec):
    """Every fitted pipeline's TSV has one line per test file and meets
    its held-out accuracy floor. Returns the failures and accuracies."""
    truth = {}
    with open(os.path.join(inp, "test_labels.tsv")) as f:
        for line in f:
            k, v = line.rstrip("\n").split("\t")
            truth[k] = float(v)
    bad, acc = {}, {}
    for name, labels in rec["labels"].items():
        d = os.path.join(work, "out", name)
        lines = []
        for p in sorted(os.listdir(d)) if os.path.isdir(d) else []:
            if p.startswith("part-"):
                with open(os.path.join(d, p)) as f:
                    lines += [ln.rstrip("\n").split("\t") for ln in f if ln.strip()]
        if len(lines) != len(truth):
            bad[name] = f"{len(lines)} lines for {len(truth)} test files"
            continue
        # predictions are label indices; the fitted indexer maps them back
        hits = sum(1 for k, p in lines if float(labels[int(float(p))]) == truth.get(k))
        acc[name] = hits / len(truth)
        if acc[name] < ACCURACY_FLOOR[name]:
            bad[name] = f"accuracy {acc[name]:.3f} below floor {ACCURACY_FLOOR[name]}"
    return bad, acc


# ------------------------------------------------------------------ metrics

def end_to_end(rec, timed):
    """CPU seconds of the driver JVM, all threads: from its start to the end
    of the set-up, and inside the timed operations. CPU time rather than
    wall time, because time the hypervisor gives to other guests stretches
    wall time far more (see README, Steadiness)."""
    return {
        "setup_s": (rec["setup_cpu_s"], "s"),
        "cpu_s": (sum(o["cpu"] for o in timed) / 1e9, "s"),
    }


def run_once(workload, seed, seconds, trace):
    jars = spark_jars()
    classes = build(jars)
    inp, extra = workload_setup(workload, seed)
    cores = len(os.sched_getaffinity(0))
    heap, mem_kb = heap_gb()
    host = {"nproc": cores, "mem_total_kb": mem_kb, "heap_gb": heap,
            "load_start": loadavg(), "cpu_probe_s": cpu_probe()}
    host["io_probe_s"], host["io_probe_mb"] = io_probe(IO_PROBE_FILE)
    work = os.path.join(STATE, "runs", f"{workload}-s{seed}-t{int(trace)}")
    ticks = cpu_ticks()
    rec = run_driver(classes, jars, workload, inp, work, seed, trace, cores, extra)
    host["load_end"] = loadavg()
    host["steal_ratio"] = steal_ratio(ticks, cpu_ticks())

    timed = [o for o in rec["ops"] if o["timed"]]
    failed_names = {o["name"] for o in timed if not o["ok"]}
    if workload == "imdb_pipeline":
        bad, acc = check_imdb(inp, work, rec)
        failed_names |= {f"predict_{n}" for n in bad}
        rows_out = IMDB_TEST * len(rec["labels"])
    else:
        (bad, rows), acc = check_queries(inp, work, rec["dumps"]), {}
        failed_names |= set(bad)
        rows_out = sum(rows.get(o["name"], 0) for o in timed)
    failed = sum(1 for o in timed if o["name"] in failed_names)
    metrics = end_to_end(rec, timed)
    if trace:
        metrics = layers.per_layer(rec, timed, rows_out)
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "host": host, "setup_wall_s": rec["setup_wall_s"],
              "wall_s": sum((o["t1"] - o["t0"]) / 1e9 for o in timed), "check_failures": bad, "accuracy": acc,
              "op_errors": {o["name"]: o["error"] for o in timed if not o["ok"]},
              "metrics": metrics}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(record, f, indent=1)
    for k, v in bad.items():
        print(f"[perfbench] check failed: {k}: {v}", file=sys.stderr)
    return rec, timed, record, failed


def result_line(timed, failed, metrics):
    return json.dumps({
        "correct": failed == 0, "attempted": len(timed), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}})


def main():
    # turn SIGTERM into SystemExit so the driver JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="write the traced-run report to this file")
    args = ap.parse_args()
    if args.report:
        # untraced runs on both sides of the traced one, so that drift of
        # the host between runs does not read as tracing overhead
        plain = [run_once(args.workload, args.seed, args.seconds, False)[2]]
        rec, timed, traced, failed = run_once(args.workload, args.seed, args.seconds, True)
        plain.append(run_once(args.workload, args.seed, args.seconds, False)[2])
        text, covered = layers.report(args.workload, rec, timed, plain, traced)
        with open(args.report, "w") as f:
            f.write(text)
        print(result_line(timed, failed, traced["metrics"]))
        if not covered:
            die("layer check failed: instruments leave more than 10% of an operation's "
                "wall time to `other`", code=1)
        return
    _, timed, record, failed = run_once(args.workload, args.seed, args.seconds, bool(args.trace))
    print(result_line(timed, failed, record["metrics"]))


if __name__ == "__main__":
    main()
