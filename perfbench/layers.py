"""Per-layer metrics and self times of a traced run.

The driver's record holds spans (operations, SQL executions, plan phases,
jobs, stages, task run intervals) and counters observed through Spark's
listeners, plus the spans the driver itself records around the program's
entry points. Only what falls inside timed operations counts. Each timed
operation's wall time is split on its timeline into layers by self time:
a span's duration minus the part of it that its child spans cover. A
layer is credited only with time one of its spans covers:

  exec      some task of the operation is running
  sched     a job is active but none of its tasks runs, or a SQL
            execution is active outside jobs and plan phases (stage
            submission, AQE re-planning, broadcast and result handling)
  plans     an analysis, optimization or planning phase, outside jobs
  codegen   Spark's codegen compile time (a duration, not a span), taken
            out of the SQL-execution time of `sched`, then out of the
            driver spans below; never out of `other`
  queries   the rest of the driver's span around `SparkEntry.queries(...)`
  ml        the rest of its spans around a pipeline's `fit` and a fitted
            model's `transform`
  sources   the rest of its spans around `CorpusReader.loadLabeled`,
            `loadUnknown` and `writeTsv`
  storage   the rest of its spans around caching the ingested corpus
            (`Dataset.cache`, which plans the cached query)
  other     whatever no span covers

The layers therefore add up to an operation's wall time by construction;
what measures the instruments is the share left to `other`.
"""
import statistics

MB = 1048576.0
LAYERS = ("queries", "plans", "codegen", "sched", "exec", "ml", "sources", "storage",
          "other")
# the layers the driver's own spans are named after
DRIVER_LAYERS = ("queries", "ml", "sources", "storage")
# largest share of an operation's wall time the report's check lets
# `other` have
OTHER_MAX = 0.10
MODULES = ("Relational", "TextQueries", "SimilarityQueries", "MlQueries",
           "MultimodalQueries", "SketchQueries", "StatsQueries")
LR_FITS = ("fit_script5", "fit_script3")


def union(iv):
    out = []
    for a, b in sorted(i for i in iv if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def clip(iv, a, b):
    return union([(max(x, a), min(y, b)) for x, y in iv])


def length(iv):
    return sum(b - a for a, b in iv)


def intersect(u, v):
    out, i, j = [], 0, 0
    while i < len(u) and j < len(v):
        a, b = max(u[i][0], v[j][0]), min(u[i][1], v[j][1])
        if b > a:
            out.append([a, b])
        if u[i][1] < v[j][1]:
            i += 1
        else:
            j += 1
    return out


def subtract(u, v):
    """Intervals of u not covered by v (both unions)."""
    return union([(a, b) for a, b in _gaps(u, v)])


def _gaps(u, v):
    for a, b in u:
        cur = a
        for x, y in v:
            if y <= cur or x >= b:
                continue
            if x > cur:
                yield (cur, x)
            cur = max(cur, y)
        if cur < b:
            yield (cur, b)


class Trace:
    """The record's trace, grouped by timed operation."""

    def __init__(self, rec, timed):
        t = rec["trace"]
        self.t, self.timed = t, timed
        self.ids = {o["id"] for o in timed}
        self.jobs = [j for j in t["jobs"] if j[0] in self.ids]
        self.stages = [s for s in t["stages"] if s[0] in self.ids]
        self.tasks = [k for k in t["tasks"] if k[0] in self.ids]
        self.codegen = {c[0]: c[1:] for c in t["codegen"] if c[0] in self.ids}
        self.spans = [s for s in rec["spans"] if s[0] in self.ids]
        # plan phases and events carry no operation id: place them by time
        self.qes = [(self.op_at(min((p[0] for p in q[0].values()), default=-1)), q)
                    for q in t["queries"]]
        self.qes = [(o, q) for o, q in self.qes if o is not None]
        self.events = [(self.op_at(e[1]), e) for e in t["events"]]
        self.events = [(o, e) for o, e in self.events if o is not None]

    def op_at(self, ts):
        for o in self.timed:
            if o["t0"] <= ts <= o["t1"]:
                return o["id"]
        return None

    def split(self, o):
        """Self time per layer of one operation, in seconds."""
        t0, t1 = o["t0"], o["t1"]
        jobs = clip([(j[2], j[3]) for j in self.jobs if j[0] == o["id"]], t0, t1)
        tasks = intersect(union([(k[2], k[3]) for k in self.tasks if k[0] == o["id"]]), jobs)
        plans = subtract(clip([tuple(p) for oid, q in self.qes if oid == o["id"]
                               for p in q[0].values()], t0, t1), jobs)
        sql = subtract(subtract(clip(self.t["sql_executions"], t0, t1), jobs), plans)
        rest = subtract(subtract(subtract([[t0, t1]], jobs), plans), sql)
        own = {}
        for layer in DRIVER_LAYERS:
            own[layer] = intersect(rest, clip([(s[2], s[3]) for s in self.spans
                                               if s[0] == o["id"] and s[1] == layer], t0, t1))
            rest = subtract(rest, own[layer])
        out = dict.fromkeys(LAYERS, 0.0)
        out["exec"] = length(tasks) / 1e9
        out["sched"] = (length(jobs) - length(tasks) + length(sql)) / 1e9
        out["plans"] = length(plans) / 1e9
        for layer in DRIVER_LAYERS:
            out[layer] = length(own[layer]) / 1e9
        out["other"] = length(rest) / 1e9
        # codegen has a duration but no span: it is taken out of the
        # SQL-execution part of sched first, then out of the driver spans,
        # never out of `other`
        cg = self.codegen.get(o["id"], [0, 0, 0])[0] / 1e9
        for layer in ("sched",) + DRIVER_LAYERS:
            taken = min(cg, length(sql) / 1e9 if layer == "sched" else out[layer])
            out[layer] -= taken
            out["codegen"] += taken
            cg -= taken
        return out


def wall(o):
    return (o["t1"] - o["t0"]) / 1e9


def per_layer(rec, timed, rows_out):
    tr = Trace(rec, timed)
    t = tr.t
    walls = sum(wall(o) for o in timed)
    col = lambda i: sum(k[i] for k in tr.tasks)  # noqa: E731
    phase = lambda n: sum(q[0][n][1] - q[0][n][0]  # noqa: E731
                          for _, q in tr.qes if n in q[0]) / 1e9
    ev = lambda kind: sum(e[2] for _, e in tr.events if e[0] == kind)  # noqa: E731
    ops_of = lambda pred: {o["id"] for o in timed if pred(o)}  # noqa: E731
    jobs_in = lambda ids: sum(1 for j in tr.jobs if j[0] in ids)  # noqa: E731

    durations = {}
    for k in tr.tasks:
        durations.setdefault(k[1], []).append(k[3] - k[2])
    straggler = [max(d) / max(statistics.median(d), 1e6)
                 for d in durations.values() if len(d) >= 2]
    idle = 0.0
    for o in timed:
        jobs = clip([(j[2], j[3]) for j in tr.jobs if j[0] == o["id"]], o["t0"], o["t1"])
        idle += wall(o) - length(jobs) / 1e9
    build_ops = [o for o in timed if o["kind"] == "query"]
    builds = [[o["t0"], o["tb"]] for o in build_ops]
    lr_ids = ops_of(lambda o: o["name"] in LR_FITS)
    lr_iter = rec.get("lr_iterations", 0)
    inv = sum(q[1] for _, q in tr.qes)
    run_s = col(5) / 1e3

    m = {
        "plans.analysis_s": (phase("analysis"), "s"),
        "plans.optimization_s": (phase("optimization"), "s"),
        "plans.planning_s": (phase("planning"), "s"),
        "plans.rule_effective_ratio":
            (sum(q[2] for _, q in tr.qes) / inv if inv else 0.0, "ratio"),
        "plans.aqe_updates": (ev("aqe_update"), "count"),
        "codegen.compile_s": (sum(c[0] for c in tr.codegen.values()) / 1e9, "s"),
        "codegen.compiles": (sum(c[1] for c in tr.codegen.values()), "count"),
        "codegen.class_kb":
            (sum(c[2] for c in tr.codegen.values()) * t["class_mean_bytes"] / 1024, "KB"),
        "sched.jobs": (len(tr.jobs), "count"),
        "sched.stages": (len(tr.stages), "count"),
        "sched.tasks": (len(tr.tasks), "count"),
        "sched.driver_idle_s": (idle, "s"),
        "sched.task_delay_s": (col(15) / 1e3, "s"),
        "exec.run_s": (run_s, "s"),
        "exec.cpu_s": (col(6) / 1e9, "s"),
        "exec.gc_s": (col(7) / 1e3, "s"),
        "exec.core_busy_ratio": (run_s / (walls * t["cores"]), "ratio"),
        "exec.shuffle_write_mb": (col(8) / MB, "MB"),
        "exec.shuffle_read_mb": (col(9) / MB, "MB"),
        "exec.fetch_wait_s": (col(10) / 1e3, "s"),
        "exec.spill_mb": (col(11) / MB, "MB"),
        "exec.straggler_ratio": (statistics.median(straggler) if straggler else 1.0, "ratio"),
        "exec.failed_tasks": (col(4), "count"),
        "sources.bytes_read_mb": (col(12) / MB, "MB"),
        "sources.rows_read": (col(13), "count"),
        "sources.files_read": (sum(q[3] for _, q in tr.qes), "count"),
        "sources.scan_s": (sum(q[5] for _, q in tr.qes) / 1e3, "s"),
        "sources.list_s": (sum(q[4] for _, q in tr.qes) / 1e3, "s"),
        "sources.rows_read_per_row_out": (col(13) / rows_out if rows_out else 0.0, "ratio"),
        "queries.build_s": (sum((o["tb"] - o["t0"]) / 1e9 for o in build_ops), "s"),
        "queries.build_jobs":
            (sum(1 for j in tr.jobs if any(a <= j[2] <= b for a, b in builds)), "count"),
    }
    for mod in MODULES:
        m[f"queries.{mod}.wall_s"] = (sum(wall(o) for o in timed if o["module"] == mod), "s")
    m.update({
        "streaming.batches": (ev("stream_batch"), "count"),
        "streaming.add_batch_s": (ev("stream_add_batch_ms") / 1e3, "s"),
        "streaming.trigger_overhead_s":
            ((ev("stream_trigger_ms") - ev("stream_add_batch_ms")) / 1e3, "s"),
        "streaming.state_commit_s": (ev("stream_commit_ms") / 1e3, "s"),
        "ml.fit_jobs": (jobs_in(ops_of(lambda o: o["kind"] == "fit")), "count"),
        "ml.lr_iterations": (lr_iter, "count"),
        "ml.jobs_per_iteration": (jobs_in(lr_ids) / lr_iter if lr_iter else 0.0, "ratio"),
        "storage.cached_mb": (ev("cached_bytes") / MB, "MB"),
        "storage.write_mb": (col(14) / MB, "MB"),
        "harness.cleanup_s": (sum((o["t2"] - o["t1"]) / 1e9 for o in timed), "s"),
        "jvm.driver_gc_s": (rec["jvm"]["gc_s"], "s"),
        "jvm.jit_s": (rec["jvm"]["jit_s"], "s"),
        "jvm.heap_after_gc_mb": (rec["jvm"]["heap_after_gc_mb"], "MB"),
        "jvm.rss_peak_mb": (rec["jvm"]["rss_peak_mb"], "MB"),
    })
    for kind in ("ingest", "fit", "predict"):
        m[f"pipeline.{kind}_s"] = (sum(wall(o) for o in timed if o["kind"] == kind), "s")
    split = totals(tr)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (split[layer], "s")
    m["trace.wall_s"] = (walls, "s")
    m["trace.cpu_s"] = (sum(o["cpu"] for o in timed) / 1e9, "s")
    m["setup.wall_s"] = (rec["setup_wall_s"], "s")
    m["trace.op_p50_s"] = (statistics.median(wall(o) for o in timed), "s")
    m["trace.unattributed_ratio"] = (split["other"] / walls, "ratio")
    return m


def totals(tr):
    out = dict.fromkeys(LAYERS, 0.0)
    for o in tr.timed:
        for k, v in tr.split(o).items():
            out[k] += v
    return out


def report(workload, rec, timed, plain, traced):
    """Markdown report of one traced run next to the untraced runs made
    just before and after it on the same seed, and whether every
    operation passes the layer check."""
    tr = Trace(rec, timed)
    walls = sum(wall(o) for o in timed)
    untraced = [p["wall_s"] for p in plain]
    base = statistics.mean(untraced)
    cpu = traced["metrics"]["trace.cpu_s"][0]
    cpu_untraced = [p["metrics"]["cpu_s"][0] for p in plain]
    cpu_base = statistics.mean(cpu_untraced)
    split = totals(tr)
    host = traced["host"]
    lines = [
        f"# Traced run: `{workload}`",
        "",
        f"Seed {traced['seed']}, `--seconds {traced['seconds']:g}`; host: "
        f"{host['nproc']} cores, MemTotal {host['mem_total_kb'] // 1024} MiB, "
        f"load {host['load_start']:.2f} → {host['load_end']:.2f}, "
        f"CPU probe {host['cpu_probe_s']:.3f} s, I/O probe {host['io_probe_s'] * 1e3:.1f} ms "
        f"for {host['io_probe_mb']:.2f} MB.",
        "",
        f"Timed operations: {len(timed)}; their wall time: {walls:.3f} s.",
        "",
        "## Tracing overhead",
        "",
        "Untraced `wall_s` before and after the traced run: "
        + ", ".join(f"{u:.3f} s" for u in untraced)
        + f" (mean {base:.3f} s); traced {walls:.3f} s; overhead "
        f"{walls - base:+.3f} s ({(walls - base) / base * 100:+.1f}%), same seed.",
        "",
        "Untraced `cpu_s`: " + ", ".join(f"{u:.3f} s" for u in cpu_untraced)
        + f" (mean {cpu_base:.3f} s); traced {cpu:.3f} s; overhead "
        f"{cpu - cpu_base:+.3f} s ({(cpu - cpu_base) / cpu_base * 100:+.1f}%). Share of "
        "the host's CPU time taken by other guests (steal) during the three runs: "
        + ", ".join(f"{r['host']['steal_ratio'] * 100:.1f}%" for r in (plain[0], traced, plain[1]))
        + ".",
        "",
        "## Self time per layer",
        "",
        "| layer | self time (s) | share of operation wall |",
        "|---|---:|---:|",
    ]
    for layer in LAYERS:
        lines.append(f"| {layer} | {split[layer]:.3f} | {split[layer] / walls * 100:.1f}% |")
    named = walls - split["other"]
    worst = max((tr.split(o)["other"] / wall(o), o["name"]) for o in timed)
    covered = worst[0] <= OTHER_MAX
    lines += [
        f"| **sum** | {sum(split.values()):.3f} | {sum(split.values()) / walls * 100:.1f}% |",
        "",
        "## Check",
        "",
        "Every layer but `other` is credited only with time one of its spans "
        "covers, and `other` holds the rest, so the rows above sum to the wall "
        "time by construction. The check is how much the named layers leave to "
        "`other`: at most 10% of each operation's wall time.",
        "",
        f"- Named layers: {named:.3f} s of {walls:.3f} s "
        f"({named / walls * 100:.1f}%); `other` {split['other'] / walls * 100:.2f}%.",
        f"- Largest share of one operation left to `other`: {worst[0] * 100:.2f}% "
        f"({worst[1]}). " + ("PASS (within 10%)." if covered else "FAIL (beyond 10%)."),
        "",
        "## Slowest operations",
        "",
        "| operation | wall (s) | " + " | ".join(LAYERS) + " |",
        "|---|---:|" + "---:|" * len(LAYERS),
    ]
    for o in sorted(timed, key=wall, reverse=True)[:15]:
        s = tr.split(o)
        lines.append(f"| {o['name']} | {wall(o):.3f} | "
                     + " | ".join(f"{s[k]:.3f}" for k in LAYERS) + " |")
    lines += ["", "## Per-layer metrics", "", "| metric | value | unit |", "|---|---:|---|"]
    for k, (v, u) in traced["metrics"].items():
        lines.append(f"| {k} | {v:.4g} | {u} |")
    return "\n".join(lines) + "\n", covered
