"""Metric definitions and the arithmetic behind them.

End-to-end metrics come from an untraced run; per-layer metrics from a
traced run, by attributing the Spark jobs the benchmark's listener saw to
the spans the benchmark recorded around each layer call.
"""
import statistics

END_TO_END = [
    # name, unit, better, bound (share of the parent's median)
    ("op_p50_s", "s", "lower", 0.25),
    ("op_tail_s", "s", "lower", 0.25),
    ("first_op_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("state_mb", "MB", "lower", 0.1),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

# (workload, metric) pairs that are not measurements of the program:
# graph_derive writes nothing durable, so its state_mb is the size of the
# generated input, the same for a given seed on every build.
NOT_APPLICABLE = {("graph_derive", "state_mb")}

LAYERS = {
    "asset_sync": ["intel", "analysis", "ontology", "permissions", "sink", "rules",
                   "drift"],
    "graph_derive": ["centrality.triangles", "centrality.edge_support",
                     "centrality.ktruss", "centrality.pagerank",
                     "fixpoint.components", "fixpoint.coloring"],
    "stream_ingest": ["streaming.batch", "streaming.resume", "streaming.labels"],
}
LAYER_STATS = [("wall_s", "s"), ("task_cpu_s", "s"), ("driver_gap_s", "s"),
               ("jobs", "count"), ("codegen_compiles", "count"), ("shuffle_mb", "MB")]
# micro-batch jobs split by the library's own job descriptions
STREAM_PHASES = {"streaming.probe": ("probe:",),
                 "streaming.append": ("grow:",),
                 "streaming.fold": ("components: fold", "components: recovery"),
                 "streaming.snapshot": ("components: snapshot",)}
COMMON_PER_LAYER = [
    ("op.self_s", "s"), ("engine.stages", "count"), ("engine.tasks", "count"),
    ("engine.tasks_per_stage", "count"), ("engine.gc_s", "s"), ("engine.jit_s", "s"),
    ("trace.op_p50_s", "s"),
]
ASSET_PER_LAYER = [("intel.rows_merged", "count"), ("sink.mb_written", "MB")]
STREAM_PER_LAYER = [("streaming.files_per_batch", "count"),
                    ("streaming.state_files", "count"),
                    ("streaming.probe_mb_per_batch", "MB")]

# The workloads BENCHMARK.json lists. asset_sync runs by hand only: one
# epoch costs 31-46 s on four cores at any inventory size, so a run takes
# about 110 s and does not fit the per-change run budget (see BENCH.md).
BENCHMARK_WORKLOADS = ["graph_derive", "stream_ingest"]


def per_layer_names(workload=BENCHMARK_WORKLOADS[0]):
    """The per-layer metrics a traced run of `workload` prints, as (name,
    unit). Every BENCHMARK.json workload prints the same list, in
    BENCHMARK.json order; layers a workload never calls read 0."""
    if workload in BENCHMARK_WORKLOADS:
        workloads, extra = BENCHMARK_WORKLOADS, STREAM_PER_LAYER
    else:
        workloads, extra = [workload], ASSET_PER_LAYER
    out = []
    for w in workloads:
        out += [(f"{layer}.{stat}", unit) for layer in LAYERS[w] for stat, unit in LAYER_STATS]
    if "stream_ingest" in workloads:
        for phase in STREAM_PHASES:
            out += [(f"{phase}.job_wall_s", "s"), (f"{phase}.jobs", "count")]
    return out + extra + COMMON_PER_LAYER


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values):
    """The highest percentile of `values` with at least ten samples beyond
    it: the 11th-largest value, at percentile 100·(n−10)/n. Returns
    (value, percentile, samples_beyond); with fewer than 11 values there is
    no such percentile and the maximum is returned with its true count."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return v[-1], 100.0, 0
    return v[n - 11], 100.0 * (n - 10) / n, 10


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, optionally clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id → duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def end_to_end(ops, setup_s, state_mb, peak_rss_mb):
    """End-to-end metrics from the op list (first op cold, the rest warm)."""
    first = ops[0]
    warm = ops[1:] or ops
    walls = [o["end"] - o["start"] for o in warm]
    t, pct, beyond = tail(walls)
    return {
        "op_p50_s": median(walls),
        "op_tail_s": t,
        "first_op_s": first["end"] - first["start"],
        "items_per_s": sum(o["items"] for o in warm) / sum(walls),
        "setup_s": setup_s,
        "state_mb": state_mb,
        "peak_rss_mb": peak_rss_mb,
    }, {"tail_percentile": pct, "tail_beyond": beyond, "warm_ops": len(walls)}


def _attribute(spans, joblog):
    """Attach each job (and each stage, once) to the innermost span whose
    interval holds the job's start."""
    jobs = joblog["jobs"] if joblog else []
    stages = {s["id"]: s for s in (joblog["stages"] if joblog else [])}
    depth = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        d, p = 0, s["parent"]
        while p != -1:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d
    ordered = sorted(spans, key=lambda s: -depth[s["id"]])
    per_span = {s["id"]: [] for s in spans}
    seen_stages = set()
    for j in jobs:
        for s in ordered:
            if s["start"] <= j["start"] <= s["end"]:
                own = [st for st in j["stages"] if st not in seen_stages and st in stages]
                seen_stages.update(own)
                per_span[s["id"]].append((j, [stages[st] for st in own]))
                break
    return per_span


def _span_stats(span, attached):
    jobs = [j for j, _ in attached]
    stages = [st for _, sts in attached for st in sts]
    wall = span["end"] - span["start"]
    covered = union_length([(j["start"], j["end"]) for j in jobs], span["start"], span["end"])
    return {"wall_s": wall, "task_cpu_s": sum(st["cpu_s"] for st in stages),
            "driver_gap_s": wall - covered, "jobs": len(jobs),
            "codegen_compiles": span["compiles"],
            "shuffle_mb": sum(st["shuffle_write_mb"] for st in stages)}


def per_layer(workload, raw, ops_p50):
    """Per-layer metrics of a traced run: for each layer, the median over
    warm ops of the per-op sum of its spans (a layer called outside any op,
    like the streaming resume, takes the median over its spans)."""
    spans, joblog = raw["spans"], raw["joblog"]
    attached = _attribute(spans, joblog)
    by_id = {s["id"]: s for s in spans}
    op_spans = [s for s in spans if s["name"] == "op"]
    warm_ids = {s["id"] for s in op_spans[1:]} or {s["id"] for s in op_spans}

    def op_of(s):
        p = s
        while p["parent"] != -1:
            p = by_id[p["parent"]]
        return p["id"] if p["name"] == "op" else None

    out = {}
    for layer in [l for ls in LAYERS.values() for l in ls]:
        units = {}
        for s in spans:
            if s["name"] != layer:
                continue
            unit = op_of(s)
            if unit is not None and unit not in warm_ids:
                continue
            units.setdefault(unit if unit is not None else ("span", s["id"]), []).append(
                _span_stats(s, attached[s["id"]]))
        for stat, _ in LAYER_STATS:
            sums = [sum(x[stat] for x in xs) for xs in units.values()]
            out[f"{layer}.{stat}"] = median(sums)

    # micro-batch jobs by phase label
    batch_spans = [s for s in spans if s["name"] == "streaming.batch"
                   and op_of(s) in warm_ids]
    for phase, prefixes in STREAM_PHASES.items():
        walls, counts = [], []
        for s in batch_spans:
            js = [j for j, _ in attached[s["id"]]
                  if j["batch"] != "" and j["desc"].startswith(prefixes)]
            walls.append(sum(j["end"] - j["start"] for j in js))
            counts.append(len(js))
        out[f"{phase}.job_wall_s"] = median(walls)
        out[f"{phase}.jobs"] = median(counts)

    selfs = self_times(spans)
    warm_ops = [s for s in op_spans if s["id"] in warm_ids]
    out["op.self_s"] = median([selfs[s["id"]] for s in warm_ops])
    stages_per_op, tasks_per_op = [], []
    for op in warm_ops:
        sts = []
        for s in spans:
            if op_of(s) == op["id"]:
                sts += [st for _, ss in attached[s["id"]] for st in ss]
        stages_per_op.append(len(sts))
        tasks_per_op.append(sum(st["tasks"] for st in sts))
    out["engine.stages"] = median(stages_per_op)
    out["engine.tasks"] = median(tasks_per_op)
    out["engine.tasks_per_stage"] = (sum(tasks_per_op) / sum(stages_per_op)
                                     if sum(stages_per_op) else 0.0)
    wc = raw["warm_counters"]
    n = max(1, len(warm_ops))
    out["engine.gc_s"] = (wc["end"]["gc_ms"] - wc["start"]["gc_ms"]) / 1000.0 / n
    out["engine.jit_s"] = (wc["end"]["jit_ms"] - wc["start"]["jit_ms"]) / 1000.0 / n
    out["trace.op_p50_s"] = ops_p50
    return out
