"""Arithmetic of the benchmark: percentiles, failure accounting, span self
times and the per-layer metrics derived from a traced run.

Everything here is a pure function of the harness's raw JSON, so
`perfbench/tests` can check it without a JVM.
"""
import math
import statistics

# The per-layer metrics every traced run reports, in BENCHMARK.json order.
# A layer a workload does not exercise reads 0 there.
TOKENIZE_LAYERS = [
    "sources.scan_s",
    "Tokenize.boundaries_s", "Tokenize.boundaries.jobs",
    "Tokenize.boundaries.task_cpu_s", "Tokenize.boundaries.core_util",
    "Tokenize.bucketize_s", "Tokenize.bucketize.task_cpu_s",
    "Tokenize.bucketize.core_util",
]
QUERY_LAYERS = [
    "SparkEntry.build_s", "SparkEntry.build.jobs", "plan_s",
    "exec.tasks", "exec.single_task_stages", "exec.task_cpu_s", "exec.gc_s",
    "exec.core_util",
    "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
    "exchange.fetch_wait_s", "spill.bytes",
]
STREAM_LAYERS = [
    "StreamOps.batches", "StreamOps.rows_per_batch", "StreamOps.trigger_s",
    "StreamOps.addBatch_s", "StreamOps.queryPlanning_s", "StreamOps.walCommit_s",
    "StreamOps.commitOffsets_s", "StreamOps.latestOffset_s",
    "StreamOps.outside_trigger_s", "StreamOps.state_rows", "StreamOps.state_commit_s",
]
# The module objects of SparkEntry.modules; each gets "<Module>.pass_s".
MODULES = [
    "Tokenize", "Relational", "RelationalExt", "Relational3", "TpcH", "TypedOps",
    "EventOps", "TextOps", "Dedup", "Similarity", "PipelineOps", "TrainPrep",
    "QualityOps", "Relational4", "Layout", "Bucketed", "Graph", "Multimodal",
    "CorpusPipeline", "SchemaInfer", "OrcSource", "CsvSource", "JsonSource",
    "StreamOps",
]
COMMON_LAYERS = ["Sessions.local_s", "gc_s"]
PER_LAYER = (TOKENIZE_LAYERS + QUERY_LAYERS + STREAM_LAYERS
             + [m + ".pass_s" for m in MODULES] + COMMON_LAYERS)

STREAM_PHASES = ["addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"]


def unit_of(metric):
    """Unit of a metric, read from its name."""
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes") or metric.endswith(".bytes"):
        return "bytes"
    if metric.endswith("core_util"):
        return "ratio"
    if metric.endswith("rows_per_batch"):
        return "rows"
    return "count"


def percentile(values, p, min_beyond=10):
    """Nearest-rank p-th percentile of `values`, or None unless at least
    `min_beyond` samples lie strictly beyond its rank."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def failed_share(attempted, failed):
    """Failed or wrong-output operations over attempted ones."""
    if attempted <= 0:
        raise ValueError("no operation was attempted")
    return failed / attempted


# A run is "contended" when its hypervisor steal reaches this share of all
# CPU ticks, or its calibration job ran this much slower than the
# quiet-host reference. Steal that small means the host's CPUs are
# oversubscribed; the slowdown it comes with (shared cores and caches) is
# far larger than the stolen ticks themselves.
CONTENDED_STEAL_PCT = 0.06
CONTENDED_CALIB_RATIO = 1.3


def host_verdict(steal_pct, calib_s, reference_s):
    """("clean" | "contended", [reasons]) for a run with this steal share
    (percent of all ticks over the run), median calibration wall and
    quiet-host reference wall (None when there is none for this host)."""
    reasons = ["steal %.3f%%" % steal_pct]
    contended = steal_pct >= CONTENDED_STEAL_PCT
    if reference_s is None:
        reasons.append("calib %.4f s, no reference for this host" % calib_s)
    else:
        ratio = calib_s / reference_s
        reasons.append("calib %.2fx reference" % ratio)
        contended = contended or ratio >= CONTENDED_CALIB_RATIO
    return ("contended" if contended else "clean"), reasons


def clip_spans(spans):
    """Make every span lie inside its parent and after its previous sibling.

    Spans are dicts with id, parent (0 for a root), start_ns and end_ns.
    Spans the benchmark records nest exactly; spans derived from Spark's
    clocks (planning phases, micro-batches) can stick out by a rounding
    step. Clipping makes a parent's child cover equal the sum of its
    children's durations, so self times add up to the root's wall.
    Returns new dicts; intervals that vanish get zero length."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out = {}

    def visit(parent_id, lo, hi):
        kids = sorted(by_parent.get(parent_id, []), key=lambda s: (s["start_ns"], s["id"]))
        floor = lo
        for s in kids:
            start = min(max(s["start_ns"], floor), hi)
            end = min(max(s["end_ns"], start), hi)
            out[s["id"]] = dict(s, start_ns=start, end_ns=end)
            floor = end
            visit(s["id"], start, end)

    for root in by_parent.get(0, []):
        out[root["id"]] = dict(root)
        visit(root["id"], root["start_ns"], root["end_ns"])
    return [out[s["id"]] for s in spans if s["id"] in out]


def self_times(spans):
    """Self time in seconds of each span: its duration minus the part of it
    its (clipped) children cover. Returns {span id: seconds}."""
    spans = clip_spans(spans)
    cover = {}
    for s in spans:
        if s["parent"]:
            cover[s["parent"]] = cover.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    return {s["id"]: (s["end_ns"] - s["start_ns"] - cover.get(s["id"], 0)) / 1e9 for s in spans}


def innermost(spans, t_ns):
    """Id of the shortest span containing time t_ns, or None."""
    best = None
    for s in spans:
        if s["start_ns"] <= t_ns <= s["end_ns"]:
            if best is None or s["end_ns"] - s["start_ns"] < best["end_ns"] - best["start_ns"]:
                best = s
    return None if best is None else best["id"]


def derive_spans(raw):
    """The recorded spans plus spans derived from listener events:
    one "StreamOps.batch" per micro-batch (its triggerExecution) and one
    "plan" per planning phase of a query execution, each placed under
    the innermost span that contains its midpoint. (Not its start: Spark
    stamps a micro-batch to the millisecond, so a batch that starts as an
    operation begins can carry a start just before it.)"""
    spans = [dict(s) for s in raw.get("spans", [])]
    next_id = max([s["id"] for s in spans], default=0) + 1
    by_id = {s["id"]: s for s in spans}

    def add(name, start_ns, end_ns, extra):
        nonlocal next_id
        parent = innermost(spans, (start_ns + end_ns) // 2)
        if parent is None:
            return
        s = dict(id=next_id, parent=parent, op=by_id[parent]["op"], name=name,
                 start_ns=start_ns, end_ns=end_ns, **extra)
        next_id += 1
        spans.append(s)
        by_id[s["id"]] = s

    for p in raw.get("progress", []):
        start = p["start_ns"]
        trig = p["durations_ms"].get("triggerExecution", 0)
        add("StreamOps.batch", start, start + trig * 1000000, {"progress": p})
    for e in raw.get("plans", []):
        for ph in e["phases"]:
            add("plan", ph["start_ns"], ph["end_ns"], {"phase": ph["name"]})
    return spans


def _pass_of_op(raw):
    """{root span id: pass} for traced ops, matched by time."""
    roots = [s for s in raw.get("spans", []) if s["parent"] == 0]
    ops = [o for o in raw["ops"] if o["traced"]]
    out = {}
    for r in roots:
        for o in ops:
            if o["start_ns"] <= r["start_ns"] and r["end_ns"] <= o["end_ns"]:
                out[r["id"]] = o["pass"]
    return out


def layer_metrics(raw):
    """Per-layer metrics of a traced run: every count and time is summed
    over one traced pass, and the median over traced passes is reported.
    Returns ({metric: value}, overhead share, spans with their self times
    and listener counts)."""
    cores = raw["cores"]
    spans = derive_spans(raw)
    selfs = self_times(spans)
    counts = {c["span"]: c for c in raw.get("span_counts", [])}
    op_pass = _pass_of_op(raw)
    traced = [p for p in raw["passes"] if p["traced"]]
    per_pass = []
    for p in traced:
        m = {k: 0.0 for k in PER_LAYER}
        in_pass = [s for s in spans if op_pass.get(s["op"]) == p["pass"]]

        def wall(s):
            return (s["end_ns"] - s["start_ns"]) / 1e9

        def cnt(s, key):
            return counts.get(s["id"], {}).get(key, 0)

        def named(name):
            return [s for s in in_pass if s["name"] == name]

        for s in named("sources.scan"):
            m["sources.scan_s"] += wall(s)
        for layer in ("boundaries", "bucketize"):
            ss = named("Tokenize." + layer)
            w = sum(wall(s) for s in ss)
            m["Tokenize.%s_s" % layer] = w
            m["Tokenize.%s.task_cpu_s" % layer] = sum(cnt(s, "task_cpu_s") for s in ss)
            run = sum(cnt(s, "task_run_s") for s in ss)
            m["Tokenize.%s.core_util" % layer] = run / (w * cores) if w else 0.0
            if layer == "boundaries":
                m["Tokenize.boundaries.jobs"] = sum(cnt(s, "jobs") for s in ss)
        builds = named("SparkEntry.build")
        m["SparkEntry.build_s"] = sum(wall(s) for s in builds)
        m["SparkEntry.build.jobs"] = sum(cnt(s, "jobs") for s in builds)
        m["plan_s"] = sum(wall(s) for s in named("plan"))
        m["exec.tasks"] = sum(cnt(s, "tasks") for s in in_pass)
        m["exec.single_task_stages"] = sum(cnt(s, "single_task_stages") for s in in_pass)
        m["exec.task_cpu_s"] = sum(cnt(s, "task_cpu_s") for s in in_pass)
        m["exec.gc_s"] = sum(cnt(s, "task_gc_s") for s in in_pass)
        m["exec.core_util"] = (sum(cnt(s, "task_run_s") for s in in_pass)
                               / (p["wall_s"] * cores))
        m["exchange.shuffle_write_bytes"] = sum(cnt(s, "shuffle_write_bytes") for s in in_pass)
        m["exchange.shuffle_read_bytes"] = sum(cnt(s, "shuffle_read_bytes") for s in in_pass)
        m["exchange.fetch_wait_s"] = sum(cnt(s, "fetch_wait_s") for s in in_pass)
        m["spill.bytes"] = sum(cnt(s, "spill_bytes") for s in in_pass)
        batches = [s["progress"] for s in named("StreamOps.batch")]
        if batches:
            m["StreamOps.batches"] = len(batches)
            m["StreamOps.rows_per_batch"] = sum(b["input_rows"] for b in batches) / len(batches)
            trig = sum(b["durations_ms"].get("triggerExecution", 0) for b in batches) / 1000.0
            m["StreamOps.trigger_s"] = trig
            for ph in STREAM_PHASES:
                m["StreamOps.%s_s" % ph] = sum(b["durations_ms"].get(ph, 0) for b in batches) / 1000.0
            drain_ops = {s["op"] for s in named("StreamOps.batch")}
            drain_builds = sum(wall(s) for s in builds if s["op"] in drain_ops)
            m["StreamOps.outside_trigger_s"] = drain_builds - trig
            m["StreamOps.state_rows"] = sum(b["state_rows"] for b in batches)
            m["StreamOps.state_commit_s"] = sum(b["state_commit_ms"] for b in batches) / 1000.0
        for o in raw["ops"]:
            key = o["module"] + ".pass_s"
            # a module added after BENCHMARK.json was written has no metric
            if o["traced"] and o["pass"] == p["pass"] and key in m:
                m[key] += o["wall_s"]
        m["Sessions.local_s"] = raw["setup"]["session_s"]
        m["gc_s"] = p["gc_s"]
        per_pass.append(m)
    metrics = {k: statistics.median(m[k] for m in per_pass) for k in PER_LAYER}
    overhead = tracing_overhead(raw["passes"])
    for s in spans:
        s["self_s"] = selfs[s["id"]]
        if s["id"] in counts:
            s["counts"] = {k: v for k, v in counts[s["id"]].items() if k != "span"}
    return metrics, overhead, spans


def tracing_overhead(passes):
    """Median over traced passes of wall / mean(untraced neighbours) - 1.

    Passes still speed up as the JIT warms, so each traced pass is compared
    with the untraced passes just before and after it, not with all of
    them. None without a traced pass between two untraced ones."""
    wall = {p["pass"]: p["wall_s"] for p in passes}
    ratios = []
    for p in passes:
        n = p["pass"]
        if p["traced"] and n - 1 in wall and n + 1 in wall:
            ratios.append(p["wall_s"] / ((wall[n - 1] + wall[n + 1]) / 2) - 1)
    return statistics.median(ratios) if ratios else None


def self_time_table(spans):
    """Self time summed per span name, largest first: [(name, seconds)]."""
    acc = {}
    for s in spans:
        name = "op" if s["parent"] == 0 else s["name"]
        acc[name] = acc.get(name, 0.0) + s["self_s"]
    return sorted(acc.items(), key=lambda kv: -kv[1])


def op_breakdown(spans):
    """Per operation: (op name, wall s, [(layer, self s)] largest first,
    residual = wall - sum of self times)."""
    roots = {s["id"]: s for s in spans if s["parent"] == 0}
    rows = []
    for rid, r in roots.items():
        mine = [s for s in spans if s["op"] == rid]
        acc = {}
        for s in mine:
            name = "op" if s["parent"] == 0 else s["name"]
            acc[name] = acc.get(name, 0.0) + s["self_s"]
        wall = (r["end_ns"] - r["start_ns"]) / 1e9
        rows.append((r["name"], wall, sorted(acc.items(), key=lambda kv: -kv[1]),
                     wall - sum(acc.values())))
    return rows
