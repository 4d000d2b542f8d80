#!/usr/bin/env python3
"""Print what a traced benchmark run measured.

    python3 perfbench/trace_report.py [TRACE.json ...]

Default: every file in perfbench/target/traces. For each trace it lists the
layers by self time (span duration minus the part its child spans cover)
summed over the traced passes, the tracing overhead, the per-layer
metrics, and each operation's largest layers, so a claim such as "this
query is build-bound" can be read from the artifact.
"""
import glob
import json
import os
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


def show(path, top_ops=8):
    with open(path) as fh:
        t = json.load(fh)
    spans = t["spans"]
    traced = [p for p in t["passes"] if p["traced"]]
    print("== %s seed %d (%s)" % (t["workload"], t["seed"], os.path.basename(path)))
    oh = t["tracing_overhead"]
    print("tracing overhead: %s (traced pass %.3f s vs untraced %.3f s)" % (
        "n/a" if oh is None else "%+.1f%%" % (100 * oh),
        sum(p["wall_s"] for p in traced) / max(len(traced), 1),
        t["untraced"].get("pass_s", float("nan"))))
    print("host window: %s" % t["host_window"])
    for p in t["passes"]:
        print("  pass %d%s %.3f s  calib %.4f s  load %.2f steal %.3f%%" % (
            p["pass"], " traced" if p["traced"] else "", p["wall_s"], p["calib_s"],
            p["host"]["load"], p["host"]["steal_pct"]))
    total = sum(s["self_s"] for s in spans)
    print("layers by self time, over %d traced pass(es):" % len(traced))
    for name, secs in benchlib.self_time_table(spans):
        print("  %-22s %9.3f s  %5.1f%%" % (name, secs, 100 * secs / total if total else 0))
    rows = benchlib.op_breakdown(spans)
    worst = max((abs(r[3]) for r in rows), default=0.0)
    print("operations: %d; largest |wall - sum of self times|: %.2e s" % (len(rows), worst))
    for name, wall, layers, _ in sorted(rows, key=lambda r: -r[1])[:top_ops]:
        parts = ", ".join("%s %.3f" % kv for kv in layers[:3])
        print("  %-28s %7.3f s: %s" % (name, wall, parts))
    print("per-layer metrics (median over traced passes; 0 = layer not exercised):")
    for k in benchlib.PER_LAYER:
        v = t["layers"][k]
        if v:
            print("  %-36s %.6g %s" % (k, v, benchlib.unit_of(k)))
    print()


def main(paths):
    if not paths:
        paths = sorted(glob.glob(os.path.join(HERE, "target", "traces", "*.json")))
    if not paths:
        print("no trace files; run perfbench/run.py with --trace 1 first", file=sys.stderr)
        return 1
    for p in paths:
        show(p)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
