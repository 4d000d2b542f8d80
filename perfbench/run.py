#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) and the harness (`perfbench/src`) from source with the
Scala compiler in Spark's jars and stamps the build with a digest of the
sources, so later runs reuse it. Each run starts
one JVM (perfbench.Harness), which sets up a `Sessions.local` session sized
to the host's cores, runs the workload in a closed loop with one client
thread, and writes raw measurements; this script checks the outputs,
derives the metrics and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans and counts go to
perfbench/target/traces/<workload>-seed<N>.json (read them with
perfbench/trace_report.py).

    python3 perfbench/run.py --record

re-records perfbench/expected/fingerprints.json from every contract query.
Adding --full to a contract_batch run runs every contract query (135 batch
queries and 9 drains) instead of the workload's subset: the census that
shows whether the subset's layer shares match the whole contract.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

WORKLOADS = ("tokenize_ref", "contract_batch")
# Gated by BENCHMARK.json; the report lines also print values_per_s,
# op_p50_s, op_p90_s and failed_share where they apply.
END_TO_END = ["setup_s", "pass_s", "peak_rss_bytes"]
UNITS = {"setup_s": "s", "values_per_s": "1/s", "op_p50_s": "s", "op_p90_s": "s",
         "pass_s": "s", "failed_share": "ratio", "peak_rss_bytes": "bytes"}
# The contract queries contract_batch runs: one batch query from each
# module object of SparkEntry.modules (tests/test_benchlib.py checks that
# every module is covered), chosen on a traced --full census so that their
# build / plan / execution self-time shares, single-task-stage share and
# core use match those of all 135 batch queries (README.md has the
# figures), and one live drain, the stateful watermark dedup, which gives
# the StreamOps layers (micro-batches, state-store commits) their numbers.
QUERIES = {
    "contract_batch": [
        "q_ann_pq", "q_anti_join", "q_argmax", "q_bucketed_join", "q_corpus_funnel",
        "q_csv_scan", "q_dedup_exact", "q_exists_subquery", "q_gap_fill", "q_json_scan",
        "q_lang_breakdown", "q_media_resize", "q_mixture_sample", "q_orc_scan", "q_pagerank",
        "q_scalar_subquery", "q_schema_infer_json", "q_tfidf", "q_tokenize_rank", "q_tpch_q8",
        "q_truncate_budget", "q_typed_agg", "q_zorder_cluster", "q_stream_dedup_wm_live"],
}
DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected", "fingerprints.json")
HOST_REFERENCE = os.path.join(HERE, "expected", "host.json")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 600
JVM_TIMEOUT_S = 170
FULL_TIMEOUT_S = 1800
# A token bin may hold this share more or fewer rows than rows/bins: exact
# quantile boundaries on continuous data put rows/bins in every bin, up to
# the few values that rounding a boundary to 6 decimals moves across it.
BIN_TOLERANCE = 0.001
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def run_proc(cmd, cwd, timeout, env=None, stdout=None):
    """Run cmd (a JVM, which starts no processes of its own) and wait for
    it; kill it on timeout, or when this script is interrupted or
    terminated. Returns the exit code. The child stays in this script's
    process group, so killing the group stops it too."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or sys.stderr,
                            stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log("timed out after %ds: %s" % (timeout, cmd[0]))
        return -1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def java():
    """The java launcher: $JAVA_HOME's, else the one on PATH, else None."""
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "java"), os.X_OK):
        return os.path.join(home, "bin", "java")
    return shutil.which("java")


def scala_sources():
    """The engine's Scala sources and the harness's, in a fixed order."""
    out = []
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            out += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    return out


def source_digest(sources):
    h = hashlib.sha256()
    for f in sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the Spark distribution: $SPARK_HOME's, else
    that of the spark-submit on PATH, else the one the repository's own
    build.sbt compiles against (its `unmanagedBase`). None if none exists."""
    homes = [os.environ.get("SPARK_HOME")]
    if shutil.which("spark-submit"):
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))
    candidates = [os.path.join(h, "jars") for h in homes if h]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    except OSError:
        pass
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")) and \
                glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    return None


def build():
    """Compile the engine and the harness into CLASSES, unless the stamped
    digest of their sources still matches. The compiler is the Scala
    compiler Spark ships in its jars, the version Spark itself is built
    with, so nothing is resolved or downloaded and no sbt state is used."""
    sources = scala_sources()
    stamp = os.path.join(TARGET, "classes.stamp")
    digest = source_digest(sources)
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return True
    log("compiling %d Scala sources (engine and harness)" % len(sources))
    tmp = os.path.join(TARGET, "build-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-Djava.io.tmpdir=" + tmp,
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", os.path.join(tmp, "classes"), "@" + args]
    if run_proc(cmd, ROOT, BUILD_TIMEOUT_S) != 0:
        return False
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(os.path.join(tmp, "classes"), CLASSES)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return True


def harness(args, work, timeout=JVM_TIMEOUT_S):
    """Run perfbench.Harness in a fresh work directory; return its exit code."""
    cp = os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    os.makedirs(os.path.join(work, "tmp"))
    # SPARK_GRAFT_* knobs would change the session or the scratch location
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    cmd = ([java()] + opens + [
        # a fixed heap and young generation: peak RSS then follows live data
        # rather than how far G1 chose to grow the heap in this run
        "-Xms3g", "-Xmx3g", "-Xmn768m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.system.home=" + work, "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness"] + args)
    return run_proc(cmd, work, timeout, env)


def load_expected():
    with open(EXPECTED) as fh:
        return json.load(fh)


def check_ops(raw, expected):
    """Mark each op ok or not; returns a list of (op, problem or None)."""
    out = []
    hashes = set()
    for op in raw["ops"]:
        fp = op["fingerprint"]
        problem = op["error"]
        if problem is None and raw["workload"] == "tokenize_ref":
            rows, cols = raw["rows"], raw["cols"]
            per_bin = rows / 100.0
            tol = max(2.0, BIN_TOLERANCE * per_bin)
            if fp["rows"] != rows:
                problem = "tokenized %d rows, expected %d" % (fp["rows"], rows)
            elif fp["out_of_range"]:
                problem = "%d tokens outside [0, 99]" % fp["out_of_range"]
            elif abs(fp["min_bin"] - per_bin) > tol or abs(fp["max_bin"] - per_bin) > tol:
                problem = "bin counts %d..%d, expected %.0f +- %.0f" % (
                    fp["min_bin"], fp["max_bin"], per_bin, tol)
            else:
                pinned = expected.get("tokenize_ref", {}).get(str(raw["seed"]))
                if pinned is not None and fp["hash"] != pinned:
                    problem = "token checksum %s, pinned %s" % (fp["hash"], pinned)
                hashes.add(fp["hash"])
        elif problem is None:
            want = expected["queries"].get(op["name"])
            if want is None:
                problem = "no expected fingerprint"
            elif (fp["rows"], fp["hash"]) != (want["rows"], want["hash"]):
                problem = "fingerprint rows=%d hash=%s, expected rows=%d hash=%s" % (
                    fp["rows"], fp["hash"], want["rows"], want["hash"])
        out.append((op, problem))
    if len(hashes) > 1:
        out = [(op, p or "token checksum differs between iterations of one seed")
               for op, p in out]
    return out


def end_to_end(raw, checked):
    """End-to-end metrics from the untraced measured passes. Returns
    (metrics dict with None where not reported, attempted, failed)."""
    measured = [(op, p) for op, p in checked if op["pass"] >= 1]
    attempted = len(measured)
    failed = sum(1 for _, p in measured if p)
    walls = [op["wall_s"] for op, _ in measured if not op["traced"]]
    passes = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
    m = {
        "setup_s": raw["setup"]["total_s"],
        "op_p50_s": statistics.median(walls),
        "op_p90_s": benchlib.percentile(walls, 90),
        "pass_s": statistics.median(passes),
        "failed_share": benchlib.failed_share(attempted, failed),
        "peak_rss_bytes": raw["peak_rss_bytes"],
        "values_per_s": (raw["rows"] * raw["cols"] / statistics.median(walls)
                         if raw["workload"] == "tokenize_ref" else None),
    }
    return m, attempted, failed


def cpu_model():
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


def calib_reference(cores):
    """The quiet-host calibration wall recorded for this CPU and core
    count in expected/host.json, or None."""
    with open(HOST_REFERENCE) as fh:
        ref = json.load(fh)
    if ref["cpu"] == cpu_model() and ref["cores"] == cores:
        return ref["calib_s"]
    return None


def host_window(raw):
    """The run's host-window verdict line (see benchlib.host_verdict)."""
    calib = statistics.median(p["calib_s"] for p in raw["passes"])
    verdict, reasons = benchlib.host_verdict(raw["host"]["steal_pct"], calib,
                                             calib_reference(raw["cores"]))
    return "%s (%s)" % (verdict, "; ".join(reasons))


def report(raw, checked, e2e, attempted, failed):
    say = lambda s: print(s, flush=True)  # noqa: E731
    say("workload %s seed %d: %d cores, %d measured passes, %d ops attempted, %d failed" % (
        raw["workload"], raw["seed"], raw["cores"],
        sum(1 for p in raw["passes"] if not p["traced"]), attempted, failed))
    s = raw["setup"]
    say("  setup: jvm %.3f s + session %.3f s + prepare %.3f s + warm-up %.3f s" % (
        s["jvm_boot_s"], s["session_s"], s["prepare_s"], s["warmup_s"]))
    for k in ["setup_s", "values_per_s", "op_p50_s", "op_p90_s", "pass_s",
              "failed_share", "peak_rss_bytes"]:
        v = e2e[k]
        if v is None:
            if k == "op_p90_s":
                n = sum(1 for op, _ in checked if op["pass"] >= 1 and not op["traced"])
                say("  %-15s not reported: %d samples, fewer than 10 beyond p90" % (k, n))
            continue
        say("  %-15s %.6g %s" % (k, v, UNITS[k]))
    h = raw["host"]
    say("  host run: load %.2f steal %.3f%%; window %s" % (
        h["load"], h["steal_pct"], host_window(raw)))
    for p in raw["passes"]:
        say("  pass %d%s: %.3f s, gc %.3f s, calib %.4f s, load %.2f steal %.3f%%" % (
            p["pass"], " (traced)" if p["traced"] else "", p["wall_s"], p["gc_s"],
            p["calib_s"], p["host"]["load"], p["host"]["steal_pct"]))
    if raw["workload"] == "tokenize_ref":
        fps = [op["fingerprint"] for op, _ in checked if op["fingerprint"]]
        if fps:
            say("  tokens: %d rows x %d columns, bin counts %d..%d (ideal %.0f), checksum %s" % (
                raw["rows"], raw["cols"], min(f["min_bin"] for f in fps),
                max(f["max_bin"] for f in fps), raw["rows"] / 100.0, fps[0]["hash"]))
    walls = {}
    for op, _ in checked:
        walls.setdefault(op["name"], ([], []))[op["pass"] >= 1].append(op["wall_s"])
    for name, (warm, measured) in walls.items():
        say("  op %-26s warm-up %s s, measured %s s" % (
            name, " ".join("%.3f" % w for w in warm), " ".join("%.3f" % w for w in measured)))
    for op, problem in checked:
        if problem:
            say("  FAILED %s (pass %d): %s" % (op["name"], op["pass"], problem))


def record():
    work = os.path.join(TARGET, "work", "record")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "fingerprints.json")
    if harness(["--record", out, "--data", DATA], work) != 0:
        return 1
    with open(out) as fh:
        rec = json.load(fh)
    old = load_expected() if os.path.exists(EXPECTED) else {}
    rec["tokenize_ref"] = old.get("tokenize_ref", {})
    rec["data"] = os.path.relpath(DATA, ROOT)
    with open(EXPECTED, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--full", action="store_true",
                    help="run every batch query or drain (census; not the benchmark)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log("engine sources not found at %s: run from the root of a checkout" % ENGINE_SRC)
        return 2
    if java() is None:
        log("no java launcher: set JAVA_HOME")
        return 2
    if spark_jars() is None:
        log("no Spark distribution with a Scala compiler found: set SPARK_HOME")
        return 2
    if not build():
        log("build failed")
        return 2
    if args.record:
        return record()
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    expected = load_expected()
    queries = QUERIES.get(args.workload, [])
    if args.full and queries:
        queries = sorted(expected["queries"])

    work = os.path.join(TARGET, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    raw_path = os.path.join(work, "raw.json")
    try:
        rc = harness(["--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", str(args.trace),
                      "--queries", ",".join(queries), "--data", DATA, "--work", work,
                      "--out", raw_path], work, FULL_TIMEOUT_S if args.full else JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(raw_path):
            log("harness failed with exit code %d" % rc)
            return 1
        with open(raw_path) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checked = check_ops(raw, expected)
    e2e, attempted, failed = end_to_end(raw, checked)
    report(raw, checked, e2e, attempted, failed)
    correct = all(p is None for _, p in checked)
    if args.trace:
        layers, overhead, spans = benchlib.layer_metrics(raw)
        trace_dir = os.path.join(TARGET, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, "%s%s-seed%d.json" % (
            args.workload, "-full" if args.full else "", args.seed))
        untraced = {k: v for k, v in e2e.items() if v is not None}
        with open(trace_path, "w") as fh:
            json.dump({"workload": raw["workload"], "seed": raw["seed"], "cores": raw["cores"],
                       "setup": raw["setup"], "host": raw["host"],
                       "host_window": host_window(raw), "passes": raw["passes"],
                       "tracing_overhead": overhead, "untraced": untraced,
                       "layers": layers, "spans": spans}, fh)
        say_overhead = "n/a" if overhead is None else "%+.1f%%" % (100 * overhead)
        print("  tracing overhead (traced / untraced pass - 1): %s; trace: %s" % (
            say_overhead, os.path.relpath(trace_path, ROOT)), flush=True)
        metrics = {k: {"value": layers[k], "unit": benchlib.unit_of(k)}
                   for k in benchlib.PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    # SIGTERM unwinds like Ctrl-C, so run_proc stops the JVM before exiting
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    sys.exit(main())
