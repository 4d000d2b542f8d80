"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib  # noqa: E402
import run  # noqa: E402


def span(id, parent, start, end, name="x", op=None):
    return {"id": id, "parent": parent, "op": op or (id if parent == 0 else 1),
            "name": name, "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(benchlib.percentile(list(range(99)), 90))
        self.assertEqual(benchlib.percentile(list(range(1, 101)), 90), 90)

    def test_nearest_rank(self):
        values = [float(v) for v in range(200, 0, -1)]
        self.assertEqual(benchlib.percentile(values, 90), 180.0)
        self.assertEqual(benchlib.percentile(values, 50), 100.0)

    def test_empty_and_tiny(self):
        self.assertIsNone(benchlib.percentile([], 50))
        self.assertIsNone(benchlib.percentile([1.0], 50))

    def test_median_of_small_sample_needs_twenty(self):
        self.assertIsNone(benchlib.percentile(list(range(19)), 50))
        self.assertEqual(benchlib.percentile(list(range(1, 21)), 50), 10)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 4), span(3, 1, 5, 9), span(4, 3, 6, 8)]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[1], 3.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 2.0)
        self.assertAlmostEqual(st[4], 2.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_children_that_stick_out_or_overlap_are_clipped(self):
        # a derived child overlaps its sibling and runs past its parent
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 6), span(3, 1, 5, 12)]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[2], 5.0)
        self.assertAlmostEqual(st[3], 4.0)
        self.assertAlmostEqual(st[1], 1.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_breakdown_sums_to_op_wall(self):
        spans = [span(1, 0, 0, 10, "q"), span(2, 1, 0.5, 7, "SparkEntry.build"),
                 span(3, 1, 7, 9.5, "sink"), span(4, 3, 7.1, 7.4, "plan")]
        for s, t in zip(spans, benchlib.self_times(spans).values()):
            s["self_s"] = t
        (name, wall, layers, residual), = benchlib.op_breakdown(spans)
        self.assertEqual(name, "q")
        self.assertAlmostEqual(wall, 10.0)
        self.assertEqual(layers[0][0], "SparkEntry.build")
        self.assertAlmostEqual(residual, 0.0)

    def test_derived_spans_go_under_the_innermost_span(self):
        raw = {"spans": [span(1, 0, 0, 10, "q"), span(2, 1, 1, 9, "SparkEntry.build")],
               "progress": [{"start_ns": 2 * 10**9, "durations_ms": {"triggerExecution": 1000}}],
               "plans": [{"phases": [{"name": "planning", "start_ns": 21 * 10**8,
                                      "end_ns": 22 * 10**8}]}]}
        spans = benchlib.derive_spans(raw)
        batch = next(s for s in spans if s["name"] == "StreamOps.batch")
        plan = next(s for s in spans if s["name"] == "plan")
        self.assertEqual(batch["parent"], 2)
        self.assertEqual(plan["parent"], batch["id"])

    def test_a_batch_stamped_just_before_its_operation_goes_under_it(self):
        raw = {"spans": [span(1, 0, 0, 5, "a"), span(2, 0, 5, 10, "b")],
               "progress": [{"start_ns": 5 * 10**9 - 10**6,
                             "durations_ms": {"triggerExecution": 300}}]}
        batch = next(s for s in benchlib.derive_spans(raw) if s["name"] == "StreamOps.batch")
        self.assertEqual(batch["parent"], 2)


class FailureAccounting(unittest.TestCase):
    def raw(self, ops):
        return {"workload": "contract_batch", "seed": 1,
                "setup": {"total_s": 1.0}, "peak_rss_bytes": 1,
                "passes": [{"pass": 1, "traced": False, "wall_s": 3.0}],
                "ops": ops}

    def op(self, name, pass_=1, error=None, rows=1, hash="a"):
        return {"name": name, "pass": pass_, "traced": False, "wall_s": 1.0, "error": error,
                "fingerprint": None if error else {"rows": rows, "hash": hash}}

    def test_errors_and_mismatches_count_as_attempted_and_failed(self):
        expected = {"queries": {"a": {"rows": 1, "hash": "a"}, "b": {"rows": 1, "hash": "a"},
                                "c": {"rows": 1, "hash": "a"}}}
        raw = self.raw([self.op("a"), self.op("b", error="boom"), self.op("c", hash="z"),
                        self.op("a", pass_=0)])
        checked = run.check_ops(raw, expected)
        m, attempted, failed = run.end_to_end(raw, checked)
        self.assertEqual((attempted, failed), (3, 2))
        self.assertAlmostEqual(m["failed_share"], 2 / 3)
        # a failed op still counts in the pass time and the op latencies
        self.assertEqual(m["pass_s"], 3.0)
        self.assertEqual(m["op_p50_s"], 1.0)

    def test_unknown_query_fails(self):
        checked = run.check_ops(self.raw([self.op("new")]), {"queries": {}})
        self.assertEqual(checked[0][1], "no expected fingerprint")

    def test_no_attempt_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.failed_share(0, 0)

    def test_token_checks(self):
        raw = {"workload": "tokenize_ref", "seed": 7, "rows": 100000, "cols": 2, "ops": []}

        def tok(min_bin=1000, max_bin=1000, oor=0, h="h", rows=100000):
            return {"name": "tokenize_ref", "pass": 1, "traced": False, "error": None,
                    "fingerprint": {"rows": rows, "hash": h, "min_bin": min_bin,
                                    "max_bin": max_bin, "out_of_range": oor}}
        raw["ops"] = [tok(), tok(999, 1001)]
        self.assertEqual([p for _, p in run.check_ops(raw, {})], [None, None])
        raw["ops"] = [tok(oor=3)]
        self.assertIn("outside", run.check_ops(raw, {})[0][1])
        raw["ops"] = [tok(900, 1100)]
        self.assertIn("bin counts", run.check_ops(raw, {})[0][1])
        raw["ops"] = [tok(h="h1"), tok(h="h2")]
        self.assertTrue(all(p for _, p in run.check_ops(raw, {})))
        raw["ops"] = [tok(h="h1")]
        self.assertIn("pinned", run.check_ops(raw, {"tokenize_ref": {"7": "h0"}})[0][1])


class HostVerdict(unittest.TestCase):
    def test_steal_alone_marks_a_run_contended(self):
        # no calibration reference for the host: steal decides
        self.assertEqual(benchlib.host_verdict(0.08, 0.5, None)[0], "contended")
        self.assertEqual(benchlib.host_verdict(0.01, 0.5, None)[0], "clean")

    def test_slow_calibration_marks_a_run_contended(self):
        self.assertEqual(benchlib.host_verdict(0.0, 0.27, 0.2)[0], "contended")
        self.assertEqual(benchlib.host_verdict(0.0, 0.24, 0.2)[0], "clean")

    def test_reasons_name_both_readings(self):
        verdict, reasons = benchlib.host_verdict(0.0, 0.3, 0.2)
        self.assertEqual(reasons, ["steal 0.000%", "calib 1.50x reference"])


class Coverage(unittest.TestCase):
    def test_every_module_metric_has_a_query(self):
        with open(os.path.join(run.HERE, "expected", "fingerprints.json")) as fh:
            module_of = {q: e["module"] for q, e in json.load(fh)["queries"].items()}
        run_modules = {module_of[q] for qs in run.QUERIES.values() for q in qs}
        self.assertEqual(sorted(set(benchlib.MODULES) - run_modules), [])

    def test_benchmark_json_lists_the_per_layer_metrics(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([m["name"] for m in bench["per_layer"]], benchlib.PER_LAYER)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


class SparkJars(unittest.TestCase):
    """The build and the harness find Spark's jars without sbt: SPARK_HOME,
    else spark-submit on PATH, else the repository build's unmanagedBase."""

    def distribution(self, top):
        jars = os.path.join(top, "jars")
        os.makedirs(jars)
        for jar in ("scala-compiler-2.13.17.jar", "spark-sql_2.13-4.1.0.jar"):
            open(os.path.join(jars, jar), "w").close()
        return jars

    def test_spark_home_first(self):
        with tempfile.TemporaryDirectory() as d:
            jars = self.distribution(os.path.join(d, "spark"))
            with mock.patch.dict(os.environ, {"SPARK_HOME": os.path.dirname(jars)}):
                self.assertEqual(run.spark_jars(), jars)

    def test_falls_back_to_the_repository_build(self):
        with tempfile.TemporaryDirectory() as d:
            jars = self.distribution(os.path.join(d, "spark"))
            with open(os.path.join(d, "build.sbt"), "w") as fh:
                fh.write('name := "x"\nunmanagedBase := file("%s")\n' % jars)
            env = {k: v for k, v in os.environ.items() if k != "SPARK_HOME"}
            with mock.patch.dict(os.environ, env, clear=True), \
                    mock.patch.object(run.shutil, "which", return_value=None), \
                    mock.patch.object(run, "ROOT", d):
                self.assertEqual(run.spark_jars(), jars)
                os.remove(os.path.join(jars, "scala-compiler-2.13.17.jar"))
                self.assertIsNone(run.spark_jars())


class Overhead(unittest.TestCase):
    def test_traced_pass_against_its_neighbours(self):
        passes = [{"pass": 1, "traced": False, "wall_s": 12.0},
                  {"pass": 2, "traced": True, "wall_s": 11.0},
                  {"pass": 3, "traced": False, "wall_s": 8.0}]
        # a warming trend makes pass 2 look faster than pass 1 alone
        self.assertAlmostEqual(benchlib.tracing_overhead(passes), 0.1)
        self.assertIsNone(benchlib.tracing_overhead(passes[:2]))


if __name__ == "__main__":
    unittest.main()
