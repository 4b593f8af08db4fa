"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

The last test builds the harness and runs its Scala self-test (generator
determinism, JSON escaping); it is skipped when Spark's jars are absent.
"""

import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402
import run  # noqa: E402


def op(route, start, ms, ok=True, points=0, repeat=False):
    return {"route": route, "start": start, "end": start + ms, "ms": ms, "ok": ok,
            "repeat": repeat, "points": points, "error": "" if ok else "boom"}


def result(workload, ops, **kw):
    r = {"workload": workload, "ops": ops, "check_errors": [], "session_s": 5.0,
         "bulk_load_s": 1.0, "refresh_tiers_s": 3.0, "serve_s": 1.0, "measure_start": 0.0, "measure_end": 10000.0,
         "store_bytes": 3000, "raw_bytes": 2000, "store_points": 1000, "rss_peak_mb": 900.0, "heap_retained_mb": 200.0,
         "maint": [],
         "files_per_partition": 1.0,
         "gc_ms": 12, "cores": 4, "spans": [],
         "spark": {"jobs": [], "plans": [], "counts": {}}}
    r.update(kw)
    return r


class Percentiles(unittest.TestCase):
    def test_known_inputs(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 100), 5)
        self.assertAlmostEqual(metrics.percentile(xs, 95), 4.8)
        self.assertAlmostEqual(metrics.percentile([10, 20], 25), 12.5)
        self.assertEqual(metrics.median([7]), 7)
        self.assertIsNone(metrics.percentile([], 50))

    def test_mean(self):
        self.assertEqual(metrics.mean([]), 0.0)
        self.assertEqual(metrics.mean(x for x in (1, 2, 6)), 3.0)


class Intervals(unittest.TestCase):
    def test_union_merges_and_clips(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15)], lo=8, hi=12), 4)
        self.assertEqual(metrics.union_ms([(3, 2)]), 0)

    def test_self_time(self):
        span = {"start": 0, "end": 100}
        kids = [{"start": 10, "end": 40}, {"start": 30, "end": 60}, {"start": 90, "end": 120}]
        self.assertEqual(metrics.self_time(span, kids), 100 - 50 - 10)


class Aggregation(unittest.TestCase):
    def test_dashboard_end_to_end(self):
        ops = [op("raw_fetch", i * 100.0, 100.0 + i) for i in range(10)] + [op("tag_stats", 0.0, 900.0, ok=False)]
        r = result("dashboard", ops)
        e2e = metrics.end_to_end(r)
        self.assertEqual(e2e["setup_s"], (10.0, "s"))
        self.assertEqual(e2e["p50_ms"], (104.5, "ms"))
        self.assertEqual(e2e["read_p50_ms"], e2e["p50_ms"])
        self.assertEqual(e2e["throughput_per_s"], (1.0, "1/s"))  # 10 good reads in 10 s
        self.assertEqual(e2e["raw_bytes_per_point"], (2.0, "B"))
        self.assertEqual(metrics.counts(r), (11, 1))

    def test_ingest_primary_is_writes(self):
        ops = [op("scrape", 0.0, 50.0, points=10)] * 9 + [op("backfill", 0.0, 900.0, points=1000)] + \
              [op("raw_fetch", 0.0, 20.0)]
        e2e = metrics.end_to_end(result("ingest", ops, check_errors=["lost points"]))
        self.assertEqual(e2e["p50_ms"], (50.0, "ms"))
        self.assertAlmostEqual(e2e["p95_ms"][0], 50 + 0.55 * 850)
        self.assertEqual(e2e["throughput_per_s"], (109.0, "1/s"))
        self.assertEqual(e2e["read_p50_ms"], (20.0, "ms"))
        self.assertEqual(metrics.counts(result("ingest", ops, check_errors=["x"])), (12, 1))

    def test_per_layer_from_spans(self):
        spans = [
            {"id": 1, "parent": 0, "op": "d:1", "name": "op", "start": 0.0, "end": 100.0,
             "attrs": {"route": "tier_stats"}},
            {"id": 2, "parent": 1, "op": "d:1", "name": "api.route", "start": 0.0, "end": 30.0,
             "attrs": {"fs_ops": 4}},
            {"id": 3, "parent": 1, "op": "d:1", "name": "api.encode", "start": 30.0, "end": 98.0,
             "attrs": {"bytes": 500}},
            {"id": 4, "parent": 0, "op": "d:1", "name": "op.extra", "start": 100.0, "end": 100.0,
             "attrs": {"tier": True, "http_ms": 80.0, "replay_ms": 70.0}},
        ]
        jobs = [{"op": "d:1", "start": 40.0, "end": 90.0, "stages": 2}]
        plans = [{"op": "d:1", "analysis_ms": 3.0, "optimization_ms": 5.0, "planning_ms": 1.0, "files_read": 2.0}]
        r = result("dashboard", [op("tier_stats", 0.0, 100.0)], spans=spans,
                   spark={"jobs": jobs, "plans": plans, "counts": {"tasks": 6.0, "task_wait_ms": 12.0}})
        pl = metrics.per_layer(r)
        self.assertEqual(set(pl), set(metrics.PER_LAYER))
        self.assertEqual(pl["api.route_ms"][0], 30.0)
        self.assertEqual(pl["api.encode_ms"][0], 68.0 - 50.0)
        self.assertEqual(pl["api.transport_ms"][0], 10.0)
        self.assertAlmostEqual(pl["api.op_unattributed_frac"][0], 0.02)
        self.assertEqual(pl["api.service.tier_hit_ratio"][0], 1.0)
        self.assertEqual(pl["api.service.fs_ops_per_req"][0], 4)
        self.assertEqual(pl["spark.exec_ms"][0], 50.0)
        self.assertEqual(pl["spark.jobs_per_op"][0], 1.0)
        self.assertEqual(pl["spark.stages_per_op"][0], 2.0)
        self.assertEqual(pl["spark.task_wait_ms"][0], 2.0)
        self.assertEqual(pl["spark.analysis_ms"][0], 3.0)
        self.assertEqual(pl["storage.refresh_tiers_s"][0], 3.0)
        self.assertEqual(pl["storage.write_ms"][0], 0.0)


class Output(unittest.TestCase):
    def test_result_line_escapes_strings(self):
        nasty = 'we"ird\\name\n '
        line = metrics.result_line(True, 3, 0, {nasty: (1.25, 'u"nit')})
        self.assertNotIn("\n", line)
        back = json.loads(line)
        self.assertEqual(set(back), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(back["metrics"][nasty], {"value": 1.25, "unit": 'u"nit'})

    def test_benchmark_json_matches_metrics(self):
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = {m["name"] for m in spec["end_to_end"]}
        r = result("dashboard", [op("raw_fetch", 0.0, 10.0)])
        self.assertEqual(names, set(metrics.end_to_end(r)))
        self.assertEqual({m["name"] for m in spec["per_layer"]}, set(metrics.PER_LAYER))
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))


@unittest.skipUnless(os.path.isdir(run.SPARK_JARS), "Spark jars not available")
class Harness(unittest.TestCase):
    def test_scala_self_test(self):
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        os.chdir(root)
        classes, _ = run.build()
        out = os.path.abspath(os.path.join(run.BUILD, "selftest"))
        subprocess.run(["rm", "-rf", out], check=True)
        run.scalac(run.sources(os.path.join("perfbench", "test")), os.path.join(out, "classes"),
                   os.pathsep.join([os.path.join(run.SPARK_JARS, "*"), os.path.join(classes, "main"),
                                    os.path.join(classes, "bench")]))
        cp = os.pathsep.join([os.path.join(run.SPARK_JARS, "*"), os.path.join(classes, "main"),
                              os.path.join(classes, "bench"), os.path.join(out, "classes")])
        p = subprocess.run(["java", *run.JVM_FLAGS, f"-Xmx{run.HEAP}", *run.ADD_OPENS, "-Dspark.ui.enabled=false",
                            f"-Djava.io.tmpdir={out}", f"-Dspark.local.dir={out}",
                            "-cp", cp, "graft.api.perfbench.SelfTest", os.path.join(out, "stores")],
                           capture_output=True, text=True, env=dict(os.environ, SPARK_GRAFT_CPUS=run.CORES),
                           cwd=out)
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
