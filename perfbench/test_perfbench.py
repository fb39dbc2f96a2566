"""Self-tests of the benchmark's own code: python3 perfbench/test_perfbench.py"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def span(id, start, end, parent=0, name="s"):
    return {"id": id, "name": name, "start": start, "end": end,
            "parent": parent, "attrs": {}}


class SelfTime(unittest.TestCase):
    def test_children_overlapping_and_outside(self):
        parent = span(1, 0, 100)
        kids = [span(2, 10, 30), span(3, 20, 40), span(4, 90, 150)]
        # covered: [10, 40] and [90, 100] -> 40
        self.assertEqual(metrics.self_time(parent, kids), 60)

    def test_no_children_and_full_cover(self):
        self.assertEqual(metrics.self_time(span(1, 5, 25), []), 20)
        self.assertEqual(metrics.self_time(span(1, 5, 25), [span(2, 0, 30)]), 0)

    def test_parents_by_containment(self):
        spans = metrics.assign_parents([
            span(1, 0, 1000, name="unit"), span(2, 100, 900, name="trigger"),
            span(3, 200, 800, name="add_batch"), span(4, 300, 500, name="sink"),
            span(5, 0, 1000, name="workload")])
        parents = {s["id"]: s["parent"] for s in spans}
        self.assertEqual(parents, {1: 5, 2: 1, 3: 2, 4: 3, 5: 0})


class Attribution(unittest.TestCase):
    spans = [span(1, 0, 1000, name="unit"), span(2, 100, 400, 1, "add_batch"),
             span(3, 200, 300, 2, "sink.writeAll"), span(4, 500, 600, 1, "build")]

    def job(self, id, start, tag):
        return {"id": id, "start": start, "tag": tag}

    def test_inherited_tag_descends_to_innermost_running_span(self):
        owner = metrics.attribute([self.job(1, 250, 1), self.job(2, 150, 1),
                                   self.job(3, 450, 1)], self.spans)
        self.assertEqual(owner, {1: 3, 2: 2, 3: 1})

    def test_exact_tag_wins_over_time(self):
        # tagged with the build span, though it started after it ended
        owner = metrics.attribute([self.job(1, 650, 4)], self.spans)
        self.assertEqual(owner, {1: 4})

    def test_untagged_job_found_from_the_roots(self):
        owner = metrics.attribute([self.job(1, 250, 0), self.job(2, 5000, 0)],
                                  self.spans)
        self.assertEqual(owner, {1: 3, 2: 0})


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            ma = gen.sensor_files(a, 5, [40] * 30)
            mb = gen.sensor_files(b, 5, [40] * 30)
            gen.sensor_files(c, 6, [40] * 30)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((len(match), mismatch, errors), (30, [], []))
            self.assertEqual(ma, mb)
            self.assertEqual((ma["rows"], ma["record_count_sum"]), (1200, 3600))
            _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertTrue(differ)

    def test_lineitem_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            for name, seed in (("a", 1), ("b", 1), ("c", 2)):
                gen.lineitem(os.path.join(d, name), seed, 200)
            same = filecmp.cmpfiles(os.path.join(d, "a"), os.path.join(d, "b"),
                                    ["lineitem.parquet"], shallow=False)
            differ = filecmp.cmpfiles(os.path.join(d, "a"), os.path.join(d, "c"),
                                      ["lineitem.parquet"], shallow=False)
            self.assertEqual((same[0], differ[1]),
                             (["lineitem.parquet"], ["lineitem.parquet"]))


def drain_unit(start):
    files = {"sensor_000.csv": 10, "sensor_001.csv": 5}
    return {
        "start": start, "end": start + 2 * 10**9, "wall_s": 2.0,
        "batches": [{"t": start + 10**9, "outcomes": [
            {"file": f, "status": "processed", "rows": n}
            for f, n in files.items()]}],
        "progress": [{"batch": 0, "rows": 15, "duration_ms": {
            "addBatch": 900, "triggerExecution": 1000}}],
        "move_ns": 1000, "sink_calls": 1, "sink_ns": 4 * 10**8,
        "processed": 2, "quarantined": 0, "quarantine_log_lines": 0,
        "sunk_rows": files, "record_count_sum": 45,
        "output_files": 4, "output_bytes": 100,
        "host": {"process_cpu_ns": 3 * 10**9, "jit_cpu_ns": 10**9,
                 "jiffies": 100, "steal": 1},
    }


class Summary(unittest.TestCase):
    manifest = {"file_rows": {"sensor_000.csv": 10, "sensor_001.csv": 5},
                "files": 2, "rows": 15, "record_count_sum": 45}

    def raw(self):
        t = 10**12
        return {
            "setup_end": t, "cpus": 4, "warm_walls": [3.0, 2.0, 2.0],
            "warm_cpu": [4.0, 2.1, 2.0],
            "warm_agreed": True,
            "peak_rss_kb": 1024, "units": [drain_unit(t)],
            "traced_units": [drain_unit(t + 3 * 10**9)],
            "spans": [span(1, t + 3 * 10**9, t + 5 * 10**9, name="unit"),
                      span(2, t + 3 * 10**9 + 2, t + 4 * 10**9 + 1, 1, "add_batch"),
                      span(3, t + 3 * 10**9 + 5, t + 35 * 10**8, 0, "sink.writeAll")],
            "jobs": [{"id": 0, "start": t + 3 * 10**9 + 10, "end": 0, "tag": 1,
                      "totals": dict.fromkeys((
                          "tasks", "run_ms", "cpu_ns", "gc_ms", "sched_delay_ms",
                          "shuffle_read_bytes", "shuffle_write_bytes",
                          "spill_bytes", "input_bytes", "output_bytes",
                          "stages"), 1)}],
        }

    def test_untraced_reports_end_to_end(self):
        r = metrics.summarize(self.raw(), "drain", self.manifest, None,
                              10**12 - 5 * 10**9, False, ["q_a"])
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (True, 4, 0))
        self.assertEqual(list(r["metrics"]), [n for n, _ in metrics.END_TO_END])
        self.assertEqual(r["metrics"]["setup_s"]["value"], 5.0)
        # CPU time of the unit without the JIT compiler's share
        self.assertEqual(r["metrics"]["ops_cpu_s"]["value"], 2.0)
        self.assertIn("rows/s: 8", r["notes"])
        self.assertTrue(r["notes"][0].endswith("agreed"))

    def test_warm_up_stopped_at_the_cap_is_reported(self):
        raw = dict(self.raw(), warm_agreed=False)
        r = metrics.summarize(raw, "drain", self.manifest, None, 0, False, [])
        self.assertIn("stopped at the cap WITHOUT agreeing", r["notes"][0])

    def test_traced_reports_every_per_layer_metric(self):
        r = metrics.summarize(self.raw(), "drain", self.manifest, None,
                              0, True, ["q_a"])
        self.assertEqual(list(r["metrics"]),
                         [n for n, _ in metrics.per_layer_names(["q_a"])])
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self.assertEqual((m["sink.jobs"], m["ingest.batch_jobs"], m["q_a.jobs"]),
                         (1, 0, 0))
        self.assertAlmostEqual(m["ingest.batch_self_s"], 0.5, places=5)
        self.assertEqual((m["unit.wall_s"], m["host.jit_cpu_s"],
                          m["trace.overhead_s"]), (2.0, 1.0, 0.0))

    def test_short_sink_is_a_failed_file(self):
        raw = self.raw()
        raw["units"][0]["sunk_rows"] = {"sensor_000.csv": 9, "sensor_001.csv": 5}
        r = metrics.summarize(raw, "drain", self.manifest, None, 0, False, [])
        self.assertEqual((r["correct"], r["failed"]), (False, 1))


class BenchmarkFile(unittest.TestCase):
    def test_benchmark_json_names_every_reported_metric(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         metrics.END_TO_END)
        queries = run.WORKLOADS["llm_ops"]["queries"]
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         metrics.per_layer_names(queries))
        self.assertLessEqual({w["name"] for w in bench["workloads"]},
                             set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
