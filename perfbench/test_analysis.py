"""Tests of the runner's arithmetic and output schema.

    python3 -m unittest discover -s perfbench
"""

import json
import os
import re
import unittest

import analysis

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(analysis.percentile(v, 50), 50)
        self.assertEqual(analysis.percentile(v, 90), 90)
        self.assertEqual(analysis.percentile(list(reversed(v)), 90), 90)
        self.assertEqual(analysis.percentile([7.0], 90), 7.0)
        with self.assertRaises(ValueError):
            analysis.percentile([], 50)

    def test_samples_beyond(self):
        self.assertEqual(analysis.samples_beyond(100, 90), 10)
        self.assertEqual(analysis.samples_beyond(99, 90), 9)
        self.assertEqual(analysis.samples_beyond(110, 90), 11)

    def test_highest_supported_percentile(self):
        hsp = analysis.highest_supported_percentile
        self.assertIsNone(hsp(19))
        self.assertEqual(hsp(20), 50)
        self.assertEqual(hsp(99), 75)
        self.assertEqual(hsp(100), 90)
        self.assertEqual(hsp(199), 90)
        self.assertEqual(hsp(200), 95)
        self.assertEqual(hsp(1000), 99)
        self.assertEqual(hsp(10000), 99.9)


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "request": "r",
            "start_ns": start, "end_ns": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [span(1, 0, "request", 0, 100),
                 span(2, 1, "sinks.publish", 10, 60),
                 span(3, 2, "sinks.write.blocks", 20, 30),
                 span(4, 2, "sinks.write.transactions", 30, 50)]
        st = analysis.self_times(spans)
        self.assertEqual(st, {1: 50, 2: 20, 3: 10, 4: 20})

    def test_overlapping_children_counted_once(self):
        spans = [span(1, 0, "request", 0, 100),
                 span(2, 1, "queries.build", 10, 50),
                 span(3, 1, "queries.action", 40, 70)]
        self.assertEqual(analysis.self_times(spans)[1], 40)

    def test_child_clipped_to_parent(self):
        spans = [span(1, 0, "request", 0, 100), span(2, 1, "sinks.publish", 90, 120)]
        self.assertEqual(analysis.self_times(spans)[1], 90)

    def test_parentless_span_attaches_to_shortest_container(self):
        # a sink write on the streaming thread, inside a batch span
        spans = [span(1, 0, "streaming.batch", 0, 1000),
                 span(2, 0, "sinks.write.blocks", 100, 400),
                 span(3, 0, "sinks.write.account_refs", 500, 600)]
        st = analysis.self_times(spans)
        self.assertEqual(st, {1: 600, 2: 300, 3: 100})

    def test_by_layer_in_seconds(self):
        spans = [span(1, 0, "request", 0, 2_000_000_000),
                 span(2, 1, "sinks.publish", 0, 1_500_000_000),
                 span(3, 1, "operators.watermark_mark", 1_500_000_000, 1_750_000_000)]
        self.assertEqual(analysis.self_time_by_layer(spans),
                         {"request": 0.25, "sinks": 1.5, "operators": 0.25})


class GeneratorArithmeticTest(unittest.TestCase):
    def test_rows(self):
        # block 4: 4 * 2654435761 % 97 % 7 = 6 transactions, with
        # (4 + i) % 3 + 1 accounts for i = 1..6: 3, 1, 2, 3, 1, 2
        self.assertEqual(analysis.tx_count(4), 6)
        self.assertEqual(analysis.tx_count(7), 0)
        self.assertEqual(analysis.expected_rows([4, 7]),
                         {"blocks": 2, "transactions": 6, "account_refs": 12})
        self.assertEqual(analysis.expected_rows([]),
                         {"blocks": 0, "transactions": 0, "account_refs": 0})


def fake_raw(workload):
    phases = {p: {"wall_s": 2.0, "start_ns": 0.0, "end_ns": 1e12, "jvm.gc_s": 0.1,
                  "jvm.jit_compile_s": 0.2, "codegen.compile_s": 0.3,
                  "plancache.hits": 1.0, "plancache.misses": 1.0,
                  "plancache.evictions": 0.0, "plancache.cached_bytes": 10.0}
              for p in analysis.PHASES}
    return {"workload": workload, "seed": 1, "trace": 1, "setup_s": [3.0, 1.0, 2.0],
            "retained_heap_bytes": 2e8, "phases": phases, "warmup_s": 1.0,
            "spark": {"query_sql|spark.jobs": 20.0, "etl_backfill|spark.task_run_ms": 4000.0,
                      "etl_backfill|span:sinks.write.blocks|jobs": 4.0,
                      "etl_backfill|span:sinks.write.blocks|write_jobs": 2.0},
            "machine": {"nproc": 4, "load_avg_before": 0.5, "load_avg_after": 0.6,
                        "max_heap_gb": 3.0}}


def fake_obs(workload):
    if workload == "ingest":
        return {"latencies": [float(i) for i in range(110)], "batch_s": 4.0,
                "backfill_blocks": 300000, "backfill_bytes": 255000000,
                "trigger_waits": [1.0, 2.0], "files_per_batch": 110.0,
                "progress": [{"rows": 1100, "trigger_ms": 2000, "add_batch_ms": 1500}],
                "late_s": [0.001, 0.002], "notes": []}
    return {"latencies": [0.1 * i for i in range(1, 103)], "batch_s": 5.0, "cold_s": 4.0,
            "warm_s": 1.0, "build_s": [0.01] * 102, "action_s": [0.2] * 102, "n_sql": 102,
            "notes": []}


class SchemaTest(unittest.TestCase):
    def test_names_and_units(self):
        for name, unit in analysis.E2E + analysis.PER_LAYER:
            self.assertRegex(name, NAME)
            self.assertRegex(unit, UNIT)
        names = [n for n, _ in analysis.E2E + analysis.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(analysis.PER_LAYER), 128)
        self.assertLessEqual(len(analysis.E2E), 16)

    def test_every_workload_reports_every_metric(self):
        for w in ("ingest", "serve"):
            raw, obs = fake_raw(w), fake_obs(w)
            e2e = analysis.end_to_end(raw, obs)
            self.assertEqual(set(e2e), {n for n, _ in analysis.E2E})
            self.assertTrue(all(v > 0 for v in e2e.values()))
            self.assertEqual(e2e["setup_s"], 2.0)
            layer = analysis.per_layer(raw, obs, [], e2e, e2e)
            self.assertEqual(set(layer), {n for n, _ in analysis.PER_LAYER})
            for units, values in ((dict(analysis.E2E), e2e), (dict(analysis.PER_LAYER), layer)):
                out = json.loads(json.dumps(analysis.result(True, 10, 0, values, units)))
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                for k, m in out["metrics"].items():
                    self.assertEqual(set(m), {"value", "unit"})
                    self.assertEqual(m["unit"], units[k])
                    self.assertIsInstance(m["value"], float)
        layer = analysis.per_layer(fake_raw("ingest"), fake_obs("ingest"), [], e2e, None)
        self.assertEqual(layer["sinks.useful_job_frac"], 0.5)
        self.assertEqual(layer["etl_backfill.spark.slot_busy_frac"], 0.5)
        self.assertEqual(layer["backfill.blocks_per_s"], 75000.0)

    def test_benchmark_json_matches(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], analysis.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], analysis.PER_LAYER)
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in b["end_to_end"]))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), ["ingest", "serve"])


if __name__ == "__main__":
    unittest.main()
