"""Self-tests of the benchmark's arithmetic and input generation.

Run: python3 -m unittest discover -s perfbench/tests
"""

import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertTrue(stats.tail_supported(100, 0.9))
        self.assertFalse(stats.tail_supported(99, 0.9))

    def test_p50_needs_20_samples(self):
        self.assertEqual(stats.min_samples(0.5), 20)
        self.assertFalse(stats.tail_supported(19, 0.5))

    def test_end_to_end_refuses_a_thin_tail(self):
        ops = [["q", 0.0, 10.0, True]] * 99
        result = {"ops": ops, "window_s": 1.0, "setup_s": [1.0], "warmup_s": 0.5, "cpu_s": 1.0,
                  "resident_mb": 1.0}
        with self.assertRaises(ValueError):
            stats.end_to_end(result, 1.0)
        result["ops"] = ops + [ops[0]]
        stats.end_to_end(result, 1.0)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)
        self.assertAlmostEqual(stats.percentile(range(11), 0.9), 9.0)
        self.assertAlmostEqual(stats.percentile([0, 10], 0.25), 2.5)


class OpenLoop(unittest.TestCase):
    STREAM = {"rate": 10.0, "first": 2, "limit": 6, "rows_per_payload": 100,
              "sent": 6, "committed_at_end": 4,
              "late_ms": [0.5, 1.0, 2.0, 40.0],
              # batch 0: payloads 0-2, batch 1: 3-4, batch 2: 5 (uncommitted)
              "batches": [[1, 2, 250.0], [0, 3, 60.0], [2, 1, None]]}

    def test_latency_runs_from_due_time(self):
        ops = stats.stream_ops(self.STREAM)
        # payload i is due (i - first) * 100 ms after the window opens
        self.assertEqual([o[5] for o in ops], [0.0, 100.0, 200.0, 300.0])
        lat = stats.expand(ops)
        # batches arrive out of id order in the progress log; payloads
        # 3 and 4 share batch 1, so the earlier-due one waited longer
        self.assertEqual(lat, [60.0] * 100 + [150.0] * 100 + [50.0] * 100)

    def test_closed_loop_runs_from_start(self):
        self.assertEqual(stats.expand([["q", 5.0, 12.0, True, 1, -1.0]]), [7.0])

    def test_uncommitted_payload_fails(self):
        ops = stats.stream_ops(self.STREAM)
        self.assertEqual([o[3] for o in ops], [True, True, True, False])

    def test_generator_report(self):
        rep = stats.generator_report(self.STREAM)
        self.assertEqual(rep["gen.sent_rows"], 600)
        self.assertEqual(rep["gen.backlog_rows"], 200)
        self.assertAlmostEqual(rep["gen.lateness_ms"],
                               stats.percentile([0.5, 1.0, 2.0, 40.0], 0.9))


class FailedShare(unittest.TestCase):
    def test_arithmetic(self):
        self.assertEqual(stats.failed_share(200, 0), 0.0)
        self.assertEqual(stats.failed_share(200, 50), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_share(0, 0)

    def test_wrong_events_mark_ops_failed(self):
        ops = stats.stream_ops(OpenLoop.STREAM, wrong_events=150)
        self.assertEqual([o[3] for o in ops], [False, False, True, False])

    def test_failed_op_has_no_latency(self):
        ops = [["q", 0.0, 10.0, True]] * 150 + [["q", 0.0, 999.0, False]] * 50
        result = {"ops": ops, "window_s": 2.0, "setup_s": [3.0, 1.0, 2.0], "warmup_s": 0.5,
                  "cpu_s": 1.0, "resident_mb": 1.0}
        attempted, failed, m = stats.end_to_end(result, 2.0)
        self.assertEqual((attempted, failed), (200, 50))
        self.assertEqual(stats.failed_share(attempted, failed), 0.25)
        self.assertEqual(m["latency_p90_ms"], 10.0)
        self.assertEqual(m["ops_per_s"], 75.0)
        # median set-up round plus the one warm-up
        self.assertEqual(m["setup_s"], 2.5)


class PassMedians(unittest.TestCase):
    def test_a_slow_pass_does_not_move_the_medians(self):
        # three passes of two ops; the middle one ran on a busy machine
        ops = [["q", t, t + 5.0, True, 1, -1.0] for t in
               (0.0, 10.0, 20.0, 60.0, 100.0, 110.0)]
        stamps = [[0.0, 0.0], [20.0, 0.01], [100.0, 0.05], [120.0, 0.06]]
        ops_per_s, cpu_ms = stats.pass_medians(ops, stamps)
        self.assertAlmostEqual(ops_per_s, 100.0)
        self.assertAlmostEqual(cpu_ms, 5.0)

    def test_failed_ops_count_in_cpu_not_throughput(self):
        ops = [["q", 0.0, 5.0, True, 1, -1.0], ["q", 5.0, 10.0, False, 1, -1.0]]
        ops_per_s, cpu_ms = stats.pass_medians(ops, [[0.0, 0.0], [10.0, 0.01]])
        self.assertAlmostEqual(ops_per_s, 100.0)
        self.assertAlmostEqual(cpu_ms, 5.0)

    def test_end_to_end_uses_pass_stamps(self):
        ops = [["q", float(i), i + 1.0, True] for i in range(100)]
        result = {"ops": ops, "window_s": 1.0, "setup_s": [1.0], "warmup_s": 0.0,
                  "cpu_s": 99.0, "resident_mb": 1.0,
                  "pass_stamps": [[0.0, 0.0], [50.0, 0.1], [100.0, 0.2]]}
        _, _, m = stats.end_to_end(result, 1.0)
        self.assertAlmostEqual(m["ops_per_s"], 1000.0)
        self.assertAlmostEqual(m["cpu_ms_per_op"], 2.0)


class BatchCpu(unittest.TestCase):
    def test_cpu_per_event_over_window_batches(self):
        stream = dict(OpenLoop.STREAM, batches=[
            # warm-up batch: its commit only starts the CPU clock
            [0, 2, -50.0, 1.0],
            [1, 2, 100.0, 1.2], [2, 1, 150.0, 1.3], [3, 1, 200.0, 1.45],
            [4, 2, 300.0, 3.05]])
        # 200 ms / 200 events, 100 / 100, 150 / 100, 1600 / 200
        per_event = [1.0, 1.0, 1.5, 8.0]
        self.assertEqual([round(x, 9) for x in stats.batch_cpu(stream)], per_event)
        result = {"stream": stream, "window_s": 1.0, "setup_s": [1.0],
                  "warmup_s": 0.0, "cpu_s": 99.0, "resident_mb": 1.0}
        _, _, m = stats.end_to_end(result, 0.1)
        # the slow batch and the fastest one are left out
        self.assertAlmostEqual(m["cpu_ms_per_op"], 1.25)

    def test_batches_without_cpu_clock(self):
        self.assertEqual(stats.batch_cpu(OpenLoop.STREAM), [])

    def test_interquartile_mean(self):
        self.assertEqual(stats.interquartile_mean([5.0]), 5.0)
        self.assertEqual(stats.interquartile_mean([1, 2, 3, 100]), 2.5)
        self.assertEqual(stats.interquartile_mean(range(8)), 3.5)


class Reproducible(unittest.TestCase):
    def test_query_order(self):
        qs = ["a", "b", "c", "d", "e"]
        self.assertEqual(gen.query_mix_plan(7, qs, 5), gen.query_mix_plan(7, qs, 5))
        self.assertNotEqual(gen.query_mix_plan(7, qs, 5), gen.query_mix_plan(8, qs, 5))
        self.assertTrue(all(sorted(p) == qs for p in gen.query_mix_plan(7, qs, 5)))

    def test_as_of_months(self):
        a = gen.etl_plan(3, 50, avoid_first="1996-01-01")
        self.assertEqual(a, gen.etl_plan(3, 50, avoid_first="1996-01-01"))
        self.assertNotEqual(a, gen.etl_plan(4, 50, avoid_first="1996-01-01"))
        self.assertNotEqual(a[0], "1996-01-01")
        self.assertTrue(all(x != y for x, y in zip(a, a[1:])))
        self.assertTrue(set(a) <= set(gen.AS_OF_MONTHS))

    def test_payload_bytes(self):
        a = gen.stream_payloads(5, 4, 20.0, 150)
        self.assertEqual(a, gen.stream_payloads(5, 4, 20.0, 150))
        self.assertNotEqual(a, gen.stream_payloads(6, 4, 20.0, 150))
        rows = json.loads(a[3])
        self.assertEqual(len(rows), gen.ROWS_PER_PAYLOAD)
        self.assertTrue(all("\n" not in p for p in a))
        self.assertEqual(rows["0"]["feature3"], 3 * 1000.0 / 20.0)
        # event time rises with arrival order across payloads
        ts = [r["feature2"] for p in a for r in json.loads(p).values()]
        self.assertEqual(ts, sorted(ts))

    def test_tables_do_not_depend_on_the_run_seed(self):
        a = gen.build_tables(0.0005)
        b = gen.build_tables(0.0005)
        self.assertTrue(all(a[k].equals(b[k]) for k in a))


class Contract(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py prints."""

    def setUp(self):
        path = Path(__file__).resolve().parents[2] / "BENCHMARK.json"
        if not path.exists():
            self.skipTest("no BENCHMARK.json next to perfbench/")
        self.bench = json.loads(path.read_text())
        import run
        self.run = run

    def test_end_to_end_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         self.run.E2E_UNITS)

    def test_per_layer_names_and_units(self):
        printed = {k: u for k, (u, _) in self.run.PER_LAYER.items()}
        printed.update({f"traced.{k}": self.run.E2E_UNITS[k]
                        for k in self.run.TRACED_E2E})
        printed["trace.spans"] = "count"
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         printed)

    def test_workloads_are_known(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], self.run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
