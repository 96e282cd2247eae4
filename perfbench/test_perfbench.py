"""Tests of the benchmark's own logic (no Spark needed).

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


def scratch():
    os.makedirs(build.build_dir(), exist_ok=True)
    return tempfile.TemporaryDirectory(dir=build.build_dir())


def trig(batch_id, start_ms, dur_ms, start_seq, end_seq, run_id="r"):
    return {"run_id": run_id, "batch_id": batch_id, "start_ms": start_ms,
            "end_ms": start_ms + dur_ms, "rows": 1,
            "durations_ms": {"triggerExecution": dur_ms, "addBatch": dur_ms - 10,
                             "latestOffset": 4, "walCommit": 3},
            "start_token": M.token(start_seq) if start_seq else "",
            "end_token": M.token(end_seq)}


class LatencyTest(unittest.TestCase):
    def test_latency_from_synthetic_progress(self):
        # events 100..103 due at 10.0, 10.1, 10.2, 10.3 s; trigger 0 commits
        # up to 101 and ends at 10.5 s, trigger 1 up to 103 ending at 11.2 s
        due = {100: 10.0, 101: 10.1, 102: 10.2, 103: 10.3}
        trigs = [trig(0, 10_000, 500, None, 101),
                 trig(1, 10_500, 700, 101, 103)]
        lat = M.event_latencies(due, trigs)
        self.assertAlmostEqual(lat[100], 0.5)
        self.assertAlmostEqual(lat[101], 0.4)
        self.assertAlmostEqual(lat[102], 1.0)
        self.assertAlmostEqual(lat[103], 0.9)

    def test_uncovered_event_has_no_latency(self):
        lat = M.event_latencies({5: 1.0, 9: 1.0}, [trig(0, 1000, 100, None, 5)])
        self.assertAlmostEqual(lat[5], 0.1)
        self.assertIsNone(lat[9])

    def test_idle_triggers_do_not_move_commit_time(self):
        # a later trigger re-reporting the same end offset must not count
        trigs = [trig(0, 1000, 100, None, 7), trig(1, 5000, 100, 7, 7)]
        self.assertAlmostEqual(M.event_latencies({7: 1.0}, trigs)[7], 0.1)

    def test_source_backlog(self):
        due = {s: 1.0 + 0.1 * s for s in range(10)}  # due 1.0 .. 1.9
        trigs = [trig(0, 1000, 500, None, 3)]       # covers 0..3 at 1.5 s
        self.assertEqual(M.source_backlog(due, trigs, 1.5), 2)  # 4, 5
        self.assertEqual(M.source_backlog(due, trigs, 1.2), 3)  # 0, 1, 2


class PercentileRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(M.supported_percentile(1000), 99.0)
        self.assertEqual(M.supported_percentile(999), 90.0)
        self.assertEqual(M.supported_percentile(100), 90.0)
        self.assertEqual(M.supported_percentile(99), 50.0)
        self.assertEqual(M.supported_percentile(20), 50.0)
        self.assertIsNone(M.supported_percentile(19))

    def test_tail_falls_back_to_max(self):
        self.assertEqual(M.tail(list(range(16))), (100.0, 15.0))
        q, v = M.tail(list(range(1, 1001)))
        self.assertEqual(q, 99.0)
        self.assertAlmostEqual(v, 990.01)

    def test_percentile_interpolates(self):
        self.assertAlmostEqual(M.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(M.percentile([7], 99), 7.0)


class GeneratorDeterminismTest(unittest.TestCase):
    def changes(self, d, seed):
        out, man = os.path.join(d, "c%d" % seed), os.path.join(d, "m%d" % seed)
        gen.gen_changes(out, man, seed, gen.seed_base(seed), 500, 200, 0, 1024)
        with open(man) as f:
            m = json.load(f)
        import pyarrow.parquet as pq
        rows = []
        for fl in m["files"]:
            t = pq.read_table(os.path.join(out, fl["file"])).drop(
                ["clusterTime", "wallTime"])
            rows += t.to_pylist()
        return m, rows

    def test_same_seed_same_inputs(self):
        with scratch() as d:
            m1, r1 = self.changes(os.path.join(d, "a"), 7)
            m2, r2 = self.changes(os.path.join(d, "b"), 7)
            self.assertEqual(m1, m2)   # token ranges, op mix, sizes
            self.assertEqual(r1, r2)   # and the envelopes themselves

    def test_new_seed_new_inputs(self):
        with scratch() as d:
            m1, _ = self.changes(d, 7)
            m2, _ = self.changes(d, 8)
            self.assertNotEqual(m1["first_seq"], m2["first_seq"])
            self.assertNotEqual([f["ops"] for f in m1["files"]],
                                [f["ops"] for f in m2["files"]])
            self.assertNotEqual([f["bytes"] for f in m1["files"]],
                                [f["bytes"] for f in m2["files"]])

    def test_op_mix(self):
        with scratch() as d:
            m, _ = self.changes(d, 3)
            ops = "".join(f["ops"] for f in m["files"])
            non_pub = sum(1 for o in ops if o not in M.PUBLISHABLE)
            self.assertTrue(0.12 < non_pub / len(ops) < 0.28)

    def test_tail_schedule_is_seeded(self):
        with scratch() as d:
            runs = []
            for k in range(2):
                man = os.path.join(d, "t%d.json" % k)
                gen.gen_tail(os.path.join(d, "t%d" % k), man, 5, 1000, 200.0,
                             10.0, 0.3, 150, 250)
                with open(man) as f:
                    m = json.load(f)
                runs.append([(x["seq0"], x["n"], x["ops"], x["bytes"])
                             for x in m["files"]])
                self.assertEqual(m["count"], 60)
            self.assertEqual(runs[0], runs[1])


class CorrectnessGateTest(unittest.TestCase):
    def test_digest_mismatch_is_a_failed_op(self):
        expected = {"q1": {"rows": 3, "xor": "11"}, "q2": {"rows": 5, "xor": "7"}}
        raw = {"queries": [
            {"name": "q1", "s": 1.0, "rows": 3, "digest": "11",
             "start_ms": 0, "end_ms": 1000},
            {"name": "q2", "s": 2.0, "rows": 5, "digest": "8",
             "start_ms": 1000, "end_ms": 3000}],
            "pass_start_ms": 0, "pass_end_ms": 3000, "session_s": 1.0,
            "provision_s": [0.1], "cpu_s": 3.0, "peak_rss_mb": 100.0,
            "order": ["q1", "q2"], "warmup_s": 1.0}
        attempted, failed, _, _, details, _ = run.evaluate_batch(
            raw, expected, traced=False)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertEqual(details["digest_failures"][0][0], "q2")

    def test_query_error_is_a_failed_op(self):
        bad = M.digest_failures([{"name": "q", "error": "boom"}],
                                {"q": {"rows": 1, "xor": "1"}})
        self.assertEqual(len(bad), 1)

    def test_cdc_gate(self):
        expected = {M.token(1): "EVENTS.insert", M.token(2): "EVENTS.update"}
        ok = [(M.token(1), "EVENTS.insert"), (M.token(2), "EVENTS.update")]
        batches = [(0, M.token(1), M.token(1)), (1, M.token(2), M.token(2))]
        self.assertEqual(M.cdc_gate(expected, ok, batches, [True])[0], 0)
        # a lost event, a wrong subject, batches out of token order
        self.assertEqual(M.cdc_gate(expected, ok[:1], batches, [True])[0], 1)
        wrong = [ok[0], (M.token(2), "EVENTS.delete")]
        self.assertEqual(M.cdc_gate(expected, wrong, batches, [True])[0], 1)
        swapped = [(0, M.token(2), M.token(2)), (1, M.token(1), M.token(1))]
        self.assertEqual(M.cdc_gate(expected, ok, swapped, [True])[0], 1)
        self.assertEqual(M.cdc_gate(expected, ok, batches, [False])[0], 1)

    def test_late_event_is_a_failed_op(self):
        expected = {M.token(1): "EVENTS.insert", M.token(2): "EVENTS.update"}
        ok = [(M.token(1), "EVENTS.insert"), (M.token(2), "EVENTS.update")]
        batches = [(0, M.token(1), M.token(2))]
        self.assertEqual(
            M.cdc_gate(expected, ok, batches, [True], {M.token(2)})[0], 1)
        # missing and never committed: one failed op, not two
        self.assertEqual(
            M.cdc_gate(expected, ok[:1], batches, [True], {M.token(2)})[0], 1)


class LayerMathTest(unittest.TestCase):
    def test_histogram_quantile(self):
        text = "\n".join(
            'mongodb_command_duration_seconds_bucket{database="d",'
            'command="c",le="%s"} %d' % (le, n)
            for le, n in [("0.005", 0), ("0.01", 10), ("0.025", 20),
                          ("+Inf", 20)])
        h = M.prom_histograms(text)["c"]
        self.assertAlmostEqual(M.histogram_quantile(0.5, h), 0.01)
        self.assertAlmostEqual(M.histogram_quantile(0.75, h), 0.0175)

    def test_self_times_reconcile(self):
        spans = [{"id": 1, "parent": -1, "start_ms": 0, "end_ms": 100},
                 {"id": 2, "parent": 1, "start_ms": 10, "end_ms": 40},
                 {"id": 3, "parent": 1, "start_ms": 30, "end_ms": 60}]
        self.assertAlmostEqual(M.self_times(spans)[1], 50.0)

    def test_trigger_spans_sum_to_trigger(self):
        spans, _ = M.trigger_spans([trig(0, 0, 100, None, 1)], 1, "r")
        selfs = M.self_times(spans)
        kids = [s for s in spans if s["parent"] == 1]
        self.assertAlmostEqual(
            selfs[1] + sum(s["end_ms"] - s["start_ms"] for s in kids), 100.0)


if __name__ == "__main__":
    unittest.main()
