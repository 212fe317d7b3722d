"""Tests of the launcher's own logic: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_levels(self):
        self.assertEqual(run.tail(list(range(1, 1001))), (0.99, 990))
        self.assertEqual(run.tail(list(range(999)))[0], 0.95)
        self.assertEqual(run.tail(list(range(100)))[0], 0.9)
        self.assertEqual(run.tail(list(range(5)))[0], 0.5)
        self.assertEqual(run.pct([3, 1, 2], 0.5), 2)


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # one connection, 20 req/s, the first request stalls 0.5 s: the
        # requests due during the stall wait, and their latency says so
        def send(i):
            time.sleep(0.5 if i == 0 else 0.001)
            return True
        t0 = time.time() + 0.05
        done = run.open_loop(6, 20.0, 1, t0, send)
        self.assertEqual([d[0] for d in done], list(range(6)))
        lat = [end - due for _, due, _, end, _ in done]
        late = [sent - due for _, due, sent, _, _ in done]
        self.assertGreater(lat[0], 0.45)
        self.assertGreater(lat[1], 0.40)       # due at +50 ms, sent after the stall
        self.assertGreater(late[1], 0.40)
        self.assertTrue(all(d[1] == t0 + d[0] / 20.0 for d in done))

    def test_sends_on_schedule_when_idle(self):
        t0 = time.time() + 0.05
        done = run.open_loop(4, 10.0, 2, t0, lambda i: True)
        self.assertTrue(all(sent - due < 0.05 for _, due, sent, _, _ in done))


class ServeChecks(unittest.TestCase):
    def test_wrong_bytes_and_errors_rejected(self):
        self.assertTrue(run.response_ok(True, 200, b"[1]", b"[1]"))
        self.assertFalse(run.response_ok(True, 200, b"[2]", b"[1]"))
        self.assertFalse(run.response_ok(False, 503, b"", None))
        self.assertFalse(run.response_ok(True, 500, b"[1]", b"[1]"))
        self.assertTrue(run.response_ok(False, 200, b"[]", None))

    def test_freshness_from_release(self):
        t0, first, rate = 1000.0, 10, 0.5
        rel = t0 + 1 / rate                       # release of the first live block
        polls = [(rel + 0.1, {"podping": first - 1}, True, 50.0),
                 (rel + 0.3, {"podping": first}, True, 50.0)]
        fresh = run.freshness(polls, "podping", t0, rel + 2.0 + 1 / rate, first, rate)
        self.assertAlmostEqual(fresh[0], 300.0, places=3)
        # the next block is never shown: it counts until the end of the run
        self.assertAlmostEqual(fresh[1], 2000.0, places=3)

    def test_schedule_is_seeded_and_a_quarter_fresh(self):
        a, b = run.schedule(7, 2000), run.schedule(7, 2000)
        self.assertEqual(a, b)
        self.assertNotEqual(a, run.schedule(8, 2000))
        self.assertEqual(sum(1 for *_, h in a if not h), 500)
        self.assertEqual({r for r, _, h in a if not h}, {"counts", "ops"})
        fresh = [p for _, p, h in a if not h]
        self.assertGreater(len(set(fresh)), 0.9 * len(fresh))


class Estimators(unittest.TestCase):
    def test_geomean_moves_with_either_cluster(self):
        self.assertAlmostEqual(run.geomean([4, 4, 400, 400]), 40.0)
        self.assertGreater(run.geomean([8, 8, 400, 400]), 40.0)
        self.assertGreater(run.geomean([4, 4, 800, 800]), 40.0)


class Baseline(unittest.TestCase):
    def setUp(self):
        self.dir = os.path.join(run.HERE, ".work", "untraced", "query_suite")
        self.made = []

    def tearDown(self):
        for f in self.made:
            os.remove(f)

    def put(self, name, code, seconds, value):
        os.makedirs(self.dir, exist_ok=True)
        path = os.path.join(self.dir, f"test-{name}.json")
        with open(path, "w") as f:
            json.dump({"code": code, "seconds": seconds,
                       "metrics": {n: value for n, *_ in run.END_TO_END}}, f)
        self.made.append(path)

    def test_only_runs_of_the_same_code_and_length_count(self):
        class A:
            workload, seconds = "query_suite", 7.0
        self.put("a", "test-code", 7.0, 1.0)
        self.put("b", "test-code", 7.0, 3.0)
        self.put("c", "test-code", 7.0, 2.0)
        self.put("stale", "other-code", 7.0, 100.0)
        self.put("short", "test-code", 3.0, 100.0)
        base = run.untraced_baseline(A, "test-code")
        self.assertEqual(base, {n: 2.0 for n, *_ in run.END_TO_END})
        self.assertIsNone(run.untraced_baseline(A, "no-such-code"))


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_the_launcher(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        spec = json.load(open(path))
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         [(n, u, b) for n, u, b, _ in run.per_layer()])
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        names = [n for n, *_ in run.per_layer()] + [n for n, *_ in run.END_TO_END]
        self.assertEqual(len(names), len(set(names)))

    def test_every_per_layer_name_has_an_owner(self):
        owners = {o for *_, o in run.per_layer()}
        self.assertTrue(owners <= {None, *run.WORKLOADS})
        mine = [set(run.owned(w)) for w in run.WORKLOADS]
        self.assertEqual(set.union(*mine), {n for n, *_ in run.per_layer()})
        shared = set.intersection(*mine)
        self.assertEqual(shared, {n for n, _, _, o in run.per_layer() if o is None})

    def test_workloads_json_describes_every_metric(self):
        doc = json.load(open(os.path.join(run.HERE, "workloads.json")))
        self.assertEqual(set(doc["end_to_end"]) - {"failures"},
                         {n for n, *_ in run.END_TO_END})
        for n, *_ in run.END_TO_END:
            self.assertTrue(set(run.WORKLOADS) <= set(doc["end_to_end"][n]), n)


if __name__ == "__main__":
    unittest.main()
