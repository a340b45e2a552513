"""Self-tests of the benchmark's Python side: python3 perfbench/test_metrics.py

Set PERFBENCH_E2E=1 to also run the end-to-end check that a wrong expected
answer fails a real run (builds if needed, about a minute).
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail_percentile(xs), (90.0, 90))
        p, v = metrics.tail_percentile(list(range(1, 41)))
        self.assertEqual((p, v), (75.0, 30))

    def test_every_size_leaves_ten_beyond(self):
        for n in range(20, 400):
            xs = [float(i) for i in range(n)]
            p, v = metrics.tail_percentile(xs)
            self.assertEqual(sum(1 for x in xs if x > v), 10, n)
            self.assertGreaterEqual(p, 50.0)

    def test_small_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail_percentile(list(range(1, 20))), (50.0, 10))


class Names(unittest.TestCase):
    def test_metric_names_and_units(self):
        for table in (metrics.END_TO_END, metrics.PER_LAYER):
            for name, unit in table.items():
                self.assertRegex(name, r"^[A-Za-z0-9_.-]+$")
                # the benchmark file's own rule: a letter or digit first, at most 64
                self.assertRegex(name, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
                self.assertRegex(unit, r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_benchmark_json_matches(self):
        import json
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
        self.assertEqual(e2e, metrics.END_TO_END)
        self.assertEqual(layer, metrics.PER_LAYER)


def fake_record(ok=True):
    op = lambda name, lat: {"name": name, "ok": ok, "msg": "" if ok else "bad",
                            "latency_s": lat, "phases": {}}
    return {
        "session_s": 1.0, "generate_s": [0.5, 0.4, 0.6], "warmup_s": 2.0,
        "cores": 4, "spans": [], "workload_info": {},
        "warmup": [op("a", 0.2), op("b", 0.3)],
        "reps": [{"rep": r, "traced": False, "wall_s": 1.0 + r / 10,
                  "gc_s": 0, "codegen_compile_s": 0, "peak_rss_mb": 900.0 + r,
                  "ops": [op("a", 0.1 * r), op("b", 0.2 * r)]} for r in (1, 2, 3)],
    }


class Summary(unittest.TestCase):
    def test_end_to_end(self):
        s = metrics.summarize(fake_record(), {})
        e = s["end_to_end"]
        self.assertEqual(set(e), set(metrics.END_TO_END))
        self.assertAlmostEqual(e["setup_s"]["value"], 3.5)
        self.assertAlmostEqual(e["wall_s"]["value"], 1.2)
        # the median over ops of each op's median latency: a 0.2, b 0.4
        self.assertAlmostEqual(e["op_p50_s"]["value"], 0.3)
        self.assertEqual(s["samples"]["op_p50_s"], {"ops": 2, "passes": 3})
        self.assertEqual((s["attempted"], s["failed"]), (8, 0))
        self.assertTrue(all(m["value"] != 0 for m in e.values()))

    def test_wrong_output_fails(self):
        s = metrics.summarize(fake_record(ok=False), {})
        self.assertEqual(s["failed"], 8)

    def test_oracle_mismatch_fails_warmup_and_every_run(self):
        s = metrics.summarize(fake_record(), {"a": "rows 3 vs 4"})
        self.assertEqual(s["failed"], 4)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class WrongExpectedFailsRun(unittest.TestCase):
    def test_exit_nonzero_and_incorrect(self):
        here = os.path.dirname(os.path.abspath(__file__))
        p = subprocess.run([sys.executable, os.path.join(here, "run.py"),
                            "--workload", "mj_pipeline", "--seed", "7", "--seconds", "1",
                            "--trace", "0", "--corrupt-expected"],
                           cwd=os.path.dirname(here), capture_output=True, text=True,
                           timeout=900)
        self.assertNotEqual(p.returncode, 0)
        last = __import__("json").loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertGreater(last["failed"], 0)


if __name__ == "__main__":
    unittest.main()
