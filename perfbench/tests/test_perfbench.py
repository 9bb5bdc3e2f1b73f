"""Self-tests of the benchmark. From the root of a graft checkout:

    python3 -m unittest discover -s perfbench/tests

The two live tests compile graft (first time only) and start Spark; they
take a few minutes.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import report  # noqa: E402


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]}, spec)


def run_bench(*args):
    out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py")] + list(args),
                         cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                         check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def span(i, parent, kind, start, end, **attrs):
    return {"id": i, "parent": parent, "kind": kind, "name": f"{kind}{i}",
            "start": start, "end": end, "attrs": attrs}


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_children(self):
        self.assertEqual(report.covered((0, 10), [(1, 3), (2, 5), (7, 12), (-4, -1)]), 7)

    def test_self_time_on_a_synthetic_tree(self):
        spans = [
            span(0, -1, "pass", 0, 100),
            span(1, 0, "op", 0, 60),
            span(2, 1, "build", 0, 10),
            span(3, 1, "plan", 10, 15),
            span(4, 1, "exec", 15, 55),
            span(5, -1, "job", 20, 30),   # hung under exec by containment
            span(6, -1, "job", 25, 40),   # overlaps job 5
            span(7, 5, "stage", 21, 29),
            span(8, 0, "op", 60, 100),
            span(9, 8, "exec", 70, 100),
            span(10, -1, "job", 2, 4),    # a build job
        ]
        t = report.Tree(spans)
        self_ms = {i: t.self_time(t.spans[i]) for i in t.spans}
        self.assertEqual(t.spans[5]["parent"], 4)
        self.assertEqual(t.spans[10]["parent"], 2)
        self.assertEqual(self_ms[0], 0)        # two ops tile the pass
        self.assertEqual(self_ms[1], 5)        # 60 - (10 + 5 + 40): the residual
        self.assertEqual(self_ms[2], 8)        # 10 - job 10
        self.assertEqual(self_ms[4], 20)       # 40 - union(20..30, 25..40) = 40 - 20
        self.assertEqual(self_ms[5], 2)        # 10 - stage 8
        self.assertEqual(self_ms[8], 10)       # 40 - 30
        # self times add back to the root's 100 ms, plus the 5 ms in which
        # the sibling jobs 5 and 6 overlap
        self.assertEqual(sum(self_ms.values()), 105)

    def test_op_statistics(self):
        value, pct, n = report.tail(list(range(1, 101)))
        self.assertEqual((value, n), (90, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)
        self.assertEqual(pct, 90.0)
        self.assertEqual(report.tail([3.0, 1.0, 2.0])[0], 3.0)
        xs = [7.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 100.0]
        self.assertEqual(report.iqm(xs), 4.5)       # mean of 3, 4, 5, 6
        self.assertEqual(report.slow25(xs), 53.5)   # mean of 7, 100


class Names(unittest.TestCase):
    def test_report_declares_what_benchmark_json_declares(self):
        e2e, layers, spec = declared()
        self.assertEqual(e2e, report.END_TO_END)
        self.assertEqual(layers, report.PER_LAYER)
        self.assertEqual(spec["command"], ["python3", "perfbench/run.py"])


@unittest.skipUnless(os.environ.get("PERFBENCH_LIVE", "1") == "1", "PERFBENCH_LIVE=0")
class Live(unittest.TestCase):
    def test_printed_metric_names_equal_the_declared_ones(self):
        e2e, layers, spec = declared()
        w = spec["workloads"][0]["name"]
        plain = run_bench("--workload", w, "--seed", "7", "--seconds", "1", "--trace", "0")
        self.assertEqual({k: v["unit"] for k, v in plain["metrics"].items()}, e2e)
        self.assertTrue(plain["correct"])
        traced = run_bench("--workload", w, "--seed", "7", "--seconds", "1", "--trace", "1")
        self.assertEqual({k: v["unit"] for k, v in traced["metrics"].items()}, layers)

    def test_wrong_expectation_counts_as_failed(self):
        res = run_bench("--workload", "event-stream", "--seed", "7", "--seconds", "1",
                        "--trace", "0", "--corrupt-expectation")
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertEqual(res["failed"], res["attempted"])


if __name__ == "__main__":
    unittest.main()
