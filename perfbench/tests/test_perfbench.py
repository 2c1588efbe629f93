"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests     # from the repository root

The smoke test builds the engine and runs both workloads on tiny inputs,
traced and untraced; it takes a few minutes.
"""

import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402

RATES = json.loads(open(os.path.join(BENCH, "workloads.json")).read())["workloads"]["etl_daily"]["rates"]
TINY = {"days": 3, "tx_per_day": 100, "n_clients": 40, "n_terminals": 30}


def read(*parts):
    with open(os.path.join(*parts)) as f:
        return f.read()


def tree_hash(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def generate(self, kind, seed):
        with tempfile.TemporaryDirectory() as d:
            if kind == "etl":
                gen.etl(d, seed, TINY, RATES)
            else:
                gen.corpus(d, 0.02, seed)
            return tree_hash(d)

    def test_same_seed_same_bytes(self):
        for kind in ("etl", "corpus"):
            self.assertEqual(self.generate(kind, 5), self.generate(kind, 5), kind)

    def test_other_seed_other_bytes(self):
        for kind in ("etl", "corpus"):
            self.assertNotEqual(self.generate(kind, 5), self.generate(kind, 6), kind)

    def test_sources_have_the_reference_shapes(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.etl(d, 3, dict(TINY, days=2), RATES)
            self.assertEqual(sorted({p["rule"] for p in m["planted"]}), [1, 2, 3, 4])
            lines = read(d, "src", "transactions_02012024.txt").splitlines()
            self.assertEqual(lines[0].split(";")[2], "amount")
            amounts = [ln.split(";")[2] for ln in lines[1:]]
            self.assertTrue(all("," in a for a in amounts))
            ids = [ln.split(";")[0] for ln in lines[1:]]
            first_day = {ln.split(";")[0] for ln in read(d, "src", "transactions_01012024.txt").splitlines()[1:]}
            self.assertTrue(first_day & set(ids), "day 2 replays some of day 1's rows")
            with open(os.path.join(d, "src", "passport_blacklist_02012024.xlsx"), "rb") as f:
                self.assertEqual(f.read(4), b"PK\x03\x04")
            self.assertEqual(gen.euro(123456789), "1.234.567,89")
            self.assertEqual(gen.euro(5), "0,05")


class TailPercentileTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(10))
        self.assertEqual(metrics.tail_percentile(11), 9)
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(100), 90)
        for n in range(11, 300):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(n - metrics.rank(n, p), 10, n)
            if p < 99:
                self.assertLess(n - metrics.rank(n, p + 1), 10, n)

    def test_percentile_is_a_sample(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(metrics.percentile(xs, 90), 90.0)
        self.assertEqual(metrics.percentile(xs, 50), 50.0)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end, "name": "s%d" % i, "attrs": {}}

    def test_nested_and_overlapping_children(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 1, 3), self.span(3, 1, 2, 5),
                 self.span(4, 1, 7, 8), self.span(5, 3, 2, 4), self.span(6, 1, 9, 12)]
        st = metrics.self_times(spans)
        # children cover [1,5] ∪ [7,8] ∪ [9,10] of the parent = 6
        self.assertAlmostEqual(st[1], 4)
        self.assertAlmostEqual(st[3], 1)   # [2,5] minus its child [2,4]
        self.assertAlmostEqual(st[5], 2)   # a leaf keeps its whole duration
        self.assertAlmostEqual(st[6], 3)

    def test_attribution_to_innermost_span(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 2, 6), self.span(3, 2, 3, 4)]
        self.assertEqual(metrics.innermost(spans, 3.5), 3)
        self.assertEqual(metrics.innermost(spans, 5), 2)
        self.assertEqual(metrics.innermost(spans, 9), 1)
        self.assertEqual(metrics.innermost(spans, 11), 0)
        self.assertEqual(metrics.descendants(spans, 2), {2, 3})


class SmokeTest(unittest.TestCase):
    def test_every_workload_on_tiny_inputs(self):
        spec = json.loads(read(BENCH, "workloads.json"))
        bench = json.loads(read(ROOT, "BENCHMARK.json"))
        e2e = {m["name"] for m in bench["end_to_end"]}
        layer = {m["name"] for m in bench["per_layer"]}
        for name in spec["workloads"]:
            for trace, names in ((0, e2e), (1, layer)):
                res = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", name,
                                      "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
                                     cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                                     timeout=600)
                self.assertEqual(res.returncode, 0, res.stderr[-3000:])
                line = json.loads(res.stdout.strip().splitlines()[-1])
                self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(line["correct"])
                self.assertEqual(line["failed"], 0)
                self.assertEqual(set(line["metrics"]), names, (name, trace))
                if trace == 0:
                    for k, v in line["metrics"].items():
                        self.assertGreater(v["value"], 0, (name, k))
                else:
                    self.assertEqual(line["metrics"]["indexes.builds_in_timed"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
