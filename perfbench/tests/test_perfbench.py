"""The benchmark's own tests. From the repository root:

  python3 -m unittest discover -s perfbench/tests

The listener test compiles and starts a JVM (about a minute on first use).
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SMALL = dict(kv_batches=2, kv_units=20, lookup_requests=20, docs=300,
             vocab=2000)


def scratch():
    d = os.path.join(build.build_dir(ROOT), "test-tmp")
    os.makedirs(d, exist_ok=True)
    return tempfile.mkdtemp(dir=d)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.saved = dict(gen.SIZES)
        gen.SIZES.update(SMALL)
        self.dirs = []

    def tearDown(self):
        gen.SIZES.clear()
        gen.SIZES.update(self.saved)
        for d in self.dirs:
            shutil.rmtree(d, ignore_errors=True)

    def files(self, seed, workload):
        d = scratch()
        self.dirs.append(d)
        exp = gen.generate(d, seed, workload)
        out = {}
        for base, _, names in os.walk(d):
            for n in names:
                p = os.path.join(base, n)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, d)] = fh.read()
        return out, exp

    def test_same_seed_gives_identical_bytes(self):
        for w in metrics.OPS:
            a, _ = self.files(5, w)
            b, _ = self.files(5, w)
            # the manifest names its own directory; everything else must match
            a.pop("manifest.properties")
            b.pop("manifest.properties")
            self.assertEqual(a, b, w)
            self.assertGreater(len(a), 1, w)

    def test_other_seed_gives_other_bytes(self):
        for w in metrics.OPS:
            a, _ = self.files(5, w)
            b, _ = self.files(6, w)
            a.pop("manifest.properties")
            b.pop("manifest.properties")
            self.assertNotEqual(a, b, w)

    def test_planted_pairs_clear_the_threshold(self):
        _, exp = self.files(3, "near_dup_dedup")
        c = exp["corpus"]
        self.assertTrue(c["planted"])
        for a, b in c["planted"]:
            self.assertGreaterEqual(gen.jaccard(c["texts"][a], c["texts"][b]),
                                    gen.THRESHOLD)


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        with self.assertRaises(metrics.InsufficientSamples):
            metrics.percentile(xs[:99], 0.9)

    def test_median_of_few_samples_is_reported(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 0.5), 2)

    def test_no_lower_percentile_is_substituted(self):
        with self.assertRaises(metrics.InsufficientSamples):
            metrics.percentile(list(range(50)), 0.9)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_self_time_subtracts_the_union_of_children(self):
        s = self.span
        spans = [s(1, 0, 0, 100), s(2, 1, 10, 40), s(3, 1, 30, 60),
                 s(4, 1, 80, 90), s(5, 2, 15, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)  # children cover 10..60, 80..90
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 5)

    def test_children_are_clipped_to_the_parent(self):
        st = metrics.self_times([self.span(1, 0, 0, 10), self.span(2, 1, 5, 20)])
        self.assertEqual(st[1], 5)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([]), 0)


class BenchmarkJsonTest(unittest.TestCase):
    def test_benchmark_json_lists_the_metrics_the_run_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]),
                         sorted(metrics.OPS))


class ListenerTest(unittest.TestCase):
    def test_listener_attributes_a_known_job_to_its_span(self):
        cp = build.build(ROOT)
        d = scratch()
        try:
            cmd = (["java", "-Xmx1g", "-XX:-UsePerfData",
                    "-Djava.io.tmpdir=" + d]
                   + ["--add-opens=java.base/%s=ALL-UNNAMED" % p
                      for p in run.JVM_OPENS]
                   + ["-cp", cp, "perfbench.SelfTest", d])
            p = subprocess.run(cmd, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True, timeout=300)
        finally:
            shutil.rmtree(d, ignore_errors=True)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertIn("selftest ok", p.stdout)


if __name__ == "__main__":
    unittest.main()
