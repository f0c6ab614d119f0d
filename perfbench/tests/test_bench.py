"""Tests of the benchmark's own code (no JVM, no build).

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import decimal
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import make_digests  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    names = sorted(os.listdir(a))
    return (names == sorted(os.listdir(b)) and not cmp.left_only and not cmp.right_only
            and not filecmp.cmpfiles(a, b, names, shallow=False)[1])


class Inputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def payload(self, name, seed):
        d = os.path.join(self.tmp, name)
        gen.write_tweets(d, seed, 3, 400)
        return d

    def test_same_seed_same_payload_bytes(self):
        self.assertTrue(same_tree(self.payload("a", 7), self.payload("b", 7)))

    def test_other_seed_other_payload(self):
        self.assertFalse(same_tree(self.payload("a", 7), self.payload("b", 8)))

    def test_payload_shape(self):
        lines, bad = gen.tweet_lines(3, 4000)
        parsed = []
        for ln in lines:
            try:
                parsed.append(json.loads(ln))
            except json.JSONDecodeError:
                pass
        self.assertEqual(len(lines) - len(parsed), bad)
        self.assertTrue(0 < bad < 0.02 * len(lines))
        tracked = sum(any(h["text"] == gen.TRACK for h in t["entities"]["hashtags"])
                      for t in parsed)
        self.assertGreater(tracked, len(parsed) // 20)

    def test_catalog_tables_ignore_the_seed_and_repeat(self):
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        gen.write_tables(a, 0.002)
        gen.write_tables(b, 0.002)
        self.assertTrue(same_tree(a, b))
        self.assertEqual(len(os.listdir(a)), 10)

    def test_query_order_is_a_seeded_permutation(self):
        names = run.sample_names()
        self.assertEqual(gen.query_order(names, 1), gen.query_order(names, 1))
        self.assertNotEqual(gen.query_order(names, 1), gen.query_order(names, 2))
        self.assertEqual(sorted(gen.query_order(names, 3)), sorted(names))


class Metrics(unittest.TestCase):
    def test_names_and_units(self):
        s = spec()
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in s[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names + [w["name"] for w in s["workloads"]]:
            self.assertRegex(n, NAME)
        self.assertIn("setup_s", [m["name"] for m in s["end_to_end"]])
        self.assertEqual(set(run.WORKLOADS), {w["name"] for w in s["workloads"]})

    def test_every_metric_the_harness_emits_is_declared(self):
        src = ""
        for d, _, fs in os.walk(os.path.join(BENCH, "src")):
            for f in fs:
                with open(os.path.join(d, f)) as fh:
                    src += fh.read()
        e2e = {m["name"] for m in spec()["end_to_end"]}
        layers = {m["name"] for m in spec()["per_layer"]}
        emitted = set(re.findall(r'layer\("([^"$]+)"', src))
        keys = set(re.findall(r'"([a-z0-9_]+)" ->', src))
        self.assertTrue(emitted and keys)
        self.assertLessEqual(emitted - {"heap_used_mb"}, layers)
        self.assertLessEqual(keys, e2e)
        self.assertLessEqual({f"overhead.{k}" for k in keys}, layers)


class Digest(unittest.TestCase):
    def test_canonical_cells(self):
        c = make_digests.canon
        self.assertEqual(c(1.0), "3ff0000000000000")
        self.assertEqual(c(float("nan")), "nan")
        self.assertEqual(c(decimal.Decimal("1.500")), "1.5")
        self.assertEqual(c(decimal.Decimal("100")), "100")
        self.assertEqual(c(decimal.Decimal("0.00")), "0")
        self.assertEqual(c(datetime.datetime(1970, 1, 1, 0, 0, 1)), "1000000")
        self.assertEqual(c(datetime.date(1970, 1, 11)), "10")
        self.assertEqual(c("a|b"), "a\\|b")
        self.assertEqual(c([1, None]), "[1,\\N]")
        self.assertEqual(c(True), "true")

    def test_digest_ignores_row_and_column_order(self):
        rows = [(1, "x"), (2, "y")]
        swapped = [(r[1], r[0]) for r in reversed(rows)]
        self.assertEqual(make_digests.digest(["a", "b"], rows),
                         make_digests.digest(["b", "a"], swapped))
        self.assertNotEqual(make_digests.digest(["a", "b"], rows),
                            make_digests.digest(["a", "b"], rows[:1]))

    def test_every_sampled_query_has_an_expected_digest(self):
        with open(os.path.join(BENCH, "expected_digests.txt")) as fh:
            stored = {ln.split()[0] for ln in fh if ln.strip()}
        self.assertEqual(stored, set(run.sample_names()))


class Layout(unittest.TestCase):
    def test_fails_without_the_graft_sources(self):
        """Where only BENCHMARK.json and perfbench/ exist, the run fails fast
        and prints no result."""
        tmp = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(BENCH, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tweet_stream",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=tmp, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn("{", p.stdout)
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
