"""Tests of the benchmark's input generator and its reference.

Run from the repository root:
  python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import reference  # noqa: E402

# A seed no tuning used: a claimed gain must also hold on it.
HELD_OUT_SEED = 9001


def _sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.specs = {}
        for w in gen.WORKLOADS:
            for seed in (1, HELD_OUT_SEED):
                d = os.path.join(cls.tmp.name, f"{w}-{seed}")
                cls.specs[(w, seed)] = (d, gen.write(w, seed, d))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_bytes(self):
        for w in gen.WORKLOADS:
            d, _ = self.specs[(w, 1)]
            again = os.path.join(self.tmp.name, f"{w}-again")
            gen.write(w, 1, again)
            for name in ("events.parquet", "workload.json"):
                self.assertEqual(_sha(os.path.join(d, name)), _sha(os.path.join(again, name)),
                                 f"{w}/{name}")

    def test_other_seed_other_bytes(self):
        for w in gen.WORKLOADS:
            a = os.path.join(self.specs[(w, 1)][0], "events.parquet")
            b = os.path.join(self.specs[(w, HELD_OUT_SEED)][0], "events.parquet")
            self.assertNotEqual(_sha(a), _sha(b), w)

    def test_workload_properties(self):
        for (w, seed), (_, spec) in self.specs.items():
            want = gen.WORKLOADS[w]
            with self.subTest(workload=w, seed=seed):
                self.assertEqual(spec["turns"], want["turns"])
                self.assertEqual(spec["bucket_count"], want["hours"])
                lo, hi = want["text"]
                self.assertTrue(lo <= spec["text_bytes_median"] <= hi, spec["text_bytes_median"])
                if want["hot_share"]:
                    self.assertAlmostEqual(spec["hot_share"], want["hot_share"], delta=0.02)
                else:
                    self.assertLess(spec["hot_share"], 0.01)
                share = spec["search_breached"] / spec["search_buckets"]
                self.assertTrue(0.4 <= share <= 0.6, share)
                self.assertGreater(spec["fallback_discarded"], 0)

    def test_user_ids_fit_the_conv_id_pad(self):
        # fromEvents lpads user_id to 5 digits; a wider id would merge
        # conversations and duplicate (conv_id, turn_idx) keys
        for (w, seed), (d, spec) in self.specs.items():
            with self.subTest(workload=w, seed=seed):
                self.assertLessEqual(spec["max_user_id"], gen.MAX_USER_ID)
                con = duckdb.connect()
                con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')")
                n, keys = con.execute(
                    f"SELECT count(*), count(DISTINCT (conv_id, turn_idx)) FROM ({reference.TURNS})"
                ).fetchone()
                self.assertEqual(n, keys)

    def test_reference_agrees_with_generator_limits(self):
        # the generator picks limits from its own model of the limiter chain;
        # the DuckDB reference recomputes the chain from the data
        for (w, seed), (d, spec) in self.specs.items():
            with self.subTest(workload=w, seed=seed):
                want = reference.expected(d, spec["search_limit"], spec["fallback_limit"],
                                          self.tmp.name)
                self.assertEqual(want["turns"], spec["turns"])
                self.assertEqual(want["routed_rows"], spec["fanout_rows"])
                self.assertEqual(want["rerouted_cells"], spec["search_breached"])
                self.assertEqual(want["breached_cells"],
                                 spec["search_breached"] + spec["fallback_discarded"])
                self.assertEqual(sum(s["rows"] for s in want["sinks"].values()),
                                 want["routed_rows"] - want["dropped_rows"])


if __name__ == "__main__":
    unittest.main()
