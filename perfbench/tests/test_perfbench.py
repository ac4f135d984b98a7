"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The generator tests run in a few seconds. The failure-accounting test
builds and runs the benchmark (one short catalog run with two planted
keys), so it needs the same toolchain as the benchmark itself.
"""
import glob
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "test-tmp")


def tmpdir():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=SCRATCH)


def tree_bytes(d):
    out = []
    for f in sorted(glob.glob(os.path.join(d, "*"))):
        with open(f, "rb") as fh:
            out.append(fh.read())
    return out


class SsbGeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tmpdir() as a, tmpdir() as b:
            gen.ssb_tables(a, 7, 0.002)
            gen.ssb_tables(b, 7, 0.002)
            self.assertEqual(tree_bytes(a), tree_bytes(b))
            self.assertEqual(len(tree_bytes(a)), 4)

    def test_other_seed_other_bytes(self):
        with tmpdir() as a, tmpdir() as b:
            gen.ssb_tables(a, 7, 0.002)
            gen.ssb_tables(b, 8, 0.002)
            self.assertNotEqual(tree_bytes(a), tree_bytes(b))

    def test_q1_predicates_select_rows(self):
        for seed in (1, 2, 3):
            with tmpdir() as d:
                rows = gen.ssb_tables(d, seed, run.SSB_SF)
                answers = gen.duckdb_q1(d)
                self.assertEqual(answers["star_rows"], rows["lineorder"])
                for q in gen.Q1:
                    revenue, selected = answers[q]
                    self.assertGreater(selected, 0, f"{q} selects no rows at seed {seed}")
                    self.assertGreater(revenue, 0)


class LandingZoneTest(unittest.TestCase):
    events = os.path.join(run.FIXTURE, "events.parquet")

    def test_same_seed_same_bytes(self):
        with tmpdir() as a, tmpdir() as b:
            gen.event_landing_zone(self.events, a, 5)
            gen.event_landing_zone(self.events, b, 5)
            self.assertEqual(tree_bytes(a), tree_bytes(b))

    def test_files_keep_every_row_in_event_time_order(self):
        import pyarrow.parquet as pq
        with tmpdir() as d:
            files = gen.event_landing_zone(self.events, d, 5)
            tables = [pq.read_table(f) for f in files]
            self.assertEqual(sum(t.num_rows for t in tables), pq.read_metadata(self.events).num_rows)
            for earlier, later in zip(tables, tables[1:]):
                self.assertLessEqual(max(earlier.column("ts").to_pylist()),
                                     min(later.column("ts").to_pylist()))


def run_planted(plant):
    """One short catalog run of a real key plus the planted keys; returns
    the result line and the record."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "catalog_serial",
         "--seed", "3", "--seconds", "0", "--trace", "0", "--keys", "rel_promo_revenue",
         "--plant", plant],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    record_line = next(l for l in lines if l.startswith("record "))
    with open(os.path.join(ROOT, record_line.split(" ", 1)[1])) as f:
        return json.loads(lines[-1]), json.load(f)


class FailureAccountingTest(unittest.TestCase):
    """Planted failures are counted, named, and never timed as fast
    samples."""

    def test_throwing_and_wrong_keys_are_counted(self):
        result, record = run_planted("planted_throw,planted_wrong")
        passes = len(record["passes"])
        self.assertEqual(result["attempted"], 3 * passes)
        self.assertEqual(result["failed"], 2 * passes)
        self.assertFalse(result["correct"])
        kinds = {(f["key"], f["kind"]) for f in record["failures"]}
        self.assertEqual(kinds, {("planted_throw", "throw"), ("planted_wrong", "wrong_digest")})
        self.assertAlmostEqual(record["end_to_end"]["failed_frac"], 2 / 3)
        # the result line carries exactly BENCHMARK.json's end-to-end metrics
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            contract = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, contract)
        # only the real key's latencies are samples
        self.assertEqual(record["tail_samples"], passes - 1)

    def test_hanging_key_times_out_and_is_counted(self):
        # the planted key sleeps in driver-side code for ten minutes
        result, record = run_planted("planted_hang")
        passes = len(record["passes"])
        self.assertEqual(result["attempted"], 2 * passes)
        self.assertEqual(result["failed"], passes)
        # a timeout is a failure, not a wrong answer
        self.assertTrue(result["correct"])
        self.assertEqual({(f["key"], f["kind"]) for f in record["failures"]},
                         {("planted_hang", "timeout")})
        self.assertAlmostEqual(record["end_to_end"]["failed_frac"], 1 / 2)
        self.assertEqual(record["tail_samples"], passes - 1)
        # each cut-off operation was given up close to the 30 s timeout
        hung = [o for p in record["passes"] for o in p["ops"] if o["key"] == "planted_hang"]
        self.assertTrue(all(run.OP_TIMEOUT_S <= o["wall_s"] < run.OP_TIMEOUT_S + 10 for o in hung), hung)


if __name__ == "__main__":
    unittest.main()
