"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The metric arithmetic and the generator run in well under a second; the
smoke test builds the program on first use and runs each workload once on
tiny inputs, so it takes a few minutes.
"""
import filecmp
import glob
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
import metrics
import run


class MathTest(unittest.TestCase):

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(metrics.median([]), 0.0)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3)]), 3)
        self.assertEqual(metrics.union_length([(5, 6), (0, 1), (0.5, 0.7)]),
                         2)
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([(3, 1)]), 0.0)

    def test_clip(self):
        self.assertEqual(metrics.clip([(0, 5), (6, 9), (11, 12)], 2, 10),
                         [(2, 5), (6, 9)])

    def test_self_times(self):
        spans = [
            {"id": 0, "name": "pass", "parent": -1, "start": 0, "end": 10000},
            {"id": 1, "name": "op.a", "parent": 0, "start": 0, "end": 4000},
            {"id": 2, "name": "op.b", "parent": 0, "start": 3000,
             "end": 6000},
            {"id": 3, "name": "leaf", "parent": 1, "start": 1000,
             "end": 2000},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["pass"], 4.0)
        self.assertAlmostEqual(st["op.a"], 3.0)
        self.assertAlmostEqual(st["op.b"], 3.0)
        self.assertAlmostEqual(st["leaf"], 1.0)

    def test_clip_to(self):
        self.assertEqual(
            metrics.clip_to([(0, 4), (5, 9)], [(1, 2), (3, 6)]),
            [(1, 2), (3, 4), (5, 6)])

    def test_runonce_phases(self):
        sink = "graft.io.Sinks$.overwriteSafely(Sinks.scala:33)"

        def ex(start, end, *frames):
            return {"start": start, "end": end, "details": "\n".join(frames)}
        sql = [
            ex(10, 20, "count", "graft.Main$.runOnce(Main.scala:57)"),
            ex(21, 30, "parquet", sink, "graft.Main$.runOnce(Main.scala:58)"),
            ex(31, 35, "parquet", sink, "graft.Main$.runOnce(Main.scala:59)"),
            ex(36, 38, "count", "graft.Main$.runOnce(Main.scala:60)"),
            ex(50, 60, "count", "outside the call"),
        ]
        ph = metrics.runonce_phases(sql, 0, 40)
        self.assertEqual(ph["pipeline.merge"], [(10, 20)])
        self.assertEqual(ph["io.state_write"], [(21, 30)])
        self.assertEqual(ph["io.topk_write"], [(31, 35)])
        self.assertEqual(ph["io.readback"], [(36, 38)])


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        os.makedirs(run.WORK, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=run.WORK)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def _make(self, name, seed):
        d = os.path.join(self.dir, name)
        gen.tables(os.path.join(d, "tables"), seed, 0.002)
        gen.query_logs(os.path.join(d, "logs"), os.path.join(d, "state"),
                       seed, 2, 300, 100, 500)
        return d

    def _same(self, a, b):
        for sub in ("tables", "logs", "state"):
            names = sorted(os.listdir(os.path.join(a, sub)))
            if names != sorted(os.listdir(os.path.join(b, sub))):
                return False
            _, mismatch, errors = filecmp.cmpfiles(
                os.path.join(a, sub), os.path.join(b, sub), names,
                shallow=False)
            if mismatch or errors:
                return False
        return True

    def test_same_seed_same_bytes(self):
        self.assertTrue(self._same(self._make("a", 5), self._make("b", 5)))

    def test_other_seed_other_inputs(self):
        self.assertFalse(self._same(self._make("a", 5), self._make("c", 6)))

    def test_reference_counts(self):
        path = os.path.join(self.dir, "h.txt")
        with open(path, "w") as f:
            f.write("Ab\n  ab \nx\n\nabc\n")
        rows, counts = check.reference_counts([path])
        self.assertEqual(rows, [3])   # "ab": [ab]; "abc": [ab, abc]
        self.assertEqual(counts, {"ab": 2, "abc": 1})
        rows, counts = check.reference_counts([path], {"abd": 3})
        self.assertEqual(rows, [5])
        self.assertEqual(counts, {"abd": 3, "ab": 2, "abc": 1})

    def _tables(self, state, topk):
        for name, rows in (("state", state), ("topk", topk)):
            d = os.path.join(self.dir, name)
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            cols = list(zip(*rows))
            keys = (["prefix", "query", "frequency"] if name == "state"
                    else ["prefix", "completions"])
            pq.write_table(pa.table(dict(zip(keys, cols))),
                           os.path.join(d, "part-0.parquet"))
        con = check._connect(self.dir)
        return check.output_ok(con, os.path.join(self.dir, "state"),
                               os.path.join(self.dir, "topk"),
                               {"ab": 2, "abc": 1, "abd": 2}, 2)

    def test_output_check(self):
        state = [("ab", "ab", 2), ("ab", "abc", 1), ("abc", "abc", 1),
                 ("ab", "abd", 2), ("abd", "abd", 2)]
        topk = [("ab", '["ab","abd"]'), ("abc", '["abc"]'),
                ("abd", '["abd"]')]
        self.assertTrue(self._tables(state, topk))
        self.assertFalse(self._tables(state[:-1], topk))
        self.assertFalse(self._tables(state + state[:1], topk))
        self.assertFalse(self._tables(
            state[:-1] + [("abd", "abd", 3)], topk))
        self.assertFalse(self._tables(
            state, [("ab", '["abd","ab"]')] + topk[1:]))
        self.assertFalse(self._tables(state, topk[1:]))

    def test_history_state(self):
        """The generated starting state is the prefix expansion of the
        history counts the generator returns."""
        d = os.path.join(self.dir, "h")
        _, base = gen.query_logs(os.path.join(d, "logs"),
                                 os.path.join(d, "state"), 3, 1, 10, 50, 400)
        con = check._connect(self.dir)
        con.register("counts", pa.table({
            "query": list(base), "frequency": list(base.values())}))
        files = sorted(glob.glob(os.path.join(d, "state", "*.parquet")))
        self.assertTrue(check._same_rows(
            con, f"SELECT * FROM read_parquet({files!r})",
            check.EXPECTED_STATE))


class SmokeTest(unittest.TestCase):
    """Each workload once, end to end, on tiny inputs."""

    TINY = {
        "autocomplete_hourly": {"hours": 2, "lines": 500, "vocab": 200,
                                "history": 1000, "ops": []},
        "similarity_sweep": {"frac": 0.01,
                             "ops": run.WORKLOADS["similarity_sweep"]["ops"]},
    }

    def test_workloads(self):
        spec = run.load_spec()
        for name, cfg in self.TINY.items():
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=name, trace=trace):
                    out = run.bench(spec, name, cfg, seed=1, seconds=0,
                                    trace=trace)
                    self.assertTrue(out["correct"], out)
                    self.assertEqual(out["failed"], 0)
                    self.assertGreater(out["attempted"], 0)
                    self.assertEqual(sorted(out["metrics"]),
                                     sorted(m["name"] for m in spec[section]))


if __name__ == "__main__":
    unittest.main()
