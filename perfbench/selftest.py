#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

Run from the repository root: python3 perfbench/selftest.py

- the same seed gives byte-identical inputs, another seed different ones;
- the percentile rule: a reported tail has at least ten samples beyond it;
- every metric name is well formed, and BENCHMARK.json lists exactly the
  metrics run.py prints;
- the checkers reject planted wrong results.
"""
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Inputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(dir=HERE, prefix=".selftest-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _check(self, make):
        ds = []
        for i, seed in enumerate([7, 7, 8]):
            out = os.path.join(self.tmp, str(i))
            make(seed, out)
            ds.append(_digest(out))
        self.assertEqual(ds[0], ds[1], "same seed, different inputs")
        self.assertNotEqual(ds[0], ds[2], "different seed, same inputs")

    def test_f1_inputs(self):
        self._check(lambda s, o: gen.gen_f1(s, 2, 3, 1, o))

    def test_lakehouse_inputs(self):
        self._check(lambda s, o: gen.gen_lakehouse(s, 400, 30, 40, o))

    def test_corpus_inputs(self):
        self._check(lambda s, o: gen.gen_corpus(s, 0.0005, o))

    def test_lakehouse_block_optimizes_and_checkpoints(self):
        """Every block of the schedule, so every run, optimizes and
        checkpoints at least once."""
        ops = gen.gen_lakehouse(5, 400, 3 * len(gen.LH_BLOCK), 40,
                                os.path.join(self.tmp, "lh"))
        n = len(gen.LH_BLOCK)
        for b in range(3):
            block = ops[b * n:(b + 1) * n]
            self.assertTrue(any(op.get("optimize") for op in block), b)
            self.assertTrue(any(op.get("checkpoint") for op in block), b)

    def test_lakehouse_model_matches_replay(self):
        """The incremental model's expected states equal a plain replay."""
        out = os.path.join(self.tmp, "lh")
        ops = gen.gen_lakehouse(3, 400, 40, 40, out)
        import pyarrow.parquet as pq
        rows = {r["resultId"]: r for r in
                pq.read_table(os.path.join(out, "base.parquet")).to_pylist()}
        with open(os.path.join(out, "schedule.json")) as f:
            expected = json.load(f)["expected"]

        def state():
            vals = [(r["raceId"], r["driverId"], r["grid"], r["points2"],
                     r["statusId"]) for r in rows.values()]
            return list(gen.lh_checksum(dict(zip(rows, vals))))
        self.assertEqual(state(), expected[0])
        for i, op in enumerate(ops):
            if "source" in op:
                for r in pq.read_table(os.path.join(out, op["source"])).to_pylist():
                    rows[r["resultId"]] = r
            if "predicate" in op:
                race, grid = [int(x) for x in re.findall(r"\d+", op["predicate"])]
                for k in [k for k, r in rows.items()
                          if r["raceId"] == race and r["grid"] >= grid]:
                    del rows[k]
            self.assertEqual(state(), expected[i + 1], f"after op {i}")


class Percentiles(unittest.TestCase):
    def test_tail_has_ten_beyond(self):
        for n in range(0, 400):
            q = run.tail_percentile(n)
            if q is not None:
                xs = list(range(n))
                p = run.percentile(xs, q)
                self.assertGreaterEqual(sum(1 for x in xs if x > p), 10, (n, q))
        self.assertEqual(run.tail_percentile(100), 0.9)
        self.assertEqual(run.tail_percentile(99), 0.75)
        self.assertIsNone(run.tail_percentile(19))

    def test_percentile_and_median(self):
        self.assertEqual(run.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(run.percentile(list(range(1, 11)), 0.9), 9)
        self.assertEqual(run.median([4, 1, 3, 2]), 2.5)


class Names(unittest.TestCase):
    def test_metric_names(self):
        names = list(run.END_TO_END) + [m[0] for m in run.LAYER_METRICS]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)

    def test_benchmark_json_matches(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual({w["name"] for w in b["workloads"]},
                         set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         {k: u for k, (u, _) in run.END_TO_END.items()})
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         {m[0]: m[1] for m in run.LAYER_METRICS})
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], NAME)


class Checkers(unittest.TestCase):
    """Each checker flags a planted wrong result and passes a right one."""

    def _f1(self):
        build = {t: 10 for t in run.STAR_TABLES}
        build["PitStop"] = 5
        exp = {"build": build, "laps_cap": 1000,
               "drops": [{"appended": {t: 2 for t in run.STAR_TABLES}}]}
        good_build = {"kind": "build", "error": None, "obs": {
            "tables": dict(build),
            "pits": {"min": 1, "max": 5, "count": 5, "distinct": 5}}}
        good_drop = {"kind": "drop", "error": None, "obs": {
            "day": 0, "appended": {t: 2 for t in run.STAR_TABLES}}}
        good_rerun = {"kind": "rerun", "error": None, "obs": {
            "day": 0, "appended": {t: 0 for t in run.STAR_TABLES}}}
        return exp, good_build, good_drop, good_rerun

    def test_f1(self):
        exp, b, d, r = self._f1()
        self.assertIsNone(run.judge_f1([b, d, r], exp, b["obs"]))
        self.assertEqual([b["error"], d["error"], r["error"]], [None] * 3)
        exp, b, d, r = self._f1()
        b["obs"]["tables"]["Results"] += 1
        d["obs"]["appended"]["PitStop"] = 0  # the stale-cache symptom
        r["obs"]["appended"]["Laps"] = 3
        setup_error = run.judge_f1([b, d, r], exp, b["obs"])
        self.assertIn("Results", b["error"])
        self.assertIn("PitStop", d["error"])
        self.assertIn("Laps", r["error"])
        self.assertIn("Results", setup_error)
        exp, b, _, _ = self._f1()
        b["obs"]["pits"]["max"] = 6  # a gap in the surrogate key
        self.assertIn("pitsId", run.judge_f1([b], exp, b["obs"]))
        self.assertIn("pitsId", b["error"])
        self.assertIn("boom", run.judge_f1([], exp, {"error": "boom"}))

    def test_lakehouse(self):
        sched = {"expected": [[10, 100], [12, 130]]}
        final = {"n": 12, "sum": 130, "expect": 1}
        good = [
            {"kind": "read", "error": None, "obs": {"n": 12, "sum": 130, "expect": 1}},
            {"kind": "read_at", "error": None, "obs": {"n": 10, "sum": 100, "expect": 0}},
            {"kind": "change_feed", "error": None, "obs": {
                "from": 0, "expect": 1, "types": {
                    "insert": {"n": 3, "sum": 40}, "delete": {"n": 1, "sum": 10}}}}]
        self.assertIsNone(run.judge_lakehouse(good, sched, final))
        self.assertEqual([s["error"] for s in good], [None] * 3)
        bad = json.loads(json.dumps(good))
        bad[0]["obs"]["sum"] = 131
        bad[1]["obs"]["n"] = 11
        bad[2]["obs"]["types"]["insert"]["n"] = 4
        run.judge_lakehouse(bad, sched, final)
        self.assertTrue(all(s["error"] for s in bad))
        self.assertIn("final", run.judge_lakehouse([], sched, dict(final, n=11)))

    def test_corpus_oracle(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        tmp = tempfile.mkdtemp(dir=HERE, prefix=".selftest-")
        try:
            corpus = os.path.join(tmp, "corpus")
            gen.gen_corpus(1, 0.0005, corpus)
            n = pq.read_metadata(os.path.join(corpus, "orders.parquet")).num_rows
            oracle = {"q_ok": "SELECT count(*) AS n FROM orders",
                      "q_bad": "SELECT count(*) AS n FROM orders"}
            for q, v in [("q_ok", n), ("q_bad", n + 1)]:
                os.makedirs(os.path.join(tmp, "results", q))
                pq.write_table(pa.table({"n": pa.array([v], pa.int64())}),
                               os.path.join(tmp, "results", q, "r.parquet"))
            samples = [{"name": q, "error": None, "obs": {"digest": dg}}
                       for q, dg in [("q_ok", "a"), ("q_bad", "b"),
                                     ("q_ok", "a"), ("q_ok", "c")]]
            run.judge_corpus(samples, corpus, os.path.join(tmp, "results"), oracle)
            self.assertIsNone(samples[0]["error"])
            self.assertIn("oracle mismatch", samples[1]["error"])
            self.assertIsNone(samples[2]["error"])
            self.assertIn("differs", samples[3]["error"])
        finally:
            shutil.rmtree(tmp)

    def test_compare_frames(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2], "y": [[1.0], [2.0]]})
        self.assertIsNone(run.compare_frames(a, a.copy()))
        b = pd.DataFrame({"y": [[1.0], [2.5]], "x": [1, 2]})
        self.assertIsNotNone(run.compare_frames(a, b))


if __name__ == "__main__":
    unittest.main()
