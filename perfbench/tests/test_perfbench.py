"""Tests of the benchmark itself (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen_papers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for wl in gen_papers.PARAMS:
                a, b, c = (os.path.join(d, f"{wl}-{i}.jsonl") for i in range(3))
                gen_papers.generate(wl, 5, a)
                gen_papers.generate(wl, 5, b)
                gen_papers.generate(wl, 6, c)
                with open(a, "rb") as fa, open(b, "rb") as fb, open(c, "rb") as fc:
                    da, db, dc = fa.read(), fb.read(), fc.read()
                self.assertEqual(da, db, wl)
                self.assertNotEqual(da, dc, wl)

    def test_shape(self):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "p.jsonl")
            gen_papers.generate("lab2_retrieval", 1, p)
            with open(p) as f:
                rows = [json.loads(line) for line in f]
        self.assertEqual(len(rows), gen_papers.PARAMS["lab2_retrieval"]["papers"])
        self.assertEqual(set(rows[0]), {"id", "title", "abstract", "categories"})
        keys = {r["categories"].lower().rstrip() for r in rows}
        self.assertGreater(len(keys), 100)  # ~150 single category keys
        stop = {"the", "a", "an", "of", "and", "to", "in", "with", "for", "on",
                "is", "are", "was", "were", "results"}
        words = {w for r in rows[:50] for w in r["abstract"].rstrip(".").split()}
        self.assertFalse(words & stop)


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(spans.union_length([]), 0.0)
        self.assertEqual(spans.union_length([(0, 10)]), 10)
        self.assertEqual(spans.union_length([(0, 10), (5, 15)]), 15)  # overlap
        self.assertEqual(spans.union_length([(0, 10), (2, 3)]), 10)  # nested
        self.assertEqual(spans.union_length([(0, 1), (2, 3)]), 2)  # disjoint
        self.assertEqual(spans.union_length([(5, 15), (0, 10), (10, 12)]), 15)  # unsorted
        self.assertEqual(spans.union_length([(0, 1), (1, 2)]), 2)  # touching
        self.assertEqual(spans.union_length([(3, 3), (4, 2)]), 0.0)  # empty

    def test_self_times_sum_to_wall(self):
        sp = [
            {"name": "a", "parent": None, "t0_ms": 10.0, "t1_ms": 50.0},
            {"name": "a1", "parent": "a", "t0_ms": 12.0, "t1_ms": 20.0},
            {"name": "a2", "parent": "a", "t0_ms": 25.0, "t1_ms": 45.0},
            {"name": "b", "parent": None, "t0_ms": 55.0, "t1_ms": 90.0},
        ]
        selfs, unattributed = spans.self_times(sp, 0.0, 100.0)
        self.assertEqual(selfs, {"a": 12.0, "a1": 8.0, "a2": 20.0, "b": 35.0})
        self.assertEqual(unattributed, 25.0)
        self.assertEqual(sum(selfs.values()) + unattributed, 100.0)

    def test_driver_gap_uses_job_union(self):
        job = {"tasks": 1, "failures": 0, "cpu_ns": 0, "shuffle_read": 0,
               "shuffle_write": 0, "spill_disk": 0, "sched_delay_ms": 0,
               "bytes_written": 0}
        trace = {
            "t0_ms": 0.0, "t1_ms": 100.0,
            "spans": [{"name": "x", "parent": None, "t0_ms": 0.0, "t1_ms": 100.0}],
            # two concurrent jobs: summed 80 ms, union 50 ms
            "jobs": [dict(job, id=1, submit_ms=10, end_ms=50),
                     dict(job, id=2, submit_ms=20, end_ms=60)],
            "phases": [{"phase": "planning", "start_ms": 5, "end_ms": 8},
                       {"phase": "parsing", "start_ms": 5, "end_ms": 9}],
        }
        m, _ = spans.layer_metrics(trace, ["x", "absent"])
        self.assertAlmostEqual(m["x.driver_gap_s"], 0.05)
        self.assertEqual(m["x.jobs"], 2)
        self.assertAlmostEqual(m["x.planning_s"], 0.003)
        self.assertEqual(m["absent.s"], 0)
        self.assertEqual(m["unattributed_s"], 0.0)


class CheckerTest(unittest.TestCase):
    """A fake operation output (the four sinks) against expectations."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.matches = [("p1", "p1", 0.9), ("p2", "p3", 0.5), ("p3", "p3", 0.7)]
        self.keys = ["cs.ai", "math.co cs.lg"]
        self.matrix = {("cs.ai", "cs.ai"): 1.0, ("cs.ai", "math.co cs.lg"): 0.25,
                       ("math.co cs.lg", "cs.ai"): 0.25, ("math.co cs.lg", "math.co cs.lg"): 1.0}

    def tearDown(self):
        self.tmp.cleanup()

    def write_op(self, matches):
        out = os.path.join(self.tmp.name, f"op{len(os.listdir(self.tmp.name))}")
        for sub in ("accuracy", "matches", "heatmap"):
            os.makedirs(os.path.join(out, sub))
        with open(os.path.join(out, "accuracy", "part-00000.txt"), "w") as f:
            f.write("(accuracy, 0.666667)\n")
        con = checks.duckdb.connect()
        con.execute("CREATE TABLE m(title_id VARCHAR, abstract_id VARCHAR, cosine DOUBLE)")
        con.executemany("INSERT INTO m VALUES (?, ?, ?)", matches)
        con.execute(f"COPY m TO '{os.path.join(out, 'matches', 'part-00000.parquet')}' (FORMAT parquet)")
        con.close()
        with open(os.path.join(out, "heatmap", "part-00000.csv"), "w") as f:
            f.write("l_id," + ",".join(f'"{k}"' for k in self.keys) + "\n")
            for l in self.keys:
                f.write(f'"{l}",' + ",".join(str(self.matrix[(l, r)]) for r in self.keys) + "\n")
        return out

    def expected(self):
        return {
            "accuracy": "0.666667", "n_matched": 3, "n": 3, "keys": 2,
            "matches": checks.keyed(self.matches),
            "cells": checks.keyed((l, r, v) for (l, r), v in self.matrix.items()),
        }

    def test_accepts_same_outputs_in_any_order(self):
        obs = checks.lab2_observed(self.write_op(list(reversed(self.matches))))
        self.assertEqual(checks.lab2_mismatches(self.expected(), obs), [])
        self.assertEqual(obs["nonzero_cells"], 4)

    def test_rejects_perturbed_match_set(self):
        wrong_id = [("p1", "p1", 0.9), ("p2", "p2", 0.5), ("p3", "p3", 0.7)]
        wrong_cos = [("p1", "p1", 0.9), ("p2", "p3", 0.500002), ("p3", "p3", 0.7)]
        dropped = self.matches[:2]
        duplicated = self.matches + [self.matches[0]]
        for bad in (wrong_id, wrong_cos, dropped, duplicated):
            obs = checks.lab2_observed(self.write_op(bad))
            self.assertIn("matches", checks.lab2_mismatches(self.expected(), obs), bad)

    def test_rejects_perturbed_matrix(self):
        for bad in (0.3, 0.250002, 0.0):
            self.matrix[("cs.ai", "math.co cs.lg")] = bad
            obs = checks.lab2_observed(self.write_op(self.matches))
            self.matrix[("cs.ai", "math.co cs.lg")] = 0.25
            self.assertEqual(checks.lab2_mismatches(self.expected(), obs), ["matrix"], bad)

    def test_accepts_a_rounding_tie_either_way(self):
        # a sum on a 7th-decimal tie rounds up or down with summation order
        self.matrix[("cs.ai", "math.co cs.lg")] = 0.250001
        obs = checks.lab2_observed(self.write_op(
            [("p1", "p1", 0.9), ("p2", "p3", 0.499999), ("p3", "p3", 0.7)]))
        self.matrix[("cs.ai", "math.co cs.lg")] = 0.25
        self.assertEqual(checks.lab2_mismatches(self.expected(), obs), [])


class ContractTest(unittest.TestCase):
    """BENCHMARK.json lists exactly the metrics run.py prints."""

    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_per_layer_names_and_units(self):
        trace = {"t0_ms": 0.0, "t1_ms": 10.0, "spans": [], "jobs": [], "phases": [],
                 "counts": {"top1.matched": 0}, "ops": []}
        got = run.per_layer({"trace": trace}, None, 1.0)
        want = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual({k: u for k, (_, u) in got.items()}, want)

    def test_end_to_end_names_and_units(self):
        raw = {"setup_s": 1.0, "input_docs": 10, "peak_rss_mb": 100.0}
        got = run.end_to_end(raw, [2.0, 1.0, 3.0], [4.0, 5.0, 6.0])
        want = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual({k: u for k, (_, u) in got.items()}, want)
        self.assertEqual(got["run_s"][0], 2.0)
        self.assertEqual(got["docs_per_s"][0], 5.0)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))
        self.assertEqual(run.LIFECYCLE_SPANS,
                         [q.split("_")[0] for q in run.WORKLOADS["lifecycle_sf01"]["queries"]])


if __name__ == "__main__":
    unittest.main()
