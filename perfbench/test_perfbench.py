"""Tests of the benchmark's own logic, plus a tiny-scale smoke run of each
workload. From the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

The smoke runs build the program on first use and take a few minutes;
set PERFBENCH_SKIP_SMOKE=1 to run only the fast tests.
"""
import json
import os
import random
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)


def oracle_compare_hash(df):
    """dev/compare_oracles.py's canon() and h(), verbatim in effect."""
    import hashlib
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return hashlib.sha256(df.to_csv(index=False, float_format="%.10g").encode()).hexdigest()[:12]


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(metrics.highest_percentile(79), 85)   # 79 supersteps -> p85
        self.assertEqual(metrics.highest_percentile(100), 90)
        self.assertEqual(metrics.highest_percentile(200), 95)
        self.assertEqual(metrics.highest_percentile(20), 50)
        self.assertIsNone(metrics.highest_percentile(19))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 85), 85)
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile([7], 85), 7)


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, a, b, name="s"):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b, "name": name}

    def test_self_time_subtracts_covered_part_once(self):
        spans = [self.span(0, -1, 0, 100, "op"),
                 self.span(1, 0, 10, 40, "compile"),
                 self.span(2, 0, 30, 60, "save"),      # overlaps compile
                 self.span(3, 1, 15, 20, "inner"),
                 self.span(4, 0, 90, 120, "late")]     # runs past its parent
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 100 - 50 - 10)   # [10,60] and [90,100]
        self.assertAlmostEqual(st[1], 30 - 5)
        self.assertAlmostEqual(st[2], 30)
        self.assertAlmostEqual(st[3], 5)
        by = metrics.self_time_by_name(spans)
        self.assertEqual(set(by), {"op", "compile", "save", "inner", "late"})


class CanonicalHash(unittest.TestCase):
    def test_matches_oracle_compare_on_parquet_roundtrip(self):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        rows = [[3, 0.1 + 0.2, 7, None], [1, 2.0, 5, 4], [2, 1e-12, 9, 8], [1, 123456.789012345, 5, 4]]
        columns = [["vid", "bigint"], ["rank", "double"], ["hops", "int"], ["dist", "bigint"]]
        table = pa.table({"vid": pa.array([r[0] for r in rows], pa.int64()),
                          "rank": pa.array([r[1] for r in rows], pa.float64()),
                          "hops": pa.array([r[2] for r in rows], pa.int32()),
                          "dist": pa.array([r[3] for r in rows], pa.int64())})
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(table, os.path.join(d, "part-0.parquet"))
            df = pd.read_parquet(os.path.join(d, "part-0.parquet"))
        self.assertEqual(metrics.canonical_hash(columns, rows), oracle_compare_hash(df))

    def test_independent_of_row_and_column_order(self):
        rows = [[i, i * 0.5] for i in range(50)]
        h = metrics.canonical_hash([["a", "bigint"], ["b", "double"]], rows)
        random.Random(1).shuffle(rows)
        swapped = [[b, a] for a, b in rows]
        self.assertEqual(metrics.canonical_hash([["b", "double"], ["a", "bigint"]], swapped), h)
        rows[0][1] += 1e-6
        self.assertNotEqual(metrics.canonical_hash([["a", "bigint"], ["b", "double"]], rows), h)


def op(kind, index, ok=True, extra=None, s=1.0):
    return {"kind": kind, "index": index, "s": s, "ok": ok, "detail": "" if ok else "bad",
            "warmup": False, "extra": extra or {}}


class FailureAccounting(unittest.TestCase):
    def test_failed_check_counts(self):
        raw = {"workload": "kernel_loops", "seed": 7, "info": {},
               "ops": [op("pr", 0), op("pr", 1, ok=False), op("lpa", 0)]}
        self.assertEqual(metrics.accounting(raw, {})[:2], (3, 1))

    def test_wrong_hash_on_default_seed_counts(self):
        golden = {"kernel_loops": {"seed": 42, "pr": "aaa", "lpa": "bbb"}}
        raw = {"workload": "kernel_loops", "seed": 42, "info": {},
               "ops": [op("pr", 0, extra={"hash": "aaa"}), op("lpa", 0, extra={"hash": "zzz"})]}
        self.assertEqual(metrics.accounting(raw, golden)[:2], (2, 1))
        raw["seed"] = 43  # no stored hashes for other seeds
        self.assertEqual(metrics.accounting(raw, golden)[:2], (2, 0))

    def test_wrong_query_result_counts(self):
        cols = [["n", "bigint"]]
        golden = {"graph_queries": {q: metrics.canonical_hash(cols, [[1]]) for q in metrics.GRAPH_QUERIES}}
        results = {"cold#0/" + q: {"columns": cols, "rows": [[1]]} for q in metrics.GRAPH_QUERIES}
        results["cold#0/q_lpa"] = {"columns": cols, "rows": [[2]]}
        del results["cold#0/q_sssp"]  # a query that errored has no result
        raw = {"workload": "graph_queries", "seed": 1, "info": {"query_results": results},
               "ops": [op("cold", 0, extra={"query_s": {}})]}
        attempted, failed, details = metrics.accounting(raw, golden)
        self.assertEqual((attempted, failed), (18, 2))


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py")] + list(args),
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if p.returncode == 0 and lines else None), p


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE"), "smoke runs skipped")
class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def run_ok(self, workload, trace=0):
        rc, res, p = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                           "--trace", str(trace), "--scale", "tiny")
        self.assertEqual(rc, 0, p.stderr[-2000:])
        self.assertTrue(res["correct"], p.stderr[-2000:])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        want = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in want})
        for m in want:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        return res

    def test_kernel_loops(self):
        res = self.run_ok("kernel_loops")
        self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()))

    def test_kernel_loops_traced(self):
        res = self.run_ok("kernel_loops", trace=1)["metrics"]
        self.assertEqual(res["cache.misses"]["value"], 0)
        self.assertGreater(res["cache.hits"]["value"], 0)
        self.assertGreater(res["superstep.pr.count"]["value"], 0)

    def test_fresh_graph(self):
        self.run_ok("fresh_graph")

    def test_graph_queries(self):
        self.run_ok("graph_queries")

    def test_injected_wrong_answer_is_a_failed_op(self):
        for kind in ("pr", "lpa"):
            rc, res, p = bench("--workload", "kernel_loops", "--seed", "3", "--seconds", "1",
                               "--scale", "tiny", "--inject", kind)
            self.assertEqual(rc, 0, p.stderr[-2000:])
            self.assertFalse(res["correct"])
            self.assertEqual(res["failed"], {"pr": 4, "lpa": 8}[kind])  # every op of the kind
        rc, res, p = bench("--workload", "fresh_graph", "--seed", "3", "--seconds", "1",
                           "--scale", "tiny", "--inject", "resume")
        self.assertEqual((rc, res["correct"], res["failed"]), (0, False, 1))


if __name__ == "__main__":
    unittest.main()
