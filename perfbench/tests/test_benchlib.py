"""Tests for the benchmark's own code: the tail rule, span self time,
failure accounting and metric names.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from benchlib import report, stats, verify  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class TailRule(unittest.TestCase):
    def test_ten_samples_stay_beyond(self):
        for n in (20, 25, 30, 37, 100, 1000, 12345):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100.0, 10, n)
            # the next whole percentile would leave fewer than ten
            if p < 99:
                self.assertLess(n * (100 - (p + 1)) / 100.0, 10, n)

    def test_known_values(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(30), 66)

    def test_too_few_samples_fall_back_to_median(self):
        for n in (1, 2, 10, 19):
            self.assertEqual(stats.tail_percentile(n), 50)

    def test_percentile_interpolates(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertEqual(stats.median([1.0, 2.0, 3.0, 4.0]), 2.5)


def span(i, parent, layer, s, e, op="op1", name=None):
    return {"id": i, "parent": parent, "name": name or layer, "layer": layer, "op": op,
            "start_us": s, "end_us": e}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, "bench", 0, 100),
                 span(2, 1, "scan", 10, 50),
                 span(3, 1, "scan", 30, 70)]   # overlaps the first child
        t = stats.self_times(spans)
        self.assertEqual(t["bench"], 100 - 60)
        self.assertEqual(t["scan"], 40 + 40)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, "bench", 0, 100), span(2, 1, "scan", 90, 130)]
        self.assertEqual(stats.self_times(spans)["bench"], 90)

    def test_engine_spans_attach_to_innermost_container(self):
        spans = [span(1, 0, "bench", 0, 100),
                 span(2, 1, "scan", 10, 90),
                 span(3, -1, "engine", 20, 40),
                 span(4, -1, "engine", 30, 60),     # overlaps job 3
                 span(5, -1, "engine", 95, 99),     # only the op span contains it
                 span(6, -1, "engine", 0, 10, op="other")]
        resolved = {s["id"]: s["parent"] for s in stats.resolve_parents(spans)}
        self.assertEqual(resolved[3], 2)
        self.assertEqual(resolved[4], 2)
        self.assertEqual(resolved[5], 1)
        self.assertEqual(resolved[6], 0)
        t = stats.self_times(spans)
        self.assertEqual(t["scan"], 80 - 40)
        self.assertEqual(t["bench"], 100 - 80 - 4)
        self.assertEqual(t["engine"], 20 + 30 + 4 + 10)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25), (21, 22)]), 20)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (7, 3)]), 0)


class FakeChecker:
    """Stands in for DuckDB: every fold expects `rows` rows."""

    def __init__(self, rows):
        self.rows = rows

    def check(self, op):
        return None if op["result"]["rows"] == self.rows else "wrong row count"


def op(i, kind, ms, rows, ok=True, phase="plain"):
    return {"id": f"op{i}", "phase": phase, "pass": 1, "kind": kind, "target": "t",
            "params": {}, "ms": ms, "ok": ok, "error": None if ok else "boom",
            "result": {"rows": rows, "row_width": 8} if ok else None, "counters": None}


def record(ops):
    return {"ops": ops, "setups": [{"total_s": 2.0, "session_ms": 1.0}],
            "rewrites": [{"ms": 1000.0, "user_bytes": 1e6, "stored_bytes": 5e5,
                              "codec": "snappy"}],
            "peak_heap_mb": 100.0, "describe": {"tail_counts": {"open": 3, "subset": 3}},
            "passes": [{"phase": "plain", "pass": 1, "ms": 1000.0}]}


class FailureAccounting(unittest.TestCase):
    def test_wrong_expectation_counts_and_is_not_timed(self):
        ops = [op(1, "subset", 10.0, 5), op(2, "subset", 20.0, 5),
               op(3, "subset", 999.0, 4)]          # wrong output
        rec = record(ops)
        acct = report.check_ops(rec, FakeChecker(rows=5))
        self.assertEqual((acct.attempted, acct.failed), (3, 1))
        self.assertAlmostEqual(acct.frac, 1 / 3)
        m, _ = report.end_to_end(rec)
        # the wrong operation's 999 ms is not reported as a healthy timing
        self.assertEqual(m["subset_ms.p50"], 15.0)
        self.assertLess(m["subset_ms.tail"], 999.0)

    def test_raised_operations_fail_and_warmup_is_not_counted(self):
        ops = [op(1, "full", 10.0, 5), op(2, "full", 10.0, 0, ok=False),
               op(3, "full", 10.0, 5, phase="warmup")]
        acct = report.check_ops(record(ops), FakeChecker(rows=5))
        self.assertEqual((acct.attempted, acct.failed), (2, 1))
        self.assertEqual(len(acct.reasons), 1)

    def test_setup_time_counts_the_settle_passes(self):
        rec = record([op(1, "full", 10.0, 5)])
        rec["setups"] = [{"total_s": t, "session_ms": 1.0} for t in (9.0, 3.0, 4.0)]
        rec["settle_ms"] = 2500.0
        m, _ = report.end_to_end(rec)
        self.assertAlmostEqual(m["setup_s"], 4.0 + 2.5)

    def test_checker_errors_are_failures(self):
        class Broken:
            def check(self, op):
                raise RuntimeError("duckdb unavailable")
        acct = report.check_ops(record([op(1, "full", 1.0, 5)]), Broken())
        self.assertEqual(acct.failed, 1)

    def test_failed_frac_bounds(self):
        self.assertEqual(stats.failed_frac(4, 0), 0.0)
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            stats.failed_frac(2, 3)


class WrongOutputAgainstDuckDB(unittest.TestCase):
    """A deliberately wrong expectation, checked by the real DuckDB
    checker against a real Parquet file."""

    def test_fold_mismatch_is_reported(self):
        with tempfile.TemporaryDirectory() as d:
            con = verify.connect(d)
            path = os.path.join(d, "t")
            os.makedirs(path)
            con.execute(f"COPY (SELECT range AS id, range * 0.5 AS v FROM range(10)) "
                        f"TO '{path}/part-0.parquet' (FORMAT parquet)")
            checker = verify.Checker(con, {})
            good = {"kind": "full", "params": {"path": path}, "result": {
                "rows": 10, "columns": ["id", "v"], "min": [0.0, 0.0], "max": [9.0, 4.5]}}
            self.assertIsNone(checker.check(good))
            bad = json.loads(json.dumps(good))
            bad["result"]["max"][1] = 4.0
            self.assertIn("min/max", checker.check(bad))
            bad["result"]["rows"] = 11
            self.assertIn("rows", checker.check(bad))

    def test_single_file_table(self):
        # the pipeline's tables are one Parquet file each, not directories
        with tempfile.TemporaryDirectory() as d:
            con = verify.connect(d)
            path = os.path.join(d, "t.parquet")
            con.execute(f"COPY (SELECT range AS id FROM range(5)) TO '{path}' (FORMAT parquet)")
            self.assertEqual(verify.parquet_files(path), [path])
            checker = verify.Checker(con, {})
            op = {"kind": "full", "params": {"path": path}, "result": {
                "rows": 5, "columns": ["id"], "min": [0.0], "max": [3.0]}}
            self.assertIn("min/max", checker.check(op))


class MetricNames(unittest.TestCase):
    def test_rule(self):
        for good in ("setup_s", "open_ms.p50", "q.x_dedup_minhash.tasks", "9lives", "a-b.c_d"):
            self.assertTrue(stats.valid_name(good), good)
        for bad in ("", "_lead", ".lead", "has space", "slash/no", "x" * 65, "ümlaut", None):
            self.assertFalse(stats.valid_name(bad), bad)
        self.assertTrue(stats.valid_unit("MB/s"))
        self.assertTrue(stats.valid_unit("%"))
        self.assertFalse(stats.valid_unit("per second!"))

    def test_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
            self.assertTrue(stats.valid_unit(m["unit"]))
        for m in spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertTrue(stats.valid_unit(m["unit"]))
        setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))

    def test_every_per_layer_metric_is_computed(self):
        class Checker:
            def chunk_bytes(self, path, columns):
                return 100

            def minmax(self, path, columns, where=""):
                return 10, [], []
        counters = {"plan_ms": 3.0, "input_bytes": 400.0, "scan_rows": 5.0, "jobs": 1.0,
                    "tasks": 4.0, "executor_run_ms": 8.0}
        ops = []
        for i, kind in enumerate(["open", "subset", "lookup", "stats", "full", "query"]):
            o = op(i, kind, 10.0, 5)
            o.update(phase="traced", counters=counters,
                     params={"path": "p", "layer": "Analytics"})
            o["result"].update(columns=["c"], chunks=7)
            ops.append(o)
        rec = record(ops)
        rec.update(cpus=4, probes={}, spans=[span(1, 0, "bench", 0, 100, op="op1")],
                   phases=[{"phase": "traced", "wall_ms": 100.0, "passes": 1}])
        rec["passes"].append({"phase": "traced", "pass": 1, "ms": 1100.0})
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [m["name"] for m in json.load(f)["per_layer"]]
        m = report.per_layer(rec, names, Checker())
        self.assertEqual(set(names) - set(m), set())
        self.assertEqual(m["scan.read_amplification"], 4.0)
        self.assertEqual(m["scan.rows_read_frac"], 0.5)
        self.assertAlmostEqual(m["trace.overhead_pct"], 10.0)

    def test_every_end_to_end_metric_is_computed(self):
        ops = [op(i, k, 10.0 + i, 5) for i, k in enumerate(
            ["open", "subset", "lookup", "stats", "full"] * 2)]
        m, _ = report.end_to_end(record(ops))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(set(m), {x["name"] for x in spec["end_to_end"]})


if __name__ == "__main__":
    unittest.main()
