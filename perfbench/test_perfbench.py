"""The benchmark's own tests: python3 -m unittest discover -s perfbench"""
import hashlib
import json
import os
import statistics
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

import check
import gen
import metrics
import run


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        cases = {9: None, 19: None, 20: 50, 39: 50, 40: 75, 99: 75,
                 100: 90, 199: 90, 200: 95, 999: 95, 1000: 99, 10000: 99.9}
        for n, want in cases.items():
            got = metrics.tail_percentile(list(range(n)))
            self.assertEqual(got and got[0], want, f"n={n}")

    def test_interpolates_like_statistics_quantiles(self):
        xs = [0.3, 0.1, 0.7, 0.2, 0.9, 0.4, 0.5, 0.8, 0.6, 1.0, 0.15]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(xs, 25), q1)
        self.assertAlmostEqual(metrics.percentile(xs, 50), q2)
        self.assertAlmostEqual(metrics.percentile(xs, 75), q3)

    def test_value_is_the_percentile_of_the_samples(self):
        p, v = metrics.tail_percentile([float(i) for i in range(1, 101)])
        self.assertEqual(p, 90)
        self.assertAlmostEqual(v, 90.1)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_us": start, "end_us": end}


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 40, 70),
                 span(4, 3, 45, 55)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 20 - 30)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 30 - 10)
        self.assertEqual(st[4], 10)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 60),
                 span(4, 1, 55, 58)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 50)

    def test_children_are_clipped_to_the_parent(self):
        # a job the listener timed past the end of the call that ran it
        spans = [span(1, 0, 100, 200), span(2, 1, 90, 120),
                 span(3, 1, 190, 260)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 20 - 10)

    def test_disjoint_and_touching_children(self):
        self.assertEqual(metrics.covered((0, 10), [(0, 2), (2, 4), (6, 7)]), 5)
        self.assertEqual(metrics.covered((0, 10), []), 0)


class PerLayer(unittest.TestCase):
    result = {"passes": [
        {"traced": False, "wall_s": 10.0, "layers": {}},
        {"traced": True, "wall_s": 11.0, "layers": {"spark.jobs": 5.0}},
        {"traced": True, "wall_s": 12.0, "layers": {"spark.jobs": 7.0}}]}
    # a pass, one call in it, and a Spark job inside the call
    spans = [span((0, 1), 0, 0, 100), span((0, 2), (0, 1), 0, 60),
             span((0, 3), (0, 2), 10, 30)]

    def test_medians_absent_layers_and_driver_self_time(self):
        out = metrics.per_layer(self.result, self.spans,
                                ["spark.jobs", "ml.kmeans_s"])
        self.assertEqual(out["spark.jobs"], 6.0)
        self.assertEqual(out["ml.kmeans_s"], 0.0)
        self.assertAlmostEqual(out["driver.self_s"], 40e-6)

    def test_overhead_against_the_runs_untraced_passes(self):
        out = metrics.per_layer(self.result, self.spans, [])
        self.assertAlmostEqual(out["trace.overhead_pct"], 15.0)


class GeneratorDeterminism(unittest.TestCase):
    def gen(self, workload, seed, d):
        names = gen.generate(workload, seed, d)
        digest = hashlib.sha256()
        rows = {}
        for n in names:
            path = os.path.join(d, f"{n}.parquet")
            with open(path, "rb") as f:
                digest.update(f.read())
            rows[n] = pq.ParquetFile(path).metadata.num_rows
        return digest.hexdigest(), rows

    def test_same_seed_same_bytes_other_seed_same_counts(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in gen.WORKLOADS:
                a = self.gen(w, 7, os.path.join(tmp, w, "a"))
                b = self.gen(w, 7, os.path.join(tmp, w, "b"))
                c = self.gen(w, 8, os.path.join(tmp, w, "c"))
                self.assertEqual(a, b, w)
                self.assertNotEqual(a[0], c[0], w)
                self.assertEqual(a[1], c[1], w)


def op(name, error=None):
    return {"name": name, "layer": "operators", "sec": 0.1, "error": error}


class ErrorCounting(unittest.TestCase):
    def test_thrown_incorrect_and_untimed_failures(self):
        passes = [{"ops": [op("q01"), op("q02", "java.lang.RuntimeException: "
                                         "boom"), op("q03")]},
                  {"ops": [op("q01"), op("q02"), op("q03")]}]
        self.assertEqual(metrics.count_failures(passes, {}), (6, 1))
        # q03's output was wrong: every run of it fails
        self.assertEqual(metrics.count_failures(passes, {"q03": "differs"}),
                         (6, 3))
        # an untimed call that threw counts as attempted and failed
        self.assertEqual(metrics.count_failures(passes, {}, 2), (8, 3))

    def test_oracle_check_flags_wrong_missing_and_empty_outputs(self):
        with tempfile.TemporaryDirectory() as tmp:
            data, out = os.path.join(tmp, "data"), os.path.join(tmp, "out")
            os.makedirs(data)
            duckdb.sql("COPY (SELECT range AS k, range * 0.5 AS v "
                       "FROM range(5)) TO '%s/nation.parquet'" % data)

            def output(name, sql):
                os.makedirs(os.path.join(out, "outputs", name))
                duckdb.sql(f"COPY ({sql}) TO "
                           f"'{out}/outputs/{name}/part-0.parquet'")
            output("good", "SELECT range AS k, range * 0.5 AS v "
                           "FROM range(4, -1, -1)")
            output("wrong", "SELECT range AS k, range * 0.25 AS v "
                            "FROM range(5)")
            output("empty", "SELECT 1 AS k WHERE false")
            oracle = "SELECT k, v FROM nation"
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"good": oracle, "wrong": oracle,
                           "empty": "SELECT k FROM nation WHERE k < 0",
                           "threw": oracle}, f)
            bad = check.oracle_mismatches(out, data)
            self.assertEqual(sorted(bad), ["empty", "threw", "wrong"])

    def test_oracle_check_takes_either_rounding_of_an_exact_tie(self):
        # 0.1 + 0.2 + 0.015 is exactly 0.315: rounded to cents it may read
        # 0.31 or 0.32 depending on summation order, but nothing else
        with tempfile.TemporaryDirectory() as tmp:
            data = os.path.join(tmp, "data")
            os.makedirs(data)
            duckdb.sql("COPY (SELECT * FROM (VALUES (1, 0.1::DOUBLE), "
                       "(1, 0.2::DOUBLE), (1, 0.015::DOUBLE), (2, 0.25::DOUBLE))"
                       " t(k, v)) TO '%s/nation.parquet'" % data)
            oracle = ("SELECT k, FLOOR(SUM(v) * 100 + 0.5) / 100 AS s "
                      "FROM nation GROUP BY k")
            for got, ok in ((0.31, True), (0.32, True), (0.30, False),
                            (0.33, False)):
                out = os.path.join(tmp, f"out{got}")
                os.makedirs(os.path.join(out, "outputs", "q"))
                duckdb.sql(f"COPY (SELECT * FROM (VALUES (1, {got}::DOUBLE), "
                           f"(2, 0.25::DOUBLE)) t(k, s)) TO "
                           f"'{out}/outputs/q/part-0.parquet'")
                with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                    json.dump({"q": oracle}, f)
                self.assertEqual(check.oracle_mismatches(out, data) == {}, ok,
                                 got)

    def test_stream_check(self):
        checks = {"mismatches": {"near_dups": 0, "sessionize": 3},
                  "rows": {"near_dups": 0, "sessionize": 10}}
        bad = check.stream_mismatches(checks)
        self.assertEqual(sorted(bad), ["ingest"])
        self.assertIn("near_dups: empty output", bad["ingest"])
        self.assertIn("sessionize: 3 rows differ", bad["ingest"])
        checks["rows"]["near_dups"] = 5
        checks["mismatches"]["sessionize"] = 0
        self.assertEqual(check.stream_mismatches(checks), {})


class Contract(unittest.TestCase):
    def test_benchmark_json_names_what_the_runs_print(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(gen.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
