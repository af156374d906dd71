"""Unit tests of `tools/ab.py`'s verdict rule, host-drift flag and
graft.Bench line parser (query rows and stream rows).

    python3 -m unittest discover -s tools
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ab import bench_rows, drifted, parse_bench, verdict  # noqa: E402

# ten parent runs with median 10.0 and quartile spread 0.5 (5% of it)
PARENT = [9.6, 9.7, 9.8, 9.9, 10.0, 10.0, 10.1, 10.2, 10.3, 10.4]


class VerdictTest(unittest.TestCase):

    def test_gain_needs_nine_wins_and_a_drop_past_the_spread(self):
        self.assertEqual(verdict(PARENT, [x - 1.0 for x in PARENT], 0.25),
                         "gain")
        # nine of ten pairs won, the drop still past the spread
        nine = [x - 1.0 for x in PARENT[:9]] + [PARENT[9] + 0.1]
        self.assertEqual(verdict(PARENT, nine, 0.25), "gain")

    def test_eight_wins_or_a_small_drop_is_no_gain(self):
        eight = [x - 1.0 for x in PARENT[:8]] + [x + 0.1 for x in PARENT[8:]]
        self.assertEqual(verdict(PARENT, eight, 0.25), "flat")
        # every pair won, but by less than the parent's spread
        self.assertEqual(verdict(PARENT, [x - 0.1 for x in PARENT], 0.25),
                         "flat")

    def test_worse_past_the_bound_only(self):
        self.assertEqual(verdict(PARENT, [x * 1.3 for x in PARENT], 0.25),
                         "worse")
        self.assertEqual(verdict(PARENT, [x * 1.2 for x in PARENT], 0.25),
                         "flat")

    def test_unresolved_when_the_parent_spreads_past_the_bound(self):
        wide = [6.0, 7.0, 8.0, 9.0, 10.0, 10.0, 11.0, 12.0, 13.0, 14.0]
        self.assertEqual(verdict(wide, [10.0] * 10, 0.25), "unresolved")
        # unless every change run beats every parent run: here by less
        # than the parent's spread, so no gain either
        skewed = [9.0, 9.0, 9.0, 9.1, 9.2, 12.0, 13.0, 14.0, 15.0, 16.0]
        self.assertEqual(verdict(skewed, [8.9] * 10, 0.25), "flat")
        self.assertEqual(verdict(skewed, [9.05] * 10, 0.25), "unresolved")


class DriftTest(unittest.TestCase):

    def test_a_pair_is_flagged_past_the_setup_bound_either_way(self):
        self.assertFalse(drifted(4.0, 4.9, 0.25))
        self.assertFalse(drifted(4.0, 3.1, 0.25))
        self.assertTrue(drifted(4.0, 5.1, 0.25))
        self.assertTrue(drifted(4.0, 2.9, 0.25))


# graft.Bench's stdout (log noise, then its one record line last) and
# its detail file: a headline row has two reruns, any other row none
BENCH_OUT = """[bench] warm-up 3.1 s
{"not": "the record"}
{"metric":"total","value":9.5,"unit":"sec","queries":{"graph_pagerank":2.6},"errors":[],"canary":{"cpu_spin_start":0.612,"cpu_spin_end":0.64},"method":"\\u00a75"}
"""
DETAIL = {"single_pass": {"graph_pagerank": 4.0, "graph_bfs": 1.25},
          "reruns": {"graph_pagerank": [2.5, 2.7]}}


class BenchLineTest(unittest.TestCase):

    def test_reads_each_rows_drop_max_mean_and_the_start_canary(self):
        values, canary = parse_bench(BENCH_OUT, DETAIL,
                                     ["graph_bfs", "graph_pagerank"])
        self.assertEqual(canary, 0.612)
        self.assertEqual(values["graph_bfs"], 1.25)
        self.assertAlmostEqual(values["graph_pagerank"], 2.6)

    def test_a_missing_or_failed_row_is_named(self):
        with self.assertRaisesRegex(ValueError, "graph_ppr"):
            parse_bench(BENCH_OUT, DETAIL, ["graph_pagerank", "graph_ppr"])
        failed = BENCH_OUT.replace('"errors":[]', '"errors":["graph_bfs"]')
        with self.assertRaisesRegex(ValueError, "graph_bfs"):
            parse_bench(failed, DETAIL, ["graph_bfs"])

    def test_streaming_reads_the_three_rows_as_microseconds_per_row(self):
        line = BENCH_OUT.replace(
            '"errors":[]', '"errors":[],"streaming":{"near_dups_rps":'
            '{"rps":2000.0,"gate":2940.0,"verdict":"ok"},"embed_dedup_rps":'
            '{"rps":4000.0},"sessionize_rps":{"rps":50000.0},'
            '"canary_at_stream":0.7}')
        rows = bench_rows(["streaming", "graph_bfs"])
        self.assertEqual(rows, ["near_dups_rps", "embed_dedup_rps",
                                "sessionize_rps", "graph_bfs"])
        values, _ = parse_bench(line, DETAIL, rows)
        self.assertEqual(values, {"near_dups_rps": 500.0,
                                  "embed_dedup_rps": 250.0,
                                  "sessionize_rps": 20.0,
                                  "graph_bfs": 1.25})
        # a failed stream section (Bench then ships no stream rows) names
        # every stream row
        failed = BENCH_OUT.replace('"errors":[]',
                                   '"errors":["streaming"],"streaming":{}')
        with self.assertRaisesRegex(ValueError, "sessionize_rps"):
            parse_bench(failed, DETAIL, rows)

    def test_output_without_a_record_fails(self):
        with self.assertRaisesRegex(ValueError, "no graft.Bench result line"):
            parse_bench("[bench] graph_pagerank failed\n", DETAIL,
                        ["graph_pagerank"])


if __name__ == "__main__":
    unittest.main()
