"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import re
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import canon  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_samples_needed(self):
        self.assertEqual(stats.samples_needed(50), 20)
        self.assertEqual(stats.samples_needed(90), 100)
        self.assertEqual(stats.samples_needed(95), 200)

    def test_too_few_samples_is_not_reported(self):
        self.assertEqual(stats.percentile(list(range(19)), 50), (None, 19))
        self.assertEqual(stats.percentile(list(range(99)), 90), (None, 99))

    def test_enough_samples_leave_ten_beyond(self):
        for p in (50, 90, 95):
            n = stats.samples_needed(p)
            value, count = stats.percentile(list(range(n)), p)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for x in range(n) if x > value), 10)

    def test_nearest_rank(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
        self.assertEqual(stats.percentile(values, 50), (3.0, 20))

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        self.assertGreater(stats.spread([9.0, 10.0, 11.0, 12.0, 8.0]), 0.0)


class HostSteal(unittest.TestCase):
    def test_share_of_all_cpu_time(self):
        before = [100, 0, 10, 500, 0, 0, 0, 0]
        after = [160, 0, 20, 510, 0, 0, 0, 20]
        self.assertAlmostEqual(run.steal_pct(before, after), 20.0)

    def test_unreadable_counters_read_zero(self):
        self.assertEqual(run.steal_pct(None, [1] * 8), 0.0)


class CanonicalHash(unittest.TestCase):
    cols = ["b", "a"]
    rows = [[1, "x", ], [2, "y"]]

    def test_column_and_row_order_do_not_matter(self):
        h = canon.result_hash(self.cols, self.rows)
        self.assertEqual(h, canon.result_hash(["a", "b"], [["y", 2], ["x", 1]]))
        self.assertEqual(h, canon.result_hash(self.cols, list(reversed(self.rows))))

    def test_floats_rounded_to_ten_digits(self):
        a = canon.result_hash(["s"], [[0.1 + 0.2]])
        self.assertEqual(a, canon.result_hash(["s"], [[0.3]]))
        self.assertNotEqual(a, canon.result_hash(["s"], [[0.3000001]]))
        self.assertEqual(canon.result_hash(["z"], [[-0.0]]),
                         canon.result_hash(["z"], [[0.0]]))

    def test_values_matter(self):
        self.assertNotEqual(canon.result_hash(self.cols, self.rows),
                            canon.result_hash(self.cols, [[1, "x"], [3, "y"]]))
        self.assertNotEqual(canon.result_hash(["n"], [[None]]),
                            canon.result_hash(["n"], [["None"]]))
        self.assertNotEqual(canon.result_hash(["n"], [[1], [1]]),
                            canon.result_hash(["n"], [[1]]))

    def test_nested_values(self):
        self.assertEqual(canon.result_hash(["v"], [[[1.0000000000001, 2]]]),
                         canon.result_hash(["v"], [[[1.0, 2]]]))


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name,
            "start_ns": start * 10 ** 6, "end_ns": end * 10 ** 6}


class SpanSelfTime(unittest.TestCase):
    def test_nested(self):
        s = spans.summarize([span(1, 0, "query", 0, 100),
                             span(2, 1, "build", 0, 30),
                             span(3, 1, "exec", 30, 100),
                             span(4, 3, "planning", 40, 50),
                             span(5, 3, "optimization", 30, 40)])
        self.assertEqual(s["query"]["self_ms"], 0.0)
        self.assertEqual(s["exec"]["total_ms"], 70.0)
        self.assertEqual(s["exec"]["self_ms"], 50.0)
        self.assertEqual(s["build"]["self_ms"], 30.0)

    def test_counts_and_totals_add_up_by_name(self):
        s = spans.summarize([span(1, 0, "stmt", 0, 10), span(2, 0, "stmt", 5, 25),
                             span(3, 1, "poll", 2, 4), span(4, 2, "poll", 6, 9)])
        self.assertEqual(s["stmt"]["count"], 2)
        self.assertEqual(s["stmt"]["total_ms"], 30.0)
        self.assertEqual(s["stmt"]["self_ms"], 25.0)
        self.assertEqual(s["poll"]["self_ms"], 5.0)

    def test_child_clipped_to_parent(self):
        s = spans.summarize([span(1, 0, "op", 0, 10), span(2, 1, "late", 8, 20)])
        self.assertEqual(s["op"]["self_ms"], 8.0)
        self.assertEqual(s["late"]["self_ms"], 12.0)

    def test_overlapping_children_never_negative(self):
        s = spans.summarize([span(1, 0, "op", 0, 10), span(2, 1, "a", 0, 10),
                             span(3, 1, "b", 0, 10)])
        self.assertEqual(s["op"]["self_ms"], 0.0)

    def test_orphan_parent_is_root(self):
        s = spans.summarize([span(7, 99, "x", 0, 4)])
        self.assertEqual(s["x"]["self_ms"], 4.0)


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(inputs.sql_inputs(11), inputs.sql_inputs(11))
        self.assertEqual(inputs.olap_inputs(11), inputs.olap_inputs(11))
        self.assertEqual(inputs.corpus_inputs(11), inputs.corpus_inputs(11))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(inputs.sql_inputs(11)["clients"],
                            inputs.sql_inputs(12)["clients"])
        self.assertNotEqual(inputs.olap_inputs(11), inputs.olap_inputs(12))
        self.assertNotEqual(inputs.corpus_inputs(11), inputs.corpus_inputs(12))

    def test_olap_order_is_a_permutation(self):
        self.assertEqual(sorted(inputs.olap_inputs(5)["order"]),
                         sorted(inputs.OLAP_QUERIES))
        self.assertFalse(set(inputs.OLAP_PREWARM) & set(inputs.OLAP_QUERIES))

    def test_fixed_work_per_seed(self):
        for seed in (1, 2, 3):
            clients = inputs.sql_inputs(seed)["clients"]
            kinds = sorted(s["kind"] for c in clients for s in c)
            self.assertEqual(kinds, sorted(
                s["kind"] for c in inputs.sql_inputs(99)["clients"] for s in c))
        self.assertEqual(inputs.corpus_inputs(1)["factor"],
                         inputs.corpus_inputs(2)["factor"])

    def test_clients_write_only_their_own_key_range(self):
        spec = inputs.SQL
        for seed in (1, 2):
            for c, script in enumerate(inputs.sql_inputs(seed)["clients"]):
                lo = spec["static_rows"] + c * spec["range_rows"]
                hi = lo + spec["range_rows"]
                for stmt in script:
                    if not stmt["kind"].startswith("write"):
                        continue
                    sql = stmt["sql"]
                    keys = [int(x) for x in re.findall(r"BETWEEN (\d+) AND (\d+)", sql)[0]] \
                        if "BETWEEN" in sql else \
                        [int(m) for m in re.findall(r"\((\d+), %d," % c, sql)]
                    self.assertTrue(keys)
                    self.assertTrue(all(lo <= k < hi for k in keys), (c, sql))

    def test_final_state_changes_only_client_ranges(self):
        spec = inputs.SQL
        start = inputs.initial_state(spec)
        final = inputs.sql_inputs(4)["final_state"]
        for k in range(spec["static_rows"]):
            self.assertEqual(final[k], start[k])
        self.assertNotEqual(final, start)

    def test_static_reads_cover_generated_reads(self):
        domain = set(inputs.static_reads())
        for c in inputs.sql_inputs(8)["clients"]:
            for s in c:
                if "golden" in s["expect"]:
                    self.assertIn(s["sql"], domain)


if __name__ == "__main__":
    unittest.main()
