"""The benchmark's own checks on its Python side.

    python3 -m unittest discover perfbench        (or run.py --selfcheck,
                                                   which adds the JVM checks)
"""
import unittest

import oracle
import stats


def span(id, name, start, end, parent=-1, group="", **attrs):
    return {"id": id, "parent": parent, "name": name, "group": group,
            "start": float(start), "end": float(end), "attrs": attrs}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), (50, 100, 50))
        self.assertEqual(stats.percentile(xs, 90), (90, 100, 10))
        self.assertEqual(stats.percentile([7.0], 90), (7.0, 1, 0))
        self.assertEqual(stats.percentile(list(reversed(xs)), 90)[0], 90)

    def test_ten_beyond_rule(self):
        # p90 needs 100 samples to leave 10 beyond it
        self.assertTrue(stats.supported(90, 100))
        self.assertFalse(stats.supported(90, 99))
        self.assertTrue(stats.supported(50, 20))
        self.assertFalse(stats.supported(50, 19))
        self.assertEqual(stats.highest_supported(1000), 99)
        self.assertEqual(stats.highest_supported(250), 95)
        self.assertEqual(stats.highest_supported(30), 50)
        self.assertIsNone(stats.highest_supported(15))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class SelfTimeTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)], 0, 10), 7)
        self.assertEqual(stats.union_length([(-5, 3), (9, 20)], 0, 10), 4)
        self.assertEqual(stats.union_length([], 0, 10), 0)

    def test_self_time_is_duration_minus_union_of_children(self):
        spans = [span(1, "query", 0, 100),
                 span(2, "build", 10, 40, parent=1),
                 span(3, "execute", 30, 90, parent=1),   # overlaps build by 10
                 span(4, "job", 35, 80, parent=3)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 80)   # children cover [10, 90]
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 60 - 45)
        self.assertEqual(st[4], 45)
        table = stats.self_time_table(spans)
        self.assertEqual(table["query"], [1, 100.0, 20.0])

    def test_parents_by_group_and_by_containment(self):
        spans = [span(1, "microbatch", 0, 100, group="batch-3"),
                 span(2, "microbatch.addBatch", 10, 90, parent=1, group="batch-3"),
                 span(3, "sink.write", 20, 80, group="batch-3"),
                 span(4, "query", 200, 300, group="q1#0"),
                 span(5, "catalyst.optimize", 210, 220)]
        stats.resolve_parents(spans)
        self.assertEqual(spans[2]["parent"], 2)   # innermost phase of its batch
        self.assertEqual(spans[4]["parent"], 4)   # the query that contains it
        self.assertEqual(spans[0]["parent"], -1)

    def test_exec_layers_driver_gap_and_stragglers(self):
        spans = [span(1, "query", 0, 100, group="q#0"),
                 span(2, "job", 10, 60, parent=1),
                 span(3, "stage", 10, 40, parent=2, tasks=4, task_ms=80.0, max_task_ms=40.0),
                 span(4, "stage", 30, 60, parent=2, tasks=1, task_ms=30.0, max_task_ms=30.0)]
        kids = stats.children_index(spans)
        e = stats.exec_layers([spans[0]], kids, cores=4)
        self.assertEqual(e["exec.driver_gap_ms"], 100 - 50)
        self.assertEqual(e["exec.stages"], 2)
        self.assertEqual(e["exec.single_task_stages"], 1)
        self.assertEqual(e["exec.straggler_ratio"], 40.0 / (80.0 / 4))
        self.assertAlmostEqual(e["exec.busy_frac"], 110.0 / (100 * 4))


class OracleCanonTest(unittest.TestCase):
    def test_floats_compare_by_exact_repr_and_rows_sort(self):
        a = oracle.canon([[1, 0.1 + 0.2], [0, None]])
        b = oracle.canon([[0, None], [1, 0.30000000000000004]])
        self.assertEqual(a, b)
        self.assertNotEqual(oracle.canon([[0.3]]), oracle.canon([[0.30000000000000004]]))


if __name__ == "__main__":
    unittest.main()
