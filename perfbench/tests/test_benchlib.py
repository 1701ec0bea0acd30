"""Unit tests for the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib as bl  # noqa: E402


def cat(t, ev, name, to=None):
    return {"t": t, "ev": ev, "name": name, "to": to}


def table_events(t, base, version="2"):
    """The catalog events one table's shadow swap posts, from time `base`."""
    shadow, old = f"{t}__v{version}", f"{t}__old"
    return [
        cat(base + 0, "CreateTablePreEvent", shadow), cat(base + 1, "CreateTableEvent", shadow),
        cat(base + 10, "RenameTablePreEvent", t, old), cat(base + 12, "RenameTableEvent", t, old),
        cat(base + 20, "RenameTablePreEvent", shadow, t), cat(base + 25, "RenameTableEvent", shadow, t),
        cat(base + 30, "DropTablePreEvent", old), cat(base + 34, "DropTableEvent", old),
    ]


class PercentileRule(unittest.TestCase):
    def test_keeps_the_requested_percentile_with_enough_tail(self):
        p, v, n = bl.tail_percentile(list(range(1, 101)), 0.9)
        self.assertEqual((p, v, n), (0.9, 90, 100))

    def test_reports_the_highest_percentile_with_ten_samples_beyond(self):
        for n in range(20, 400):
            values = list(range(n))
            p, v, _ = bl.tail_percentile(values, 0.9)
            beyond = sum(1 for x in values if x > v)
            self.assertGreaterEqual(beyond, 10, n)
            if p < 0.9:
                # one percentile point higher would leave fewer than ten
                higher = bl.percentile(values, round(p + 0.01, 2))
                self.assertLess(sum(1 for x in values if x > higher), 10, n)

    def test_falls_back_to_the_median_on_few_samples(self):
        self.assertEqual(bl.tail_percentile([5, 1, 3], 0.9), (0.5, 3, 3))
        self.assertEqual(bl.tail_percentile([], 0.9), (None, None, 0))

    def test_nearest_rank(self):
        self.assertEqual(bl.percentile([4, 1, 3, 2], 0.5), 2)
        self.assertEqual(bl.percentile([4, 1, 3, 2], 1.0), 4)


class SwapWindow(unittest.TestCase):
    def test_window_runs_from_vacating_rename_to_promoting_rename(self):
        steps = bl.table_steps(table_events("a", 100) + table_events("b", 200), 50)
        self.assertEqual(steps["a"]["window"], (112, 125))
        self.assertEqual(steps["b"]["window"], (212, 225))

    def test_ignores_pre_events_and_unrelated_renames(self):
        events = [cat(1, "RenameTablePreEvent", "a", "a__old"),
                  cat(2, "RenameTableEvent", "x", "y"),
                  cat(3, "RenameTableEvent", "a", "a__old"),
                  cat(5, "RenameTableEvent", "y", "y__v1"),
                  cat(9, "RenameTableEvent", "a__v1", "a"),
                  cat(11, "DropTableEvent", "a__old")]
        steps = bl.table_steps(events, 0)
        self.assertEqual(list(steps), ["a"])
        self.assertEqual(steps["a"]["window"], (3, 9))
        self.assertEqual(steps["a"]["swap"], (1, 9))

    def test_table_steps_partition_the_pass(self):
        steps = bl.table_steps(table_events("a", 100) + table_events("b", 200), 50)
        self.assertEqual(steps["a"]["span"], (50, 134))
        self.assertEqual(steps["b"]["span"], (134, 234))
        self.assertEqual(steps["a"]["window"], (112, 125))
        self.assertEqual(steps["a"]["swap"], (110, 125))
        self.assertEqual(steps["b"]["drop"], (230, 234))


class SelfTime(unittest.TestCase):
    def test_span_minus_the_union_of_its_children(self):
        self.assertEqual(bl.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)

    def test_children_outside_the_span_do_not_count(self):
        self.assertEqual(bl.self_time((0, 10), [(-5, -1), (10, 20)]), 10)
        self.assertEqual(bl.self_time((0, 10), [(-5, 20)]), 0)

    def test_nested_and_duplicate_children_count_once(self):
        self.assertEqual(bl.covered([(0, 4), (1, 2), (0, 4)], 0, 10), 4)


if __name__ == "__main__":
    unittest.main()
