"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import reduce


class TailPercentileTest(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        values = list(range(1, 101))
        self.assertEqual(reduce.tail_percentile(values), (90, 90))

    def test_order_of_input_does_not_matter(self):
        values = list(range(100, 0, -1))
        self.assertEqual(reduce.tail_percentile(values), (90, 90))

    def test_fewer_samples_give_a_lower_percentile(self):
        # 40 samples: p75 is rank 30 with 10 beyond; p76 would leave 9
        values = list(range(1, 41))
        self.assertEqual(reduce.tail_percentile(values), (75, 30))

    def test_many_samples_give_p99(self):
        values = list(range(1, 1001))
        self.assertEqual(reduce.tail_percentile(values), (99, 990))

    def test_ten_samples_beyond_are_always_left(self):
        for n in range(21, 300):
            p, v = reduce.tail_percentile(list(range(1, n + 1)))
            self.assertGreaterEqual(n - v, 10, n)
            self.assertLess(n - reduce.math.ceil((p + 1) * n / 100), 10, n)

    def test_too_few_samples(self):
        self.assertIsNone(reduce.tail_percentile(list(range(10))))
        self.assertIsNone(reduce.tail_percentile([]))

    def test_never_at_or_below_the_median(self):
        # 20 samples: p50 would leave exactly 10 beyond, but it is the median
        self.assertIsNone(reduce.tail_percentile(list(range(20))))
        self.assertEqual(reduce.tail_percentile(list(range(1, 22))), (52, 11))


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(reduce.self_time(0, 100, []), 100)

    def test_disjoint_children(self):
        self.assertEqual(reduce.self_time(0, 100, [(10, 20), (30, 50)]), 70)

    def test_overlapping_children_count_once(self):
        self.assertEqual(reduce.self_time(0, 100, [(10, 40), (30, 60), (55, 58)]), 50)

    def test_nested_children_count_once(self):
        self.assertEqual(reduce.self_time(0, 100, [(10, 90), (20, 30)]), 20)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(reduce.self_time(100, 200, [(50, 120), (190, 260), (300, 400)]), 70)

    def test_touching_children(self):
        self.assertEqual(reduce.self_time(0, 10, [(0, 5), (5, 10)]), 0)


class LoopOpsTest(unittest.TestCase):
    def raw(self, n):
        samples = [{"cls": "or" if i % 2 else "parsed", "ms": float(i), "loop": True}
                   for i in range(n)]
        samples.append({"cls": "or", "ms": 99.0, "loop": False})  # probe, not loop
        return {"workload": "query_log", "samples": samples}

    def test_takes_the_first_measured_ops(self):
        ops = reduce.loop_ops(self.raw(20))
        self.assertEqual([s["ms"] for s in ops], [float(i) for i in range(14)])

    def test_a_short_run_keeps_all_its_loop_ops(self):
        self.assertEqual([s["ms"] for s in reduce.loop_ops(self.raw(9))],
                         [float(i) for i in range(9)])


class UncontendedTest(unittest.TestCase):
    def t(self, ms, steal):
        return {"ms": ms, "steal": steal}

    def test_leaves_out_contended_timings(self):
        ts = [self.t(1, 0.0), self.t(2, 0.02), self.t(9, 0.1)]
        self.assertEqual(reduce.uncontended(ts), ts[:2])

    def test_keeps_all_when_most_are_contended(self):
        ts = [self.t(1, 0.0), self.t(8, 0.05), self.t(9, 0.1)]
        self.assertEqual(reduce.uncontended(ts), ts)

    def test_half_uncontended_is_enough(self):
        ts = [self.t(1, 0.0), self.t(9, 0.1)]
        self.assertEqual(reduce.uncontended(ts), ts[:1])


class FailedFracTest(unittest.TestCase):
    def test_none_failed(self):
        self.assertEqual(reduce.failed_frac(25, 0), 0.0)

    def test_some_failed(self):
        self.assertEqual(reduce.failed_frac(8, 2), 0.25)

    def test_all_failed(self):
        self.assertEqual(reduce.failed_frac(3, 3), 1.0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            reduce.failed_frac(0, 0)

    def test_more_failed_than_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            reduce.failed_frac(2, 3)


class OverheadFracTest(unittest.TestCase):
    def test_compares_each_class_with_itself(self):
        samples = [
            {"cls": "or", "ms": 100.0, "traced": False},
            {"cls": "or", "ms": 110.0, "traced": True},
            {"cls": "parsed", "ms": 1000.0, "traced": False},
            {"cls": "parsed", "ms": 1100.0, "traced": True},
            {"cls": "exact", "ms": 500.0, "traced": False},  # untraced only
        ]
        self.assertAlmostEqual(reduce.overhead_frac(samples), 0.1)


class BuildPhasesTest(unittest.TestCase):
    def job(self, exec_id, t0, t1, desc):
        return {"exec": exec_id, "t0": t0 * 1000000, "t1": t1 * 1000000, "desc": desc}

    def test_writes_in_order_then_manifest(self):
        jobs = [
            self.job(1, 0, 5, "head at IndexStore.scala:150"),
            self.job(2, 10, 40, "parquet at IndexStore.scala:169"),
            self.job(2, 40, 60, "parquet at IndexStore.scala:169"),
            self.job(3, 70, 80, "parquet at IndexStore.scala:176"),
            self.job(4, 90, 95, "parquet at IndexStore.scala:184"),
            self.job(5, 100, 103, "head at IndexStore.scala:188"),
        ]
        self.assertEqual(reduce.build_phases(jobs), {
            "postings_write": 50.0, "docmeta_write": 10.0, "terms_write": 5.0,
            "manifest": 3.0})


def job(exec_id, t0, t1, desc):
    return {"exec": exec_id, "t0": t0 * 1000000, "t1": t1 * 1000000, "desc": desc}


class QueryStatsTest(unittest.TestCase):
    def test_splits_collection_and_term_statistics_by_call_site(self):
        jobs = [
            job(1, 0, 20, "head at GlobalStats.scala:33"),
            job(2, 20, 50, "collect at GlobalStats.scala:41"),
            job(2, 50, 55, "collect at GlobalStats.scala:41"),
            job(3, 60, 300, "collect at Main.scala:174"),
        ]
        self.assertEqual(reduce.query_stats(jobs), (20.0, 35.0, 3))

    def test_a_query_without_statistics_jobs(self):
        self.assertEqual(reduce.query_stats([job(1, 0, 9, "collect at Main.scala:1")]),
                         (0.0, 0.0, 0))


class RewriteMsTest(unittest.TestCase):
    span = {"t0": 0, "t1": 500 * 1000000}

    def test_from_end_of_parsing_to_first_statistics_job(self):
        parses = [{"t1": 2 * 1000000}, {"t1": 3 * 1000000}]
        jobs = [
            job(1, 10, 40, "collect at MoreQueries.scala:81"),
            job(3, 90, 95, "collect at GlobalStats.scala:41"),
            job(2, 45, 60, "head at GlobalStats.scala:33"),
        ]
        self.assertEqual(reduce.rewrite_ms(self.span, parses, jobs), 42.0)

    def test_without_parse_spans_starts_at_the_query(self):
        jobs = [job(2, 45, 60, "head at GlobalStats.scala:33")]
        self.assertEqual(reduce.rewrite_ms(self.span, [], jobs), 45.0)

    def test_no_statistics_job(self):
        self.assertIsNone(reduce.rewrite_ms(self.span, [], [job(1, 1, 2, "collect at X.scala:1")]))


class ClassSamplesTest(unittest.TestCase):
    def test_loop_samples_win_over_probe_samples(self):
        samples = [
            {"cls": "or", "ms": 1.0, "loop": True},
            {"cls": "or", "ms": 9.0, "loop": False},
            {"cls": "nrt_query", "ms": 5.0, "loop": False},
        ]
        self.assertEqual(reduce.class_samples(samples, "or"), [1.0])

    def test_probe_samples_when_the_loop_ran_none(self):
        samples = [{"cls": "or", "ms": 9.0, "loop": False},
                   {"cls": "nrt_query", "ms": 5.0, "loop": False}]
        self.assertEqual(reduce.class_samples(samples, "or"), [9.0])


if __name__ == "__main__":
    unittest.main()
