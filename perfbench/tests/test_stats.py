"""Arithmetic of the benchmark. Run: python3 -m unittest discover -s perfbench/tests -t perfbench"""
import unittest

from bench import stats


class MedianAndPercentile(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertEqual(stats.median([7.5]), 7.5)

    def test_median_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_tail_needs_ten_samples_beyond_it(self):
        # 19 samples: p90 is rank 18, leaving 1 beyond it — no tail
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        # 100 samples: p90 leaves exactly 10 beyond; p95 only 5
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), (90, 90))
        # 1000 samples: p99 leaves 10 beyond
        self.assertEqual(stats.tail_percentile(list(range(1, 1001))), (99, 990))


class PairScores(unittest.TestCase):
    # members frame: (cluster_id, truth_cluster) per item
    def test_perfect_clustering(self):
        rows = [("a", 1), ("a", 1), ("a", 1), ("b", 2), ("c", 3), ("c", 3)]
        self.assertEqual(stats.pair_scores(rows), (1.0, 1.0))

    def test_split_cluster_loses_recall_only(self):
        # truth {1,1,1}: 3 pairs; predicted {a,a},{b}: 1 pair, correct
        rows = [("a", 1), ("a", 1), ("b", 1), ("c", 2)]
        recall, precision = stats.pair_scores(rows)
        self.assertAlmostEqual(recall, 1 / 3)
        self.assertEqual(precision, 1.0)

    def test_merged_clusters_lose_precision_only(self):
        # predicted one cluster of 4: 6 pairs; truth {1,1},{2,2}: 2 pairs
        rows = [("a", 1), ("a", 1), ("a", 2), ("a", 2)]
        recall, precision = stats.pair_scores(rows)
        self.assertEqual(recall, 1.0)
        self.assertAlmostEqual(precision, 2 / 6)

    def test_all_singletons_score_one(self):
        self.assertEqual(stats.pair_scores([("a", 1), ("b", 2)]), (1.0, 1.0))


class JobGap(unittest.TestCase):
    def test_gap_is_window_minus_union_of_jobs(self):
        jobs = [(1.0, 2.0), (1.5, 3.0), (5.0, 6.0)]  # union 1-3 and 5-6
        self.assertAlmostEqual(stats.job_gap(jobs, 0.0, 10.0), 7.0)

    def test_jobs_are_clipped_to_the_window(self):
        jobs = [(-5.0, 1.0), (9.0, 20.0)]
        self.assertAlmostEqual(stats.job_gap(jobs, 0.0, 10.0), 8.0)

    def test_nested_and_unsorted_jobs(self):
        jobs = [(4.0, 5.0), (2.0, 8.0), (3.0, 4.0)]
        self.assertAlmostEqual(stats.job_gap(jobs, 0.0, 10.0), 4.0)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(stats.job_gap([], 2.0, 5.0), 3.0)


class Components(unittest.TestCase):
    def test_transitive_pairs_join_and_loners_stay_alone(self):
        got = stats.components(range(6), [(3, 1), (1, 4), (5, 2)])
        self.assertEqual(got, {0: 0, 1: 1, 2: 2, 3: 1, 4: 1, 5: 2})


if __name__ == "__main__":
    unittest.main()
