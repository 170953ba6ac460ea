import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import spread  # noqa: E402


class IqrShareTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        # quantiles(n=4) on 1..10 (exclusive method): Q1 2.75, Q3 8.25.
        self.assertAlmostEqual(spread.iqr_share(list(range(1, 11))), 5.5 / 5.5)
        self.assertAlmostEqual(spread.iqr_share([10, 10, 10, 10]), 0.0)

    def test_zero_median(self):
        self.assertEqual(spread.iqr_share([0, 0, 0]), 0.0)


if __name__ == "__main__":
    unittest.main()
