"""Tests of the ingest replay: python3 -m unittest discover -s perfbench"""
import unittest

import oracle

PROFILES = [("en", ["the", "table", "row"]), ("es", ["query", "value", "vector"])]
GOOD = "the table row is a list of words in the order to keep and then some more"
OTHER = "a row of the table is in the list to sort and to merge with care"


class PiecesTest(unittest.TestCase):
    def test_round6_is_half_up_on_the_shortest_decimal(self):
        self.assertEqual(oracle.round6(0.4999995), 0.5)
        self.assertEqual(oracle.round6(0.49999949), 0.499999)
        self.assertEqual(oracle.round6(1 / 3), 0.333333)

    def test_first_profile_wins_ties(self):
        self.assertEqual(oracle.language(["row", "query"], PROFILES), "en")
        self.assertEqual(oracle.language(["query", "row", "value"], PROFILES), "es")
        self.assertEqual(oracle.language(["x"], PROFILES), "en")

    def test_near_duplicates_by_rounded_jaccard(self):
        a = oracle.shingles("a b c d e".split())
        self.assertTrue(oracle.near(a, oracle.shingles("a b c d e f".split())))
        self.assertFalse(oracle.near(a, oracle.shingles("a b c x y".split())))
        self.assertFalse(oracle.near(frozenset(), frozenset()))


class ReplayTest(unittest.TestCase):
    def test_funnel_stages(self):
        texts = {
            1: GOOD, 2: GOOD,                          # exact duplicates
            3: "query value vector " * 2 + GOOD,       # not English
            4: "the the the the the the the the",      # low quality
            5: GOOD + " dup",                          # near duplicate of 1
            6: OTHER, 7: GOOD,                         # 7 repeats a stored text
        }
        funnels, store = oracle.replay(texts, [[2, 1, 3, 4], [5, 6, 7, 1]], PROFILES)
        self.assertEqual(funnels[0], {"arrived": 4, "lang": 3, "quality": 2, "exact_dedup": 1,
                                      "near_dup": 1, "store_total": 1})
        # doc 1 is already stored, so it does not arrive again
        self.assertEqual(funnels[1], {"arrived": 3, "lang": 3, "quality": 3, "exact_dedup": 2,
                                      "near_dup": 1, "store_total": 2})
        self.assertEqual(store, [1, 6])

    def test_batch_internal_near_duplicates_keep_the_least_id(self):
        texts = {8: GOOD + " dup", 9: GOOD}
        funnels, store = oracle.replay(texts, [[8, 9]], PROFILES)
        self.assertEqual(funnels[0]["near_dup"], 1)
        self.assertEqual(store, [8])


if __name__ == "__main__":
    unittest.main()
