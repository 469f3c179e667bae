"""Negative tests for the output checks: each check passes a correct result
and fails the same result corrupted.

    python3 perfbench/test_checks.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402

QUERIES = [[0.0, 0.0], [1.0, 1.0]]
VEC_OF = {1: [0.0, 1.0], 2: [1.0, 0.0], 3: [2.0, 0.0], 4: [3.0, 3.0], 5: [1.0, 1.0]}


def answer(q, ids, flt=""):
    return {"q": q, "filter": flt, "ids": ids,
            "d": [checks.sq_dist(VEC_OF[i], QUERIES[q]) for i in ids]}


class AnnServeChecks(unittest.TestCase):
    truth = [[1, 2, 3], [5, 1, 2]]

    def test_exact_fails_on_dropped_true_neighbour(self):
        good = [answer(0, [1, 2, 3])]
        self.assertEqual(checks.check_exact(good, self.truth), [])
        dropped = [answer(0, [1, 3, 4])]
        self.assertTrue(checks.check_exact(dropped, self.truth))

    def test_recall_fails_below_floor(self):
        self.assertEqual(checks.check_recall([answer(0, [1, 2, 3]), answer(1, [5, 1, 2])], self.truth), [])
        self.assertTrue(checks.check_recall([answer(0, [1, 4]), answer(1, [5, 1, 2])], self.truth))

    def test_distances_fail_on_wrong_distance(self):
        a = answer(0, [1, 2])
        self.assertEqual(checks.check_distances([a], VEC_OF, QUERIES), [])
        a["d"][1] += 1e-3
        self.assertTrue(checks.check_distances([a], VEC_OF, QUERIES))

    def test_order_fails_when_not_ascending(self):
        self.assertEqual(checks.check_order([answer(0, [1, 2, 3])]), [])
        self.assertTrue(checks.check_order([answer(0, [3, 1, 2])]))

    def test_filter_fails_on_record_it_does_not_admit(self):
        bucket_of = {1: 3, 2: 7, 3: 42}
        filters = ["bucket < 10", ""]
        self.assertEqual(checks.check_filter([answer(0, [1, 2], "bucket < 10")], bucket_of, filters), [])
        self.assertTrue(checks.check_filter([answer(0, [1, 3], "bucket < 10")], bucket_of, filters))

    def test_batch_must_match_single_queries(self):
        batch = [answer(0, [1, 2, 3])]
        self.assertEqual(checks.check_same(batch, [answer(0, [1, 2, 3])]), [])
        self.assertTrue(checks.check_same(batch, [answer(0, [1, 2, 4])]))

    def test_centroid_count(self):
        self.assertEqual(checks.check_centroids(47, 12000), [])
        self.assertTrue(checks.check_centroids(46, 12000))

    def test_assignment_fails_when_not_nearest(self):
        cents = [{"cluster_id": 0, "centroid": [0.0, 0.0]}, {"cluster_id": 1, "centroid": [3.0, 3.0]}]
        self.assertEqual(checks.check_assignment([{"id": 1, "cluster_id": 0}, {"id": 4, "cluster_id": 1}],
                                                 cents, VEC_OF), [])
        self.assertTrue(checks.check_assignment([{"id": 4, "cluster_id": 0}], cents, VEC_OF))


class AnnUpsertChecks(unittest.TestCase):
    def round(self, **kw):
        r = {"round": 1, "store_ids": [1, 2, 5], "index_ids": [1, 2, 5],
             "answers": [{"q": 0, "ids": [5, 1], "d": [0.0, 2.0]}, {"q": 1, "ids": [2, 1], "d": [1.0, 1.5]}]}
        r.update(kw)
        return r

    def test_passes_correct_round(self):
        self.assertEqual(checks.check_round(self.round(), [1, 2, 5], [3, 4], [5]), [])

    def test_fails_on_deleted_id_returned(self):
        bad = self.round(answers=[{"q": 0, "ids": [5, 1], "d": [0.0, 2.0]},
                                  {"q": 1, "ids": [2, 3], "d": [1.0, 1.5]}])
        self.assertTrue(any("deleted" in p for p in checks.check_round(bad, [1, 2, 5], [3, 4], [5])))

    def test_fails_on_wrong_store_contents(self):
        self.assertTrue(checks.check_round(self.round(store_ids=[1, 2, 3, 5]), [1, 2, 5], [3, 4], [5]))
        self.assertTrue(checks.check_round(self.round(index_ids=[1, 5]), [1, 2, 5], [3, 4], [5]))

    def test_fails_when_upserted_vector_is_not_first_at_zero(self):
        bad = self.round(answers=[{"q": 0, "ids": [1, 5], "d": [0.0, 0.0]}])
        self.assertTrue(checks.check_round(bad, [1, 2, 5], [3, 4], [5]))


class DedupChecks(unittest.TestCase):
    cluster_of = {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 2}
    truth_sim = {(1, 2): 0.9, (1, 3): 0.3, (2, 3): 0.35, (4, 5): 0.8}

    def test_passes_correct_pairs_and_groups(self):
        pairs = [[1, 2, 0.9], [4, 5, 0.8]]
        self.assertEqual(checks.check_pairs(pairs, self.cluster_of, self.truth_sim, 0.7), [])
        self.assertEqual(checks.check_groups([[1, 1], [2, 1], [4, 4], [5, 4]], self.cluster_of), [])

    def test_fails_on_pair_spanning_two_planted_clusters(self):
        pairs = [[1, 2, 0.9], [4, 5, 0.8], [2, 4, 0.6]]
        self.assertTrue(any("spans" in p for p in
                            checks.check_pairs(pairs, self.cluster_of, self.truth_sim, 0.7)))

    def test_fails_on_group_spanning_two_planted_clusters(self):
        self.assertTrue(checks.check_groups([[1, 1], [2, 1], [4, 1], [5, 4]], self.cluster_of))

    def test_fails_below_recall_floor(self):
        self.assertTrue(checks.check_pairs([[1, 2, 0.9]], self.cluster_of, self.truth_sim, 0.7))

    def test_fails_on_wrong_similarity(self):
        self.assertTrue(checks.check_pairs([[1, 2, 0.5], [4, 5, 0.8]], self.cluster_of, self.truth_sim, 0.7))


if __name__ == "__main__":
    unittest.main()
