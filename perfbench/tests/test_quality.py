import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quality import largest_group, pair_scores, pairs_in, partition_mismatch  # noqa: E402
from workloads import copy_recall, people_table, planted_clusters  # noqa: E402


def brute(pred, truth):
    n = len(pred)
    tp = fp = fn = 0
    for i in range(n):
        for j in range(i + 1, n):
            same_p, same_t = pred[i] == pred[j], truth[i] == truth[j]
            tp += same_p and same_t
            fp += same_p and not same_t
            fn += same_t and not same_p
    return tp / (tp + fn), tp / (tp + fp)


def test_pairs_in_sums_binomials_over_groups():
    assert pairs_in(list(range(10))) == 0
    assert pairs_in(["a", "a", "b", "b", "c", "c", "d", "d", "d", "d"]) == 3 + 6


def test_group_count_scores_match_brute_force_pairs():
    pred = [0, 0, 0, 1, 1, 2, 3, 3]
    truth = ["a", "a", "b", "b", "b", "c", "c", "d"]
    assert pair_scores(pred, truth) == brute(pred, truth)
    assert largest_group(pred) == 3


def test_empty_sides_score_one():
    assert pair_scores([1, 2, 3], [1, 2, 3]) == (1.0, 1.0)
    assert pair_scores([1, 2, 3], [1, 1, 3]) == (0.0, 1.0)


def test_partition_mismatch_is_zero_only_for_equal_partitions():
    a = [5, 5, 7, 7, 9]
    assert partition_mismatch(a, ["x", "x", "y", "y", "z"]) == 0
    assert partition_mismatch(a, [1, 1, 1, 1, 3]) == 4


def test_people_copies_carry_their_source_with_one_typo():
    cols, source = people_table(3, 3000)
    root = planted_clusters(source)
    copies = [i for i in range(3000) if source[i] != i]
    assert 0.1 < len(copies) / 3000 < 0.2
    for i in copies:
        s, r = source[i], root[i]
        assert s < i and root[r] == r and root[s] == r
        assert cols["name"][i] == cols["name"][s]
        # the copy's one typo writes an "x"; further typos along the chain
        # do too, so a copy differs from its cluster's first row only where
        # the copy holds an "x"
        a, b = cols["address"][i], cols["address"][s]
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1
        a, b = cols["address"][i], cols["address"][r]
        assert len(a) == len(b) and all(x == y or x == "x" for x, y in zip(a, b))
    again, source2 = people_table(3, 3000)
    assert again["address"] == cols["address"] and again["email"] == cols["email"]
    assert (source2 == source).all()


def test_copy_recall_counts_copies_in_their_source_cluster():
    # rows 2 and 3 copy row 0, row 4 copies row 3
    source = [0, 1, 0, 0, 3]
    assert list(planted_clusters(np.array(source))) == [0, 1, 0, 0, 0]
    assert copy_recall(np.array([7, 8, 7, 7, 7]), np.array(source)) == 1.0
    # row 4 split off with its source row 3: only row 3's link to row 0 is lost
    assert copy_recall(np.array([7, 8, 7, 9, 9]), np.array(source)) == 2 / 3
    assert copy_recall(np.array([1, 2]), np.array([0, 1])) == 1.0
