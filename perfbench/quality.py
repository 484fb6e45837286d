"""Pair-counting quality arithmetic over label arrays.

Recall and precision of a clustering against a truth partition are
computed from group sizes only: a group of size n holds C(n, 2) pairs, so

    truth pairs = sum C(size, 2) over truth groups
    pred pairs  = sum C(size, 2) over predicted clusters
    joint pairs = sum C(size, 2) over (predicted, truth) groups

and recall = joint / truth, precision = joint / pred. The cost is one
grouping per term, linear in rows; nothing quadratic is materialized.
Labels are any hashable values, one per row, aligned by position.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _codes(labels) -> np.ndarray:
    return pd.factorize(np.asarray(labels, dtype=object))[0].astype(np.int64)


def _joint(a, b) -> np.ndarray:
    ca, cb = _codes(a), _codes(b)
    return ca * (int(cb.max(initial=0)) + 1) + cb


def _sizes(labels) -> np.ndarray:
    return np.unique(_codes(labels), return_counts=True)[1]


def pairs_in(labels) -> int:
    """Sum of C(size, 2) over the groups of ``labels``."""
    sizes = _sizes(labels)
    return int((sizes * (sizes - 1) // 2).sum())


def largest_group(labels) -> int:
    return int(_sizes(labels).max(initial=0))


def pair_scores(pred, truth) -> tuple[float, float]:
    """(recall, precision). An empty side scores 1.0: no pair to miss, or
    no pair predicted wrongly."""
    t, p, j = pairs_in(truth), pairs_in(pred), pairs_in(_joint(pred, truth))
    return (j / t if t else 1.0), (j / p if p else 1.0)


def partition_mismatch(a, b) -> int:
    """Pairs co-clustered in one partition but not the other. Zero exactly
    when the two partitions are equal."""
    j = pairs_in(_joint(a, b))
    return (pairs_in(a) - j) + (pairs_in(b) - j)
