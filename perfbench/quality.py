"""Output quality of one iteration, computed untimed.

``pairwise_f1`` is the definition in ``tests/test_pipeline.py`` (every
pair of mentions both clusterings label, counted as same-cluster or
not), computed from contingency counts instead of enumerating pairs: a
cluster of n mentions holds n(n-1)/2 pairs, so the true-positive pairs
are the pairs inside each (predicted, gold) cell. The integers equal
the pair enumeration's, so the result is the same float.
"""

from __future__ import annotations

from collections import Counter


def _pairs(counts: Counter) -> int:
    return sum(n * (n - 1) // 2 for n in counts.values())


def pairwise_f1(pred: dict, gold: dict) -> float:
    keys = pred.keys() & gold.keys()
    tp = _pairs(Counter((pred[k], gold[k]) for k in keys))
    if tp == 0:
        return 0.0
    prec = tp / _pairs(Counter(pred[k] for k in keys))
    rec = tp / _pairs(Counter(gold[k] for k in keys))
    return 2 * prec * rec / (prec + rec)


def mention_f1(got: Counter, gold: Counter) -> float:
    """F1 of an emitted mention multiset against the annotated one."""
    hit = sum((got & gold).values())
    if hit == 0:
        return 0.0
    prec = hit / sum(got.values())
    rec = hit / sum(gold.values())
    return 2 * prec * rec / (prec + rec)
