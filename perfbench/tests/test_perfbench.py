"""Tests of the benchmark's own helpers; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from checks import Trie, bin_id, percentile, trie_mismatches  # noqa: E402
from tracing import Span, inclusive_counts, layer_totals, self_times  # noqa: E402


def test_p90_of_100_samples_leaves_10_above():
    values = [float(v) for v in range(1, 101)]
    random.Random(7).shuffle(values)
    p90 = percentile(values, 90)
    assert sum(v > p90 for v in values) == 10
    assert percentile(values, 50) == 50.0


def test_percentile_edges():
    assert percentile([3.0], 50) == 3.0
    assert percentile([2.0, 1.0], 100) == 2.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_bin_id_counts_splits_strictly_below():
    splits = [10.0, 20.0]
    assert [bin_id(x, splits) for x in (5.0, 10.0, 10.5, 20.0, 99.0)] == [0, 0, 1, 1, 2]
    assert bin_id(None, splits, null_bin=1) == 1


KV = {"0.0": 1.0, "0.1": 0.0, "0.2": 0.0, "1.0": 1.0, "1.1": 1.0, "2.0": 0.0, "2.1": 1.0}


def test_trie_walk_semantics():
    trie = Trie(KV, "classification")
    assert trie.predict("0.1") == (0.0, True)
    # miss under "0": majority of {1, 0, 0} -> 0
    assert trie.predict("0.9") == (0.0, False)
    # miss under "2": {0, 1} tie -> lowest class
    assert trie.predict("2.7") == (0.0, False)
    # unknown first component: majority over all seven leaves (4 ones)
    assert trie.predict("5.0") == (1.0, False)
    assert Trie({"0.0": 2.0, "0.1": 4.0}, "regression").predict("0.5") == (3.0, False)


def test_trie_check_catches_one_flipped_prediction():
    trie = Trie(KV, "classification")
    keys = ["0.0", "0.1", "0.9", "1.1", "2.7", "5.0", "2.1"]
    preds = [trie.predict(k)[0] for k in keys]
    assert trie_mismatches(trie, keys, preds) == (0, 4)
    preds[2] = 1.0 - preds[2]
    assert trie_mismatches(trie, keys, preds)[0] == 1


def _span(name, start, end, parent=None, phase="op", jobs=0):
    return Span(name, start, end, parent=parent, phase=phase, jobs=jobs)


def test_self_time_of_nested_spans():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("a.inner", 2.0, 3.0, parent=1),
        _span("b", 3.0, 6.0, parent=0),  # overlaps a: covered once
        _span("c", 8.0, 12.0, parent=0),  # runs past its parent: clipped
    ]
    assert self_times(spans) == pytest.approx([10.0 - 5.0 - 2.0, 2.0, 1.0, 3.0, 4.0])


def test_inclusive_counts_add_descendants():
    spans = [
        _span("root", 0, 10, jobs=1),
        _span("a", 1, 4, parent=0, jobs=2),
        _span("a.inner", 2, 3, parent=1, jobs=3),
    ]
    assert [c["jobs"] for c in inclusive_counts(spans)] == [6, 5, 3]


def test_layer_totals_per_op_or_per_setup():
    spans = [
        _span("fit", 0.0, 4.0, phase="setup", jobs=7),
        _span("score", 5.0, 5.5, phase="warmup"),
        _span("score", 6.0, 7.0, jobs=2),
        _span("score", 7.0, 9.0, jobs=4),
    ]
    totals = layer_totals(spans, n_ops=2)
    assert totals["fit"]["s"] == 4.0 and totals["fit"]["jobs"] == 7
    assert totals["score"]["s"] == pytest.approx(1.5)
    assert totals["score"]["jobs"] == 3
    assert totals["score"]["calls"] == 1
