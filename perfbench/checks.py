"""Pure-Python helpers of the benchmark: percentiles, the trie walk that
re-derives index predictions on the driver, and output fingerprints."""

from __future__ import annotations

import hashlib
import json
import math
from collections import Counter


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it (p90 of 100 samples leaves 10 above it)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(1, math.ceil(q / 100 * len(s))) - 1]


def bin_id(x: float | None, splits: list[float], null_bin: int = 0) -> int:
    """Numeric bin of `x`: the number of splits strictly below it."""
    if x is None:
        return null_bin
    return sum(1 for s in splits if float(x) > s)


def _majority(values: list[float]) -> float:
    """Most frequent value, ties to the lowest."""
    counts = Counter(values)
    return max(counts, key=lambda v: (counts[v], -v))


class Trie:
    """The reference's inference trie (inferdb `src/inference_trie.py`):
    one level per key component, each stored key's value at its leaf.
    A query descends as far as its components match; a full match returns
    the leaf's value, a miss returns the aggregate of all leaf values under
    the deepest node reached (majority vote with ties to the lowest class
    for classification, the unweighted mean for regression)."""

    _LEAF = object()

    def __init__(self, kv: dict[str, float], task: str) -> None:
        self.task = task
        self.root: dict = {}
        for key, value in kv.items():
            node = self.root
            for comp in key.split("."):
                node = node.setdefault(comp, {})
            node[self._LEAF] = value
        self._agg: dict[int, float] = {}

    def _leaves(self, node: dict) -> list[float]:
        out = []
        for k, child in node.items():
            out.extend([child] if k is self._LEAF else self._leaves(child))
        return out

    def aggregate(self, node: dict) -> float:
        if id(node) not in self._agg:
            vals = self._leaves(node)
            agg = _majority(vals) if self.task == "classification" else sum(vals) / len(vals)
            self._agg[id(node)] = agg
        return self._agg[id(node)]

    def node(self, comps: list[str]) -> dict | None:
        node = self.root
        for comp in comps:
            node = node.get(comp)
            if node is None:
                return None
        return node

    def predict(self, key: str) -> tuple[float, bool]:
        """(prediction, whether the key matched exactly)."""
        node = self.root
        for comp in key.split("."):
            child = node.get(comp)
            if child is None:
                return self.aggregate(node), False
            node = child
        return node[self._LEAF], True


def trie_mismatches(trie: Trie, keys: list[str], predictions: list[float]) -> tuple[int, int]:
    """(rows whose prediction differs from the trie's, rows matched exactly)."""
    bad = hits = 0
    for key, pred in zip(keys, predictions):
        want, exact = trie.predict(key)
        bad += want != pred
        hits += exact
    return bad, hits


def fingerprint(obj) -> str:
    """sha256 of a JSON-able value; floats keep every digit."""
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()
