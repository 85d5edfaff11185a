"""Property test of the pure phrase-frequency function (no Spark):
random per-doc position lists for 2-4 slots, slop 0-3, repeated slots
and explicit offsets, against a brute-force per-doc reference of the
same semantics (ExactPhraseMatcher counting for slop 0; the sloppy and
repeat-slot rules of ``IndexSearcher._phrase_exec``)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from lucene_1_spark.search.executor import phrase_freq


def reference_pf(sets, slop, deltas, keys):
    """One doc: ``sets[i]`` = slot i's positions."""
    n = len(sets)
    repeated = {k for k in keys if keys.count(k) > 1}
    if slop == 0:
        return float(sum(all(p + deltas[i] in sets[i] for i in range(1, n))
                         for p in sets[0]))
    if n == 2 and not repeated:
        total = 0.0
        for p in sets[0]:
            for q in sets[1]:
                e = q - (p + deltas[1])
                if abs(e) <= slop:
                    total += 1.0 / (1.0 + abs(e))
        return total
    total = 0.0
    for p in sorted(sets[0]):
        disp, ok = 0, True
        prev = {keys[0]: p} if keys[0] in repeated else {}
        for i in range(1, n):
            target = p + deltas[i]
            lo = target - slop
            if keys[i] in repeated and keys[i] in prev:
                lo = max(lo, prev[keys[i]] + 1)
            window = [q for q in sorted(sets[i]) if lo <= q <= target + slop]
            if not window:
                ok = False
                break
            if keys[i] in repeated:
                pick = window[0]        # leftmost feasible, kept distinct
                prev[keys[i]] = pick
                disp += abs(pick - target)
            else:
                disp += min(abs(q - target) for q in window)
        if ok:
            total += 1.0 / (1.0 + disp)
    return total


positions = st.sets(st.integers(0, 24), min_size=1, max_size=8)


@st.composite
def phrase_cases(draw):
    n_slots = draw(st.integers(2, 4))
    # few distinct keys, so repeated slots are common
    keys = tuple((f"t{draw(st.integers(0, 2))}",) for _ in range(n_slots))
    gaps = draw(st.lists(st.integers(0, 2), min_size=n_slots - 1,
                         max_size=n_slots - 1))
    deltas = tuple(int(x) for x in np.concatenate([[0], np.cumsum(gaps)]))
    slop = draw(st.integers(0, 3))
    n_docs = draw(st.integers(1, 4))
    # one position set per distinct key per doc: repeated slots see the
    # same list, as the engine gives them
    docs = [{k: sorted(draw(positions)) for k in set(keys)}
            for _ in range(n_docs)]
    return keys, deltas, slop, docs


@settings(max_examples=400, deadline=None)
@given(phrase_cases())
def test_phrase_freq_matches_reference(case):
    keys, deltas, slop, docs = case
    plists = [[np.asarray(d[k], dtype=np.int32) for d in docs] for k in keys]
    got = phrase_freq(plists, slop, deltas, keys)
    want = [reference_pf([set(d[k]) for k in keys], slop, deltas, keys)
            for d in docs]
    assert got.shape == (len(docs),)
    assert got.tolist() == pytest.approx(want, rel=1e-12, abs=0.0)


def test_phrase_freq_empty_batch():
    assert len(phrase_freq([[], []], 1, (0, 1), (("a",), ("b",)))) == 0
