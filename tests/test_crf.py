"""Differential tests: numpy CRF vs brute-force enumeration
(SURVEY §5: ≤6 tokens, ≤5 tags, random weights)."""

import numpy as np

from crf_oracle import brute_force_decode
from ner_pytorch_spark.operators.crf import (forward_score, path_score,
                                             viterbi_decode)


def _random_case(rng, B, L, T):
    emissions = rng.normal(size=(B, L, T)).astype(np.float64)
    lengths = rng.integers(1, L + 1, size=B)
    transitions = rng.normal(size=(T + 2, T + 2)).astype(np.float64)
    return emissions, lengths, transitions


def test_viterbi_matches_brute_force():
    rng = np.random.default_rng(7)
    for trial in range(5):
        B, L, T = 4, int(rng.integers(2, 7)), int(rng.integers(2, 6))
        em, lens, trans = _random_case(rng, B, L, T)
        assert viterbi_decode(em, lens, trans) == brute_force_decode(em, lens, trans)


def test_viterbi_respects_lengths():
    rng = np.random.default_rng(1)
    em, lens, trans = _random_case(rng, 3, 6, 4)
    paths = viterbi_decode(em, lens, trans)
    for p, n in zip(paths, lens):
        assert len(p) == n


def test_forward_upper_bounds_any_path():
    rng = np.random.default_rng(3)
    em, lens, trans = _random_case(rng, 3, 5, 4)
    logz = forward_score(em, lens, trans)
    best = viterbi_decode(em, lens, trans)
    tags = np.zeros((3, 5), dtype=np.int64)
    for b, p in enumerate(best):
        tags[b, :len(p)] = p
    scores = path_score(em, tags, lens, trans)
    assert np.all(logz >= scores - 1e-9)


def test_forward_matches_enumeration():
    """log Z == logsumexp over every path (brute force)."""
    import itertools

    rng = np.random.default_rng(11)
    B, L, T = 2, 4, 3
    em, lens, trans = _random_case(rng, B, L, T)
    logz = forward_score(em, lens, trans)
    for b in range(B):
        n = int(lens[b])
        scores = []
        for path in itertools.product(range(T), repeat=n):
            s = trans[T, path[0]] + em[b, 0, path[0]]
            for t in range(1, n):
                s += trans[path[t - 1], path[t]] + em[b, t, path[t]]
            s += trans[path[n - 1], T + 1]
            scores.append(s)
        expected = np.logaddexp.reduce(scores)
        assert abs(logz[b] - expected) < 1e-9
