"""Exponential-time CRF decode oracle for the Viterbi tests."""

import itertools

import numpy as np


def brute_force_decode(
    emissions: np.ndarray, lengths: np.ndarray, transitions: np.ndarray
) -> list[list[int]]:
    """Best path per sequence by enumerating every path (same
    ``transitions[from, to]`` and START/STOP conventions as crf.py)."""
    B, L, T = emissions.shape
    start, stop = T, T + 1
    paths = []
    for b in range(B):
        n = int(lengths[b])
        best, best_s = None, -np.inf
        for path in itertools.product(range(T), repeat=n):
            s = transitions[start, path[0]] + emissions[b, 0, path[0]]
            for t in range(1, n):
                s += transitions[path[t - 1], path[t]] + emissions[b, t, path[t]]
            s += transitions[path[n - 1], stop]
            if s > best_s:
                best, best_s = list(path), s
        paths.append(best)
    return paths
