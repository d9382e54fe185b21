"""Linear-chain CRF in pure numpy: Viterbi decode + forward (log-Z).

Re-implements the semantics of the reference CRF
(/root/reference/crf.py:91-135 Viterbi, :137-159 forward, START/STOP
conventions :25-34, IMPOSSIBLE=-1e4 :12) as batched, mask-aware numpy —
no torch dependency, so the weights broadcast cheaply to executors and
run inside Arrow-batched pandas UDFs.

Convention (ours, documented rather than copied): ``transitions[i, j]``
is the score of moving FROM tag ``i`` TO tag ``j``. START = num_tags-2,
STOP = num_tags-1; emissions never score START/STOP (they are forced
IMPOSSIBLE at the boundaries exactly like the reference's augmented
matrix).

Correctness gate: differential test vs brute-force path enumeration on
≤6 tokens × ≤5 tags with random weights (tests/test_crf.py, against
the exhaustive decoder in tests/crf_oracle.py).
"""

from __future__ import annotations

import numpy as np

IMPOSSIBLE = -1.0e4


def viterbi_decode(
    emissions: np.ndarray,  # [B, L, T] float32/64 (T excludes START/STOP)
    lengths: np.ndarray,    # [B] int
    transitions: np.ndarray,  # [T+2, T+2]; trans[i, j] = score i→j
) -> list[list[int]]:
    """Batched max-product decode with backpointers, masked for padding.

    Returns per-sequence best tag paths (ids in [0, T)).
    """
    B, L, T = emissions.shape
    start, stop = T, T + 1  # indices inside the augmented matrix
    dt = emissions.dtype
    trans = np.ascontiguousarray(transitions[:T, :T], dtype=dt)  # tag→tag
    start_trans = transitions[start, :T].astype(dt)              # START→tag
    stop_trans = transitions[:T, stop].astype(dt)                # tag→STOP

    delta = start_trans[None, :] + emissions[:, 0, :]  # [B, T]
    backptr = np.zeros((B, L, T), dtype=np.int32)
    # preallocated [B, T, T] work buffer: the recursion is memory-bound,
    # so reusing it (instead of 3 fresh allocs per step) keeps the
    # multi-worker scaling from collapsing on allocator/DRAM pressure
    cand = np.empty((B, T, T), dtype=dt)
    new_delta = np.empty((B, T), dtype=dt)
    for t in range(1, L):
        # cand[b, i, j] = delta[b, i] + trans[i, j]
        np.add(delta[:, :, None], trans[None, :, :], out=cand)
        best_prev = cand.argmax(axis=1)                      # [B, T]
        new_delta[:] = np.take_along_axis(
            cand, best_prev[:, None, :], axis=1)[:, 0, :]
        new_delta += emissions[:, t, :]
        alive = (lengths > t)[:, None]                       # [B, 1]
        delta = np.where(alive, new_delta, delta)
        backptr[:, t, :] = best_prev

    final = delta + stop_trans[None, :]
    last_tag = final.argmax(axis=1).astype(np.int32)  # [B]

    # vectorized backtrack over the batch (per-sequence lengths masked)
    tags_mat = np.zeros((B, L), dtype=np.int32)
    rows = np.arange(B)
    cur = last_tag.copy()
    tags_mat[rows, np.maximum(lengths - 1, 0)] = cur
    for t in range(L - 1, 0, -1):
        prev = backptr[rows, t, cur]
        step_active = lengths > t          # sequences whose step t is real
        cur = np.where(step_active, prev, cur)
        write = (t - 1) < lengths          # always true for t-1 < n
        tags_mat[rows[write], t - 1] = cur[write]
    return [tags_mat[b, :int(lengths[b])].tolist() for b in range(B)]


def forward_score(
    emissions: np.ndarray,  # [B, L, T]
    lengths: np.ndarray,    # [B]
    transitions: np.ndarray,  # [T+2, T+2]
) -> np.ndarray:
    """Batched log-partition log Z (masked log-sum-exp recursion).

    Used for loss-style ranking (reference hard-example mining,
    /root/reference/train.py:383-395) and as the CRF-NLL building block:
    ``nll = logZ - gold_path_score``.
    """
    B, L, T = emissions.shape
    start, stop = T, T + 1
    trans = transitions[:T, :T]
    alpha = transitions[start, :T][None, :] + emissions[:, 0, :]  # [B, T]
    for t in range(1, L):
        cand = alpha[:, :, None] + trans[None, :, :] + emissions[:, t, None, :]
        m = cand.max(axis=1, keepdims=True)
        new_alpha = np.squeeze(m, 1) + np.log(np.exp(cand - m).sum(axis=1))
        alive = (lengths > t)[:, None]
        alpha = np.where(alive, new_alpha, alpha)
    final = alpha + transitions[:T, stop][None, :]
    m = final.max(axis=1, keepdims=True)
    return (m[:, 0] + np.log(np.exp(final - m).sum(axis=1))).astype(emissions.dtype)


def path_score(
    emissions: np.ndarray,  # [B, L, T]
    tags: np.ndarray,       # [B, L] int (padded arbitrarily past lengths)
    lengths: np.ndarray,    # [B]
    transitions: np.ndarray,
) -> np.ndarray:
    """Score of a given tag path (gold-path term of the CRF NLL)."""
    B, L, T = emissions.shape
    start, stop = T, T + 1
    out = np.zeros(B, dtype=emissions.dtype)
    for b in range(B):
        n = int(lengths[b])
        seq = tags[b, :n]
        s = transitions[start, seq[0]] + emissions[b, 0, seq[0]]
        for t in range(1, n):
            s += transitions[seq[t - 1], seq[t]] + emissions[b, t, seq[t]]
        s += transitions[seq[n - 1], stop]
        out[b] = s
    return out

