"""Distributed CRF-head training: structured perceptron + parameter mixing.

The reference trains the full BiLSTM-CRF by backprop SGD (its
train.py:400-537), and so does ``backprop.py``. This module is the
cheaper trainer next to it: it learns only the CRF HEAD — emission
projection (M6) and transition matrix (M7/M8) — over the FROZEN encoder
representation (M1-M5), computed exactly by the numpy forward, using
the structured perceptron (Collins 2002): decode with current weights,
and on a wrong path add the gold path's features and subtract the
predicted path's.

Distribution is iterative parameter mixing (McDonald, Hall & Mann,
NAACL 2010) through :func:`.rounds.partition_results`: every epoch each
partition runs local perceptron updates starting from the broadcast
weights and returns ONE delta, and the driver mixes the deltas weighted
by per-partition example counts, rebroadcasts, repeats. Traffic per
epoch = n_partitions deltas, never the corpus; the corpus itself never
leaves the executors.

This closes the trained-checkpoint seam end-to-end IN-ENGINE: the
trained bundle round-trips through ``TaggerWeights.to_npz/from_npz``
(meta.trained=True → the tagger decodes with learned transitions alone)
and is gated by held-out chunk F1 in tests.
"""

from __future__ import annotations

import dataclasses

import numpy as np
from pyspark.sql import DataFrame

from .crf import viterbi_decode
from .encoder import TaggerWeights, hidden_features
from .rounds import partition_results
from .tagset import ENTITY_TYPES, iobes_tags

def reservoir_weights(
    vocab_size: int, char_vocab_size: int,
    word_dim: int = 48, char_dim: int = 8, char_out: int = 8,
    hidden: int = 96, cap_dim: int = 4, char_mode: str = "CNN",
    entity_types: tuple[str, ...] = ENTITY_TYPES, seed: int = 42,
    emb_scale: float = 3.0, rnn_scale: float = 6.0,
) -> TaggerWeights:
    """Random ENCODER weights rescaled for head-only training.

    The reference-default tiny init (U(-0.1, 0.1)) collapses the BiLSTM
    output to near-constant vectors (measured h std ≈ 0.005 across
    positions) — unusable as fixed features. Rescaling the embeddings and
    recurrent matrices (echo-state style) restores token/context
    discrimination (h std ≈ 0.05+) so the perceptron CRF head separates
    the tag classes. The bundle stays a plain :class:`TaggerWeights`; a
    backprop-trained checkpoint would slot into the same seam.
    """
    from .tagset import grammar_transitions

    w = TaggerWeights.random_init(
        vocab_size=vocab_size, char_vocab_size=char_vocab_size,
        num_tags=len(iobes_tags(entity_types)), word_dim=word_dim,
        char_dim=char_dim, char_out=char_out, hidden=hidden,
        cap_dim=cap_dim, char_mode=char_mode, seed=seed)
    w.word_emb = w.word_emb * emb_scale
    w.char_emb = w.char_emb * emb_scale
    if w.cnn_w is not None:
        w.cnn_w = w.cnn_w * rnn_scale
    if w.char_lstm_fw is not None:
        w.char_lstm_fw = tuple(a * rnn_scale for a in w.char_lstm_fw)
        w.char_lstm_bw = tuple(a * rnn_scale for a in w.char_lstm_bw)
    w.lstm_fw = tuple(a * rnn_scale for a in w.lstm_fw)
    w.lstm_bw = tuple(a * rnn_scale for a in w.lstm_bw)
    w.transitions = grammar_transitions(entity_types).copy()
    return w


def _local_perceptron(table, weights: TaggerWeights,
                      vocab: dict, chars: dict, unk: int,
                      tag_ids: dict[str, int], lr: float,
                      seed: int, unk_dropout: float = 0.0
                      ) -> tuple[int, int, np.ndarray, np.ndarray,
                                 np.ndarray]:
    """One local perceptron pass over a partition's sentences.

    Returns (n_sentences, n_mistakes, Δproj_w, Δproj_b, Δtrans) relative
    to the incoming weights. Sentence order is shuffled with a seeded rng
    (perceptron updates are order-sensitive; the shuffle is deterministic
    per (seed, partition content)).

    ``unk_dropout``: probability of replacing each word id with <UNK>
    during training (char/cap features untouched) — the reference's
    singleton-UNK trick (loader P8 shape) generalized to word dropout.
    Without it the model NEVER sees the UNK id in training (the vocab
    covers the train corpus by construction) and held-out OOV tokens
    hit an input pattern the head has no weights for.
    """
    from .tagger import featurize_sentence

    T = weights.num_tags
    start, stop = T, T + 1
    w = weights.proj_w.astype(np.float64).copy()
    b = weights.proj_b.astype(np.float64).copy()
    trans = weights.transitions.astype(np.float64).copy()
    d_w = np.zeros_like(w)
    d_b = np.zeros_like(b)
    d_t = np.zeros_like(trans)

    toks = table.column("tokens").to_pylist()
    golds = table.column("gold_tags").to_pylist()
    rng = np.random.default_rng([seed, len(toks)])
    order = rng.permutation(len(toks))
    n_mistakes = 0
    for idx in order:
        tokens, gold = toks[idx], golds[idx]
        wi, ci, caps = featurize_sentence(tokens, vocab, chars, unk)
        if unk_dropout:
            wi = [unk if rng.random() < unk_dropout else i for i in wi]
        h, lengths = hidden_features(weights, [wi], [ci], [caps])
        h0 = h[0, :len(tokens)].astype(np.float64)         # [L, 2H]
        em = (h0 @ w + b)[:, :T]                           # [L, T]
        em_f = np.full((1, len(tokens), T), 0.0, dtype=np.float32)
        em_f[0] = em
        pred = viterbi_decode(em_f, lengths, trans.astype(np.float32))[0]
        gold_ids = [tag_ids[t] for t in gold]
        if pred == gold_ids:
            continue
        n_mistakes += 1
        for pos, (g, p) in enumerate(zip(gold_ids, pred)):
            if g != p:
                upd = lr * h0[pos]
                w[:, g] += upd
                w[:, p] -= upd
                d_w[:, g] += upd
                d_w[:, p] -= upd
                b[g] += lr
                b[p] -= lr
                d_b[g] += lr
                d_b[p] -= lr
        g_path = [start] + gold_ids + [stop]
        p_path = [start] + pred + [stop]
        # crf.py convention: transitions[i, j] = score FROM i TO j
        for (g0, g1), (p0, p1) in zip(zip(g_path, g_path[1:]),
                                      zip(p_path, p_path[1:])):
            if (g0, g1) != (p0, p1):
                trans[g0, g1] += lr
                trans[p0, p1] -= lr
                d_t[g0, g1] += lr
                d_t[p0, p1] -= lr
    return len(toks), n_mistakes, d_w, d_b, d_t


def train_crf_head(
    sentences: DataFrame,          # (tokens array<string>, gold_tags array<string>)
    weights: TaggerWeights,
    vocab: dict,
    char_vocab: dict,
    epochs: int = 3,
    lr: float = 0.5,
    entity_types: tuple[str, ...] = ENTITY_TYPES,
    seed: int = 42,
    average: bool = False,
    unk_dropout: float = 0.0,
) -> tuple[TaggerWeights, list[dict]]:
    """→ (trained TaggerWeights, per-epoch metrics rows).

    The encoder (word/char embeddings, char-CNN, BiLSTM) stays FROZEN;
    proj_w/proj_b/transitions are learned. Per epoch, one
    :func:`.rounds.partition_results` round: broadcast current head →
    each partition runs a local perceptron pass → deltas are mixed
    weighted by partition sentence counts → new head. Deterministic
    given (corpus, partitioning, seed).

    ``average=True`` returns the AVERAGED head — the mean of the mixed
    head over epochs (epoch-level averaged perceptron, Collins 2002 /
    McDonald et al. 2010 §4). The late-epoch head drives the training
    trajectory but memorizes the last mistakes it saw; the average can
    generalize better on held-out data. The shipped adversarial-corpus
    gate trains with the default (un-averaged) head plus unk_dropout,
    which measured stronger on the OOV block.
    """
    tags = iobes_tags(entity_types)
    tag_ids = {t: i for i, t in enumerate(tags)}
    unk = vocab.get("<UNK>", 0)
    cur = weights
    metrics: list[dict] = []
    data = sentences.select("tokens", "gold_tags")
    avg_w = np.zeros_like(weights.proj_w, dtype=np.float64)
    avg_b = np.zeros_like(weights.proj_b, dtype=np.float64)
    avg_t = np.zeros_like(weights.transitions, dtype=np.float64)
    n_avg = 0

    for epoch in range(epochs):
        def local(v, table):
            return _local_perceptron(
                table, v["w"], v["vocab"], v["chars"], unk, tag_ids, lr,
                seed + epoch, unk_dropout)

        rows = partition_results(
            data, {"w": cur, "vocab": vocab, "chars": char_vocab}, local)
        total = sum(r[0] for r in rows) or 1
        mistakes = sum(r[1] for r in rows)
        mix_w = np.zeros_like(cur.proj_w, dtype=np.float64)
        mix_b = np.zeros_like(cur.proj_b, dtype=np.float64)
        mix_t = np.zeros_like(cur.transitions, dtype=np.float64)
        for n, _, d_w, d_b, d_t in rows:
            frac = n / total
            mix_w += frac * d_w
            mix_b += frac * d_b
            mix_t += frac * d_t
        new = dataclasses.replace(
            cur,
            proj_w=(cur.proj_w + mix_w).astype(np.float32),
            proj_b=(cur.proj_b + mix_b).astype(np.float32),
            transitions=(cur.transitions + mix_t).astype(np.float32),
            meta={**cur.meta, "trained": True, "epochs": epoch + 1},
        )
        metrics.append({"epoch": epoch, "n_sentences": int(total),
                        "n_mistakes": int(mistakes),
                        "mistake_rate": round(mistakes / total, 4)})
        cur = new
        avg_w += cur.proj_w
        avg_b += cur.proj_b
        avg_t += cur.transitions
        n_avg += 1
        if mistakes == 0:
            break
    if average and n_avg:
        cur = dataclasses.replace(
            cur,
            proj_w=(avg_w / n_avg).astype(np.float32),
            proj_b=(avg_b / n_avg).astype(np.float32),
            transitions=(avg_t / n_avg).astype(np.float32),
            meta=dict(cur.meta),
        )
    return cur, metrics
