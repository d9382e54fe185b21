"""Full backprop training of the BiLSTM-CRF — the reference's actual
training loop (/root/reference/train.py:400-537: SGD on CRF NLL with
gradient clipping 5.0), re-implemented as pure-numpy reverse-mode
gradients so the engine can TRAIN the encoder it already runs forward,
with no torch dependency.

Blocks (gradients for every trainable array in TaggerWeights):

* CRF NLL: ∂/∂emissions = posterior marginals − gold one-hots, and
  ∂/∂transitions = expected − gold transition counts, via the
  forward-backward algorithm in log space (model.py neg_log_likelihood
  → crf.py forward/score semantics; the gold-path score is
  :func:`.crf.path_score`);
* emission projection (M6): plain dense GEMM grads;
* word BiLSTM (M5): BPTT through the masked LSTM recurrences — the
  train-path forward keeps per-step caches and mirrors the inference
  kernel's where(alive) padding semantics exactly (parity-tested);
* char-CNN (M2): the inference conv body (:func:`.encoder._char_conv`)
  plus the max-pool argmax route, and the K-shifted-GEMM conv
  transpose; char/word/cap embeddings: scatter-add sparse grads at the
  indices the shared input builder (:func:`.encoder._encoder_input`)
  scattered them to.

Everything is checked against central finite differences on tiny dims
(tests/test_backprop.py) — the strongest correctness statement a
hand-written autodiff can make. Weights are copied, mixed and cast
through :meth:`.encoder.TaggerWeights.arrays` / ``with_arrays``.

Distribution reuses the trainer topology of operators/train.py:
per-partition local SGD epochs + example-weighted iterative parameter
mixing (McDonald et al. 2010), one :func:`.rounds.partition_results`
round per epoch — each partition returns ONE weight delta; the corpus
never moves. :func:`crf_nll_rows` is the one forward-only loss scorer:
the dev-NLL monitor and :func:`.advgen.crf_nll_scores` both call it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .crf import forward_score, path_score
from .encoder import (TaggerWeights, _char_conv, _encoder_input, _sigmoid,
                      neural_emissions)
from .rounds import partition_results
from .tagset import ENTITY_TYPES, iobes_tags


# ------------------------------------------------------------------ LSTM

def lstm_forward_cache(x, lengths, w_ih, w_hh, b, reverse=False):
    """Masked LSTM forward (gate order i,f,g,o — matches the inference
    kernel pre-permutation) that keeps per-step activations for BPTT.
    Returns (out [B,L,H], cache)."""
    B, L, D = x.shape
    H = w_hh.shape[1]
    h = np.zeros((B, H))
    c = np.zeros((B, H))
    out = np.zeros((B, L, H))
    steps = list(range(L - 1, -1, -1) if reverse else range(L))
    cache = {"x": x, "lengths": lengths, "w_ih": w_ih, "w_hh": w_hh,
             "steps": steps, "gates": {}, "c_prev": {}, "h_prev": {},
             "c": {}}
    for t in steps:
        gates = x[:, t, :] @ w_ih.T + h @ w_hh.T + b
        i = _sigmoid(gates[:, :H])
        f = _sigmoid(gates[:, H:2 * H])
        g = np.tanh(gates[:, 2 * H:3 * H])
        o = _sigmoid(gates[:, 3 * H:])
        c_new = f * c + i * g
        h_new = o * np.tanh(c_new)
        alive = (lengths > t)[:, None]
        cache["gates"][t] = (i, f, g, o)
        cache["c_prev"][t] = c
        cache["h_prev"][t] = h
        h = np.where(alive, h_new, h)
        c = np.where(alive, c_new, c)
        cache["c"][t] = c
        out[:, t, :] = np.where(alive, h_new, 0.0)
    return out, cache


def lstm_backward(dout, cache):
    """BPTT for :func:`lstm_forward_cache`.

    Padding semantics mirror the forward: on dead steps h/c pass
    through, so their state grads flow through unchanged and the step
    contributes no parameter gradient. Returns (dx, dw_ih, dw_hh, db).
    """
    x, lengths = cache["x"], cache["lengths"]
    w_ih, w_hh = cache["w_ih"], cache["w_hh"]
    B, L, D = x.shape
    H = w_hh.shape[1]
    dx = np.zeros_like(x)
    dw_ih = np.zeros_like(w_ih)
    dw_hh = np.zeros_like(w_hh)
    db = np.zeros(4 * H)
    dh = np.zeros((B, H))
    dc = np.zeros((B, H))
    for t in reversed(cache["steps"]):
        alive = (lengths > t)[:, None]
        i, f, g, o = cache["gates"][t]
        c_prev = cache["c_prev"][t]
        h_prev = cache["h_prev"][t]
        c_t = cache["c"][t]          # post-mask cell state at step t
        tanh_c = np.tanh(c_t)
        # out[:, t] is hard-zero for dead rows in the forward, so
        # upstream grads at dead positions must not enter the state
        dh_t = dh + np.where(alive, dout[:, t, :], 0.0)
        # dead rows: h_t = h_prev, c_t = c_prev → grads pass through
        dh_alive = np.where(alive, dh_t, 0.0)
        dc_alive = np.where(alive, dc, 0.0)
        do = dh_alive * tanh_c
        dct = dc_alive + dh_alive * o * (1.0 - tanh_c ** 2)
        df = dct * c_prev
        di = dct * g
        dg = dct * i
        dc_prev = dct * f
        dgates = np.concatenate([
            di * i * (1 - i), df * f * (1 - f),
            dg * (1 - g ** 2), do * o * (1 - o)], axis=1)   # [B, 4H]
        dw_ih += dgates.T @ x[:, t, :]
        dw_hh += dgates.T @ h_prev
        db += dgates.sum(axis=0)
        dx[:, t, :] = dgates @ w_ih
        dh_prev = dgates @ w_hh
        dh = np.where(alive, dh_prev, dh_t)
        dc = np.where(alive, dc_prev, dc)
    return dx, dw_ih, dw_hh, db


# -------------------------------------------------------------- char CNN

def char_cnn_cache(char_ids, char_emb, w, b, pert=None):
    """Forward of encoder.char_cnn with the argmax route kept.

    ``pert`` (optional, [n, T0, c_dim]) is added to the embedded char
    matrix AFTER lookup — the adversarial perturbation point
    (/root/reference/model.py:118-120 adds the scaled normalized
    gradient to ``chars_embeds`` before the conv)."""
    reps = np.zeros((len(char_ids), w.shape[0]))
    out = _char_conv(char_ids, char_emb, w, b, pert)
    if out is None:
        return reps, None
    conv, lens, ids_mat, e = out
    nonempty = lens > 0
    reps[nonempty] = conv.max(axis=1)[nonempty]
    cache = {"ids_mat": ids_mat, "e": e, "amax": conv.argmax(axis=1),
             "nonempty": nonempty, "w": w, "C": char_emb.shape[0],
             "T1": conv.shape[1]}
    return reps, cache


def char_cnn_backward(dreps, cache):
    """Max-pool routing + conv transpose.

    Returns (d_char_emb, dw, db, de) — ``de`` is the gradient w.r.t.
    the embedded char matrix ``e`` itself (the adversarial-perturbation
    direction; the scatter-add of ``de`` over ids is ``d_char_emb``)."""
    w, C, T1 = cache["w"], cache["C"], cache["T1"]
    out_ch, K, c_dim = w.shape
    e, amax, ids_mat = cache["e"], cache["amax"], cache["ids_mat"]
    n, T0, _ = e.shape
    dreps = np.where(cache["nonempty"][:, None], dreps, 0.0)
    dconv = np.zeros((n, T1, out_ch))
    rows = np.repeat(np.arange(n), out_ch)
    chans = np.tile(np.arange(out_ch), n)
    np.add.at(dconv, (rows, amax.ravel(), chans), dreps.ravel())
    db = dconv.sum(axis=(0, 1))
    dw = np.zeros_like(w)
    de = np.zeros_like(e)
    for k in range(K):
        # conv[:, t] += e[:, t+k] @ w[:, k].T  →
        win = e[:, k:k + T1, :]                        # [n, T1, c_dim]
        dw[:, k, :] = np.einsum("ntc,ntd->cd", dconv, win)
        de[:, k:k + T1, :] += dconv @ w[:, k, :]
    d_char_emb = np.zeros((C, c_dim))
    flat_ids = ids_mat.ravel()
    keep = flat_ids < C                                # drop sentinel row
    np.add.at(d_char_emb, flat_ids[keep], de.reshape(-1, c_dim)[keep])
    return d_char_emb, dw, db, de


# ------------------------------------------------------------------- CRF

def crf_nll_and_grads(emissions, tags, lengths, transitions):
    """CRF negative log-likelihood + exact gradients via forward-backward.

    ∂NLL/∂em[t, j]   = P(y_t = j | x) − 1{gold_t = j}
    ∂NLL/∂trans[i,j] = E[#(i→j)] − #gold(i→j)   (incl. START/STOP arcs)

    Returns (nll_sum, d_em [B,L,T], d_trans [T+2,T+2]) summed over batch.
    """
    B, L, T = emissions.shape
    start, stop = T, T + 1
    trans = transitions[:T, :T]
    d_em = np.zeros_like(emissions)
    d_trans = np.zeros_like(transitions)
    nll = 0.0

    def lse(a, axis):
        m = a.max(axis=axis, keepdims=True)
        return np.squeeze(m, axis) + np.log(np.exp(a - m).sum(axis=axis))

    gold = path_score(emissions, tags, lengths, transitions)

    for bi in range(B):                 # small training batches; clarity
        n = int(lengths[bi])
        em = emissions[bi, :n]
        seq = tags[bi][:n]
        alpha = np.zeros((n, T))
        alpha[0] = transitions[start, :T] + em[0]
        for t in range(1, n):
            alpha[t] = em[t] + lse(alpha[t - 1][:, None] + trans, axis=0)
        beta = np.zeros((n, T))
        beta[n - 1] = transitions[:T, stop]
        for t in range(n - 2, -1, -1):
            beta[t] = lse(trans + (em[t + 1] + beta[t + 1])[None, :], axis=1)
        logZ = lse(alpha[n - 1] + transitions[:T, stop], axis=0)
        nll += logZ - gold[bi]
        # unary marginals
        marg = np.exp(alpha + beta - logZ)              # [n, T]
        d_em[bi, :n] = marg
        d_em[bi, np.arange(n), seq] -= 1.0
        # pairwise marginals → transition grads
        for t in range(n - 1):
            pm = np.exp(alpha[t][:, None] + trans
                        + (em[t + 1] + beta[t + 1])[None, :] - logZ)
            d_trans[:T, :T] += pm
            d_trans[seq[t], seq[t + 1]] -= 1.0
        d_trans[start, :T] += marg[0]
        d_trans[start, seq[0]] -= 1.0
        d_trans[:T, stop] += marg[n - 1]
        d_trans[seq[n - 1], stop] -= 1.0
    return nll, d_em, d_trans


# -------------------------------------------------- full loss + gradients

def loss_and_grads(weights: TaggerWeights, word_ids, char_ids, cap_ids,
                   tag_ids, dropout: float = 0.0, rng=None,
                   char_pert=None, want_input_grads: bool = False):
    """Mean CRF NLL over the batch + gradients for every trainable array.

    float64 throughout (the weights bundle is upcast by the caller).
    ``dropout`` is the reference's inverted dropout on the concat input
    (model.py:77), applied only when an rng is supplied (training).
    char_mode CNN only — the LSTM char mode trains through the same
    lstm_backward but is not wired here (documented; CNN is the
    reference default).

    ``char_pert``: additive perturbation for the embedded char matrix
    (M10 seam; see :func:`adversarial_loss_and_grads`).
    ``want_input_grads=True`` returns ``(nll, grads, char_input_grads)``
    where ``char_input_grads`` is ∂NLL/∂(embedded char matrix) — the
    array the adversarial direction is built from (zeros-shaped ``None``
    when the batch has no chars).
    """
    flat_chars = [cw for sent in char_ids for cw in sent]
    char_rep_flat, cnn_cache = char_cnn_cache(
        flat_chars, weights.char_emb, weights.cnn_w, weights.cnn_b,
        pert=char_pert)
    x, lengths, (rows, cols, flat_words, flat_caps) = _encoder_input(
        weights, word_ids, char_rep_flat, cap_ids, np.float64)
    B, L, _ = x.shape
    w_dim = weights.word_emb.shape[1]
    c_dim = char_rep_flat.shape[1]

    drop_mask = None
    if dropout and rng is not None:
        drop_mask = (rng.random(x.shape) >= dropout) / (1.0 - dropout)
        x = x * drop_mask

    h_f, cache_f = lstm_forward_cache(x, lengths, *weights.lstm_fw)
    h_b, cache_b = lstm_forward_cache(x, lengths, *weights.lstm_bw,
                                      reverse=True)
    h = np.concatenate([h_f, h_b], axis=2)              # [B, L, 2H]
    T = weights.num_tags
    em = (h @ weights.proj_w + weights.proj_b)[:, :, :T]

    tags_mat = np.zeros((B, L), dtype=np.int64)
    for bi, seq in enumerate(tag_ids):
        tags_mat[bi, :len(seq)] = seq
    nll, d_em_core, d_trans = crf_nll_and_grads(
        em, tags_mat, lengths, weights.transitions)

    scale = 1.0 / max(B, 1)
    d_em = np.zeros((B, L, weights.proj_b.shape[0]))
    d_em[:, :, :T] = d_em_core * scale
    d_trans *= scale
    # mask padded positions (already zero from crf grads) then GEMM grads
    h_flat = h.reshape(B * L, -1)
    d_em_flat = d_em.reshape(B * L, -1)
    d_proj_w = h_flat.T @ d_em_flat
    d_proj_b = d_em_flat.sum(axis=0)
    dh = d_em @ weights.proj_w.T                        # [B, L, 2H]
    H = h_f.shape[2]
    dx_f, dwi_f, dwh_f, db_f = lstm_backward(dh[:, :, :H], cache_f)
    dx_b, dwi_b, dwh_b, db_b = lstm_backward(dh[:, :, H:], cache_b)
    dx = dx_f + dx_b
    if drop_mask is not None:
        dx = dx * drop_mask

    d_word_emb = np.zeros_like(weights.word_emb, dtype=np.float64)
    np.add.at(d_word_emb, flat_words, dx[rows, cols, :w_dim])
    d_char_flat = dx[rows, cols, w_dim:w_dim + c_dim]
    d_e = None
    if cnn_cache is not None:
        d_char_emb, d_cnn_w, d_cnn_b, d_e = char_cnn_backward(d_char_flat,
                                                              cnn_cache)
    else:
        d_char_emb = np.zeros_like(weights.char_emb, dtype=np.float64)
        d_cnn_w = np.zeros_like(weights.cnn_w, dtype=np.float64)
        d_cnn_b = np.zeros_like(weights.cnn_b, dtype=np.float64)
    d_cap = None
    if flat_caps is not None:
        d_cap = np.zeros_like(weights.cap_emb, dtype=np.float64)
        np.add.at(d_cap, flat_caps, dx[rows, cols, w_dim + c_dim:])

    grads = {
        "word_emb": d_word_emb, "char_emb": d_char_emb,
        "cnn_w": d_cnn_w, "cnn_b": d_cnn_b, "cap_emb": d_cap,
        "lstm_fw_0": dwi_f, "lstm_fw_1": dwh_f, "lstm_fw_2": db_f,
        "lstm_bw_0": dwi_b, "lstm_bw_1": dwh_b, "lstm_bw_2": db_b,
        "proj_w": d_proj_w, "proj_b": d_proj_b, "transitions": d_trans,
    }
    if want_input_grads:
        return nll * scale, grads, d_e
    return nll * scale, grads


# ------------------------------------------- M10 adversarial perturbation

def adversarial_char_perturbation(char_input_grads, char_ids,
                                  alpha: float) -> np.ndarray:
    """The reference's gradient perturbation of the char embeddings
    (/root/reference/model.py:106-120): L2-normalize the loss gradient
    PER CHARACTER VECTOR (the commented-out norm at model.py:113 — the
    ``_scale_unit_l2`` helper the reference calls is not defined
    anywhere in its tree, so the comment is the only executable
    specification), then scale by ``alpha * sqrt(total_chars_in_batch *
    char_dim)`` (model.py:120). The reference also computes normalized
    WORD-embedding gradients (model.py:114-116) but never applies them
    to ``embeds`` (model.py:178-190) — dead code we deliberately do not
    revive; only the char matrix is perturbed, matching what the
    reference executes.
    """
    g = np.asarray(char_input_grads, dtype=np.float64)
    ghat = g / (np.linalg.norm(g, axis=2, keepdims=True) + 1e-8)
    total_chars = sum(len(cw) for cw in char_ids)
    c_dim = g.shape[2]
    return alpha * ghat * np.sqrt(total_chars * c_dim)


def adversarial_loss_and_grads(weights: TaggerWeights, word_ids, char_ids,
                               cap_ids, tag_ids, alpha: float,
                               ratio: float = 0.5, dropout: float = 0.0,
                               rng=None):
    """M10: clean pass → perturb char embeddings along the normalized
    loss gradient → adversarial pass → mix, exactly the reference's
    ``loss = nll*(1-ratio) + nll_adv*ratio`` (train.py:473; ratio comes
    from its WarmupWeight schedule, weight_scheduler.py:20-29 — the
    caller supplies the scheduled value). The perturbation is treated
    as a constant in the second backward (standard FGSM-style
    adversarial training — torch's graph in the reference likewise
    backprops through the perturbed FORWARD only, the grads tensor
    having been produced by an earlier backward).

    Returns (mixed_nll, mixed_grads, clean_nll, adv_nll).
    """
    flat_chars = [cw for sent in char_ids for cw in sent]
    clean_nll, clean_grads, d_e = loss_and_grads(
        weights, word_ids, char_ids, cap_ids, tag_ids,
        dropout=dropout, rng=rng, want_input_grads=True)
    if d_e is None or alpha == 0.0 or ratio == 0.0:
        return clean_nll, clean_grads, clean_nll, clean_nll
    pert = adversarial_char_perturbation(d_e, flat_chars, alpha)
    adv_nll, adv_grads = loss_and_grads(
        weights, word_ids, char_ids, cap_ids, tag_ids,
        dropout=dropout, rng=rng, char_pert=pert)
    mixed_nll = (1.0 - ratio) * clean_nll + ratio * adv_nll
    mixed = {k: (None if g is None else
                 (1.0 - ratio) * g + ratio * adv_grads[k])
             for k, g in clean_grads.items()}
    return mixed_nll, mixed, clean_nll, adv_nll


# --------------------------------------------------------------- training

def sgd_partition_pass(table, weights: TaggerWeights, vocab, chars, unk,
                       tag_ids, lr, clip, batch_size, dropout, seed,
                       adv_alpha: float = 0.0, adv_ratio: float = 0.0,
                       momentum: float = 0.0):
    """One local SGD epoch over a partition's sentences.

    Mini-batches of `batch_size` sorted by length (padding economy),
    order shuffled deterministically; per-batch global-norm clipping at
    `clip` (train.py:5.0). ``adv_alpha > 0`` trains on the M10 mixed
    loss (:func:`adversarial_loss_and_grads`) with the given ratio.
    ``momentum`` is classic SGD momentum ``v ← μ·v + g; p ← p − lr·v``
    (the reference trains with momentum 0.9, train.py:168-169); under
    parameter mixing the velocity is PARTITION-LOCAL and resets each
    epoch — the per-partition analogue of the reference's single-process
    optimizer state (mixing momentum buffers across partitions would
    average stale directions).
    Returns (n_sentences, nll_sum, arrays)."""
    from .tagger import featurize_sentence

    rng = np.random.default_rng([seed, table.num_rows])
    rows = list(zip(table.column("tokens").to_pylist(),
                    table.column("gold_tags").to_pylist()))
    order = rng.permutation(len(rows))
    vel: dict[str, np.ndarray] = {}
    arrays = {k: v.copy() for k, v in weights.arrays().items()}
    cur = weights.with_arrays(arrays)
    nll_total = 0.0
    for s in range(0, len(order), batch_size):
        chunk = [rows[i] for i in order[s:s + batch_size]]
        chunk.sort(key=lambda r: len(r[0]))
        wi, ci, caps, tgs = [], [], [], []
        for tokens, gold in chunk:
            a, b, c = featurize_sentence(tokens, vocab, chars, unk)
            wi.append(a)
            ci.append(b)
            caps.append(c)
            tgs.append([tag_ids[t] for t in gold])
        if adv_alpha and adv_ratio:
            nll, grads, _, _ = adversarial_loss_and_grads(
                cur, wi, ci, caps, tgs, alpha=adv_alpha, ratio=adv_ratio,
                dropout=dropout, rng=rng)
        else:
            nll, grads = loss_and_grads(cur, wi, ci, caps, tgs,
                                        dropout=dropout, rng=rng)
        nll_total += nll * len(chunk)
        gnorm = np.sqrt(sum(float((g ** 2).sum())
                            for g in grads.values() if g is not None))
        clip_scale = clip / gnorm if gnorm > clip else 1.0
        for k, g in grads.items():
            if g is not None and arrays.get(k) is not None:
                g = g * clip_scale
                if momentum:
                    vel[k] = momentum * vel[k] + g if k in vel else g
                    g = vel[k]
                arrays[k] -= lr * g
    return len(rows), nll_total, arrays


def crf_nll_rows(weights: TaggerWeights, tok_lists, tag_lists, vocab,
                 char_vocab, unk, tag_ids) -> np.ndarray:
    """Per-sentence CRF NLL ``logZ − gold-path score`` under the
    inference forward (:func:`.encoder.neural_emissions`, float32
    emissions), one batched forward for all of ``tok_lists``. Tags
    missing from ``tag_ids`` score as tag 0. The loss both the dev-NLL
    monitor and :func:`.advgen.crf_nll_scores` report."""
    from .tagger import featurize_sentence

    feats = [featurize_sentence(t, vocab, char_vocab, unk) for t in tok_lists]
    em, lengths = neural_emissions(
        weights, [f[0] for f in feats], [f[1] for f in feats],
        [f[2] for f in feats])
    gold = np.zeros(em.shape[:2], dtype=np.int64)
    for b, tl in enumerate(tag_lists):
        gold[b, :len(tl)] = [tag_ids.get(t, 0) for t in tl]
    return (forward_score(em, lengths, weights.transitions)
            - path_score(em, gold, lengths, weights.transitions))


def _mean_dev_nll(dev: DataFrame, weights: TaggerWeights, vocab, char_vocab,
                  unk, tag_ids) -> float:
    """Held-out mean CRF NLL, forward-only: one (nll_sum, n) pair per
    partition from one :func:`.rounds.partition_results` round, one
    :func:`crf_nll_rows` forward per Arrow batch (no gradients, no
    weight traffic back) — the early-stop monitor (pytorchtools.py
    val_loss)."""
    def local(v, table):
        total, n = 0.0, 0
        for rb in table.to_batches():
            total += float(crf_nll_rows(
                v["w"], rb.column("tokens").to_pylist(),
                rb.column("gold_tags").to_pylist(), v["vocab"], v["chars"],
                unk, tag_ids).sum())
            n += rb.num_rows
        return total, n

    rows = partition_results(
        dev.select("tokens", "gold_tags"),
        {"w": weights, "vocab": vocab, "chars": char_vocab}, local)
    tn = sum(r[1] for r in rows) or 1
    return sum(r[0] for r in rows) / tn


def train_bilstm_crf(
    sentences: DataFrame,       # (tokens array<string>, gold_tags array<string>)
    weights: TaggerWeights,
    vocab: dict,
    char_vocab: dict,
    epochs: int = 5,
    lr: float = 0.01,
    clip: float = 5.0,
    batch_size: int = 16,
    dropout: float = 0.5,
    entity_types: tuple[str, ...] = ENTITY_TYPES,
    seed: int = 42,
    adv_alpha: float = 0.0,
    adv_ratio: float = 0.5,
    adv_warmup_epochs: int = 0,
    momentum: float = 0.0,
    lr_decay: float = 0.0,
    dev: DataFrame | None = None,
    patience: int | None = None,
) -> tuple[TaggerWeights, list[dict]]:
    """Distributed full-model SGD: per epoch, one
    :func:`.rounds.partition_results` round in which each partition runs
    a local SGD pass from the broadcast weights and returns ONE delta;
    deltas mix weighted by example counts (iterative parameter mixing —
    the same topology as the perceptron trainer, over every trainable
    array). Traffic per epoch = n_partitions deltas.

    ``adv_alpha > 0`` enables M10 adversarial training: each batch
    takes a second forward on gradient-perturbed char embeddings and
    trains on ``(1-ratio)*clean + ratio*adv`` (train.py:473). The
    epoch-level ratio follows the reference's linear warmup
    (weight_scheduler.py:24-26 WARMUP_STYLES[0], adapted from
    per-iteration to per-epoch — the natural granularity under
    parameter mixing, where partitions step independently):
    ``ratio_e = adv_ratio * min(1, (epoch+1)/adv_warmup_epochs)``;
    ``adv_warmup_epochs = 0`` means constant ratio.

    Trainer-parity knobs (all default-off, so existing FD-checked
    behavior is unchanged):

    * ``momentum`` — SGD momentum 0.9 in the reference
      (train.py:168-169); partition-local velocity (see
      :func:`sgd_partition_pass`).
    * ``lr_decay`` — per-epoch decay ``lr_e = lr / (1 + lr_decay·e)``
      (train.py:525 uses 0.05).
    * ``dev`` + ``patience`` — early stopping on held-out mean NLL
      (pytorchtools.py:34-50 monitors val loss with patience 20):
      after each epoch the dev NLL is computed with a forward-only
      distributed pass; ``patience`` epochs without improvement stop
      training and the BEST-dev weights are returned (the reference
      checkpoints best and reloads). ``dev`` without ``patience``
      just records ``dev_nll`` per epoch.

    Returns (trained weights float32, per-epoch metrics)."""
    tags = iobes_tags(entity_types)
    tag_ids = {t: i for i, t in enumerate(tags)}
    unk = vocab.get("<UNK>", 0)
    cur = weights.astype(np.float64)
    metrics: list[dict] = []
    data = sentences.select("tokens", "gold_tags")

    best: tuple[float, int, dict] | None = None   # (dev_nll, epoch, arrays)
    stale = 0
    for epoch in range(epochs):
        ratio_e = (adv_ratio if not adv_warmup_epochs else
                   adv_ratio * min(1.0, (epoch + 1) / adv_warmup_epochs))
        lr_e = lr / (1.0 + lr_decay * epoch)

        def local(v, table):
            n, nll, arrays = sgd_partition_pass(
                table, v["w"], v["vocab"], v["chars"], unk, tag_ids,
                lr_e, clip, batch_size, dropout, seed + epoch,
                adv_alpha=adv_alpha, adv_ratio=ratio_e, momentum=momentum)
            return n, nll, {k: arrays[k] - a
                            for k, a in v["w"].arrays().items()}

        rows = partition_results(
            data, {"w": cur, "vocab": vocab, "chars": char_vocab}, local)
        total = sum(r[0] for r in rows) or 1
        nll_mean = sum(r[1] for r in rows) / total
        arrays = {k: v.copy() for k, v in cur.arrays().items()}
        for n, _, deltas in rows:
            frac = n / total
            for k, d in deltas.items():
                arrays[k] += frac * d
        cur = cur.with_arrays(arrays)
        cur.meta.update({"trained": True, "epochs": epoch + 1})
        row = {"epoch": epoch, "n_sentences": int(total),
               "nll_mean": round(float(nll_mean), 6),
               "lr": round(lr_e, 8)}
        if dev is not None:
            dev_nll = _mean_dev_nll(dev, cur, vocab, char_vocab, unk,
                                    tag_ids)
            row["dev_nll"] = round(dev_nll, 6)
            if best is None or dev_nll < best[0]:
                best = (dev_nll, epoch,
                        {k: v.copy() for k, v in cur.arrays().items()})
                stale = 0
            else:
                stale += 1
        metrics.append(row)
        if patience is not None and stale >= patience:
            break
    if dev is not None and patience is not None and best is not None:
        cur = cur.with_arrays(best[2])
        cur.meta.update({"trained": True, "best_epoch": best[1]})

    return cur.astype(np.float32), metrics
