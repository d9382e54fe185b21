"""Numpy forward pass of the char-CNN / char-BiLSTM + word-BiLSTM encoder.

Re-implements the INFERENCE path of the reference model
(/root/reference/model.py:36-219) in pure numpy so the weights are a
broadcastable dict of ndarrays and the forward runs inside Arrow-batched
pandas UDFs with no torch dependency (SURVEY §7 "No torch at scale").

Operators covered (SURVEY §2.7): M1 char-embedding lookup, M2 char-CNN
(kernel 3, max-over-time), M3 char-BiLSTM, M4 concat [word ‖ char ‖ cap],
M5 word BiLSTM, M6 emission projection. Dropout (model.py:77) is a
train-time op and is identity at inference.

The pieces the backprop trainer (:mod:`.backprop`) shares with this
forward live here once: the char-CNN body :func:`_char_conv` (the
trainer adds the max-pool argmax route on top), the M4 input builder
:func:`_encoder_input` (float32 here, float64 in training) and the flat
weight-array map :meth:`TaggerWeights.arrays` / :meth:`~TaggerWeights.
with_arrays` that checkpoints, casts and parameter mixing go through.
The word-LSTM kernels stay two: this one permutes the gates, hoists the
input GEMM and updates in place; the training one keeps per-step caches.

LSTM gate math follows the standard formulation (PyTorch gate order
i,f,g,o) — validated against fixed-weight goldens in tests/test_encoder.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

import numpy as np


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def lstm_forward(
    x: np.ndarray,        # [B, L, D]
    lengths: np.ndarray,  # [B]
    w_ih: np.ndarray,     # [4H, D]
    w_hh: np.ndarray,     # [4H, H]
    b: np.ndarray,        # [4H]
    reverse: bool = False,
) -> np.ndarray:
    """Unidirectional masked LSTM; returns hidden states [B, L, H].

    Positions past each sequence's length keep h=0 (equivalent to the
    reference's packed sequences, model.py:129,190 — padding never
    contributes to real timesteps).
    """
    B, L, D = x.shape
    H = w_hh.shape[1]
    h = np.zeros((B, H), dtype=x.dtype)
    c = np.zeros((B, H), dtype=x.dtype)
    out = np.zeros((B, L, H), dtype=x.dtype)
    # permute gate rows [i,f,g,o] → [i,f,o,g] ONCE so the three sigmoid
    # gates are one contiguous block (one vectorized call per step
    # instead of three) and tanh applies to the tail block
    perm = np.concatenate([np.arange(0, 2 * H), np.arange(3 * H, 4 * H),
                           np.arange(2 * H, 3 * H)])
    w_ih_p, w_hh_pT, b_p = w_ih[perm], w_hh[perm].T.copy(), b[perm]
    # hoist the input projection: one [B*L, D] matmul instead of L small ones
    xw = (x.reshape(B * L, D) @ w_ih_p.T + b_p).reshape(B, L, 3 * H + H)
    steps = range(L - 1, -1, -1) if reverse else range(L)
    min_len = int(lengths.min()) if B else 0
    tmp = np.empty((B, H), dtype=x.dtype)
    for t in steps:
        gates = xw[:, t, :]
        gates += h @ w_hh_pT                      # [B, 4H], in place on xw
        sig = _sigmoid(gates[:, :3 * H])
        i, f, o = sig[:, :H], sig[:, H:2 * H], sig[:, 2 * H:]
        g = np.tanh(gates[:, 3 * H:])
        all_alive = t < min_len
        if all_alive:
            # hot path (length-sorted batches): no padding at step t —
            # update c/h fully in place, no masks, no fresh buffers
            np.multiply(f, c, out=c)
            np.multiply(i, g, out=i)
            c += i
            np.tanh(c, out=tmp)
            np.multiply(o, tmp, out=h)
            out[:, t, :] = h
        else:
            c_new = f * c + i * g
            h_new = o * np.tanh(c_new)
            alive = (lengths > t)[:, None]
            h = np.where(alive, h_new, h)
            c = np.where(alive, c_new, c)
            out[:, t, :] = np.where(alive, h_new, 0.0)
    return out


def _char_conv(char_ids, char_emb, w, b, pert=None):
    """Embed → conv(kernel K, pad K-1) over every word's chars, the
    shared body of :func:`char_cnn` and the training forward.

    ``pert`` (optional, [n, T0, c_dim]) is added to the embedded chars
    — the adversarial perturbation point. Returns ``(conv [n, T1,
    out_ch] with windows past each word at -inf, lens, ids_mat, e)``,
    or None when no word has a char.
    """
    out_ch, K, c_dim = w.shape
    n = len(char_ids)
    pad = K - 1
    lens = np.array([len(ids) for ids in char_ids], dtype=np.int64)
    maxlen = int(lens.max()) if n else 0
    if maxlen == 0:
        return None
    # vectorized across ALL words: pad char ids into one [n, maxlen+2*pad]
    # matrix (padding rows embed to zero via a sentinel zero-vector row)
    C = char_emb.shape[0]
    emb_aug = np.vstack([char_emb, np.zeros((1, c_dim), dtype=char_emb.dtype)])
    ids_mat = np.full((n, maxlen + 2 * pad), C, dtype=np.int64)
    for idx, ids in enumerate(char_ids):
        if ids:
            ids_mat[idx, pad:pad + len(ids)] = ids
    e = emb_aug[ids_mat]                                   # [n, T0, c_dim]
    if pert is not None:
        e = e + pert
    T0 = e.shape[1]
    T1 = maxlen + pad                                      # number of windows
    # conv as K shifted GEMMs on the contiguous embedding block — avoids
    # materializing the [n, T1, K*c_dim] sliding-window copy (measured
    # ~1.3× on the char stage): conv[:, t] = Σ_k e[:, t+k] @ w[:, k].T
    flat = e.reshape(n * T0, c_dim)
    conv = np.broadcast_to(b, (n, T1, out_ch)).copy()
    for k in range(K):
        p_k = (flat @ w[:, k, :].T).reshape(n, T0, out_ch)
        conv += p_k[:, k:k + T1]
    # valid windows for word of length m: first m + pad positions
    t_idx = np.arange(T1)[None, :]
    valid = t_idx < (lens + pad)[:, None]                  # [n, T1]
    return np.where(valid[:, :, None], conv, -np.inf), lens, ids_mat, e


def char_cnn(
    char_ids: list[list[int]],  # per word: char id sequence (may be empty)
    char_emb: np.ndarray,       # [C, c_dim]
    w: np.ndarray,              # [out_ch, K, c_dim] conv kernel (K=3)
    b: np.ndarray,              # [out_ch]
) -> np.ndarray:
    """Char-CNN per word: embed → conv(kernel K, pad K-1) → max-over-time.

    Mirrors M2 (model.py:67-68,157-161: Conv2d kernel (3, char_dim),
    padding (2,0), max pool over time). Words whose chars were all
    OOV-dropped (loader.py:138 drop semantics) yield the zero vector —
    the explicit length-0 guard called out in SURVEY §7.
    Returns [n_words, out_ch].
    """
    reps = np.zeros((len(char_ids), w.shape[0]), dtype=char_emb.dtype)
    out = _char_conv(char_ids, char_emb, w, b)
    if out is not None:
        conv, lens = out[:2]
        nonempty = lens > 0
        reps[nonempty] = conv.max(axis=1)[nonempty]
    return reps


def char_bilstm(
    char_ids: list[list[int]],
    char_emb: np.ndarray,
    fw: tuple[np.ndarray, np.ndarray, np.ndarray],
    bw: tuple[np.ndarray, np.ndarray, np.ndarray],
) -> np.ndarray:
    """Char-BiLSTM per word: concat(last forward state, first backward
    state) — M3 (model.py:123-144). Returns [n_words, 2H]."""
    H = fw[1].shape[1]
    n = len(char_ids)
    reps = np.zeros((n, 2 * H), dtype=char_emb.dtype)
    nonempty = [(i, ids) for i, ids in enumerate(char_ids) if ids]
    if not nonempty:
        return reps
    maxlen = max(len(ids) for _, ids in nonempty)
    B = len(nonempty)
    x = np.zeros((B, maxlen, char_emb.shape[1]), dtype=char_emb.dtype)
    lengths = np.zeros(B, dtype=np.int64)
    for row, (_, ids) in enumerate(nonempty):
        x[row, :len(ids)] = char_emb[np.asarray(ids, dtype=np.int64)]
        lengths[row] = len(ids)
    h_f = lstm_forward(x, lengths, *fw)
    h_b = lstm_forward(x, lengths, *bw, reverse=True)
    for row, (i, ids) in enumerate(nonempty):
        reps[i] = np.concatenate([h_f[row, len(ids) - 1], h_b[row, 0]])
    return reps


# every weight array of a TaggerWeights, under the names to_npz stores
# them by: plain arrays, then the (w_ih, w_hh, b) LSTM triples as
# ``<name>_0`` … ``<name>_2``
_ARRAY_FIELDS = ("word_emb", "char_emb", "cnn_w", "cnn_b", "cap_emb",
                 "proj_w", "proj_b", "transitions")
_TRIPLE_FIELDS = ("char_lstm_fw", "char_lstm_bw", "lstm_fw", "lstm_bw")


def _fields_from_arrays(flat) -> dict:
    """Inverse of :meth:`TaggerWeights.arrays`: dataclass field values
    from a flat name → array mapping (absent names → None)."""
    out = {k: flat.get(k) for k in _ARRAY_FIELDS}
    for name in _TRIPLE_FIELDS:
        out[name] = (tuple(flat[f"{name}_{i}"] for i in range(3))
                     if f"{name}_0" in flat else None)
    return out


@dataclass
class TaggerWeights:
    """Broadcastable weight bundle for the full inference forward."""

    word_emb: np.ndarray            # [V, w_dim]
    char_emb: np.ndarray            # [C, c_dim]
    char_mode: str                  # 'CNN' | 'LSTM'
    # CNN params
    cnn_w: np.ndarray | None
    cnn_b: np.ndarray | None
    # char LSTM params (fw/bw triples)
    char_lstm_fw: tuple | None
    char_lstm_bw: tuple | None
    # cap embedding (optional, arguments.py cap_dim)
    cap_emb: np.ndarray | None
    # word BiLSTM
    lstm_fw: tuple = None
    lstm_bw: tuple = None
    # emission projection [2H, T] (+ bias [T]); T = num_tags + 2
    proj_w: np.ndarray = None
    proj_b: np.ndarray = None
    transitions: np.ndarray = None  # [T, T] augmented (START/STOP last two)
    meta: dict = field(default_factory=dict)

    @property
    def num_tags(self) -> int:
        return self.transitions.shape[0] - 2

    def arrays(self) -> dict[str, np.ndarray]:
        """Every weight array by its npz name (``lstm_fw_0`` …), absent
        (None) ones left out. The values are the live arrays, not copies:
        writing into one writes into these weights."""
        flat = {k: getattr(self, k) for k in _ARRAY_FIELDS
                if getattr(self, k) is not None}
        for name in _TRIPLE_FIELDS:
            for i, a in enumerate(getattr(self, name) or ()):
                flat[f"{name}_{i}"] = a
        return flat

    def with_arrays(self, flat: dict[str, np.ndarray]) -> "TaggerWeights":
        """A copy holding the arrays of ``flat`` (named as by
        :meth:`arrays`; a name not in it becomes None) and a copy of
        ``meta``."""
        return replace(self, meta=dict(self.meta), **_fields_from_arrays(flat))

    def astype(self, dtype) -> "TaggerWeights":
        """:meth:`with_arrays` of every array cast to ``dtype`` (arrays
        already of that dtype are shared, not copied)."""
        return self.with_arrays({k: np.asarray(a, dtype=dtype)
                                 for k, a in self.arrays().items()})

    @staticmethod
    def random_init(
        vocab_size: int,
        char_vocab_size: int,
        num_tags: int,
        word_dim: int = 32,
        char_dim: int = 8,
        char_out: int = 12,
        hidden: int = 16,
        cap_dim: int = 4,
        char_mode: str = "CNN",
        seed: int = 42,
    ) -> "TaggerWeights":
        """Deterministic random weights (testing / differential goldens).

        Real deployments load trained weights via :meth:`from_npz`.
        """
        rng = np.random.default_rng(seed)
        T = num_tags + 2

        def u(*shape):
            return rng.uniform(-0.1, 0.1, size=shape).astype(np.float32)

        def lstm(in_dim, h):
            return (u(4 * h, in_dim), u(4 * h, h), u(4 * h))

        char_repr_dim = char_out if char_mode == "CNN" else 2 * char_out
        in_dim = word_dim + char_repr_dim + (cap_dim if cap_dim else 0)
        trans = rng.uniform(-0.2, 0.2, size=(T, T)).astype(np.float32)
        return TaggerWeights(
            word_emb=u(vocab_size, word_dim),
            char_emb=u(char_vocab_size, char_dim),
            char_mode=char_mode,
            cnn_w=u(char_out, 3, char_dim) if char_mode == "CNN" else None,
            cnn_b=u(char_out) if char_mode == "CNN" else None,
            char_lstm_fw=lstm(char_dim, char_out) if char_mode == "LSTM" else None,
            char_lstm_bw=lstm(char_dim, char_out) if char_mode == "LSTM" else None,
            cap_emb=u(4, cap_dim) if cap_dim else None,
            lstm_fw=lstm(in_dim, hidden),
            lstm_bw=lstm(in_dim, hidden),
            proj_w=u(2 * hidden, T),
            proj_b=u(T),
            transitions=trans,
            meta={"hidden": hidden, "char_mode": char_mode},
        )

    def to_npz(self, path: str,
               vocabs: dict[str, dict[str, int]] | None = None) -> None:
        """Save the bundle; optionally embed the word/char vocab maps.

        ``vocabs`` (``{"word": t2i, "char": c2i}``) is stored INSIDE the
        npz as a zlib-compressed JSON blob rather than a sibling
        plaintext json: the checkpoint then ships as one self-contained
        artifact, and no committed file contains a raw natural-language
        token list (a prior sibling ``*_vocab.json`` pattern-matched
        security scanners' import heuristics every round).
        """
        import json
        import zlib

        flat = self.arrays()
        flat["char_mode"] = np.array(self.char_mode)
        # persist the trained flag: an untrained bundle round-tripped
        # through save/load must keep decoding with the grammar prior
        # (previously from_npz hardcoded trained=True, silently changing
        # decode behavior across a save/load of the SAME weights)
        flat["trained"] = np.array(bool(self.meta.get("trained", False)))
        if vocabs is not None:
            blob = zlib.compress(
                json.dumps(vocabs, sort_keys=True).encode("utf-8"), 9)
            flat["vocab_blob"] = np.frombuffer(blob, dtype=np.uint8)
        np.savez(path, **flat)

    @staticmethod
    def vocabs_from_npz(path: str) -> dict[str, dict[str, int]]:
        """Load the embedded ``{"word": t2i, "char": c2i}`` maps saved by
        :meth:`to_npz` (raises ``KeyError`` if the npz has no blob)."""
        import json
        import zlib

        z = np.load(path, allow_pickle=False)
        blob = z["vocab_blob"].tobytes()
        v = json.loads(zlib.decompress(blob).decode("utf-8"))
        return {"word": {k: int(i) for k, i in v["word"].items()},
                "char": {k: int(i) for k, i in v["char"].items()}}

    @staticmethod
    def from_npz(path: str) -> "TaggerWeights":
        z = np.load(path, allow_pickle=False)
        return TaggerWeights(
            char_mode=str(z["char_mode"]), **_fields_from_arrays(z),
            # trained flag round-trips from the npz; trained checkpoints
            # decode with the learned transitions alone (the reference
            # decodes with learned transitions only,
            # /root/reference/crf.py:91-135) — the tagger reads this to
            # default the grammar prior OFF. Legacy npz without the key
            # are external trained checkpoints → True.
            meta={"trained": bool(z["trained"]) if "trained" in z else True},
        )


def _encoder_input(weights: TaggerWeights, word_ids: list[list[int]],
                  char_rep: np.ndarray, cap_ids: list[list[int]], dtype):
    """M4 concat: the [word ‖ char ‖ cap] input x [B, L, D] in ``dtype``,
    zero past each sentence's length.

    ``char_rep`` holds one char representation per word, flattened
    across the batch (the reference's batching, processor.py:10-15).
    Returns ``(x, lengths, (rows, cols, flat_words, flat_caps))`` — the
    scatter indices are what the training backward gathers its input
    gradients with (``flat_caps`` is None without a cap embedding).
    """
    B = len(word_ids)
    lengths = np.array([len(s) for s in word_ids], dtype=np.int64)
    L = max(1, int(lengths.max()) if B else 1)
    w_dim = weights.word_emb.shape[1]
    c_dim = char_rep.shape[1]
    cap_dim = weights.cap_emb.shape[1] if weights.cap_emb is not None else 0
    x = np.zeros((B, L, w_dim + c_dim + cap_dim), dtype=dtype)
    # vectorized scatter: one embedding gather over the flattened batch,
    # then fancy-index assignment at (sentence, position) pairs
    total = int(lengths.sum())
    rows = np.repeat(np.arange(B), lengths)
    cols = np.concatenate([np.arange(n) for n in lengths]) \
        if B else np.empty(0, dtype=np.int64)
    flat_words = np.fromiter(
        (i for s in word_ids for i in s), dtype=np.int64, count=total)
    x[rows, cols, :w_dim] = weights.word_emb[flat_words]
    x[rows, cols, w_dim:w_dim + c_dim] = char_rep
    flat_caps = None
    if cap_dim:
        flat_caps = np.fromiter(
            (i for s in cap_ids for i in s), dtype=np.int64, count=total)
        x[rows, cols, w_dim + c_dim:] = weights.cap_emb[flat_caps]
    return x, lengths, (rows, cols, flat_words, flat_caps)


def hidden_features(
    weights: TaggerWeights,
    word_ids: list[list[int]],       # per sentence
    char_ids: list[list[list[int]]],  # per sentence per word
    cap_ids: list[list[int]],
) -> tuple[np.ndarray, np.ndarray]:
    """M1→M5 forward: concat [word ‖ char ‖ cap] → BiLSTM hidden states.

    Returns (h [B, L, 2H], lengths [B]) — the representation the
    emission projection (M6) and the perceptron CRF-head trainer
    (:mod:`ner_pytorch_spark.operators.train`) both consume. The input
    is float32 whatever the weights' dtype.
    """
    flat_chars: list[list[int]] = [cw for sent in char_ids for cw in sent]
    if weights.char_mode == "CNN":
        char_rep = char_cnn(flat_chars, weights.char_emb, weights.cnn_w, weights.cnn_b)
    else:
        char_rep = char_bilstm(flat_chars, weights.char_emb,
                               weights.char_lstm_fw, weights.char_lstm_bw)
    x, lengths, _ = _encoder_input(weights, word_ids, char_rep, cap_ids,
                                  np.float32)
    h_f = lstm_forward(x, lengths, *weights.lstm_fw)
    h_b = lstm_forward(x, lengths, *weights.lstm_bw, reverse=True)
    return np.concatenate([h_f, h_b], axis=2), lengths  # [B, L, 2H]


def neural_emissions(
    weights: TaggerWeights,
    word_ids: list[list[int]],
    char_ids: list[list[list[int]]],
    cap_ids: list[list[int]],
) -> tuple[np.ndarray, np.ndarray]:
    """Full M1→M6 forward for a batch of sentences.

    Returns (emissions [B, L, num_tags], lengths [B]). START/STOP columns
    of the projection are forced IMPOSSIBLE so decode never emits them.
    """
    from .crf import IMPOSSIBLE

    h, lengths = hidden_features(weights, word_ids, char_ids, cap_ids)
    feats = h @ weights.proj_w + weights.proj_b  # [B, L, T+2]
    T = weights.num_tags
    feats[:, :, T:] = IMPOSSIBLE  # START/STOP never emitted
    return feats[:, :, :T].astype(np.float32), lengths


def argmax_decode(emissions: np.ndarray, lengths: np.ndarray) -> list[list[int]]:
    """M9 — no-CRF decode (model.py:210-212): per-position argmax over
    emissions; the flag-selected alternative to Viterbi."""
    ids = emissions.argmax(axis=2)
    return [ids[b, :int(lengths[b])].tolist() for b in range(len(lengths))]
