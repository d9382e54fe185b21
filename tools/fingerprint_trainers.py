"""Bit-level fingerprint of the four distributed trainers.

Runs each trainer on a fixed seeded input and prints ONE JSON line of
sha256 digests, one per trainer, over every trained array (dtype, shape
and bytes), the weights' meta and the per-epoch metrics. A refactor
that claims bit-identical training prints the same line before and
after:

* ``train_crf_head`` — 2 epochs, ``unk_dropout=0.1``, ``average=True``;
* ``train_bilstm_crf`` — 3 epochs, ``momentum=0.9``, ``adv_alpha=0.05``,
  ``lr_decay=0.1``, a dev set and ``patience=1``;
* ``train_projector`` — 300 parsed rows over 3 partitions, 3 epochs;
* ``kmeans_codebook`` — 512 × 8 vectors over 8 partitions, 64 cells.

The tagger trainers see 413 adversarial-corpus sentences over 4
partitions (dev: the next 138 over 2), all with 64-row Arrow batches,
so every partition spans several batches. The session has 4 cores
whatever the box has, so partitioning does not depend on the machine.

Usage: python tools/fingerprint_trainers.py
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

N_TRAIN, N_DEV = 413, 138
_DEPRELS = ("nsubj", "obj", "amod", "obl", "det", "punct")


def _feed(h, obj) -> None:
    """Hash ``obj`` structurally: arrays by dtype/shape/bytes, dataclass
    and tuple fields in order, dicts as sorted JSON."""
    if isinstance(obj, np.ndarray):
        h.update(f"{obj.dtype.str}{obj.shape}".encode())
        h.update(np.ascontiguousarray(obj).tobytes())
    elif dataclasses.is_dataclass(obj):
        for f in dataclasses.fields(obj):
            h.update(f.name.encode())
            _feed(h, getattr(obj, f.name))
    elif isinstance(obj, (tuple, list)) and any(
            isinstance(a, np.ndarray) for a in obj):
        for a in obj:
            _feed(h, a)
    else:
        h.update(json.dumps(obj, sort_keys=True, default=str).encode())


def _digest(*objs) -> str:
    h = hashlib.sha256()
    for o in objs:
        _feed(h, o)
    return h.hexdigest()


def _parse(tokens: list[str]) -> list[dict]:
    """A deterministic stand-in dependency tree over ``tokens``."""
    arcs = []
    for j, tok in enumerate(tokens, 1):
        head = 0 if j == 1 else (j - 1 if j % 3 else 1)
        upos = ("PUNCT" if not tok[0].isalnum() else
                "PROPN" if tok[0].isupper() else "NOUN")
        arcs.append({"id": j, "head": head, "upos": upos,
                     "deprel": "root" if head == 0 else
                     _DEPRELS[(len(tok) + j) % len(_DEPRELS)]})
    return arcs


def main() -> None:
    from ner_pytorch_spark import datagen
    from ner_pytorch_spark.operators.backprop import train_bilstm_crf
    from ner_pytorch_spark.operators.encoder import TaggerWeights
    from ner_pytorch_spark.operators.paraphrase import train_projector
    from ner_pytorch_spark.operators.similarity import kmeans_codebook
    from ner_pytorch_spark.operators.tagset import iobes_tags
    from ner_pytorch_spark.operators.train import (reservoir_weights,
                                                   train_crf_head)
    from ner_pytorch_spark.session import get_spark

    spark = get_spark(cores=4, extra_conf={
        "spark.sql.execution.arrow.maxRecordsPerBatch": "64"})
    sent_schema = "tokens array<string>, gold_tags array<string>"
    rows = [(list(r.tokens), list(r.gold_tags)) for r in
            datagen.adversarial_sentences_dataframe(spark, 130)
            .orderBy("page_idx", "sent_id").collect()]
    train = spark.createDataFrame(rows[:N_TRAIN], sent_schema).repartition(4)
    dev = spark.createDataFrame(
        rows[N_TRAIN:N_TRAIN + N_DEV], sent_schema).repartition(2)
    words = sorted({t for toks, _ in rows[:N_TRAIN] for t in toks})
    t2i = {"<UNK>": 0, **{t: i + 1 for i, t in enumerate(words)}}
    c2i = {c: i for i, c in enumerate(sorted({c for t in words for c in t}))}
    out = {}

    head, m = train_crf_head(
        train, reservoir_weights(len(t2i) + 1, len(c2i) + 1, word_dim=16,
                                 char_out=8, hidden=24, seed=3),
        t2i, c2i, epochs=2, unk_dropout=0.1, average=True)
    out["train_crf_head"] = _digest(head, m)

    w0 = TaggerWeights.random_init(
        len(t2i) + 1, len(c2i) + 1, num_tags=len(iobes_tags()),
        word_dim=16, char_dim=6, char_out=8, hidden=16, seed=11)
    bp, m = train_bilstm_crf(
        train, w0, t2i, c2i, epochs=3, lr=0.2, batch_size=8, dropout=0.5,
        momentum=0.9, adv_alpha=0.05, lr_decay=0.1, dev=dev, patience=1)
    out["train_bilstm_crf"] = _digest(bp, m)

    parsed = spark.createDataFrame(
        [(toks, tags, _parse(toks)) for toks, tags in rows[:300]],
        "tokens array<string>, pred_tags array<string>, "
        "arcs array<struct<id:int,head:int,deprel:string,upos:string>>",
    ).repartition(3)
    proj = train_projector(parsed, epochs=3, iters=50)
    out["train_projector"] = _digest(proj.w, sorted(proj.deprels.items()),
                                     sorted(proj.pos.items()))

    x = np.random.default_rng(5).standard_normal((512, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(x)],
        "vec_id long, embedding array<float>").repartition(8)
    out["kmeans_codebook"] = _digest(kmeans_codebook(emb, 64))

    print(json.dumps(out, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
