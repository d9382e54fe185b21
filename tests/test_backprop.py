"""Full-model backprop trainer: finite-difference gradient checks,
forward parity with the inference kernel, and the end-to-end trained
quality gate on the adversarial corpus."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ner_pytorch_spark import datagen
from ner_pytorch_spark.operators.backprop import (
    adversarial_char_perturbation, adversarial_loss_and_grads,
    loss_and_grads, lstm_forward_cache, train_bilstm_crf)
from ner_pytorch_spark.operators.encoder import TaggerWeights, lstm_forward
from ner_pytorch_spark.operators.tagset import iobes_tags

_WORDS = [[1, 2, 3, 4], [5, 6], [7]]
_CHARS = [[[1, 2], [3], [4, 5, 6], [2]], [[1], [7, 2]], [[3, 1, 2, 5]]]
_CAPS = [[0, 1, 2, 3], [1, 0], [2]]


def _tiny_weights(seed=0):
    return TaggerWeights.random_init(
        vocab_size=12, char_vocab_size=8, num_tags=len(iobes_tags()),
        word_dim=5, char_dim=3, char_out=4, hidden=6, cap_dim=2,
        seed=seed).astype(np.float64)


def test_gradients_match_finite_differences():
    """Central-difference check of EVERY trainable array block — the
    strongest correctness statement a hand-written autodiff can make."""
    w = _tiny_weights()
    rng = np.random.default_rng(1)
    T = len(iobes_tags())
    tag_ids = [list(rng.integers(0, T, size=len(s))) for s in _WORDS]

    def loss():
        return loss_and_grads(w, _WORDS, _CHARS, _CAPS, tag_ids)[0]

    nll, grads = loss_and_grads(w, _WORDS, _CHARS, _CAPS, tag_ids)
    assert nll > 0
    eps = 1e-6
    for k, arr in w.arrays().items():
        for _ in range(5):
            idx = tuple(rng.integers(0, s) for s in arr.shape)
            orig = arr[idx]
            arr[idx] = orig + eps
            lp = loss()
            arr[idx] = orig - eps
            lm = loss()
            arr[idx] = orig
            fd = (lp - lm) / (2 * eps)
            an = grads[k][idx]
            assert abs(fd - an) <= 1e-4 * max(1.0, abs(fd), abs(an)), \
                (k, idx, fd, an)


def test_lstm_train_forward_matches_inference_kernel():
    """The cached train-path LSTM equals the optimized inference kernel
    (same masking semantics) in both directions."""
    rng = np.random.default_rng(3)
    B, L, D, H = 4, 6, 5, 7
    x = rng.standard_normal((B, L, D)).astype(np.float32)
    lengths = np.array([6, 4, 1, 3])
    w_ih = rng.standard_normal((4 * H, D)).astype(np.float32) * 0.3
    w_hh = rng.standard_normal((4 * H, H)).astype(np.float32) * 0.3
    b = rng.standard_normal(4 * H).astype(np.float32) * 0.1
    for rev in (False, True):
        ref = lstm_forward(x, lengths, w_ih, w_hh, b, reverse=rev)
        got, _ = lstm_forward_cache(x.astype(np.float64), lengths,
                                    w_ih.astype(np.float64),
                                    w_hh.astype(np.float64),
                                    b.astype(np.float64), reverse=rev)
        np.testing.assert_allclose(got, ref, rtol=1e-4, atol=1e-5)


def test_dropout_grads_consistent():
    """With a fixed rng stream the dropout path still returns grads of
    the right shapes and a finite loss (smoke — fd would need a frozen
    mask)."""
    w = _tiny_weights()
    T = len(iobes_tags())
    rng = np.random.default_rng(5)
    tag_ids = [list(rng.integers(0, T, size=len(s))) for s in _WORDS]
    nll, grads = loss_and_grads(w, _WORDS, _CHARS, _CAPS, tag_ids,
                                dropout=0.5, rng=np.random.default_rng(9))
    assert np.isfinite(nll)
    for k, arr in w.arrays().items():
        assert grads[k].shape == arr.shape, k


def test_adversarial_pert_grads_match_finite_differences():
    """M10 plumbing: with a FIXED char perturbation applied, the
    parameter gradients are still exact (central differences at the
    perturbed point). This is the fd check the perturbed second pass of
    adversarial training relies on."""
    w = _tiny_weights()
    rng = np.random.default_rng(2)
    T = len(iobes_tags())
    tag_ids = [list(rng.integers(0, T, size=len(s))) for s in _WORDS]
    # first pass just to learn the embedded-matrix shape
    _, _, d_e = loss_and_grads(w, _WORDS, _CHARS, _CAPS, tag_ids,
                               want_input_grads=True)
    pert = 0.05 * rng.standard_normal(d_e.shape)

    def loss():
        return loss_and_grads(w, _WORDS, _CHARS, _CAPS, tag_ids,
                              char_pert=pert)[0]

    nll, grads = loss_and_grads(w, _WORDS, _CHARS, _CAPS, tag_ids,
                                char_pert=pert)
    assert np.isfinite(nll)
    eps = 1e-6
    for k in ("char_emb", "cnn_w", "word_emb", "transitions"):
        arr = w.arrays()[k]
        for _ in range(4):
            idx = tuple(rng.integers(0, s) for s in arr.shape)
            orig = arr[idx]
            arr[idx] = orig + eps
            lp = loss()
            arr[idx] = orig - eps
            lm = loss()
            arr[idx] = orig
            fd = (lp - lm) / (2 * eps)
            an = grads[k][idx]
            assert abs(fd - an) <= 1e-4 * max(1.0, abs(fd), abs(an)), \
                (k, idx, fd, an)


def test_adversarial_perturbation_increases_loss():
    """The perturbation direction is gradient ASCENT: for a small alpha
    the adversarial pass must cost at least the clean pass."""
    w = _tiny_weights(seed=4)
    rng = np.random.default_rng(6)
    T = len(iobes_tags())
    tag_ids = [list(rng.integers(0, T, size=len(s))) for s in _WORDS]
    mixed, grads, clean, adv = adversarial_loss_and_grads(
        w, _WORDS, _CHARS, _CAPS, tag_ids, alpha=0.01, ratio=0.5)
    assert adv > clean
    assert clean < mixed < adv
    for k, arr in w.arrays().items():
        assert grads[k].shape == arr.shape, k


def test_adversarial_scale_matches_reference_formula():
    """Per-vector perturbation magnitude = alpha * sqrt(Σ chars * dim)
    (model.py:120), direction = per-vector-normalized gradient."""
    rng = np.random.default_rng(8)
    g = rng.standard_normal((3, 7, 4))
    flat_chars = [[1, 2], [3], [4, 5, 6]]
    alpha = 0.02
    pert = adversarial_char_perturbation(g, flat_chars, alpha)
    want = alpha * np.sqrt(6 * 4)
    np.testing.assert_allclose(
        np.linalg.norm(pert, axis=2), np.full((3, 7), want), rtol=1e-6)
    # direction parallel to g
    cos = (pert * g).sum(axis=2) / (
        np.linalg.norm(pert, axis=2) * np.linalg.norm(g, axis=2))
    np.testing.assert_allclose(cos, np.ones((3, 7)), rtol=1e-6)


def test_adversarial_ratio_zero_is_clean():
    """alpha=0 or ratio=0 short-circuits to the plain loss/grads."""
    w = _tiny_weights(seed=5)
    rng = np.random.default_rng(7)
    T = len(iobes_tags())
    tag_ids = [list(rng.integers(0, T, size=len(s))) for s in _WORDS]
    nll0, g0 = loss_and_grads(w, _WORDS, _CHARS, _CAPS, tag_ids)
    mixed, gm, clean, adv = adversarial_loss_and_grads(
        w, _WORDS, _CHARS, _CAPS, tag_ids, alpha=0.0, ratio=0.5)
    assert mixed == nll0 == clean == adv
    for k, v in g0.items():
        if v is not None:
            np.testing.assert_array_equal(gm[k], v)


@pytest.fixture(scope="module")
def backprop_bundle(spark):
    sents = datagen.adversarial_sentences_dataframe(
        spark, 200, oov_from=150).persist()
    train = sents.filter(F.col("page_idx") < 150)
    test = sents.filter(F.col("page_idx") >= 150)
    from ner_pytorch_spark.operators.vocab import build_vocab, char_vocab

    v, cv = build_vocab(train, min_count=1), char_vocab(train)
    t2i = {r["token"]: r["id"] for r in v.collect()}
    c2i = {r["token"]: r["id"] for r in cv.collect()}
    w0 = TaggerWeights.random_init(
        max(t2i.values()) + 1, max(c2i.values()) + 1,
        num_tags=len(iobes_tags()), word_dim=32, char_dim=8, char_out=12,
        hidden=32, seed=7)
    trained, metrics = train_bilstm_crf(
        train.repartition(4), w0, t2i, c2i,
        epochs=60, lr=0.2, batch_size=8, dropout=0.5)
    return trained, metrics, t2i, c2i, test


def test_backprop_loss_decreases(backprop_bundle):
    _, metrics, *_ = backprop_bundle
    assert metrics[-1]["nll_mean"] < 0.2 * metrics[0]["nll_mean"], metrics


def test_backprop_heldout_f1_gate(spark, backprop_bundle):
    """The genuinely TRAINED encoder (full BiLSTM-CRF backprop, not the
    perceptron head over frozen features) on the adversarial held-out
    block — ambiguity, OOV and adjacency resolved from context/chars.
    Gate ≥ 0.97 (measured 1.0; the perceptron head tops out ~0.92-0.96)."""
    from ner_pytorch_spark.operators.evaluation import chunk_prf
    from ner_pytorch_spark.operators.tagger import tag_sentences

    trained, _, t2i, c2i, test = backprop_bundle
    assert trained.meta.get("trained") is True
    tagged = tag_sentences(test.select("url", "sent_id", "tokens"),
                           mode="neural", weights=trained,
                           vocab=t2i, char_vocab=c2i)
    rows = {r.tag_type: r for r in chunk_prf(tagged.join(
        test.select("url", "sent_id", "gold_tags"),
        on=["url", "sent_id"])).collect()}
    assert rows["OVERALL"].f1 >= 0.97, rows["OVERALL"]


def test_trained_neural_pipeline_meets_triple_gate(spark, tmp_path):
    """The north-rule P/R ≥ 0.95 triple gate met by the TRAINED NEURAL
    path end-to-end: backprop-train the BiLSTM-CRF, round-trip it
    through an npz checkpoint (the spark-submit deployment shape), run
    the full KGPipeline in neural mode — no gazetteer emissions — and
    compare emitted canonical triples to the by-construction gold."""
    from ner_pytorch_spark.operators.vocab import build_vocab, char_vocab
    from ner_pytorch_spark.plans.kg_pipeline import KGPipeline

    sents = datagen.gold_sentences_dataframe(spark, 300)
    v, cv = build_vocab(sents, min_count=1), char_vocab(sents)
    t2i = {r["token"]: r["id"] for r in v.collect()}
    c2i = {r["token"]: r["id"] for r in cv.collect()}
    w0 = TaggerWeights.random_init(
        max(t2i.values()) + 1, max(c2i.values()) + 1,
        num_tags=len(iobes_tags()), word_dim=32, char_dim=8, char_out=12,
        hidden=32, seed=7)
    trained, _ = train_bilstm_crf(sents.repartition(4), w0, t2i, c2i,
                                  epochs=40, lr=0.2, batch_size=8,
                                  dropout=0.5)
    ckpt = str(tmp_path / "trained.npz")
    trained.to_npz(ckpt)
    loaded = TaggerWeights.from_npz(ckpt)

    pages = datagen.pages_dataframe(spark, 150)
    _, gold_m, gold_t = datagen.generate_pages(150)
    pipe = KGPipeline(spark, str(tmp_path / "cat"), datagen.alias_rows(),
                      mode="neural", weights=loaded, vocab=t2i,
                      char_vocab=c2i)
    out = pipe.run(pages)
    got = {(r.url, r.sent_id, r.subj_id, r.pred, r.obj_id)
           for r in out["edges"].collect()}
    want = {(g["url"], g["sent_id"], g["subj_id"], g["pred"], g["obj_id"])
            for g in gold_t}
    tp = len(got & want)
    assert tp / max(len(got), 1) >= 0.95    # precision (measured 1.0)
    assert tp / max(len(want), 1) >= 0.95   # recall (measured 1.0)


def test_adversarial_training_beats_plain_on_oov(spark):
    """M10 robustness gate (mirrors the kg_adv_train driver query): at
    mid-training the adversarially-trained model outscores plain SGD on
    the held-out OOV block. Seeded/deterministic; measured 0.79 vs 0.67."""
    from ner_pytorch_spark.operators.evaluation import chunk_prf
    from ner_pytorch_spark.operators.tagger import tag_sentences
    from ner_pytorch_spark.operators.vocab import build_vocab, char_vocab

    sents = datagen.adversarial_sentences_dataframe(
        spark, 200, oov_from=150).persist()
    train = sents.filter(F.col("page_idx") < 150)
    test = sents.filter(F.col("page_idx") >= 150)
    v, cv = build_vocab(train, min_count=1), char_vocab(train)
    t2i = {r["token"]: r["id"] for r in v.collect()}
    c2i = {r["token"]: r["id"] for r in cv.collect()}

    def f1(alpha, ratio):
        w0 = TaggerWeights.random_init(
            max(t2i.values()) + 1, max(c2i.values()) + 1,
            num_tags=len(iobes_tags()), word_dim=32, char_dim=8,
            char_out=12, hidden=32, seed=7)
        tr, _ = train_bilstm_crf(train.repartition(4), w0, t2i, c2i,
                                 epochs=25, lr=0.2, batch_size=8,
                                 dropout=0.5, adv_alpha=alpha,
                                 adv_ratio=ratio)
        tagged = tag_sentences(test.select("url", "sent_id", "tokens"),
                               mode="neural", weights=tr,
                               vocab=t2i, char_vocab=c2i)
        rows = {r.tag_type: r for r in chunk_prf(tagged.join(
            test.select("url", "sent_id", "gold_tags"),
            on=["url", "sent_id"])).collect()}
        return rows["OVERALL"].f1

    plain, adv = f1(0.0, 0.0), f1(0.05, 0.5)
    sents.unpersist()
    assert adv > plain, (adv, plain)


def test_backprop_checkpoint_roundtrip(tmp_path, backprop_bundle):
    trained, *_ = backprop_bundle
    p = str(tmp_path / "bp.npz")
    trained.to_npz(p)
    loaded = TaggerWeights.from_npz(p)
    assert loaded.meta.get("trained") is True
    np.testing.assert_array_equal(loaded.proj_w, trained.proj_w)
    np.testing.assert_array_equal(loaded.lstm_fw[0], trained.lstm_fw[0])


@pytest.fixture(scope="module")
def tiny_train(spark):
    from ner_pytorch_spark.operators.vocab import build_vocab, char_vocab

    sents = datagen.adversarial_sentences_dataframe(
        spark, 60, oov_from=40).persist()
    train = sents.filter(F.col("page_idx") < 40)
    dev = sents.filter(F.col("page_idx") >= 40)
    v, cv = build_vocab(train, min_count=1), char_vocab(train)
    t2i = {r["token"]: r["id"] for r in v.collect()}
    c2i = {r["token"]: r["id"] for r in cv.collect()}
    w0 = TaggerWeights.random_init(
        max(t2i.values()) + 1, max(c2i.values()) + 1,
        num_tags=len(iobes_tags()), word_dim=16, char_dim=6, char_out=8,
        hidden=16, seed=11)
    return train, dev, t2i, c2i, w0


def test_trainer_parity_knobs(tiny_train):
    """Reference trainer knobs (train.py:168-169 momentum 0.9,
    train.py:525 lr decay): the decayed lr schedule is recorded per
    epoch, dev NLL is monitored, and momentum still learns."""
    train, dev, t2i, c2i, w0 = tiny_train
    trained, metrics = train_bilstm_crf(
        train.repartition(2), w0, t2i, c2i, epochs=4, lr=0.2,
        batch_size=8, dropout=0.0, momentum=0.9, lr_decay=0.5, dev=dev)
    assert [m["lr"] for m in metrics] == [
        pytest.approx(0.2 / (1 + 0.5 * e)) for e in range(4)]
    assert all("dev_nll" in m for m in metrics)
    assert metrics[-1]["nll_mean"] < metrics[0]["nll_mean"]
    assert trained.meta.get("trained") is True


def test_mean_dev_nll_matches_driver_and_loss_scorer(spark, tiny_train):
    """The early-stop monitor's value is the mean per-sentence CRF NLL:
    equal to a driver-side forward_score − path_score mean over the
    collected dev set, and crf_nll_scores' per-row losses equal the
    driver-side ones (3 partitions of 8-row Arrow batches, so every
    batch of every partition must count; only float rounding may
    differ)."""
    from ner_pytorch_spark.operators.advgen import crf_nll_scores
    from ner_pytorch_spark.operators.backprop import _mean_dev_nll
    from ner_pytorch_spark.operators.crf import forward_score, path_score
    from ner_pytorch_spark.operators.encoder import neural_emissions
    from ner_pytorch_spark.operators.tagger import featurize_sentence

    _, dev, t2i, c2i, w0 = tiny_train
    w = w0.astype(np.float64)            # the trainer's dtype
    tag_ids = {t: i for i, t in enumerate(iobes_tags())}
    unk = t2i.get("<UNK>", 0)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        got = _mean_dev_nll(dev.repartition(3), w, t2i, c2i, unk, tag_ids)
        scored = {(r.url, r.sent_id): r.loss for r in crf_nll_scores(
            dev, w, t2i, c2i, tokens_col="tokens", tags_col="gold_tags"
        ).collect()}
    finally:
        spark.conf.set(key, old)

    rows = dev.select("url", "sent_id", "tokens", "gold_tags").collect()
    feats = [featurize_sentence(r.tokens, t2i, c2i, unk) for r in rows]
    em, lens = neural_emissions(w, [f[0] for f in feats],
                                [f[1] for f in feats], [f[2] for f in feats])
    gold = np.zeros(em.shape[:2], dtype=np.int64)
    for b, r in enumerate(rows):
        gold[b, :len(r.gold_tags)] = [tag_ids[t] for t in r.gold_tags]
    want = (forward_score(em, lens, w.transitions)
            - path_score(em, gold, lens, w.transitions))
    assert got > 0
    assert got == pytest.approx(float(want.mean()), rel=1e-5)
    assert len(scored) == len(rows)
    np.testing.assert_allclose(
        [scored[(r.url, r.sent_id)] for r in rows], want, rtol=1e-5)


def test_early_stopping_restores_best(tiny_train, monkeypatch):
    """pytorchtools.py:34-50 semantics: patience epochs without dev
    improvement stop training; the returned weights are the best-dev
    checkpoint (meta records its epoch)."""
    import ner_pytorch_spark.operators.backprop as bp

    train, dev, t2i, c2i, w0 = tiny_train
    seq = iter([5.0, 1.0, 2.0, 3.0, 4.0])
    monkeypatch.setattr(bp, "_mean_dev_nll", lambda *a, **k: next(seq))
    trained, metrics = bp.train_bilstm_crf(
        train.repartition(2), w0, t2i, c2i, epochs=10, lr=0.1,
        batch_size=8, dev=dev, patience=2)
    assert len(metrics) == 4          # stopped at epoch 3 (stale == 2)
    assert [m["dev_nll"] for m in metrics] == [5.0, 1.0, 2.0, 3.0]
    assert trained.meta["best_epoch"] == 1
