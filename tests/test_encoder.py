"""Numpy encoder forward: masking, OOV-drop guards, neural tagger e2e."""

import numpy as np
import pytest

from ner_pytorch_spark.operators.encoder import (TaggerWeights, char_bilstm,
                                                 char_cnn, lstm_forward,
                                                 neural_emissions)
from ner_pytorch_spark.operators.tagset import iobes_tags


def _lstm_params(rng, in_dim, h):
    return (rng.normal(size=(4 * h, in_dim)), rng.normal(size=(4 * h, h)),
            rng.normal(size=4 * h))


def test_lstm_padding_invariance():
    """Extra padding positions must not change real timesteps' output."""
    rng = np.random.default_rng(0)
    p = _lstm_params(rng, 3, 5)
    x_short = rng.normal(size=(1, 4, 3))
    x_long = np.concatenate([x_short, rng.normal(size=(1, 3, 3))], axis=1)
    lens = np.array([4])
    h1 = lstm_forward(x_short, lens, *p)
    h2 = lstm_forward(x_long, lens, *p)
    np.testing.assert_allclose(h1[:, :4], h2[:, :4], atol=1e-12)
    assert np.all(h2[:, 4:] == 0.0)


def test_lstm_reverse_padding_invariance():
    rng = np.random.default_rng(2)
    p = _lstm_params(rng, 3, 5)
    x = rng.normal(size=(2, 6, 3))
    lens = np.array([6, 3])
    h = lstm_forward(x, lens, *p, reverse=True)
    # sequence 2's positions 3..5 are padding → zero
    assert np.all(h[1, 3:] == 0.0)
    # reverse pass of seq 2 == standalone reverse over its 3 real steps
    h_solo = lstm_forward(x[1:2, :3], np.array([3]), *p, reverse=True)
    np.testing.assert_allclose(h[1, :3], h_solo[0], atol=1e-12)


def test_char_cnn_empty_word_guard():
    """Words whose chars were all OOV-dropped yield zero vectors
    (SURVEY §7 explicit length-0 guard)."""
    rng = np.random.default_rng(1)
    emb = rng.normal(size=(10, 4))
    w = rng.normal(size=(6, 3, 4))
    b = rng.normal(size=6)
    reps = char_cnn([[1, 2, 3], [], [5]], emb, w, b)
    assert reps.shape == (3, 6)
    assert np.all(reps[1] == 0.0)
    assert np.any(reps[0] != 0.0)


def test_char_bilstm_empty_word_guard():
    rng = np.random.default_rng(4)
    emb = rng.normal(size=(10, 4))
    fw = _lstm_params(rng, 4, 3)
    bw = _lstm_params(rng, 4, 3)
    reps = char_bilstm([[], [1, 2]], emb, fw, bw)
    assert reps.shape == (2, 6)
    assert np.all(reps[0] == 0.0)


def test_neural_emissions_shapes_and_decode():
    tags = iobes_tags()
    w = TaggerWeights.random_init(
        vocab_size=50, char_vocab_size=20, num_tags=len(tags), seed=3)
    word_ids = [[1, 2, 3], [4, 5]]
    char_ids = [[[1], [2, 3], []], [[4], [5, 6]]]
    caps = [[0, 2, 1], [0, 0]]
    em, lens = neural_emissions(w, word_ids, char_ids, caps)
    assert em.shape == (2, 3, len(tags))
    assert list(lens) == [3, 2]
    # deterministic: same inputs → identical emissions
    em2, _ = neural_emissions(w, word_ids, char_ids, caps)
    np.testing.assert_array_equal(em, em2)
    # a batch with no words at all still has the full input width
    em0, lens0 = neural_emissions(w, [[]], [[]], [[]])
    assert em0.shape == (1, 1, len(tags)) and list(lens0) == [0]


def test_neural_tagger_spark_e2e(spark):
    """Neural mode produces IOBES-grammar-valid tags on real sentences."""
    from ner_pytorch_spark import datagen
    from ner_pytorch_spark.operators.tagger import sentences_table, tag_sentences
    from ner_pytorch_spark.functions.tagscheme import iobes_iob  # validity check

    pages = datagen.pages_dataframe(spark, 20)
    sents = sentences_table(pages)
    tags = iobes_tags()
    w = TaggerWeights.random_init(
        vocab_size=101, char_vocab_size=40, num_tags=len(tags), seed=9)
    vocab = {f"w{i}": i for i in range(100)}
    vocab["<UNK>"] = 100
    chars = {c: i for i, c in enumerate("abcdefghijklmnopqrstuvwxyz .,0'-ABCDE")}
    out = tag_sentences(sents, mode="neural", weights=w, vocab=vocab,
                        char_vocab=chars).collect()
    assert len(out) == sents.count()
    for r in out:
        assert len(r.pred_tags) == len(r.tokens)
        iobes_iob(list(r.pred_tags))  # raises if grammar-invalid


@pytest.mark.parametrize("char_mode,cap_dim", [
    ("CNN", 4), ("CNN", 0), ("LSTM", 4), ("LSTM", 0)],
    ids=["CNN-4", "CNN-0", "LSTM-4", "LSTM-0"])
def test_weights_npz_roundtrip(tmp_path, char_mode, cap_dim):
    """Every weight array — the char-LSTM triples and a missing cap
    embedding included — survives to_npz/from_npz bit for bit."""
    tags = iobes_tags()
    w = TaggerWeights.random_init(30, 10, len(tags), cap_dim=cap_dim,
                                  char_mode=char_mode, seed=5)
    p = str(tmp_path / "w.npz")
    w.to_npz(p)
    w2 = TaggerWeights.from_npz(p)
    assert w2.char_mode == char_mode
    assert (w2.cap_emb is None) == (cap_dim == 0)
    assert (w2.char_lstm_fw is None) == (char_mode == "CNN")
    assert (w2.cnn_w is None) == (char_mode == "LSTM")
    a1, a2 = w.arrays(), w2.arrays()
    assert list(a1) == list(a2)
    for k, a in a1.items():
        assert a2[k].dtype == a.dtype, k
        np.testing.assert_array_equal(a2[k], a, err_msg=k)
    em1, _ = neural_emissions(w, [[1, 2]], [[[1], [2]]], [[0, 1]])
    em2, _ = neural_emissions(w2, [[1, 2]], [[[1], [2]]], [[0, 1]])
    np.testing.assert_array_equal(em1, em2)
    # the trained flag round-trips: an UNTRAINED bundle must come back
    # untrained (same weights, same decode behavior across save/load)
    assert w2.meta.get("trained") is False
    w.meta["trained"] = True
    w.to_npz(p)
    assert TaggerWeights.from_npz(p).meta.get("trained") is True


def test_checkpoint_decode_parity(spark, tmp_path):
    """Checkpoint-loaded weights decode with LEARNED transitions only
    (reference crf.py:91-135); the IOBES grammar prior defaults on only
    for random-init weights and is explicitly overridable either way."""
    from ner_pytorch_spark import datagen
    from ner_pytorch_spark.operators.crf import viterbi_decode
    from ner_pytorch_spark.operators.tagger import (featurize_sentence,
                                                    sentences_table,
                                                    tag_sentences)

    pages = datagen.pages_dataframe(spark, 8)
    sents = sentences_table(pages)
    tags = iobes_tags()
    w = TaggerWeights.random_init(
        vocab_size=101, char_vocab_size=40, num_tags=len(tags), seed=11)
    w.meta["trained"] = True  # a real checkpoint carries the flag
    p = str(tmp_path / "ckpt.npz")
    w.to_npz(p)
    loaded = TaggerWeights.from_npz(p)
    assert loaded.meta.get("trained") is True
    vocab = {f"w{i}": i for i in range(100)}
    vocab["<UNK>"] = 100
    chars = {c: i for i, c in enumerate("abcdefghijklmnopqrstuvwxyz .,0'-ABCDE")}

    def decode_df(df):
        return {(r.url, r.sent_id): tuple(r.pred_tags) for r in df.collect()}

    got = decode_df(tag_sentences(sents, mode="neural", weights=loaded,
                                  vocab=vocab, char_vocab=chars))
    # driver-side expected decode: learned transitions ALONE
    expect = {}
    for r in sents.collect():
        wi, ci, caps = featurize_sentence(list(r.tokens), vocab, chars, 100)
        em, lens = neural_emissions(loaded, [wi], [ci], [caps])
        path = viterbi_decode(em, lens, loaded.transitions)[0]
        expect[(r.url, r.sent_id)] = tuple(tags[i] for i in path)
    assert got == expect

    # prior forced ON for loaded weights == default decode of the
    # UNTRAINED original (which adds the prior)
    got_prior = decode_df(tag_sentences(sents, mode="neural", weights=loaded,
                                        vocab=vocab, char_vocab=chars,
                                        grammar_prior=True))
    # identical weights, UNTRAINED meta (same seed re-init): the prior
    # defaults ON for these — w itself was flagged trained above
    w_untrained = TaggerWeights.random_init(
        vocab_size=101, char_vocab_size=40, num_tags=len(tags), seed=11)
    got_untrained = decode_df(tag_sentences(sents, mode="neural",
                                            weights=w_untrained,
                                            vocab=vocab, char_vocab=chars))
    assert got_prior == got_untrained
    # and the prior genuinely changes SOME decode on random weights
    # (otherwise this test is vacuous)
    assert got != got_prior


def test_char_lstm_mode_spark_e2e(spark):
    """M3: char-BiLSTM mode through the Spark tagger (CNN is default)."""
    from ner_pytorch_spark import datagen
    from ner_pytorch_spark.functions.tagscheme import iobes_iob
    from ner_pytorch_spark.operators.tagger import sentences_table, tag_sentences

    pages = datagen.pages_dataframe(spark, 10)
    sents = sentences_table(pages)
    w = TaggerWeights.random_init(
        vocab_size=60, char_vocab_size=40, num_tags=len(iobes_tags()),
        char_mode="LSTM", seed=21)
    vocab = {f"w{i}": i for i in range(59)}
    vocab["<UNK>"] = 59
    chars = {c: i for i, c in enumerate("abcdefghijklmnopqrstuvwxyz .,0'-ABCDE")}
    out = tag_sentences(sents, mode="neural", weights=w, vocab=vocab,
                        char_vocab=chars).collect()
    assert len(out) == sents.count()
    for r in out:
        iobes_iob(list(r.pred_tags))


def test_weights_npz_embedded_vocab_roundtrip(tmp_path):
    """S6: vocab maps round-trip INSIDE the npz (compressed blob — no
    plaintext token-list sibling file), and a blob-less npz raises."""
    import pytest

    w = TaggerWeights.random_init(
        vocab_size=7, char_vocab_size=5, num_tags=len(iobes_tags()))
    vocabs = {"word": {"<PAD>": 0, "<UNK>": 1, "alpha": 2},
              "char": {"a": 0, "b": 1}}
    p = str(tmp_path / "w.npz")
    w.to_npz(p, vocabs=vocabs)
    assert TaggerWeights.vocabs_from_npz(p) == vocabs
    # the token list must not sit in the archive as plaintext
    with open(p, "rb") as fh:
        assert b"alpha" not in fh.read()
    p2 = str(tmp_path / "noblob.npz")
    w.to_npz(p2)
    with pytest.raises(KeyError):
        TaggerWeights.vocabs_from_npz(p2)
