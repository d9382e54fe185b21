"""File-format scans: CoNLL sentences, GloVe vectors, PPDB edges."""

import pytest


def test_conll_scan(spark, tmp_path):
    from ner_pytorch_spark.sources.conll import load_sentences

    p = tmp_path / "corpus.txt"
    p.write_text(
        "-DOCSTART- -X- O O\n"
        "\n"
        "EU NNP I-NP I-ORG\n"
        "rejects VBZ I-VP O\n"
        "German JJ I-NP I-MISC\n"
        "call NN I-NP O\n"
        "\n"
        "Peter NNP I-NP I-PER\n"
        "Blackburn NNP I-NP I-PER\n"
        "\n"
        "year 1984 was I-MISC\n")
    out = load_sentences(spark, str(p), zeros=True).orderBy("sent_id").collect()
    assert len(out) == 3
    assert out[0].tokens == ["EU", "rejects", "German", "call"]
    assert out[0].tags == ["I-ORG", "O", "I-MISC", "O"]
    assert out[1].tokens == ["Peter", "Blackburn"]
    # digit fold applies to words, not tags
    assert out[2].tokens == ["year"] or out[2].tokens[0] == "year"


def test_glove_scan_and_augment(spark, tmp_path):
    from ner_pytorch_spark.sources.glove import (augment_with_pretrained,
                                                 embedding_matrix_rows,
                                                 load_glove, pretrained_vocab)

    dim = 3
    p = tmp_path / "glove.txt"
    p.write_text(
        "the 0.1 0.2 0.3\n"
        "cat 0.4 0.5 0.6\n"
        "malformed 0.1 0.2\n"          # ≠ dim+1 fields → dropped
        "paris 0.7 0.8 0.9\n")
    g = load_glove(spark, str(p), dim=dim)
    assert g.count() == 3
    pre = pretrained_vocab(g)

    vocab = spark.createDataFrame([("the",), ("dog",)], "token string")
    words = spark.createDataFrame([("Paris",), ("cat9",), ("unknown",)], "token string")
    aug = {r.token for r in augment_with_pretrained(vocab, pre, words).collect()}
    assert "Paris" in aug        # lowercase fallback matches 'paris'
    assert "unknown" not in aug
    assert {"the", "dog"} <= aug

    mat = {r.token: r.vector for r in embedding_matrix_rows(vocab, g).collect()}
    assert mat["the"] == [0.1, 0.2, 0.3]
    assert mat["dog"] is None    # random-init deferred to weight load


def test_ppdb_scan_and_lookup(spark, tmp_path):
    from ner_pytorch_spark.sources.ppdb import load_ppdb, paraphrase_ngram_lookup

    p = tmp_path / "ppdb.txt"
    p.write_text(
        "[X] ||| big ||| large ||| f ||| e ||| a ||| Equivalence\n"
        "[X] ||| tiny home ||| small house ||| f ||| e ||| a ||| Equivalence\n"
        "[X] ||| good ||| bad ||| f ||| e ||| a ||| Exclusion\n")
    edges = load_ppdb(spark, str(p))
    pairs = {(r.phrase, r.paraphrase) for r in edges.collect()}
    assert ("big", "large") in pairs and ("large", "big") in pairs  # bidirectional
    assert ("good", "bad") not in pairs                             # relation filter

    sents = spark.createDataFrame(
        [("u", 0, ["a", "tiny", "home", "is", "big"])],
        "url string, sent_id int, tokens array<string>")
    hits = paraphrase_ngram_lookup(sents, edges, max_n=2).collect()
    by_phrase = {r.phrase: r for r in hits}
    assert by_phrase["tiny home"].paraphrase == "small house"
    assert by_phrase["tiny home"].n == 2      # bigram beats unigram at its start
    assert by_phrase["big"].paraphrase == "large"

    # regression: sentences SHORTER than max_n used to crash the job
    # (sequence(0, size-n) descends to [0, -1] when size < n and the
    # transform evaluates slice(start=0) → SparkRuntimeException); they
    # must instead contribute only their shorter n-grams.
    short = spark.createDataFrame(
        [("u", 1, ["big"]), ("u", 2, [])],
        "url string, sent_id int, tokens array<string>")
    short_hits = paraphrase_ngram_lookup(short, edges, max_n=2).collect()
    assert [(r.sent_id, r.phrase, r.paraphrase) for r in short_hits] == [
        (1, "big", "large")]


def test_ppdb_stem_filter_drops_inflectional_pairs(spark, tmp_path):
    """The reference's Snowball prefilter (ppdb.py:20,67): pairs whose
    whole-phrase stems are equal are inflectional variants, not
    paraphrases — dropped when stem_filter=True, kept when False."""
    from ner_pytorch_spark.sources.ppdb import load_ppdb

    p = tmp_path / "ppdb2.txt"
    p.write_text(
        "[X] ||| running ||| runs ||| f ||| e ||| a ||| Equivalence\n"
        "[X] ||| connection ||| connected ||| f ||| e ||| a ||| Equivalence\n"
        "[X] ||| big ||| large ||| f ||| e ||| a ||| Equivalence\n"
        "[X] ||| hash join ||| hash joins ||| f ||| e ||| a ||| Equivalence\n"
        "[X] ||| hash join ||| merge join ||| f ||| e ||| a ||| Equivalence\n")
    plain = {(r.phrase, r.paraphrase)
             for r in load_ppdb(spark, str(p)).collect()}
    assert ("running", "runs") in plain and ("hash join", "hash joins") in plain

    filtered = {(r.phrase, r.paraphrase)
                for r in load_ppdb(spark, str(p), stem_filter=True).collect()}
    # run/run, connect/connect, join/join stems collapse → dropped
    assert ("running", "runs") not in filtered
    assert ("connection", "connected") not in filtered
    assert ("hash join", "hash joins") not in filtered
    # genuine paraphrases survive (both directions)
    assert ("big", "large") in filtered and ("large", "big") in filtered
    assert ("hash join", "merge join") in filtered


def test_word2vec_source_and_vocab_extension(spark):
    """S2-without-GloVe: MLlib skip-gram vectors in the GloVe table
    shape, normalized like build_vocab; J1 id-extension keeps base ids
    stable and appends extras by token order with freq 0."""
    from ner_pytorch_spark.operators.vocab import build_vocab
    from ner_pytorch_spark.sources.word2vec import (extend_vocab_ids,
                                                    train_word2vec)

    rows = [(["The", "cat", "sat", "on", "the", "mat"],),
            (["The", "dog", "sat", "on", "the", "mat"],),
            (["A", "cat", "and", "a", "dog", "met", "in", "1999"],)] * 10
    df = spark.createDataFrame(rows, "tokens array<string>")
    vec = train_word2vec(df, dim=16, min_count=2, iters=2).persist()
    got = {r.token: r.vector for r in vec.collect()}
    assert "cat" in got and len(got["cat"]) == 16
    assert "the" in got and "The" not in got         # lowercased
    assert "0000" in got and "1999" not in got       # digit-folded
    # the produced VOCABULARY is deterministic (vector values are not —
    # MLlib averages per-partition models whose thread interleaving
    # varies run to run; the artifact checkpoint freezes one draw)
    vec2 = train_word2vec(df, dim=16, min_count=2, iters=2)
    got2 = {r.token: r.vector for r in vec2.collect()}
    assert set(got) == set(got2)

    v = build_vocab(df, min_count=3)
    base = {r.token: (r.id, r.freq) for r in v.collect()}
    extra = spark.createDataFrame(
        [("zebra",), ("cat",), ("<UNK>",)], "token string")
    v2 = extend_vocab_ids(v, extra)
    ext = {r.token: (r.id, r.freq) for r in v2.collect()}
    for t, pair in base.items():
        assert ext[t] == pair                        # base ids stable
    assert ext["zebra"] == (max(i for i, _ in base.values()) + 1, 0)
    assert len(ext) == len(base) + 1                 # cat+UNK not re-added
    vec.unpersist()


def test_extend_vocab_ids_empty_base(spark):
    """J1 edge: on an EMPTY base vocab the appended ids start at 0 (the
    previous `or 0` fallback started them at 1, wasting id 0)."""
    from ner_pytorch_spark.sources.word2vec import extend_vocab_ids

    empty = spark.createDataFrame([], "token string, id long, freq long")
    extra = spark.createDataFrame([("b",), ("a",)], ["token"])
    out = {r["token"]: r["id"] for r in extend_vocab_ids(empty, extra).collect()}
    assert out == {"a": 0, "b": 1}
