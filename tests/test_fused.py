"""The fused single-crossing hot path must be semantically identical to
the staged path (tag_sentences → mentions_table / sentence_local_triples)."""

import pytest

from ner_pytorch_spark import datagen
from ner_pytorch_spark.operators.spans import mentions_table
from ner_pytorch_spark.operators.tagger import (fused_mentions, fused_triples,
                                                pages_to_mention_pairs,
                                                sentences_table, tag_sentences)
from ner_pytorch_spark.operators.triples import sentence_local_triples


@pytest.fixture(scope="module")
def corpus(spark):
    pages = datagen.pages_dataframe(spark, 120)
    aliases = datagen.alias_rows()
    tagged = tag_sentences(sentences_table(pages), mode="gazetteer",
                           aliases=aliases).persist()
    fused = pages_to_mention_pairs(pages, aliases).persist()
    return pages, aliases, tagged, fused


def test_fused_mentions_match_staged(spark, corpus):
    _, _, tagged, fused = corpus
    a = sorted(map(tuple, mentions_table(tagged).collect()))
    b = sorted(map(tuple, fused_mentions(fused).collect()))
    assert a == b


def test_fused_matches_staged_on_unicode_whitespace(spark):
    """One tokenization contract: JVM \\s+ is ASCII-only, so the fused
    python path must NOT split on U+00A0/U+2009 (str.split() would) —
    'spark\\u00a0flink' is ONE token on both paths."""
    aliases = datagen.alias_rows()
    pages = spark.createDataFrame(
        [("https://ex.org/a", None, bytearray(b""),
          "Acme Corp acquired Initech .\nspark flink trino duckdb .",
          "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    tagged = tag_sentences(sentences_table(pages), mode="gazetteer",
                           aliases=aliases)
    fused = pages_to_mention_pairs(pages, aliases)
    a = sorted(map(tuple, mentions_table(tagged).collect()))
    b = sorted(map(tuple, fused_mentions(fused).collect()))
    assert a == b
    toks = tagged.filter("sent_id = 1").select("tokens").first()[0]
    assert toks == ["spark flink", "trino duckdb", "."]


def test_fused_triples_match_staged(spark, corpus):
    _, _, tagged, fused = corpus
    lex = datagen.PREDICATE_LEXICON
    a = sorted(map(tuple, sentence_local_triples(tagged, lex).collect()))
    b = sorted(map(tuple, fused_triples(fused, lex).collect()))
    assert a == b


def test_cooccurrence_fallback(spark, corpus):
    _, _, tagged, fused = corpus
    lex = datagen.PREDICATE_LEXICON
    a = sorted(map(tuple, sentence_local_triples(
        tagged, lex, cooccurrence_window=6).collect()))
    b = sorted(map(tuple, fused_triples(
        fused, lex, cooccurrence_window=6).collect()))
    assert a == b
    # fallback never drops pattern triples (template corpus: every pair
    # matches a pattern, so counts are equal here)
    assert len(a) >= sentence_local_triples(tagged, lex).count()

def test_fused_neural_matches_staged_neural(spark, corpus):
    """Fused neural mode == tag_sentences neural + staged mentions."""
    from ner_pytorch_spark.operators.encoder import TaggerWeights
    from ner_pytorch_spark.operators.tagset import iobes_tags

    pages, _, _, _ = corpus
    w = TaggerWeights.random_init(150, 50, len(iobes_tags()), seed=8)
    vocab = {f"w{i}": i for i in range(149)}
    vocab["<UNK>"] = 149
    chars = {c: i for i, c in enumerate("abcdefghijklmnopqrstuvwxyz .'-ABCDE")}
    fusedn = pages_to_mention_pairs(
        pages, mode="neural", weights=w, vocab=vocab, char_vocab=chars)
    stagedn = tag_sentences(sentences_table(pages), mode="neural",
                            weights=w, vocab=vocab, char_vocab=chars)
    a = sorted(map(tuple, fused_mentions(fusedn).collect()))
    b = sorted(map(tuple, mentions_table(stagedn).collect()))
    assert a == b


def test_gazetteer_decode_empty_tokens():
    """Public-precondition guard: empty token lists decode to []."""
    from ner_pytorch_spark.operators.tagger import (build_surface_index,
                                                    gazetteer_decode)
    from ner_pytorch_spark.operators.tagset import (grammar_transitions,
                                                    tag_to_id)

    sidx = build_surface_index(datagen.alias_rows())
    tids = tag_to_id()
    trans = grammar_transitions()
    assert gazetteer_decode([[], ["Acme", "Corp"]], sidx, tids, trans)[0] == []


def test_gazetteer_decode_matches_viterbi_and_falls_back():
    """The DP-free gazetteer decode == viterbi_decode on real matcher
    output, and an artificially INVALID candidate takes the Viterbi
    fallback (both compared against the DP ground truth)."""
    import numpy as np

    from ner_pytorch_spark.operators.crf import viterbi_decode
    from ner_pytorch_spark.operators.tagger import (MATCH_SCORE,
                                                    build_surface_index,
                                                    gazetteer_decode,
                                                    gazetteer_tag_ids)
    from ner_pytorch_spark.operators.tagset import (grammar_transitions,
                                                    iobes_tags, tag_to_id)

    tags = iobes_tags()
    tids = tag_to_id()
    trans = grammar_transitions()
    T = len(tags)
    aliases = datagen.alias_rows()
    sidx = build_surface_index(aliases)
    rows, _, _ = datagen.generate_pages(60, seed=11)
    tok_lists = [ln.split() for r in rows for ln in r["text"].split("\n")
                 if ln.split()]
    assert len(tok_lists) > 100

    fast = gazetteer_decode(tok_lists, sidx, tids, trans)
    lens = np.array([len(t) for t in tok_lists])
    L = int(lens.max())
    em = np.zeros((len(tok_lists), L, T), dtype=np.float32)
    n_matched = 0
    for b, toks in enumerate(tok_lists):
        g = gazetteer_tag_ids(toks, sidx, tids)
        em[b, np.arange(len(g)), g] = MATCH_SCORE
        n_matched += sum(1 for i in g if i != tids["O"])
    assert n_matched > 50  # the corpus genuinely exercises matches
    assert fast == viterbi_decode(em, lens, trans)

    # invalid candidate (I-PER with no opener) → fallback path: feed a
    # matcher that emits it directly and check the DP repairs it the
    # same way viterbi_decode does on the equivalent emissions
    bad = [tids["I-PER"], tids["I-PER"], tids["O"]]

    class _BadIndex(dict):
        def get(self, key):  # every first token "matches" invalidly
            return None

    import ner_pytorch_spark.operators.tagger as tg
    orig = tg.gazetteer_tag_ids
    try:
        tg.gazetteer_tag_ids = lambda toks, s, t: bad[:len(toks)]
        out = gazetteer_decode([["a", "b", "c"]], _BadIndex(), tids, trans)
    finally:
        tg.gazetteer_tag_ids = orig
    em2 = np.zeros((1, 3, T), dtype=np.float32)
    em2[0, np.arange(3), bad] = MATCH_SCORE
    assert out == viterbi_decode(em2, np.array([3]), trans)


def test_decode_memo_overflow_matches_unmemoized(monkeypatch):
    """With the memo full, new sentences are still decoded correctly
    (served from the batch, not retained) and the memo never grows past
    its cap."""
    import ner_pytorch_spark.operators.tagger as tg

    monkeypatch.setattr(tg, "_MEMO_CAP", 1)
    v = tg._tagger_payload("gazetteer", tg.ENTITY_TYPES,
                           datagen.alias_rows(), None, None, None, None)

    def build(uniq):
        return [[v["tags"][i] for i in p] for p in tg._decode(uniq, v)]

    a, b, c = ("Acme", "Corp", "acquired", "Initech"), ("x", "y"), ("Initech",)
    memo: dict = {}
    for batch in ([a, a, b], [b, c, a, c], [c, b]):
        assert tg._memoized(memo, batch, build) == build(batch)
        assert len(memo) <= 1
    assert list(memo) == [a]


def test_line_tokenizer_matches_jvm_tokenize_ws(spark):
    """The fused path's per-line tokenizer == the JVM tokenize_ws on
    lines where str.split() and Java \\s disagree (\\x1c-\\x1f, NBSP,
    U+2003) or where the line holds no tokens at all."""
    from pyspark.sql import functions as F

    from ner_pytorch_spark.functions.textnorm import tokenize_ws
    from ner_pytorch_spark.operators.tagger import _line_tokens

    lines = ["a\tb", " a\x0bb\x0c c\r", "a\x1cb", "x\x1d y\x1e\x1fz", "\x1c",
             "Acme\u00a0Corp acquired", "a\u2003b", "café  bar",
             " \t\x0b\x0c\r ", "", "\u00a0", "Acme Corp ."]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(lines)],
                               "i int, line string")
    jvm = [r[0] for r in df.orderBy("i")
           .select(tokenize_ws(F.col("line"))).collect()]
    assert [_line_tokens(s) for s in lines] == jvm


def test_fused_stage_sized_by_input_bytes(spark):
    """A small 12-partition input runs the fused UDF in
    defaultParallelism tasks; with a 1k advisory partition size the
    same input is large enough to keep its 12. Outputs are equal."""
    from collections import Counter

    aliases = datagen.alias_rows()
    pages = datagen.pages_dataframe(spark, 120, distributed=True,
                                    partitions=12).persist()
    pages.count()
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    try:
        small = pages_to_mention_pairs(pages, aliases)
        assert (small.rdd.getNumPartitions()
                == spark.sparkContext.defaultParallelism < 12)
        spark.conf.set(key, "1k")
        fine = pages_to_mention_pairs(pages, aliases)
        assert fine.rdd.getNumPartitions() == 12
        got = Counter(map(tuple, fine.collect()))
    finally:
        spark.conf.unset(key)
    assert got == Counter(map(tuple, small.collect())) and got
    pages.unpersist()


def test_stage_sizing_leaves_large_or_unknown_inputs(spark):
    """Inputs estimated at or above cores × advisory size keep their
    upstream partitions — also when size / advisory is below that count
    (scan splits are never merged) — as does an RDD-backed frame of
    unknown size (Long.MaxValue); tag_sentences keeps its input's."""
    from ner_pytorch_spark.session import arrow_stage_input

    dp = spark.sparkContext.defaultParallelism
    pages = datagen.pages_dataframe(spark, 120, distributed=True,
                                    partitions=dp * 3).persist()
    pages.count()
    size = int(pages._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    try:
        spark.conf.set(key, str(size // (dp * 2)))
        assert arrow_stage_input(pages).rdd.getNumPartitions() == dp * 3
    finally:
        spark.conf.unset(key)
    pages.unpersist()
    df = spark.sparkContext.parallelize(
        [(i, str(i)) for i in range(64)], dp * 2).toDF(["id", "s"])
    assert arrow_stage_input(df).rdd.getNumPartitions() == dp * 2
    sents = sentences_table(datagen.pages_dataframe(
        spark, 40, distributed=True, partitions=dp * 2))
    tagged = tag_sentences(sents, mode="gazetteer",
                           aliases=datagen.alias_rows())
    assert tagged.rdd.getNumPartitions() == sents.rdd.getNumPartitions()


def test_fused_memo_overflow_matches_default_cap(monkeypatch):
    """Fused twin of the memo-overflow test: with the line memo capped at
    one entry and batches of 4 pages (repeated lines span batches), the
    fused UDF body emits exactly what it emits under the default cap."""
    import pyarrow as pa

    import ner_pytorch_spark.operators.tagger as tg

    pages, _, _ = datagen.generate_pages(40)
    table = pa.table({"url": [p["url"] for p in pages],
                      "text": [p["text"] for p in pages]})
    batches = table.to_batches(max_chunksize=4)
    seen = [set(b.column("text").to_pylist()[0].split("\n"))
            for b in batches]
    assert any(seen[0] & s for s in seen[1:])
    v = tg._tagger_payload("gazetteer", tg.ENTITY_TYPES,
                           datagen.alias_rows(), None, None, None, None)

    def fused():
        out = pa.Table.from_batches(list(tg._fused_batches(iter(batches), v)))
        return out.to_pylist()

    want = fused()
    monkeypatch.setattr(tg, "_MEMO_CAP", 1)
    assert fused() == want and want
