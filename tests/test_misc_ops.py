"""O1 length batching, C5 tag-run merge, M9 argmax decode, and the
per-partition round every distributed trainer runs."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_repartition_by_length(spark):
    from ner_pytorch_spark import datagen
    from ner_pytorch_spark.operators.tagger import (repartition_by_length,
                                                    sentences_table)

    sents = sentences_table(datagen.pages_dataframe(spark, 40))
    out = repartition_by_length(sents, partitions=4)
    # physical only: same rows
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, sents.collect()))
    # within a partition, lengths are non-increasing
    from pyspark.sql import functions as F

    rows = (out.withColumn("pid", F.spark_partition_id())
            .withColumn("len", F.size("tokens"))
            .select("pid", "len").collect())
    by_pid: dict[int, list[int]] = {}
    for r in rows:
        by_pid.setdefault(r.pid, []).append(r.len)
    for pid, lens in by_pid.items():
        assert lens == sorted(lens, reverse=True), pid


def test_repartition_by_length_low_cardinality_parallelism(spark):
    """Regression: range bounds are sampled from the partition key, so
    ranging on bare length (few distinct values on web sentences)
    capped the stage at ~#distinct partitions with one giant partition
    — the 32-way neural stage silently ran ~7-wide. The hash tiebreaker
    must deliver the REQUESTED partition count with bounded skew."""
    from pyspark.sql import functions as F

    from ner_pytorch_spark import datagen
    from ner_pytorch_spark.operators.tagger import (repartition_by_length,
                                                    sentences_table)

    sents = sentences_table(datagen.pages_dataframe(spark, 400))
    n_lengths = sents.select(F.size("tokens")).distinct().count()
    n = 16
    assert n_lengths < n  # the corpus genuinely has few length classes
    out = repartition_by_length(sents, partitions=n).persist()
    assert out.rdd.getNumPartitions() == n
    counts = [r.n for r in
              (out.withColumn("pid", F.spark_partition_id())
               .groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect())]
    total = sum(counts)
    # no partition holds more than ~3x its fair share (pre-fix: one
    # partition held ~1/3 of ALL rows at any requested n)
    assert len(counts) == n and max(counts) <= 3 * total / n
    out.unpersist()


def test_merge_tag_runs():
    from ner_pytorch_spark.operators.spans import merge_tag_runs

    tokens = ["Alice", "Johnson", "'s", "firm", "visited", "Paris"]
    tags = ["B-PER", "E-PER", "O", "O", "O", "S-LOC"]
    nodes = merge_tag_runs(tokens, tags)
    texts = [(n["text"], n["tag_type"]) for n in nodes]
    assert texts == [("Alice Johnson", "PER"), ("'s", None), ("firm", None),
                     ("visited", None), ("Paris", "LOC")]
    # clitic merges into preceding O node
    tokens2 = ["it", "'s", "fine"]
    tags2 = ["O", "O", "O"]
    nodes2 = merge_tag_runs(tokens2, tags2)
    assert [n["text"] for n in nodes2] == ["it's", "fine"]


def test_argmax_decode():
    from ner_pytorch_spark.operators.encoder import argmax_decode

    em = np.zeros((2, 3, 4))
    em[0, 0, 2] = 5
    em[0, 1, 1] = 5
    em[1, 0, 3] = 5
    paths = argmax_decode(em, np.array([2, 1]))
    assert paths == [[2, 1], [3]]


def test_kmv_sketch_accuracy_and_exactness(spark):
    """KMV distinct estimate: exact below k; within ~3/sqrt(k) relative
    error above k (deterministic md5 hashing, so the bound is a fixed
    fact of this corpus, not a flaky probabilistic assertion)."""
    import numpy as np

    from ner_pytorch_spark.operators.textstats import kmv_distinct_tokens

    rng = np.random.default_rng(11)
    vocab = [f"w{i:04d}" for i in range(3000)]
    rows = []
    for d in range(20):
        n = int(rng.integers(5, 2000))
        rows.append((d, " ".join(rng.choice(vocab, size=n, replace=True))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {d: len(set(t.split())) for d, t in rows}
    k = 64
    est = {r.doc_id: r.n_distinct_est
           for r in kmv_distinct_tokens(docs, k=k).collect()}
    for d, n in exact.items():
        if n < k:
            assert est[d] == float(n), (d, est[d], n)
        else:
            assert abs(est[d] - n) / n < 3 / np.sqrt(k), (d, est[d], n)

    # mergeability: the corpus-wide sketch equals the estimate computed
    # from the union of per-doc hash minima (one global row)
    glob = kmv_distinct_tokens(docs, k=k, per_doc=False).first()
    all_exact = len({t for _, txt in rows for t in txt.split()})
    assert abs(glob.n_distinct_est - all_exact) / all_exact < 3 / np.sqrt(k)

    # the corpus-wide path is the IMPLEMENTED merge: per-bucket k-minima
    # then a tiny union — the estimate is invariant to input partitioning
    # and bucket count, and the plan has no global one-task window
    for n_buckets in (4, 64):
        g2 = kmv_distinct_tokens(docs.repartition(8), k=k, per_doc=False,
                                 n_buckets=n_buckets).first()
        assert g2.n_distinct_est == glob.n_distinct_est, n_buckets
    plan = (kmv_distinct_tokens(docs, k=k, per_doc=False)
            ._jdf.queryExecution().executedPlan().toString())
    assert "SinglePartition" not in plan, plan
    # below-k corpora report the exact count (null u_k branch)
    tiny = spark.createDataFrame([(0, "a b c"), (1, "b c d")],
                                 "doc_id long, text string")
    assert kmv_distinct_tokens(tiny, k=64,
                               per_doc=False).first().n_distinct_est == 4.0


def test_hash_sampling_stable_and_consistent(spark):
    """Deterministic hash sampling: identical subset under different
    partitionings, fraction within tolerance, salt derives an
    independent subset; hash_split partitions exactly with ~requested
    proportions and agrees with deterministic_sample gating."""
    from ner_pytorch_spark.operators.sampling import (deterministic_sample,
                                                      hash_split)

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    a = {r.k for r in deterministic_sample(df, "k", 0.2).collect()}
    b = {r.k for r in deterministic_sample(df.repartition(17), "k", 0.2).collect()}
    assert a == b                      # partitioning-invariant
    assert abs(len(a) / 5000 - 0.2) < 0.03
    salted = {r.k for r in deterministic_sample(df, "k", 0.2, salt="s1").collect()}
    assert salted != a                 # independent draw
    # nested property: a 0.1 sample is a SUBSET of the 0.2 sample
    small = {r.k for r in deterministic_sample(df, "k", 0.1).collect()}
    assert small <= a

    from pyspark.sql import functions as F

    splits = hash_split(df, "k", {"train": 0.8, "dev": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              splits.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "dev", "test"}
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    # split assignment is a pure function of the key
    again = hash_split(df.repartition(5), "k", {"train": 0.8, "dev": 0.1,
                                                "test": 0.1})
    assert sorted(map(tuple, splits.collect())) == sorted(map(tuple, again.collect()))


def test_bigram_lm_perplexity(spark):
    """Interpolated-bigram perplexity (M11, relational): predictable
    repetitive text scores lower than the same tokens shuffled; scored
    position count = len-1; <2-token docs are omitted; an externally
    trained LM scores unseen pairs through the backoff terms."""
    import numpy as np

    from ner_pytorch_spark.operators.lm import doc_perplexity, train_bigram_lm

    rng = np.random.default_rng(5)
    rep = "a b " * 30                       # one dominant bigram
    toks = (["a", "b"] * 30)
    rng.shuffle(toks)
    docs = spark.createDataFrame(
        [(0, rep), (1, " ".join(toks)), (2, "solo")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in doc_perplexity(docs).collect()}
    assert set(out) == {0, 1}               # 1-token doc has no positions
    assert out[0].n_scored == 59 and out[1].n_scored == 59
    assert out[0].ppl < out[1].ppl          # order sensitivity (M11 shape)

    # external LM with OOV pairs: backoff keeps probabilities finite
    lm = train_bigram_lm(docs)
    other = spark.createDataFrame([(9, "b a zz qq b")],
                                  "doc_id long, text string")
    row = doc_perplexity(other, lm=lm).first()
    assert row.n_scored == 4 and np.isfinite(row.ppl) and row.ppl > 0


def _repetition_reference(text, n):
    """Pure-Python repetition signals, unrounded: Spark's ``trim``
    strips spaces only, tokens are lowercased [a-z0-9]+ runs."""
    import re
    from collections import Counter

    if text is None:
        return 0.0, 0.0, 0.0
    lines = [ln.strip(" ") for ln in text.split("\n")]
    lines = [ln for ln in lines if ln]
    dup_line = 1 - len(set(lines)) / len(lines) if lines else 0.0
    toks = re.findall("[a-z0-9]+", text.lower())
    grams = Counter(tuple(toks[i:i + n]) for i in range(len(toks) - n + 1))
    total = sum(grams.values())
    if not total:
        return dup_line, 0.0, 0.0
    return (dup_line, max(grams.values()) / total,
            sum(c for c in grams.values() if c >= 2) / total)


def test_repetition_scores(spark):
    """Gopher-style repetition signals on constructed docs: clean text
    scores ~0, line-repeated and phrase-repeated docs score high, and
    degenerate docs (empty / single-token) coalesce to 0. Edge inputs
    match a pure-Python reference for n = 2 and 3."""

    from ner_pytorch_spark.operators.textstats import repetition_scores

    docs = spark.createDataFrame([
        (1, "alpha beta gamma\ndelta epsilon zeta"),            # clean
        (2, "same line here\nsame line here\nsame line here"),  # dup lines
        (3, "buy now buy now buy now buy now"),                 # one phrase
        (4, "x"),                                               # < n tokens
        (5, ""),                                                # empty
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_scores(docs, n=2).collect()}

    assert got[1].dup_line_frac == 0.0
    assert got[1].top_ngram_frac == 0.2        # 5 bigrams, all unique
    assert got[1].dup_ngram_frac == 0.0

    assert got[2].dup_line_frac == round(1 - 1 / 3, 6)
    # tokens: same line here same line here same line here → bigrams all
    # repeated ("same line"x3, "line here"x3, "here same"x2) → dup 1.0
    assert got[2].dup_ngram_frac == 1.0

    # "buy now" dominates: 7 bigrams, "buy now" 4 of them
    assert got[3].top_ngram_frac == round(4 / 7, 6)
    assert got[3].dup_ngram_frac == 1.0

    for d in (4, 5):
        assert (got[d].dup_line_frac, got[d].top_ngram_frac,
                got[d].dup_ngram_frac) == (0.0, 0.0, 0.0)

    texts = [
        None,                                       # null text
        "   \n \n\n",                               # whitespace-only
        "\n\nalpha beta\n\n\nalpha beta\n",         # blank lines
        "same words\n  same words  \nsame words ",  # spaces around
        "\tsame words\nsame words",                 # tab is not trimmed
        "x x x x x x x",                            # identical tokens
        "x",                                        # < n tokens
        "one two",                                  # == 2 tokens
        "a b c a b c a b c d",
        "The the THE, the! And and the the",
        "buy now buy now\nbuy now buy now\nfresh fish",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    for n in (2, 3):
        got = {r.doc_id: (r.dup_line_frac, r.top_ngram_frac,
                          r.dup_ngram_frac)
               for r in repetition_scores(docs, n=n).collect()}
        assert set(got) == set(range(len(texts)))
        for i, text in enumerate(texts):
            want = _repetition_reference(text, n)
            assert got[i] == pytest.approx(want, abs=5e-7), (n, text)


_NGRAM_WORDS = ("alpha", "beta", "gamma")


def _ngram_texts(n):
    """Adversarial n-gram inputs, keyed by what each one exercises."""
    return {
        "none": None,
        "empty": "",
        "whitespace": "  \t \n ",
        "short": " ".join(_NGRAM_WORDS[:n - 1]),   # n - 1 tokens
        "exact": " ".join(_NGRAM_WORDS[:n]),       # n tokens
        "repeated": "Go on go on GO on stop",
        "tabs_spaces": "one\ttwo   three\t\tone  two",
    }


@pytest.mark.parametrize("n", [1, 2, 3])
def test_ngrams_adversarial_match_reference(spark, n):
    """The one n-gram builder behind word_shingles, doc_ngram_hashes and
    repetition_scores equals a pure-Python reference on null, empty,
    whitespace-only, short, exactly-n, repeated-gram and tab/multi-space
    texts. word_shingles tokenizes [a-z0-9]+ runs of the lowercased text
    and gives a doc under n tokens one shingle; doc_ngram_hashes splits
    the space-trimmed lowercased text on ``\\s+`` (so a text that is
    empty after the trim is one empty token) and gives a doc under n
    tokens no grams."""
    import re

    from ner_pytorch_spark.operators.decontam import doc_ngram_hashes
    from ner_pytorch_spark.operators.dedup import word_shingles
    from ner_pytorch_spark.operators.textstats import repetition_scores

    texts = _ngram_texts(n)
    ids = {name: i for i, name in enumerate(texts)}
    docs = spark.createDataFrame([(ids[k], t) for k, t in texts.items()],
                                 "doc_id long, text string")

    def grams(toks):
        return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]

    def shingles_ref(text):
        if text is None:
            return set()
        toks = re.findall("[a-z0-9]+", text.lower())
        return {" ".join(toks)} - {""} if len(toks) < n else set(grams(toks))

    def hash_grams_ref(text):
        if text is None:
            return set()
        return set(grams(re.split(r"\s+", text.strip(" ").lower())))

    got_sh = {}
    for r in word_shingles(docs, n=n).collect():
        got_sh.setdefault(r.doc_id, []).append(r.shingle)
    # gram strings hashed by the same JVM xxhash64 the operator uses
    ref_grams = [(ids[k], g) for k, t in texts.items()
                 for g in hash_grams_ref(t)]
    want_h = {}
    for r in spark.createDataFrame(ref_grams, "doc_id long, g string") \
            .select("doc_id", F.xxhash64("g").alias("h")).collect():
        want_h.setdefault(r.doc_id, set()).add(r.h)
    got_h = {}
    for r in doc_ngram_hashes(docs, n=n).collect():
        got_h.setdefault(r.doc_id, []).append(r.gram_hash)
    rep = {r.doc_id: (r.top_ngram_frac, r.dup_ngram_frac)
           for r in repetition_scores(docs, n=n).collect()}

    for name, text in texts.items():
        i = ids[name]
        sh = got_sh.get(i, [])
        assert len(sh) == len(set(sh)) and set(sh) == shingles_ref(text), \
            (n, name, sh)
        hs = got_h.get(i, [])
        assert len(hs) == len(set(hs)), (n, name, hs)   # one per gram
        assert set(hs) == want_h.get(i, set()), (n, name)
        _, top, dup = _repetition_reference(text, n)
        assert rep[i] == pytest.approx((top, dup), abs=5e-7), (n, name)
    # the cases bite: a short doc has no gram hashes, only one shingle,
    # and the repeated gram collapses to one hash
    if n > 1:
        assert ids["short"] not in got_h and len(got_sh[ids["short"]]) == 1
    assert len(got_h[ids["repeated"]]) < len(
        grams(texts["repeated"].lower().split()))


def test_partition_results_order_batches_and_empty_partitions(spark):
    """One result per non-empty partition, in partition order; the
    table's chunks are the partition's Arrow batches; a partition or a
    DataFrame with no rows never reaches ``local``."""
    from ner_pytorch_spark.operators.rounds import partition_results

    def ids(payload, table):
        return payload, table.column("id").to_pylist()

    assert partition_results(spark.range(0, 12, 1, 3), "p", ids) == [
        ("p", [0, 1, 2, 3]), ("p", [4, 5, 6, 7]), ("p", [8, 9, 10, 11])]
    # 6 partitions, 3 rows: the 3 empty partitions contribute nothing
    assert partition_results(spark.range(0, 3, 1, 6), None, ids) == [
        (None, [0]), (None, [1]), (None, [2])]

    def never(payload, table):
        raise AssertionError("local ran on an empty partition")

    assert partition_results(spark.range(0), None, never) == []
    assert partition_results(
        spark.range(0, 10, 1, 2).filter("id > 100"), None, never) == []

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        sizes = partition_results(
            spark.range(0, 20, 1, 2), None,
            lambda _, t: [rb.num_rows for rb in t.to_batches()])
    finally:
        spark.conf.set(key, old)
    assert sizes == [[3, 3, 3, 1], [3, 3, 3, 1]]


def test_partition_results_unpersists_broadcast(spark, monkeypatch):
    """Each round broadcasts its payload once and unpersists it when the
    round ends, also when ``local`` raises."""
    from pyspark import SparkContext

    from ner_pytorch_spark.operators.rounds import partition_results

    calls = []
    broadcast = SparkContext.broadcast

    def spy(self, value):
        bc = broadcast(self, value)
        unpersist = bc.unpersist

        def recorded(blocking=False):
            calls.append(("unpersist", value))
            unpersist(blocking)

        bc.unpersist = recorded
        calls.append(("broadcast", value))
        return bc

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    df = spark.range(0, 8, 1, 2)
    assert partition_results(df, 7, lambda p, t: p * t.num_rows) == [28, 28]
    assert calls == [("broadcast", 7), ("unpersist", 7)]

    def boom(payload, table):
        raise ValueError("boom")

    calls.clear()
    with pytest.raises(Exception) as err:
        partition_results(df, 9, boom)
    assert "boom" in str(err.value)
    assert calls == [("broadcast", 9), ("unpersist", 9)]
