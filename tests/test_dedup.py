"""Dedup operators on constructed duplicates/near-duplicates."""

import re
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from ner_pytorch_spark.operators.dedup import (exact_duplicates,
                                               minhash_lsh_pairs,
                                               ngram_jaccard_pairs,
                                               simhash64, simhash_pairs,
                                               word_shingles)

BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the green forest near the river bank every single morning")
# pair-kernel edge cases: token-less docs, single-token docs, and a block
# of identical docs (one simhash, every shingle shared)
ADVERSARIAL = (["", "   ", "!!! ???", "alpha", "alpha", "Beta", "x"]
               + ["same words in every copy"] * 12)


@contextmanager
def tiny_arrow_batches(spark, n=5):
    """Arrow batches of ``n`` rows, so pair-kernel tiles span many batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="module")
def docs(spark):
    near = BASE.replace("green", "dark")          # 1-token edit
    far = "completely different text about spark sql engines and shuffles"
    rows = [(0, BASE), (1, BASE), (2, near), (3, far), (4, far.upper()), (5, "tiny doc")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].canonical_id == 0 and groups[0].dup_ids == [0, 1]


def test_shingles_short_doc(docs):
    sh = word_shingles(docs, n=3)
    tiny = [r.shingle for r in sh.filter("doc_id = 5").collect()]
    assert tiny == ["tiny doc"]  # < n tokens → single full-join shingle


def test_ngram_jaccard(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0          # exact dup
    assert (0, 2) in pairs               # near dup above 0.5
    assert (0, 3) not in pairs
    # normalization lowercases → far & FAR are exact under shingling
    assert pairs[(3, 4)] == 1.0


def test_minhash_lsh_finds_near_dups(docs):
    got = {(r.doc_a, r.doc_b)
           for r in minhash_lsh_pairs(docs, n_hashes=16, bands=8, n=3,
                                      threshold=0.5).collect()}
    assert (0, 1) in got and (3, 4) in got
    assert (0, 2) in got  # near dup caught by at least one band


def test_lsh_wide_buckets_match_long_path(spark, docs):
    """The one-shuffle wide-aggregate bucket builder that
    minhash_lsh_pairs runs produces the SAME candidate set as the
    explode→groupBy long formulation it replaced (bucket keys are
    seed-tagged, so key equality ⟺ per-band minhash equality in both)."""
    from ner_pytorch_spark.operators.dedup import (
        _band_stack, _minhash_aggs, minhash_signatures, word_shingles)

    n_hashes, bands, rpb = 16, 4, 4
    sig = minhash_signatures(docs)
    long_buckets = (
        sig.withColumn("band", (F.col("seed") / rpb).cast("int"))
        .groupBy("doc_id", "band")
        .agg(F.concat_ws("|", F.sort_array(F.collect_list(
            F.concat_ws("=", F.col("seed"), F.col("minhash"))))).alias("k")))

    def cands(buckets, key):
        a = buckets.select(F.col("doc_id").alias("doc_a"), "band", key)
        b = buckets.select(F.col("doc_id").alias("doc_b"), "band", key)
        return {(r.doc_a, r.doc_b) for r in
                a.join(b, on=["band", key])
                .filter(F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b").distinct().collect()}

    wide = _band_stack(word_shingles(docs).groupBy("doc_id")
                       .agg(*_minhash_aggs(n_hashes)), n_hashes, bands)
    assert cands(wide, "bucket_key") == cands(long_buckets, "k")


def test_simhash_blocking_is_lossless(spark, monkeypatch):
    """Pigeonhole recall at max_hamming > 3 (the round-1 bug class).

    Correlated random docs (subsets of a tiny vocab) produce many pairs
    at Hamming 4-20 whose differing bits span ALL FOUR of the old fixed
    16-bit chunks — the old blocking silently dropped those. The new
    (max_hamming+1)-chunk blocking must return exactly the brute-force
    all-pairs answer, also on the adversarial docs, with tiles of a few
    docs spanning 5-row Arrow batches, and with a max_bucket cap (a pair
    surfaces iff it agrees on a chunk whose bucket the cap kept).
    """
    import random
    from collections import Counter

    from ner_pytorch_spark.operators import pairtiles
    from ner_pytorch_spark.operators.dedup import _chunk_bounds

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(30)]
    texts = [" ".join(rng.sample(vocab, rng.randint(8, 20))) for _ in range(80)]
    texts += ADVERSARIAL
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    mask = (1 << 64) - 1
    hashes = {i: simhash64(re.findall("[a-z0-9]+", t.lower())) & mask
              for i, t in enumerate(texts)}

    def ham(a, b):
        return bin(hashes[a] ^ hashes[b]).count("1")

    def brute_force(max_h, max_bucket):
        keys = {i: [(c, (h >> lo) & ((1 << w) - 1))
                    for c, (lo, w) in enumerate(_chunk_bounds(max_h + 1))]
                for i, h in hashes.items()}
        df = Counter(k for ks in keys.values() for k in ks)
        return {(a, b): ham(a, b) for a in hashes for b in hashes
                if a < b and ham(a, b) <= max_h
                and any(ka == kb and (max_bucket is None or df[ka] <= max_bucket)
                        for ka, kb in zip(keys[a], keys[b]))}

    monkeypatch.setattr(pairtiles, "_TILE", 4)
    with tiny_arrow_batches(spark):
        for max_h, max_bucket in ((8, None), (20, None), (8, 5), (20, 10)):
            expect = brute_force(max_h, max_bucket)
            got = {(r.doc_a, r.doc_b): r.hamming
                   for r in simhash_pairs(docs, max_hamming=max_h,
                                          max_bucket=max_bucket).collect()}
            assert got == expect, (max_h, max_bucket)
    assert any(v == 0 for v in brute_force(8, None).values())

    # the adversarial witness: ≥1 pair beyond Hamming 3 shares NONE of
    # the old fixed 16-bit chunks → the old 4-chunk blocking provably
    # missed it, the new blocking must not.
    def old_chunks(h):
        return [(h >> (16 * i)) & 0xFFFF for i in range(4)]

    witnesses = [
        (a, b) for a in hashes for b in hashes
        if a < b and 3 < ham(a, b) <= 20
        and all(x != y for x, y in zip(old_chunks(hashes[a]), old_chunks(hashes[b])))
    ]
    assert witnesses, "test corpus must contain an old-blocking-missed pair"
    got20 = {(r.doc_a, r.doc_b)
             for r in simhash_pairs(docs, max_hamming=20).collect()}
    assert set(witnesses) <= got20


def test_simhash_matches_duckdb_oracle(docs):
    """End-to-end engine parity: the pandas-UDF simhash equals the pure
    SQL recomputation (md5_number_upper → majority vote → two's
    complement) that the driver uses as the oracle."""
    import duckdb

    pdf = docs.toPandas()
    con = duckdb.connect()
    con.register("documents", pdf)
    import __spark_entry__ as entrymod

    sql = entrymod.oracle_sql()["simhash_pairs"]
    expect = {tuple(r) for r in con.execute(sql).fetchall()}
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in simhash_pairs(docs, max_hamming=8).collect()}
    assert got == expect


def test_simhash_properties(docs):
    h1 = simhash64(BASE.split())
    h2 = simhash64(BASE.replace("green", "dark").split())
    h3 = simhash64("completely different text about engines".split())
    ham12 = bin((h1 ^ h2) & ((1 << 64) - 1)).count("1")
    ham13 = bin((h1 ^ h3) & ((1 << 64) - 1)).count("1")
    assert ham12 < ham13  # near dup is closer in hamming space
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in simhash_pairs(docs, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0
    assert (3, 4) in pairs  # case-folded → identical hash


def test_simhash_max_bucket_guard(spark):
    """Skew guard: a degenerate corpus (identical docs → one simhash)
    must not turn the blocking join quadratic. With the cap the hot
    buckets drop from blocking (0 pairs, exact_duplicates territory);
    with the guard off the full quadratic answer comes back."""
    n = 200
    same = spark.createDataFrame([(i, "same text everywhere") for i in range(n)],
                                 "doc_id long, text string")
    assert simhash_pairs(same, max_hamming=3, max_bucket=50).count() == 0
    assert (simhash_pairs(same, max_hamming=3, max_bucket=None).count()
            == n * (n - 1) // 2)
    # and exact dedup handles the degenerate group linearly
    g = exact_duplicates(same).collect()
    assert len(g) == 1 and g[0].n_dups == n


def test_shingle_cache_keyed_by_plan(spark, docs):
    """Interleaving two corpora keeps both persisted shingle tables
    (the round-4 single-slot global thrashed on this pattern)."""
    from ner_pytorch_spark.operators.dedup import _SH_CACHE, _cached_shingles

    other = spark.createDataFrame([(9, "another corpus entirely")],
                                  "doc_id long, text string")
    a1 = _cached_shingles(docs, 3, "text", "doc_id")
    b1 = _cached_shingles(other, 3, "text", "doc_id")
    a2 = _cached_shingles(docs, 3, "text", "doc_id")
    b2 = _cached_shingles(other, 3, "text", "doc_id")
    assert a1 is a2 and b1 is b2 and a1 is not b1
    # different params → different slot
    a4 = _cached_shingles(docs, 4, "text", "doc_id")
    assert a4 is not a1
    assert len(_SH_CACHE._slots) <= _SH_CACHE.capacity


def _dense_corpus(spark):
    """60 docs over 3 hot words (in every doc, df = 60) and 20 cold ones
    (df ≈ 24 each), plus the adversarial docs."""
    import random

    rng = random.Random(13)
    hot = ["h0", "h1", "h2"]
    cold = [f"w{i}" for i in range(20)]
    rows = [(i, " ".join(hot
                         + [rng.choice(cold) for _ in range(8)]))
            for i in range(60)]
    rows += [(60 + i, t) for i, t in enumerate(ADVERSARIAL)]
    return spark.createDataFrame(rows, "doc_id long, text string")


# each Jaccard kernel forced through the policy's bounds: no vocabulary
# fits a 0-bit bitmap, and any work passes a 0 density floor
_FORCE = {"relational": ("_DENSE_MAX_SHINGLES", 0),
          "dense": ("_DENSE_MIN_DENSITY", 0)}


def _forced_jaccard(docs, path, **kw):
    """ngram_jaccard_pairs(docs, n=1) on ``path``; the policy memo stores
    the decision, so every cache is emptied before the call."""
    from ner_pytorch_spark import plan_cache
    from ner_pytorch_spark.operators import dedup

    plan_cache.clear_caches()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, *_FORCE[path])
        return dedup.ngram_jaccard_pairs(docs, n=1, **kw)


def test_jaccard_dense_matches_relational(spark, monkeypatch):
    """The dense bitmap kernel is value-identical to the relational
    blocking join, including stop-shingle cap semantics (n_common counts
    only non-stop commons; sizes stay FULL), on the adversarial docs and
    with tiles spanning many 5-row Arrow batches."""
    from ner_pytorch_spark.operators import pairtiles

    docs = _dense_corpus(spark)

    def pairs(path, **kw):
        return sorted(map(tuple, _forced_jaccard(docs, path, **kw).collect()))

    plan = _forced_jaccard(docs, "dense") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan
    plan = _forced_jaccard(docs, "relational") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan
    # cap off, then cap=40: hot words stopped (df 60 > 40), cold kept —
    # n_common loses the hot words while sizes n_a/n_b keep them; the
    # last pass forces tiles of a few docs
    with tiny_arrow_batches(spark):
        for max_block, thr, tile in ((1000, 0.3, 2048), (40, 0.1, 2048),
                                     (1000, 0.3, 4)):
            monkeypatch.setattr(pairtiles, "_TILE", tile)
            rel = pairs("relational", threshold=thr, max_block=max_block)
            den = pairs("dense", threshold=thr, max_block=max_block)
            assert rel == den and len(den) > 0
            assert {(63, 64, 1.0), (67, 78, 1.0)} <= set(den)  # identical


def test_jaccard_policy_cold_two_actions_warm_none(spark, monkeypatch):
    """The policy's numbers and the dense kernel's bit index come from
    one bounded collect plus the doc count: a cold call that picks the
    dense kernel runs exactly 2 driver actions, a warm call none."""
    from pyspark.sql.classic.dataframe import DataFrame

    from ner_pytorch_spark import plan_cache
    from ner_pytorch_spark.operators import dedup

    docs = _dense_corpus(spark)
    plan_cache.clear_caches()
    calls = []
    for name in ("collect", "count", "first"):
        def counted(self, *args, _orig=getattr(DataFrame, name),
                    _name=name, **kw):
            calls.append(_name)
            return _orig(self, *args, **kw)
        monkeypatch.setattr(DataFrame, name, counted)
    dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.3)
    cold = sorted(calls)
    calls.clear()
    warm = dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.3)
    monkeypatch.undo()
    assert cold == ["collect", "count"] and calls == [], (cold, calls)
    plan = warm._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan   # the default policy chose dense


def test_jaccard_dense_policy_stays_relational_when_sparse(spark):
    """The policy on a sparse corpus (every doc its own vocabulary) must
    keep the scale-safe blocking join — the plan shows the shingle
    equi-join, no Python map node of the dense kernel."""
    from ner_pytorch_spark.operators import dedup

    # one contiguous alnum run per token (an underscore would split into
    # a shared digit token and densify the corpus)
    rows = [(i, " ".join(f"tok{i}x{j}" for j in range(30)))
            for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    df = dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # relational path chosen
    assert "MapInPandas" not in plan and "MapInArrow" not in plan
    assert df.count() == 0


def test_clear_caches_empties_every_module_cache(spark, docs, monkeypatch):
    """One plan_cache.clear_caches() empties the dedup, decontam and
    similarity caches (and the dedup memo) and unpersists what they
    held, the memo's bit-index and simhash hot-bucket broadcasts too."""
    import numpy as np
    from pyspark import Broadcast

    from ner_pytorch_spark import plan_cache
    from ner_pytorch_spark.operators import dedup, decontam, similarity

    unpersisted = []
    unpersist = Broadcast.unpersist

    def spy(self, blocking=False):
        unpersisted.append(self)
        return unpersist(self, blocking)

    monkeypatch.setattr(Broadcast, "unpersist", spy)
    _forced_jaccard(docs, "dense")
    simhash_pairs(docs, max_hamming=3, max_bucket=1)
    bcs = [(k[0], m["bc"]) for k, m in dedup._META.items() if m.get("bc")]
    assert any(kind == "jaccard" for kind, _ in bcs)
    # the hot buckets of the duplicate docs
    assert any(kind == "simhash" and bc.value for kind, bc in bcs)
    decontam.benchmark_overlap(docs, docs, n=2)
    rng = np.random.default_rng(0)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(8)],
        "vec_id long, embedding array<float>")
    similarity.ivf_topk(emb, k=2, n_cells=2, n_probe=1)
    caches = (dedup._SH_CACHE, decontam._BENCH_GRAM_CACHE,
              similarity._IVF_CACHE)
    held = [df for c in caches for df in c._slots.values()]
    assert all(c._slots for c in caches) and dedup._META
    assert all(df.is_cached for df in held)

    plan_cache.clear_caches()
    assert not dedup._META
    assert all(any(b is u for u in unpersisted) for _, b in bcs)
    assert all(not getattr(c, "_slots", c) for c in plan_cache._REGISTRY)
    assert not any(df.is_cached for df in held)
