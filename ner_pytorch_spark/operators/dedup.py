"""Deduplication operators for web-scale corpus hygiene.

Not present in the reference (its dedup is a surface-form uniqueness set,
/root/reference/word_rep.py:151-153) but first-class for a 100 TB
training-data pipeline. Five variants, all over ``documents(doc_id,
text, …)``-shaped tables:

* exact          — md5(text) hash-groupBy; one shuffle on the digest
* word n-gram Jaccard — shingle self-join; bounded by shared-shingle
  blocking (equi-join on shingle), never a cross join; a corpus whose
  non-stop vocabulary is small and shared by most docs is scored as
  shingle bitmaps instead, chosen by a memoized size policy (see
  :func:`ngram_jaccard_pairs`)
* MinHash + LSH  — md5-based min-hash signatures (engine-agnostic, so
  DuckDB can oracle them), banded into buckets, candidate pairs from
  bucket equi-join, verified with exact Jaccard
* SimHash        — 64-bit token-hash majority vote inside a pandas UDF;
  pairs scored inside pigeonhole hash-chunk buckets
* embedding cosine — near-dup over an embedding column (see
  :mod:`ner_pytorch_spark.operators.similarity`)

Scale notes: every join here is an equi-join on a blocking key
(digest / shingle / band bucket) → shuffle-hash or SMJ on that key; the
quadratic all-pairs comparison never materializes as rows. The two
all-pairs scorers — Hamming within a simhash bucket, bitmap Jaccard
over a dense corpus — share one salt-tiled ``mapInArrow`` kernel in
:mod:`ner_pytorch_spark.operators.pairtiles`. Skewed blocks
(stop-shingles, hot buckets) are capped with ``max_block`` /
``max_bucket`` guards.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# cached shingle tables (see _cached_shingles): the pair operators
# reference the shingle subplan from many plan branches (signatures,
# doc sizes, shingle df, both sides of the blocking join) and Spark
# evaluates each branch independently — measured 7 evaluations of the
# same 1.6 s subplan inside one minhash_lsh_pairs action at sf0.1
# (12.4 s total). Persisting it once cuts the query to the real work.
# Keyed by (input plan, params) so interleaved dedup passes over
# DIFFERENT corpora keep their own slot (a single-slot global thrashed);
# LRU-bounded. At cluster scale the shingle table for a dedup pass is
# the natural unit to persist anyway.
from ..plan_cache import PlanCache, plan_key, register
from . import pairtiles
from .textstats import tokens_lower, word_ngrams

_SH_CACHE = PlanCache(capacity=4)
# minhash_lsh_pairs' per-doc table (signature + capped shingle set):
# one bounded row per doc, referenced by the bucket self-join and both
# exact-verify joins — persisted keyed the same way.
_DOC_CACHE = PlanCache(capacity=4)
# simhash_pairs' per-doc (doc_id, simhash) table and its bucket-frequency
# table, persisted keyed the same way so the tokenize+hash Pandas UDF
# runs once per corpus, not once per branch.
_SIMHASH_CACHE = PlanCache(capacity=8)


class _MetaMemo(dict):
    """Insertion-ordered memo of the newest ``capacity`` entries; an
    entry's broadcast (``"bc"``) is unpersisted when the entry is evicted
    or cleared."""

    capacity = 8

    def put(self, key, meta: dict) -> None:
        self[key] = meta
        while len(self) > self.capacity:
            self._drop(self.pop(next(iter(self))))

    def clear(self) -> None:
        for meta in self.values():
            self._drop(meta)
        super().clear()

    @staticmethod
    def _drop(meta: dict) -> None:
        if meta.get("bc") is not None:
            meta["bc"].unpersist(blocking=False)


# per-corpus facts collected once, keyed like the plan caches: the Jaccard
# policy's doc count with, when it chose the dense kernel, the bit-index
# broadcast (≤_DENSE_MAX_SHINGLES int64), and simhash_pairs' hot-bucket
# broadcast
_META = register(_MetaMemo())


def _cached_shingles(docs: DataFrame, n: int, text_col: str,
                     id_col: str) -> DataFrame:
    key = (plan_key(docs), n, text_col, id_col)
    return _SH_CACHE.get_or_build(
        key, lambda: word_shingles(docs, n, text_col, id_col))


# ------------------------------------------------------------- exact


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts → (digest, canonical_id, dup_ids,
    n_dups). canonical = min id; only groups with >1 member."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("canonical_id"),
             F.sort_array(F.collect_list("doc_id")).alias("dup_ids"),
             F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


# ------------------------------------------------- shingles / jaccard


def word_shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, shingle) distinct word n-grams; JVM-side only.

    Shingle = n consecutive :func:`tokens_lower` tokens joined by a space
    (:func:`~.textstats.word_ngrams`). Documents shorter than n tokens
    yield their full token join (one shingle) so they still participate;
    empty and ``None`` texts yield none.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       tokens_lower(text_col).alias("toks"))
    sh = toks.select(
        "doc_id",
        F.when(
            F.size("toks") < n, F.array(F.array_join("toks", " "))
        ).otherwise(word_ngrams(F.col("toks"), n)).alias("shingles"),
    )
    # per-doc dedup happens in-place on the array (array_distinct) so
    # the distinct contract costs no shuffle — the old row-level
    # .distinct() was a full exchange of every shingle instance.
    return (
        sh.select("doc_id",
                  F.explode(F.array_distinct("shingles")).alias("shingle"))
        .filter(F.col("shingle") != "")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.8,
    text_col: str = "text", id_col: str = "doc_id",
    max_block: int = 1000,
) -> DataFrame:
    """Near-dup pairs by exact word-n-gram Jaccard ≥ threshold.

    Blocking: only documents sharing ≥1 shingle are compared (equi-join
    on shingle). Shingles shared by > ``max_block`` docs are dropped
    from blocking (stop-shingles — classic skew guard; they cannot be
    the sole evidence for a high-Jaccard pair in practice).
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Two kernels score that candidate set. The relational plan
    degenerates on DENSE corpora — when the distinct-shingle vocabulary
    is small and shingle df stays under the stop cap, almost every doc
    pair shares a shingle and the blocking join enumerates ~all-pairs as
    (pair, shingle) ROWS (36.5M rows / 10.3M candidate pairs of 12.5M
    possible measured at sf0.1), then hash-aggregates them — ~340
    ns/row. In that regime the same candidate set is scored 50-100×
    cheaper as salt-tiled numpy bitmap popcounts (:mod:`.pairtiles`,
    shared with simhash_pairs): each doc's non-stop shingle set becomes
    a ≤``_DENSE_MAX_SHINGLES``-bit bitmap and |A∩B| is a W-word
    AND+popcount. The policy (:func:`_jaccard_policy`) picks the dense
    kernel only when the non-stop vocabulary fits a bitmap, the doc
    count is bounded, and the relational path would already do ≥
    ``_DENSE_MIN_DENSITY`` × all-pairs work — at real corpus scale the
    vocabulary is large and df exceeds the stop cap, so it keeps the
    scale-safe blocking join. Its numbers come from one collect of at
    most ``_DENSE_MAX_SHINGLES`` + 1 rows plus a doc count when the
    vocabulary fits, once per (corpus plan, n, columns, max_block).
    Both paths emit bit-identical rows (same candidate set, same
    long-typed n_common/sizes, the SAME Spark division/round
    expression).
    """
    sh = _cached_shingles(docs, n, text_col, id_col)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # full shingle-df table: the stop set filters it; the policy reads
    # its non-stop rows (a bounded collect, see _jaccard_policy)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # both paths take the non-stop shingles as 8-byte xxhash64 keys: the
    # stop set is tiny and AQE-broadcast (an anti-join, no by-shingle
    # re-shuffle of the corpus relation), and the blocking join compares
    # longs, not ~20-byte strings (decontam's "the join key is 8 bytes"
    # contract; distinct shingles → distinct hashes at 2^-64 odds, so
    # n_common is unchanged). At sf0.1 corpus_prep's bigram near-dedup
    # legitimately enumerates ~13M (pair, shingle) rows.
    blocked_h = (sh.join(freq.filter(F.col("df") > max_block), on="shingle",
                         how="left_anti")
                 .select("doc_id", F.xxhash64("shingle").alias("sh")))
    # the policy is a pure function of (corpus plan, n, cols, max_block) —
    # memoized so a warm call (bench best-of-2, repeated pipeline
    # invocations over one corpus) runs no driver action
    meta_key = ("jaccard", plan_key(docs), n, text_col, id_col, max_block)
    if meta_key not in _META:
        _META.put(meta_key, _jaccard_policy(
            freq.filter(F.col("df") <= max_block), sizes))
    meta = _META[meta_key]
    if meta["bc"] is not None:
        return _jaccard_out(_jaccard_dense(blocked_h, sizes, meta, meta_key,
                                           threshold), threshold)
    a = blocked_h.select(F.col("doc_id").alias("doc_a"), "sh")
    b = blocked_h.select(F.col("doc_id").alias("doc_b"), "sh")
    common = (
        a.join(b, on="sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return _jaccard_out(common.join(sa, on="doc_a").join(sb, on="doc_b"),
                        threshold)


def _jaccard_out(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, n_common, n_a, n_b) → (doc_a, doc_b, jaccard): the
    one division/threshold/round expression both Jaccard paths share."""
    return (
        pairs.withColumn("jaccard", F.col("n_common")
                         / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# dense-regime policy bounds for ngram_jaccard_pairs (see its docstring):
# bitmap ≤ 64 uint64 words/doc, the doc count bounded, and the kernel
# only fires when the relational plan would already enumerate at least
# this fraction of all-pairs (measured break-even is ~0.015 — 340 ns per
# enumerated row vs ~5 ns per bitmap pair at W=15 — so 0.1 is a 6×
# safety margin; below it the blocking join is the cheaper plan).
_DENSE_MAX_SHINGLES = 4096
_DENSE_MAX_DOCS = 200_000
_DENSE_MIN_DENSITY = 0.1


def _jaccard_policy(nonstop_freq: DataFrame, sizes: DataFrame) -> dict:
    """One corpus's ``_META`` entry ``{n_docs, bc}``; ``bc`` (the sorted
    non-stop shingle hashes, broadcast with their bitmap word count) is
    set only when the dense kernel is chosen.

    One collect of at most ``_DENSE_MAX_SHINGLES`` + 1 (hash, df) rows
    gives the non-stop count, the relational work Σ df·(df−1)/2 and the
    bit index; the doc count runs only when the vocabulary fits.
    """
    rows = (nonstop_freq.select(F.xxhash64("shingle"), "df")
            .limit(_DENSE_MAX_SHINGLES + 1).collect())
    meta = {"n_docs": None, "bc": None}
    if not 0 < len(rows) <= _DENSE_MAX_SHINGLES:
        return meta
    meta["n_docs"] = n_docs = sizes.count()
    work = sum(df * (df - 1) // 2 for _, df in rows)
    if (2 <= n_docs <= _DENSE_MAX_DOCS
            and work >= _DENSE_MIN_DENSITY * n_docs * (n_docs - 1) / 2):
        bit_vals = np.sort(np.array([h for h, _ in rows], dtype=np.int64))
        meta["bc"] = sizes.sparkSession.sparkContext.broadcast(
            (bit_vals, (len(bit_vals) + 63) // 64))
    return meta


def _jaccard_dense(blocked_h: DataFrame, sizes: DataFrame, meta: dict,
                   meta_key, threshold: float) -> DataFrame:
    """Dense-corpus kernel → (doc_a, doc_b, n_common, n_a, n_b): each
    doc's non-stop shingles as a bitmap over the policy's broadcast bit
    index, scored by :func:`pairtiles.bitmap_pairs`. n_common counts
    common non-stop shingles and n_a/n_b stay the FULL counts — exactly
    the relational path's semantics."""
    sc = blocked_h.sparkSession.sparkContext
    # class count: ceil(N/_TILE) bounds a tile's work; the cores floor
    # (r(r+1)/2 tiles ≥ 2×parallelism ⇒ r ≥ √(4·parallelism)) occupies
    # the cores on a small corpus (measured at sf0.1/5k docs: r=3 → 6
    # tiles on 32 cores ran 1.56 s; r=12+ → 0.75-0.9 s)
    r_cls = max(-(-meta["n_docs"] // pairtiles._TILE),
                int((4 * sc.defaultParallelism) ** 0.5 + 1))
    rows = (blocked_h.groupBy("doc_id").agg(F.collect_list("sh").alias("shs"))
            .join(sizes, on="doc_id")
            .select("doc_id", "shs", "n_sh", F.lit(r_cls).alias("n_cls")))
    return pairtiles.bitmap_pairs(rows, meta_key + (r_cls,), meta["bc"],
                                  threshold)


# --------------------------------------------------------- MinHash LSH


def minhash_signatures(docs: DataFrame, n_hashes: int = 16, n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, seed, minhash): md5-keyed min-hash per seed.

    h_i(shingle) = md5(i || ':' || shingle); the signature entry is the
    lexicographic MIN digest — engine-agnostic (DuckDB computes the same
    md5), deterministic, and a valid min-wise hash family for Jaccard
    estimation. One shuffle: groupBy(doc_id, seed).
    """
    sh = word_shingles(docs, n, text_col, id_col)
    seeds = sh.sparkSession.range(n_hashes).select(
        F.col("id").cast("int").alias("seed"))
    return (
        sh.crossJoin(F.broadcast(seeds))
        .select("doc_id", "seed",
                F.md5(F.concat_ws(":", F.col("seed"), F.col("shingle"))).alias("h"))
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("minhash"))
    )


def _minhash_aggs(n_hashes: int) -> list:
    """The n_hashes per-doc min-hash aggregate columns (h0..h{n-1})."""
    return [
        F.min(F.md5(F.concat_ws(":", F.lit(str(i)), F.col("shingle"))))
        .alias(f"h{i}") for i in range(n_hashes)]


def _band_stack(sig_wide: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """h0..h{n-1} wide columns → (doc_id, band, bucket_key) long form —
    pure projection (``stack``), no exchange."""
    rpb = n_hashes // bands
    args = []
    for b in range(bands):
        args.append(F.lit(b))
        args.append(F.concat_ws("|", *[
            F.concat_ws("=", F.lit(str(i)), F.col(f"h{i}"))
            for i in range(b * rpb, (b + 1) * rpb)]))
    return sig_wide.select(
        "doc_id",
        F.stack(F.lit(bands), *args).alias("band", "bucket_key"))


def minhash_lsh_pairs(
    docs: DataFrame, n_hashes: int = 16, bands: int = 4, n: int = 3,
    threshold: float = 0.5, text_col: str = "text", id_col: str = "doc_id",
    max_block: int = 1000,
) -> DataFrame:
    """MinHash→LSH candidate pairs, verified with exact Jaccard.

    rows_per_band = n_hashes/bands; docs agreeing on ALL rows of ≥1 band
    become candidates (bucket equi-join), then exact n-gram Jaccard
    filters ≥ threshold. Output: (doc_a, doc_b, jaccard).

    Plan shape (round-5 restructure): ONE corpus-wide doc aggregation
    produces everything the query needs per document — the n_hashes
    min-hash signature columns (over ALL shingles), the uncapped
    shingle count (jaccard denominator), and the df-capped shingle set
    (jaccard numerator; same stop-shingle ``max_block`` guard as
    ``ngram_jaccard_pairs``, df computed corpus-wide so the jaccard
    definition is identical between the two operators). The previous
    plan derived those in four separate subplans (sig_wide, sizes,
    freq-join, candidate-semi-joined blocked shingles) and verified
    candidates through two shingle equi-joins plus a groupBy plus two
    size joins — ~6 more serial exchanges whose per-stage scheduling
    overhead dominated at small SF and whose shingle re-shuffles
    dominate at large SF. Exact-verify is now two equi-joins of the
    candidate pairs against the persisted doc table and a pure
    ``array_intersect`` projection. The doc table is one bounded row
    per document (signature + capped distinct-shingle array, i.e.
    O(doc tokens)), persisted via the keyed plan cache because the
    bucket self-join and both verify joins reference it.
    """
    assert n_hashes % bands == 0

    def build():
        sh = _cached_shingles(docs, n, text_col, id_col)
        # only the STOP shingles (df > max_block) are joined — a set
        # bounded by total-shingle-instances/max_block, usually tiny, so
        # AQE broadcasts it and the corpus shingle table is never
        # re-shuffled by shingle for the cap.
        stop = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") > max_block).select("shingle", "df"))
        return (
            sh.join(stop, on="shingle", how="left")
            .groupBy("doc_id")
            .agg(*_minhash_aggs(n_hashes),
                 F.count(F.lit(1)).alias("n_sh"),
                 # collect_list drops the NULLs when() leaves for
                 # stop-shingles; shingle rows are distinct per doc, so
                 # this is the doc's capped shingle SET.
                 F.collect_list(
                     F.when(F.col("df").isNull(), F.col("shingle"))
                 ).alias("shs"))
        )

    doc_table = _DOC_CACHE.get_or_build(
        (plan_key(docs), n_hashes, n, text_col, id_col, max_block), build)
    buckets = _band_stack(doc_table, n_hashes, bands)
    a = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket_key")
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket_key")
    # NO distinct here: at near-dup-dense corpora the bucket join emits
    # millions of candidate rows (7.9M at sf1.0) and deduping them was a
    # full exchange of the candidate stream BEFORE the cheap map-side
    # verify. Bands rarely duplicate a pair (<1% here), the verify joins
    # are AQE-broadcast at these sizes, so verifying the ~1% extra rows
    # costs far less than the exchange; the final distinct() below
    # dedupes the (tiny) post-threshold survivors. Same result set:
    # duplicate candidate rows verify to identical output rows.
    cands = (
        a.join(b, on=["band", "bucket_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    sa = doc_table.select(F.col("doc_id").alias("doc_a"),
                          F.col("n_sh").alias("n_a"),
                          F.col("shs").alias("shs_a"))
    sb = doc_table.select(F.col("doc_id").alias("doc_b"),
                          F.col("n_sh").alias("n_b"),
                          F.col("shs").alias("shs_b"))
    return (
        cands.join(sa, on="doc_a").join(sb, on="doc_b")
        .withColumn("n_common",
                    F.size(F.array_intersect("shs_a", "shs_b")))
        # pairs with no capped shingle in common never surfaced from the
        # old inner-join formulation; keep that contract for any
        # threshold (incl. 0)
        .filter(F.col("n_common") > 0)
        .withColumn("jaccard",
                    F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .distinct()
    )


# ------------------------------------------------------------ SimHash


def simhash64(tokens: list[str], _memo: dict | None = None) -> int:
    """64-bit SimHash over md5 token hashes (numpy-vectorized).

    The per-token 64-bit hash is the FIRST 8 md5 digest bytes read
    little-endian — exactly DuckDB's ``md5_number_upper(token)`` — so
    the whole simhash is recomputable in SQL and the driver can oracle
    ``simhash_pairs`` end-to-end. Bit p of the result is the sign of the
    ±1 majority vote over token-hash bits p; the uint64 is reinterpreted
    as two's-complement int64 for LongType (XOR/popcount-invariant).

    ``_memo`` (token → 8-byte digest) lets a caller share the md5 work
    across documents — natural-language corpora repeat most tokens, so
    the Arrow batch UDF hashes each distinct token once per batch.
    """
    import hashlib

    if not tokens:
        return 0
    if _memo is None:
        bs = b"".join(hashlib.md5(t.encode("utf-8")).digest()[:8]
                      for t in tokens)
    else:
        parts = []
        for t in tokens:
            b = _memo.get(t)
            if b is None:
                b = hashlib.md5(t.encode("utf-8")).digest()[:8]
                _memo[t] = b
            parts.append(b)
        bs = b"".join(parts)
    u = np.frombuffer(bs, dtype="<u8")                   # [n] little-endian
    bits = ((u[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int64)
    votes = bits.sum(axis=0) * 2 - len(tokens)           # ±1 majority
    out = 0
    for p in np.nonzero(votes > 0)[0]:
        out |= 1 << int(p)
    return out - (1 << 64) if out >= (1 << 63) else out  # two's complement


@F.pandas_udf(LongType())
def simhash_udf(tokens: pd.Series) -> pd.Series:
    memo: dict = {}
    return tokens.map(
        lambda ts: simhash64(list(ts), _memo=memo) if ts is not None else None)


def _chunk_bounds(n_chunks: int) -> list[tuple[int, int]]:
    """Split 64 bits into n_chunks near-equal [lo, width) pieces."""
    edges = [round(64 * i / n_chunks) for i in range(n_chunks + 1)]
    return [(edges[i], edges[i + 1] - edges[i]) for i in range(n_chunks)]


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  text_col: str = "text", id_col: str = "doc_id",
                  max_bucket: int | None = 100_000) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole blocking: the 64-bit hash splits into ``max_hamming + 1``
    near-equal chunks — a pair within Hamming ≤ max_hamming has at most
    max_hamming differing bits, so by pigeonhole it agrees EXACTLY on
    ≥1 chunk → every qualifying pair appears in the chunk equi-join
    (a fixed chunk count only guarantees recall for Hamming < n_chunks,
    the round-1 recall bug). Candidates are verified by popcount.

    Skew guard (``max_bucket``): a degenerate corpus value — e.g. every
    empty/boilerplate page simhashing to the same 64 bits — makes one
    (chunk_id, chunk) bucket quadratic in the join. Buckets with more
    than ``max_bucket`` members are dropped from blocking (the
    ``max_block`` stop-shingle house pattern; such pairs are exact-dup
    shaped and belong to :func:`exact_duplicates`, which handles them in
    one linear groupBy). The dropped buckets are collected once per
    corpus into the memoized hot-bucket broadcast (``_META``). ``None``
    disables the guard (fully lossless).
    """
    n_chunks = max_hamming + 1
    if n_chunks > 64:
        raise ValueError("max_hamming must be < 64")
    # the per-doc simhash table is referenced by the bucket-frequency
    # branch and the tile build — persist it (one 16-byte row per doc)
    # so the tokenize+hash subplan runs once per corpus.
    corpus = (plan_key(docs), text_col, id_col)
    sh = _SIMHASH_CACHE.get_or_build(
        corpus,
        lambda: docs.select(
            F.col(id_col).alias("doc_id"),
            simhash_udf(tokens_lower(text_col)).alias("simhash"),
        ))

    def _chunk(lo: int, width: int):
        c = F.shiftrightunsigned("simhash", lo)
        if width < 64:  # (1<<64)-1 overflows LongType; width 64 = whole hash
            c = c.bitwiseAND(F.lit((1 << width) - 1))
        return c

    bounds = _chunk_bounds(n_chunks)
    chunks = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk_id"), _chunk(lo, width).alias("chunk"))
            for i, (lo, width) in enumerate(bounds)
        ])).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_id", "c.chunk")
    # bucket-frequency table: referenced by the in-plan cap join AND the
    # hot-set collect below — persist it (≤ n_chunks×2^width tiny rows)
    # so it aggregates once per corpus.
    freq = _SIMHASH_CACHE.get_or_build(
        corpus + (n_chunks, "freq"),
        lambda: chunks.groupBy("chunk_id", "chunk").agg(
            F.count(F.lit(1)).alias("df")))
    kept = freq if max_bucket is None else freq.filter(
        F.col("df") <= max_bucket)
    # the DROPPED (hot) buckets feed the first-surviving-chunk emission
    # rule, so capped semantics stay those of a pair join (a pair
    # surfaces iff ANY agreeing bucket survives the cap). Each hot
    # bucket holds > max_bucket of the n_rows = n_docs × n_chunks chunk
    # rows, so there are fewer than n_rows/max_bucket of them: a bounded
    # collect, made once per (corpus, n_chunks, max_bucket) and shipped
    # as one broadcast of sorted uint64 arrays.
    meta_key = ("simhash", *corpus, n_chunks, max_bucket)
    if meta_key not in _META:
        hot = [] if max_bucket is None else freq.filter(
            F.col("df") > max_bucket).select("chunk_id", "chunk").collect()
        cid = np.array([r[0] for r in hot], dtype=np.int64)
        # as unsigned: the width-64 chunk (max_hamming=0) is the raw
        # two's-complement simhash and may be negative
        val = np.array([r[1] for r in hot], dtype=np.int64).view(np.uint64)
        _META.put(meta_key, {"bc": sh.sparkSession.sparkContext.broadcast(
            {int(c): np.sort(val[cid == c]) for c in np.unique(cid)})})

    # Pairs are scored INSIDE the buckets (numpy XOR+popcount, ~2 ns per
    # pair) instead of a relational self-join that enumerated every
    # same-bucket pair as an SMJ row (~859M rows at 50k near-dup-dense
    # docs, ~180 ns/pair) and needed a distinct(). A bucket can hold a
    # third of the corpus (17k docs at sf1.0), so it is salt-tiled into
    # ceil(df / _TILE) classes; persisting the tile table saves ~0.6 s
    # per action at sf1.0 over re-deriving it.
    rows = chunks.join(kept, on=["chunk_id", "chunk"]).select(
        "doc_id", "simhash", "chunk_id", "chunk",
        F.ceil(F.col("df") / pairtiles._TILE).cast("int").alias("n_cls"))
    return pairtiles.hamming_pairs(rows, meta_key, max_hamming, bounds,
                                   _META[meta_key]["bc"])

