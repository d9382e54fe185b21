"""Deduplication operators for web-scale corpus hygiene.

Not present in the reference (its dedup is a surface-form uniqueness set,
/root/reference/word_rep.py:151-153) but first-class for a 100 TB
training-data pipeline. Five variants, all over ``documents(doc_id,
text, …)``-shaped tables:

* exact          — md5(text) hash-groupBy; one shuffle on the digest
* word n-gram Jaccard — shingle self-join; bounded by shared-shingle
  blocking (equi-join on shingle), never a cross join
* MinHash + LSH  — md5-based min-hash signatures (engine-agnostic, so
  DuckDB can oracle them), banded into buckets, candidate pairs from
  bucket equi-join, verified with exact Jaccard
* SimHash        — 64-bit token-hash majority vote inside a pandas UDF;
  candidate pairs by 16-bit-chunk pigeonhole blocking
* embedding cosine — near-dup over an embedding column (see
  :mod:`ner_pytorch_spark.operators.similarity`)

Scale notes: every join here is an equi-join on a blocking key
(digest / shingle / band bucket / hash chunk) → shuffle-hash or SMJ on
that key; the quadratic all-pairs comparison never materializes. Skewed
blocks (stop-shingles) are capped with ``max_block`` salting guards.
"""

from __future__ import annotations

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
from .textstats import tokens_lower

_SH_CACHE = PlanCache(capacity=4)
# minhash_lsh_pairs' per-doc table (signature + capped shingle set):
# one bounded row per doc, referenced by the bucket self-join and both
# exact-verify joins — persisted keyed the same way.
_DOC_CACHE = PlanCache(capacity=4)
# simhash_pairs' per-doc (doc_id, simhash) table: one 16-byte row per
# doc, referenced by the bucket-frequency branch and both sides of the
# pigeonhole blocking self-join — persisted keyed the same way so the
# tokenize+hash Pandas UDF runs once per corpus, not once per branch.
_SIMHASH_CACHE = PlanCache(capacity=8)
# dense-jaccard tile tables (repartition inside the cached build — warm
# calls score with zero exchanges, the simhash §2b pattern) and the
# per-corpus policy stats / bit-index vocabulary (3 numbers + a
# broadcast ≤_DENSE_MAX_SHINGLES int64 array; bounded, keyed like the
# plan caches)
_JDENSE_CACHE = PlanCache(capacity=4)


class _MetaMemo(dict):
    """Insertion-ordered memo of the newest ``capacity`` policy entries;
    an entry's bit-index broadcast (``"bc"``) is unpersisted when the
    entry is evicted or cleared."""

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


_JDENSE_META = register(_MetaMemo())


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

    Shingle = n consecutive :func:`tokens_lower` tokens joined by a space.
    Documents shorter than n tokens yield their full token join (one
    shingle) so they still participate.

    Built from n shifted slices folded with zip_with — O(n·len) per doc
    (a per-position slice would be O(len²), measured 10× slower at
    300-token docs).
    """
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       tokens_lower(text_col).alias("toks"))

    def ngrams(col):
        m = F.size(col) - n + 1  # number of n-grams
        acc = F.slice(col, 1, m)
        for i in range(1, n):
            acc = F.zip_with(acc, F.slice(col, 1 + i, m),
                             lambda a, b: F.concat(a, F.lit(" "), b))
        return acc

    sh = toks.select(
        "doc_id",
        F.when(
            F.size("toks") < n, F.array(F.array_join("toks", " "))
        ).otherwise(ngrams(F.col("toks"))).alias("shingles"),
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
    max_block: int = 1000, dense: str | bool = "auto",
) -> DataFrame:
    """Near-dup pairs by exact word-n-gram Jaccard ≥ threshold.

    Blocking: only documents sharing ≥1 shingle are compared (equi-join
    on shingle). Shingles shared by > ``max_block`` docs are dropped
    from blocking (stop-shingles — classic skew guard; they cannot be
    the sole evidence for a high-Jaccard pair in practice).
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    ``dense``: the relational plan degenerates on DENSE corpora — when
    the distinct-shingle vocabulary is small and shingle df stays under
    the stop cap, almost every doc pair shares a shingle and the
    blocking join enumerates ~all-pairs as (pair, shingle) ROWS (36.5M
    rows / 10.3M candidate pairs of 12.5M possible measured at sf0.1),
    then hash-aggregates them — ~340 ns/row. In that regime the same
    candidate set is scored 50-100× cheaper as salt-tiled numpy bitmap
    popcounts (the simhash_pairs house pattern): each doc's non-stop
    shingle set becomes a ≤``_DENSE_MAX_SHINGLES``-bit bitmap and
    |A∩B| is a W-word AND+popcount. "auto" (default) picks the dense
    kernel only when a tiny stats aggregate over the shingle-df table
    proves the regime: vocabulary fits a bitmap, the doc count is
    bounded, and the relational path would already do ≥
    ``_DENSE_MIN_DENSITY`` × all-pairs work — at real corpus scale the
    vocabulary is large and df exceeds the stop cap, so the policy
    keeps the scale-safe blocking join. True forces the dense kernel
    (ValueError when either bound is exceeded), False the blocking join.
    Both paths emit bit-identical rows (same candidate set, same
    long-typed n_common/sizes, the SAME Spark division/round
    expression).
    """
    sh = _cached_shingles(docs, n, text_col, id_col)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # full shingle-df table: the stop set filters it; the dense-path
    # policy aggregates it (3 numbers — no per-shingle data leaves the
    # cluster unless the vocabulary is proven tiny).
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    nonstop = F.col("df") <= max_block
    if dense == "auto" or dense is True:
        # the policy numbers and the bit-index vocabulary are pure
        # functions of (corpus plan, n, cols, max_block) — memoized so a
        # warm call (bench best-of-2, repeated pipeline invocations over
        # one corpus) spends zero driver actions re-deriving them
        meta_key = (plan_key(docs), n, text_col, id_col, max_block)
        meta = _JDENSE_META.get(meta_key)
        if meta is None:
            st = freq.agg(
                F.count(F.when(nonstop, 1)).alias("n_nonstop"),
                F.sum(F.when(nonstop, F.col("df") * (F.col("df") - 1) / 2)
                      ).alias("work"),
            ).collect()[0]
            meta = {"n_nonstop": st["n_nonstop"] or 0,
                    "work": float(st["work"] or 0.0), "n_docs": None}
            _JDENSE_META.put(meta_key, meta)
        n_nonstop, work = meta["n_nonstop"], meta["work"]
        # the dense kernel collects the bit-index vocabulary to the driver
        # and tiles every doc: forcing it past either bound is an error,
        # not an unbounded collect
        if dense is True and n_nonstop > _DENSE_MAX_SHINGLES:
            raise ValueError(
                f"dense=True: {n_nonstop} non-stop shingles exceed "
                f"_DENSE_MAX_SHINGLES={_DENSE_MAX_SHINGLES}")
        if 0 < n_nonstop <= _DENSE_MAX_SHINGLES:
            if meta["n_docs"] is None:
                meta["n_docs"] = sizes.count()
            n_docs = meta["n_docs"]
            if dense is True and n_docs > _DENSE_MAX_DOCS:
                raise ValueError(
                    f"dense=True: {n_docs} docs exceed "
                    f"_DENSE_MAX_DOCS={_DENSE_MAX_DOCS}")
            all_pairs = n_docs * (n_docs - 1) / 2
            if dense is True or (2 <= n_docs <= _DENSE_MAX_DOCS and
                                 work >= _DENSE_MIN_DENSITY * all_pairs):
                return _jaccard_dense(sh, sizes, freq, nonstop, threshold,
                                      meta, meta_key)
    # anti-join against the (tiny, AQE-broadcastable) stop-shingle set
    # instead of an equi-join with the full corpus df table — same rows,
    # no by-shingle re-shuffle of the corpus shingle relation.
    stop = freq.filter(F.col("df") > max_block)
    blocked = sh.join(stop, on="shingle", how="left_anti")

    # the blocking self-join runs on xxhash64(shingle), not the string:
    # the join key drops from a ~20-byte string to 8 bytes and the SMJ
    # compares longs — the same key-narrowing decontam uses (its
    # "the join key is 8 bytes, never the string" contract). Distinct
    # shingles per doc are distinct hashes (2^-64 collision odds), so
    # n_common is unchanged. Matters when a dense vocabulary keeps
    # shingle df UNDER the stop cap: at sf0.1 corpus_prep's bigram
    # near-dedup legitimately enumerates ~13M (pair, shingle) rows.
    blocked_h = blocked.select("doc_id", F.xxhash64("shingle").alias("sh"))
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
    return (
        common.join(sa, on="doc_a").join(sb, on="doc_b")
        .withColumn("jaccard",
                    F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# dense-regime policy bounds for ngram_jaccard_pairs (see its docstring):
# bitmap ≤ 64 uint64 words/doc, tiles bounded like simhash's, and the
# kernel only fires when the relational plan would already enumerate at
# least this fraction of all-pairs (measured break-even is ~0.015 —
# 340 ns/enumerated row vs ~5 ns/bitmap-pair at W=15 — so 0.1 is a 6×
# safety margin; below it the blocking join is the cheaper plan).
_DENSE_MAX_SHINGLES = 4096
_DENSE_MAX_DOCS = 200_000
_DENSE_MIN_DENSITY = 0.1
_JTILE = 2048


def _popcount_u64(x):
    """SWAR popcount over a uint64 ndarray (numpy<2 has no bitwise_count)."""
    import numpy as np

    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = ((x & np.uint64(0x3333333333333333))
         + ((x >> np.uint64(2)) & np.uint64(0x3333333333333333)))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def _jaccard_dense(sh: DataFrame, sizes: DataFrame, freq: DataFrame,
                   nonstop, threshold: float, meta: dict,
                   meta_key) -> DataFrame:
    """Dense-corpus Jaccard kernel: per-doc shingle BITMAPS scored with
    salt-tiled numpy AND+popcount (the simhash_pairs pattern).

    Semantics are exactly the relational path's: a pair surfaces iff it
    shares ≥1 NON-STOP shingle; n_common counts common non-stop
    shingles; sizes n_a/n_b are the FULL distinct-shingle counts
    (including stopped ones); jaccard = n_common/(n_a+n_b−n_common)
    compared ≥ threshold unrounded, then rounded to 6. The kernel
    filters by threshold in float64 (bit-identical to the JVM double)
    and emits the integer evidence (n_common, n_a, n_b); the OUTPUT
    jaccard is computed by the same Spark expression as the relational
    branch, so values hash identically.

    Only called when the caller proved the vocabulary fits
    ``_DENSE_MAX_SHINGLES`` bits — the bit-index map is a sorted
    driver-side array of the non-stop shingle hashes (bounded collect).
    """
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = sh.sparkSession
    # bit-index vocabulary: memoized next to the policy stats as one
    # broadcast (bounded ≤ _DENSE_MAX_SHINGLES by the caller's proof) so
    # warm calls skip the collect and the re-broadcast; the per-call
    # threshold rides the closure
    if meta.get("bc") is None:
        bit_vals = np.sort(np.array(
            [r[0] for r in freq.filter(nonstop)
             .select(F.xxhash64("shingle")).collect()], dtype=np.int64))
        meta["bc"] = spark.sparkContext.broadcast(
            (bit_vals, (len(bit_vals) + 63) // 64))
    bc = meta["bc"]
    thr = float(threshold)

    # per-doc non-stop hash set + FULL size, salt-tiled into unordered
    # class-pair groups exactly like simhash_pairs: R classes, each doc
    # replicates into the R tiles containing its class, every unordered
    # pair lands in exactly one tile, tiles are ~2·_JTILE docs. The
    # TILE-KEYED REPARTITION lives INSIDE the cached build (the §2b
    # simhash lesson): the cache preserves its partitioning, so warm
    # calls scan already-clustered partitions and the scoring query is
    # scan → sort → MapInPandas with zero exchanges. The explicit
    # numPartitions (cores-derived) keeps AQE's byte-based coalescing
    # from folding the compute-bound stage into one partition.
    # class count: enough tiles to bound per-tile work (~_JTILE² pairs)
    # AND enough to occupy the cores — r(r+1)/2 tiles ≥ 2×parallelism ⇒
    # r ≥ √(4·parallelism) (measured at sf0.1/5k docs: r=3 → 6 tiles on
    # 32 cores ran 1.56 s; r=12+ → 0.75-0.9 s). The size-derived term
    # dominates at scale, so doc replication stays ≤ ceil(N/_JTILE)+ε
    # per doc; the cores term only matters when the corpus is small.
    n_docs = meta["n_docs"]
    par = spark.sparkContext.defaultParallelism
    r_cls = max(1, -(-n_docs // _JTILE), int((4 * par) ** 0.5 + 1))
    n_parts = par * 2

    def _build_tiled():
        stop = freq.filter(~nonstop)
        blocked_h = (sh.join(stop, on="shingle", how="left_anti")
                     .select("doc_id", F.xxhash64("shingle").alias("sh")))
        arrs = (blocked_h.groupBy("doc_id")
                .agg(F.collect_list("sh").alias("shs"))
                .join(sizes, on="doc_id"))
        return (
            arrs.withColumn(
                "salt",
                F.pmod(F.xxhash64("doc_id"), F.lit(r_cls)).cast("int"))
            .select("doc_id", "shs", "n_sh", "salt",
                    F.explode(F.sequence(F.lit(0), F.lit(r_cls - 1)))
                    .alias("t"))
            .select("doc_id", "shs", "n_sh", "salt",
                    F.least("salt", "t").alias("s1"),
                    F.greatest("salt", "t").alias("s2"))
            .repartition(n_parts, "s1", "s2")
        )

    tiled = _JDENSE_CACHE.get_or_build(meta_key + (r_cls,), _build_tiled)
    id_type = sh.schema["doc_id"].dataType
    out_schema = StructType([
        StructField("doc_a", id_type), StructField("doc_b", id_type),
        StructField("n_common", LongType()),
        StructField("n_a", LongType()), StructField("n_b", LongType()),
    ])

    def _score_tile(ids, bm, nf, cls, t1, t2, thr, acc):
        if t1 == t2:
            l_ids, l_bm, l_nf = ids, bm, nf
            r_ids, r_bm, r_nf = ids, bm, nf
            triangle = True
        else:
            ma = cls == t1
            l_ids, l_bm, l_nf = ids[ma], bm[ma], nf[ma]
            r_ids, r_bm, r_nf = ids[~ma], bm[~ma], nf[~ma]
            triangle = False
        nr = len(r_ids)
        if nr == 0 or len(l_ids) == 0:
            return
        nw = bm.shape[1]
        blk = max(8, 2_000_000 // max(nr * nw, 1))  # ≤ ~16 MB AND matrix
        for i0 in range(0, len(l_ids), blk):
            lb = l_bm[i0:i0 + blk]
            common = _popcount_u64(
                lb[:, None, :] & r_bm[None, :, :]).sum(axis=2).astype(np.int64)
            denom = (l_nf[i0:i0 + blk, None] + r_nf[None, :]).astype(
                np.float64) - common
            with np.errstate(divide="ignore", invalid="ignore"):
                j = common / denom
            keep = (common >= 1) & (j >= thr)
            if triangle:
                ii_all, jj_all = np.nonzero(keep)
                m = (ii_all + i0) < jj_all          # unordered pair once
                ii, jj = ii_all[m], jj_all[m]
            else:
                ii, jj = np.nonzero(keep)
            if not ii.size:
                continue
            # ii indexes the BLOCK → ii + i0 indexes l_ids/l_nf (for the
            # triangle tile that is also the global row, which is what
            # the i<j dedup above compared against jj)
            ia, ib = l_ids[ii + i0], r_ids[jj]
            swap = ib < ia                      # doc_a < doc_b by ID
            acc["a"].append(np.where(swap, ib, ia))
            acc["b"].append(np.where(swap, ia, ib))
            acc["c"].append(common[ii, jj])
            na = l_nf[ii + i0].astype(np.int64)
            nb = r_nf[jj].astype(np.int64)
            acc["na"].append(np.where(swap, nb, na))
            acc["nb"].append(np.where(swap, na, nb))

    def tile_pairs(batches):
        import numpy as np

        bit_vals_, n_words_ = bc.value

        def build_bitmaps(shs_col):
            lens = np.fromiter((len(v) for v in shs_col), dtype=np.int64,
                               count=len(shs_col))
            if lens.sum() == 0:
                return np.zeros((len(shs_col), n_words_), dtype=np.uint64)
            flat = np.concatenate([np.asarray(v, dtype=np.int64)
                                   for v in shs_col])
            idx = np.searchsorted(bit_vals_, flat)
            rows = np.repeat(np.arange(len(shs_col)), lens)
            bm = np.zeros((len(shs_col), n_words_), dtype=np.uint64)
            np.bitwise_or.at(bm, (rows, (idx >> 6).astype(np.int64)),
                             np.uint64(1) << (idx & 63).astype(np.uint64))
            return bm

        def flush(pdf, acc):
            s1v = pdf["s1"].to_numpy()
            s2v = pdf["s2"].to_numpy()
            change = np.empty(len(pdf), dtype=bool)
            change[0] = True
            change[1:] = (s1v[1:] != s1v[:-1]) | (s2v[1:] != s2v[:-1])
            starts = np.flatnonzero(change)
            last = starts[-1]
            if last == 0:
                return pdf                      # one (continuing) group
            carry = pdf.iloc[last:]
            ids = pdf["doc_id"].to_numpy()
            bm = build_bitmaps(pdf["shs"].to_numpy())
            nf = pdf["n_sh"].to_numpy().astype(np.int64)
            cls = pdf["salt"].to_numpy()
            edges = starts[starts < last].tolist() + [int(last)]
            for g0, g1 in zip(edges[:-1], edges[1:]):
                _score_tile(ids[g0:g1], bm[g0:g1], nf[g0:g1], cls[g0:g1],
                            int(s1v[g0]), int(s2v[g0]), thr, acc)
            return carry

        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            acc = {"a": [], "b": [], "c": [], "na": [], "nb": []}
            carry = flush(pdf, acc)
            if acc["a"]:
                yield pd.DataFrame({
                    "doc_a": np.concatenate(acc["a"]),
                    "doc_b": np.concatenate(acc["b"]),
                    "n_common": np.concatenate(acc["c"]),
                    "n_a": np.concatenate(acc["na"]),
                    "n_b": np.concatenate(acc["nb"])})
        if carry is not None and len(carry):
            acc = {"a": [], "b": [], "c": [], "na": [], "nb": []}
            ids = carry["doc_id"].to_numpy()
            bm = build_bitmaps(carry["shs"].to_numpy())
            nf = carry["n_sh"].to_numpy().astype(np.int64)
            cls = carry["salt"].to_numpy()
            _score_tile(ids, bm, nf, cls, int(carry["s1"].iloc[0]),
                        int(carry["s2"].iloc[0]), thr, acc)
            if acc["a"]:
                yield pd.DataFrame({
                    "doc_a": np.concatenate(acc["a"]),
                    "doc_b": np.concatenate(acc["b"]),
                    "n_common": np.concatenate(acc["c"]),
                    "n_a": np.concatenate(acc["na"]),
                    "n_b": np.concatenate(acc["nb"])})

    # the cached tile table is already hash-partitioned on the group
    # keys; the in-partition sort makes each tile's rows contiguous for
    # the manual group slicing — scan → sort → MapInPandas, no exchange.
    scored = (tiled.sortWithinPartitions("s1", "s2")
              .mapInPandas(tile_pairs, out_schema))
    return (
        scored
        .withColumn("jaccard",
                    F.col("n_common")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --------------------------------------------------------- MinHash LSH


def minhash_signatures(docs: DataFrame, n_hashes: int = 16, n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, seed, minhash): md5-keyed min-hash per seed.

    h_i(shingle) = md5(i || ':' || shingle); the signature entry is the
    lexicographic MIN digest — engine-agnostic (DuckDB computes the same
    md5), deterministic, and a valid min-wise hash family for Jaccard
    estimation. One shuffle: groupBy(doc_id, seed).
    """
    return minhash_signatures_from_shingles(
        word_shingles(docs, n, text_col, id_col), n_hashes)


def minhash_signatures_from_shingles(sh: DataFrame,
                                     n_hashes: int = 16) -> DataFrame:
    """Signature computation over a prepared (doc_id, shingle) table —
    the driver-checked (doc_id, seed, minhash) long format."""
    seeds = sh.sparkSession.range(n_hashes).select(
        F.col("id").cast("int").alias("seed"))
    return (
        sh.crossJoin(F.broadcast(seeds))
        .select("doc_id", "seed",
                F.md5(F.concat_ws(":", F.col("seed"), F.col("shingle"))).alias("h"))
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("minhash"))
    )


def _lsh_buckets(sh: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket_key) in ONE shuffle.

    The long-format path costs two shuffles and a 16× row blowup
    (explode seeds → groupBy(doc_id, seed) → groupBy(doc_id, band));
    here each of the ``n_hashes`` min-hashes is its own aggregate
    column over the shingle rows (map-side partial min, one shuffle of
    n_docs rows), and band keys are pure projections — ``stack`` long-
    forms the bands without any exchange. Bucket keys are seed-tagged
    concats, so (band, key) equality is exactly "all rows of the band
    agree" — the same candidate set as the long path (tested equal).
    """
    sig_wide = sh.groupBy("doc_id").agg(*_minhash_aggs(n_hashes))
    return _band_stack(sig_wide, n_hashes, bands)


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

    import numpy as np

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
    one linear groupBy). Dropped buckets are observable via
    :func:`hot_buckets`. ``None`` disables the guard (fully lossless).
    """
    n_chunks = max_hamming + 1
    if n_chunks > 64:
        raise ValueError("max_hamming must be < 64")
    # the per-doc simhash table is referenced by the bucket-frequency
    # branch and BOTH sides of the blocking self-join — persist it (one
    # 16-byte row per doc) so the tokenize+hash subplan runs once, not
    # 4×. Same keyed-cache house pattern as the LSH doc table.
    sh = _SIMHASH_CACHE.get_or_build(
        (plan_key(docs), text_col, id_col),
        lambda: docs.select(
            F.col(id_col).alias("doc_id"),
            simhash_udf(tokens_lower(text_col)).alias("simhash"),
        ))
    def _chunk(lo: int, width: int):
        c = F.shiftrightunsigned("simhash", lo)
        if width < 64:  # (1<<64)-1 overflows LongType; width 64 = whole hash
            c = c.bitwiseAND(F.lit((1 << width) - 1))
        return c

    chunks = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk_id"), _chunk(lo, width).alias("chunk"))
            for i, (lo, width) in enumerate(_chunk_bounds(n_chunks))
        ])).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_id", "c.chunk")
    # bucket-frequency table: referenced by the in-plan cap join AND the
    # driver-side hot-set collect below — persist it (≤ n_chunks×2^width
    # tiny rows) so it aggregates once per corpus, not twice per call.
    freq = _SIMHASH_CACHE.get_or_build(
        (plan_key(docs), text_col, id_col, n_chunks, "freq"),
        lambda: chunks.groupBy("chunk_id", "chunk").agg(
            F.count(F.lit(1)).alias("df")))
    hot_vals: dict[int, "object"] = {}
    if max_bucket is not None:
        kept = freq.filter(F.col("df") <= max_bucket)
        # the DROPPED (hot) buckets — bounded by n_rows/max_bucket, so
        # always a tiny driver-side set — feed the first-surviving-chunk
        # emission rule below so capped semantics stay exactly those of
        # the old pair join (a pair surfaces iff ANY agreeing bucket
        # survives the cap).
        import numpy as np

        for r in freq.filter(F.col("df") > max_bucket) \
                     .select("chunk_id", "chunk").collect():
            # mask to unsigned: the width-64 chunk (max_hamming=0) is the
            # raw two's-complement simhash and may be negative
            hot_vals.setdefault(int(r["chunk_id"]), []).append(
                int(r["chunk"]) & 0xFFFFFFFFFFFFFFFF)
        hot_vals = {c: np.asarray(v, dtype=np.uint64)
                    for c, v in hot_vals.items()}
    else:
        kept = freq

    # Pair generation + Hamming verify INSIDE the bucket groups, numpy-
    # vectorized (guide §4.2), instead of a relational self-join on
    # (chunk_id, chunk). The old join ENUMERATED every same-bucket pair
    # as an SMJ output row — ~859M rows at 50k near-dup-dense docs,
    # ~180 ns/pair of row materialization, all shuffled through
    # distinct(). Here bucket rows ship to grouped-UDF tasks (ONE
    # exchange of narrow rows — the same shuffle the join needed) and the
    # O(bucket²) XOR+popcount runs as blocked numpy at ~2 ns/pair. Each
    # qualifying pair is emitted EXACTLY ONCE — by its first agreeing
    # chunk whose bucket survived the cap — so the distinct() disappears
    # along with its exchange. The candidate SET is identical (pigeonhole
    # argument unchanged); work is still Σ bucket², still bounded by the
    # max_bucket skew guard.
    #
    # Skew (guide §2.5): one bucket can hold a third of the corpus
    # (17k docs → 300M popcounts at sf1.0), so a bucket is SALT-TILED
    # into R = ceil(df / _TILE) classes (deterministic xxhash64 salt, the
    # max_cell house pattern): each doc replicates R ways into the
    # R(R+1)/2 unordered class-pair groups (s1 ≤ s2), each group scoring
    # only classA × classB — every unordered doc pair lands in exactly
    # one tile, tiles are ~_TILE² popcounts, and the giant bucket
    # parallelizes instead of straggling.
    bounds = _chunk_bounds(n_chunks)
    id_type = sh.schema["doc_id"].dataType
    from pyspark.sql.types import IntegerType, StructField, StructType
    out_schema = StructType([
        StructField("doc_a", id_type), StructField("doc_b", id_type),
        StructField("hamming", IntegerType()),
    ])
    _TILE = 2048
    tiled = (
        chunks.join(kept, on=["chunk_id", "chunk"])
        .withColumn("n_splits",
                    F.greatest(F.lit(1), F.ceil(F.col("df") / _TILE))
                    .cast("int"))
        .withColumn("salt",
                    F.pmod(F.xxhash64("doc_id"), F.col("n_splits"))
                    .cast("int"))
        .select("doc_id", "simhash", "chunk_id", "chunk", "salt",
                F.explode(F.sequence(F.lit(0), F.col("n_splits") - 1))
                .alias("t"))
        .select("doc_id", "simhash", "chunk_id", "chunk", "salt",
                F.least("salt", "t").alias("s1"),
                F.greatest("salt", "t").alias("s2"))
    )
    # persist the tile table (n_docs×n_chunks×R narrow rows) — the same
    # keyed-cache unit as sh/freq: explode+cap-join+salting is identical
    # across calls over one corpus and re-deriving it cost ~0.6 s per
    # action at sf1.0. The TILE-KEYED REPARTITION lives INSIDE the
    # cached build: the cache preserves its partitioning, so warm calls
    # scan already-clustered partitions and the scoring query runs with
    # ZERO exchanges (the 45k-row exchange alone cost 0.69 s of task
    # overhead at sf0.1 when it sat on the per-call path). Explicit
    # numPartitions keeps AQE's byte-based coalescing from folding the
    # compute-bound stage into one partition (measured 19 s vs 2 s);
    # sized from cores, not bytes.
    n_parts = sh.sparkSession.sparkContext.defaultParallelism * 2
    tiled = _SIMHASH_CACHE.get_or_build(
        (plan_key(docs), text_col, id_col, n_chunks, max_bucket, "tiled"),
        lambda: tiled.repartition(n_parts, "chunk_id", "chunk", "s1", "s2"))

    def _score_group(c, t1, t2, ids, hs_arr, cls, acc_a, acc_b, acc_h):
        """Score ONE (chunk_id, chunk, s1, s2) tile — identical popcount/
        emit-once semantics as the round-7 grouped-map form; results are
        appended to the caller's accumulators."""
        import numpy as np

        def popcount64(x):
            x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
            x = ((x & np.uint64(0x3333333333333333))
                 + ((x >> np.uint64(2)) & np.uint64(0x3333333333333333)))
            x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
            return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)

        if t1 == t2:                 # triangle tile: within one class
            l_ids, l_hs = ids, hs_arr
            r_ids, r_hs = ids, hs_arr
            triangle = True
        else:                        # bipartite tile: class s1 × class s2
            ma = cls == t1
            l_ids, l_hs = ids[ma], hs_arr[ma]
            r_ids, r_hs = ids[~ma], hs_arr[~ma]
            triangle = False
        nr = len(r_ids)
        blk = max(16, 4_000_000 // max(nr, 1))   # ≤ ~32 MB XOR matrix
        kmax = np.uint64(max_hamming)
        for i0 in range(0, len(l_ids), blk):
            lblk = l_hs[i0:i0 + blk]
            pc = popcount64(lblk[:, None] ^ r_hs[None, :])
            ii, jj = np.nonzero(pc <= kmax)
            if triangle:
                keep = (ii + i0) < jj            # unordered pair once
                ii, jj = ii[keep] + i0, jj[keep]
            if not ii.size:
                continue
            ha, hb = l_hs[ii], r_hs[jj]
            xr = ha ^ hb
            emit = np.ones(ii.size, dtype=bool)
            for cp in range(c):                  # earlier agreeing chunk?
                lo, w = bounds[cp]
                m = np.uint64((1 << w) - 1)
                agree = ((xr >> np.uint64(lo)) & m) == 0
                hv = hot_vals.get(cp)
                if hv is not None and agree.any():
                    val = (ha >> np.uint64(lo)) & m
                    agree &= ~np.isin(val, hv)   # hot bucket: not emitted there
                emit &= ~agree
            ii, jj, xr = ii[emit], jj[emit], xr[emit]
            if not ii.size:
                continue
            ia, ib = l_ids[ii], r_ids[jj]
            swap = ib < ia                       # doc_a < doc_b by ID
            acc_a.append(np.where(swap, ib, ia))
            acc_b.append(np.where(swap, ia, ib))
            acc_h.append(popcount64(xr).astype(np.int32))

    def partition_pairs(batches):
        """mapInPandas over a KEY-partitioned, KEY-SORTED stream of tile
        rows: group boundaries are sliced manually with numpy instead of
        letting applyInPandas frame one Arrow batch + one pandas
        DataFrame PER GROUP — measured ~1.5 ms/group of pure machinery
        (913 groups at sf0.1 cost 1.4 s with a trivial UDF; the popcount
        itself was ~0.2 s). Rows of one tile are contiguous (sorted), so
        a batch is scored group-run by group-run; only an incomplete
        LAST group is carried into the next batch — peak extra memory is
        one tile (~2·_TILE rows), not the partition."""
        import numpy as np

        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            n = len(pdf)
            if n == 0:
                continue
            cid = pdf["chunk_id"].to_numpy()
            chk = pdf["chunk"].to_numpy()
            s1v = pdf["s1"].to_numpy()
            s2v = pdf["s2"].to_numpy()
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = ((cid[1:] != cid[:-1]) | (chk[1:] != chk[:-1])
                          | (s1v[1:] != s1v[:-1]) | (s2v[1:] != s2v[:-1]))
            starts = np.flatnonzero(change)
            last = starts[-1]
            if last == 0:            # whole batch is one (possibly
                carry = pdf          # continuing) group — hold it back
                continue
            carry = pdf.iloc[last:]
            ids = pdf["doc_id"].to_numpy()
            hs_arr = pdf["simhash"].to_numpy().astype(np.int64).view(np.uint64)
            cls = pdf["salt"].to_numpy()
            acc_a, acc_b, acc_h = [], [], []
            edges = starts[starts < last].tolist() + [int(last)]
            for g0, g1 in zip(edges[:-1], edges[1:]):
                _score_group(int(cid[g0]), int(s1v[g0]), int(s2v[g0]),
                             ids[g0:g1], hs_arr[g0:g1], cls[g0:g1],
                             acc_a, acc_b, acc_h)
            if acc_a:
                yield pd.DataFrame({"doc_a": np.concatenate(acc_a),
                                    "doc_b": np.concatenate(acc_b),
                                    "hamming": np.concatenate(acc_h)})
        if carry is not None and len(carry):
            ids = carry["doc_id"].to_numpy()
            hs_arr = carry["simhash"].to_numpy().astype(np.int64).view(np.uint64)
            cls = carry["salt"].to_numpy()
            acc_a, acc_b, acc_h = [], [], []
            _score_group(int(carry["chunk_id"].iloc[0]),
                         int(carry["s1"].iloc[0]), int(carry["s2"].iloc[0]),
                         ids, hs_arr, cls, acc_a, acc_b, acc_h)
            if acc_a:
                yield pd.DataFrame({"doc_a": np.concatenate(acc_a),
                                    "doc_b": np.concatenate(acc_b),
                                    "hamming": np.concatenate(acc_h)})

    # The in-partition sort makes each tile's rows contiguous for
    # partition_pairs' manual group slicing (16-byte rows; the sort is
    # noise next to popcount). No exchange here: the cached tile table
    # is already hash-partitioned on the group keys (see above), so
    # every tile's rows are co-located and the scoring stage is
    # scan → sort → MapInPandas.
    return (tiled.sortWithinPartitions("chunk_id", "chunk", "s1", "s2")
            .mapInPandas(partition_pairs, out_schema))


def hot_buckets(keyed: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Blocking keys whose frequency exceeds ``cap`` — the rows a
    ``max_bucket``/``max_block`` guard drops. Callers log/inspect this
    (one extra aggregate) instead of the guard forcing an action inside
    the lazy pair plan. → (*keys, df) ordered by df desc."""
    return (keyed.groupBy(*keys).agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > cap).orderBy(F.desc("df")))
