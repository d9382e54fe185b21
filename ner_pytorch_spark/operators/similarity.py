"""Similarity search over embedding columns (array<float>).

Spark-first analogue of the reference's faiss kNN (J4,
/root/reference/word_rep.py:26-38): the reference broadcasts an exact
inner-product index; at corpus scale we need both

* ``cosine_topk``      — exact brute-force top-k via a relational
  self-join + window (the baseline; also the DuckDB-oracle-checkable
  path), cosine computed JVM-side with ``zip_with``/``aggregate`` in
  double precision;
* ``broadcast_topk``   — exact top-k against a BROADCAST matrix, one
  numpy matmul per Arrow batch (the reference's shape: index ships to
  executors, queries stream);
* ``lsh_topk``         — approximate: random-hyperplane LSH buckets
  (sign bits of h fixed seeded projections) so only same-bucket pairs
  are scored; the 100 TB scale path (bucket equi-join, no quadratic
  blow-up). Probes multiple tables to trade recall for cost.

All scores are rounded to 6 decimals for engine-agnostic comparison.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                               LongType, StructField, StructType)


# cached IVF assignments (see ivf_topk): keyed by (input plan, params,
# codebook bytes) so interleaved IVF queries over different corpora or
# codebooks each keep their persisted assignment; LRU-bounded
from ..plan_cache import PlanCache, plan_key
from .rounds import partition_results

_IVF_CACHE = PlanCache(capacity=2)


def _matrix(col) -> np.ndarray:
    """A list<float> Arrow column as a float64 [rows, dim] matrix: the
    flat value buffer reshaped, never one ndarray per row."""
    return (col.flatten().to_numpy(zero_copy_only=False)
            .reshape(len(col), -1).astype(np.float64))


def _unit_rows(x: np.ndarray) -> np.ndarray:
    """L2-normalize the rows of ``x`` in place (zero rows stay zero)."""
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return x


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def cosine_scores(pairs: DataFrame, col_a: str = "emb_a", col_b: str = "emb_b") -> DataFrame:
    """Add a ``cosine`` column for paired embedding arrays (JVM-side)."""
    return pairs.withColumn(
        "cosine",
        F.round(_dot(F.col(col_a), F.col(col_b)) /
                (_norm(F.col(col_a)) * _norm(F.col(col_b))), 6))


def cosine_topk(
    embeddings: DataFrame, k: int = 5,
    id_col: str = "vec_id", emb_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k per vector (excluding self).

    Relational plan: self cross-join → cosine → window row_number ≤ k.
    O(N²) scoring — the correctness baseline and small-N path; use
    ``lsh_topk``/``broadcast_topk`` beyond ~10^5 rows.
    Output: (vec_id, neighbor_id, cosine, rank).
    """
    a = embeddings.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("emb_a"))
    b = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("emb_b"))
    scored = cosine_scores(
        a.crossJoin(b).filter(F.col("vec_id") != F.col("neighbor_id")))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )


_TOPK_SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("neighbor_id", LongType()),
    StructField("cosine", DoubleType()),
    StructField("rank", IntegerType()),
])


def broadcast_topk(
    queries: DataFrame, index: DataFrame, k: int = 5,
    id_col: str = "vec_id", emb_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k against a broadcast index (faiss-Flat shape, J4).

    The index side is fetched once as ONE Arrow table (toArrow — the
    row-based collect() deserialized 20k array<float> rows ~2× slower),
    L2-normalized into a numpy matrix, broadcast; queries stream through
    mapInArrow with one matmul per Arrow batch — the embedding column's
    flat value buffer reshapes zero-copy into the [B, dim] query matrix
    instead of boxing one ndarray per row through pandas. No shuffle at
    all.
    """
    import pyarrow as pa

    tbl = index.select(id_col, emb_col).toArrow()
    ids = tbl[0].to_numpy()
    if ids.dtype != np.int64:
        ids = ids.astype(np.int64)
    mat = _unit_rows(_matrix(tbl[1].combine_chunks()))
    bc = queries.sparkSession.sparkContext.broadcast((ids, mat))

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        ids_, mat_ = bc.value
        n_idx = len(ids_)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            scores = _unit_rows(_matrix(rb.column(1))) @ mat_.T
            qids = rb.column(0).to_numpy()
            # Per-query numpy ranking, NOT a batched argsort/argpartition:
            # both batch forms were built and A/B-measured SLOWER here
            # (10k q × 10k idx, k=5: per-row 1.95 s; chunked batch
            # argpartition 2.5-8.7 s by chunk size; full-batch stable
            # argsort 36 s) — each batch step allocates O(B·N) temporaries
            # that exceed the allocator's reuse caches, while the per-row
            # loop's O(N) temporaries stay cached; the ranking work itself
            # is identical. The loop body is 3 vectorized passes over N.
            kk = min(k + 1, n_idx)
            acc = {"vec_id": [], "neighbor_id": [], "cosine": [],
                   "rank": []}
            for row in range(scores.shape[0]):
                qid = int(qids[row])
                sr = scores[row]
                # top-(k+1) on RAW scores via tail argpartition (no
                # negated copy), then rank by the ROUNDED score (the
                # oracle's comparison key): rounding is monotone, so the
                # j-th largest rounded value is round(j-th largest raw) —
                # widening by 6e-7 (> half-ulp of the 1e-6 grid) catches
                # every candidate whose ROUNDED score ties the cut, and
                # only the widened few get rounded, not the whole row.
                part = np.argpartition(sr, n_idx - kk)[n_idx - kk:]
                cut = np.round(sr[part].min(), 6)
                cand = np.flatnonzero(sr >= cut - 6e-7)
                sc = np.round(sr[cand], 6)
                keep = sc >= cut
                cand, sc = cand[keep], sc[keep]
                order = np.lexsort((ids_[cand], -sc))
                rank = 0
                for j in order:
                    ci = cand[j]
                    if not include_self and int(ids_[ci]) == qid:
                        continue
                    if rank >= k:
                        break
                    acc["vec_id"].append(qid)
                    acc["neighbor_id"].append(int(ids_[ci]))
                    acc["cosine"].append(float(sc[j]))
                    acc["rank"].append(rank + 1)
                    rank += 1
            yield pa.RecordBatch.from_arrays(
                [pa.array(acc["vec_id"], pa.int64()),
                 pa.array(acc["neighbor_id"], pa.int64()),
                 pa.array(acc["cosine"], pa.float64()),
                 pa.array(acc["rank"], pa.int32())],
                names=["vec_id", "neighbor_id", "cosine", "rank"])

    return queries.select(id_col, emb_col).mapInArrow(run, _TOPK_SCHEMA)


def kmeans_codebook(embeddings: DataFrame, n_cells: int,
                    id_col: str = "vec_id", emb_col: str = "embedding",
                    sample: int = 4096, iters: int = 10,
                    seed: int = 42) -> np.ndarray:
    """Deterministic spherical k-means codebook for IVF — a distributed
    Lloyd loop that holds only the ``[n_cells, d]`` codebook on the
    driver.

    Initialization: ``n_cells`` rows of a hash-ordered sample (≤
    ``sample`` rows, bounded driver memory at any corpus size) picked
    by a ``seed``-ed permutation. Each iteration is one
    :func:`.rounds.partition_results` round over the FULL corpus: every
    partition assigns its vectors to the broadcast centroids by cosine
    (one matmul per Arrow batch) and returns its per-cell sums and
    counts; the driver adds them, and each non-empty cell moves to its
    re-normalized mean (empty cells keep their centroid). Deterministic
    given (data, partitioning, seed) but NOT engine-replayable (float
    centroids) — the oracle path stays the smallest-id codebook; this
    is the cell-balance upgrade for real clustered embeddings.
    """
    x = _codebook_sample(embeddings, id_col, emb_col, sample)
    rng = np.random.default_rng(seed)
    cents = x[rng.permutation(len(x))[:n_cells]].copy()
    d = cents.shape[1]

    def partials(c, table):
        sums = np.zeros((n_cells, d))
        counts = np.zeros(n_cells, dtype=np.int64)
        for rb in table.to_batches():
            q = _unit_rows(_matrix(rb.column(0)))
            assign = (q @ c.T).argmax(axis=1)
            np.add.at(sums, assign, q)
            np.add.at(counts, assign, 1)
        return sums, counts

    data = embeddings.select(emb_col)
    for _ in range(iters):
        sums = np.zeros((n_cells, d))
        counts = np.zeros(n_cells, dtype=np.int64)
        for part_sums, part_counts in partition_results(data, cents,
                                                        partials):
            sums += part_sums
            counts += part_counts
        for ci in range(n_cells):
            if counts[ci]:
                v = sums[ci] / counts[ci]
                n = np.linalg.norm(v)
                if n > 1e-12:
                    cents[ci] = v / n
    return cents


def _codebook_sample(embeddings: DataFrame, id_col: str, emb_col: str,
                     sample: int) -> np.ndarray:
    """Hash-ordered ≤``sample`` rows, L2-normalized float64."""
    rows = (embeddings.select(id_col, emb_col)
            .orderBy(F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                            F.lit(1_000_003)), id_col)
            .limit(sample).collect())
    return _unit_rows(np.array([r[1] for r in rows], dtype=np.float64))


def ivf_topk(
    embeddings: DataFrame, k: int = 5, n_cells: int = 16, n_probe: int = 4,
    id_col: str = "vec_id", emb_col: str = "embedding",
    max_cell: int | None = 100_000,
    codebook: str = "minid",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the faiss-IVF shape.

    Coarse quantizer: the ``n_cells`` vectors with the SMALLEST ids,
    L2-normalized (deterministic and engine-replayable — a k-means
    codebook has better cell balance but isn't reproducible across
    engines; swap one in via the same broadcast seam on a real cluster).
    Every vector is assigned to its nearest centroid (one Arrow-batched
    matmul); each query probes its ``n_probe`` nearest cells; only
    same-cell pairs are scored (equi-join on cell id) and verified with
    exact JVM left-fold cosine. ``n_probe = n_cells`` degenerates to the
    exact answer (tested). Output schema matches :func:`cosine_topk`.

    Skew guard: a data-dependent codebook can dump most of the corpus
    into one cell, degenerating the candidate equi-join into one giant
    block. ``max_cell`` bounds it — cells above the cap split into
    ``ceil(n/max_cell)`` salted sub-cells (index rows hash to one salt,
    probing queries fan out over all salts of that cell), so the
    candidate SET is unchanged (tested) but no join block exceeds
    ~``max_cell`` index rows. ``None`` disables the guard.

    ``codebook``: ``"minid"`` (deterministic, oracle-replayable) or
    ``"kmeans"`` (:func:`kmeans_codebook` — better cell balance on
    clustered data, full-corpus Lloyd iterations); any other value
    raises ``ValueError``.
    """
    if codebook == "kmeans":
        cents = kmeans_codebook(embeddings, n_cells, id_col, emb_col)
    elif codebook == "minid":
        rows = (embeddings.select(id_col, emb_col)
                .orderBy(id_col).limit(n_cells).collect())
        cents = np.array([r[1] for r in rows], dtype=np.float64)
    else:
        raise ValueError(
            f"codebook must be 'minid' or 'kmeans', got {codebook!r}")
    _unit_rows(cents)
    bc = embeddings.sparkSession.sparkContext.broadcast(cents)

    in_schema = {f.name: f.dataType for f in embeddings.schema.fields}
    assign_schema = StructType([
        StructField("vec_id", in_schema[id_col]),
        StructField("emb", in_schema[emb_col]),
        StructField("cell", IntegerType()),
        StructField("probes", ArrayType(IntegerType())),
    ])

    def assign(batches):
        # mapInArrow: id/emb columns pass through untouched
        import pyarrow as pa

        c = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            dots = _matrix(rb.column(1)) @ c.T              # [B, n_cells]
            # ties → smallest centroid index (lexsort mirror of the
            # oracle's (dot desc, idx asc) ranking)
            order = np.argsort(-dots, axis=1, kind="stable")
            offs = pa.array(
                np.arange(0, (rb.num_rows + 1) * n_probe, n_probe,
                          dtype=np.int32))
            probes = pa.ListArray.from_arrays(
                offs, pa.array(order[:, :n_probe].astype(np.int32).ravel(),
                               pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), rb.column(1),
                 pa.array(order[:, 0].astype(np.int32), pa.int32()), probes],
                names=["vec_id", "emb", "cell", "probes"])

    # the assignment matmul feeds BOTH join sides (index + queries) and,
    # with max_cell, the split-count aggregate — persist so one Arrow
    # pass serves all consumers instead of recomputing per plan subtree.
    # Keyed by (input plan, cols, n_probe, codebook bytes); LRU-bounded.
    import hashlib

    cache_key = (plan_key(embeddings), id_col, emb_col, n_probe,
                 hashlib.md5(cents.tobytes()).hexdigest())
    assigned = _IVF_CACHE.get_or_build(
        cache_key,
        lambda: embeddings.select(id_col, emb_col).mapInArrow(
            assign, assign_schema))
    index = assigned.select("cell", F.col("vec_id").alias("neighbor_id"),
                            F.col("emb").alias("emb_b"))
    queries = assigned.select(
        F.col("vec_id"), F.col("emb").alias("emb_a"),
        F.explode("probes").alias("cell"))
    join_keys = ["cell"]
    if max_cell is not None:
        # per-cell split factor (n_cells rows → broadcast); hot cells
        # shard into salted sub-cells, cold cells keep n_splits = 1
        splits = F.broadcast(
            assigned.groupBy("cell")
            .agg(F.ceil(F.count(F.lit(1)) / max_cell).cast("int")
                 .alias("n_splits"))
            .withColumn("n_splits", F.greatest(F.lit(1), F.col("n_splits"))))
        index = index.join(splits, on="cell").select(
            "cell",
            F.pmod(F.xxhash64("neighbor_id"), F.col("n_splits")).cast("int")
            .alias("salt"),
            "neighbor_id", "emb_b")
        queries = queries.join(splits, on="cell").select(
            "vec_id", "emb_a", "cell",
            F.explode(F.sequence(F.lit(0), F.col("n_splits") - 1))
            .alias("salt"))
        join_keys = ["cell", "salt"]
    pairs = (
        queries.join(index, on=join_keys)
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", "emb_a", "emb_b")
        .dropDuplicates(["vec_id", "neighbor_id"])
    )
    scored = cosine_scores(pairs)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )


def lsh_planes(seed: int, n_tables: int, n_bits: int, dim: int) -> np.ndarray:
    """Deterministic md5-derived hyperplanes [n_tables, n_bits, dim].

    Component (t, j, i) = md5_number("lsh:<seed>:<t>:<j>:<i>") mapped to
    [-1, 1) — the same value DuckDB computes with ``md5_number_upper``
    (little-endian first 8 digest bytes), so bucket assignment is
    recomputable in pure SQL and the operator is oracle-checkable.
    Derived on each executor from (seed, shape): nothing ships in the
    plan (the round-1 version inlined dim×bits×tables literal arrays —
    ~49k plan literals at BERT dims — and blew up the analyzer).
    """
    import hashlib

    vals = np.empty((n_tables, n_bits, dim), dtype=np.float64)
    for t in range(n_tables):
        for j in range(n_bits):
            for i in range(dim):
                u = int.from_bytes(
                    hashlib.md5(f"lsh:{seed}:{t}:{j}:{i}".encode()).digest()[:8],
                    "little")
                vals[t, j, i] = u / 2.0**64 * 2 - 1
    return vals


def lsh_topk(
    embeddings: DataFrame, k: int = 5, n_bits: int = 8, n_tables: int = 2,
    id_col: str = "vec_id", emb_col: str = "embedding", dim: int | None = None,
    seed: int = 42, max_bucket: int | None = 100_000,
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane LSH blocking.

    Each of ``n_tables`` independent hash tables buckets vectors by
    ``n_bits`` sign bits; only same-bucket pairs are scored. Bucketing is
    ONE Arrow-batched matmul per batch (planes rebuilt per executor from
    the seed — no plan literals, no driver collect); candidate scoring is
    JVM-side ``aggregate`` cosine (left-fold → engine-agnostic hashing).
    Shuffle is an equi-join on (table, bucket) — linear in Σ bucket².
    Recall rises with n_tables. Output schema matches :func:`cosine_topk`
    (rank is within the retrieved set).

    Skew guard (``max_bucket``): densely clustered embeddings can put a
    large corpus fraction into ONE (table, bucket) key, turning the
    equi-join quadratic. Buckets over the cap are dropped from blocking
    (recall there is already served by the vector's other ``n_tables``-1
    tables, and a bucket holding >max_bucket near-identical vectors is
    dedup territory, not top-k). The plan does not report which buckets
    it dropped. ``None`` disables the guard.
    """
    in_schema = {f.name: f.dataType for f in embeddings.schema.fields}
    bucket_schema = StructType([
        StructField("vec_id", in_schema[id_col]),
        StructField("emb", in_schema[emb_col]),
        StructField("buckets", ArrayType(LongType())),
    ])
    shape = (seed, n_tables, n_bits)

    def bucketize(batches):
        # mapInArrow: id and embedding columns pass through untouched
        import pyarrow as pa

        planes_flat = None  # [n_tables*n_bits, dim], built on first batch
        weights = (1 << np.arange(n_bits, dtype=np.int64))
        for rb in batches:
            if rb.num_rows == 0:
                continue
            q = _matrix(rb.column(1))
            if planes_flat is None:
                d = dim or q.shape[1]
                planes_flat = lsh_planes(*shape, d).reshape(-1, d)
            bits = (q @ planes_flat.T) > 0            # [B, n_tables*n_bits]
            bkts = (bits.reshape(rb.num_rows, n_tables, n_bits)
                    @ weights).ravel()
            offs = pa.array(
                np.arange(0, (rb.num_rows + 1) * n_tables, n_tables,
                          dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), rb.column(1),
                 pa.ListArray.from_arrays(offs, pa.array(bkts, pa.int64()))],
                names=["vec_id", "emb", "buckets"])

    bucketed = (
        embeddings.select(id_col, emb_col)
        .mapInArrow(bucketize, bucket_schema)
        .select("vec_id", "emb",
                F.posexplode("buckets").alias("table", "bucket"))
    )
    if max_bucket is not None:
        bfreq = bucketed.groupBy("table", "bucket").agg(
            F.count(F.lit(1)).alias("df"))
        bucketed = bucketed.join(bfreq.filter(F.col("df") <= max_bucket),
                                 on=["table", "bucket"]).drop("df")
    a = bucketed.select("table", "bucket", F.col("vec_id").alias("vec_id"),
                        F.col("emb").alias("emb_a"))
    b = bucketed.select("table", "bucket", F.col("vec_id").alias("neighbor_id"),
                        F.col("emb").alias("emb_b"))
    pairs = (
        a.join(b, on=["table", "bucket"])
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", "emb_a", "emb_b")
        .dropDuplicates(["vec_id", "neighbor_id"])
    )
    scored = cosine_scores(pairs)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )
