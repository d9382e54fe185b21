"""The salt-tiled all-pairs kernel behind ``simhash_pairs`` (Hamming
within a pigeonhole bucket) and dense ``ngram_jaccard_pairs`` (shingle
bitmaps over the corpus) — the one place the dedup pair scoring lives.

:func:`_tile_table` cuts each group into the caller's ``R`` classes
(``ceil(size / _TILE)``; dense Jaccard adds a floor that occupies the
cores) by a deterministic ``xxhash64(doc_id)`` salt; a doc replicates
into the R class-pair tiles ``(s1 ≤ s2)`` holding its class, so every
unordered pair lands in exactly one tile of ~2·``_TILE`` docs (the
pair-space tiling of "Cache-oblivious High-performance Similarity
Join", SIGMOD'19, with replication bounded by R as in "Scalable Metric
Similarity Join Using MapReduce", ICDE'19). :func:`_score_tiles` is the
one ``mapInArrow`` tile-slicing stage, :func:`hamming_pairs` and
:func:`bitmap_pairs` the scorers.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..plan_cache import PlanCache

# docs per salt class: a tile scores ≤ ~_TILE² pairs
_TILE = 2048
# uint64 words per scored block matrix (≤ 16 MB): bounds a block's
# XOR/AND temporaries whatever the tile size
_BLOCK_WORDS = 2_000_000
# persisted tile tables of both scorers, keyed by the caller's corpus key
_TILES = PlanCache(capacity=8)


def _popcount_u64(x):
    """SWAR popcount of a uint64 ndarray (numpy<2 has no bitwise_count)
    IN PLACE — ``x`` is overwritten and returned: one scratch array, not
    ~10 block-sized temporaries (1.3-1.8× faster on the block matrices,
    numpy 1.26 on a Xeon)."""
    t = x >> np.uint64(1)
    t &= np.uint64(0x5555555555555555)
    x -= t
    np.right_shift(x, np.uint64(2), out=t)
    t &= np.uint64(0x3333333333333333)
    x &= np.uint64(0x3333333333333333)
    x += t
    np.right_shift(x, np.uint64(4), out=t)
    x += t
    x &= np.uint64(0x0F0F0F0F0F0F0F0F)
    x *= np.uint64(0x0101010101010101)
    x >>= np.uint64(56)
    return x


def _tile_table(rows: DataFrame, keys: list[str], cache_key) -> DataFrame:
    """``rows`` (``doc_id``, group ``keys``, payload and ``n_cls``, the
    group's class count) with a ``salt`` class, exploded into the group's
    ``(s1, s2)`` tiles and persisted in ``_TILES``. The tile-keyed
    repartition is inside the cached build, so warm scoring runs scan →
    sort → MapInArrow with no exchange; its explicit count (2 × cores)
    keeps AQE's byte-based coalescing from folding the compute-bound
    scoring into one partition (19 s vs 2 s)."""
    payload = [c for c in rows.columns if c != "n_cls"]
    n_parts = rows.sparkSession.sparkContext.defaultParallelism * 2

    def build():
        return (
            rows.select(*payload,
                        F.pmod(F.xxhash64("doc_id"), F.col("n_cls"))
                        .cast("int").alias("salt"),
                        F.explode(F.sequence(F.lit(0), F.col("n_cls") - 1))
                        .alias("t"))
            .select(*payload, "salt",
                    F.least("salt", "t").alias("s1"),
                    F.greatest("salt", "t").alias("s2"))
            .repartition(n_parts, *keys, "s1", "s2"))

    return _TILES.get_or_build(cache_key + (_TILE,), build)


def _closed_runs(batches, group: list[str]):
    """``(run, edges)`` over RecordBatches sorted on ``group``: ``run`` a
    ``pa.Table`` of whole tiles, ``edges`` its tile start rows plus its
    length. A batch's last tile may continue, so it is held back as
    slices and concatenated once, when a later batch or the end closes it.
    """
    import pyarrow as pa

    held, held_rows, held_key = [], 0, None
    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        cols = [rb.column(k).to_numpy(zero_copy_only=False) for k in group]
        change = np.zeros(n, dtype=bool)
        for c in cols:
            change[1:] |= c[1:] != c[:-1]
        change[0] = held_key != tuple(c[0] for c in cols)
        starts = np.flatnonzero(change)
        last = int(starts[-1]) if starts.size else 0
        if starts.size:
            # the held rows open the run; its last edge is the open tile
            edges = np.unique(np.r_[0, starts + held_rows]).tolist()
            if len(edges) > 1:
                yield pa.Table.from_batches(held + [rb.slice(0, last)]), edges
            held, held_rows = [], 0
        held.append(rb.slice(last))
        held_rows += n - last
        held_key = tuple(c[-1] for c in cols)
    if held_rows:
        yield pa.Table.from_batches(held), [0, held_rows]


def _block_pairs(l_ids, r_ids, width: int, triangle: bool, block):
    """Kept pairs of left × right rows as ``(doc_a, doc_b, swap, ii, jj,
    val)``, ``doc_a < doc_b`` by id (``swap``: the right row is doc_a),
    ``ii``/``jj`` indexing the left/right rows. ``block(i0, i1) → (keep,
    val)`` scores ``[i1 - i0, nr]`` matrices of at most ``_BLOCK_WORDS``
    (``width`` words per pair). A triangle tile (left is right) keeps
    each unordered pair once (``ii < jj``)."""
    nl, nr = len(l_ids), len(r_ids)
    blk = max(8, _BLOCK_WORDS // max(nr * width, 1))
    for i0 in range(0, nl, blk):
        keep, val = block(i0, min(i0 + blk, nl))
        ii, jj = np.nonzero(keep)
        val = val[ii, jj]
        ii += i0
        if triangle:
            m = ii < jj
            ii, jj, val = ii[m], jj[m], val[m]
        if ii.size:
            ia, ib = l_ids[ii], r_ids[jj]
            swap = ib < ia
            yield (np.where(swap, ib, ia), np.where(swap, ia, ib), swap,
                   ii, jj, val)


def _score_tiles(rows: DataFrame, keys: list[str], cache_key, fields: list,
                 sides, score) -> DataFrame:
    """Pairs of each ``keys`` group of ``rows``, tiled by
    :func:`_tile_table` → ``(doc_a, doc_b, *fields)``. ``sides(run)``
    builds a closed run's per-row arrays once; ``score(key, left, right,
    triangle)`` gets a tile's ``keys`` values and its ``(doc_id, *sides)``
    rows split into class s1 × class s2 and yields output column tuples.
    Slicing tiles out of the sorted batches replaces applyInPandas'
    one-frame-per-group machinery (~1.5 ms/group)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    tiled = _tile_table(rows, keys, cache_key)
    id_type = tiled.schema["doc_id"].dataType
    schema = StructType([StructField("doc_a", id_type),
                         StructField("doc_b", id_type), *fields])
    arrow_schema = to_arrow_schema(schema)
    group = [*keys, "s1", "s2"]

    def run(batches):
        import pyarrow as pa

        for tab, edges in _closed_runs(batches, group):
            gk = [tab.column(k).to_numpy() for k in group]
            cls = tab.column("salt").to_numpy()
            arrs = (tab.column("doc_id").to_numpy(), *sides(tab))
            parts = []
            for g0, g1 in zip(edges[:-1], edges[1:]):
                t1, t2 = gk[-2][g0], gk[-1][g0]
                tile = [a[g0:g1] for a in arrs]
                if t1 == t2:                  # triangle: within one class
                    left = right = tile
                else:                         # class s1 × class s2
                    m = cls[g0:g1] == t1
                    left = [a[m] for a in tile]
                    right = [a[~m] for a in tile]
                parts.extend(score(tuple(k[g0] for k in gk[:-2]),
                                   left, right, t1 == t2))
            if parts:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(c), f.type)
                     for c, f in zip(zip(*parts), arrow_schema)],
                    schema=arrow_schema)

    return tiled.sortWithinPartitions(*group).mapInArrow(run, schema)


def hamming_pairs(rows: DataFrame, cache_key, max_hamming: int,
                  bounds: list, hot_bc) -> DataFrame:
    """``(doc_a, doc_b, hamming)`` of each ``(chunk_id, chunk)`` bucket's
    pairs within ``max_hamming`` bits, emitted once: by the first
    agreeing chunk (``bounds``: ``(lo, width)``) whose bucket is not in
    ``hot_bc``'s ``{chunk_id: sorted uint64 values}`` the cap dropped."""
    def sides(tab):
        return (tab.column("simhash").to_numpy().view(np.uint64),)

    def score(key, left, right, triangle):
        (l_ids, l_hs), (r_ids, r_hs) = left, right
        hot = hot_bc.value

        def block(i0, i1):
            pc = _popcount_u64(l_hs[i0:i1, None] ^ r_hs[None, :])
            return pc <= max_hamming, pc

        for a, b, _, ii, jj, pc in _block_pairs(l_ids, r_ids, 1, triangle,
                                                block):
            ha = l_hs[ii]
            xr = ha ^ r_hs[jj]
            emit = np.ones(ii.size, dtype=bool)
            for cp in range(int(key[0])):      # an earlier agreeing chunk?
                lo, w = bounds[cp]
                m = np.uint64((1 << w) - 1)
                agree = ((xr >> np.uint64(lo)) & m) == 0
                hv = hot.get(cp)
                if hv is not None and agree.any():
                    # a hot bucket there emitted nothing
                    val = (ha >> np.uint64(lo)) & m
                    pos = np.minimum(np.searchsorted(hv, val), len(hv) - 1)
                    agree &= hv[pos] != val
                emit &= ~agree
            if emit.any():
                yield a[emit], b[emit], pc[emit].astype(np.int32)

    return _score_tiles(rows, ["chunk_id", "chunk"], cache_key,
                        [StructField("hamming", IntegerType())], sides, score)


def bitmap_pairs(rows: DataFrame, cache_key, bits_bc,
                 threshold: float) -> DataFrame:
    """``(doc_a, doc_b, n_common, n_a, n_b)`` of pairs sharing ≥1 indexed
    shingle (``shs``, of ``bits_bc``'s ``(sorted hashes, n_words)``) with
    ``n_common / (n_a + n_b − n_common) ≥ threshold`` in float64, the
    JVM double's value; ``n_sh`` is a doc's full shingle count."""
    import pyarrow.compute as pc

    def sides(tab):
        bit_vals, n_words = bits_bc.value
        shs = tab.column("shs")
        idx = np.searchsorted(bit_vals, pc.list_flatten(shs).to_numpy())
        rows = np.repeat(np.arange(tab.num_rows),
                         pc.list_value_length(shs).to_numpy())
        bm = np.zeros((tab.num_rows, n_words), dtype=np.uint64)
        np.bitwise_or.at(bm, (rows, idx >> 6),
                         np.uint64(1) << (idx & 63).astype(np.uint64))
        return bm, tab.column("n_sh").to_numpy()

    def score(key, left, right, triangle):
        (l_ids, l_bm, l_nf), (r_ids, r_bm, r_nf) = left, right

        def block(i0, i1):
            common = _popcount_u64(
                l_bm[i0:i1, None, :] & r_bm[None, :, :]).sum(
                    axis=2, dtype=np.int64)
            # float64 true division; the union is ≥ 1 (every tiled doc
            # has a non-stop shingle, and n_sh counts it)
            j = common / (l_nf[i0:i1, None] + r_nf[None, :] - common)
            return (common >= 1) & (j >= threshold), common

        for a, b, swap, ii, jj, common in _block_pairs(
                l_ids, r_ids, l_bm.shape[1], triangle, block):
            na, nb = l_nf[ii], r_nf[jj]
            yield a, b, common, np.where(swap, nb, na), np.where(swap, na, nb)

    return _score_tiles(
        rows, [], cache_key, [StructField("n_common", LongType()),
                              StructField("n_a", LongType()),
                              StructField("n_b", LongType())], sides, score)
