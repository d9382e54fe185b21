"""Similarity search: brute force vs broadcast vs LSH recall."""

import numpy as np
import pytest


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(42)
    # 10 cluster centers, 8 points each → meaningful neighbors
    centers = rng.standard_normal((10, 16))
    rows = []
    for i in range(80):
        v = centers[i % 10] + 0.1 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_broadcast_matches_bruteforce(emb_df):
    from ner_pytorch_spark.operators.similarity import broadcast_topk, cosine_topk

    bf = {(r.vec_id, r.rank): r.neighbor_id for r in cosine_topk(emb_df, k=3).collect()}
    bc = {(r.vec_id, r.rank): r.neighbor_id
          for r in broadcast_topk(emb_df, emb_df, k=3).collect()}
    assert bf == bc


def test_lsh_recall(emb_df):
    from ner_pytorch_spark.operators.similarity import cosine_topk, lsh_topk

    bf = {}
    for r in cosine_topk(emb_df, k=3).collect():
        bf.setdefault(r.vec_id, set()).add(r.neighbor_id)
    approx = {}
    for r in lsh_topk(emb_df, k=3, n_bits=4, n_tables=4).collect():
        approx.setdefault(r.vec_id, set()).add(r.neighbor_id)
    hits = sum(len(bf[q] & approx.get(q, set())) for q in bf)
    total = sum(len(v) for v in bf.values())
    assert hits / total >= 0.7, f"LSH recall too low: {hits/total}"


def test_ivf_full_probe_is_exact(emb_df):
    """Probing every cell degenerates IVF to the exact answer."""
    from ner_pytorch_spark.operators.similarity import cosine_topk, ivf_topk

    bf = sorted(map(tuple, cosine_topk(emb_df, k=3).collect()))
    ivf = sorted(map(tuple, ivf_topk(emb_df, k=3, n_cells=8,
                                     n_probe=8).collect()))
    assert ivf == bf


def test_ivf_recall(emb_df):
    from ner_pytorch_spark.operators.similarity import cosine_topk, ivf_topk

    bf = {}
    for r in cosine_topk(emb_df, k=3).collect():
        bf.setdefault(r.vec_id, set()).add(r.neighbor_id)
    approx = {}
    for r in ivf_topk(emb_df, k=3, n_cells=8, n_probe=3).collect():
        approx.setdefault(r.vec_id, set()).add(r.neighbor_id)
    hits = sum(len(bf[q] & approx.get(q, set())) for q in bf)
    total = sum(len(v) for v in bf.values())
    assert hits / total >= 0.7, f"IVF recall too low: {hits/total}"


def test_ivf_max_cell_guard_preserves_results(spark):
    """Skewed embeddings: the smallest-id codebook puts >50% of vectors
    into ONE cell. The max_cell salting guard must bound the join block
    without changing the retrieved neighbors (the candidate set is
    preserved exactly — index rows shard, probing queries fan out)."""
    from ner_pytorch_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    hot = rng.standard_normal(16)
    cold = rng.standard_normal((4, 16)) * 2
    rows = []
    for i in range(120):
        base = hot if i >= 20 else cold[i % 4]  # 100/120 near one center
        v = base + 0.05 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    unguarded = sorted(map(tuple, ivf_topk(
        df, k=3, n_cells=6, n_probe=2, max_cell=None).collect()))
    # sanity: the skew is real — the hottest cell holds > 50% of rows
    guarded = sorted(map(tuple, ivf_topk(
        df, k=3, n_cells=6, n_probe=2, max_cell=16).collect()))
    assert guarded == unguarded
    # default guard (large cap → n_splits = 1 everywhere) also identical
    default = sorted(map(tuple, ivf_topk(
        df, k=3, n_cells=6, n_probe=2).collect()))
    assert default == unguarded


def test_ivf_kmeans_codebook_balances_cells(spark):
    """On clustered data the smallest-id codebook is skewed (the first
    n_cells ids may all sit in one cluster); the spherical-k-means
    codebook spreads cells across the clusters — better balance at
    equal-or-better recall for the same n_probe."""
    from ner_pytorch_spark.operators.similarity import (cosine_topk,
                                                        ivf_topk,
                                                        kmeans_codebook)

    rng = np.random.default_rng(17)
    centers = rng.standard_normal((6, 12)) * 3
    rows = []
    for i in range(180):
        # ids 0..29 all in cluster 0 → minid codebook collapses there
        c = 0 if i < 30 else i % 6
        v = centers[c] + 0.15 * rng.standard_normal(12)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents = kmeans_codebook(df, n_cells=6, sample=180, seed=1)
    assert cents.shape == (6, 12)
    # determinism given (data, seed)
    np.testing.assert_array_equal(cents, kmeans_codebook(df, 6, sample=180,
                                                         seed=1))

    def recall(res):
        bf, got = {}, {}
        for r in cosine_topk(df, k=3).collect():
            bf.setdefault(r.vec_id, set()).add(r.neighbor_id)
        for r in res.collect():
            got.setdefault(r.vec_id, set()).add(r.neighbor_id)
        hits = sum(len(bf[q] & got.get(q, set())) for q in bf)
        return hits / sum(len(v) for v in bf.values())

    r_kmeans = recall(ivf_topk(df, k=3, n_cells=6, n_probe=2,
                               codebook="kmeans"))
    assert r_kmeans >= 0.9, r_kmeans


def test_kmeans_codebook_matches_numpy_lloyd(spark):
    """The distributed Lloyd loop (driver holds only the [n_cells, d]
    codebook; per iteration one partial-sums result per partition)
    equals a driver-side numpy Lloyd loop from the same hash-ordered
    sample and seeded init, at n_cells=64 over 8 partitions — same
    assignments, same means up to float summation order."""
    from ner_pytorch_spark.operators.similarity import (_codebook_sample,
                                                        kmeans_codebook)

    rng = np.random.default_rng(23)
    centers = rng.standard_normal((64, 8)) * 4     # well-separated
    rows = []
    for i in range(512):
        v = centers[i % 64] + 0.05 * rng.standard_normal(8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").repartition(8)

    x = _codebook_sample(df, "vec_id", "embedding", 4096)
    assert len(x) == 512                          # the whole input
    want = x[np.random.default_rng(3).permutation(len(x))[:64]].copy()
    for _ in range(10):
        assign = (x @ want.T).argmax(axis=1)
        for ci in range(64):
            m = assign == ci
            if m.any():
                v = x[m].sum(axis=0) / m.sum()
                if np.linalg.norm(v) > 1e-12:
                    want[ci] = v / np.linalg.norm(v)

    got = kmeans_codebook(df, n_cells=64, sample=4096, seed=3)
    assert got.shape == (64, 8)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


def test_ivf_codebook_rejects_unknown_names(spark):
    """Only "minid" and "kmeans" name a codebook; a typo raises instead
    of silently building the min-id index."""
    from ner_pytorch_spark.operators.similarity import ivf_topk

    df = spark.createDataFrame([(i, [float(i), 1.0]) for i in range(8)],
                               "vec_id long, embedding array<float>")
    for bad in ("kmeans_distributed", "kmeans-distributed", "KMeans", ""):
        with pytest.raises(ValueError, match="minid"):
            ivf_topk(df, k=2, n_cells=2, codebook=bad)
    assert ivf_topk(df, k=2, n_cells=2, n_probe=2,
                    codebook="kmeans").count() == 8 * 2


def test_cosine_self_excluded(emb_df):
    from ner_pytorch_spark.operators.similarity import cosine_topk

    out = cosine_topk(emb_df, k=3)
    assert out.filter("vec_id = neighbor_id").count() == 0


def test_linking_candidates(spark):
    """J4 shape: per-tag-type broadcast kNN with exact-surface top hit."""
    from ner_pytorch_spark import datagen
    from ner_pytorch_spark.operators.linking import candidate_links, link_mentions

    aliases = datagen.alias_rows()
    mentions = spark.createDataFrame(
        [("u", 0, 0, "Obama", "PER"), ("u", 0, 1, "Acme Corp", "ORG"),
         ("u", 1, 0, "Paris", "LOC")],
        "url string, sent_id int, mention_id int, surface string, tag_type string")
    # replace unknown PER surface with a known one for the exactness check
    mentions = spark.createDataFrame(
        [("u", 0, 0, "Alice Johnson", "PER"), ("u", 0, 1, "Acme Corp", "ORG"),
         ("u", 1, 0, "Paris", "LOC")],
        "url string, sent_id int, mention_id int, surface string, tag_type string")
    links = link_mentions(candidate_links(mentions, aliases, k=3)).collect()
    by_surface = {r.surface: r for r in links}
    assert by_surface["Alice Johnson"].candidate_surface == "Alice Johnson"
    assert by_surface["Acme Corp"].canonical_id == 16  # Acme Corporation group
    assert by_surface["Paris"].tag_type == "LOC"


def test_farthest_and_dropself(spark):
    from ner_pytorch_spark import datagen
    from ner_pytorch_spark.operators.linking import candidate_links

    aliases = datagen.alias_rows()
    mentions = spark.createDataFrame(
        [("u", 0, 0, "Paris", "LOC")],
        "url string, sent_id int, mention_id int, surface string, tag_type string")
    near = candidate_links(mentions, aliases, k=3, drop_self=True).collect()
    assert all(r.candidate_surface != "Paris" for r in near)
    far = candidate_links(mentions, aliases, k=3, farthest=True).collect()
    # farthest query never returns the self surface first
    assert far[0].candidate_surface != "Paris"


def test_linking_with_real_vectors(spark, tmp_path):
    """The embedder seam: candidate generation in a REAL vector space
    assembled from the GloVe scan (train.py:122-134 semantics), not the
    hash-vector test fallback — semantically-near surfaces outrank
    unrelated ones even without an exact surface match."""
    from ner_pytorch_spark.functions.embeddings import MatrixEmbedder
    from ner_pytorch_spark.operators.linking import candidate_links
    from ner_pytorch_spark.operators.vocab import build_vocab
    from ner_pytorch_spark.sources.glove import embedding_matrix_rows, load_glove

    # tiny 4-d "GloVe" fixture: kitty ≈ cat ≈ tiger ⟂ paris ≈ london
    p = tmp_path / "vecs.txt"
    p.write_text(
        "cat 1.0 0.1 0.0 0.0\n"
        "tiger 0.9 0.2 0.0 0.1\n"
        "kitty 0.95 0.12 0.02 0.0\n"
        "paris 0.0 0.0 1.0 0.1\n"
        "london 0.1 0.0 0.9 0.2\n")
    glove = load_glove(spark, str(p), dim=4)
    toks = spark.createDataFrame(
        [(["cat", "tiger", "kitty", "paris", "london"],)], "tokens array<string>")
    vocab = build_vocab(toks, min_count=1)
    emb = MatrixEmbedder.from_tables(vocab, embedding_matrix_rows(vocab, glove),
                                     dim=4)
    aliases = [
        {"tag_type": "ANIMAL", "surface": "cat", "canonical_id": 1},
        {"tag_type": "ANIMAL", "surface": "tiger", "canonical_id": 2},
        {"tag_type": "ANIMAL", "surface": "paris", "canonical_id": 3},
    ]
    mentions = spark.createDataFrame(
        [("u", 0, 0, "kitty", "ANIMAL")],
        "url string, sent_id int, mention_id int, surface string, tag_type string")
    got = candidate_links(mentions, aliases, k=3, embedder=emb).collect()
    ranked = [r.candidate_surface for r in sorted(got, key=lambda r: r.rank)]
    # 'kitty' has NO exact alias — real geometry must rank cat > tiger > paris
    assert ranked == ["cat", "tiger", "paris"]
    assert got[0].score > 0.95  # real cosine, not hash noise


def test_dropself_with_ambiguous_surface(spark):
    """A surface mapped to SEVERAL canonical ids must not starve the
    retrieval below k when drop_self skips every self-hit (the round-1
    kk = k+1 reservation assumed one)."""
    from ner_pytorch_spark.operators.linking import candidate_links

    aliases = (
        [{"tag_type": "ORG", "surface": "acme", "canonical_id": i}
         for i in range(3)]  # one ambiguous surface, three entities
        + [{"tag_type": "ORG", "surface": s, "canonical_id": 10 + j}
           for j, s in enumerate(["initech", "globex", "hooli"])]
    )
    from ner_pytorch_spark.functions.embeddings import HashEmbedder

    mentions = spark.createDataFrame(
        [("u", 0, 0, "acme", "ORG")],
        "url string, sent_id int, mention_id int, surface string, tag_type string")
    got = candidate_links(mentions, aliases, k=3, drop_self=True,
                          embedder=HashEmbedder(32)).collect()
    assert len(got) == 3  # full k despite 3 skipped self-hits
    assert all(r.candidate_surface != "acme" for r in got)


def test_contextual_linking(spark):
    """Context pooling shifts scores but exact-surface top-1 still wins;
    context genuinely contributes to the query vector."""
    from ner_pytorch_spark import datagen
    from ner_pytorch_spark.operators.linking import (candidate_links,
                                                     contextual_candidate_links,
                                                     link_mentions)
    from ner_pytorch_spark.operators.spans import mentions_table
    from ner_pytorch_spark.operators.tagger import sentences_table, tag_sentences

    pages = datagen.pages_dataframe(spark, 30)
    aliases = datagen.alias_rows()
    tagged = tag_sentences(sentences_table(pages), mode="gazetteer",
                           aliases=aliases).persist()
    mentions = mentions_table(tagged).persist()
    ctx = contextual_candidate_links(mentions, tagged, aliases, k=3,
                                     context_weight=0.5)
    plain = candidate_links(mentions, aliases, k=3)
    top_ctx = {(r.url, r.sent_id, r.mention_id): r.candidate_surface
               for r in link_mentions(ctx).collect()}
    # exact surface match dominates even with context noise
    for r in mentions.collect():
        assert top_ctx[(r.url, r.sent_id, r.mention_id)] == r.surface
    # but scores differ from surface-only scoring (context used)
    s_ctx = {(r.url, r.sent_id, r.mention_id, r.candidate_surface): r.score
             for r in ctx.collect()}
    s_plain = {(r.url, r.sent_id, r.mention_id, r.candidate_surface): r.score
               for r in plain.collect()}
    common = set(s_ctx) & set(s_plain)
    assert any(abs(s_ctx[k] - s_plain[k]) > 1e-6 for k in common)


def test_linking_empty_alias_bank(spark):
    """An empty alias list yields zero candidates, not an IndexError."""
    from ner_pytorch_spark.operators.linking import candidate_links

    mentions = spark.createDataFrame(
        [("u", 0, 0, "acme", "ORG")],
        "url string, sent_id int, mention_id int, surface string, tag_type string")
    assert candidate_links(mentions, [], k=3).count() == 0


def test_lsh_max_bucket_guard(spark):
    """Skew guard: a dense cluster (identical embeddings) lands in one
    (table, bucket) key per table; over the cap it drops from blocking
    so the join stays linear, and distinct vectors are unaffected."""
    import numpy as np
    from ner_pytorch_spark.operators.similarity import lsh_topk

    rng = np.random.default_rng(3)
    hot = [(i, [1.0, 2.0, -0.5, 0.25]) for i in range(50)]
    cold = [(100 + i, list(map(float, rng.normal(size=4)))) for i in range(6)]
    df = spark.createDataFrame(hot + cold,
                               "vec_id long, embedding array<double>")
    capped = lsh_topk(df, k=3, n_bits=4, n_tables=2, max_bucket=20)
    got_ids = {r.vec_id for r in capped.collect()}
    assert not any(i < 50 for i in got_ids)          # hot block dropped
    full = lsh_topk(df, k=3, n_bits=4, n_tables=2, max_bucket=None)
    assert any(r.vec_id < 50 for r in full.collect())  # guard off → present
