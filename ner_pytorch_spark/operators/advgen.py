"""Adversarial-example generation (the reference's second pipeline).

Re-expresses /root/reference/gen_adv_pipline.py's operator stages
Spark-first (SURVEY §2.8 C3-C4, §2.5 O3-O4, §2.2 P8):

* C3 chunk substitution — every detected entity chunk swapped with its
  k-th kNN candidate from the broadcast alias bank
  (word_rep.py:255-334); candidates come from the same broadcast-index
  cosine join as entity linking (J4), with the reference's self-hit
  drop (word_rep.py:206-209) and farthest-neighbor negation trick
  (word_rep.py:201-202).
* C4 PPDB O-segment paraphrase — only outside-entity token runs are
  rewritten via the paraphrase edge table; entity spans pass through
  verbatim (ppdb.py:119-144).
* O3 hard-example mining — per original sentence keep the top-k adv
  variants by model loss (train.py:383-395) = CRF NLL under broadcast
  numpy weights.
* O4 score-filtered select-n — keep the first n variants whose score is
  < ratio × the original's, backfilled from the leftovers when short
  (gen_adv_pipline.py:200-234). The reference scores with GPT-2
  perplexity (M11); no LM ships in this sandbox, so the default scorer
  is a deterministic corpus-unigram surprisal (same shape: lower =
  more fluent), and any (DataFrame → score column) scorer plugs in.
* P8 singleton dropout — train-time regularizer: singleton words → UNK
  with p=0.5 (utils.py:145-155), seeded ``F.rand`` so runs reproduce.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                               StringType, StructField, StructType)

from .linking import candidate_links
from .spans import extract_spans_udf

# ------------------------------------------------------ C3 substitution


def adversarial_substitution(
    tagged: DataFrame,
    aliases: list[dict],
    n_variants: int = 3,
    strategy: str = "nearest",
) -> DataFrame:
    """Per sentence: n adversarial variants, each replacing every entity
    chunk with its rank-r candidate (r = variant_id).

    Plan: spans on the tagged row → explode mentions → broadcast kNN
    candidates (self dropped) → regroup per (sentence, rank) → row-local
    reassembly. The only wide op is the regroup on (url, sent_id) —
    mentions-per-sentence is tiny so the shuffle carries surfaces, not
    token arrays.

    Output: (url, sent_id, variant_id, adv_tokens, adv_tags).
    """
    sp = tagged.withColumn(
        "spans", extract_spans_udf(F.col("pred_tags"), F.col("tokens")))
    mentions = (
        sp.select("url", "sent_id",
                  F.posexplode("spans").alias("mention_id", "span"))
        .select("url", "sent_id", "mention_id",
                F.col("span.start").alias("start"),
                F.col("span.end").alias("end"),
                F.col("span.tag_type").alias("tag_type"),
                F.col("span.surface").alias("surface"))
    )
    cands = candidate_links(
        mentions, aliases, k=n_variants,
        drop_self=True, farthest=(strategy == "farthest"))
    # rejoin span bounds (candidate_links carries the mention key)
    cands = cands.join(
        mentions.select("url", "sent_id", "mention_id", "start", "end"),
        on=["url", "sent_id", "mention_id"])
    subs = (
        cands.groupBy("url", "sent_id", F.col("rank").alias("variant_id"))
        .agg(F.sort_array(F.collect_list(F.struct(
            "start", "end", "candidate_surface", "tag_type"))).alias("subs"))
    )
    base = tagged.select("url", "sent_id", "tokens", "pred_tags")
    joined = subs.join(base, on=["url", "sent_id"])

    out_schema = StructType([
        StructField("url", StringType()),
        StructField("sent_id", IntegerType()),
        StructField("variant_id", IntegerType()),
        StructField("adv_tokens", ArrayType(StringType())),
        StructField("adv_tags", ArrayType(StringType())),
    ])

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("url", "sent_id", "variant_id",
                                    "adv_tokens", "adv_tags")}
            # plain-list zip, not iterrows: building a Series per row
            # costs ~100× the loop body (same fix as linking.py round 1)
            for url, sid, vid, sub_list, tokens, tags in zip(
                    pdf["url"].tolist(), pdf["sent_id"].tolist(),
                    pdf["variant_id"].tolist(), pdf["subs"].tolist(),
                    pdf["tokens"].tolist(), pdf["pred_tags"].tolist()):
                tokens = list(tokens)
                tags = list(tags)
                out_toks: list[str] = []
                out_tags: list[str] = []
                pos = 0
                # subs sorted by start; keep/replace segmentation
                # (word_rep.py:291-334 semantics, sentinel-free)
                for sub in sub_list:
                    s, e = int(sub["start"]), int(sub["end"])
                    cand_toks = sub["candidate_surface"].split(" ")
                    tt = sub["tag_type"]
                    out_toks += tokens[pos:s]
                    out_tags += tags[pos:s]
                    out_toks += cand_toks
                    if len(cand_toks) == 1:
                        out_tags += [f"S-{tt}"]
                    else:
                        out_tags += ([f"B-{tt}"]
                                     + [f"I-{tt}"] * (len(cand_toks) - 2)
                                     + [f"E-{tt}"])
                    pos = e
                out_toks += tokens[pos:]
                out_tags += tags[pos:]
                rows["url"].append(url)
                rows["sent_id"].append(sid)
                rows["variant_id"].append(vid)
                rows["adv_tokens"].append(out_toks)
                rows["adv_tags"].append(out_tags)
            yield pd.DataFrame(rows)

    return joined.mapInPandas(assemble, out_schema)


# ----------------------------------------------------- C4 paraphrase


def o_segment_paraphrase(
    tagged: DataFrame,
    ppdb_edges: DataFrame,
    max_n: int = 2,
    max_edges: int = 2_000_000,
) -> DataFrame:
    """Paraphrase ONLY outside-entity token runs; entity spans verbatim.

    Greedy leftmost-longest non-overlapping replacement within each O
    segment (ppdb.py:85-100 lookup semantics, the intended bigram-first
    behavior — the tokens[idx]-twice bug at ppdb.py:89 is fixed, not
    replicated). Returns only sentences actually changed
    (paraphrase_model.py:104 identity filter).

    The phrase→paraphrase dictionary is collected to the driver and
    broadcast (the reference's in-memory dict, ppdb.py:36-76) — fine for
    Equivalence-filtered PPDB slices, but PPDB-XXL is ~100M pairs and
    would OOM the driver, so the collect is BOUNDED: more than
    ``max_edges`` rows raises with a pointer to the relational J5 path
    (:func:`ner_pytorch_spark.sources.ppdb.paraphrase_ngram_lookup`),
    which joins phrases distributively and has no driver bottleneck.

    Output: (url, sent_id, adv_tokens, adv_tags).
    """
    # limit(max+1).count() bounds the guard's own cost at any table size
    if ppdb_edges.limit(max_edges + 1).count() > max_edges:
        raise ValueError(
            f"ppdb_edges exceeds max_edges={max_edges}; use the "
            "distributed paraphrase_ngram_lookup join path instead of "
            "the broadcast-dict path, or raise max_edges explicitly")
    edges = {r["phrase"]: r["paraphrase"]
             for r in ppdb_edges.select("phrase", "paraphrase").collect()}
    spark = tagged.sparkSession
    bc = spark.sparkContext.broadcast(edges)

    out_schema = StructType([
        StructField("url", StringType()),
        StructField("sent_id", IntegerType()),
        StructField("adv_tokens", ArrayType(StringType())),
        StructField("adv_tags", ArrayType(StringType())),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lut = bc.value
        for pdf in batches:
            rows = {k: [] for k in ("url", "sent_id", "adv_tokens", "adv_tags")}
            # plain-list zip, not iterrows (per-row Series construction
            # dominated the batch body; the greedy leftmost-longest scan
            # itself is inherently sequential per sentence)
            for url, sid, toks_in, tags_in in zip(
                    pdf["url"].tolist(), pdf["sent_id"].tolist(),
                    pdf["tokens"].tolist(), pdf["pred_tags"].tolist()):
                tokens = list(toks_in)
                tags = list(tags_in)
                out_toks: list[str] = []
                out_tags: list[str] = []
                i, changed = 0, False
                while i < len(tokens):
                    if tags[i] != "O":
                        out_toks.append(tokens[i])
                        out_tags.append(tags[i])
                        i += 1
                        continue
                    matched = False
                    for n in range(max_n, 0, -1):
                        if i + n > len(tokens):
                            continue
                        if any(t != "O" for t in tags[i:i + n]):
                            continue
                        phrase = " ".join(tokens[i:i + n])
                        rep = lut.get(phrase)
                        if rep is not None and rep != phrase:
                            rep_toks = rep.split(" ")
                            out_toks += rep_toks
                            out_tags += ["O"] * len(rep_toks)
                            i += n
                            matched = changed = True
                            break
                    if not matched:
                        out_toks.append(tokens[i])
                        out_tags.append("O")
                        i += 1
                if changed:
                    rows["url"].append(url)
                    rows["sent_id"].append(sid)
                    rows["adv_tokens"].append(out_toks)
                    rows["adv_tags"].append(out_tags)
            yield pd.DataFrame(rows)

    return tagged.select("url", "sent_id", "tokens", "pred_tags").mapInPandas(
        run, out_schema)


# --------------------------------------------------- O3 hard examples


def crf_nll_scores(
    adv: DataFrame,
    weights,
    vocab: dict,
    char_vocab: dict,
    tokens_col: str = "adv_tokens",
    tags_col: str = "adv_tags",
) -> DataFrame:
    """Model loss per variant: CRF NLL = logZ − gold-path score under
    broadcast numpy weights (crf.py:47-65 semantics, inference-side),
    one :func:`.backprop.crf_nll_rows` forward per Arrow batch."""
    from .backprop import crf_nll_rows
    from .tagset import iobes_tags

    spark = adv.sparkSession
    tags = iobes_tags()
    tag_ids = {t: i for i, t in enumerate(tags)}
    unk = vocab.get("<UNK>", 0)
    bc = spark.sparkContext.broadcast(
        {"w": weights, "vocab": vocab, "chars": char_vocab,
         "tag_ids": tag_ids, "unk": unk})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            loss = crf_nll_rows(
                v["w"], [list(t) for t in pdf[tokens_col]],
                [list(t) for t in pdf[tags_col]], v["vocab"], v["chars"],
                v["unk"], v["tag_ids"])
            out = pdf[["url", "sent_id"]].copy()
            if "variant_id" in pdf.columns:
                out["variant_id"] = pdf["variant_id"]
            else:
                out["variant_id"] = 0
            out["loss"] = loss.astype(float)
            yield out

    schema = StructType([
        StructField("url", StringType()),
        StructField("sent_id", IntegerType()),
        StructField("variant_id", IntegerType()),
        StructField("loss", DoubleType()),
    ])
    cols = ["url", "sent_id", tokens_col, tags_col] + (
        ["variant_id"] if "variant_id" in adv.columns else [])
    return adv.select(*cols).mapInPandas(run, schema)


def hard_example_topk(scored: DataFrame, k: int = 5) -> DataFrame:
    """O3: keep the k highest-loss variants per original sentence
    (train.py:383-395)."""
    w = Window.partitionBy("url", "sent_id").orderBy(
        F.desc("loss"), F.asc("variant_id"))
    return (
        scored.withColumn("hard_rank", F.row_number().over(w))
        .filter(F.col("hard_rank") <= k)
    )


# ------------------------------------------------ O4 filtered select-n


def unigram_surprisal(
    adv: DataFrame, freqs: DataFrame,
    tokens_col: str = "adv_tokens",
    max_vocab: int = 1_000_000,
) -> DataFrame:
    """Deterministic fluency proxy: mean −log p(token) under corpus
    unigram frequencies (broadcast). Stands in for the reference's
    GPT-2 perplexity (perplexity_est.py:27-67) — same monotone shape
    (lower = more fluent), no LM dependency.

    The broadcast LUT is BOUNDED at the ``max_vocab`` most frequent
    tokens (a web-scale unigram vocabulary exceeds driver memory);
    tail tokens fall through to the same freq-0 smoothing unseen tokens
    already get, so scores are identical whenever the corpus vocabulary
    fits the cap and shift by at most log-of-cutoff-frequency beyond it.
    """
    total = freqs.agg(F.sum("freq")).first()[0]
    top = freqs.orderBy(F.desc("freq"), "token").limit(max_vocab).collect()
    lut = {r["token"]: r["freq"] for r in top}
    spark = adv.sparkSession
    bc = spark.sparkContext.broadcast((lut, float(total)))

    @F.pandas_udf(DoubleType())
    def surprisal(tokens: pd.Series) -> pd.Series:
        lut_, total_ = bc.value
        def score(ts):
            if ts is None or len(ts) == 0:
                return 0.0
            logs = [-np.log((lut_.get(t.lower(), 0) + 1) / (total_ + 1))
                    for t in ts]
            return float(np.mean(logs))
        return tokens.map(score)

    return adv.withColumn("score", surprisal(F.col(tokens_col)))


def bigram_surprisal(
    adv: DataFrame, corpus: DataFrame,
    tokens_col: str = "adv_tokens",
    corpus_tokens_col: str = "tokens",
    alpha: float = 1.0,
    max_vocab: int = 1_000_000,
    max_bigrams: int = 2_000_000,
) -> DataFrame:
    """Context-sensitive fluency proxy: mean −log p(wᵢ | wᵢ₋₁) under a
    corpus bigram model with additive unigram backoff.

    One step closer to the reference's GPT-2 perplexity
    (perplexity_est.py:27-67) than :func:`unigram_surprisal`: word ORDER
    now matters (a scrambled sentence scores strictly worse than the
    original, tested), while staying deterministic and LM-free.
    p(w|prev) = (c(prev,w) + α·p_uni(w)) / (c(prev) + α);
    p_uni(w) = (c(w)+1)/(N+1). Counts come from ONE Spark aggregation
    over the corpus; both LUTs are bounded top-N broadcasts (tail counts
    fall through to backoff — same boundedness contract as
    unigram_surprisal).
    """
    lower_toks = F.transform(F.col(corpus_tokens_col), lambda t: F.lower(t))
    base = corpus.select(lower_toks.alias("t"))
    uni = (base.select(F.explode("t").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    total = uni.agg(F.sum("c")).first()[0] or 1
    uni_lut = {r["w"]: r["c"] for r in
               uni.orderBy(F.desc("c"), "w").limit(max_vocab).collect()}
    bi = (
        base.filter(F.size("t") >= 2)
        .select(F.explode(F.zip_with(
            F.slice("t", 1, F.size("t") - 1),
            F.slice("t", 2, F.size("t") - 1),
            lambda a, b: F.concat(a, F.lit(" "), b))).alias("bg"))
        .groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    )
    bi_lut = {r["bg"]: r["c"] for r in
              bi.orderBy(F.desc("c"), "bg").limit(max_bigrams).collect()}
    spark = adv.sparkSession
    bc = spark.sparkContext.broadcast(
        (uni_lut, bi_lut, float(total), float(alpha)))

    @F.pandas_udf(DoubleType())
    def surprisal(tokens: pd.Series) -> pd.Series:
        uni_, bi_, total_, a_ = bc.value

        def p_uni(w):
            return (uni_.get(w, 0) + 1) / (total_ + 1)

        def score(ts):
            if ts is None or len(ts) == 0:
                return 0.0
            ws = [t.lower() for t in ts]
            logs = [-np.log(p_uni(ws[0]))]
            for prev, w in zip(ws, ws[1:]):
                c_prev = uni_.get(prev, 0)
                c_bi = bi_.get(f"{prev} {w}", 0)
                logs.append(-np.log((c_bi + a_ * p_uni(w)) / (c_prev + a_)))
            return float(np.mean(logs))
        return tokens.map(score)

    return adv.withColumn("score", surprisal(F.col(tokens_col)))


def select_n_filtered(
    scored_adv: DataFrame,
    orig_scores: DataFrame,
    n: int = 2,
    ratio: float = 3.0,
) -> DataFrame:
    """O4 (gen_adv_pipline.py:200-234): per original sentence keep the
    first n variants with score < ratio × original's score; if fewer
    qualify, backfill from the rejected ones in variant order.

    ``orig_scores``: (url, sent_id, score) of the original sentences.
    """
    orig = orig_scores.select("url", "sent_id",
                              F.col("score").alias("orig_score"))
    j = scored_adv.join(orig, on=["url", "sent_id"])
    passed = j.filter(F.col("score") < ratio * F.col("orig_score"))
    w = Window.partitionBy("url", "sent_id").orderBy("variant_id")
    chosen = (passed.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= n).drop("rn"))
    # backfill: rejected variants, variant order, up to the shortfall
    short = (chosen.groupBy("url", "sent_id")
             .agg(F.count(F.lit(1)).alias("n_chosen")))
    rejected = j.join(passed.select("url", "sent_id", "variant_id"),
                      on=["url", "sent_id", "variant_id"], how="left_anti")
    backfill = (
        rejected.join(short, on=["url", "sent_id"], how="left")
        .withColumn("n_chosen", F.coalesce("n_chosen", F.lit(0)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n - F.col("n_chosen"))
        .drop("rn", "n_chosen")
    )
    return chosen.unionByName(backfill)


# ------------------------------------------------- P8 singleton dropout


def singleton_dropout(
    df: DataFrame,
    singletons: DataFrame,
    tokens_col: str = "tokens",
    p: float = 0.5,
    seed: int = 42,
    unk: str = "<UNK>",
) -> DataFrame:
    """Train-time regularizer (utils.py:145-155): tokens that are corpus
    singletons → <UNK> with probability p; seeded, so reproducible.

    ``singletons``: (token) one-column DataFrame (freq == 1 words).

    Membership is resolved RELATIONALLY — posexplode tokens, semi-join
    the singleton table, collect the matching positions back per
    sentence — instead of collecting the whole singleton set to the
    driver (freq-1 words are ~half a web-scale vocabulary; the round-1
    driver collect was unbounded). The UDF then draws one rng sample per
    matched position in ascending order, the exact draw sequence of the
    original per-token loop → outputs are bit-identical.
    """
    key = ["url", "sent_id"]
    pos = (
        df.select(*key, F.posexplode(tokens_col).alias("_pos", "token"))
        .join(singletons.select("token"), on="token", how="left_semi")
        .groupBy(*key)
        .agg(F.sort_array(F.collect_list("_pos")).alias("_sing_pos"))
    )

    @F.pandas_udf(ArrayType(StringType()))
    def drop(tokens: pd.Series, hkey: pd.Series, positions: pd.Series) -> pd.Series:
        out = []
        for ts, k, ps in zip(tokens, hkey, positions):
            if ts is None:
                out.append(None)
                continue
            ts = list(ts)
            if ps is not None and len(ps):
                rng = np.random.default_rng([seed, int(k) % (2**31)])
                for i in ps:
                    if rng.random() < p:
                        ts[i] = unk
            out.append(ts)
        return pd.Series(out)

    return (
        df.join(pos, on=key, how="left")
        .withColumn(tokens_col,
                    drop(F.col(tokens_col),
                         F.xxhash64(*[F.col(c) for c in key]),
                         F.col("_sing_pos")))
        .drop("_sing_pos")
    )


# ------------------------------------------------- the --order cascade


def adv_cascade(
    tagged: DataFrame,
    order: tuple[str, ...] = ("rep", "ppdb", "para"),
    aliases: list[dict] | None = None,
    ppdb_edges: DataFrame | None = None,
    parse_fn=None,
    projector=None,
    n_variants: int = 2,
    temperature: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """The reference's ``--order 'rep,ppdb,para'`` generator cascade
    (gen_adv_pipline.py:298-396): each stage consumes the PREVIOUS
    stage's variants (or the base sentences for the first stage) and
    rewrites them again.

    * ``rep``  → :func:`adversarial_substitution` (C3, needs aliases)
    * ``ppdb`` → :func:`o_segment_paraphrase` (C4, needs ppdb_edges;
      unchanged sentences pass through, keeping the reference's
      len(updated) == len(input) invariant)
    * ``para`` → :func:`ner_pytorch_spark.operators.paraphrase.
      tree_paraphrase` (C4b, needs ``parse_fn``: DataFrame → DataFrame
      adding an ``arcs`` column — a UDPipe-equipped cluster parses the
      current variant text here, exactly where udpipe.py:63-102 does)

    Lineage: each stage folds its variant id into the ``url`` key as
    ``url#<stage><k>`` so per-sentence grouping inside the stage
    operators stays correct without surgery; the output splits it back
    out as ``gen_path`` (the reference's ``agg_name`` file-suffix
    lineage, gen_adv_pipline.py:299-308). First stage fans out
    ``n_variants``-wide, later stages rewrite 1:1 — the cascade's row
    count is bounded by n_variants × sentences at every stage.
    """
    cur = tagged.select("url", "sent_id", "tokens", "pred_tags")
    first = True
    for method in order:
        n_stage = n_variants if first else 1
        if method == "rep":
            if aliases is None:
                raise ValueError("rep stage needs aliases")
            out = adversarial_substitution(cur, aliases,
                                           n_variants=n_stage)
            out = out.withColumn(
                "url", F.concat_ws("#", "url", F.concat(
                    F.lit("rep"), F.col("variant_id").cast("string"))))
        elif method == "ppdb":
            if ppdb_edges is None:
                raise ValueError("ppdb stage needs ppdb_edges")
            changed = o_segment_paraphrase(cur, ppdb_edges)
            out = (cur.join(changed, on=["url", "sent_id"], how="left")
                   .select("url", "sent_id",
                           F.coalesce(changed["adv_tokens"],
                                      cur["tokens"]).alias("adv_tokens"),
                           F.coalesce(changed["adv_tags"],
                                      cur["pred_tags"]).alias("adv_tags"))
                   .withColumn("url", F.concat_ws("#", "url",
                                                  F.lit("ppdb"))))
        elif method == "para":
            from .paraphrase import tree_paraphrase
            if parse_fn is None:
                raise ValueError("para stage needs parse_fn (the parser "
                                 "socket — udpipe.py:63-102)")
            out = tree_paraphrase(parse_fn(cur), projector=projector,
                                  temperature=temperature, n=n_stage,
                                  seed=seed)
            out = out.withColumn(
                "url", F.concat_ws("#", "url", F.concat(
                    F.lit("para"), F.col("variant_id").cast("string"))))
        else:
            raise ValueError(f"unknown cascade stage {method!r}")
        cur = out.select(
            "url", "sent_id",
            F.col("adv_tokens").alias("tokens"),
            F.col("adv_tags").alias("pred_tags"))
        first = False
    split = F.split("url", "#")
    return cur.select(
        F.element_at(split, 1).alias("url"), "sent_id",
        F.array_join(F.slice(split, 2, 64), "/").alias("gen_path"),
        F.col("tokens").alias("adv_tokens"),
        F.col("pred_tags").alias("adv_tags"))
