"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

All primary paths are native Column expressions (JVM, codegen); the
rolling-hash fingerprint is the one pandas UDF (no native 64-bit poly
hash). Oracle-checkable: every native op has a direct ANSI-SQL twin.

The corpus-hygiene operators share two row-local building blocks from
here: :func:`word_ngrams` (a doc's word n-grams, used by dedup
shingling, decontamination grams and the repetition scores) and
:func:`doc_lines` (a doc's trimmed non-empty lines, used by the
repetition scores and both boilerplate operators).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.textnorm import tokenize_ws

# Tiny per-language stopword lists (deterministic, engine-agnostic).
STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "was", "for", "on", "with",
           "a", "an", "that", "this", "it", "by", "at", "from", "as", "are"),
    "de": ("der", "die", "das", "und", "ist", "von", "zu", "mit", "den",
           "im", "auf", "ein", "eine", "nicht", "am", "wird", "dem"),
    "fr": ("le", "la", "les", "et", "de", "des", "un", "une", "est", "en",
           "du", "dans", "que", "pour", "sur", "avec", "au"),
}


def tokens_lower(text_col: str = "text") -> Column:
    # Single-pass form of lower → strip-non-alnum → split → drop-empties:
    # a token is exactly a maximal [a-z0-9]+ run of the lowercased text,
    # so one regexp_extract_all replaces the replace+trim+split+filter
    # chain (4 passes + intermediate copies). Verified equal on the full
    # corpus; measured 1.8 s → 0.25 s at sf1.0. The DuckDB oracle keeps
    # its (frozen) equivalent formulation.
    return F.regexp_extract_all(F.lower(F.col(text_col)),
                                F.lit("[a-z0-9]+"), 0)


def word_ngrams(toks: Column, n: int) -> Column:
    """The space-joined word ``n``-grams of token array ``toks``, in
    order; empty below ``n`` tokens, ``None`` for a ``None`` array.

    ``n`` shifted slices folded with ``zip_with``: O(n·len) per doc (a
    per-position slice is O(len²), measured 10× slower at 300-token
    docs). ``toks`` should be a projected column, not an expression, or
    each slice re-evaluates it.
    """
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for k in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, k + 1, m),
                           lambda g, t: F.concat(g, F.lit(" "), t))
    return grams


def doc_lines(text: Column) -> Column:
    """A doc's non-empty trimmed lines, in order (``None`` text → ``None``).

    The trim is a lambda: ``F.transform(arr, F.trim)`` would bind trim's
    second parameter (the strip characters) to the element index.
    """
    return F.filter(F.transform(F.split(text, "\n"), lambda ln: F.trim(ln)),
                    lambda ln: F.length(ln) > 0)


def stopword_ratio(tokens: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.when(F.size(tokens) > 0,
                  F.size(F.filter(tokens, lambda t: F.array_contains(sw, t)))
                  / F.size(tokens)).otherwise(F.lit(0.0))


def text_metrics(docs: DataFrame, keep: list[str], n: int = 2,
                 text_col: str = "text") -> DataFrame:
    """The ``keep`` columns plus every language-ID, quality and
    repetition column of each doc, from ONE ``tokens_lower`` projection:
    row-local, no join, no shuffle.

    → keep…, pred_lang, confidence, n_chars, n_tokens, mean_token_len,
    punct_ratio, stopword_ratio_en, digit_ratio, quality, dup_line_frac,
    top_ngram_frac, dup_ngram_frac. :func:`language_id`,
    :func:`quality_scores` and :func:`repetition_scores` select from
    this frame; column pruning drops the columns a caller does not
    select, so each computes only its own.

    Every expression that a later one references more than once gets
    its own projection step: HOF lambdas defeat codegen subexpression
    elimination, and CollapseProject keeps a step whose non-cheap
    columns are referenced more than once, so the tokenize chain, each
    stopword filter and the gram hashing run once per row (inlining the
    token array measured 5 evaluations ≈ 7.4 s vs 2.4 s at sf1.0).
    """
    langs = sorted(STOPWORDS)
    text, toks = F.col("_text"), F.col("_toks")
    tok = docs.select(*keep, F.col(text_col).alias("_text"),
                      tokens_lower(text_col).alias("_toks"))

    def char_ratio(pattern: str) -> Column:  # share of chars matching
        n_chars = F.length(text)
        return F.when(
            n_chars > 0,
            (n_chars - F.length(F.regexp_replace(text, pattern, "")))
            / n_chars).otherwise(F.lit(0.0))

    # Repetition keys are 8-byte xxhash64 values, never the line/gram
    # string (the decontam/jaccard house contract): every count is exact
    # at 2^-64 collision odds.
    feats = tok.select(
        *keep, text,
        *[stopword_ratio(toks, lang).alias(f"_r_{lang}") for lang in langs],
        F.size(toks).alias("_n_tok"),
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
        .alias("_tok_chars"),
        char_ratio(r"[^\w\s]").alias("_punct"),
        char_ratio(r"[0-9]").alias("_digit"),
        F.transform(doc_lines(text), lambda ln: F.xxhash64(ln))
        .alias("_lines"),
        F.array_sort(F.transform(word_ngrams(toks, n),
                                 lambda g: F.xxhash64(g))).alias("_grams"))

    # run lengths of the sorted gram hashes: the 1-based positions where
    # a run ends (the next hash differs, or the array ends), then the
    # gaps between consecutive ends
    g = F.col("_grams")
    ends = F.array_compact(F.transform(
        F.zip_with(g, F.slice(g, 2, F.size(g)),
                   lambda x, nxt: nxt.isNull() | (x != nxt)),
        lambda is_end, i: F.when(is_end, i + 1)))
    runs = feats.select(
        "*", F.zip_with(ends, F.concat(F.array(F.lit(0)), ends),
                        lambda e, prev: e - prev).alias("_runs"))

    r = {lang: F.col(f"_r_{lang}") for lang in langs}
    best = F.greatest(*r.values())
    pred = F.lit("und")
    # reverse order so earlier languages win ties (matches SQL CASE order)
    for lang in reversed(langs):
        pred = F.when(r[lang] == best, F.lit(lang)).otherwise(pred)
    n_tokens, sw_en = F.col("_n_tok"), r["en"]
    punct, digit = F.col("_punct"), F.col("_digit")
    quality = (
        F.least(n_tokens / F.lit(20.0), F.lit(1.0)) * 0.3
        + F.least(sw_en * 4, F.lit(1.0)) * 0.3
        + (1 - F.least(punct * 4, F.lit(1.0))) * 0.2
        + (1 - F.least(digit * 4, F.lit(1.0))) * 0.2
    )
    lines, run_len, n_grams = F.col("_lines"), F.col("_runs"), F.size(g)

    def rep(frac: Column, total: Column) -> Column:
        # no lines / fewer than n tokens / null text: nothing to repeat
        return F.round(F.coalesce(F.when(total > 0, frac), F.lit(0.0)), 6)

    return runs.select(
        *keep,
        F.when(best > 0, pred).otherwise(F.lit("und")).alias("pred_lang"),
        F.round(best, 6).alias("confidence"),
        F.length(text).alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(F.when(n_tokens > 0, F.col("_tok_chars") / n_tokens)
                .otherwise(F.lit(0.0)), 6).alias("mean_token_len"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(sw_en, 6).alias("stopword_ratio_en"),
        F.round(digit, 6).alias("digit_ratio"),
        F.round(quality, 6).alias("quality"),
        rep(1 - F.size(F.array_distinct(lines)) / F.size(lines),
            F.size(lines)).alias("dup_line_frac"),
        rep(F.array_max(run_len) / n_grams, n_grams).alias("top_ngram_frac"),
        rep(F.aggregate(run_len, F.lit(0),
                        lambda a, c: a + F.when(c >= 2, c).otherwise(0))
            / n_grams, n_grams).alias("dup_ngram_frac"))


def language_id(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """n-gram-free heuristic language ID: argmax stopword ratio.

    → (doc_id, pred_lang, confidence). Deterministic tie-break by
    language code (ascending) at equal ratios; 'und' when all zero.
    """
    return text_metrics(docs, [id_col], text_col=text_col).select(
        F.col(id_col).alias("doc_id"), "pred_lang", "confidence")


def quality_scores(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword / word-shape quality features.

    → (doc_id, n_chars, n_tokens, mean_token_len, punct_ratio,
    stopword_ratio_en, digit_ratio, quality). ``quality`` is a fixed
    deterministic formula ∈ [0,1] combining the features — a filterable
    score, not a learned model.
    """
    return text_metrics(docs, [id_col], text_col=text_col).select(
        F.col(id_col).alias("doc_id"), "n_chars", "n_tokens",
        "mean_token_len", "punct_ratio", "stopword_ratio_en",
        "digit_ratio", "quality")


def token_counts(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens + BPE-ish subword piece estimate.

    → (doc_id, n_ws_tokens, n_bpe_pieces). The BPE-ish count splits on
    word boundaries AND digit/letter transitions (regexp extract-all) —
    a deterministic proxy for tokenizer budgeting.
    """
    text = F.col(text_col)
    ws = F.size(tokenize_ws(text))
    pieces = F.size(F.regexp_extract_all(
        text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        ws.alias("n_ws_tokens"),
        pieces.alias("n_bpe_pieces"))


def repetition_scores(docs: DataFrame, n: int = 2,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Gopher/MassiveText-style repetition quality signals per doc.

    → (doc_id, dup_line_frac, top_ngram_frac, dup_ngram_frac):

    * ``dup_line_frac``  — 1 − distinct/total over non-empty trimmed
      lines (machine-generated pages repeat whole lines);
    * ``top_ngram_frac`` — occurrences of the single most frequent word
      ``n``-gram / total ``n``-grams (boilerplate-heavy text is
      dominated by one phrase);
    * ``dup_ngram_frac`` — fraction of ``n``-gram OCCURRENCES whose
      gram appears ≥ 2 times in the doc.

    Docs with no lines / fewer than ``n`` tokens score 0 (nothing to
    repeat). Row-local array expressions (see :func:`text_metrics`): the
    line hashes' distinct count, and the run lengths of the doc's sorted
    gram hashes — no explode, aggregation or join. These are the
    standard repetition filters of large-corpus pipelines (Gopher §A1.1
    thresholds plug straight into a filter on this output); not in the
    reference (CoNLL input needs none of this).
    """
    return text_metrics(docs, [id_col], n=n, text_col=text_col).select(
        F.col(id_col).alias("doc_id"), "dup_line_frac", "top_ngram_frac",
        "dup_ngram_frac")


# --------------------------------------------------------- fingerprint

_MOD = (1 << 61) - 1
_BASE = 257


def rolling_fingerprint(text: str, window: int = 16) -> int:
    """Winnowing-style document fingerprint: min rolling polynomial hash
    over byte windows (deterministic; UDF-hosted)."""
    data = text.encode("utf-8")
    if len(data) < window:
        h = 0
        for b in data:
            h = (h * _BASE + b) % _MOD
        return h - (1 << 62) if h > (1 << 62) else h
    h = 0
    pw = pow(_BASE, window - 1, _MOD)
    best = None
    for i, b in enumerate(data):
        h = (h * _BASE + b) % _MOD
        if i >= window:
            h = (h - data[i - window] * pw * _BASE) % _MOD
        if i >= window - 1:
            best = h if best is None else min(best, h)
    return best - (1 << 62) if best > (1 << 62) else best


@F.pandas_udf(LongType())
def fingerprint_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: rolling_fingerprint(t) if t is not None else None)


def document_fingerprints(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, fingerprint int64, content_digest md5).

    The md5 content digest is the oracle-checkable exact-identity key;
    the rolling fingerprint is robust to tail edits.
    """
    return docs.select(
        F.col(id_col).alias("doc_id"),
        fingerprint_udf(F.col(text_col)).alias("fingerprint"),
        F.md5(F.col(text_col)).alias("content_digest"))


def kmv_distinct_tokens(docs: DataFrame, k: int = 32,
                        text_col: str = "text", id_col: str = "doc_id",
                        per_doc: bool = True, n_buckets: int = 64) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch over tokens.

    The web-scale cardinality sketch done engine-agnostically: hash
    every DISTINCT token to a 60-bit value (the first 15 hex chars of
    md5 — DuckDB parses the same value with CAST('0x…' AS BIGINT), so
    the driver hash-checks the estimates exactly), keep the k-th
    smallest per group, and estimate |distinct| = (k−1)·2⁶⁰ / u₍ₖ₎;
    groups with fewer than k distinct tokens report the exact count.
    Sketches are MERGEABLE (the k smallest of a union are among the
    union of the k smallest) — and the corpus-wide mode IMPLEMENTS the
    merge: tokens hash-bucket into ``n_buckets`` groups, each bucket
    keeps its own k minima (row_number window per bucket — bounded,
    distributed sorts), and the global k-th value is read off the union
    of the ≤ ``n_buckets·k`` survivors in one tiny final aggregate. No
    global single-partition window anywhere, the property that makes
    the sketch usable at 100 TB. Relative error ≈ 1/√k.

    ``per_doc=False`` returns a single corpus-wide row
    (doc_id = -1). Output: (doc_id, n_distinct_est double).
    """
    from pyspark.sql import Window

    toks = docs.select(
        (F.col(id_col) if per_doc else F.lit(-1).cast("long")).alias("doc_id"),
        F.explode(tokens_lower(text_col)).alias("token"),
    ).distinct()
    hashed = toks.withColumn(
        "u", F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("long"))
    if per_doc:
        # documents are bounded → one window partition per doc is fine
        w = Window.partitionBy("doc_id").orderBy("u")
        kth = (hashed.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == k)
               .select("doc_id", F.col("u").alias("u_k")))
    else:
        # two-level k-minima merge: the global k smallest are a subset
        # of the union of per-bucket k smallest (each bucket surrenders
        # its own minima), so the final sort touches ≤ n_buckets·k rows
        wb = Window.partitionBy("bucket").orderBy("u")
        survivors = (
            hashed.withColumn("bucket", F.pmod(F.col("u"), F.lit(n_buckets)))
            .withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") <= k))
        kth = (
            survivors.groupBy("doc_id")
            # F.get is 0-indexed and null-safe: < k survivors → null u_k
            # → the exact-count branch below (same contract as per-doc)
            .agg(F.get(F.sort_array(F.collect_list("u")), k - 1).alias("u_k"))
            .filter(F.col("u_k").isNotNull()))
    counts = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    scale = float((k - 1) * (16 ** 15))
    return (
        counts.join(kth, on="doc_id", how="left")
        .select(
            "doc_id",
            F.round(
                F.when(F.col("u_k").isNull(), F.col("n").cast("double"))
                .otherwise(F.lit(scale) / F.col("u_k")), 6)
            .alias("n_distinct_est"))
    )
