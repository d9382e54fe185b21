"""Corpus-hygiene operators a production training-data pipeline needs
beyond dedup: benchmark DECONTAMINATION (n-gram overlap between a
training corpus and an evaluation/benchmark set) and domain-scoped
BOILERPLATE removal (lines repeated across many pages of one domain —
the CCNet/trafilatura cleanup shape).

Both are pure relational plans (no UDFs):

* decontamination — hash each doc's word n-grams
  (:func:`~.textstats.word_ngrams`) to int64 (``xxhash64`` — the join
  key is 8 bytes, never the string) and explode the DISTINCT hashes of
  the doc's row on both sides (no shuffle), equi-join train×benchmark on
  the hash, aggregate per training doc. At 100 TB the join is linear in
  Σ df_train(g)·df_bench(g); ubiquitous n-grams (boilerplate runs,
  stopword chains) are the quadratic hot keys, so ``max_bench_df``
  drops n-grams appearing in more than that many benchmark docs — a
  stop-n-gram cap with the same shape as dedup's ``max_block``
  (ubiquitous n-grams carry no contamination signal).
* boilerplate — each doc's lines are one array
  (:func:`~.textstats.doc_lines`: split on ``\\n``, trimmed, empties
  dropped). Counting explodes each doc's DISTINCT lines and counts
  distinct docs per (domain, line) — one shuffle on (domain, line);
  lines above a doc-frequency threshold are boilerplate. Removal never
  leaves the doc's row: the boilerplate lines collapse to ONE row per
  domain (a line set), broadcast onto the docs, and each doc keeps the
  lines not in its domain's set — no explode of the docs, no
  re-assembly, no join back on the doc id.

The reference repo has no decontamination/boilerplate stage (it
consumes CoNLL files); these are engine-side additions for the 100 TB
web corpus the north rule targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plan_cache import PlanCache, plan_key
from .textstats import doc_lines, word_ngrams

# benchmark-side per-doc gram table: referenced by BOTH the stop-n-gram
# cap branch (df ≤ max_bench_df) and the overlap equi-join — Spark
# evaluates each branch independently, so without a persist the
# explode+hash+distinct subplan over the benchmark ran TWICE per call
# (measured 2×0.55 s + the cap agg at 30k-doc scale). Keyed by the
# benchmark's analyzed plan like every other plan cache in the package;
# benchmark sets are small and stable across a decontamination pass, so
# this is the natural unit to persist on a cluster too.
_BENCH_GRAM_CACHE = PlanCache(capacity=2)

_WS = r"\s+"


def doc_ngram_hashes(docs: DataFrame, n: int = 8, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """→ (id_col, gram_hash) — DISTINCT word-n-gram hashes per doc.

    Tokens = the lowercased, space-trimmed text split on ``\\s+`` (the
    DuckDB oracle replays this; dedup's shingles use
    :func:`~.textstats.tokens_lower` instead). The n-gram string is the
    space-join of n consecutive tokens (:func:`~.textstats.word_ngrams`
    over a projected token column, so the split runs once per doc),
    hashed to int64 JVM-side. Docs with fewer than n tokens, and
    ``None`` texts, have no grams. Distinct-per-doc keeps the overlap
    metric "number of shared distinct n-grams", invariant to in-doc
    repetition; it is an ``array_distinct`` inside the doc's row, so it
    costs no shuffle. That makes the output distinct per (id, gram_hash)
    only when each id has one row, which every caller in the package
    has.
    """
    with_toks = docs.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), _WS).alias("_toks"))
    hashes = F.transform(word_ngrams(F.col("_toks"), n),
                         lambda g: F.xxhash64(g))
    return with_toks.select(
        F.col(id_col), F.explode(F.array_distinct(hashes)).alias("gram_hash"))


def benchmark_overlap(train: DataFrame, benchmark: DataFrame, n: int = 8,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_bench_df: int | None = None) -> DataFrame:
    """Contamination report: per training doc, how much of the
    benchmark it leaks.

    → (doc_id, n_shared_ngrams, n_bench_docs): the count of distinct
    n-grams shared with ANY benchmark doc, and the count of distinct
    benchmark docs sharing at least one n-gram. Only training docs with
    ≥1 shared n-gram appear.

    ``max_bench_df`` drops n-grams present in more than that many
    benchmark docs before the join (stop-n-gram skew cap; ``None``
    disables).
    """
    tg = doc_ngram_hashes(train, n, text_col, id_col)
    bg = _BENCH_GRAM_CACHE.get_or_build(
        (plan_key(benchmark), n, text_col, id_col),
        lambda: doc_ngram_hashes(benchmark, n, text_col, id_col).select(
            F.col(id_col).alias("bench_id"), "gram_hash"))
    if max_bench_df is not None:
        keep = (bg.groupBy("gram_hash")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_bench_df)
                .select("gram_hash"))
        bg = bg.join(keep, on="gram_hash")
    return (
        tg.join(bg, on="gram_hash")
        .groupBy(id_col)
        .agg(F.countDistinct("gram_hash").alias("n_shared_ngrams"),
             F.countDistinct("bench_id").alias("n_bench_docs"))
    )


def decontaminate(train: DataFrame, benchmark: DataFrame, n: int = 8,
                  min_shared: int = 1, text_col: str = "text",
                  id_col: str = "doc_id",
                  max_bench_df: int | None = None) -> DataFrame:
    """Training docs with < ``min_shared`` benchmark n-grams — the
    cleaned corpus (left-anti join against the contamination report)."""
    dirty = (benchmark_overlap(train, benchmark, n, text_col, id_col,
                               max_bench_df)
             .filter(F.col("n_shared_ngrams") >= min_shared)
             .select(id_col))
    return train.join(dirty, on=id_col, how="left_anti")


def boilerplate_lines(docs: DataFrame, min_doc_frac: float = 0.2,
                      min_docs: int = 2, text_col: str = "text",
                      id_col: str = "doc_id",
                      domain_col: str = "source") -> DataFrame:
    """Domain-scoped boilerplate table → (domain, line, n_docs,
    doc_frac): non-empty trimmed lines appearing in ≥ ``min_docs``
    distinct docs AND ≥ ``min_doc_frac`` of the domain's docs (nav
    bars, footers, cookie banners — the lines a crawl repeats
    per-site). Each doc contributes its distinct lines once; counting
    is distinct ids per (domain, line), so re-fetches sharing an id
    count once. The per-domain doc totals ride a broadcast of one row
    per domain; a ``None`` domain matches no total, so it has no
    boilerplate.
    """
    per_line = (docs.select(id_col, domain_col,
                            F.explode(F.array_distinct(doc_lines(F.col(text_col))))
                            .alias("line"))
                .groupBy(domain_col, "line")
                .agg(F.countDistinct(id_col).alias("n_docs")))
    totals = F.broadcast(
        docs.groupBy(domain_col)
        .agg(F.countDistinct(id_col).alias("domain_docs")))
    return (
        per_line.join(totals, on=domain_col)
        .withColumn("doc_frac",
                    F.round(F.col("n_docs") / F.col("domain_docs"), 6))
        .filter((F.col("n_docs") >= min_docs)
                & (F.col("doc_frac") >= min_doc_frac))
        .select(domain_col, "line", "n_docs", "doc_frac")
    )


def strip_boilerplate(docs: DataFrame, min_doc_frac: float = 0.2,
                      min_docs: int = 2, text_col: str = "text",
                      id_col: str = "doc_id",
                      domain_col: str = "source") -> DataFrame:
    """Docs (every row, columns unchanged) plus ``clean_text``: the
    doc's non-empty trimmed lines that are not boilerplate in its
    domain, joined with ``\\n`` in original order (a repeated kept line
    keeps every copy). Plan: the boilerplate table collapses to one
    line set per domain, broadcast onto the docs; the strip is a
    row-local ``filter`` over the doc's line array, so rows sharing an
    id (re-fetched pages) never see each other's lines. Docs whose
    every line was boilerplate, and ``None`` texts, get ``""``.
    """
    bp = (boilerplate_lines(docs, min_doc_frac, min_docs, text_col,
                            id_col, domain_col)
          .groupBy(domain_col).agg(F.collect_set("line").alias("_bp")))
    bp_set = F.coalesce(F.col("_bp"), F.array().cast("array<string>"))
    kept = F.filter(doc_lines(F.col(text_col)),
                    lambda l: ~F.array_contains(bp_set, l))
    return (
        docs.join(F.broadcast(bp), on=domain_col, how="left")
        .select(*docs.columns,
                F.coalesce(F.array_join(kept, "\n"), F.lit(""))
                .alias("clean_text"))
    )
