"""Corpus-hygiene operators a production training-data pipeline needs
beyond dedup: benchmark DECONTAMINATION (n-gram overlap between a
training corpus and an evaluation/benchmark set) and domain-scoped
BOILERPLATE removal (lines repeated across many pages of one domain —
the CCNet/trafilatura cleanup shape).

Both are pure relational plans (no UDFs):

* decontamination — explode DISTINCT word n-grams per doc on both
  sides, hash each n-gram to int64 (``xxhash64`` — the join key is 8
  bytes, never the string), equi-join train×benchmark on the hash,
  aggregate per training doc. At 100 TB the join is linear in
  Σ df_train(g)·df_bench(g); ubiquitous n-grams (boilerplate runs,
  stopword chains) are the quadratic hot keys, so ``max_bench_df``
  drops n-grams appearing in more than that many benchmark docs — a
  stop-n-gram cap with the same shape as dedup's ``max_block``
  (ubiquitous n-grams carry no contamination signal).
* boilerplate — each doc's lines are one array (split on ``\\n``,
  trimmed, empties dropped). Counting explodes each doc's DISTINCT
  lines and counts distinct docs per (domain, line) — one shuffle on
  (domain, line); lines above a doc-frequency threshold are
  boilerplate. Removal never leaves the doc's row: the boilerplate
  lines collapse to ONE row per domain (a line set), broadcast onto the
  docs, and each doc keeps the lines not in its domain's set — no
  explode of the docs, no re-assembly, no join back on the doc id.

The reference repo has no decontamination/boilerplate stage (it
consumes CoNLL files); these are engine-side additions for the 100 TB
web corpus the north rule targets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plan_cache import PlanCache, plan_key

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


def _lines(text_col: str) -> Column:
    """A doc's non-empty trimmed lines, in order (``None`` text → ``None``).

    The trim is a lambda: ``F.transform(arr, F.trim)`` would bind trim's
    second parameter (the strip characters) to the element index.
    """
    return F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0)


def doc_ngram_hashes(docs: DataFrame, n: int = 8, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """→ (id_col, gram_hash) — DISTINCT word-n-gram hashes per doc.

    Tokens = lowercased ``\\s+`` split (the dedup family's contract);
    the n-gram string is the space-join of n consecutive tokens, hashed
    to int64 JVM-side. Distinct-per-doc BEFORE the join keeps the
    overlap metric "number of shared distinct n-grams", invariant to
    in-doc repetition.

    Construction is the word_shingles zip_with fold over a PROJECTED
    token column: the earlier transform(sequence, slice(toks…)) form
    embedded the split() EXPRESSION inside the per-position lambda, so
    the regex tokenization re-ran once per n-gram position — O(len²)
    regex work per doc (measured 18.4 s vs 2.4 s for the 3-gram table
    over 30k ~300-token docs; outputs row-identical).
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), _WS)
    with_toks = docs.select(F.col(id_col), toks.alias("_toks"))
    m = F.size("_toks") - n + 1
    acc = F.slice("_toks", 1, m)
    for i in range(1, n):
        acc = F.zip_with(acc, F.slice("_toks", 1 + i, m),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    # short texts (size < n) must yield an EMPTY gram set (slice with a
    # non-positive length would error / the old sequence(0, stop<0) form
    # descended)
    grams = F.when(F.size("_toks") >= n, acc).otherwise(
        F.array().cast("array<string>"))
    return (
        with_toks.select(F.col(id_col), F.explode(grams).alias("gram"))
        .select(id_col, F.xxhash64("gram").alias("gram_hash"))
        .distinct()
    )


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
                            F.explode(F.array_distinct(_lines(text_col)))
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
    kept = F.filter(_lines(text_col),
                    lambda l: ~F.array_contains(bp_set, l))
    return (
        docs.join(F.broadcast(bp), on=domain_col, how="left")
        .select(*docs.columns,
                F.coalesce(F.array_join(kept, "\n"), F.lit(""))
                .alias("clean_text"))
    )
