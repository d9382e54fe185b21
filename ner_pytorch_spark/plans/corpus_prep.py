"""End-to-end LLM-training-corpus preparation as ONE staged plan.

The hygiene sequence every large-corpus pipeline runs before training —
URL canonicalization, boilerplate strip, language/quality/repetition
gates, exact + near dedup, benchmark decontamination — exists in this
package as individually oracle-checked operators; this plan chains them
into a single checkpoint-resumable pipeline (the same
:class:`~.staged.SnapshotStagedPlan` machinery as the KG pipeline, so a
100 TB run that dies at dedup resumes from the committed quality-gate
snapshot instead of recrawling three stages).

    docs (doc_id, url, text) [+ benchmark docs]
      → [url_canon]   normalize_url → keep ONE doc per canonical URL
                      (min doc_id — crawls re-fetch pages under
                      tracking-param/fragment variants)
      → [clean_text]  domain-scoped boilerplate strip (site footers /
                      nav bars repeated across a domain's pages)
      → [quality_gate] language-ID + quality score + Gopher-style
                      repetition signals from one token array per doc,
                      one projection + filter carrying every metric
                      column (no join)
      → [exact_dedup] byte-identical texts collapse to the min-id doc
      → [near_dedup]  word-n-gram Jaccard pairs ≥ threshold drop doc_b
      → [decontam]    (if a benchmark table is given) left-anti join
                      against docs sharing ≥ min_shared benchmark
                      n-grams
      → final         (doc_id, canonical_url, n_chars, n_tokens,
                      quality) — the training-ready manifest

Scale shape (what survives a 1000-executor run): url dedup and exact
dedup are each ONE map-side-combined min_by aggregate (keyed by
canonical_url and by md5(text)) with no join back; boilerplate counting
is one shuffle on (domain, line) plus a broadcast of one row per
domain, and the strip broadcasts one line set per domain onto the docs
and filters each doc inside its row; the quality gate is row-local JVM
column arithmetic (no join, no shuffle); near-dup uses
shingle-equi-join blocking with a stop-shingle cap (never all-pairs);
decontam is an n-gram equi-join with a benchmark-df cap + left-anti.
Every stage is a snapshot commit with metrics + per-file lineage rows,
read from the snapshot's parquet footers without a Spark job.

Reference scope note: the reference repo (msps9341012/NER-pytorch) has
no corpus-prep pipeline — this plan is part of the beyond-reference
training-data surface (task brief), composed of this package's checked
operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urlnorm import normalize_url, url_domain
from ..operators.decontam import decontaminate, strip_boilerplate
from ..operators.dedup import ngram_jaccard_pairs
from ..operators.textstats import text_metrics
from .staged import SnapshotStagedPlan


def _keep_min_id(docs: DataFrame, key: Column) -> DataFrame:
    """One row per ``key``: the row with the smallest doc_id, columns in
    their original order.

    min_by over a struct of the whole row, not a row_number window or a
    join back on doc_id: it partial-aggregates map-side, so one row per
    key and partition crosses the one hash shuffle and a key held by a
    million docs combines down before it moves. (Spark plans it as a
    SortAggregate: min_by's buffer holds a variable-width value.)
    """
    return (docs.groupBy(key)
            .agg(F.min_by(F.struct(*docs.columns), "doc_id").alias("_row"))
            .select("_row.*"))


class CorpusPrepPipeline(SnapshotStagedPlan):
    """Checkpoint-resumable corpus preparation over a docs DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        catalog_root: str,
        lang: str = "en",
        min_quality: float = 0.5,
        max_dup_line_frac: float = 0.3,
        max_top_ngram_frac: float = 0.2,
        boilerplate_frac: float | None = 0.5,
        boilerplate_min_docs: int = 2,
        jaccard_n: int = 2,
        jaccard_threshold: float = 0.5,
        decontam_n: int = 3,
        decontam_min_shared: int = 3,
        decontam_max_bench_df: int | None = 2,
    ):
        super().__init__(spark, catalog_root)
        self.lang = lang
        self.min_quality = min_quality
        self.max_dup_line_frac = max_dup_line_frac
        self.max_top_ngram_frac = max_top_ngram_frac
        self.boilerplate_frac = boilerplate_frac
        self.boilerplate_min_docs = boilerplate_min_docs
        self.jaccard_n = jaccard_n
        self.jaccard_threshold = jaccard_threshold
        self.decontam_n = decontam_n
        self.decontam_min_shared = decontam_min_shared
        self.decontam_max_bench_df = decontam_max_bench_df

    # ---------------------------------------------------------- stages
    def _url_canon(self, docs: DataFrame) -> DataFrame:
        """One doc per canonical URL (min doc_id wins); ``url`` is
        dropped before the aggregate, so only the kept columns move."""
        canon = docs.select(
            normalize_url(F.col("url")).alias("canonical_url"),
            *[c for c in docs.columns if c != "url"])
        return _keep_min_id(canon, F.col("canonical_url"))

    def _clean_text(self, docs: DataFrame) -> DataFrame:
        """Domain-scoped boilerplate strip; schema preserved."""
        if self.boilerplate_frac is None:
            return docs
        dom = docs.withColumn("_domain", url_domain(F.col("canonical_url")))
        out = strip_boilerplate(
            dom, min_doc_frac=self.boilerplate_frac,
            min_docs=self.boilerplate_min_docs,
            text_col="text", id_col="doc_id", domain_col="_domain")
        return out.select(
            "doc_id", "canonical_url",
            F.col("clean_text").alias("text"))

    def _quality_gate(self, docs: DataFrame) -> DataFrame:
        """Language + quality + repetition metrics, filtered, one table.

        One projection (:func:`~..operators.textstats.text_metrics`: one
        token array per doc, every metric row-local — no join back on
        doc_id, no shuffle) plus the gate filter. The projection is
        PERSISTED and the filter applied on top: a filter straight over
        it is pushed below the projection with every metric's full
        expression substituted in (PushDownPredicate), so each metric
        would run twice, the token chain far more — measured 11.1 s vs
        1.7 s for this stage at sf0.1 on 4 CPUs. The persisted columns
        are computed once, filled by the stage's own write (no extra
        job). Unpersisted by ``_flush_bookkeeping``.
        """
        metrics = text_metrics(docs, docs.columns, n=self.jaccard_n).select(
            *docs.columns, "pred_lang", "n_chars", "n_tokens", "quality",
            "dup_line_frac", "top_ngram_frac").persist()
        self._temp_persists.append(metrics)
        return metrics.filter(
            (F.col("pred_lang") == self.lang)
            & (F.col("quality") >= self.min_quality)
            & (F.col("dup_line_frac") <= self.max_dup_line_frac)
            & (F.col("top_ngram_frac") <= self.max_top_ngram_frac))

    def _exact_dedup(self, docs: DataFrame) -> DataFrame:
        """Byte-identical texts collapse to the min doc_id: one
        aggregate keyed by md5(text), no join."""
        return _keep_min_id(docs, F.md5(F.col("text")))

    def _near_dedup(self, docs: DataFrame) -> DataFrame:
        drop = (ngram_jaccard_pairs(
                    docs, n=self.jaccard_n,
                    threshold=self.jaccard_threshold)
                .select(F.col("doc_b").alias("doc_id")))
        return docs.join(drop, on="doc_id", how="left_anti")

    # ------------------------------------------------------------- run
    def run(self, docs: DataFrame, benchmark: DataFrame | None = None,
            resume: bool = False) -> dict[str, DataFrame]:
        """docs: (doc_id, url, text); benchmark: (doc_id, text) or None.

        Returns every stage table; ``out["final"]`` is the manifest.
        """
        canon = self._stage("url_canon", resume,
                            lambda: self._url_canon(docs))
        clean = self._stage("clean_text", resume,
                            lambda: self._clean_text(canon))
        gated = self._stage("quality_gate", resume,
                            lambda: self._quality_gate(clean))
        exact = self._stage("exact_dedup", resume,
                            lambda: self._exact_dedup(gated))
        near = self._stage("near_dedup", resume,
                           lambda: self._near_dedup(exact))
        if benchmark is not None:
            final_in = self._stage(
                "decontam", resume,
                lambda: decontaminate(
                    near, benchmark, n=self.decontam_n,
                    min_shared=self.decontam_min_shared,
                    max_bench_df=self.decontam_max_bench_df))
        else:
            final_in = near
        final = self._stage(
            "final", resume,
            lambda: final_in.select("doc_id", "canonical_url", "n_chars",
                                    "n_tokens", "quality"))
        self._flush_bookkeeping()
        return {"url_canon": canon, "clean_text": clean,
                "quality_gate": gated, "exact_dedup": exact,
                "near_dedup": near, "final": final}
