"""The end-to-end KG construction pipeline (north rule).

    pages (url, warc_ts, html, text, lang)
      → [stage extract]   byte-identical text check / re-extraction
      → [stage clean_pages] OPTIONAL domain-scoped boilerplate strip
                          (``boilerplate_frac=``; site footers/navs
                          would otherwise mint one spurious mention
                          per page of a domain)
      → [stage sentences] lang filter + line/token windowing (JVM)
      → [stage mentions]  salted repartition → Arrow-batched CRF tagging
                          → BIOES spans
      → [stage links]     broadcast alias-index cosine top-k → top-1
      → [stage triples]   row-local mention pairs + broadcast predicate
                          lexicon (+ optional co-occurrence fallback)
      → [stage canonical] connected components over (surface ↔ canonical)
                          edges → entity_nodes + canonical edge table

Each stage commits a snapshot through :class:`SnapshotCatalog` and is
checkpoint-resumable: ``run(resume=True)`` skips stages whose snapshot
already exists, and a resumed run's final tables equal a single run's
(tested). Per-partition lineage rows and per-stage metrics rows are
appended to ``_lineage`` / ``_metrics`` tables (north rule).

Skew: crawl corpora put 10^8 pages on one domain; the inference stage
repartitions on ``xxhash64(domain) % salt`` buckets so one domain
spreads over ``salt`` partitions (SURVEY §4), with AQE skew-join
handling the join stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import PREDICATE_LEXICON
from ..functions.urlnorm import url_domain
from ..operators.cc import connected_components
from ..operators.decontam import strip_boilerplate
from ..operators.linking import candidate_links, link_mentions
from ..operators.spans import mentions_table
from ..operators.tagger import (repartition_by_length, sentences_table,
                                tag_sentences)
from ..operators.triples import canonical_triples, sentence_local_triples
from .staged import SnapshotStagedPlan


def salted_repartition(df: DataFrame, key: str = "url", salt: int = 64,
                       partitions: int | None = None) -> DataFrame:
    """Spread skewed domains: partition on (xxhash64(domain) % salt,
    xxhash64(key)) so a single hot domain occupies ``salt`` partitions
    instead of one."""
    domain = url_domain(F.col("url"))
    df = df.withColumn("_salt", F.pmod(F.xxhash64(domain), F.lit(salt))) \
           .withColumn("_spread", F.xxhash64(F.col(key)))
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, "_salt", "_spread").drop("_salt", "_spread")


def entity_nodes_from_links(links: DataFrame) -> DataFrame:
    """Canonicalization tail: per-mention links → entity-node table.

    surfaces ↔ canonical ids become an undirected bipartite graph
    ('s:<surface>' / 'c:<id>' nodes); connected components merge
    entities that share any surface; each c-node carries its component
    label plus deterministic aggregates of its link rows. The edges go
    to :func:`connected_components` as they are: it deduplicates them.
    Output: (canonical_id, entity_component, canonical_surface,
    tag_type, n_mentions).
    """
    surf_edges = links.select(
        F.concat(F.lit("s:"), F.col("surface")).alias("src"),
        F.concat(F.lit("c:"), F.col("canonical_id").cast("string")).alias("dst"),
    )
    comps = connected_components(surf_edges)
    return (
        comps.filter(F.col("node").startswith("c:"))
        .select(
            F.regexp_replace("node", "^c:", "").cast("long").alias("canonical_id"),
            F.col("component").alias("entity_component"))
        .join(
            links.groupBy("canonical_id").agg(
                F.min("candidate_surface").alias("canonical_surface"),
                F.min("tag_type").alias("tag_type"),  # unique per id; min = deterministic
                F.count(F.lit(1)).alias("n_mentions")),
            on="canonical_id")
    )


class KGPipeline(SnapshotStagedPlan):
    """Checkpoint-resumable KG construction over a pages DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        catalog_root: str,
        aliases: list[dict],
        predicate_lexicon: dict[str, str] | None = None,
        mode: str = "gazetteer",
        weights=None,
        vocab: dict | None = None,
        char_vocab: dict | None = None,
        salt: int = 64,
        cooccurrence_window: int | None = None,
        embedder=None,
        boilerplate_frac: float | None = None,
        boilerplate_min_docs: int = 2,
    ):
        super().__init__(spark, catalog_root)
        self.aliases = aliases
        self.lexicon = predicate_lexicon or PREDICATE_LEXICON
        self.mode = mode
        self.weights = weights
        self.vocab = vocab
        self.char_vocab = char_vocab
        self.salt = salt
        self.cooccurrence_window = cooccurrence_window
        # real-vector link scoring (train.py:122-134 semantics): pass a
        # MatrixEmbedder built from the GloVe scan so production linking
        # scores in the pretrained space; None = deterministic hash
        # vectors (exact-surface matching only — test/synthetic default)
        self.embedder = embedder
        # optional ingest hygiene: lines repeated in ≥ this fraction of
        # a DOMAIN's pages (nav bars, footers, cookie banners) are
        # stripped before sentence windowing — at crawl scale a site
        # footer naming an org would otherwise mint one spurious
        # mention per page of the domain. None (default) = off.
        self.boilerplate_frac = boilerplate_frac
        self.boilerplate_min_docs = boilerplate_min_docs

    def _strip_boilerplate_pages(self, pages: DataFrame) -> DataFrame:
        """Domain-scoped boilerplate strip with the pages schema kept."""
        cols = pages.columns
        dom = pages.withColumn("_domain", url_domain(F.col("url")))
        out = strip_boilerplate(
            dom, min_doc_frac=self.boilerplate_frac,
            min_docs=self.boilerplate_min_docs,
            text_col="text", id_col="url", domain_col="_domain")
        return out.select(*[
            F.col("clean_text").alias("text") if c == "text" else F.col(c)
            for c in cols])

    # ------------------------------------------------------------- run
    def run(self, pages: DataFrame, resume: bool = False) -> dict[str, DataFrame]:
        if self.boilerplate_frac is not None:
            pages = self._stage(
                "clean_pages", resume,
                lambda: self._strip_boilerplate_pages(pages))
        sents = self._stage(
            "sentences", resume,
            lambda: sentences_table(salted_repartition(pages, salt=self.salt)))
        # neural inference pays per-batch padding to the longest sentence;
        # range-partition + sort by token count first (O1) so Arrow
        # batches hold similar lengths — purely physical, row-keyed
        # outputs are order-independent
        tag_in = (repartition_by_length(sents) if self.mode == "neural"
                  else sents)
        tagged = self._stage(
            "tagged", resume,
            lambda: tag_sentences(
                tag_in, mode=self.mode, weights=self.weights, vocab=self.vocab,
                char_vocab=self.char_vocab, aliases=self.aliases))
        mentions = self._stage(
            "mentions", resume, lambda: mentions_table(tagged))
        links = self._stage(
            "links", resume,
            lambda: link_mentions(candidate_links(
                mentions, self.aliases, k=3, embedder=self.embedder)))
        triples = self._stage(
            "triples", resume,
            lambda: sentence_local_triples(
                tagged, self.lexicon,
                cooccurrence_window=self.cooccurrence_window))
        edges = self._stage(
            "edges", resume, lambda: canonical_triples(triples, links))

        nodes = self._stage("entity_nodes", resume,
                            lambda: entity_nodes_from_links(links))
        self._flush_bookkeeping()
        return {
            "sentences": sents, "tagged": tagged, "mentions": mentions,
            "links": links, "triples": triples, "edges": edges, "nodes": nodes,
        }
