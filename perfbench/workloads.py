"""The benchmark workloads, their seeded inputs and their checks.

Every workload drives the engine through its public API only:

* ``kg_fused``     pages → ``tagger.pages_to_mention_pairs`` →
                   ``tagger.fused_triples`` (one Arrow crossing, one
                   broadcast join, no exchanges, no writes);
* ``corpus_prep``  ``__spark_entry__.q_corpus_prep`` over a seeded
                   ``documents.parquet``: seven snapshot-committed stages.

A workload object owns its inputs. ``generate`` builds and persists
them (the set-up the benchmark times), ``run`` is one timed pipeline
job ending in an order-free digest of its output, ``check`` compares
one run's output with an independent reference, ``after_run`` releases
per-run files outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

# The 31-word vocabulary of the documents testdata (tools/make_local_sf.py);
# the corpus_prep generator draws word salad from it, as the testdata does.
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
DOC_LANGS = ["en", "zh", "fr", "es", "de"]
DOC_LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]

TRIPLE_KEY = ["url", "sent_id", "subj_id", "pred", "obj_id"]
CHECKPOINT = os.path.join("artifacts", "conll_weights.npz")


def digest(df, cols) -> tuple[int, int]:
    """One action: (row count, order-free hash sum) over ``cols``."""
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 31)))
                 .alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def pages_input(spark, seed: int, n_pages: int, cores: int):
    """Seeded synthetic crawl pages, synthesized on the executors and
    persisted with only the columns the KG paths read."""
    from ner_pytorch_spark import datagen

    pages = (datagen.pages_dataframe(spark, n_pages, seed=seed,
                                     distributed=True, partitions=cores * 3)
             .select("url", "text", "lang").persist())
    pages.count()
    return pages


def gold_triples(spark, seed: int, n_pages: int, cores: int):
    """Gold (url, sent_id, subj_id, pred, obj_id) rows from
    ``datagen.generate_page``, generated on the executors."""
    import pandas as pd

    def gen(batches):
        from ner_pytorch_spark import datagen

        for pdf in batches:
            rows = [t for i in pdf["id"]
                    for t in datagen.generate_page(int(i), seed)[2]]
            yield pd.DataFrame(rows, columns=TRIPLE_KEY)

    schema = ("url string, sent_id int, subj_id long, pred string, "
              "obj_id long")
    return spark.range(0, n_pages, 1, cores * 3).mapInPandas(gen, schema)


def triple_prf(got, gold) -> tuple[float, float]:
    """Set precision and recall of ``got`` against ``gold`` triples."""
    got = got.select(*TRIPLE_KEY).distinct().persist()
    gold = gold.select(*TRIPLE_KEY).distinct().persist()
    try:
        n_got, n_gold = got.count(), gold.count()
        tp = got.join(gold, on=TRIPLE_KEY).count()
    finally:
        got.unpersist()
        gold.unpersist()
    return tp / max(n_got, 1), tp / max(n_gold, 1)


def sentence_sample(seed: int, n: int = 512) -> list[list[str]]:
    """A fixed seeded sample of English sentences (token lists) from
    the synthetic corpus, for the driver-side layer timings."""
    from ner_pytorch_spark import datagen

    pages, _, _ = datagen.generate_pages(max(50, n // 2), seed=seed)
    sents = [line.split() for p in pages if p["lang"] == "en"
             for line in p["text"].split("\n") if line.split()]
    rng = np.random.default_rng(seed)
    pick = rng.choice(len(sents), size=min(n, len(sents)), replace=False)
    return [sents[i] for i in sorted(pick)]


def load_checkpoint(root: str):
    from ner_pytorch_spark.operators.encoder import TaggerWeights

    path = os.path.join(root, CHECKPOINT)
    return TaggerWeights.from_npz(path), TaggerWeights.vocabs_from_npz(path)


def decode_driver_side(weights, vocabs, sentences) -> tuple[float, float]:
    """Seconds of a driver-side encoder forward and CRF Viterbi decode of
    ``sentences``, with the transitions the tagger decodes a trained
    checkpoint with."""
    from ner_pytorch_spark.operators.crf import viterbi_decode
    from ner_pytorch_spark.operators.encoder import neural_emissions
    from ner_pytorch_spark.operators.tagger import featurize_sentence
    from ner_pytorch_spark.operators.tagset import (ENTITY_TYPES,
                                                    grammar_transitions)

    word, char = vocabs["word"], vocabs["char"]
    feats = [featurize_sentence(t, word, char, word.get("<UNK>", 0))
             for t in sentences]
    trans = weights.transitions
    if not weights.meta.get("trained", False):
        trans = trans + grammar_transitions(ENTITY_TYPES)
    t0 = time.perf_counter()
    em, lens = neural_emissions(weights, [f[0] for f in feats],
                                [f[1] for f in feats], [f[2] for f in feats])
    t1 = time.perf_counter()
    viterbi_decode(em, lens, trans)
    return t1 - t0, time.perf_counter() - t1


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """Seeded ``documents.parquet`` in the documents testdata's shape:
    word salad over its vocabulary, 10-100 tokens, five languages."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, size=n_docs)
    words = np.array(DOC_VOCAB)[
        rng.integers(0, len(DOC_VOCAB), size=int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - n:e]) for n, e in zip(lens, ends)]
    langs = np.array(DOC_LANGS)[rng.choice(5, size=n_docs, p=DOC_LANG_P)]
    srcs = rng.integers(0, 20, n_docs)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i}" for i in srcs], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


class Workload:
    """Base: one seeded input, one timed pipeline job, one check."""

    name = ""
    unit = ""            # what ``size`` counts
    size = 0             # default input size
    root_span = ""       # span around the whole timed run
    stage_prefix = ""    # span prefix for the plan's stages

    def __init__(self, spark, seed: int, size: int | None, tmp: str,
                 cores: int):
        self.spark, self.seed, self.tmp, self.cores = spark, seed, tmp, cores
        self.size = size or self.size
        self.written_bytes = 0
        self.input_bytes = 1

    def generate(self) -> None:
        raise NotImplementedError

    def release(self) -> None:
        """Drop the generated inputs (before generating them again)."""

    def run(self) -> tuple[int, int]:
        raise NotImplementedError

    def after_run(self) -> None:
        """Per-run clean-up, outside the timed region."""

    def check(self, result) -> tuple[bool, dict]:
        """→ (passed, details) for one run's output ``result``."""
        raise NotImplementedError

    def unique_frac(self) -> float:
        """Share of distinct sentences (pages) or texts (docs) in the
        input: the tagger's per-task memo makes decode cost depend on
        repetition."""
        raise NotImplementedError


class KGFused(Workload):
    name = "kg_fused"
    unit = "pages"
    size = 20_000
    root_span = "tagger.fused"
    out_cols = ["url", "sent_id", "subj_surface", "pred", "obj_surface"]

    def generate(self) -> None:
        from pyspark.sql import functions as F

        from ner_pytorch_spark import datagen

        self.aliases = datagen.alias_rows()
        self.pages = pages_input(self.spark, self.seed, self.size,
                                 self.cores)
        self.input_bytes = self.pages.agg(F.sum(
            F.octet_length("url") + F.octet_length("text"))).first()[0]

    def release(self) -> None:
        self.pages.unpersist(blocking=True)

    def triples(self):
        from ner_pytorch_spark.datagen import PREDICATE_LEXICON
        from ner_pytorch_spark.operators.tagger import (
            fused_triples, pages_to_mention_pairs)

        fused = pages_to_mention_pairs(self.pages, self.aliases)
        return fused_triples(fused, PREDICATE_LEXICON)

    def run(self):
        return digest(self.triples(), self.out_cols)

    def check(self, result):
        """Surfaces → canonical ids through the alias table, then set
        P/R against the generator's gold triples; both must be 1.0."""
        from pyspark.sql import functions as F

        ids = self.spark.createDataFrame(
            [(a["surface"], a["canonical_id"]) for a in self.aliases],
            "surface string, canonical_id long")
        got = (self.triples()
               .join(F.broadcast(ids.toDF("subj_surface", "subj_id")),
                     "subj_surface", "left")
               .join(F.broadcast(ids.toDF("obj_surface", "obj_id")),
                     "obj_surface", "left"))
        p, r = triple_prf(got, gold_triples(self.spark, self.seed,
                                            self.size, self.cores))
        return p == 1.0 and r == 1.0, {
            "triple_precision": p, "triple_recall": r,
            "output_rows": result[0]}

    def unique_frac(self) -> float:
        from pyspark.sql import functions as F

        from ner_pytorch_spark.operators.tagger import sentences_table

        row = sentences_table(self.pages).agg(
            F.count(F.lit(1)), F.countDistinct("sentence")).first()
        return row[1] / max(row[0], 1)


class CorpusPrep(Workload):
    name = "corpus_prep"
    unit = "docs"
    size = 500
    root_span = "staged.bookkeeping"
    stage_prefix = "prep."
    out_cols = ["doc_id", "canonical_url", "n_chars", "n_tokens", "quality"]

    def generate(self) -> None:
        self.data_dir = os.path.join(self.tmp, "docs")
        os.makedirs(self.data_dir, exist_ok=True)
        path = os.path.join(self.data_dir, "documents.parquet")
        write_documents(path, self.size, self.seed)
        self.input_bytes = os.path.getsize(path)

    def run(self):
        import __spark_entry__ as entry

        self.final = entry.q_corpus_prep(self.spark, self.data_dir)
        return digest(self.final, self.out_cols)

    def after_run(self) -> None:
        # q_corpus_prep roots each run's snapshot catalog under
        # tempfile's directory, which the benchmark points at a
        # directory of its own; it would only be removed at exit
        import tempfile

        prep = tempfile.gettempdir()
        self.written_bytes = dir_bytes(prep)
        self.final = None
        for d in os.listdir(prep):
            shutil.rmtree(os.path.join(prep, d), ignore_errors=True)

    def check(self, result):
        """Row count and value hash equal to the DuckDB oracle."""
        import duckdb

        import __spark_entry__ as entry
        from tools.check_contract import value_hash

        got = self.final.toPandas()
        con = duckdb.connect()
        try:
            con.execute("create view documents as select * from "
                        f"read_parquet('{self.data_dir}/documents.parquet')")
            want = con.execute(entry.oracle_sql()["corpus_prep"]).df()
        finally:
            con.close()
        ok = (len(got) == len(want) == result[0]
              and sorted(got.columns) == sorted(want.columns)
              and value_hash(got) == value_hash(want))
        return ok, {"oracle_match": float(ok), "output_rows": result[0]}

    def unique_frac(self) -> float:
        import pyarrow.parquet as pq

        texts = pq.read_table(os.path.join(self.data_dir,
                                           "documents.parquet"),
                              columns=["text"]).column("text").to_pylist()
        return len(set(texts)) / max(len(texts), 1)


WORKLOADS = {w.name: w for w in (KGFused, CorpusPrep)}
