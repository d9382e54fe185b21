"""Dump .explain('formatted') for the round-7 touched queries.

Usage: python tools/dump_plans_r07.py <suffix>   # writes plans/r07/<q>_<suffix>.txt
Covers the 8 relational bench queries plus the two bench-constructed
stages (kg_e2e fused pipeline, kg_neural_tag) built exactly the way
bench.py builds them.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
OUT = os.path.join(ROOT, "plans", "r07")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    os.makedirs(OUT, exist_ok=True)

    from ner_pytorch_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="plans_r07", cores=8, shuffle_partitions=8)
    qmap = entrymod.queries()
    names = ["tpch_q1", "top_orders_per_cust", "minhash_lsh",
             "broadcast_knn", "quality_scores", "language_id",
             "simhash_pairs", "events_hourly"]
    for name in names:
        df = qmap[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(OUT, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(txt)
        print(f"wrote {name}_{suffix}.txt")

    # bench-constructed stages (bench.py lines: _kg_pipeline / neural)
    from ner_pytorch_spark import datagen
    from ner_pytorch_spark.operators.tagger import (
        fused_triples, pages_to_mention_pairs, repartition_by_length,
        sentences_table, tag_sentences)
    from ner_pytorch_spark.operators.vocab import build_vocab, char_vocab
    from ner_pytorch_spark.operators.weights_io import build_tagger_weights

    pages = datagen.pages_dataframe(spark, 2000, distributed=True,
                                    partitions=8).select("url", "text", "lang")
    fused = pages_to_mention_pairs(pages, datagen.alias_rows())
    kt = fused_triples(fused, datagen.PREDICATE_LEXICON)
    txt = kt._sc._jvm.PythonSQLUtils.explainString(
        kt._jdf.queryExecution(), "formatted")
    with open(os.path.join(OUT, f"kg_e2e_{suffix}.txt"), "w") as fh:
        fh.write(txt)
    print(f"wrote kg_e2e_{suffix}.txt")

    npages = datagen.pages_dataframe(spark, 2000, distributed=True)
    nsents = sentences_table(npages)
    v = build_vocab(nsents, min_count=1)
    cv = char_vocab(nsents)
    w, t2i, c2i = build_tagger_weights(v, cv, word_dim=100, char_dim=25,
                                       char_out=25, hidden=200)
    neural = tag_sentences(repartition_by_length(nsents), mode="neural",
                           weights=w, vocab=t2i, char_vocab=c2i)
    txt = neural._sc._jvm.PythonSQLUtils.explainString(
        neural._jdf.queryExecution(), "formatted")
    with open(os.path.join(OUT, f"kg_neural_tag_{suffix}.txt"), "w") as fh:
        fh.write(txt)
    print(f"wrote kg_neural_tag_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
