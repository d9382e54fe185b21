"""Physical-plan audit: assert the plans we claim are the plans we get.

Checks (printed + asserted):
  * fused KG path: ZERO Exchange operators end-to-end, a MapInArrow
    (no MapInPandas) crossing fed through a Coalesce for a small input,
    lexicon join is BroadcastHashJoin, html column pruned out of the scan
  * tpch_q1: filter + column pruning pushed into the parquet scan,
    partial (map-side) hash aggregation present
  * region_rollup: both dimension joins are broadcast
  * top_orders_per_cust: single shuffle on the window partition key
  * lsh_topk: NO giant literal plane arrays in the plan (round-1 bug),
    bucketing via one Arrow stage, candidate join on (table, bucket)
  * verb_arc_triples: at most one hash exchange, the closing
    dropDuplicates (HOF resolution inside the row, verb lexicon
    broadcast, no sort-merge join)
  * co-occurrence triples (window=3): the staged (kg_triples_cooc) and
    fused paths have no hash exchange and no sort-merge join — the
    fallback is a broadcast anti-join on the lexicon, not on pair keys
  * simhash_pairs: pairs scored inside chunk buckets, never a cartesian
    product; with max_bucket set the bucket cap is in the plan
  * boilerplate strip: row-local, one broadcast line set per domain
    (no anti-join on lines, no window, no sort-merge join back)
  * corpus_prep exact dedup: one aggregate on md5(text), no join
  * corpus_prep quality gate: no join and no hash exchange (every
    metric is row-local over one token array)
  * decontam n-gram hashes: distinct per doc inside the row, no shuffle
  * simhash_pairs and ngram_jaccard_pairs (the policy picks the dense
    kernel for sf0.01's 916 non-stop bigrams over 500 docs): on a warm call
    the scoring stage reads the cached tile table as InMemoryTableScan →
    Sort → MapInArrow, no MapInPandas and no Exchange above the scan
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


# formatted explain prints a shuffle as "Exchange (N)" in the tree and its
# partitioning under "Arguments:", so a hash exchange is matched there
NO_SHUFFLE = [r"Arguments: hashpartitioning", r"SortMergeJoin"]


def check(name, plan, must=(), must_not=()):
    problems = []
    for pat in must:
        if not re.search(pat, plan):
            problems.append(f"MISSING {pat!r}")
    for pat in must_not:
        if re.search(pat, plan):
            problems.append(f"FORBIDDEN {pat!r} present")
    status = "OK " if not problems else "FAIL"
    print(f"{status} {name}" + ("" if not problems else f": {problems}"))
    return not problems


def main():
    import __spark_entry__ as e
    from ner_pytorch_spark import datagen
    from ner_pytorch_spark.operators.tagger import (fused_triples,
                                                    pages_to_mention_pairs)
    from ner_pytorch_spark.session import get_spark

    spark = get_spark(cores=8)
    ok = True

    pages = datagen.pages_dataframe(spark, 50, distributed=True)
    fused = pages_to_mention_pairs(pages, datagen.alias_rows())
    tr = fused_triples(fused, datagen.PREDICATE_LEXICON)
    plan = plan_of(tr)
    ok &= check("fused_kg_zero_exchange", plan,
                must=[r"BroadcastHashJoin", r"MapInArrow"],
                must_not=NO_SHUFFLE)
    # the formatted plan's tree: everything above the fused stage's
    # coalesced input is the KG path — no pandas crossing there (the
    # distributed datagen source below it is itself a MapInPandas)
    tree = plan.split("\n\n", 1)[0]
    ok &= check("fused_kg_arrow_not_pandas", tree.split("Coalesce", 1)[0],
                must=[r"MapInArrow"], must_not=[r"MapInPandas"])
    # 50 pages in 16 upstream partitions: the byte-sized stage coalesces
    # them (no exchange) to one partition per core below the fused node
    dp = spark.sparkContext.defaultParallelism
    ok &= check("fused_small_input_coalesced",
                f"{plan}\npartitions {pages.rdd.getNumPartitions()} -> "
                f"{fused.rdd.getNumPartitions()}",
                must=[r"MapInArrow[^\n]*\n(?:[^\n]*\n)*?[^\n]*Coalesce",
                      rf"\) Coalesce\nInput[^\n]*\nArguments: {dp}\n",
                      rf"partitions 16 -> {dp}$"])

    q1 = e.q_tpch_q1(spark, SF)
    plan = plan_of(q1)
    ok &= check("tpch_q1_pushdown", plan,
                must=[r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate",
                      r"HashAggregate",
                      r"ReadSchema: [^\n]*l_quantity"],
                must_not=[r"ReadSchema: [^\n]*l_comment"])
    # partial agg: two HashAggregate nodes (partial + final)
    n_agg = len(re.findall(r"HashAggregate", plan))
    print(("OK " if n_agg >= 2 else "FAIL") + f" tpch_q1_partial_agg ({n_agg} HashAggregate nodes)")
    ok &= n_agg >= 2

    rr = e.q_region_rollup(spark, SF)
    plan = plan_of(rr)
    # formatted mode prints each node in the tree AND the details list
    n_b = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    both_bcast = n_b == 2 and "SortMergeJoin" not in plan
    print(("OK " if both_bcast else "FAIL") + f" region_rollup_broadcast_joins ({n_b})")
    ok &= both_bcast

    topk = e.q_top_orders_per_cust(spark, SF)
    plan = plan_of(topk)
    ok &= check("window_topk_single_shuffle", plan,
                must=[r"Window"],)
    # a formatted plan prints a shuffle's partitioning as its Arguments line
    n_ex = len(re.findall(r"Arguments: hashpartitioning", plan))
    print(("OK " if n_ex <= 2 else "FAIL") + f" window_topk_exchanges ({n_ex}; repartition+window)")
    ok &= n_ex <= 2

    # lsh_topk: the plan must NOT inline hyperplanes as literal arrays
    # (round 1 built dim×bits×tables literals) and the candidate join is
    # an equi-join on (table, bucket)
    lsh = e.q_ann_lsh_topk(spark, SF)
    plan = plan_of(lsh)
    n_lits = plan.count("0.")  # literal doubles would appear en masse
    ok &= check("lsh_topk_no_plan_literals", plan,
                must=[r"ArrowEvalPython|MapInPandas|mapInPandas|MapInArrow"],
                must_not=[r"SortMergeJoin|CartesianProduct|BroadcastNestedLoop"])
    print(("OK " if n_lits < 200 else "FAIL")
          + f" lsh_topk_literal_count ({n_lits} float-ish literals)")
    ok &= n_lits < 200

    from ner_pytorch_spark.operators.tagger import sentences_table, tag_sentences
    from ner_pytorch_spark.operators.triples import verb_arc_triples

    tagged = tag_sentences(sentences_table(pages), mode="gazetteer",
                           aliases=datagen.alias_rows())
    arcs = verb_arc_triples(tagged, datagen.VERB_ARC_LEXICON)
    plan = plan_of(arcs)
    # the one hash exchange allowed is the closing dropDuplicates
    n_ex = len(re.findall(r"Arguments: hashpartitioning", plan))
    ok &= check("verb_arc_one_exchange", f"{plan}\nhash exchanges {n_ex}",
                must=[r"BroadcastHashJoin", r"hash exchanges [01]$"],
                must_not=[r"SortMergeJoin"])

    for name, cooc in (
            ("staged", e.q_kg_triples_cooc(spark, SF)),
            ("fused", fused_triples(fused, datagen.PREDICATE_LEXICON,
                                    cooccurrence_window=3))):
        ok &= check(f"triples_cooc_zero_exchange[{name}]", plan_of(cooc),
                    must_not=NO_SHUFFLE)

    sh = e.q_simhash_pairs(spark, SF)
    plan = plan_of(sh)
    ok &= check("simhash_chunk_equijoin", plan,
                must_not=[r"CartesianProduct", r"BroadcastNestedLoop"])

    # the shared pair kernel: a warm call scans the cached, already
    # tile-partitioned table and scores it in one Arrow stage — the tree
    # above the tile table's InMemoryTableScan holds no exchange
    from ner_pytorch_spark.operators.dedup import ngram_jaccard_pairs

    for name, pairs in (
            ("simhash", lambda: e.q_simhash_pairs(spark, SF)),
            ("jaccard_dense", lambda: ngram_jaccard_pairs(
                e._read(spark, SF, "documents"), n=2, threshold=0.12))):
        pairs().count()
        tree = plan_of(pairs()).split("\n\n", 1)[0]
        ok &= check(f"{name}_warm_arrow_tiles",
                    tree.split("InMemoryTableScan", 1)[0],
                    must=[r"MapInArrow", r"Sort"],
                    must_not=[r"MapInPandas", r"Exchange"])

    # skew guards (round-5): with max_bucket set, both blocking joins
    # carry the frequency-cap filter — a hot (chunk/bucket) key is
    # filtered BEFORE the self-join, so a degenerate value can't go
    # quadratic. The cap shows up as a `df <= N` filter in the plan.
    from ner_pytorch_spark.operators.dedup import simhash_pairs
    from ner_pytorch_spark.operators.similarity import lsh_topk

    plan = plan_of(simhash_pairs(e._read(spark, SF, "documents"),
                                 max_bucket=1000))
    ok &= check("simhash_bucket_cap_in_plan", plan,
                must=[r"df#\d+L? <= 1000"],
                must_not=[r"CartesianProduct", r"BroadcastNestedLoop"])
    emb = e._read(spark, SF, "embeddings")
    plan = plan_of(lsh_topk(emb, k=3, n_bits=8, n_tables=2, max_bucket=1000))
    ok &= check("lsh_topk_bucket_cap_in_plan", plan,
                must=[r"df#\d+L? <= 1000"],
                must_not=[r"CartesianProduct", r"BroadcastNestedLoop"])

    # parsed-arc consumer: all arc/mention resolution row-local — the
    # lexicon join is broadcast, never sort-merge
    plan = plan_of(e.q_kg_triples_parsed(spark, SF))
    ok &= check("parsed_arc_broadcast_no_smj", plan,
                must=[r"BroadcastHashJoin"],
                must_not=[r"SortMergeJoin", r"CartesianProduct"])

    # corpus-wide KMV: the two-level k-minima merge leaves no global
    # single-partition window anywhere in the plan
    from ner_pytorch_spark.operators.textstats import kmv_distinct_tokens

    docs = e._read(spark, SF, "documents")
    plan = plan_of(kmv_distinct_tokens(docs, k=32, per_doc=False))
    ok &= check("kmv_corpuswide_no_single_partition", plan,
                must_not=[r"SinglePartition"])

    # decontamination: the n-gram overlap join must be an equi-join on
    # the gram hash — never a cartesian/nested-loop — and the clean
    # tail's anti-join likewise
    plan = plan_of(e.q_decontam_overlap(spark, SF))
    ok &= check("decontam_equijoin", plan,
                must=[r"xxhash64"],
                must_not=[r"CartesianProduct", r"BroadcastNestedLoop"])
    # the per-doc distinct n-gram hashes are an array_distinct inside
    # the doc's row: no row-level distinct, so no hash exchange
    from ner_pytorch_spark.operators.decontam import doc_ngram_hashes

    plan = plan_of(doc_ngram_hashes(e._read(spark, SF, "documents"), n=3))
    ok &= check("decontam_grams_row_local", plan, must_not=NO_SHUFFLE)
    plan = plan_of(e.q_decontam_clean(spark, SF))
    ok &= check("decontam_clean_antijoin", plan,
                must=[r"LeftAnti"],
                must_not=[r"CartesianProduct", r"BroadcastNestedLoop"])

    # boilerplate: per-domain totals ride a broadcast join (one tiny row
    # per domain), and the strip is row-local: one line set per domain
    # broadcast onto the docs, no anti-join on lines, no window and no
    # partitioned join back on the doc id
    plan = plan_of(e.q_boilerplate_df(spark, SF))
    ok &= check("boilerplate_broadcast_totals", plan,
                must=[r"BroadcastHashJoin"],
                must_not=[r"CartesianProduct"])
    from ner_pytorch_spark.operators.decontam import strip_boilerplate

    plan = plan_of(strip_boilerplate(e._read(spark, SF, "documents")))
    ok &= check("boilerplate_strip_row_local", plan,
                must=[r"BroadcastHashJoin"],
                must_not=[r"LeftAnti", r"SortMergeJoin", r"\(\d+\) Window",
                          r"CartesianProduct"])

    # minhash LSH after the round-4 rework: the shingle table is an
    # InMemoryRelation (computed once, not per branch) and the bucket
    # build adds no groupBy beyond the wide signature aggregate —
    # candidate join is an equi-join
    plan = plan_of(e.q_minhash_lsh(spark, SF))
    ok &= check("minhash_lsh_cached_shingles", plan,
                must=[r"InMemoryTableScan|InMemoryRelation"],
                must_not=[r"CartesianProduct", r"BroadcastNestedLoop"])

    # corpus-prep url canonicalization: min_by aggregation must plan as
    # partial+final HashAggregate (map-side combine of hot URLs), never
    # a sort-based Window — one row per canonical_url crosses the wire
    from ner_pytorch_spark.plans.corpus_prep import CorpusPrepPipeline

    cp = CorpusPrepPipeline(spark, "/tmp/_audit_cp")  # plan-only, no run
    url_plan = plan_of(cp._url_canon(
        e._read(spark, SF, "documents").selectExpr(
            "doc_id", "concat('http://EX.com/', doc_id) AS url", "text")))
    ok &= check("corpus_prep_urlcanon_partial_agg", url_plan,
                must=[r"partial_min|HashAggregate"],
                must_not=[r"\(\d+\) Window", r"CartesianProduct"])

    # corpus-prep exact dedup: one min_by aggregate keyed by md5(text),
    # combined map-side, and no join of any kind back onto the docs
    exact_plan = plan_of(cp._exact_dedup(
        e._read(spark, SF, "documents").select("doc_id", "text")))
    ok &= check("corpus_prep_exact_dedup_one_agg", exact_plan,
                must=[r"partial_min_by"],
                must_not=[r"\w+Join\b", r"CartesianProduct"])

    # corpus-prep quality gate: every metric is row-local over one token
    # array, so the gate plans with no join back on doc_id and no shuffle
    gate_plan = plan_of(cp._quality_gate(
        spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text")))
    cp._flush_bookkeeping()
    ok &= check("quality_gate_join_free", gate_plan,
                must_not=NO_SHUFFLE + [r"BroadcastHashJoin"])

    # html never read from a parquet-backed pages table when the fused
    # path only consumes (url, text) — column pruning reaches the scan
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        pages.write.parquet(f"{td}/pages")
        disk_pages = spark.read.parquet(f"{td}/pages")
        sents_plan = plan_of(pages_to_mention_pairs(
            disk_pages, datagen.alias_rows()))
        m = re.search(r"ReadSchema: ([^\n]*)", sents_plan)
        schema_line = m.group(1) if m else "?"
        pruned = "html" not in schema_line and "url" in schema_line
        print(("OK " if pruned else "FAIL")
              + f" fused_column_pruning (ReadSchema: {schema_line})")
        ok &= pruned

    spark.stop()
    print("AUDIT", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
