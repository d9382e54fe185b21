"""CorpusPrepPipeline — the end-to-end training-corpus hygiene plan.

A constructed 10-doc corpus exercises every stage with a known victim:
URL-variant dup, German doc, junk doc, exact dup, near dup,
benchmark-contaminated doc — and the survivor set is asserted exactly.
"""

import pytest

from pyspark.sql import functions as F

from ner_pytorch_spark.plans.corpus_prep import CorpusPrepPipeline

FOOTER = "© footer ex"
T4 = ("the quick brown fox jumps over the lazy dog and it is fine "
      "today in the sun")
PHRASE = "we walk to the store and buy the bread for the family"


def _corpus(spark):
    rows = [
        # 0/1: URL variants of the same page → url_canon keeps 0
        (0, "http://EX.com:80/a?utm_x=1",
         "the cat and the dog in the park is happy today with a friend"),
        (1, "HTTP://ex.COM/a#frag",
         "the dup target and of to in is was for on with it"),
        # 2: German → language gate drops
        (2, "http://ex.com/b",
         "der die das und ist von zu mit den im auf ein eine nicht am"),
        # 3: digit/punct junk → quality gate drops
        (3, "http://ex.com/c",
         "1234 5678 !!! ??? 999 000 111 ... 222 ;;; 333"),
        # 4/5: byte-identical → exact dedup keeps 4
        (4, "http://ex.com/d", T4),
        (5, "http://ex.com/e", T4),
        # 6: near dup of 4 (one word differs) → near_dedup drops doc_b=6
        (6, "http://ex.com/f", T4.replace("the sun", "the shade")),
        # 7: contains the benchmark phrase verbatim → decontam drops
        (7, "http://ex.com/g", PHRASE + " and it is a good day today"),
        # 8: clean unique English → survives everything
        (8, "http://ex.com/h",
         "a small bird sits on the branch and it sings to the morning "
         "light"),
    ]
    docs = spark.createDataFrame(
        [(i, u, t + "\n" + FOOTER) for i, u, t in rows],
        "doc_id long, url string, text string")
    bench = spark.createDataFrame([(100, PHRASE)],
                                  "doc_id long, text string")
    return docs, bench, {i: t for i, _, t in rows}


def _pipe(spark, tmp_path):
    return CorpusPrepPipeline(
        spark, str(tmp_path / "cat"),
        boilerplate_frac=0.5, boilerplate_min_docs=2,
        jaccard_n=2, jaccard_threshold=0.5,
        decontam_n=3, decontam_min_shared=2, decontam_max_bench_df=2)


def test_every_stage_drops_its_victim(spark, tmp_path):
    docs, bench, texts = _corpus(spark)
    out = _pipe(spark, tmp_path).run(docs, benchmark=bench)

    canon = {r["doc_id"]: r["canonical_url"]
             for r in out["url_canon"].collect()}
    assert 1 not in canon and canon[0] == "http://ex.com/a"

    # footer stripped, original text byte-preserved
    clean = {r["doc_id"]: r["text"] for r in out["clean_text"].collect()}
    assert clean[0] == texts[0]
    assert FOOTER not in clean[4]

    gated = {r["doc_id"] for r in out["quality_gate"].collect()}
    assert 2 not in gated, "German doc must fail the language gate"
    assert 3 not in gated, "junk doc must fail the quality gate"
    assert {0, 4, 5, 6, 7, 8} <= gated

    assert {r["doc_id"] for r in out["exact_dedup"].collect()} == \
        {0, 4, 6, 7, 8}
    assert {r["doc_id"] for r in out["near_dedup"].collect()} == \
        {0, 4, 7, 8}

    final = {r["doc_id"]: r for r in out["final"].collect()}
    assert set(final) == {0, 4, 8}
    assert set(out["final"].columns) == {
        "doc_id", "canonical_url", "n_chars", "n_tokens", "quality"}
    assert final[0]["n_chars"] == len(texts[0])
    assert final[0]["quality"] >= 0.5


def test_metrics_lineage_and_resume(spark, tmp_path):
    docs, bench, _ = _corpus(spark)
    pipe = _pipe(spark, tmp_path)
    first = pipe.run(docs, benchmark=bench)
    expect_stages = {"url_canon", "clean_text", "quality_gate",
                     "exact_dedup", "near_dedup", "decontam", "final"}

    metrics = pipe.catalog.read("_metrics").collect()
    assert {m["stage"] for m in metrics} == expect_stages
    by_stage = {m["stage"]: m["n_rows"] for m in metrics}
    assert by_stage["final"] == 3
    lineage = pipe.catalog.read("_lineage").collect()
    assert {r["stage"] for r in lineage} == expect_stages
    # every stage's lineage rows reconcile with its metric row and its
    # committed snapshot
    for stage in expect_stages:
        lin = sum(r["n_rows"] for r in lineage if r["stage"] == stage)
        assert lin == by_stage[stage] == pipe.catalog.read(stage).count(), \
            stage

    # resume: a second run over the SAME catalog reuses every snapshot
    # (metrics are only appended on a real run, so the count is stable)
    again = pipe.run(docs, benchmark=bench, resume=True)
    assert sorted(again["final"].collect()) == sorted(first["final"].collect())
    assert len(pipe.catalog.read("_metrics").collect()) == len(metrics)


def test_no_benchmark_skips_decontam(spark, tmp_path):
    docs, _, _ = _corpus(spark)
    out = _pipe(spark, tmp_path).run(docs, benchmark=None)
    assert {r["doc_id"] for r in out["final"].collect()} == {0, 4, 7, 8}


def test_boilerplate_off_keeps_footer(spark, tmp_path):
    docs, bench, _ = _corpus(spark)
    pipe = CorpusPrepPipeline(
        spark, str(tmp_path / "cat2"), boilerplate_frac=None,
        decontam_n=3, decontam_min_shared=2)
    out = pipe.run(docs, benchmark=bench)
    clean = {r["doc_id"]: r["text"] for r in out["clean_text"].collect()}
    assert FOOTER in clean[0]


def test_corpus_clean_still_matches_its_oracle(spark):
    """corpus_clean left the driver registry (subsumed by corpus_prep)
    but its composition is still pinned here against the same DuckDB
    oracle the driver used through round 5."""
    import duckdb
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r["doc_id"], r["quality"])
        for r in entrymod.q_corpus_clean(spark, sf).collect())
    con = duckdb.connect()
    con.execute("create view documents as select * from "
                f"read_parquet('{sf}/documents.parquet')")
    want = sorted(
        (int(a), float(b))
        for a, b in con.execute(
            entrymod.oracle_sql()["corpus_clean"]).fetchall())
    assert [g[0] for g in got] == [w[0] for w in want]
    assert all(abs(g[1] - w[1]) < 1e-6 for g, w in zip(got, want))
