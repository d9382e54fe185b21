"""Benchmark decontamination + domain-scoped boilerplate removal."""

import pytest

from ner_pytorch_spark.operators.decontam import (benchmark_overlap,
                                                  boilerplate_lines,
                                                  decontaminate,
                                                  doc_ngram_hashes,
                                                  strip_boilerplate)

DOCS_DDL = "doc_id long, text string, source string"


@pytest.fixture(scope="module")
def contam(spark):
    train = spark.createDataFrame([
        (1, "alpha beta gamma delta epsilon", "s"),      # leaks b1 (2 grams)
        (2, "zeta eta theta iota kappa", "s"),           # clean
        (3, "alpha beta gamma nu xi", "s"),              # leaks b1 (1 gram)
        (4, "one two", "s"),                             # shorter than n
    ], DOCS_DDL)
    bench = spark.createDataFrame([
        (100, "alpha beta gamma delta omega", "s"),
        (101, "alpha beta gamma psi chi", "s"),
    ], DOCS_DDL)
    return train, bench


def test_ngram_hashes_distinct_and_short_docs(spark, contam):
    train, _ = contam
    rows = doc_ngram_hashes(train, n=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.gram_hash)
    assert len(by_doc.get(1, ())) == 3      # 5 tokens → 3 trigrams
    assert 4 not in by_doc                  # 2 tokens < n → no grams
    # repetition within a doc collapses (distinct)
    rep = spark.createDataFrame([(9, "a b c a b c a b c", "s")], DOCS_DDL)
    grams = doc_ngram_hashes(rep, n=3).collect()
    assert len(grams) == 3                  # 'a b c', 'b c a', 'c a b'


def test_benchmark_overlap_counts(spark, contam):
    train, bench = contam
    got = {r.doc_id: (r.n_shared_ngrams, r.n_bench_docs)
           for r in benchmark_overlap(train, bench, n=3).collect()}
    # doc 1 shares 'alpha beta gamma' (both bench) + 'beta gamma delta'
    # (bench 100); doc 3 shares 'alpha beta gamma' only
    assert got == {1: (2, 2), 3: (1, 2)}


def test_max_bench_df_cap(spark, contam):
    train, bench = contam
    # 'alpha beta gamma' has bench df 2 → dropped by cap 1;
    # 'beta gamma delta' (df 1) survives → only doc 1 stays flagged
    got = {r.doc_id: (r.n_shared_ngrams, r.n_bench_docs)
           for r in benchmark_overlap(train, bench, n=3,
                                      max_bench_df=1).collect()}
    assert got == {1: (1, 1)}


def test_decontaminate_filters(spark, contam):
    train, bench = contam
    kept = {r.doc_id for r in decontaminate(train, bench, n=3,
                                            min_shared=2).collect()}
    assert kept == {2, 3, 4}                # only doc 1 has ≥2 shared
    kept1 = {r.doc_id for r in decontaminate(train, bench, n=3,
                                             min_shared=1).collect()}
    assert kept1 == {2, 4}


@pytest.fixture(scope="module")
def bp_docs(spark):
    footer = "copyright acme corp all rights reserved"
    nav = "home products about contact"
    rows = []
    for i in range(10):                     # domain A: footer on all 10,
        body = f"unique body line {i}"      # nav on 3 of 10
        text = "\n".join([body, footer] + ([nav] if i < 3 else []))
        rows.append((i, text, "a.com"))
    # domain B carries the SAME footer but only on 1 of 10 docs — must
    # NOT be flagged there (domain-scoped counting)
    for i in range(10):
        text = f"b body {i}" + ("\n" + footer if i == 0 else "")
        rows.append((100 + i, text, "b.com"))
    return spark.createDataFrame(rows, DOCS_DDL), footer, nav


def test_boilerplate_lines_domain_scoped(spark, bp_docs):
    docs, footer, nav = bp_docs
    got = {(r.source, r.line): (r.n_docs, r.doc_frac)
           for r in boilerplate_lines(docs, min_doc_frac=0.25,
                                      min_docs=2).collect()}
    assert got == {("a.com", footer): (10, 1.0),
                   ("a.com", nav): (3, 0.3)}
    # threshold above nav's 0.3 keeps only the footer
    got2 = {(r.source, r.line)
            for r in boilerplate_lines(docs, min_doc_frac=0.5).collect()}
    assert got2 == {("a.com", footer)}


def test_strip_boilerplate_preserves_order(spark, bp_docs):
    docs, footer, nav = bp_docs
    out = {r.doc_id: r.clean_text
           for r in strip_boilerplate(docs, min_doc_frac=0.25,
                                      min_docs=2).collect()}
    assert out[0] == "unique body line 0"       # footer + nav stripped
    assert out[5] == "unique body line 5"
    assert out[100] == f"b body 0\n{footer}"    # domain B keeps footer
    # multi-line body keeps its original line order
    multi = spark.createDataFrame(
        [(1, "z line\na line\n" + footer, "a.com"),
         (2, "keep\n" + footer, "a.com")], DOCS_DDL)
    got = {r.doc_id: r.clean_text
           for r in strip_boilerplate(multi, min_doc_frac=0.5).collect()}
    assert got[1] == "z line\na line"           # NOT sorted alphabetically
    assert got[2] == "keep"


def test_strip_boilerplate_all_boilerplate_doc(spark):
    docs = spark.createDataFrame(
        [(1, "same", "d"), (2, "same", "d"), (3, "same\nextra", "d")],
        DOCS_DDL)
    got = {r.doc_id: r.clean_text
           for r in strip_boilerplate(docs, min_doc_frac=0.5).collect()}
    assert got == {1: "", 2: "", 3: "extra"}


def test_strip_boilerplate_refetched_pages_keep_their_own_lines(spark):
    # one url fetched twice (different crawl times) plus a second page:
    # each fetch keeps only its own non-boilerplate lines
    pages = spark.createDataFrame(
        [("http://a.com/p", "first fetch line\nfooter", "a.com"),
         ("http://a.com/p", "second fetch line\nfooter", "a.com"),
         ("http://a.com/q", "q body\nfooter", "a.com")],
        "url string, text string, source string")
    got = sorted((r.url, r.clean_text) for r in strip_boilerplate(
        pages, min_doc_frac=0.5, min_docs=2, id_col="url").collect())
    assert got == [("http://a.com/p", "first fetch line"),
                   ("http://a.com/p", "second fetch line"),
                   ("http://a.com/q", "q body")]


ADV_DOCS = [
    # a.com: nav on 1-3 (space-padded on 1 and 3), footer on 1, 2, 3, 5
    (1, "  nav bar  \nbody one 1\nfooter 2026\n\n   \nbody one 1", "a.com"),
    (2, "nav bar\nbody two 22\nfooter 2026", "a.com"),
    (3, "nav bar \n\nfooter 2026\nfooter 2026", "a.com"),
    (4, None, "a.com"),
    (5, "body five 5\n\ttabbed \nfooter 2026\n", "a.com"),
    # b.com: no line in two docs
    (10, "b one", "b.com"),
    (11, "b two 2\nb two 2", "b.com"),
    (12, "b three 3\n \n", "b.com"),
    # no domain: a shared line is never boilerplate
    (20, "shared line\nx 1", None),
    (21, "shared line\ny 2", None),
    (22, "shared line", None),
]


def _ref_lines(text):
    # Spark's trim strips the space character only
    if text is None:
        return []
    return [s for s in (ln.strip(" ") for ln in text.split("\n")) if s]


def _ref_boilerplate(docs, min_doc_frac, min_docs):
    ids_by_domain, ids_by_line = {}, {}
    for doc_id, text, dom in docs:
        ids_by_domain.setdefault(dom, set()).add(doc_id)
        for ln in _ref_lines(text):
            ids_by_line.setdefault((dom, ln), set()).add(doc_id)
    out = {}
    for (dom, ln), ids in ids_by_line.items():
        if dom is None:
            continue
        frac = len(ids) / len(ids_by_domain[dom])
        if len(ids) >= min_docs and frac >= min_doc_frac:
            out[(dom, ln)] = (len(ids), frac)
    return out


@pytest.mark.parametrize("min_doc_frac,min_docs", [(0.5, 2), (0.0, 1)])
def test_boilerplate_adversarial_matches_reference(spark, min_doc_frac,
                                                   min_docs):
    docs = spark.createDataFrame(ADV_DOCS, DOCS_DDL)
    ref = _ref_boilerplate(ADV_DOCS, min_doc_frac, min_docs)
    got = {(r.source, r.line): (r.n_docs, r.doc_frac)
           for r in boilerplate_lines(docs, min_doc_frac,
                                      min_docs).collect()}
    assert got.keys() == ref.keys()
    for key, (n, frac) in ref.items():
        assert got[key][0] == n and got[key][1] == pytest.approx(frac,
                                                                 abs=1e-6)
    if min_docs == 2:
        assert set(ref) == {("a.com", "nav bar"), ("a.com", "footer 2026")}

    out = strip_boilerplate(docs, min_doc_frac, min_docs)
    assert out.columns == docs.columns + ["clean_text"]
    clean = {r.doc_id: r.clean_text for r in out.collect()}
    assert clean == {
        doc_id: "\n".join(ln for ln in _ref_lines(text)
                          if (dom, ln) not in ref)
        for doc_id, text, dom in ADV_DOCS}
    if min_docs == 2:
        assert clean[1] == "body one 1\nbody one 1"
        assert clean[4] == ""
        assert clean[5] == "body five 5\n\ttabbed"
        assert clean[20] == "shared line\nx 1"
