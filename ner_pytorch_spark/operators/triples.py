"""Triple extraction: mentions + sentence context → (subj, pred, obj).

C6 re-expressed relationally (SURVEY §2.8): the reference carries NER
tags through a dependency parse (/root/reference/dependency_paraphraser/
udpipe.py:63-102) — no parser ships in this environment, so the primary
extractor is the pattern/co-occurrence path SURVEY §7 Phase 3 specifies:

* ordered, non-overlapping mention pairs exploded inside each tagged
  row — no join;
* predicate = the token run BETWEEN the two mentions, matched against a
  broadcast predicate lexicon (equi broadcast join, J5 shape);
* **verb-arc layer** (:func:`verb_arc_triples`) — a deterministic
  approximation of the reference's dependency arcs: a lexicon verb
  anywhere in the sentence links its NEAREST preceding mention (subject)
  to its NEAREST following mention (object), so predicates survive
  modifiers/appositives that break the exact between-phrase match
  (udpipe.py:63-102 arc semantics, parser-free). Layered behind the
  pattern path: arcs only for pairs the between-join did not claim.
* optional co-occurrence fallback (``cooccurs_with``) for pairs within
  ``window`` tokens that no other layer claimed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .spans import extract_spans_udf


def sentence_local_triples(
    tagged: DataFrame,
    predicate_lexicon: dict[str, str],
    cooccurrence_window: int | None = None,
    verb_lexicon: dict[str, str] | None = None,
) -> DataFrame:
    """→ (url, sent_id, subj_surface, subj_type, pred, obj_surface,
    obj_type, subj_mention_id, obj_mention_id).

    Mention pairs are intra-sentence, so no self-join is needed at all:
    spans are computed on the tagged row and pair-exploded WITHIN the
    row; :func:`_assemble_triples` adds the pattern join, the optional
    verb-arc layer (``verb_lexicon``) and the optional co-occurrence
    fallback. Without arcs the physical plan is scan → UDF → explode →
    explode → filter → broadcast-join — zero exchanges.
    """
    sp = tagged.withColumn(
        "spans", extract_spans_udf(F.col("pred_tags"), F.col("tokens")))
    pairs = (
        sp.select("url", "sent_id", "tokens", "spans",
                  F.posexplode("spans").alias("subj_mention_id", "m1"))
        .select("url", "sent_id", "tokens", "subj_mention_id", "m1",
                F.posexplode("spans").alias("obj_mention_id", "m2"))
        .filter(F.col("m1.end") <= F.col("m2.start"))
        .select(
            "url", "sent_id", "subj_mention_id", "obj_mention_id",
            F.col("m1.surface").alias("subj_surface"),
            F.col("m1.tag_type").alias("subj_type"),
            F.col("m2.surface").alias("obj_surface"),
            F.col("m2.tag_type").alias("obj_type"),
            (F.col("m2.start") - F.col("m1.end")).alias("gap"),
            F.array_join(
                F.slice(F.col("tokens"), F.col("m1.end") + 1,
                        F.col("m2.start") - F.col("m1.end")), " ").alias("between"),
        )
    )
    arcs = verb_arc_triples(tagged, verb_lexicon) if verb_lexicon else None
    return _assemble_triples(pairs, predicate_lexicon, cooccurrence_window,
                             arcs)


_OUT_COLS = [
    "url", "sent_id", "subj_surface", "subj_type", "pred",
    "obj_surface", "obj_type", "subj_mention_id", "obj_mention_id",
]
_PAIR_KEYS = ["url", "sent_id", "subj_mention_id", "obj_mention_id"]


def _assemble_triples(pairs: DataFrame, predicate_lexicon: dict[str, str],
                      cooccurrence_window: int | None = None,
                      arcs: DataFrame | None = None) -> DataFrame:
    """The one triple tail shared by the staged and fused paths.

    ``pairs``: (url, sent_id, subj/obj_mention_id, subj/obj_surface,
    subj/obj_type, gap, between). Pattern triples = pairs ⨝ broadcast
    lexicon on ``between``; ``arcs`` (verb-arc triples) are layered in
    for pairs the pattern join did not claim; the ``cooccurs_with``
    fallback keeps in-window pairs that neither claimed. A pair is
    pattern-claimed iff its ``between`` is a lexicon key, so the
    fallback is a broadcast anti-join on the lexicon — no pair-key
    shuffle unless arcs exist.
    """
    lex = F.broadcast(pairs.sparkSession.createDataFrame(
        sorted(predicate_lexicon.items()), "between string, pred string"))
    pattern = pairs.join(lex, on="between", how="inner").select(*_OUT_COLS)
    result = pattern
    if arcs is not None:
        result = pattern.unionByName(
            arcs.join(pattern.select(*_PAIR_KEYS), on=_PAIR_KEYS,
                      how="left_anti")
            .select(*_OUT_COLS))
    if cooccurrence_window is not None:
        cooc = pairs.join(lex, on="between", how="left_anti")
        if arcs is not None:
            cooc = cooc.join(arcs.select(*_PAIR_KEYS), on=_PAIR_KEYS,
                             how="left_anti")
        result = result.unionByName(
            cooc.filter(F.col("gap") <= cooccurrence_window)
            .withColumn("pred", F.lit("cooccurs_with"))
            .select(*_OUT_COLS))
    return result


def _indexed_spans() -> Column:
    """Spans of the row's BIOES tags with their mention index:
    array<struct<mention_id, start, end, tag_type, surface>>."""
    # NOTE: field aliases on HOF lambda variables don't stick (Spark
    # names them y_N), so the struct is cast to an explicit schema
    return F.transform(
        extract_spans_udf(F.col("pred_tags"), F.col("tokens")),
        lambda m, i: F.struct(
            i, m["start"], m["end"], m["tag_type"], m["surface"],
        ).cast("struct<mention_id:int,start:int,end:int,"
               "tag_type:string,surface:string>"))


def verb_arc_triples(tagged: DataFrame,
                     verb_lexicon: dict[str, str]) -> DataFrame:
    """C6 arc-shaped extraction without a parser (one exchange).

    The reference walks UDPipe dependency arcs carrying NER tags
    (/root/reference/dependency_paraphraser/udpipe.py:63-102); this is
    the deterministic surface approximation: for every lexicon verb
    token not inside a mention, subject = the mention whose END is
    nearest before the verb, object = the mention whose START is nearest
    after. All resolution happens INSIDE the row with higher-order array
    functions (filter/transform/array_max) — the physical plan is
    scan → spans UDF → posexplode → broadcast verb join → project, no
    window; the closing ``dropDuplicates`` is the one hash exchange.

    ``verb_lexicon``: verb token → predicate name.
    """
    spark = tagged.sparkSession
    vlex = spark.createDataFrame(
        sorted(verb_lexicon.items()), "verb string, pred string")
    verbs = (
        tagged.select("url", "sent_id", _indexed_spans().alias("spans"),
                      F.posexplode("tokens").alias("pos", "verb"))
        .join(F.broadcast(vlex), on="verb")
        # a verb token inside a mention span is part of the entity name
        .filter(~F.exists(
            "spans", lambda m: (m["start"] <= F.col("pos"))
            & (F.col("pos") < m["end"])))
    )
    # nearest preceding = max end among mentions ending at/before the
    # verb; nearest following = min start after it (struct comparison
    # orders by the leading sort key; empty candidate set → null)
    subj = F.array_max(F.transform(
        F.filter("spans", lambda m: m["end"] <= F.col("pos")),
        lambda m: F.struct(m["end"].alias("k"), m.alias("m"))))["m"]
    obj = F.array_min(F.transform(
        F.filter("spans", lambda m: m["start"] > F.col("pos")),
        lambda m: F.struct(m["start"].alias("k"), m.alias("m"))))["m"]
    return (
        verbs.select("url", "sent_id", "pred",
                     subj.alias("s"), obj.alias("o"))
        .filter(F.col("s").isNotNull() & F.col("o").isNotNull())
        .select(
            "url", "sent_id",
            F.col("s")["surface"].alias("subj_surface"),
            F.col("s")["tag_type"].alias("subj_type"),
            "pred",
            F.col("o")["surface"].alias("obj_surface"),
            F.col("o")["tag_type"].alias("obj_type"),
            F.col("s")["mention_id"].alias("subj_mention_id"),
            F.col("o")["mention_id"].alias("obj_mention_id"))
        .dropDuplicates(["url", "sent_id", "subj_mention_id",
                         "obj_mention_id", "pred"])
    )


def parsed_arc_triples(parsed: DataFrame,
                       verb_lexicon: dict[str, str] | None = None,
                       subj_rels: tuple[str, ...] = ("nsubj", "nsubj:pass"),
                       obj_rels: tuple[str, ...] = ("obj", "iobj", "obl"),
                       arcs_col: str = "arcs",
                       conj_propagate: bool = False) -> DataFrame:
    """C6 completion path: triples from a PRE-PARSED dependency column.

    The reference's arcs come from an actual UDPipe parse whose tokens
    carry NER tags in ``misc`` (/root/reference/dependency_paraphraser/
    udpipe.py:63-72 attaches them; the tree walk consumes head/deprel).
    No parser ships in this sandbox, but any UDPipe-equipped cluster can
    produce the parse as a column — this operator consumes it, so the
    engine has a real socket for parser output instead of only the
    surface approximation (:func:`verb_arc_triples` stays the
    parser-free fallback).

    ``parsed`` needs (url, sent_id, tokens array<string>, pred_tags
    array<string> BIOES, <arcs_col> array<struct<id:int, head:int,
    deprel:string, upos:string>>) with CoNLL-U conventions: ``id``
    1-based token index, ``head`` = 0 for root. For every ``upos =
    'VERB'`` token, subject mentions are the mentions containing a
    ``subj_rels`` dependent of the verb, objects those containing an
    ``obj_rels`` dependent; the predicate is the verb's lexicon mapping
    (broadcast join) or its lowercased form. All arc/mention resolution
    is row-local higher-order-function work — the physical plan is
    scan → spans UDF → posexplode → (broadcast join) → explode ×2 →
    project, then the closing ``dropDuplicates`` as the one hash
    exchange, the same 100 TB shape as the fallback path.

    ``conj_propagate=True`` adds the conjunction distribution the
    reference's tree walk gets by linearizing whole subtrees
    (/root/reference/dependency_paraphraser/projection.py:48-96):

    * dependent-level — each subj/obj dependent token brings its own
      ``conj`` children ("founded Acme and Beta" → both orgs are
      objects; "Alice and Bob founded" → both are subjects; UD attaches
      every later conjunct to the FIRST, so one hop covers chains);
    * verb-level — a verb with no own dependents of the requested kind
      that hangs off another VERB via ``conj`` inherits that verb's
      (conj-expanded) dependents ("Alice founded Acme and acquired
      Beta" → Alice is also the subject of *acquired*; a conjunct with
      its OWN subject keeps it and inherits nothing).

    Still entirely row-local HOFs; the plan shape is unchanged.
    """
    verbs = (
        parsed.select(
            "url", "sent_id", "tokens", _indexed_spans().alias("spans"),
            F.col(arcs_col).alias("arcs"),
            F.posexplode(arcs_col).alias("apos", "arc"))
        .filter(F.col("arc.upos") == "VERB")
        .select(
            "url", "sent_id", "spans", "arcs",
            F.col("arc.id").alias("verb_id"),
            F.col("arc.head").alias("verb_head"),
            F.col("arc.deprel").alias("verb_deprel"),
            F.lower(F.element_at("tokens", F.col("arc.id"))).alias("verb"))
    )
    if verb_lexicon:
        vlex = parsed.sparkSession.createDataFrame(
            sorted((k.lower(), v) for k, v in verb_lexicon.items()),
            "verb string, lex_pred string")
        verbs = (verbs.join(F.broadcast(vlex), on="verb", how="left")
                 .withColumn("pred", F.coalesce("lex_pred", "verb")))
    else:
        verbs = verbs.withColumn("pred", F.col("verb"))

    def raw_deps(rels: tuple[str, ...], head_col):
        return F.filter(
            "arcs", lambda a: (a["head"] == head_col)
            & a["deprel"].isin(*rels))

    def with_conj(deps):
        # each dependent brings its own conj children (UD chains are
        # flat: every later conjunct heads at the first → one hop)
        kids = F.flatten(F.transform(
            deps, lambda d: F.filter(
                "arcs", lambda c: (c["head"] == d["id"])
                & (c["deprel"] == "conj"))))
        return F.concat(deps, kids)

    def dependents(rels: tuple[str, ...]):
        # mentions containing a token whose arc points at this verb with
        # one of `rels`; arc ids are 1-based → token position = id - 1
        deps = raw_deps(rels, F.col("verb_id"))
        if conj_propagate:
            deps = with_conj(deps)
            parent = F.get(F.filter(
                "arcs", lambda a: a["id"] == F.col("verb_head")), 0)
            inherited = with_conj(raw_deps(rels, F.col("verb_head")))
            deps = F.when(
                (F.size(deps) == 0)
                & (F.col("verb_deprel") == "conj")
                & (parent["upos"] == "VERB"),
                inherited).otherwise(deps)
        ments = F.transform(deps, lambda a: F.get(F.filter(
            "spans", lambda m: (m["start"] <= a["id"] - 1)
            & (a["id"] - 1 < m["end"])), 0))
        return F.array_distinct(F.filter(ments, lambda m: m.isNotNull()))

    return (
        verbs.select(
            "url", "sent_id", "pred", "spans", "arcs", "verb_id",
            "verb_head", "verb_deprel",
            F.explode(dependents(subj_rels)).alias("s"))
        .select("url", "sent_id", "pred", "s",
                F.explode(dependents(obj_rels)).alias("o"))
        .filter(F.col("s.mention_id") != F.col("o.mention_id"))
        .select(
            "url", "sent_id",
            F.col("s.surface").alias("subj_surface"),
            F.col("s.tag_type").alias("subj_type"),
            "pred",
            F.col("o.surface").alias("obj_surface"),
            F.col("o.tag_type").alias("obj_type"),
            F.col("s.mention_id").alias("subj_mention_id"),
            F.col("o.mention_id").alias("obj_mention_id"))
        .dropDuplicates(["url", "sent_id", "subj_mention_id",
                         "obj_mention_id", "pred"])
    )


def canonical_triples(triples: DataFrame, links: DataFrame) -> DataFrame:
    """Resolve subject/object surfaces → canonical entity ids via the
    per-mention link table (url, sent_id, mention_id, canonical_id)."""
    l_subj = links.select(
        "url", "sent_id",
        F.col("mention_id").alias("subj_mention_id"),
        F.col("canonical_id").alias("subj_id"))
    l_obj = links.select(
        "url", "sent_id",
        F.col("mention_id").alias("obj_mention_id"),
        F.col("canonical_id").alias("obj_id"))
    return (
        triples
        .join(l_subj, on=["url", "sent_id", "subj_mention_id"])
        .join(l_obj, on=["url", "sent_id", "obj_mention_id"])
        .select("url", "sent_id", "subj_id", "pred", "obj_id",
                "subj_surface", "obj_surface")
    )
