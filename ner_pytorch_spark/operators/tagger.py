"""Sentence segmentation + featurization + batched mention tagging.

The inference hot path of the engine (SURVEY §7 Phase 1):

    pages → filter(lang='en') → sentences (split + posexplode, JVM-side)
          → tag_sentences (ONE Arrow-batched mapInPandas stage:
            featurize P1-P6 + emissions + CRF Viterbi M8)
          → mentions (C1 explode)

or, fused, pages → ONE mapInArrow stage (line split, tokenize, decode,
spans, in-sentence pairs) → flat mention/pair rows.

Two modes share one decode pipeline (payload → per-task memo → decode):

* ``neural``    — the full char-CNN/BiLSTM forward
  (:mod:`ner_pytorch_spark.operators.encoder`) with broadcast weights,
  decoded by the numpy CRF Viterbi; the production path once trained
  weights are loaded.
* ``gazetteer`` — broadcast alias-dictionary longest matches (the
  distant-supervision path; deterministic, used for the synthetic-corpus
  P/R gate where no trained checkpoint exists), decoded exactly without
  the Viterbi DP (:func:`gazetteer_decode`).

Stage sizing: the fused crossing reads its input through
:func:`~ner_pytorch_spark.session.arrow_stage_input`, which coalesces an
input smaller than cores × the AQE advisory size to one partition per
core. Each Python task unpickles its function and starts a cold decode
memo, so a small input split into more partitions than cores pays that
once per core, not once per upstream partition (on kg_fused, 4 CPUs:
12 tasks instead of 4 cost 28% of rows/s). ``tag_sentences`` keeps its
caller's partitioning.

Featurization parity contracts (unit-tested):
  word ids: lowercase + digit-fold + <UNK> fallback
  (/root/reference/loader.py:135-137,160-161); char ids: case kept,
  OOV chars silently DROPPED (/root/reference/loader.py:138); caps:
  4-way class (/root/reference/loader.py:113-128).
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

from ..functions.textnorm import (py_cap_feature, py_tokenize_ws,
                                  py_zero_digits, tokenize_ws)
from ..session import arrow_stage_input
from .crf import IMPOSSIBLE, viterbi_decode
from .encoder import TaggerWeights, neural_emissions
from .spans import extract_spans
from .tagset import ENTITY_TYPES, grammar_transitions, iobes_tags
from .triples import _assemble_triples

MATCH_SCORE = 10.0

# ASCII file/group/record/unit separators: str.split() whitespace but
# NOT Java-\s whitespace — lines containing them can't use the fast path
_FS_SEPS = re.compile("[\x1c-\x1f]")


def _line_tokens(line: str) -> list[str]:
    """One line → its tokens under the JVM ``\\s+`` contract
    (:func:`tokenize_ws`, ``[ \\t\\n\\x0B\\f\\r]``). On plain-ASCII text
    ``str.split()`` is identical and ~3× faster — EXCEPT the separators
    ``\\x1c-\\x1f``, which it treats as whitespace and Java ``\\s`` does
    not, so those lines (and non-ASCII ones, U+00A0 etc.) take the pinned
    ASCII-class regex."""
    if line.isascii() and _FS_SEPS.search(line) is None:
        return line.split()
    return py_tokenize_ws(line)


# ------------------------------------------------------------ sentences


def sentences_table(pages: DataFrame, lang: str | None = "en") -> DataFrame:
    """pages → (url, sent_id, sentence, tokens). All JVM-side.

    Sentence = non-empty line of the extracted text (the extractor emits
    one block element per line); tokens = whitespace split. ``sent_id``
    is the line ordinal — a pure function of the text, stable under any
    repartitioning.
    """
    df = pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return (
        df.select("url", F.posexplode(F.split("text", "\n")).alias("sent_id", "sentence"))
        .filter(F.length("sentence") > 0)
        .withColumn("tokens", tokenize_ws(F.col("sentence")))
        .filter(F.size("tokens") > 0)
    )


# ------------------------------------------------------- featurization


def featurize_sentence(tokens: list[str], word_to_id: dict, char_to_id: dict,
                       unk_id: int) -> tuple[list[int], list[list[int]], list[int]]:
    """P1-P6 for one sentence; pure, shared with the golden pipeline."""
    word_ids = [
        word_to_id.get(py_zero_digits(t.lower()), unk_id) for t in tokens]
    char_ids = [
        [char_to_id[c] for c in t if c in char_to_id]  # OOV-drop, loader.py:138
        for t in tokens]
    caps = [py_cap_feature(t) for t in tokens]
    return word_ids, char_ids, caps


# ------------------------------------------------- gazetteer emissions


def build_surface_index(aliases: list[dict]) -> dict:
    """first_token → [(token_tuple, tag_type)], longest-first.

    Greedy leftmost-longest matching mirrors the reference's PPDB
    bigram-then-unigram lookup (J5, /root/reference/ppdb.py:85-100) —
    with the bigram-construction bug at ppdb.py:89 fixed, not replicated.
    """
    idx: dict[str, list[tuple[tuple[str, ...], str]]] = {}
    for row in aliases:
        toks = tuple(row["surface"].split(" "))
        idx.setdefault(toks[0], []).append((toks, row["tag_type"]))
    for k in idx:
        idx[k].sort(key=lambda p: (-len(p[0]), p[0]))
    return idx


def gazetteer_tag_ids(tokens: list[str], surface_index: dict,
                      tag_ids: dict[str, int]) -> list[int]:
    """Greedy longest-match → IOBES tag-id sequence (gold emissions)."""
    n = len(tokens)
    ids = [tag_ids["O"]] * n
    i = 0
    while i < n:
        cands = surface_index.get(tokens[i])
        matched = False
        if cands:
            for toks, tt in cands:
                L = len(toks)
                if i + L <= n and tuple(tokens[i:i + L]) == toks:
                    if L == 1:
                        ids[i] = tag_ids[f"S-{tt}"]
                    else:
                        ids[i] = tag_ids[f"B-{tt}"]
                        for j in range(i + 1, i + L - 1):
                            ids[j] = tag_ids[f"I-{tt}"]
                        ids[i + L - 1] = tag_ids[f"E-{tt}"]
                    i += L
                    matched = True
                    break
        if not matched:
            i += 1
    return ids


def gazetteer_decode(
    tok_lists: list[list[str]],
    surface_index: dict,
    tag_ids: dict[str, int],
    transitions: np.ndarray,
) -> list[list[int]]:
    """Exact gazetteer-mode decode WITHOUT running the Viterbi DP.

    In gazetteer mode the emission lattice is deterministic: 0
    everywhere except the matched positions, which carry MATCH_SCORE,
    and the decode transitions are the pure IOBES grammar (exactly 0 or
    IMPOSSIBLE). Under that structure the candidate path "matched tags,
    O elsewhere" is provably what :func:`viterbi_decode` returns:

    - it is grammar-valid by construction (greedy longest-match emits
      non-overlapping well-formed spans), so its score is
      MATCH_SCORE x n_matched — the maximum attainable, since every
      transition score is <= 0 and deviating at a matched position
      forfeits MATCH_SCORE;
    - tie-breaking: alternative max-score paths differ only on
      zero-emission runs, and the DP's argmax-first tie-break always
      prefers tag id 0 = "O" there (backptr argmax picks the smallest
      maximal index, and delta["O"] is maximal at every unmatched
      position), which is exactly this candidate.

    A vectorized grammar check still guards every sentence; any
    candidate that is NOT valid (impossible with the current matcher,
    cheap insurance against future matchers) falls back to the real
    DP in one small batch. Both tagging paths decode gazetteer mode
    through this; it is unit-tested against :func:`viterbi_decode` on
    matcher output and on a forced-invalid candidate. Skipping the DP
    also skips materializing the [B, L, T] emission tensor — on profile
    this halves the fused UDF body.
    """
    T = transitions.shape[0] - 2
    half = IMPOSSIBLE / 2.0
    ok_pair = transitions[:T, :T] > half
    ok_start = transitions[T, :T] > half
    ok_stop = transitions[:T, T + 1] > half
    paths: list[list[int] | None] = [None] * len(tok_lists)
    fallback: list[tuple[int, np.ndarray]] = []
    for b, toks in enumerate(tok_lists):
        g = np.asarray(
            gazetteer_tag_ids(toks, surface_index, tag_ids), dtype=np.int64)
        if g.size == 0:          # empty sentence: nothing to decode
            paths[b] = []
            continue
        if (ok_start[g[0]] and ok_stop[g[-1]]
                and (g.size < 2 or ok_pair[g[:-1], g[1:]].all())):
            paths[b] = g.tolist()
        else:
            fallback.append((b, g))
    if fallback:
        L = max(g.size for _, g in fallback)
        em = np.zeros((len(fallback), L, T), dtype=np.float32)
        lens = np.asarray([g.size for _, g in fallback], dtype=np.int64)
        for k, (_, g) in enumerate(fallback):
            em[k, np.arange(g.size), g] = MATCH_SCORE
        for (b, _), p in zip(fallback,
                             viterbi_decode(em, lens, transitions)):
            paths[b] = p
    return paths


# ------------------------------------------------------------- tagging

# Per-task decode memo bound (entries): past it, new sentences are
# decoded per batch and not retained.
_MEMO_CAP = 1_000_000


def _tagger_payload(
    mode: str,
    entity_types: tuple[str, ...],
    aliases: list[dict] | None,
    weights: TaggerWeights | None,
    vocab: dict | None,
    char_vocab: dict | None,
    grammar_prior: bool | None,
) -> dict:
    """Validate ``mode`` and its inputs → the dict both tagging paths
    broadcast once per job (weights / dictionaries never ship per task).

    ``transitions`` are the decode transitions. Gazetteer mode decodes
    with the pure IOBES grammar. In neural mode the grammar prior keeps
    decodes valid under UNTRAINED (random) transition weights, but a
    genuinely trained CRF must decode with its learned transitions ALONE
    (reference crf.py:91-135) — so ``grammar_prior=None`` defaults
    to on for random-init weights and OFF for checkpoint-loaded ones
    (``meta['trained']``, set by ``TaggerWeights.from_npz``).
    """
    tags = iobes_tags(entity_types)
    grammar = grammar_transitions(entity_types)
    payload: dict = {"mode": mode, "tags": tags}
    if mode == "gazetteer":
        if aliases is None:
            raise ValueError("gazetteer mode needs aliases")
        payload.update(
            surface_index=build_surface_index(aliases),
            tag_ids={t: i for i, t in enumerate(tags)}, transitions=grammar)
    elif mode == "neural":
        if weights is None or vocab is None or char_vocab is None:
            raise ValueError("neural mode needs weights + vocabs")
        if grammar_prior is None:
            grammar_prior = not weights.meta.get("trained", False)
        payload.update(
            weights=weights, vocab=vocab, chars=char_vocab,
            unk=vocab.get("<UNK>", 0),
            transitions=(weights.transitions + grammar if grammar_prior
                         else weights.transitions))
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return payload


def _decode(uniq: list[list[str]], v: dict) -> list[list[int]]:
    """Distinct token lists → tag-id paths under payload ``v``."""
    if v["mode"] == "gazetteer":
        return gazetteer_decode(uniq, v["surface_index"], v["tag_ids"],
                                v["transitions"])
    feats = [featurize_sentence(t, v["vocab"], v["chars"], v["unk"])
             for t in uniq]
    em, lens = neural_emissions(v["weights"], *map(list, zip(*feats)))
    return viterbi_decode(em, lens, v["transitions"])


def _memoized(memo: dict, keys: list, build) -> list:
    """Per-key ``build`` results, computing each distinct key once per
    task: ``build`` maps a list of distinct hashable keys to one value
    each (a pure function of the key), and ``memo`` — created per task,
    never surviving it — replays the repeats real corpora are full of
    (boilerplate). It keeps at most ``_MEMO_CAP`` entries; values built
    once it is full serve only the current batch."""
    todo = list(dict.fromkeys(k for k in keys if k not in memo))
    new = dict(zip(todo, build(todo))) if todo else {}
    for k in todo[:max(0, _MEMO_CAP - len(memo))]:
        memo[k] = new[k]
    return [new[k] if k in new else memo[k] for k in keys]


def _decode_lines(lines: list[str], v: dict, make) -> list:
    """Distinct raw lines → ``make(tokens, tag_names)`` each, tokenized
    by :func:`_line_tokens`; token-less lines map to ``()`` and never
    reach :func:`_decode`."""
    toks = [_line_tokens(line) for line in lines]
    out: list = [()] * len(lines)
    todo = [i for i, t in enumerate(toks) if t]
    if todo:
        uniq = [toks[i] for i in todo]
        tlist = v["tags"]
        for i, t, p in zip(todo, uniq, _decode(uniq, v)):
            out[i] = make(t, [tlist[k] for k in p])
    return out


_TAGGED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("sent_id", IntegerType()),
    StructField("tokens", ArrayType(StringType())),
    StructField("pred_tags", ArrayType(StringType())),
    StructField("n_tokens", LongType()),
])


def tag_sentences(
    sentences: DataFrame,
    mode: str = "gazetteer",
    weights: TaggerWeights | None = None,
    vocab: dict | None = None,
    char_vocab: dict | None = None,
    aliases: list[dict] | None = None,
    entity_types: tuple[str, ...] = ENTITY_TYPES,
    grammar_prior: bool | None = None,
) -> DataFrame:
    """Batched mention detection: ONE mapInPandas stage over Arrow batches.

    Everything heavy (weights / dictionaries) ships via
    ``sparkContext.broadcast`` once per job, not per task. Batch size is
    bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` (session
    factory) — the explicit inference-stage sizing knob.
    """
    bc = sentences.sparkSession.sparkContext.broadcast(_tagger_payload(
        mode, entity_types, aliases, weights, vocab, char_vocab,
        grammar_prior))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = bc.value
        tlist = v["tags"]

        def build(uniq):
            return [[tlist[i] for i in p] for p in _decode(uniq, v)]

        memo: dict[tuple, list] = {}
        for pdf in batches:
            keys = [tuple(t) for t in pdf["tokens"]]
            if not keys:
                continue
            yield pd.DataFrame({
                "url": pdf["url"], "sent_id": pdf["sent_id"],
                "tokens": pdf["tokens"],
                "pred_tags": _memoized(memo, keys, build),
                "n_tokens": np.fromiter((len(k) for k in keys),
                                        np.int64, len(keys)),
            })

    return sentences.select("url", "sent_id", "tokens").mapInPandas(run, _TAGGED_SCHEMA)


# --------------------------------------------------- fused fast path

# Flat union-typed output: kind=0 → mention row, kind=1 → pair row.
# Nested list<struct> columns were measured 3-4× slower than flat
# primitives across the Arrow boundary (the stage's actual bottleneck at
# 200k pages), so the fused UDF emits flat rows and the JVM side
# filters/projects the two views.
_FUSED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("sent_id", IntegerType()),
    StructField("kind", IntegerType()),
    StructField("a", IntegerType()),        # mention_id | subj_mention_id
    StructField("b", IntegerType()),        # start      | obj_mention_id
    StructField("c", IntegerType()),        # end        | gap
    StructField("type_a", StringType()),    # tag_type   | subj_type
    StructField("type_b", StringType()),    # -          | obj_type
    StructField("surf_a", StringType()),    # surface    | subj_surface
    StructField("surf_b", StringType()),    # -          | obj_surface
    StructField("between", StringType()),   # -          | between phrase
])
# Arrow types of the template columns (kind … between)
_TEMPLATE_TYPES = [pa.int32()] * 4 + [pa.string()] * 5


def _sentence_template(toks: list[str], tags: list[str]) -> list[tuple]:
    """Decoded sentence → its fused rows (kind … between, as in
    ``_FUSED_SCHEMA``): one per mention, then one per in-sentence pair,
    keyed by mention ordinal; the row-independent part of the output."""
    spans = extract_spans(tags, toks)
    rows = [(0, mid, s["start"], s["end"], s["tag_type"], None,
             s["surface"], None, None) for mid, s in enumerate(spans)]
    for i, m1 in enumerate(spans):
        for j in range(i + 1, len(spans)):
            m2 = spans[j]
            if m1["end"] > m2["start"]:
                continue
            rows.append((
                1, i, j, m2["start"] - m1["end"],
                m1["tag_type"], m2["tag_type"],
                m1["surface"], m2["surface"],
                " ".join(toks[m1["end"]:m2["start"]])))
    return rows


def _fused_batches(batches: Iterator[pa.RecordBatch],
                   v: dict) -> Iterator[pa.RecordBatch]:
    """The fused UDF body: (url, text) batches → ``_FUSED_SCHEMA``
    batches under payload ``v``. The task memo maps each distinct raw
    line to its template rows; per batch the distinct templates are
    concatenated once and every output column is one Arrow ``take``
    through repeat/cumsum index arrays — no per-output-row Python work."""

    def build(lines):
        return _decode_lines(lines, v, _sentence_template)

    memo: dict[str, list] = {}
    for rb in batches:
        # each line → the batch-local slot of its distinct text
        slot: dict[str, int] = {}
        occ: list[int] = []
        n_lines: list[int] = []
        for text in rb.column("text").to_pylist():
            lines = text.split("\n") if text is not None else []
            n_lines.append(len(lines))
            occ.extend([slot.setdefault(ln, len(slot)) for ln in lines])
        tmpls = _memoized(memo, list(slot), build)
        size = np.fromiter(map(len, tmpls), np.int64, len(tmpls))
        occ_a = np.asarray(occ, dtype=np.int64)
        cnt = size[occ_a]                       # output rows per line
        total = int(cnt.sum())
        if not total:
            continue
        # line ordinal (sent_id) and page of every line
        n_lines_a = np.asarray(n_lines, dtype=np.int64)
        page = np.repeat(np.arange(n_lines_a.size), n_lines_a)
        sid = np.arange(occ_a.size) - (np.cumsum(n_lines_a)
                                       - n_lines_a)[page]
        # output row → its line, and its row in the concatenation of
        # the distinct templates
        line = np.repeat(np.arange(occ_a.size), cnt)
        first = np.cumsum(size) - size
        row = (np.repeat(first[occ_a] - (np.cumsum(cnt) - cnt), cnt)
               + np.arange(total))
        flat = [r for t in tmpls for r in t]
        cols = [pa.array(c, t).take(row)
                for c, t in zip(zip(*flat), _TEMPLATE_TYPES)]
        yield pa.RecordBatch.from_arrays(
            [rb.column("url").take(page[line]),
             pa.array(sid[line].astype(np.int32)), *cols],
            names=_FUSED_SCHEMA.fieldNames())


def pages_to_mention_pairs(
    pages: DataFrame,
    aliases: list[dict] | None = None,
    lang: str | None = "en",
    entity_types: tuple[str, ...] = ENTITY_TYPES,
    mode: str = "gazetteer",
    weights: TaggerWeights | None = None,
    vocab: dict | None = None,
    char_vocab: dict | None = None,
    grammar_prior: bool | None = None,
) -> DataFrame:
    """The 100 TB inference hot path: ONE Arrow crossing from pages.

    JVM side does only the lang filter + projection (column pruning
    reaches the scan); python does everything row-local — line split,
    tokenize, decode, BIOES span scan, and in-sentence mention-pair
    generation (between-phrase included) — and emits narrow columns (no
    token arrays, no tag arrays cross back).

    The UDF is columnar (``mapInArrow``, :func:`_fused_batches`).

    Downstream, mentions = the ``kind = 0`` rows (:func:`fused_mentions`)
    and triples = the ``kind = 1`` pair rows through the same triple tail
    as :func:`~.triples.sentence_local_triples` (:func:`fused_triples`):
    the whole pipeline has ZERO exchanges. Same semantics as
    tag_sentences→mentions_table→sentence_local_triples (asserted
    equivalent in tests).
    """
    bc = pages.sparkSession.sparkContext.broadcast(_tagger_payload(
        mode, entity_types, aliases, weights, vocab, char_vocab,
        grammar_prior))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _fused_batches(batches, bc.value)

    df = pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return arrow_stage_input(df.select("url", "text")).mapInArrow(
        run, _FUSED_SCHEMA)


def fused_mentions(fused: DataFrame) -> DataFrame:
    """kind=0 rows → mentions table (same schema as mentions_table)."""
    return (
        fused.filter(F.col("kind") == 0)
        .select("url", "sent_id",
                F.col("a").alias("mention_id"),
                F.col("b").alias("start"),
                F.col("c").alias("end"),
                F.col("type_a").alias("tag_type"),
                F.col("surf_a").alias("surface"))
    )


def fused_triples(
    fused: DataFrame,
    predicate_lexicon: dict[str, str],
    cooccurrence_window: int | None = None,
) -> DataFrame:
    """kind=1 pair rows → the shared triple tail: broadcast lexicon join
    plus the optional co-occurrence fallback (zero exchanges)."""
    pairs = (
        fused.filter(F.col("kind") == 1)
        .select(
            "url", "sent_id",
            F.col("a").alias("subj_mention_id"),
            F.col("b").alias("obj_mention_id"),
            F.col("surf_a").alias("subj_surface"),
            F.col("type_a").alias("subj_type"),
            F.col("surf_b").alias("obj_surface"),
            F.col("type_b").alias("obj_type"),
            F.col("c").alias("gap"),
            "between",
        )
    )
    return _assemble_triples(pairs, predicate_lexicon, cooccurrence_window)


# ------------------------------------------------- physical helpers


def repartition_by_length(sentences: DataFrame, partitions: int | None = None) -> DataFrame:
    """O1 — sort-by-length batching (loader.py:239, eval.py:122): range-
    partition on token count and sort within partitions so Arrow batches
    hold similar-length sentences → minimal padding waste in the padded
    [B, L] tensors. Purely physical; no semantic effect (the fused/
    tagged outputs are row-keyed, never order-dependent)."""
    n = partitions or sentences.sparkSession.sparkContext.defaultParallelism
    # hash-partition on the TOKEN SEQUENCE, then sort by length inside
    # each partition. This keeps the property the stage actually needs —
    # Arrow batches of similar-length sentences (the within-partition
    # sort) — while fixing two costs of the previous
    # repartitionByRange((_len, row-hash)) form:
    #   * range partitioning runs a SAMPLING JOB over the input before
    #     every action to estimate bounds; hash partitioning doesn't;
    #   * hashing the token array co-locates every COPY of a repeated
    #     sentence in one partition (web corpora repeat sentences
    #     heavily), which is exactly what the tagger's task-lifetime
    #     decode memo wants — the range form split a length class
    #     across partition boundaries.
    # Balance: keys are full token sequences (high cardinality), so n
    # near-equal partitions (regression-tested); deterministic.
    return (
        sentences.repartition(n, F.hash("tokens"))
        .sortWithinPartitions(F.desc(F.size("tokens")))
    )
