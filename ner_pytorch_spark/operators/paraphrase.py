"""C4b — dependency-tree re-linearization paraphrase (the reference's
third adversarial generator, ``--order 'rep,ppdb,para'``).

Reference semantics re-expressed Spark-first:

* entity/contraction super-token merge — paraphrase_model.py:43-59
  (``combine_tag``: a token whose tag starts with I/E, or a ``'word``
  contraction, merges into the previous super-token);
* paired-parenthesis span merge — paraphrase_model.py:143-191
  (``convert_span`` + ``handle_pair_punct`` for ``()`` and ``[]``);
* trailing-period pop/re-append — paraphrase_model.py:88-99;
* recursive noisy tree linearization — dependency_paraphraser/
  projection.py:48-83 (``project_tree_randomly``: per family
  ``[parent]+children``, shuffle then sort with comparator
  ``rng.random() - anneal(p(l before r), t)``);
* temperature anneal — dependency_paraphraser/utils.py:21-29;
* pairwise child-order features — projection.py:8-45 (``sent2xy``:
  one-hot deprel/pos of each side, ``deprel_parent`` for the head);
* logistic order projector — dependency_paraphraser/
  train_projector.py:42-65 (DictVectorizer + interaction-only
  PolynomialFeatures + LogisticRegression ≡ the numpy model here);
* identity filter — paraphrase_model.py:104 (O5).

The reference re-parses the merged super-token text with UDPipe
(udpipe.py:63-102). No parser ships in this sandbox, so the operator
consumes the SAME pre-parsed ``arcs`` column as
:func:`ner_pytorch_spark.operators.triples.parsed_arc_triples`
(CoNLL-U ``array<struct<id:int, head:int, deprel:string,
upos:string>>`` over the ORIGINAL tokens) and contracts the tree onto
the merged super-tokens deterministically — a UDPipe-equipped cluster
plugs its parse into the same socket.

Spark shape: everything is row-local — ONE ``mapInPandas`` stage, no
shuffle, no driver collect. The projector trains by partition-local
numpy GD + example-weighted parameter mixing (one
:func:`.rounds.partition_results` round per epoch, one result per
partition — the house trainer topology), so the corpus never moves at
100 TB.
"""

from __future__ import annotations

import math
import random
import re
from collections import defaultdict
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                               StructField, StructType)

from .rounds import partition_results

_PUNCT = set("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~")
_CONTRACTION = re.compile(r"'\w+")


# ------------------------------------------------------------------ #
# super-token merge (reference combine_tag / handle_pair_punct)       #
# ------------------------------------------------------------------ #

def merge_entity_tokens(words: list[str], tags: list[str]):
    """paraphrase_model.py:43-59: merge I-/E-continuations and 'word
    contractions into space-joined super-tokens; count unpaired punct.

    → (texts, tag_strs, groups, punct_counter) where groups[i] is the
    list of ORIGINAL token indices merged into super-token i.
    """
    texts: list[str] = []
    tag_strs: list[str] = []
    groups: list[list[int]] = []
    punct = defaultdict(int)
    for i, (w, t) in enumerate(zip(words, tags)):
        if w in _PUNCT and t == "O":
            punct[w] += 1
        if texts and (t.startswith("I") or t.startswith("E")
                      or _CONTRACTION.match(w)):
            texts[-1] = texts[-1] + " " + w
            tag_strs[-1] = tag_strs[-1] + " " + t
            groups[-1].append(i)
        else:
            texts.append(w)
            tag_strs.append(t)
            groups.append([i])
    return texts, tag_strs, groups, dict(punct)


def _pair_spans(texts: list[str], left: str, right: str):
    """paraphrase_model.py:143-168 convert_span: matched (left, right)
    index spans, overlaps coalesced."""
    stack, res = [], []
    for i, t in enumerate(texts):
        if t == left:
            stack.append(i)
        elif t == right and stack:
            res.append([stack.pop(), i])
    if not res:
        return []
    res.sort()
    span = [res[0]]
    for lo, hi in res[1:]:
        if lo > span[-1][-1]:
            span.append([lo, hi])
        else:
            span[-1][-1] = max(hi, span[-1][-1])
    return span


def merge_paren_spans(texts, tags, groups, left: str):
    """paraphrase_model.py:169-191 handle_pair_punct: each matched
    (left…right) span becomes ONE super-token (moves as a unit)."""
    right = {"(": ")", "[": "]"}[left]
    spans = _pair_spans(texts, left, right)
    if not spans:
        return texts, tags, groups
    spans = spans[::-1]
    out_t, out_g, out_tag = [], [], []
    i = 0
    while i < len(texts):
        if spans and i == spans[-1][0]:
            lo, hi = spans.pop()
            out_t.append(" ".join(texts[lo:hi + 1]))
            out_tag.append(" ".join(tags[lo:hi + 1]))
            out_g.append([j for g in groups[lo:hi + 1] for j in g])
            i = hi + 1
        else:
            out_t.append(texts[i])
            out_tag.append(tags[i])
            out_g.append(groups[i])
            i += 1
    return out_t, out_tag, out_g


# ------------------------------------------------------------------ #
# tree contraction onto super-tokens                                  #
# ------------------------------------------------------------------ #

def contract_tree(arcs, groups):
    """Contract a CoNLL-U parse over ORIGINAL tokens onto super-tokens.

    ``arcs``: sequence of (id, head, deprel, upos), 1-based, head 0 =
    root, aligned with the original token sequence. ``groups``: original
    indices per super-token. A super-token's head is the super-token
    containing the first member whose head falls OUTSIDE the group (the
    reference instead re-parses the merged text — udpipe.py:63-72; the
    contraction is the deterministic sandbox equivalent and that
    member's deprel/upos label the super-token).

    → (id2children {0-based super id → child list, root key -1},
       deprels, upos) with id2children families insertion-ordered the
    way utils.py:6-10 conll2ch builds them.
    """
    tok2sup = {}
    for s, g in enumerate(groups):
        for j in g:
            tok2sup[j] = s
    heads, deprels, upos = [], [], []
    for s, g in enumerate(groups):
        gset = set(g)
        ext = None
        for j in g:
            h = arcs[j][1] - 1  # 0-based head token, -1 = root
            if h < 0 or h not in gset:
                ext = (h, arcs[j][2], arcs[j][3])
                break
        if ext is None:  # cycle within group — treat as root
            ext = (-1, arcs[g[0]][2], arcs[g[0]][3])
        h, rel, pos = ext
        heads.append(-1 if h < 0 else tok2sup[h])
        deprels.append(rel)
        upos.append(pos)
    id2children = defaultdict(list)
    for s, h in enumerate(heads):
        id2children[h].append(s)
    return dict(id2children), deprels, upos


# ------------------------------------------------------------------ #
# pairwise order features + numpy logistic projector                  #
# ------------------------------------------------------------------ #

def family_pairs(id2children, deprels, upos):
    """projection.py:8-45 sent2xy: for every family ([parent]+children,
    or root's children), every ordered (l, r) pair with features
    {l_deprel_*, l_pos_*, r_deprel_*, r_pos_*} (deprel→'parent' for the
    head) and label y = (l < r) in the observed linear order.

    → list of ((l_feat_deprel, l_pos, r_feat_deprel, r_pos), y, (l, r)).
    """
    out = []
    for parent_id, children in id2children.items():
        ids = children if parent_id == -1 else [parent_id] + children
        for l_id in ids:
            for r_id in ids:
                if l_id == r_id:
                    continue
                lf = ("parent" if l_id == parent_id else deprels[l_id],
                      upos[l_id])
                rf = ("parent" if r_id == parent_id else deprels[r_id],
                      upos[r_id])
                out.append(((lf[0], lf[1], rf[0], rf[1]),
                            int(l_id < r_id), (l_id, r_id)))
    return out


class OrderProjector:
    """Numpy logistic model over the reference's pair features
    (train_projector.py:52-56: one-hot dict features + interaction-only
    second-order terms + LogisticRegression).

    Feature vector for a pair: 4 active one-hots (l_deprel, l_pos,
    r_deprel, r_pos) over base dim B = 2·(|deprel|+|pos|) plus the 6
    pairwise interaction products — indexed into B + B(B-1)/2 dense
    dims. Vocab-driven, so dims stay ~10³ even at UD scale.
    """

    def __init__(self, deprel_vocab: list[str], pos_vocab: list[str]):
        self.deprels = {d: i for i, d in enumerate(sorted(set(
            list(deprel_vocab) + ["parent"])))}
        self.pos = {p: i for i, p in enumerate(sorted(set(pos_vocab)))}
        d, p = len(self.deprels), len(self.pos)
        self.base = 2 * (d + p)
        self.dim = self.base + self.base * (self.base - 1) // 2
        self.w = np.zeros(self.dim + 1, dtype=np.float64)  # +bias
        # offsets: [l_deprel | l_pos | r_deprel | r_pos]
        self._off = (0, d, d + p, 2 * d + p)

    def _active(self, key):
        ld, lp, rd, rp = key
        d = self.deprels
        p = self.pos
        p0 = next(iter(p.values()))  # unseen pos → first slot (OOV bin)
        idx = [self._off[0] + d.get(ld, d["parent"]),
               self._off[1] + p.get(lp, p0),
               self._off[2] + d.get(rd, d["parent"]),
               self._off[3] + p.get(rp, p0)]
        acts = list(idx)
        B = self.base
        for a in range(4):
            for b in range(a + 1, 4):
                i, j = sorted((idx[a], idx[b]))
                acts.append(B + i * B - i * (i + 1) // 2 + (j - i - 1))
        return acts

    def design(self, keys) -> np.ndarray:
        X = np.zeros((len(keys), self.dim + 1), dtype=np.float64)
        X[:, -1] = 1.0
        for r, k in enumerate(keys):
            X[r, self._active(k)] = 1.0
        return X

    def predict_proba(self, keys) -> np.ndarray:
        z = self.design(keys) @ self.w
        return 1.0 / (1.0 + np.exp(-z))

    def fit_local(self, keys, y, lr=0.5, iters=200, l2=1e-3,
                  w0: np.ndarray | None = None):
        """Full-batch GD on one partition's pairs (numpy; tiny dim)."""
        X = self.design(keys)
        yv = np.asarray(y, dtype=np.float64)
        w = self.w.copy() if w0 is None else w0.copy()
        n = max(1, len(yv))
        for _ in range(iters):
            p = 1.0 / (1.0 + np.exp(-(X @ w)))
            g = X.T @ (p - yv) / n + l2 * w
            w -= lr * g
        return w


def train_projector(parsed: DataFrame, tags_col: str = "pred_tags",
                    arcs_col: str = "arcs", epochs: int = 2,
                    lr: float = 0.5, iters: int = 150,
                    seed: int = 42) -> OrderProjector:
    """Distributed projector training (train_projector.py:42-65
    semantics): labels come from each sentence's GOLD linear order
    (y = l before r), features from the contracted super-token tree.

    Topology: per epoch, one :func:`.rounds.partition_results` round —
    each partition runs local full-batch GD from the broadcast weights
    and returns ONE (weights, n_pairs) pair; the driver mixes
    example-weighted — iterative parameter mixing, the same shape as
    the perceptron/backprop trainers. Traffic per epoch = n_partitions
    results; the corpus never moves.
    """
    # bounded: label-set sized. SORTED — a bare distinct().collect()
    # returns shuffle order, which varies with spark.sql.shuffle
    # .partitions (core count), and the feature-index order must be
    # reproducible for golden-replay checks of downstream paraphrases
    vocab = sorted(
        parsed
        .select(F.explode(arcs_col).alias("a"))
        .select(F.col("a.deprel").alias("d"), F.col("a.upos").alias("p"))
        .distinct().collect(),
        key=lambda r: (r["d"], r["p"]))
    proj = OrderProjector([r["d"] for r in vocab], [r["p"] for r in vocab])
    cols = parsed.select("tokens", tags_col, arcs_col)

    def part(w0, table):
        keys, ys = [], []
        for toks, tags, arcs in zip(*(c.to_pylist() for c in table.columns)):
            texts, tstr, groups, _ = merge_entity_tokens(toks, tags)
            arcs_t = [(a["id"], a["head"], a["deprel"], a["upos"])
                      for a in arcs]
            ch, dep, pos = contract_tree(arcs_t, groups)
            for key, y, _ in family_pairs(ch, dep, pos):
                keys.append(key)
                ys.append(y)
        if not keys:
            return None
        return proj.fit_local(keys, ys, lr=lr, iters=iters, w0=w0), len(ys)

    w = proj.w
    for _ in range(epochs):
        deltas = [r for r in partition_results(cols, w, part)
                  if r is not None]
        if not deltas:
            break
        tot = sum(n for _, n in deltas)
        w = np.sum([wl * (n / tot) for wl, n in deltas], axis=0)
    proj.w = w
    return proj


# ------------------------------------------------------------------ #
# noisy linearization (projection.py:48-83)                           #
# ------------------------------------------------------------------ #

def anneal(p: float, t: float = 1.0) -> float:
    """utils.py:21-29, verbatim semantics (0 → argmax, inf → coin)."""
    if t == 1:
        return p
    if t == math.inf:
        return 0.5
    if t == 0:
        return float(p > 0.5)
    p = min(max(p, 1e-12), 1 - 1e-12)
    return 1 / (1 + math.exp(-(math.log(p / (1 - p)) / t)))


def project_tree(id2children, pair2proba=None, root_id=-1,
                 temperature: float = 1.0, shuffle: bool = True,
                 rng: random.Random | None = None) -> list[int]:
    """projection.py:48-83 project_tree_randomly with a SEEDED rng:
    per family, shuffle then sort with the stochastic comparator
    ``rng.random() - anneal((p(l,r)+1-p(r,l))/2, t)``."""
    rng = rng or random.Random()
    if root_id not in id2children:
        return [] if root_id == -1 else [root_id]
    children = id2children[root_id][:]
    ids = children if root_id == -1 else [root_id] + children

    if pair2proba:
        import functools

        def cmp(l, r):
            raw = (pair2proba[(l, r)] + 1 - pair2proba[(r, l)]) / 2
            return rng.random() - anneal(raw, t=temperature)

        rng.shuffle(ids)
        ids = sorted(ids, key=functools.cmp_to_key(cmp))
    elif shuffle:
        rng.shuffle(ids)
    else:
        ids = sorted(ids)

    result = []
    for tid in ids:
        if tid == root_id:
            result.append(tid)
        else:
            result.extend(project_tree(
                id2children, pair2proba=pair2proba, root_id=tid,
                temperature=temperature, shuffle=shuffle, rng=rng))
    return result


def paraphrase_sentence(words, tags, arcs, projector=None,
                        temperature: float = 1.0, n: int = 1,
                        seed: int = 42, min_tokens: int = 6):
    """One sentence → up to n re-linearized variants (words', tags').

    Full reference cascade: length gate (<6 tokens → none,
    paraphrase_model.py:77-78), super-token merge, paren merges,
    trailing-period pop, tree contraction, projector-scored noisy
    linearization, flatten, period re-append, identity filter.
    """
    if len(words) < min_tokens:
        return []
    texts, tstrs, groups, punct = merge_entity_tokens(words, tags)
    if punct.get("(") and punct.get(")"):
        texts, tstrs, groups = merge_paren_spans(texts, tstrs, groups, "(")
    if punct.get("[") and punct.get("]"):
        texts, tstrs, groups = merge_paren_spans(texts, tstrs, groups, "[")
    if len(texts) == 1:
        return []

    pop_tail = len(texts) > 2 and texts[-1] == "." and tstrs[-1] == "O"
    use_t, use_tag, use_g = ((texts[:-1], tstrs[:-1], groups[:-1])
                             if pop_tail else (texts, tstrs, groups))
    ch, dep, pos = contract_tree(arcs, use_g)

    pair2proba = None
    if projector is not None:
        pairs = family_pairs(ch, dep, pos)
        if pairs:
            probs = projector.predict_proba([k for k, _, _ in pairs])
            pair2proba = {ids: pr for (_, _, ids), pr
                          in zip(pairs, probs)}

    true_order = " ".join(words)
    out = []
    import zlib  # stable across executors (str.__hash__ is salted)
    skey = zlib.crc32(true_order.encode("utf-8"))
    for v in range(n):
        rng = random.Random(seed * 1_000_003 + v * 8191 + skey)
        order = project_tree(ch, pair2proba=pair2proba,
                             temperature=temperature, rng=rng)
        pw, pt = [], []
        for s in order:
            pw.extend(use_t[s].split(" "))
            pt.extend(use_tag[s].split(" "))
        if pop_tail:
            pw.append(words[-1])
            pt.append(tags[-1])
        assert len(pw) == len(pt)
        if " ".join(pw) != true_order:  # O5 identity filter
            out.append((v, pw, pt))
    return out


# ------------------------------------------------------------------ #
# the Spark operator                                                  #
# ------------------------------------------------------------------ #

_OUT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("sent_id", IntegerType()),
    StructField("variant_id", IntegerType()),
    StructField("adv_tokens", ArrayType(StringType())),
    StructField("adv_tags", ArrayType(StringType())),
])


def tree_paraphrase(parsed: DataFrame, projector: OrderProjector | None
                    = None, temperature: float = 1.0, n: int = 1,
                    seed: int = 42, min_tokens: int = 6,
                    tags_col: str = "pred_tags",
                    arcs_col: str = "arcs") -> DataFrame:
    """The `para` generator as ONE mapInPandas stage (zero shuffles).

    ``parsed``: (url, sent_id, tokens, <tags_col>, <arcs_col>) with the
    parsed_arc_triples arc schema. Projector weights ship via ONE
    sparkContext.broadcast. Output keeps only non-identity variants
    (O5), ready for select_n_filtered / the rep,ppdb,para cascade.
    """
    sc = parsed.sparkSession.sparkContext
    bc = sc.broadcast(projector)
    src = parsed.select("url", "sent_id", "tokens",
                        F.col(tags_col).alias("tags"),
                        F.col(arcs_col).alias("arcs"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        proj = bc.value
        for pdf in batches:
            rows = {k: [] for k in ("url", "sent_id", "variant_id",
                                    "adv_tokens", "adv_tags")}
            for url, sid, toks, tags, arcs in zip(
                    pdf["url"], pdf["sent_id"], pdf["tokens"],
                    pdf["tags"], pdf["arcs"]):
                toks = list(toks)
                tags = list(tags)
                arcs_t = [(a["id"], a["head"], a["deprel"], a["upos"])
                          for a in arcs]
                for v, pw, pt in paraphrase_sentence(
                        toks, tags, arcs_t, projector=proj,
                        temperature=temperature, n=n, seed=seed,
                        min_tokens=min_tokens):
                    rows["url"].append(url)
                    rows["sent_id"].append(sid)
                    rows["variant_id"].append(v)
                    rows["adv_tokens"].append(pw)
                    rows["adv_tags"].append(pt)
            if rows["url"]:
                yield pd.DataFrame(rows)

    return src.mapInPandas(run, schema=_OUT_SCHEMA)
