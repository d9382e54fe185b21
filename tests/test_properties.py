"""Property-based tests (hypothesis) for the pure operator cores."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from crf_oracle import brute_force_decode
from ner_pytorch_spark.functions.extraction import extract_text
from ner_pytorch_spark.functions.tagscheme import iob2, iob_iobes, iobes_iob
from ner_pytorch_spark.operators.crf import viterbi_decode
from ner_pytorch_spark.operators.spans import extract_spans

TYPES = ["PER", "ORG", "LOC", "MISC"]


# ---- extraction: pure, deterministic, never raises on arbitrary bytes

@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_extract_total_and_deterministic(data):
    a = extract_text(data)
    b = extract_text(data)
    assert a == b
    assert "\x00" not in ("",)  # extraction never raises; result is str
    assert isinstance(a, str)


# ---- tag schemes: IOB2→IOBES→IOB2 roundtrip is identity

@st.composite
def iob2_seq(draw):
    n = draw(st.integers(1, 12))
    tags, prev = [], "O"
    for _ in range(n):
        opts = ["O", "B"]
        if prev in ("B", "I"):
            opts.append("I")
        kind = draw(st.sampled_from(opts))
        if kind == "O":
            tags.append("O")
        elif kind == "B":
            tags.append(f"B-{draw(st.sampled_from(TYPES))}")
        else:
            tags.append("I-" + tags[-1].split("-")[1])
        prev = kind
    return tags


@given(iob2_seq())
@settings(max_examples=200, deadline=None)
def test_iobes_roundtrip_identity(tags):
    assert iobes_iob(iob_iobes(tags)) == tags
    # iob2() is a fixpoint on valid IOB2
    assert iob2(tags) == tags


# ---- spans: sane on ARBITRARY IOBES-alphabet sequences

@given(st.lists(
    st.sampled_from(["O"] + [f"{p}-{t}" for p in "BIES" for t in TYPES]),
    min_size=1, max_size=15))
@settings(max_examples=300, deadline=None)
def test_spans_disjoint_ordered_cover(tags):
    spans = extract_spans(tags)
    prev_end = 0
    for s in spans:
        assert 0 <= s["start"] < s["end"] <= len(tags)
        assert s["start"] >= prev_end  # disjoint, ordered
        prev_end = s["end"]
        assert s["tag_type"] in TYPES
    # every non-O position is inside exactly one span
    covered = set()
    for s in spans:
        covered |= set(range(s["start"], s["end"]))
    non_o = {i for i, t in enumerate(tags) if t != "O"}
    assert non_o == covered


# ---- viterbi == brute force on random small cases

@given(st.integers(0, 10_000))
@settings(max_examples=30, deadline=None)
def test_viterbi_equals_bruteforce(seed):
    rng = np.random.default_rng(seed)
    B, L, T = 2, int(rng.integers(1, 6)), int(rng.integers(2, 5))
    em = rng.normal(size=(B, L, T))
    lens = rng.integers(1, L + 1, size=B)
    trans = rng.normal(size=(T + 2, T + 2))
    assert viterbi_decode(em, lens, trans) == brute_force_decode(em, lens, trans)


# ---- simhash: identical token lists → identical hash; hamming symmetry

@given(st.lists(st.text(alphabet="abcxyz", min_size=1, max_size=6),
                min_size=0, max_size=20))
@settings(max_examples=100, deadline=None)
def test_simhash_deterministic(tokens):
    from ner_pytorch_spark.operators.dedup import simhash64

    assert simhash64(tokens) == simhash64(list(tokens))
    assert -(1 << 63) <= simhash64(tokens) < (1 << 63)


@given(st.integers(0, 63))
@settings(max_examples=64, deadline=None)
def test_chunk_bounds_partition_64_bits(max_hamming):
    """Pigeonhole blocking chunks: exact disjoint cover of the 64 bits
    for EVERY threshold (the round-1 bug was a fixed chunk count)."""
    from ner_pytorch_spark.operators.dedup import _chunk_bounds

    bounds = _chunk_bounds(max_hamming + 1)
    assert len(bounds) == max_hamming + 1
    covered = []
    for lo, width in bounds:
        assert width >= 1
        covered.extend(range(lo, lo + width))
    assert sorted(covered) == list(range(64))


@given(st.text(alphabet="abcxyz0 ", min_size=1, max_size=12),
       st.integers(2, 48))
@settings(max_examples=60, deadline=None)
def test_md5_embedder_unit_norm_and_stable(token, dim):
    import numpy as np

    from ner_pytorch_spark.functions.embeddings import Md5Embedder

    e = Md5Embedder(dim)
    v = e.vec(token)
    assert v.shape == (dim,) and v.dtype == np.float32
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5
    assert np.array_equal(v, Md5Embedder(dim).vec(token))
