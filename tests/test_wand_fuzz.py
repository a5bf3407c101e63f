"""Property fuzz: Block-Max WAND ≡ exhaustive scoring ≡ brute force, always.

Randomized posting sets (multiple terms, multi-block lists, duplicate
score ties, bound_factor drift, ALL THREE posting codecs) × random
allowed/denied filters × random k / min_score — the pruned scorer must
return rank- AND score-identical results to the exhaustive scorer AND to
an independent brute-force oracle (raw arrays, no codec, no wand.py
internals) on every draw, whether the lists are decoded from their blobs
or are views into one resident decoded generation. The per-segment loop
(doc-disjoint (generation, shard) segments sharing one top-k threshold)
is held to the same identities. hypothesis shrinks any counterexample."""


import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from baram_spark.index.codec import (
    BLOCK,
    CODEC_FOR,
    CODEC_PFOR,
    CODEC_VARINT,
    bm25_tf_norm,
    encode_postings,
)
from baram_spark.query.wand import (
    TermPostings,
    score_blockmax,
    score_exhaustive,
    score_segments,
)
from tests.conftest import term_postings


def _make_term(rng: np.random.Generator, field: str, term: str,
               n_docs: int, universe: int, weight: float,
               bound_factor: float, codec: int):
    ids = rng.choice(universe, size=n_docs, replace=False)
    return _term_from_ids(rng, field, term, ids, weight, bound_factor, codec)


def _term_from_ids(rng, field, term, ids, weight, bound_factor, codec,
                   ties: bool = False):
    """One posting list over ``ids``; ``ties`` gives every posting the
    same tf and dl, so every doc holding the same terms ties."""
    ids = np.sort(np.asarray(ids, dtype=np.int64))
    n_docs = ids.size
    tfs = rng.integers(1, 6, size=n_docs).astype(np.int64)
    dls = rng.integers(5, 300, size=n_docs).astype(np.int64)
    if ties:
        tfs[:], dls[:] = 2, 80
    blobs = encode_postings(ids, tfs, dls, avgdl=80.0, codec=codec)
    spec = (field, term, weight, blobs, 80.0 * bound_factor, bound_factor)
    return spec, (ids, tfs, dls)


def _brute_force(raw_terms, k, min_score, allowed, denied):
    """Independent oracle over the RAW arrays: same float64 BM25 math and
    the same term-major accumulation order as the engine (canonical term
    order is the sorted term name here — all terms share one field), but
    no codec, no skip tables, no wand.py filtering helpers."""
    scores: dict[int, float] = {}
    allowed_set = None if allowed is None else set(int(x) for x in allowed)
    denied_set = set() if denied is None else set(int(x) for x in denied)
    for _term_name, weight, avgdl_scoring, (ids, tfs, dls) in sorted(
            raw_terms, key=lambda t: t[0]):
        tfn = bm25_tf_norm(tfs, dls, avgdl_scoring)
        for i in range(ids.size):
            d = int(ids[i])
            if allowed_set is not None and d not in allowed_set:
                continue
            if d in denied_set:
                continue
            scores[d] = scores.get(d, 0.0) + float(weight * tfn[i])
    cand = [(d, s) for d, s in scores.items()
            if min_score is None or s >= min_score]
    cand.sort(key=lambda t: (-t[1], t[0]))
    return cand[:k]


@settings(max_examples=220, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_blockmax_equals_exhaustive_equals_bruteforce_fuzz(seed):
    rng = np.random.default_rng(seed)
    universe = int(rng.integers(50, 2000))
    n_terms = int(rng.integers(1, 5))
    specs, raw_terms = [], []
    for t in range(n_terms):
        n_docs = int(rng.integers(1, min(universe, 400)))
        weight = float(rng.uniform(0.1, 4.0))
        # avgdl drift: bounds scaled up, scoring avgdl unchanged — the
        # incremental-generation correction path
        bf = float(rng.choice([1.0, 1.0, rng.uniform(1.0, 1.5)]))
        codec = int(rng.choice([CODEC_VARINT, CODEC_FOR, CODEC_PFOR]))
        spec, raw = _make_term(rng, "content", f"t{t}", n_docs,
                               universe, weight, bf, codec)
        specs.append(spec)
        raw_terms.append((f"t{t}", weight, 80.0 * bf, raw))
    k = int(rng.integers(1, 30))
    min_score = (None if rng.random() < 0.5
                 else float(rng.uniform(0.0, 3.0)))
    allowed = None
    if rng.random() < 0.4:
        allowed = np.unique(
            rng.choice(universe, size=int(rng.integers(1, universe)),
                       replace=False).astype(np.int64))
    denied = None
    if rng.random() < 0.4:
        denied = np.unique(
            rng.choice(universe, size=int(rng.integers(1, 20)),
                       replace=False).astype(np.int64))
    brute = _brute_force(raw_terms, k, min_score, allowed, denied)
    for resident in (False, True):
        terms = term_postings(specs, resident)
        got = score_blockmax(terms, k, min_score=min_score,
                             allowed=allowed, denied=denied)
        exp = score_exhaustive(terms, k, min_score=min_score,
                               allowed=allowed, denied=denied)
        assert got == exp
        assert len(got) == len(brute)
        for (gd, gs), (bd, bs) in zip(got, brute):
            assert gd == bd
            assert gs == bs, (gd, gs, bs)


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_decode_blocks_gathers_exactly_the_selected_blocks(seed):
    """decode_blocks(bidxs) returns the selected blocks' postings in
    order, each scored with the same float64 expression as the raw
    arrays, from blobs and from the resident layout alike."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 700))
    codec = int(rng.choice([CODEC_VARINT, CODEC_FOR, CODEC_PFOR]))
    spec, (ids, tfs, dls) = _make_term(rng, "content", "t", n, 5000, 1.3,
                                       1.0, codec)
    n_blocks = -(-n // BLOCK)
    sel = np.flatnonzero(rng.random(n_blocks) < 0.5)
    pos = np.concatenate([np.arange(b * BLOCK, min((b + 1) * BLOCK, n))
                          for b in sel] or [np.zeros(0, np.int64)])
    want = 1.3 * bm25_tf_norm(tfs[pos], dls[pos], 80.0)
    for resident in (False, True):
        (tp,) = term_postings([spec], resident)
        got_ids, got = tp.decode_blocks(sel)
        assert np.array_equal(got_ids, ids[pos])
        assert np.array_equal(got, want)


def _segment(terms):
    """score_segments entries for prebuilt TermPostings."""
    return [(tp.field, tp.term, tp.weight,
             float(tp.blockmax.max()) if tp.n_blocks else 0.0,
             lambda tp=tp: tp) for tp in terms]


@settings(max_examples=150, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_segments_equal_exhaustive_equal_bruteforce_fuzz(seed):
    """Doc-disjoint segments, the engine's (generation, shard) pairs: one
    big segment, others, and a tiny one whose few docs span the whole id
    range (a small wave's lists). Each segment has its own bound factor,
    the weights are global. The segment loop over score_blockmax equals
    the loop over score_exhaustive, score_exhaustive over all the lists
    at once, and brute force — filtered, tombstoned, with min_score, and
    with scores tied across segments."""
    rng = np.random.default_rng(seed)
    universe = int(rng.integers(50, 2000))
    n_segs = int(rng.integers(2, 6))
    # segment 0 owns most docs; the last, tiny segment owns both ends of
    # the id range and a few docs between
    owner = np.where(rng.random(universe) < 0.7, 0,
                     rng.integers(0, n_segs - 1, size=universe))
    owner[rng.random(universe) < 0.01] = n_segs - 1
    owner[[0, universe - 1]] = n_segs - 1
    n_terms = int(rng.integers(1, 5))
    weights = [float(rng.uniform(0.1, 4.0)) for _ in range(n_terms)]
    ties = rng.random() < 0.3
    seg_specs, raw_terms = [], []
    for s in range(n_segs):
        docs = np.flatnonzero(owner == s)
        bf = float(rng.choice([1.0, 1.0, rng.uniform(1.0, 1.5)]))
        specs = []
        for t in range(n_terms):
            ids = docs[rng.random(docs.size) < rng.uniform(0.05, 1.0)]
            if ids.size == 0:
                continue
            codec = int(rng.choice([CODEC_VARINT, CODEC_FOR, CODEC_PFOR]))
            spec, raw = _term_from_ids(rng, "content", f"t{t}", ids,
                                       weights[t], bf, codec, ties)
            specs.append(spec)
            raw_terms.append((f"t{t}", weights[t], 80.0 * bf, raw))
        if specs:
            seg_specs.append(specs)
    k = int(rng.integers(1, 30))
    min_score = (None if rng.random() < 0.5
                 else float(rng.uniform(0.0, 3.0)))
    allowed = None
    if rng.random() < 0.4:
        allowed = np.unique(
            rng.choice(universe, size=int(rng.integers(1, universe)),
                       replace=False).astype(np.int64))
    denied = None
    if rng.random() < 0.4:
        denied = np.unique(
            rng.choice(universe, size=int(rng.integers(1, 20)),
                       replace=False).astype(np.int64))
    brute = _brute_force(raw_terms, k, min_score, allowed, denied)
    for resident in (False, True):
        segs = [term_postings(specs, resident) for specs in seg_specs]
        segments = [(_segment(terms), allowed) for terms in segs]
        got = score_segments(segments, k, score_blockmax, min_score, denied)
        exp = score_segments(segments, k, score_exhaustive, min_score,
                             denied)
        flat = score_exhaustive([tp for terms in segs for tp in terms], k,
                                min_score, allowed=allowed, denied=denied)
        assert got == exp == flat
        assert len(got) == len(brute)
        for (gd, gs), (bd, bs) in zip(got, brute):
            assert gd == bd
            assert gs == bs, (gd, gs, bs)


def test_segment_below_theta_is_never_built_or_gathered(monkeypatch):
    """Once k hits beat a segment's bound, the segment's lists are never
    built and none of its blocks is gathered."""
    rng = np.random.default_rng(3)
    big_ids = np.arange(1, 400, 3)
    spec, _ = _term_from_ids(rng, "content", "a", big_ids, 3.0, 1.0,
                             CODEC_FOR, ties=True)
    (big,) = term_postings([spec], resident=False)
    # the tiny segment spans the whole id range, as a small wave does
    tiny_spec, _ = _term_from_ids(rng, "content", "a",
                                  np.array([0, 200, 1000]), 0.2, 1.0,
                                  CODEC_FOR)
    built, gathered = [], []
    decode = TermPostings.decode_blocks

    def counting_decode(tp, bidxs):
        gathered.append(tp)
        return decode(tp, bidxs)

    def make_tiny():
        (tp,) = term_postings([tiny_spec], resident=False)
        built.append(tp)
        return tp

    monkeypatch.setattr(TermPostings, "decode_blocks", counting_decode)
    tiny_max = float(term_postings([tiny_spec], False)[0].blockmax.max())
    tiny = [("content", "a", 0.2, tiny_max, make_tiny)]
    segments = [(tiny, None), (_segment([big]), None)]
    got = score_segments(segments, 5, score_blockmax)
    assert got == score_exhaustive([big, make_tiny()], 5)
    built.clear()
    gathered.clear()
    assert score_segments(segments, 5, score_blockmax) == got
    assert built == [] and gathered and big in gathered
    # with k above the big segment's doc count the tiny one is scored
    assert len(score_segments(segments, 200, score_blockmax)) \
        == big_ids.size + 3
    assert len(built) == 1
