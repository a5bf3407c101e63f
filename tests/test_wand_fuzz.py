"""Property fuzz: Block-Max WAND ≡ exhaustive scoring ≡ brute force, always.

Randomized posting sets (multiple terms, multi-block lists, duplicate
score ties, bound_factor drift, ALL THREE posting codecs) × random
allowed/denied filters × random k / min_score — the pruned scorer must
return rank- AND score-identical results to the exhaustive scorer AND to
an independent brute-force oracle (raw arrays, no codec, no wand.py
internals) on every draw, whether the lists are decoded from their blobs
or are views into one resident decoded generation. hypothesis shrinks any
counterexample."""

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
from baram_spark.query.wand import score_blockmax, score_exhaustive
from tests.conftest import term_postings


def _make_term(rng: np.random.Generator, field: str, term: str,
               n_docs: int, universe: int, weight: float,
               bound_factor: float, codec: int):
    ids = np.sort(rng.choice(universe, size=n_docs, replace=False)
                  .astype(np.int64))
    tfs = rng.integers(1, 6, size=n_docs).astype(np.int64)
    dls = rng.integers(5, 300, size=n_docs).astype(np.int64)
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
