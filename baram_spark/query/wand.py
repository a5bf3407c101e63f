"""Block-max pruned top-k scoring over decoded posting lists.

Two levels of pruning, both exact.

Across segments (:func:`score_segments`). A segment is one
(generation, shard) pair of the index, the Lucene segment analog. Docs
are disjoint across segments (document sharding, and a wave indexes only
urls no committed generation holds), so each segment's top-k is complete
on its own. A segment's bound is Σ weight × (its list's largest
block-max) over its lists. Segments are scored in descending bound
order, and they share one threshold θ: the k-th best score found so far,
never below ``min_score``. θ seeds each segment scorer's ``min_score``,
and the first segment whose bound is strictly below θ ends the query
unscored: its lists are never built or gathered. A wave's lists span the
whole doc-id range, so scoring segments apart keeps their bounds from
adding up over another generation's blocks.

Within a segment, the Block-Max WAND idea (Ding & Suel, SIGIR 2011) in a
batch/vectorized form suited to numpy rather than doc-at-a-time pointers
(:func:`score_blockmax`):

1. Without touching any posting, every term contributes per-block doc-id
   intervals (from its block table) with score upper bounds
   ``weight * blockmax``.
2. Interval sweep: block boundaries from ALL terms split doc-id space into
   ranges; each range's upper bound is the sum of the covering blocks'
   bounds — the WAND pivot bound, evaluated for a whole doc-id range at once.
3. Ranges are scored exactly in descending upper-bound order (gathering
   only the blocks that overlap them out of the decoded arrays and scoring
   those postings); once every remaining range's bound is strictly below
   the running top-k threshold θ, the rest are skipped.

Posting lists arrive decoded (see :class:`TermPostings`): on a serving
node each generation is decoded once when it loads, so a query only
gathers and scores — it never decodes a blob.

Every skip is provably safe (a doc's true score ≤ its range's and its
segment's bound, and a bound equal to θ is still scored so doc-id
tie-breaks stay exact), so results are rank- AND score-identical to the
exhaustive scorer — asserted by tests against both the exhaustive path
and the brute-force oracle.

Scoring accumulates float64 contributions in the canonical order
(title terms sorted, then content terms sorted) so scores are bit-identical
to the oracle (float addition order pinned). Bounds are summed in the same
order: float addition is monotone, so a rounded bound stays ≥ every
rounded score it covers.
"""

from __future__ import annotations

import numpy as np

from ..index.codec import (
    bm25_tf_norm,
    decode_blockmax,
    decode_postings,
    decode_skips,
)
from .bm25 import FIELDS, K1, B


class TermPostings:
    """One (field, term) posting list, decoded: doc ids, tfs and dls plus
    its block table (last doc id, end offset and block-max per block).

    A serving node's lists are views into a resident generation's
    :class:`~baram_spark.index.codec.PostingsColumns`; a list read from
    blobs (cluster mode, unloaded local mode) is decoded once by
    :meth:`from_blobs`. Either way a query only gathers."""

    __slots__ = ("field", "term", "weight", "ids", "tfs", "dls",
                 "last_ids", "ends", "blockmax", "avgdl")

    def __init__(self, field: str, term: str, weight: float,
                 ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                 last_ids: np.ndarray, ends: np.ndarray,
                 blockmax: np.ndarray, avgdl: float,
                 bound_factor: float = 1.0):
        """``bound_factor`` ≥ 1 rescales the stored block-max bounds when
        the corpus avgdl has GROWN since this posting list was packed
        (incremental generations): true tf-norms rise with avgdl, and
        avgdl_now/avgdl_pack is a proven upper bound on that rise, so the
        scaled bounds stay safe. Scoring itself always uses current avgdl
        exactly — only pruning bounds need the correction."""
        self.field = field
        self.term = term
        self.weight = weight
        self.ids, self.tfs, self.dls = ids, tfs, dls
        self.last_ids, self.ends = last_ids, ends
        self.blockmax = (blockmax * bound_factor if bound_factor != 1.0
                         else blockmax)
        self.avgdl = avgdl

    @classmethod
    def from_blobs(cls, field: str, term: str, weight: float,
                   postings_blob: bytes, skips_blob: bytes,
                   blockmax_blob: bytes, avgdl: float,
                   bound_factor: float = 1.0) -> "TermPostings":
        """Decode one stored (postings, skips, blockmax) triple."""
        ids, tfs, dls = decode_postings(postings_blob, skips_blob)
        last_ids, _, counts = decode_skips(skips_blob)
        return cls(field, term, weight, ids, tfs, dls, last_ids,
                   np.cumsum(counts), decode_blockmax(blockmax_blob), avgdl,
                   bound_factor)

    @property
    def n_blocks(self) -> int:
        return self.last_ids.size

    def decode_blocks(self, bidxs: np.ndarray):
        """Gather the selected blocks (ascending, unique indices) →
        (doc_ids, contribs[float64]): one index gather plus one
        ``bm25_tf_norm`` call."""
        bidxs = np.asarray(bidxs, dtype=np.int64)
        if bidxs.size == self.n_blocks:  # every block: the whole list
            ids, tfs, dls = self.ids, self.tfs, self.dls
        else:
            ends = self.ends[bidxs]
            starts = np.where(bidxs > 0, self.ends[bidxs - 1], 0)
            lens = ends - starts
            # positions of every posting of the selected blocks, in order
            idx = np.arange(int(lens.sum()), dtype=np.int64) + np.repeat(
                starts - (np.cumsum(lens) - lens), lens)
            ids, tfs, dls = self.ids[idx], self.tfs[idx], self.dls[idx]
        return ids, self.weight * bm25_tf_norm(tfs, dls, self.avgdl, K1, B)


_FIELD_RANK = {f: i for i, f in enumerate(FIELDS)}


def _canonical_order(terms: list) -> list:
    return sorted(terms, key=lambda t: (_FIELD_RANK[t.field], t.term))


def _topk(uniq_ids: np.ndarray, scores: np.ndarray, k: int,
          min_score: float | None):
    """Exact top-k with canonical tie-break (score desc, doc_id asc)."""
    if min_score is not None:
        keep = scores >= min_score
        uniq_ids, scores = uniq_ids[keep], scores[keep]
    n = uniq_ids.size
    if n == 0:
        return []
    if n > k:
        # value of the k-th largest score; keep everything >= it so ties
        # compete on doc_id
        kth = -np.partition(-scores, k - 1)[k - 1]
        cand = scores >= kth
        uniq_ids, scores = uniq_ids[cand], scores[cand]
    order = np.lexsort((uniq_ids, -scores))
    return [(int(uniq_ids[i]), float(scores[i])) for i in order[:k]]


def _member_mask(ids: np.ndarray, sorted_set: np.ndarray) -> np.ndarray:
    """Boolean membership of ids in a SORTED int64 array."""
    if sorted_set.size == 0:
        return np.zeros(ids.size, dtype=bool)
    idx = np.searchsorted(sorted_set, ids)
    idx_c = np.minimum(idx, sorted_set.size - 1)
    return (idx < sorted_set.size) & (sorted_set[idx_c] == ids)


def _filter_allowed(ids: np.ndarray, contribs: np.ndarray,
                    allowed: np.ndarray):
    """Keep only ids present in the SORTED ``allowed`` array (filter-context
    semantics: restricts candidates, never changes scores)."""
    mask = _member_mask(ids, allowed)
    return ids[mask], contribs[mask]


def _filter_denied(ids: np.ndarray, contribs: np.ndarray,
                   denied: np.ndarray):
    """Drop ids present in the SORTED ``denied`` array (tombstones — the
    delete_by_query analog: deleted docs never enter the top-k race)."""
    mask = ~_member_mask(ids, denied)
    return ids[mask], contribs[mask]


def _accumulate(all_ids: list, all_contribs: list):
    """Concat + per-doc sum, preserving term-major add order (oracle parity)."""
    ids = np.concatenate(all_ids)
    contribs = np.concatenate(all_contribs)
    if ids.size == 0:
        return ids, contribs
    uniq, inv = np.unique(ids, return_inverse=True)
    scores = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(scores, inv, contribs)
    return uniq, scores


def score_exhaustive(terms: list, k: int, min_score: float | None = None,
                     allowed: np.ndarray | None = None,
                     denied: np.ndarray | None = None):
    """Exact scoring: gather every block, accumulate, top-k.

    ``allowed`` (sorted int64 doc_ids) applies PRE-ranking filter context —
    the reference's category/date bool-filter (src/embedding/mod.rs:509-531):
    docs outside the set never enter the top-k race; scores of surviving
    docs are identical to the unfiltered search (Lucene filter context does
    not change df/idf statistics). ``denied`` is the inverse — tombstoned
    doc_ids from delete_by_query (mod.rs:768-818) are excluded the same
    way (scores of live docs keep their pre-delete statistics until the
    next compaction, exactly like Lucene deleted docs)."""
    terms = _canonical_order(terms)
    if not terms:
        return []
    if allowed is not None and allowed.size == 0:
        return []
    all_ids, all_contribs = [], []
    for tp in terms:
        ids, contribs = tp.decode_blocks(np.arange(tp.n_blocks))
        if allowed is not None:
            ids, contribs = _filter_allowed(ids, contribs, allowed)
        if denied is not None:
            ids, contribs = _filter_denied(ids, contribs, denied)
        all_ids.append(ids)
        all_contribs.append(contribs)
    uniq, scores = _accumulate(all_ids, all_contribs)
    return _topk(uniq, scores, k, min_score)


def score_blockmax(terms: list, k: int, min_score: float | None = None,
                   chunk: int = 64, allowed: np.ndarray | None = None,
                   denied: np.ndarray | None = None):
    """Block-max segment-pruned exact top-k (see module docstring).

    ``allowed``/``denied`` filter candidates pre-ranking (see
    score_exhaustive). The block-max bounds stay safe upper bounds under
    filtering — removing docs can only lower a segment's true best score —
    so pruning remains exact."""
    terms = _canonical_order(terms)
    if not terms:
        return []
    if allowed is not None and allowed.size == 0:
        return []
    total_blocks = sum(t.n_blocks for t in terms)
    if total_blocks <= 8:
        return score_exhaustive(terms, k, min_score, allowed=allowed,
                                denied=denied)

    # --- segment construction -------------------------------------------
    def _block_los(tp) -> np.ndarray:
        """Inclusive lower doc-id edge of each block ([] for an empty
        term — a zero-block term contributes nothing and must not crash
        the pruned path while score_exhaustive handles it fine)."""
        los = np.empty(tp.n_blocks, dtype=np.int64)
        if tp.n_blocks:
            los[0] = 0
            los[1:] = tp.last_ids[:-1] + 1
        return los

    term_los = [_block_los(tp) for tp in terms]
    pts = []
    for tp, los in zip(terms, term_los):
        pts.append(los)
        pts.append(tp.last_ids + 1)  # exclusive upper edges
    cuts = np.unique(np.concatenate(pts))
    n_seg = cuts.size - 1
    if n_seg <= 0:
        return score_exhaustive(terms, k, min_score, allowed=allowed,
                                denied=denied)
    seg_lo, seg_hi = cuts[:-1], cuts[1:]  # [lo, hi) doc-id ranges

    seg_ub = np.zeros(n_seg, dtype=np.float64)
    seg_block: list[np.ndarray] = []
    for tp, los in zip(terms, term_los):
        bidx = np.searchsorted(tp.last_ids, seg_lo)
        covered = bidx < tp.n_blocks
        ok = covered.copy()
        ok[covered] = los[bidx[covered]] < seg_hi[covered]
        ub = np.zeros(n_seg, dtype=np.float64)
        ub[ok] = tp.weight * tp.blockmax[bidx[ok]]
        seg_ub += ub
        seg_block.append(np.where(ok, bidx, -1))

    # --- prune loop -------------------------------------------------------
    seg_order = np.argsort(-seg_ub, kind="stable")
    # an explicit min_score seeds the pruning threshold: a segment whose
    # upper bound is below it cannot contribute a doc that survives the
    # final min_score filter, so skipping it is exact (not just safe)
    theta = -np.inf if min_score is None else float(min_score)
    heap_ids = np.zeros(0, dtype=np.int64)
    heap_scores = np.zeros(0, dtype=np.float64)
    pos = 0
    while pos < n_seg:
        window = seg_order[pos : pos + chunk]
        pos += chunk
        # seg_order is ub-descending: if this window's best is below θ,
        # everything remaining is too (ties at θ are still scored).
        if seg_ub[window[0]] < theta:
            break
        segs = window[seg_ub[window] >= theta]
        if segs.size == 0:
            break
        lo_docs, hi_docs = seg_lo[segs], seg_hi[segs]
        so = np.argsort(lo_docs)
        lo_s, hi_s = lo_docs[so], hi_docs[so]
        all_ids, all_contribs = [], []
        for ti, tp in enumerate(terms):
            blks = seg_block[ti][segs]
            blks = np.unique(blks[blks >= 0])
            if blks.size == 0:
                continue
            ids, contribs = tp.decode_blocks(blks)
            # membership: id is inside one of the chunk's segments
            j = np.searchsorted(lo_s, ids, side="right") - 1
            jc = np.clip(j, 0, lo_s.size - 1)
            valid = (j >= 0) & (ids < hi_s[jc])
            ids, contribs = ids[valid], contribs[valid]
            if allowed is not None:
                ids, contribs = _filter_allowed(ids, contribs, allowed)
            if denied is not None:
                ids, contribs = _filter_denied(ids, contribs, denied)
            all_ids.append(ids)
            all_contribs.append(contribs)
        if all_ids:
            uniq, scores = _accumulate(all_ids, all_contribs)
            if uniq.size:
                heap_ids = np.concatenate((heap_ids, uniq))
                heap_scores = np.concatenate((heap_scores, scores))
                if heap_ids.size > 8 * k:
                    # trim under the CANONICAL order so tie-break survives
                    keep = np.lexsort((heap_ids, -heap_scores))[: 2 * k]
                    heap_ids, heap_scores = heap_ids[keep], heap_scores[keep]
                if heap_scores.size >= k:
                    # never DROP below the min_score seed: segments in
                    # [kth, min_score) still cannot survive the final
                    # filter, so the tighter bound stays in force
                    theta = max(theta,
                                -np.partition(-heap_scores, k - 1)[k - 1])
    return _topk(heap_ids, heap_scores, k, min_score)


def merge_topk(hits: list[tuple[int, float]], k: int):
    """Global k-merge with the canonical tie-break (score desc, doc_id
    asc)."""
    return sorted(hits, key=lambda h: (-h[1], h[0]))[:k]


def _segment_bound(lists: list) -> float:
    """Upper bound on any doc's score in one segment: Σ weight × list_max
    over its ``(field, term, weight, list_max, make)`` entries, where
    ``list_max`` is the list's largest (bound-factor scaled) block-max.
    Summed in the scorer's canonical term order, so float rounding keeps
    it ≥ every score the scorer accumulates from the same lists."""
    bound = 0.0
    for _, _, weight, list_max, _ in sorted(
            lists, key=lambda e: (_FIELD_RANK[e[0]], e[1])):
        bound += weight * list_max
    return bound


def score_segments(segments: list, k: int, scorer,
                   min_score: float | None = None,
                   denied: np.ndarray | None = None):
    """Exact top-k over doc-disjoint segments with one shared threshold
    (see module docstring).

    ``segments``: ``(lists, allowed)`` pairs. ``lists`` holds one
    ``(field, term, weight, list_max, make)`` entry per posting list of
    the segment; ``make()`` builds its :class:`TermPostings` and is only
    called when the segment is scored. ``allowed`` is the segment's
    filter set (see :func:`score_exhaustive`) or None. ``scorer`` is
    :func:`score_blockmax` or :func:`score_exhaustive` (the caller's
    binding, so a wrapper installed on it sees every segment call)."""
    bounds = [_segment_bound(lists) for lists, _ in segments]
    theta = min_score
    hits: list = []
    for i in sorted(range(len(segments)), key=lambda i: -bounds[i]):
        # descending bounds: once one is below θ, all the rest are too.
        # A bound equal to θ is scored: its docs may win a doc-id tie.
        if theta is not None and bounds[i] < theta:
            break
        lists, allowed = segments[i]
        hits = merge_topk(hits + scorer([make() for *_, make in lists], k,
                                        theta, allowed=allowed,
                                        denied=denied), k)
        if len(hits) == k:
            # every hit passed the scorer's min_score = θ ≥ min_score, so
            # the k-th best never drops θ below min_score
            theta = hits[-1][1]
    return hits
