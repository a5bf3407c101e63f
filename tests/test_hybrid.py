"""kNN / hybrid fusion / highlights (Q3-Q5)."""

import numpy as np
import pytest

from baram_spark.query.hybrid import (
    BM25_WEIGHT,
    KNN_WEIGHT,
    embed_docs,
    hash_embed,
    highlight,
    hybrid_search,
    knn_search,
)


def test_hash_embed_deterministic_unit_norm():
    v1 = hash_embed("경제 뉴스 시장 동향")
    v2 = hash_embed("경제 뉴스 시장 동향")
    assert np.array_equal(v1, v2)
    assert abs(np.linalg.norm(v1) - 1.0) < 1e-12


def test_similar_texts_closer():
    a = hash_embed("경제 시장 뉴스 전망 투자")
    b = hash_embed("경제 시장 뉴스 전망 분석")
    c = hash_embed("스포츠 경기 결과 우승 선수")
    assert a @ b > a @ c


def test_fusion_weights_and_minmax():
    bm25 = [(1, 10.0), (2, 5.0), (3, 0.0)]
    knn = [(2, 0.9), (4, 0.5), (3, 0.1)]
    fused = hybrid_search(bm25, knn, k=4)
    scores = dict(fused)
    assert scores[1] == BM25_WEIGHT * 1.0  # only bm25, max there
    assert scores[4] == KNN_WEIGHT * 0.5  # only knn, mid
    assert abs(scores[2] - (BM25_WEIGHT * 0.5 + KNN_WEIGHT * 1.0)) < 1e-12
    # descending with doc_id tie-break
    assert [d for d, _ in fused] == sorted(
        scores, key=lambda d: (-scores[d], d)
    )


def test_hybrid_empty_sides():
    assert hybrid_search([], [], k=5) == []
    only = hybrid_search([(7, 3.0)], [], k=5)
    assert only == [(7, BM25_WEIGHT * 1.0)]


def test_knn_search_spark(spark):
    docs = spark.createDataFrame(
        [
            (1, "경제 시장 뉴스 전망"),
            (2, "스포츠 경기 결과"),
            (3, "경제 시장 분석"),
        ],
        "doc_id long, text string",
    )
    emb = embed_docs(docs)
    hits = knn_search(emb, "경제 시장", k=2)
    assert {h[0] for h in hits} == {1, 3}


def test_highlight_marks_terms():
    text = "시장 동향 보고서. 경제 지표가 개선되었다. 이어서 긴 본문이 계속된다."
    frags = highlight(text, "경제 시장", n_fragments=3, frag_len=40)
    assert frags
    assert any("<mark>경제</mark>" in f for f in frags)
    assert any("<mark>시장</mark>" in f for f in frags)


def test_highlight_no_match():
    assert highlight("본문 내용", "존재안함없는말", n_fragments=3) == []


# (text, query, n_fragments, frag_len, fragments): adjacent and nested
# matches (catwalk/cat), overlapping windows, mixed Hangul/Latin and case
HIGHLIGHT_PINS = [
    ("삼성전자 Samsung 반도체 실적 발표. 삼성전자는 SAMSUNG Foundry 투자를 늘렸다.",
     "삼성전자 samsung", 3, 24,
     ["<mark>삼성전자</mark> <mark>Samsung</mark> 반도체 실적 발표. "]),
    ("AI 반도체 시장: AI칩과 AIoT 수요가 늘었다 — ai 반도체 ai", "AI 반도체", 3, 12,
     ["<mark>AI</mark> <mark>반도체</mark> 시장: A",
      "늘었다 — <mark>ai</mark> <mark>반도체</mark>"]),
    ("경제경제 시장시장 경제 시장 경제시장", "경제 시장", 2, 10,
     ["<mark>경제</mark><mark>경제</mark> <mark>시장</mark><mark>시장</mark> ",
      "제 <mark>시장</mark> <mark>경제</mark><mark>시장</mark>"]),
    ("the cat sat on the cathedral's catwalk; Cat cat CAT", "cat catwalk",
     3, 16,
     ["the <mark>cat</mark> sat on t", "edral's <mark>catwalk</mark>;",
      "<mark>Cat</mark> <mark>cat</mark> <mark>CAT</mark>"]),
    ("Seoul서울 seoul 서울특별시 SEOUL 서울에서", "서울 Seoul", 1, 100,
     ["<mark>Seoul</mark><mark>서울</mark> <mark>seoul</mark> "
      "<mark>서울</mark>특별시 <mark>SEOUL</mark> <mark>서울</mark>에서"]),
    ("짧은 글", "없는말", 3, 150, []),
]


@pytest.mark.parametrize("text,query,n,frag_len,want", HIGHLIGHT_PINS)
def test_highlight_fragments_pinned(text, query, n, frag_len, want):
    """Fragments are byte-identical whether highlight analyzes the query
    itself or is handed the pattern built once per request."""
    from baram_spark.query.hybrid import highlight_pattern

    assert highlight(text, query, n_fragments=n, frag_len=frag_len) == want
    pattern = highlight_pattern(query)
    assert highlight(text, pattern, n_fragments=n,
                     frag_len=frag_len) == want
    assert highlight_pattern("") is None and highlight(text, None) == []


def test_knn_and_hybrid_guard_nonpositive_k(spark):
    """k <= 0 must mean 'no hits' — a negative k would slice
    all-but-the-last and return nearly the whole corpus (the same guard
    engine.search documents)."""
    from baram_spark.query.hybrid import hybrid_search, knn_search

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "doc_id long, emb array<float>"
    )
    assert knn_search(emb, "query", k=0, dim=2) == []
    assert knn_search(emb, "query", k=-1, dim=2) == []
    assert hybrid_search([(1, 2.0)], [(2, 1.0)], k=0) == []
    assert hybrid_search([(1, 2.0)], [(2, 1.0)], k=-3) == []
