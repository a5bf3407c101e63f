"""Serving vector path at scale: the node-resident IVF cell index.

Above ``ivf_threshold`` resident vectors, ServingContext._knn probes only
n_probes cells (the in-node HNSW analog, src/embedding/mod.rs:309-321)
instead of scanning the whole matrix. Recall is the traded quantity;
surfaced scores must be IDENTICAL to the exact path, and filtered
queries stay exact."""

import numpy as np
import pytest

from baram_spark.corpus import make_query_set, pages_df
from baram_spark.index.builder import IndexBuilder
from baram_spark.serving import ServingContext, _IvfServing

N = 600
DIM = 8


def _make_fake_model(dim):
    # the embed-swap fixture model (test_embed_swap.py): count features —
    # CLUSTERED vectors, the realistic regime for IVF (a real sentence
    # model clusters far more than the hashing-trick stand-in; IVF on
    # truly random vectors degrades to near-full scans by construction)
    def fake_model(texts):
        out = np.zeros((len(texts), dim), dtype=np.float64)
        for i, t in enumerate(texts):
            t = t or ""
            out[i] = [
                len(t) % 97, t.count(" "), t.count("a"), t.count("e"),
                t.count("the"), t.count("."), len(t.split()) % 89, 1.0,
            ]
        return out

    return fake_model


fake_model = _make_fake_model(DIM)


@pytest.fixture(scope="module")
def emb_index(spark, tmp_path_factory):
    out = f"{tmp_path_factory.mktemp('ivf_srv')}/idx"
    b = IndexBuilder(spark, out, n_shards=2,
                     build_embeddings=True, embed_fn=fake_model)
    b.build(pages_df(spark, N, partitions=4), fingerprint="ivf-serve")
    return out


def _ctx(spark, emb_index, **kw):
    return ServingContext(spark, emb_index, dim=DIM, embed_fn=fake_model,
                          **kw)


def _queries():
    return [q["query_text"] for q in make_query_set()][:8]


def test_ivf_activates_above_threshold(spark, emb_index):
    on = _ctx(spark, emb_index, ivf_threshold=100)
    off = _ctx(spark, emb_index, ivf_threshold=None)
    assert on._snap.ivf is not None
    assert off._snap.ivf is None
    # default: inactive until the corpus crosses 100k vectors
    default = _ctx(spark, emb_index)
    assert default._snap.ivf is None


def test_ivf_recall_and_score_identity(spark, emb_index):
    """recall@10 >= 0.9 vs exact across the reference query set, and every
    surfaced hit carries the exact-path score (same dot product)."""
    on = _ctx(spark, emb_index, ivf_threshold=100)
    off = _ctx(spark, emb_index, ivf_threshold=None)
    recalls = []
    for q in _queries():
        approx = on.search(q, mode="vector", k=10)["results"]
        exact = off.search(q, mode="vector", k=10)["results"]
        exact_ids = {r["id"] for r in exact}
        approx_map = {r["id"]: r["score"] for r in approx}
        recalls.append(len(exact_ids & set(approx_map)) / max(len(exact_ids), 1))
        exact_map = {r["id"]: r["score"] for r in exact}
        for rid in exact_ids & set(approx_map):
            assert approx_map[rid] == pytest.approx(exact_map[rid],
                                                    rel=1e-12)
    assert sum(recalls) / len(recalls) >= 0.9, recalls
    assert min(recalls) >= 0.9, recalls


def test_ivf_probe_work_is_bounded(spark, emb_index):
    """The candidate set a query touches is a strict subset of the corpus
    (flat per-query work as docs grow — the r3 scale finding)."""
    from baram_spark.query.hybrid import embed_query

    ctx = _ctx(spark, emb_index, ivf_threshold=100)
    ivf = ctx._snap.ivf
    n = ctx._snap.emb_ids.size
    fracs = []
    for q in _queries():
        qv = embed_query(q, ctx.dim, ctx.embed_fn)
        fracs.append(ivf.candidates(qv).size / n)
    # clustered vectors + default probes → a small corpus fraction
    assert max(fracs) < 0.5, fracs
    # structural bound: sum of probed lists <= n_probes * max list size
    assert ivf.n_probes < len(ivf.lists)


def test_filtered_queries_stay_exact(spark, emb_index):
    """Filter context bypasses IVF (allowed sets are selective; recall
    loss under filters is not acceptable) — results equal the exact
    context's filtered results."""
    on = _ctx(spark, emb_index, ivf_threshold=100)
    off = _ctx(spark, emb_index, ivf_threshold=None)
    q = _queries()[0]
    cats = {m["category"] for m in on._snap.meta.values() if m["category"]}
    cat = sorted(cats)[0]
    a = on.search(q, mode="vector", k=10, category=cat)
    b = off.search(q, mode="vector", k=10, category=cat)
    assert [(r["id"], r["score"]) for r in a["results"]] == \
        [(r["id"], r["score"]) for r in b["results"]]


def test_hybrid_uses_ivf_and_refresh_rebuilds(spark, emb_index):
    ctx = _ctx(spark, emb_index, ivf_threshold=100)
    res = ctx.search(_queries()[0], mode="hybrid", k=5)
    assert res["total"] == 5
    old = ctx._snap.ivf
    ctx.refresh()
    assert ctx._snap.ivf is not None and ctx._snap.ivf is not old


def test_ivf_build_shapes():
    rng = np.random.default_rng(7)
    emb = rng.normal(size=(500, 16))
    ivf = _IvfServing.build(emb, n_cells=25, n_assign=2)
    assert len(ivf.lists) == 25
    # multi-assignment: every row appears in exactly 2 cells
    assert sum(len(li) for li in ivf.lists) == 1000
    allrows = np.concatenate(ivf.lists)
    assert np.unique(allrows).size == 500
    # zero vector query degrades gracefully
    assert ivf.candidates(np.zeros(16)).size >= 0
