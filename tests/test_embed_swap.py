"""A6 model swap point, proved END-TO-END: a custom batch ``embed_fn``
(standing in for the MiniLM HTTP service, reference vectorize.rs:238-364)
flows through IndexBuilder(build_embeddings=True, embed_fn=...) into the
build-time artifact, and the SAME function embeds queries on the serving
tier — vectors are the model's, never the hashing-trick default."""

import numpy as np
import pytest

from baram_spark.corpus import make_query_set, pages_df
from baram_spark.index.builder import IndexBuilder
from baram_spark.query.hybrid import hash_embed
from baram_spark.serving import ServingContext

DIM = 8


def _make_fake_model(dim):
    # a CLOSURE so cloudpickle ships it by value to executors (test
    # modules aren't importable there — exactly how a user would pass a
    # locally-constructed model callable)
    def fake_model(texts):
        """Deterministic stand-in model: simple per-text count features,
        nothing like the hashing-trick default (so a leak through to
        hash_embed shows up as a vector mismatch, not luck)."""
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
def swap_index(spark, tmp_path_factory):
    out = f"{tmp_path_factory.mktemp('swap')}/idx"
    b = IndexBuilder(spark, out, n_shards=2,
                     build_embeddings=True, embed_fn=fake_model)
    b.build(pages_df(spark, 150, partitions=4), fingerprint="swap-test")
    return out


def test_build_artifact_carries_model_vectors(spark, swap_index):
    emb = spark.read.parquet(f"{swap_index}/embeddings")
    docs = spark.read.parquet(f"{swap_index}/docs").select("doc_id", "text")
    joined = emb.join(docs, "doc_id").limit(20).collect()
    assert joined
    for r in joined:
        got = np.asarray(r["embedding"], dtype=np.float64)
        assert got.shape == (DIM,)
        exp = fake_model([r["text"]])[0]
        assert np.allclose(got, exp), r["doc_id"]
        # and it is NOT the hashing-trick default
        assert not np.allclose(got, hash_embed(r["text"], DIM))


def test_serving_knn_uses_model_end_to_end(spark, swap_index):
    ctx = ServingContext(spark, swap_index, dim=DIM, embed_fn=fake_model)
    q = make_query_set()[0]["query_text"]
    res = ctx.search(q, mode="knn", k=5)
    assert res["total"] == 5

    # brute-force oracle with the model's vectors
    qv = fake_model([q])[0]
    qv = qv / np.linalg.norm(qv)
    emb = spark.read.parquet(f"{swap_index}/embeddings").collect()
    scored = []
    for r in emb:
        v = np.asarray(r["embedding"], dtype=np.float64)
        n = np.linalg.norm(v)
        scored.append((int(r["doc_id"]), float(v @ qv / n) if n else 0.0))
    scored.sort(key=lambda x: (-x[1], x[0]))
    exp = [(d, round(s, 9)) for d, s in scored[:5]]

    meta = ctx.meta
    got = [
        (next(d for d, m in meta.items()
              if f"{m['oid']}_{m['aid']}" == r["id"]), round(r["score"], 9))
        for r in res["results"]
    ]
    assert got == exp

    # hybrid fuses the model-vector knn list with bm25
    hy = ctx.search(q, mode="hybrid", k=5)
    assert hy["total"] == 5
