"""A preloaded serving node scores from postings decoded once, when each
generation loads: its queries decode nothing."""

import pytest
from pyspark.sql import functions as F

from baram_spark.corpus import make_query_set, pages_df
from baram_spark.index import codec
from baram_spark.index.builder import IndexBuilder
from baram_spark.query.engine import SearchEngine
from baram_spark.query.wand import TermPostings
from baram_spark.serving import ServingContext
from tests.conftest import read_committed


def _refuse(*_a, **_kw):
    raise AssertionError("a posting blob was decoded on the query path")


def test_preloaded_queries_decode_no_blob(spark, tmp_path, monkeypatch):
    """Every varint and block decode raises while a preloaded
    ServingContext answers BM25, filtered and hybrid queries on a
    three-shard, two-generation index at k=10 and k=50, for queries that
    match more documents than k — and the answers equal the engine's
    blob-decoding distributed path."""
    out = f"{tmp_path}/idx"
    b = IndexBuilder(spark, out, n_shards=3,
                     build_embeddings=True)
    pages = pages_df(spark, 260, partitions=2)
    aid = F.substring_index("url", "/", -1).cast("long")
    b.build(pages.where(aid < 160), fingerprint="g0")
    b.build_incremental(pages.where(aid >= 160), fingerprint="g1")
    ctx = ServingContext(spark, out)
    assert len(ctx.engine._resident) == 2
    from_blobs = SearchEngine(spark, out)
    row = read_committed(spark, out, "postings").first()

    queries = [q["query_text"] for q in make_query_set()]
    n_match = {q: len(from_blobs.search(q, k=100, mode="distributed"))
               for q in queries}
    for k in (10, 50):
        wide = [q for q in queries if n_match[q] > k]
        assert wide, f"no query matches more than {k} documents"
        expected = {q: from_blobs.search(q, k=k, mode="distributed")
                    for q in wide}
        with monkeypatch.context() as m:
            m.setattr(codec, "varint_decode", _refuse)
            m.setattr(codec, "decode_block", _refuse)
            for q in wide:
                res = ctx.search(q, mode="bm25", k=k)
                assert [(r["doc_id"], r["score"]) for r in res["results"]
                        ] == expected[q], (q, k)
                assert ctx.search(q, mode="bm25", k=k,
                                  category="sports")["results"] is not None
                assert len(ctx.search(q, mode="hybrid", k=k)["results"]) == k
        # the guard is live: the same patch trips a blob decode
        with monkeypatch.context() as m:
            m.setattr(codec, "varint_decode", _refuse)
            with pytest.raises(AssertionError, match="decoded"):
                TermPostings.from_blobs(
                    row["field"], row["term"], 1.0, bytes(row["postings"]),
                    bytes(row["skips"]), bytes(row["blockmax"]), 1.0)
