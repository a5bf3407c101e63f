"""Doc deletion: delete_by_query tombstones (mod.rs:768-818 analog),
query-time exclusion, and physical compaction."""

import pytest
from pyspark.sql import functions as F

from baram_spark.corpus import make_query_set, pages_df
from baram_spark.index.builder import IndexBuilder
from baram_spark.query.engine import SearchEngine
from tests.conftest import read_committed

N = 300


@pytest.fixture()
def del_index(spark, tmp_path):
    out = f"{tmp_path}/del_idx"
    builder = IndexBuilder(spark, out, n_shards=2)
    builder.build(pages_df(spark, N, partitions=4), fingerprint="del-test")
    return out, builder


def test_delete_then_query_excludes_doc(spark, del_index):
    out, builder = del_index
    q = make_query_set()[0]["query_text"]
    engine = SearchEngine(spark, out)
    before = engine.search(q, k=10)
    assert before
    victim = before[0][0]

    url = read_committed(spark, out, "docs").filter(
        F.col("doc_id") == victim
    ).collect()[0]["url"]
    n = builder.delete_by_query(f"url = '{url}'")
    assert n == 1
    # idempotent: re-deleting adds no new tombstone
    assert builder.delete_by_query(f"url = '{url}'") == 0

    fresh = SearchEngine(spark, out)
    for mode in ("local", "distributed"):
        after = fresh.search(q, k=10, mode=mode)
        assert all(d != victim for d, _ in after), mode
        # survivors keep their exact pre-delete scores (Lucene deleted-docs
        # semantics: stats unchanged until compaction)
        before_d = dict(before)
        for d, s in after:
            if d in before_d:
                assert before_d[d] == s


def test_deleted_doc_excluded_with_filters(spark, del_index):
    out, builder = del_index
    q = make_query_set()[0]["query_text"]
    engine = SearchEngine(spark, out)
    hits = engine.search(q, k=20, category="sports")
    if not hits:
        pytest.skip("no sports hits for this query")
    victim = hits[0][0]
    builder.delete_docs([victim])
    fresh = SearchEngine(spark, out)
    after = fresh.search(q, k=20, category="sports")
    assert all(d != victim for d, _ in after)


def test_compact_physically_removes(spark, del_index):
    out, builder = del_index
    q = make_query_set()[1]["query_text"]
    engine = SearchEngine(spark, out)
    before = engine.search(q, k=5)
    assert before
    victim = before[0][0]
    builder.delete_docs([victim])

    res = builder.compact()
    assert res["tombstones"] == 1
    assert res["compacted_gens"] == [0]
    # survivors were rewritten into a FRESH generation (never in-place:
    # stale dynamic-overwrite partitions are impossible by construction)
    assert res["new_gens"] == [1]
    assert builder.committed_generations() == [1]
    # tombstone set cleared
    assert builder.deleted_ids() == []
    # the superseded gen 0 dirs survive for readers pinned to the previous
    # snapshot; expiring it reclaims them
    assert 0 in builder.generations()
    gc = builder.vacuum(retain_snapshots=1)
    assert gc["removed_gens"] == [0]
    assert builder.generations() == [1]

    # physically gone from every table
    assert spark.read.parquet(f"{out}/docs").filter(
        F.col("doc_id") == victim
    ).isEmpty()
    assert spark.read.parquet(f"{out}/doc_terms").filter(
        F.col("doc_id") == victim
    ).isEmpty()

    # a fresh engine (no tombstones anywhere) no longer returns the doc,
    # and the index is self-consistent: per-shard postings df == term_stats
    fresh = SearchEngine(spark, out)
    assert fresh._denied is None
    after = fresh.search(q, k=5)
    assert all(d != victim for d, _ in after)
    post = spark.read.parquet(f"{out}/postings")
    from tests.conftest import snapshot_stats
    ts = snapshot_stats(spark, out).df
    agg = post.groupBy("field", "term").agg(F.sum("df").alias("df_sum"))
    bad = (
        agg.join(ts, ["field", "term"], "full")
        .filter(
            F.coalesce(F.col("df_sum"), F.lit(-1))
            != F.coalesce(F.col("df"), F.lit(-2))
        )
        .count()
    )
    assert bad == 0


def test_multi_generation_compact_stats(spark, tmp_path):
    """Compacting tombstones across SEVERAL generations must fold the
    earlier replacement generations' stats into the later folds —
    global n_docs/avgdl stay exact and rank identity holds."""
    out = f"{tmp_path}/mgc_idx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 120, partitions=2), fingerprint="g0")
    b.build_incremental(pages_df(spark, 200, partitions=2),
                        fingerprint="g1")

    docs = spark.read.parquet(f"{out}/docs")
    victims = [int(r["doc_id"]) for g in (0, 1) for r in
               docs.filter(F.col("gen") == g).select("doc_id")
               .limit(3).collect()]
    assert b.delete_docs(victims) == 6
    res = b.compact()
    assert sorted(res["compacted_gens"]) == [0, 1]
    assert len(res["new_gens"]) == 2

    # corpus stats must equal a direct recount over the committed docs
    from tests.conftest import snapshot_stats

    committed = read_committed(spark, out, "docs")
    n_docs = committed.count()
    stats = snapshot_stats(spark, out).corpus
    assert stats["title"][0] == n_docs, (stats, n_docs)
    assert stats["content"][0] == n_docs
    assert SearchEngine(spark, out).corpus_stats == stats

    # and the engine still ranks identically to brute force
    from baram_spark.query.bm25 import BruteForceIndex

    eng = SearchEngine(spark, out)
    oracle = BruteForceIndex.build([
        (int(r["doc_id"]), r["title"], r["text"])
        for r in committed.select("doc_id", "title", "text").collect()
    ])
    for q in make_query_set()[:3]:
        got = [(d, round(s, 9)) for d, s in
               eng.search(q["query_text"], k=10, mode="local")]
        exp = [(d, round(s, 9)) for d, s in
               oracle.search(q["query_text"], k=10)]
        assert got == exp, q["query_text"]
        assert all(d not in victims for d, _ in got)


def test_compact_to_empty_index_no_resurrection(spark, tmp_path):
    """Tombstoning EVERY doc then compacting commits an EMPTY snapshot
    ({"generations": []}); readers must see an empty index, never fall
    back to the retained superseded generation dirs."""
    import json
    import urllib.request

    from baram_spark.serving import (
        ServingContext,
        make_server,
        serve_forever_in_thread,
    )

    out = f"{tmp_path}/empty_idx"
    b = IndexBuilder(spark, out, n_shards=2,
                     build_embeddings=True)
    b.build(pages_df(spark, 80, partitions=2), fingerprint="e0")
    all_ids = [int(r["doc_id"]) for r in
               read_committed(spark, out, "docs").select("doc_id").collect()]
    b.delete_docs(all_ids)
    res = b.compact()
    assert res["dropped_gens"] == [0] and res["new_gens"] == []
    with open(f"{out}/_manifest.json") as f:
        assert json.load(f)["generations"] == []

    q = make_query_set()[0]["query_text"]
    eng = SearchEngine(spark, out)
    assert eng._committed == []
    assert eng.search(q, k=10, mode="local") == []
    assert eng.search(q, k=10, mode="distributed") == []
    assert eng.search(q, k=5, category="sports", mode="local") == []

    ctx = ServingContext(spark, out)
    assert ctx.meta == {}
    srv = make_server(ctx, port=0)
    serve_forever_in_thread(srv)
    host, port = srv.server_address[:2]
    try:
        import urllib.parse

        with urllib.request.urlopen(
            f"http://{host}:{port}/api/search?"
            f"q={urllib.parse.quote(q)}&mode=bm25&k=5", timeout=30
        ) as r:
            body = json.loads(r.read())
        assert body["total"] == 0, body
    finally:
        srv.shutdown()
