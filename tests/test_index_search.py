"""Spark integration: end-to-end index build + BM25 rank identity vs the
brute-force oracle, WAND/exhaustive equivalence, head-term packing, and
resume."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from baram_spark.corpus import make_query_set, pages_df
from baram_spark.index.builder import IndexBuilder
from baram_spark.query.bm25 import BruteForceIndex
from baram_spark.query.engine import SearchEngine
from tests.conftest import read_committed

N_DOCS = 600
FP = f"test-{N_DOCS}"


@pytest.fixture(scope="module")
def index_dir(spark, work_dir):
    out = f"{work_dir}/idx"
    pages = pages_df(spark, N_DOCS, partitions=8)
    builder = IndexBuilder(
        spark, out, n_shards=4, shard_concurrency=2
    )
    metrics = builder.build(pages, fingerprint=FP)
    assert metrics["postings_built"] > 0
    return out


@pytest.fixture(scope="module")
def oracle(spark, index_dir):
    docs = (
        spark.read.parquet(f"{index_dir}/docs")
        .select("doc_id", "title", "text", "category", "published_at",
                "publisher")
        .toPandas()
    )
    return BruteForceIndex.build(
        [(int(r.doc_id), r.title, r.text) for r in docs.itertuples()],
        meta={
            int(r.doc_id): (r.category, r.published_at, r.publisher)
            for r in docs.itertuples()
        },
    )


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir)


def _norm(hits):
    return [(d, round(s, 9)) for d, s in hits]


def test_rank_identity_local(engine, oracle):
    for q in make_query_set():
        exp = oracle.search(q["query_text"], k=q["k"])
        got = engine.search(q["query_text"], k=q["k"], mode="local")
        assert _norm(got) == _norm(exp), q["query_text"]


def test_rank_identity_distributed(engine, oracle):
    for q in make_query_set()[:4]:
        exp = oracle.search(q["query_text"], k=q["k"])
        got = engine.search(q["query_text"], k=q["k"], mode="distributed")
        assert _norm(got) == _norm(exp), q["query_text"]


def test_wand_equals_exhaustive(engine):
    for q in make_query_set():
        pruned = engine.search(q["query_text"], k=10, mode="local", prune=True)
        full = engine.search(q["query_text"], k=10, mode="local", prune=False)
        assert pruned == full, q["query_text"]  # bit-identical scores


def test_scores_are_exact_floats(engine, oracle):
    q = make_query_set()[0]["query_text"]
    got = engine.search(q, k=10, mode="local")
    exp = oracle.search(q, k=10)
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gd == ed
        assert gs == es  # no tolerance: identical float64 accumulation order


def test_min_score_filter(engine, oracle):
    q = make_query_set()[5]["query_text"]
    full = engine.search(q, k=50, mode="local")
    if len(full) > 2:
        cutoff = full[1][1]
        filtered = engine.search(q, k=50, min_score=cutoff, mode="local")
        assert all(s >= cutoff for _, s in filtered)
        assert _norm(filtered) == _norm(oracle.search(q, k=50, min_score=cutoff))


def test_zero_hit_query(engine):
    assert engine.search("zzqqxxnonexistent", k=10) == []


def test_category_filter_pre_ranking(engine, oracle):
    """Filter context (mod.rs:509-531): category restricts candidates BEFORE
    top-k — rank-identical to the filtered brute-force oracle, scores equal
    to the unfiltered scores of the surviving docs."""
    for mode in ("local", "distributed"):
        for q in make_query_set()[:4]:
            exp = oracle.search(q["query_text"], k=q["k"], category="sports")
            got = engine.search(
                q["query_text"], k=q["k"], mode=mode, category="sports"
            )
            assert _norm(got) == _norm(exp), (mode, q["query_text"])
            if got:
                # surviving docs keep their unfiltered score (filter context
                # never rescales) — check against the oracle's full ranking
                unfiltered = dict(
                    oracle.search(q["query_text"], k=10**6)
                )
                for d, s in _norm(got):
                    assert round(unfiltered[d], 9) == s


def test_date_range_filter_pre_ranking(engine, oracle):
    from datetime import datetime

    lo, hi = datetime(2024, 12, 5), datetime(2024, 12, 15)
    for q in make_query_set()[:3]:
        exp = oracle.search(q["query_text"], k=q["k"], date_from=lo, date_to=hi)
        got = engine.search(
            q["query_text"], k=q["k"], mode="local", date_from=lo, date_to=hi
        )
        assert _norm(got) == _norm(exp), q["query_text"]


def test_combined_category_and_date_filter(engine, oracle):
    from datetime import datetime

    lo = datetime(2024, 12, 10)
    q = make_query_set()[0]["query_text"]
    exp = oracle.search(q, k=20, category="", date_from=lo)
    got = engine.search(q, k=20, mode="local", category="", date_from=lo)
    assert _norm(got) == _norm(exp)
    assert got, "general-category docs after Dec 10 must exist in 600 docs"


def test_chunk_text_third_field(spark, tmp_path):
    """chunk_text is the third scored field (mod.rs:493-501, boost 1.0):
    an index built from docs carrying a chunk_text column must rank
    identically to the 3-field brute-force oracle, and docs whose chunk
    matches the query must gain score from it."""
    out = f"{tmp_path}/chunk_idx"
    pages = pages_df(spark, 200, partitions=4)
    builder = IndexBuilder(spark, out, n_shards=2)
    # build docs first, then re-index with a synthetic chunk column:
    # chunk_text = first 120 chars of content for even doc_ids
    builder.build(pages, fingerprint="chunk-base")
    base = read_committed(spark, out, "docs").drop("gen")
    with_chunks = base.withColumn(
        "chunk_text",
        F.when(F.col("doc_id") % 2 == 0, F.substring("text", 1, 120)),
    )
    out2 = f"{tmp_path}/chunk_idx2"
    b2 = IndexBuilder(spark, out2, n_shards=2)
    # pre-parsed docs keep their chunk_text column through the build
    b2.build_docs(with_chunks, "fp2")

    pdf = with_chunks.select(
        "doc_id", "title", "text", "chunk_text"
    ).toPandas()
    oracle = BruteForceIndex.build(
        [
            (int(r.doc_id), r.title, r.text, r.chunk_text)
            for r in pdf.itertuples()
        ]
    )
    engine = SearchEngine(spark, out2)
    assert "chunk_text" in engine.corpus_stats
    matched = 0
    for q in make_query_set()[:6]:
        exp = oracle.search(q["query_text"], k=q["k"])
        for mode in ("local", "distributed"):
            got = engine.search(q["query_text"], k=q["k"], mode=mode)
            assert _norm(got) == _norm(exp), (mode, q["query_text"])
        matched += len(exp)
    assert matched > 0


def test_filtered_search_returns_k_in_category(spark, index_dir):
    """The round-1 bug: category applied after top-k returned < k rows.
    Now search_df must return up to k hits all inside the category."""
    fresh = SearchEngine(spark, index_dir)
    q = make_query_set()[0]["query_text"]
    rows = fresh.search_df(q, k=5, category="sports",
                           include_highlights=False).collect()
    assert len(rows) == 5
    assert all(r["category"] == "sports" for r in rows)
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]


def test_head_terms_pack_one_unsalted_row(spark, index_dir, work_dir):
    """At salt_threshold=100 (accepted and ignored; the value once salted
    the Zipf head) a 4-shard build packs terms with df above 100 into
    exactly one postings row per (shard, field, term), salt always 0, and
    ranks identically to the fixture index."""
    out2 = f"{work_dir}/idx_head"
    IndexBuilder(
        spark, out2, n_shards=4, salt_threshold=100, shard_concurrency=2,
    ).build(pages_df(spark, N_DOCS, partitions=8), fingerprint=f"{FP}-head")
    e1 = SearchEngine(spark, index_dir)
    e2 = SearchEngine(spark, out2)
    for q in make_query_set()[:4]:
        assert _norm(e1.search(q["query_text"], k=10, mode="local")) == _norm(
            e2.search(q["query_text"], k=10, mode="local")
        )
    from tests.conftest import snapshot_stats
    ts = snapshot_stats(spark, out2).df
    heavy = ts.filter(F.col("df") > 100).count()
    assert heavy > 0, "corpus should have Zipf-head terms above 100 docs"
    post = read_committed(spark, out2, "postings")
    assert post.filter(F.col("salt") != 0).isEmpty()
    dup = (
        post.groupBy("shard", "field", "term")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_postings_df_matches_term_stats(spark, index_dir):
    """Σ per-shard df == global df from term_stats for every term."""
    post = read_committed(spark, index_dir, "postings")
    from tests.conftest import snapshot_stats
    ts = snapshot_stats(spark, index_dir).df
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


def test_resume_skips_completed(spark, index_dir, work_dir):
    """Re-running the build with the same fingerprint skips every stage."""
    builder = IndexBuilder(
        spark, index_dir, n_shards=4, shard_concurrency=2
    )
    pages = pages_df(spark, N_DOCS, partitions=8)
    m2 = builder.build(pages, fingerprint=FP)
    assert set(m2["resumed_stages"]) == {"docs", "doc_terms", "term_stats"}
    assert m2["resumed_shards"] == [0, 1, 2, 3]
    assert m2["postings_built"] == 0  # nothing rebuilt


def test_partial_resume_rebuilds_only_missing(spark, index_dir, oracle):
    """Drop one shard's lineage rows → only that shard rebuilds, and the
    index still answers rank-identically (idempotent per-partition rerun)."""
    ledger_path = f"{index_dir}/lineage"
    df = spark.read.parquet(ledger_path).filter(
        ~((F.col("stage") == "postings") & (F.col("partition_id") == 2))
    )
    kept = df.collect()
    spark.createDataFrame(kept, df.schema).write.mode("overwrite").parquet(ledger_path)

    builder = IndexBuilder(
        spark, index_dir, n_shards=4, shard_concurrency=2
    )
    pages = pages_df(spark, N_DOCS, partitions=8)
    m = builder.build(pages, fingerprint=FP)
    assert m["resumed_shards"] == [0, 1, 3]
    assert m["postings_built"] > 0  # shard 2 rebuilt

    engine = SearchEngine(spark, index_dir)
    q = make_query_set()[0]["query_text"]
    assert _norm(engine.search(q, k=10)) == _norm(oracle.search(q, k=10))


def test_lineage_metrics_recorded(spark, index_dir):
    rows = spark.read.parquet(f"{index_dir}/lineage").collect()
    stages = {r["stage"] for r in rows}
    assert {"docs", "doc_terms", "term_stats", "postings"} <= stages
    docs_row = [r for r in rows if r["stage"] == "docs"][0]
    assert docs_row["rows_out"] > 0 and docs_row["rows_per_sec"] > 0


def test_search_df_projection_and_highlights(spark, index_dir):
    # fresh engine: the partial-resume test above rewrote shard files, so
    # the module-scoped engine's cached file listing is stale by design
    fresh = SearchEngine(spark, index_dir)
    q = make_query_set()[0]["query_text"]
    rows = fresh.search_df(q, k=5).collect()
    assert rows
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert len(r["content"]) <= 500
        assert r["title"] is not None and r["url"].startswith("https://")
        # Q5: matched terms are marked in at least one top hit
    assert any(
        any("<mark>" in h for h in (r["highlights"] or [])) for r in rows
    )


def test_extended_query_set_identity(spark, index_dir, oracle):
    """>=25 hardened queries (decompound compounds, tie clusters,
    repeated/many-term, ASCII+Korean, punctuation, OOV): rank AND score
    identical across WAND, exhaustive, and the brute-force oracle."""
    from baram_spark.corpus import make_query_set_extended

    # fresh engine: earlier resume tests rewrite postings files, and the
    # module-scoped engine's cached file listing would go stale
    engine = SearchEngine(spark, index_dir)
    qs = make_query_set_extended()
    assert len(qs) >= 25
    nonempty = 0
    for q in qs:
        exp = _norm(oracle.search(q["query_text"], k=q["k"]))
        wand = _norm(engine.search(q["query_text"], k=q["k"], mode="local"))
        exh = _norm(engine.search(q["query_text"], k=q["k"], mode="local",
                                  prune=False))
        assert wand == exp, q["query_text"]
        assert exh == exp, q["query_text"]
        nonempty += bool(exp)
    assert nonempty >= 20  # the set is not vacuously green


def test_extended_identity_survives_compaction(spark, tmp_path):
    """The same hardened set stays rank/score-identical after
    delete->compact rewrites generations and global stats."""
    from baram_spark.corpus import make_query_set_extended

    out = f"{tmp_path}/cmp_idx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 300, partitions=4), fingerprint="ext-cmp")
    first = SearchEngine(spark, out)
    victims = [d for d, _ in first.search(
        make_query_set_extended()[0]["query_text"], k=3, mode="local")]
    b.delete_docs(victims)
    b.compact(fingerprint="ext-cmp-c")

    docs = (
        read_committed(spark, out, "docs")
        .select("doc_id", "title", "text").toPandas()
    )
    oracle2 = BruteForceIndex.build(
        [(int(r.doc_id), r.title, r.text) for r in docs.itertuples()]
    )
    engine2 = SearchEngine(spark, out)
    for q in make_query_set_extended():
        exp = _norm(oracle2.search(q["query_text"], k=q["k"]))
        assert _norm(engine2.search(q["query_text"], k=q["k"],
                                    mode="local")) == exp, q["query_text"]


def test_publisher_filter_rank_identity(spark, index_dir, oracle):
    """Publisher filter context now has a brute-force ground truth: rank
    AND score identity, and scores equal the unfiltered search's for
    surviving docs (filter context never changes df/idf)."""
    engine = SearchEngine(spark, index_dir)
    docs = spark.read.parquet(f"{index_dir}/docs")
    pubs = [r["publisher"] for r in
            docs.select("publisher").distinct().collect()
            if r["publisher"]]
    assert pubs
    hit_any = 0
    for q in make_query_set()[:4]:
        for pub in sorted(pubs)[:2]:
            got = engine.search(q["query_text"], k=10, mode="local",
                                publisher=pub)
            exp = oracle.search(q["query_text"], k=10, publisher=pub)
            assert _norm(got) == _norm(exp), (q["query_text"], pub)
            hit_any += bool(exp)
            unfiltered = dict(engine.search(q["query_text"], k=100,
                                            mode="local"))
            for d, s in got:
                assert s == unfiltered[d]
    assert hit_any  # not vacuously green


def test_min_score_seeds_wand_theta(spark, index_dir, oracle):
    """min_score seeds the block-max pruning threshold: results stay
    identical to exhaustive + oracle at every cutoff."""
    engine = SearchEngine(spark, index_dir)  # fresh: resume tests above
    # rewrite postings files under the module-scoped engine
    q = make_query_set()[0]["query_text"]
    base = engine.search(q, k=50, mode="local")
    assert base
    for cutoff in (base[0][1] + 1.0, base[len(base) // 2][1], 0.0):
        wand = engine.search(q, k=50, min_score=cutoff, mode="local")
        exh = engine.search(q, k=50, min_score=cutoff, mode="local",
                            prune=False)
        assert _norm(wand) == _norm(exh)
        assert _norm(wand) == _norm(oracle.search(q, k=50,
                                                  min_score=cutoff))
        assert all(s >= cutoff for _, s in wand)


def test_empty_snapshot_opens_after_vacuum(spark, tmp_path):
    """compact-to-empty then vacuum leaves NO gen dirs — the engine must
    still open (explicit empty-relation schemas) and return no hits."""
    import os

    from baram_spark.index.builder import IndexBuilder

    out = f"{tmp_path}/empty_idx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 60, partitions=2), fingerprint="empty")
    all_ids = [int(r["doc_id"]) for r in
               spark.read.parquet(f"{out}/docs").select("doc_id").collect()]
    b.delete_docs(all_ids)
    b.compact(fingerprint="empty-c")
    assert b.committed_generations() == []
    b.vacuum(retain_snapshots=1)
    # really nothing left on disk for schema inference
    assert not any(
        d.startswith("gen=")
        for d in (os.listdir(f"{out}/postings")
                  if os.path.isdir(f"{out}/postings") else [])
    )
    engine = SearchEngine(spark, out)
    q = make_query_set()[0]["query_text"]
    assert engine.search(q, k=10, mode="local") == []
    assert engine.search(q, k=10, mode="distributed") == []
    assert engine._docs().count() == 0


def test_search_rejects_allowed_ids_plus_facets(engine):
    """allowed_ids combined with category/publisher/date must raise —
    silently dropping the facet would return unfiltered results."""
    with pytest.raises(ValueError, match="allowed_ids"):
        engine.search("query", k=5, allowed_ids=[1, 2],
                      category="politics")
    # empty candidate set short-circuits to no hits, zero Spark jobs
    assert engine.search("query", k=5, allowed_ids=[],
                         mode="distributed") == []
