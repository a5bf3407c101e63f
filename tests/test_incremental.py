"""Incremental generations + streaming ingest: new docs only, rank identity
across generations, block-max bound safety after avgdl drift."""

import pytest
from pyspark.sql import functions as F

from baram_spark.corpus import make_query_set, pages_df
from baram_spark.index.builder import IndexBuilder
from baram_spark.query.bm25 import BruteForceIndex
from baram_spark.query.engine import SearchEngine
from tests.conftest import read_committed, snapshot_stats

N_BASE = 300
N_ALL = 500


def _oracle(spark, index_dir):
    """Brute force over the committed docs: the manifest's generations,
    never a staged wave or a retained superseded generation."""
    docs = read_committed(spark, index_dir, "docs").select(
        "doc_id", "title", "text").toPandas()
    return BruteForceIndex.build(
        [(int(r.doc_id), r.title, r.text) for r in docs.itertuples()]
    )


def _norm(hits):
    return [(d, round(s, 9)) for d, s in hits]


def _assert_term_stats_exact(spark, out):
    """The term_stats a reader resolves (those of the manifest's
    generations) equal the direct Spark aggregate over the committed
    postings: per generation, and summed into the global df."""
    stats = snapshot_stats(spark, out)
    post = read_committed(spark, out, "postings")
    for got, keys in ((stats.term_stats, ["gen", "field", "term"]),
                      (stats.df, ["field", "term"])):
        expect = post.groupBy(*keys).agg(F.sum("df").alias("df"))
        got = got.select(*keys, "df")
        assert got.count() == expect.count()
        assert got.exceptAll(expect).isEmpty()
        assert expect.exceptAll(got).isEmpty()


@pytest.fixture(scope="module")
def inc_index(spark, work_dir):
    out = f"{work_dir}/inc"
    builder = IndexBuilder(spark, out, n_shards=4)
    builder.build(pages_df(spark, N_BASE, partitions=4), fingerprint="base")
    # second wave: overlap [0, N_BASE) must be deduped away
    m = builder.build_incremental(
        pages_df(spark, N_ALL, partitions=4), fingerprint="wave2"
    )
    return out, m


def test_incremental_adds_only_new_docs(spark, inc_index):
    out, m = inc_index
    assert m["gen"] == 1
    docs = read_committed(spark, out, "docs")
    total = docs.count()
    gen1 = docs.filter(F.col("gen") == 1).count()
    base = docs.filter(F.col("gen") == 0).count()
    assert base + gen1 == total
    # gen1 holds only doc_ids >= N_BASE (deleted pages excluded)
    assert docs.filter(
        (F.col("gen") == 1) & (F.col("aid").cast("long") < N_BASE)
    ).count() == 0
    assert docs.select("url").distinct().count() == total  # no dup urls


def test_rank_identity_across_generations(spark, inc_index):
    out, _ = inc_index
    engine = SearchEngine(spark, out)
    oracle = _oracle(spark, out)
    for q in make_query_set():
        exp = oracle.search(q["query_text"], k=q["k"])
        got = engine.search(q["query_text"], k=q["k"], mode="local")
        assert _norm(got) == _norm(exp), q["query_text"]


def test_wand_bounds_safe_after_avgdl_drift(spark, inc_index):
    out, _ = inc_index
    engine = SearchEngine(spark, out)
    for q in make_query_set():
        pruned = engine.search(q["query_text"], k=10, mode="local", prune=True)
        full = engine.search(q["query_text"], k=10, mode="local", prune=False)
        assert pruned == full, q["query_text"]


def test_wave_of_legacy_url_variants_commits_no_doc(spark, tmp_path):
    """A wave of committed articles under legacy urls
    (``read.naver?mode=LSD&oid=..&aid=..``) is the same (oid, aid), so the
    same doc_id: the dedup keys on the canonical url and commits nothing,
    and every committed doc_id stays unique."""
    out = f"{tmp_path}/legacy"
    b = IndexBuilder(spark, out, n_shards=2)
    pages = pages_df(spark, 30, partitions=2)
    b.build(pages, fingerprint="base")
    urls = [r["url"] for r in read_committed(spark, out, "docs")
            .select("url").orderBy("url").limit(4).collect()]
    legacy = pages.filter(F.col("url").isin(urls)).withColumn(
        "url", F.regexp_replace(
            "url", r"^https://n\.news\.naver\.com/mnews/article/"
                   r"(\d{3})/(\d+)$",
            "https://news.naver.com/main/read.naver?mode=LSD&oid=$1&aid=$2"))
    assert legacy.filter(F.col("url").contains("read.naver")).count() == 4
    m = b.build_incremental(legacy, fingerprint="legacy")
    assert m.get("docs_out", 0) == 0
    ids = [r["doc_id"] for r in read_committed(spark, out, "docs")
           .select("doc_id").collect()]
    assert len(ids) == len(set(ids)) >= 4


def test_segments_identity_base_plus_three_tiny_waves(spark, tmp_path):
    """1 base + 3 tiny waves (16 (generation, shard) segments, each wave's
    lists spanning the whole doc-id range) with two tombstones: local ==
    distributed == brute force over the committed docs for BM25 and
    category-filtered BM25, pruned == exhaustive, and hybrid == the
    fusion of the oracle's BM25 hits."""
    from baram_spark import serving
    from baram_spark.index import fs
    from baram_spark.query.hybrid import hybrid_search

    out = f"{tmp_path}/segs"
    b = IndexBuilder(spark, out, n_shards=4, build_embeddings=True)
    b.build(pages_df(spark, 300, partitions=4), fingerprint="base")
    for i, n in enumerate((306, 312, 318), 1):
        m = b.build_incremental(pages_df(spark, n, partitions=2),
                                fingerprint=f"w{i}")
        assert m["docs_out"] > 0
    assert fs.committed_gens(fs.read_manifest(out)) == [0, 1, 2, 3]
    docs = read_committed(spark, out, "docs").select(
        "doc_id", "title", "text", "category", "published_at",
        "publisher", "gen").toPandas()
    oracle = BruteForceIndex.build(
        [(int(r.doc_id), r.title, r.text) for r in docs.itertuples()],
        meta={int(r.doc_id): (r.category, r.published_at, r.publisher)
              for r in docs.itertuples()})
    queries = [q["query_text"] for q in make_query_set()]
    # tombstone a wave doc and a base doc that rank first somewhere:
    # deleted docs leave the race, live scores keep their statistics
    dead = {oracle.search(queries[0], k=1)[0][0],
            int(docs[docs.gen == 3].doc_id.iloc[0])}
    b.delete_docs(sorted(dead))

    def expect(q, k, **kw):
        hits = oracle.search(q, k=k + len(dead), **kw)
        return [h for h in hits if h[0] not in dead][:k]

    eng = SearchEngine(spark, out, preload=True)
    for i, q in enumerate(queries):
        for kw in ({}, {"category": "sports"}):
            got = eng.search(q, k=10, mode="local", **kw)
            assert _norm(got) == _norm(expect(q, 10, **kw)), (q, kw)
            assert eng.search(q, k=10, mode="local", prune=False,
                              **kw) == got
            if i < 3:
                assert eng.search(q, k=10, mode="distributed", **kw) == got
    ctx = serving.ServingContext(spark, out)
    for q in queries[:5]:
        got = ctx.search(q, mode="hybrid", k=10)["results"]
        want = hybrid_search(expect(q, 10), ctx._knn(ctx._snap, q, 10, None),
                             k=10)
        assert _norm((r["doc_id"], r["score"]) for r in got) \
            == _norm(want), q


def test_incremental_noop_when_no_new_pages(spark, inc_index):
    out, _ = inc_index
    builder = IndexBuilder(spark, out, n_shards=4)
    m = builder.build_incremental(
        pages_df(spark, N_ALL, partitions=4), fingerprint="wave3"
    )
    assert m["gen"] == 2
    assert m.get("docs_out", 0) == 0  # everything already indexed


def test_streaming_available_now(spark, tmp_path):
    """Two page-file drops drained by Trigger.AvailableNow → same ranking
    as a single batch build over the union."""
    from baram_spark.streaming.ingest import stream_build

    pages_dir = str(tmp_path / "pages_stream")
    idx_dir = str(tmp_path / "stream_idx")
    ck_dir = str(tmp_path / "ck")
    pages_df(spark, 150, partitions=2).write.mode("append").parquet(pages_dir)
    stream_build(spark, pages_dir, idx_dir, ck_dir, n_shards=2)
    # second drop (new files, overlapping ids 100-149 come as new FILES but
    # duplicate urls — the anti-join must drop them)
    pages_df(spark, 250, partitions=2).write.mode("append").parquet(pages_dir)
    stream_build(spark, pages_dir, idx_dir, ck_dir, n_shards=2)

    docs = read_committed(spark, idx_dir, "docs")
    assert docs.select("url").distinct().count() == docs.count()

    engine = SearchEngine(spark, idx_dir)
    oracle = _oracle(spark, idx_dir)
    q = make_query_set()[0]["query_text"]
    assert _norm(engine.search(q, k=10, mode="local")) == _norm(
        oracle.search(q, k=10)
    )


def test_manifest_snapshot_isolation(spark, tmp_path):
    """A crashed in-flight build (partial gen dirs, garbage files) must be
    invisible to readers: the manifest pins the committed snapshot."""
    import json
    import os

    out = str(tmp_path / "snap_idx")
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 150, partitions=2), fingerprint="snap")
    with open(f"{out}/_manifest.json") as f:
        assert json.load(f)["generations"] == [0]
    engine = SearchEngine(spark, out)
    q = make_query_set()[0]["query_text"]
    before_local = engine.search(q, k=10, mode="local")
    before_dist = engine.search(q, k=10, mode="distributed")
    assert before_local and before_local == before_dist

    # simulate a crash mid-build of generation 1: partial docs + a garbage
    # postings file, manifest NOT updated
    os.makedirs(f"{out}/postings/gen=1/shard=0", exist_ok=True)
    with open(f"{out}/postings/gen=1/shard=0/part-junk.parquet", "wb") as f:
        f.write(b"this is not a parquet file")
    os.makedirs(f"{out}/docs/gen=1", exist_ok=True)
    with open(f"{out}/docs/gen=1/part-junk.parquet", "wb") as f:
        f.write(b"garbage")

    fresh = SearchEngine(spark, out)
    assert fresh._committed == [0]
    assert fresh.search(q, k=10, mode="local") == before_local
    assert fresh.search(q, k=10, mode="distributed") == before_dist
    # filtered path reads docs through the manifest too (must not touch
    # the garbage gen-1 docs file)
    filtered = fresh.search(q, k=5, category="sports", mode="local")
    assert all(isinstance(d, int) for d, _ in filtered)
    rows = fresh.search_df(q, k=3, include_highlights=False).collect()
    assert len(rows) == 3

    # committing generation 1 for real makes it visible again
    b2 = IndexBuilder(spark, out, n_shards=2)
    import shutil

    shutil.rmtree(f"{out}/postings/gen=1")
    shutil.rmtree(f"{out}/docs/gen=1")
    b2.build_incremental(pages_df(spark, 260, partitions=2),
                         fingerprint="snap2")
    with open(f"{out}/_manifest.json") as f:
        assert json.load(f)["generations"] == [0, 1]
    after = SearchEngine(spark, out)
    assert after._committed == [0, 1]
    assert after.search(q, k=10, mode="local")


def test_merge_generations(spark, tmp_path):
    """Segment-merge analog: two generations + a tombstone consolidate to
    ONE fresh generation with rank-identity preserved, the tombstoned doc
    physically gone, and all bound-correction factors back at 1. The old
    gen dirs survive until the retention window expires (pinned readers),
    then vacuum reclaims them."""
    out = str(tmp_path / "merge_idx")
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 200, partitions=2), fingerprint="m0")
    b.build_incremental(pages_df(spark, 350, partitions=2), fingerprint="m1")
    assert b.generations() == [0, 1]
    engine = SearchEngine(spark, out)
    q = make_query_set()[0]["query_text"]
    victim = engine.search(q, k=3)[0][0]
    b.delete_docs([victim])

    # a reader pinned BEFORE the merge must keep working afterwards
    pinned = SearchEngine(spark, out)
    pinned_before = pinned.search(q, k=10, mode="local")

    res = b.merge_generations()
    assert res["merged_gens"] == [0, 1]
    assert res["tombstones_applied"] == 1
    new_gen = res["new_gen"]
    assert new_gen == 2
    assert b.committed_generations() == [new_gen]
    assert b.deleted_ids() == []

    # old gens retained for the pinned reader, which still answers
    assert set(b.generations()) == {0, 1, new_gen}
    assert pinned.search(q, k=10, mode="local") == pinned_before

    # expire the old snapshot: only the merged gen remains on disk
    gc = b.vacuum(retain_snapshots=1)
    assert gc["removed_gens"] == [0, 1]
    assert b.generations() == [new_gen]

    docs = read_committed(spark, out, "docs")
    assert docs.filter(F.col("doc_id") == victim).isEmpty()
    assert res["docs"] == docs.count()
    # gen_meta holds exactly one generation per field, packed at current
    # avgdl (bound factor 1)
    gm = snapshot_stats(spark, out).gen_meta.collect()
    assert {r["gen"] for r in gm} == {new_gen}

    fresh = SearchEngine(spark, out)
    assert fresh._bound_factor == {} or all(
        v == 1.0 for v in fresh._bound_factor.values()
    )
    oracle = _oracle(spark, out)
    for qq in make_query_set()[:4]:
        exp = oracle.search(qq["query_text"], k=qq["k"])
        got = fresh.search(qq["query_text"], k=qq["k"], mode="local")
        assert _norm(got) == _norm(exp), qq["query_text"]
        assert all(d != victim for d, _ in got)


def test_interrupted_wave_resumes_its_own_gen(spark, tmp_path):
    """An interrupted incremental wave must resume ITS generation number
    even if later waves (other fingerprints) appended more generations."""
    out = str(tmp_path / "genfix")
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 100, partitions=2), fingerprint="g0")
    m1 = b.build_incremental(pages_df(spark, 160, partitions=2), fingerprint="w1")
    assert m1["gen"] == 1
    m2 = b.build_incremental(pages_df(spark, 220, partitions=2), fingerprint="w2")
    assert m2["gen"] == 2
    # re-running wave1 (fully complete) must resolve to gen 1, not gen 3
    m1b = b.build_incremental(pages_df(spark, 160, partitions=2), fingerprint="w1")
    assert m1b["gen"] == 1
    assert m1b.get("postings_built", 0) == 0  # nothing rebuilt


def test_crashed_partial_gen_never_committed_then_gcd(spark, tmp_path):
    """A crashed build's partial generation (garbage files, no manifest
    entry) must (a) never be swept into the NEXT successful commit — the
    committed list is carried through the manifest, not re-derived from a
    directory listing — and (b) survive that commit untouched (a commit
    cannot tell crashed garbage from a concurrent writer's in-flight
    staging, so it deletes neither), then (c) be reclaimed by an explicit
    ``vacuum`` — the orphan-file collector, run when nothing is in
    flight."""
    import json
    import os

    out = str(tmp_path / "crash_idx")
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 150, partitions=2), fingerprint="c0")

    # crash leaves garbage gen-1 dirs in docs AND postings; term_stats or
    # the next commit reading these files would explode / corrupt the df
    os.makedirs(f"{out}/postings/gen=1/shard=0", exist_ok=True)
    with open(f"{out}/postings/gen=1/shard=0/junk.parquet", "wb") as f:
        f.write(b"not parquet")
    os.makedirs(f"{out}/docs/gen=1", exist_ok=True)
    with open(f"{out}/docs/gen=1/junk.parquet", "wb") as f:
        f.write(b"garbage")

    b2 = IndexBuilder(spark, out, n_shards=2)
    b2.build_incremental(pages_df(spark, 260, partitions=2),
                         fingerprint="c2")
    with open(f"{out}/_manifest.json") as f:
        m = json.load(f)
    # the fresh wave took an UNUSED gen number; the crashed gen 1 is not in
    # the committed list, but its dirs survive the commit (could be another
    # writer's in-flight staging)
    assert 1 not in m["generations"]
    assert m["generations"] == [0, 2]
    assert os.path.exists(f"{out}/docs/gen=1")
    assert os.path.exists(f"{out}/postings/gen=1")
    # explicit vacuum is the orphan collector
    b2.vacuum(retain_snapshots=1)
    assert not os.path.exists(f"{out}/docs/gen=1")
    assert not os.path.exists(f"{out}/postings/gen=1")

    engine = SearchEngine(spark, out)
    q = make_query_set()[0]["query_text"]
    assert _norm(engine.search(q, k=10, mode="local")) == _norm(
        _oracle(spark, out).search(q, k=10)
    )


def test_concurrent_commit_conflict_detected(spark, tmp_path):
    """Optimistic concurrency (the Iceberg commit contract): an operation
    whose base snapshot was advanced by another writer must ABORT at
    commit instead of silently dropping the other writer's generations."""
    import pytest as _pytest

    from baram_spark.index.builder import SnapshotConflictError

    out = str(tmp_path / "occ_idx")
    a = IndexBuilder(spark, out, n_shards=2)
    a.build(pages_df(spark, 150, partitions=2), fingerprint="occ0")

    # writer A begins an operation against snapshot 1...
    base = a._begin()
    # ...writer B commits snapshot 2 meanwhile
    b = IndexBuilder(spark, out, n_shards=2)
    b.build_incremental(pages_df(spark, 220, partitions=2),
                        fingerprint="occ-b")
    assert b.committed_generations() == [0, 1]

    # A's commit (carrying only its stale view) must now fail loudly
    with _pytest.raises(SnapshotConflictError):
        a._commit_manifest([0], base_sid=base)

    # and B's generation survives untouched
    assert b.committed_generations() == [0, 1]
    engine = SearchEngine(spark, out)
    assert engine._committed == [0, 1]


def test_occ_conflict_retry(spark, tmp_path):
    """A concurrent writer committing mid-wave aborts the wave's commit
    (SnapshotConflictError); with occ_retries the wave resumes its staged
    generation, commits the UNION of generations, and recomputes the
    global term_stats so df covers the concurrent writer's docs too."""
    from baram_spark.index.builder import (
        SnapshotConflictError,
        read_gen_table,
    )

    out = f"{tmp_path}/occ_idx"
    # embeddings on: a resumed wave's ledger carries "docs.gN.embed" stage
    # names, whose parse must not be mistaken for a generation number
    b1 = IndexBuilder(spark, out, n_shards=2,
                      build_embeddings=True)
    b1.build(pages_df(spark, 120, partitions=2), fingerprint="base")

    b2 = IndexBuilder(spark, out, n_shards=2,
                      build_embeddings=True)
    # b1 stages urls 120..300; b2 commits 120..240 FIRST — the overlap
    # forces the retry to discard b1's staged gen and re-dedup, leaving
    # only 240..300 for b1's recommitted wave
    wave_a = pages_df(spark, 300, partitions=2)
    wave_b = pages_df(spark, 240, partitions=2)

    fired = {"n": 0}
    orig = b1._stage_term_stats

    def hooked(*a, **kw):
        if fired["n"] == 0:
            fired["n"] += 1
            b2.build_incremental(wave_b, fingerprint="concurrent")
        return orig(*a, **kw)

    b1._stage_term_stats = hooked

    # without retries the conflict surfaces
    with pytest.raises(SnapshotConflictError):
        b1.build_incremental(wave_a, fingerprint="wave-a")

    # with a retry budget the wave lands; 3 generations committed
    fired["n"] = 1  # don't fire the concurrent build again
    metrics = b1.build_incremental(wave_a, fingerprint="wave-a",
                                   occ_retries=2)
    gens = b1.committed_generations()
    assert len(gens) == 3, gens
    assert metrics["gen"] in gens

    # committed term_stats cover ALL generations: df equals the direct
    # aggregate over the committed postings (incl. the concurrent gen)
    _assert_term_stats_exact(spark, out)

    # no duplicate urls across generations (anti-join still held)
    docs = read_gen_table(spark, out, "docs", gens=gens)
    assert docs.count() == docs.select("url").distinct().count()

    # and the engine still ranks identically to brute force over the union
    q = make_query_set()[0]["query_text"]
    eng = SearchEngine(spark, out)
    assert _norm(eng.search(q, k=10, mode="local")) == _norm(
        _oracle(spark, out).search(q, k=10)
    )


def test_occ_retry_survives_concurrent_vacuum(spark, tmp_path):
    """A concurrent maintenance job (merge + vacuum) that reclaims a
    wave's staged-but-uncommitted generation dirs must NOT make the
    retried wave silently commit a no-op: the retry detects the
    ledger-complete-but-dir-missing state, invalidates, and redoes the
    wave — no documents are lost."""
    from baram_spark.index.builder import SnapshotConflictError

    out = f"{tmp_path}/occ_vac"
    b1 = IndexBuilder(spark, out, n_shards=2)
    b1.build(pages_df(spark, 100, partitions=2), fingerprint="base")
    b1.build_incremental(pages_df(spark, 160, partitions=2),
                         fingerprint="w1")

    b2 = IndexBuilder(spark, out, n_shards=2)
    wave = pages_df(spark, 240, partitions=2)  # new urls 160..240

    fired = {"n": 0}
    orig = b1._stage_term_stats

    def hooked(*a, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            b2.merge_generations()   # advances the snapshot
            b2.vacuum(retain_snapshots=1)  # reclaims b1's staged gen dirs
        return orig(*a, **kw)

    b1._stage_term_stats = hooked
    with pytest.raises(SnapshotConflictError):
        b1.build_incremental(wave, fingerprint="w2")

    metrics = b1.build_incremental(wave, fingerprint="w2", occ_retries=2)
    assert metrics.get("docs_out", 0) > 0  # the wave was redone, not no-op'd
    docs = spark.read.parquet(f"{out}/docs")
    gens = b1.committed_generations()
    committed = docs.filter(docs.gen.isin(gens))
    # every wave-2 url (minus generator-deleted pages) made it in
    n_new = committed.filter(F.col("aid").cast("long") >= 160).count()
    assert n_new > 0
    assert committed.count() == committed.select("url").distinct().count()


def test_ledger_invalidation_is_clock_free(spark, tmp_path):
    """Invalidation uses count-based tombstones, not wall-clock ordering:
    records that PREDATE the invalidate stay dead even if their
    timestamps sort after the marker (an NTP step backwards must never
    resurrect a discarded wave), and re-records count again."""
    from baram_spark.index.lineage import LineageLedger

    led = LineageLedger(spark, f"{tmp_path}/ledger")
    led.record("docs.g1", 0, "fp", 0, 10, 1.0)
    led.record("postings.g1", 3, "fp", 0, 5, 1.0)
    assert led.completed("fp") == {("docs.g1", 0), ("postings.g1", 3)}

    led.invalidate("fp")
    assert led.completed("fp") == set()
    led.invalidate("fp")  # idempotent: nothing outstanding to tombstone
    assert led.completed("fp") == set()

    # re-record after invalidation counts again
    led.record("docs.g1", 0, "fp", 0, 10, 1.0)
    assert led.completed("fp") == {("docs.g1", 0)}

    # record_many([]) is a no-op, not an IndexError
    led.record_many([])
    assert led.completed("fp") == {("docs.g1", 0)}


def test_ledger_read_starts_no_spark_job(spark, tmp_path):
    """Every build and wave starts with completed(): it reads the ledger
    on the driver (pyarrow, fingerprint-filtered), not through a Spark
    job, and a missing ledger dir reads as nothing done."""
    from baram_spark.index.lineage import LineageLedger
    from tests.conftest import spark_jobs

    led = LineageLedger(spark, f"{tmp_path}/ledger")
    with spark_jobs(spark) as jobs:
        assert led.completed("fp") == set()
        led.record_many([("docs.g1", 0, "fp", 0, 10, 1.0),
                         ("postings.g1", 1, "other", 0, 5, 1.0)])
        led.invalidate("fp")
        led.record("docs.g1", 0, "fp", 0, 10, 1.0)
        assert led.completed("fp") == {("docs.g1", 0)}
        assert led.completed("other") == {("postings.g1", 1)}
    assert jobs == []


def test_vacuum_is_an_occ_commit(spark, tmp_path):
    """vacuum participates in optimistic concurrency like any commit:
    (1) it ADVANCES snapshot_id, so a writer whose base snapshot predates
    the vacuum conflicts instead of committing over the shrunk history;
    (2) a writer that commits DURING the vacuum aborts the vacuum
    (SnapshotConflictError) — its fresh generation dirs must survive."""
    import os

    from baram_spark.index.builder import SnapshotConflictError

    out = f"{tmp_path}/vac_occ"
    b1 = IndexBuilder(spark, out, n_shards=2)
    b1.build(pages_df(spark, 120, partitions=2), fingerprint="base")

    # (1) vacuum advances the snapshot
    base = b1._begin()
    b1.vacuum(retain_snapshots=1)
    with pytest.raises(SnapshotConflictError):
        b1._commit_manifest([0], base_sid=base)

    # (2) concurrent commit mid-vacuum aborts the vacuum
    b2 = IndexBuilder(spark, out, n_shards=2)
    orig = b1._read_manifest
    fired = {"n": 0}

    def hooked():
        m = orig()
        if fired["n"] == 0:
            fired["n"] = 1
            b2.build_incremental(pages_df(spark, 220, partitions=2),
                                 fingerprint="mid-vacuum")
        return m

    b1._read_manifest = hooked
    with pytest.raises(SnapshotConflictError):
        b1.vacuum(retain_snapshots=1)
    b1._read_manifest = orig

    # b2's generation survived the aborted vacuum, dirs and all
    assert b2.committed_generations() == [0, 1]
    assert os.path.isdir(f"{out}/docs/gen=1")
    assert os.path.isdir(f"{out}/postings/gen=1")
    engine = SearchEngine(spark, out)
    assert engine._committed == [0, 1]
    # and a CLEAN re-run of vacuum (nothing in flight) succeeds
    b1.vacuum(retain_snapshots=1)
    assert b1.committed_generations() == [0, 1]


def test_fully_resumed_build_repairs_missing_doc_attrs(spark, tmp_path):
    """A build that crashed after embeddings but before the doc_attrs
    write must regain its attribute index on resume, even when ALL ledger
    stages are complete (the fully-resumed early return)."""
    import os
    import shutil

    out = f"{tmp_path}/attrs_resume"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 120, partitions=2), fingerprint="attrs-fp")
    attrs_dir = f"{out}/doc_attrs/gen=0"
    assert os.path.isdir(attrs_dir)

    # simulate the crash window: attrs dir gone, every stage ledgered done
    shutil.rmtree(attrs_dir)
    b2 = IndexBuilder(spark, out, n_shards=2)
    b2.build(pages_df(spark, 120, partitions=2), fingerprint="attrs-fp",
             resume=True)
    assert os.path.isdir(attrs_dir)  # repaired, not silently skipped
    engine = SearchEngine(spark, out)
    # the attribute index is usable again (None would mean the silent
    # fallback to full docs scans)
    assert engine._doc_attrs() is not None


def test_tombstones_added_during_merge_survive(spark, tmp_path):
    """A delete_docs() racing a merge must keep its tombstone: the
    maintenance job clears exactly the tombstone FILES it read, never the
    whole deletes dir."""
    out = f"{tmp_path}/race_idx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 150, partitions=2), fingerprint="race")
    b.build_incremental(pages_df(spark, 260, partitions=2),
                        fingerprint="race2")
    q = make_query_set()[0]["query_text"]
    hits = SearchEngine(spark, out).search(q, k=3, mode="local")
    early, late = hits[0][0], hits[1][0]
    b.delete_docs([early])

    # inject the racing delete between the merge's tombstone read and its
    # commit (hook the stats stage, which runs mid-merge)
    b2 = IndexBuilder(spark, out, n_shards=2)
    orig = b2._stage_term_stats
    fired = {"n": 0}

    def hooked(*a, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            IndexBuilder(spark, out, n_shards=2).delete_docs([late])
        return orig(*a, **kw)

    b2._stage_term_stats = hooked
    res = b2.merge_generations(fingerprint="race-merge")
    assert res["tombstones_applied"] == 1  # only `early` was in its read
    # the racing tombstone SURVIVED the merge's cleanup...
    assert IndexBuilder(spark, out, n_shards=2).deleted_ids() == [late]
    # ...and still excludes the doc from search
    got = [d for d, _ in SearchEngine(spark, out).search(q, k=10,
                                                         mode="local")]
    assert early not in got and late not in got


def test_concurrent_append_commits_stats_of_every_gen(spark, tmp_path):
    """Writer B commits a disjoint wave while writer A's wave is in
    flight; A's retry commits the union, and the stats a reader resolves
    cover exactly the committed generations, so BM25 stays
    oracle-identical."""
    out = f"{tmp_path}/cover_idx"
    b1 = IndexBuilder(spark, out, n_shards=2)
    b1.build(pages_df(spark, 120, partitions=2), fingerprint="c0")

    b2 = IndexBuilder(spark, out, n_shards=2)
    fired = {"n": 0}
    orig = b1._stage_term_stats

    def hooked(*a, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            # concurrent writer commits a DISJOINT wave mid-flight
            b2.build_incremental(pages_df(spark, 170, partitions=2),
                                 fingerprint="c-conc")
        return orig(*a, **kw)

    b1._stage_term_stats = hooked
    m = b1.build_incremental(pages_df(spark, 230, partitions=2),
                             fingerprint="c1", occ_retries=2)
    gens = b1.committed_generations()
    assert len(gens) == 3
    # committed gen_meta and term_stats cover every committed generation
    stats = snapshot_stats(spark, out)
    for t in (stats.gen_meta, stats.term_stats):
        covered = {int(r["gen"]) for r in t.select("gen").distinct().collect()}
        assert covered == set(gens), (covered, gens)
    _assert_term_stats_exact(spark, out)
    eng = SearchEngine(spark, out)
    # and the engine ranks identically to brute force over the union
    q = make_query_set()[0]["query_text"]
    assert _norm(eng.search(q, k=10, mode="local")) == _norm(
        _oracle(spark, out).search(q, k=10)
    )


def test_empty_wave_leaves_no_orphan_dirs(spark, tmp_path):
    """A fully-deduped wave removes EVERY staged dir of its generation
    (doc_terms/doc_attrs too, not just docs)."""
    import os

    out = f"{tmp_path}/orphan_idx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 100, partitions=2), fingerprint="o0")
    # identical wave: everything dedupes away
    m = b.build_incremental(pages_df(spark, 100, partitions=2),
                            fingerprint="o1")
    assert m["postings_built"] == 0
    for t in ("docs", "doc_terms", "doc_attrs", "postings", "embeddings",
              "gen_meta", "term_stats"):
        base = f"{out}/{t}"
        gens = [d for d in (os.listdir(base) if os.path.isdir(base) else [])
                if d.startswith("gen=")]
        assert gens in ([], ["gen=0"]), (t, gens)


def test_stream_build_keeps_stored_shard_count(spark, tmp_path):
    """stream_build against an EXISTING index must use the index's stored
    n_shards, not the caller's default — re-sharding would break the
    engine's doc→shard modulus for old generations."""
    from baram_spark.streaming.ingest import stream_build

    out = f"{tmp_path}/shard_idx"
    b = IndexBuilder(spark, out, n_shards=4)
    b.build(pages_df(spark, 100, partitions=2), fingerprint="s0")

    pages_dir = f"{tmp_path}/pages"
    pages_df(spark, 160, partitions=2).write.parquet(pages_dir)
    stream_build(spark, pages_dir, out, f"{tmp_path}/ckpt", n_shards=8)
    # new generation kept the 4-shard layout
    import os

    gens = sorted(d for d in os.listdir(f"{out}/postings")
                  if d.startswith("gen="))
    assert len(gens) == 2
    newest = f"{out}/postings/{gens[-1]}"
    shards = {d for d in os.listdir(newest) if d.startswith("shard=")}
    assert shards <= {f"shard={i}" for i in range(4)}
    assert SearchEngine(spark, out).n_shards == 4


def test_tiny_wave_with_empty_shards_builds(spark, tmp_path):
    """A wave so small that some shards receive NO doc_terms rows (e.g. a
    single compact-freed url re-indexed into a 4-shard layout) must build
    cleanly — empty shards complete with zero postings instead of
    crashing the group read on a missing shard dir."""
    out = f"{tmp_path}/tiny_idx"
    b = IndexBuilder(spark, out, n_shards=4)
    b.build(pages_df(spark, 100, partitions=2), fingerprint="t0")
    # 103 pages: ~2-3 new urls -> guaranteed empty shards among 4
    m = b.build_incremental(pages_df(spark, 103, partitions=2),
                            fingerprint="t1")
    assert m["docs_out"] >= 1 and m["postings_built"] > 0, m
    assert b.committed_generations() == [0, 1]
    engine = SearchEngine(spark, out)
    q = make_query_set()[0]["query_text"]
    assert _norm(engine.search(q, k=10, mode="local")) == _norm(
        _oracle(spark, out).search(q, k=10)
    )


def test_resume_reruns_shard_whose_postings_were_deleted(spark, tmp_path):
    """A ledger 'done' postings shard whose artifact is GONE (a
    conflicting writer's gen cleanup raced the completion record past
    invalidate) must be re-run on resume, not silently skipped — the old
    behavior committed an index permanently missing that shard's
    postings."""
    import shutil

    from baram_spark.corpus import pages_df
    from baram_spark.index.builder import IndexBuilder
    from baram_spark.query.engine import SearchEngine

    out = f"{tmp_path}/idx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 120, partitions=2), fingerprint="rr")
    eng = SearchEngine(spark, out)
    q = "block43"
    before = eng.search(q, k=10)
    assert before
    # simulate the race: the artifact vanishes AFTER the ledger recorded
    # completion (doc_terms still present -> the verify must re-run it)
    shutil.rmtree(f"{out}/postings/gen=0/shard=0")
    b2 = IndexBuilder(spark, out, n_shards=2)
    b2.build(pages_df(spark, 120, partitions=2), fingerprint="rr",
             resume=True)
    assert b2.spark is spark
    import os

    assert os.path.exists(f"{out}/postings/gen=0/shard=0")
    after = SearchEngine(spark, out).search(q, k=10)
    assert after == before, "re-run shard must restore identical results"


def test_commit_pins_its_own_term_stats_version(spark, tmp_path):
    """A commit's term_stats are those of exactly the generations it
    commits — never a concurrent writer's staged generation, whose stats
    are on disk too. A stages gen 1; B then stages a wave (gen 2, with
    its own term_stats) and is held before its commit; A commits [0, 1].
    The df a reader resolves must cover {0, 1}, or idf and with it BM25
    oracle identity break."""
    import os

    out = f"{tmp_path}/pin_idx"
    a = IndexBuilder(spark, out, n_shards=2)
    a.build(pages_df(spark, 120, partitions=2), fingerprint="p0")
    b = IndexBuilder(spark, out, n_shards=2)

    class Held(Exception):
        pass

    def held_commit(*args, **kw):
        raise Held

    b._commit_manifest = held_commit
    orig = a._stage_term_stats
    staged = {}

    def hooked(*args, **kw):
        orig(*args, **kw)
        if not staged:
            with pytest.raises(Held):
                b.build_incremental(pages_df(spark, 260, partitions=2),
                                    fingerprint="p-held")
            staged["dirs"] = sorted(os.listdir(f"{out}/term_stats"))

    a._stage_term_stats = hooked
    a.build_incremental(pages_df(spark, 190, partitions=2), fingerprint="p1")
    assert a.committed_generations() == [0, 1]
    # B's staged generation wrote its stats, and no reader counts them
    assert staged["dirs"] == ["gen=0", "gen=1", "gen=2"]
    _assert_term_stats_exact(spark, out)

    # B's retry discards its staged gen (A indexed some of its urls) and
    # commits the union, over a fold of all three generations
    del b._commit_manifest
    b.build_incremental(pages_df(spark, 260, partitions=2),
                        fingerprint="p-held", occ_retries=1)
    assert len(b.committed_generations()) == 3
    _assert_term_stats_exact(spark, out)
    q = make_query_set()[0]["query_text"]
    assert _norm(SearchEngine(spark, out).search(q, k=10, mode="local")) \
        == _norm(_oracle(spark, out).search(q, k=10))


def test_commit_pins_its_own_corpus_stats(spark, tmp_path):
    """A wave's commit carries the corpus stats of exactly the
    generations it commits. Writer B stages a wave from inside A's
    _commit_manifest — after any pre-commit check A made — and is held
    before its own commit; A commits [0, 1]. The engine's corpus_stats
    must equal a direct recount over the committed docs, and BM25 the
    oracle."""
    from tests.test_serving_refresh import _pages

    out = f"{tmp_path}/race_idx"
    a = IndexBuilder(spark, out, n_shards=2)
    a.build(_pages(spark, 0, 120), fingerprint="r0")
    b = IndexBuilder(spark, out, n_shards=2)

    class Held(Exception):
        pass

    def held_commit(*args, **kw):
        raise Held

    b._commit_manifest = held_commit
    orig = a._commit_manifest

    def racing_commit(*args, **kw):
        with pytest.raises(Held):
            b.build_incremental(_pages(spark, 190, 400),
                                fingerprint="r-held")
        return orig(*args, **kw)

    a._commit_manifest = racing_commit
    a.build_incremental(_pages(spark, 120, 190), fingerprint="r1")
    assert a.committed_generations() == [0, 1]

    rows = (
        read_committed(spark, out, "doc_terms").filter(F.col("first") == 1)
        .groupBy("field").agg(F.count(F.lit(1)).alias("n"),
                              F.sum("dl").alias("dl"))
        .collect()
    )
    expect = {r["field"]: (r["n"], r["dl"] / r["n"]) for r in rows}
    assert SearchEngine(spark, out).corpus_stats == expect
    q = make_query_set()[0]["query_text"]
    assert _norm(SearchEngine(spark, out).search(q, k=10, mode="local")) \
        == _norm(_oracle(spark, out).search(q, k=10))


def test_resumed_wave_packs_with_its_recorded_avgdl(spark, tmp_path):
    """Wave A dies at _stage_postings (the test_crash_recovery kill);
    a disjoint wave B commits; A resumes and commits. A's postings must
    be the pack of its doc_terms with the avgdl_pack its gen_meta row
    records — the avgdl the query-time bound factor trusts — not with
    whatever corpus stats B left behind."""
    from tests.test_crash_recovery import _Crash, _kill_first_call
    from tests.test_plan_shape import _pack_runs
    from tests.test_serving_refresh import _pages

    out = f"{tmp_path}/resume_idx"
    IndexBuilder(spark, out, n_shards=2).build(
        _pages(spark, 0, 120), fingerprint="k0")
    a = IndexBuilder(spark, out, n_shards=2)
    _kill_first_call(a, "_stage_postings")
    with pytest.raises(_Crash):
        a.build_incremental(_pages(spark, 120, 190), fingerprint="k-a")
    b = IndexBuilder(spark, out, n_shards=2)
    assert b.build_incremental(_pages(spark, 190, 400),
                               fingerprint="k-b")["gen"] == 2
    a2 = IndexBuilder(spark, out, n_shards=2)
    assert a2.build_incremental(_pages(spark, 120, 190),
                                fingerprint="k-a")["gen"] == 1
    assert a2.committed_generations() == [0, 1, 2]

    avgdl = {r["field"]: r["avgdl_pack"] for r in
             snapshot_stats(spark, out).gen_meta
             .filter(F.col("gen") == 1).collect()}
    terms = (
        spark.read.parquet(f"{out}/doc_terms/gen=1")
        .select("shard", "field", "term", "doc_id", "tf", "dl")
        .toPandas()
        .assign(salt=0)
        .sort_values(["shard", "field", "term", "salt", "doc_id"])
    )
    want = _pack_runs(terms, avgdl, a2.codec)
    got = {
        (int(r["shard"]), r["field"], r["term"], int(r["salt"])):
            (int(r["df"]), bytes(r["postings"]), bytes(r["skips"]),
             bytes(r["blockmax"]))
        for r in spark.read.parquet(f"{out}/postings/gen=1").collect()
    }
    assert got == want
    q = make_query_set()[0]["query_text"]
    assert _norm(SearchEngine(spark, out).search(q, k=10, mode="local")) \
        == _norm(_oracle(spark, out).search(q, k=10))


def test_term_stats_fold_is_exact_and_spark_free(spark, tmp_path):
    """build -> wave -> delete + compact -> merge, and build_docs: after
    each commit the pinned term_stats equal the direct Spark aggregate
    over the committed postings, the fold starts no Spark job, and its
    ledger row and metrics record the rows it wrote."""
    from baram_spark.index.build import extract_docs
    from baram_spark.index.lineage import LineageLedger
    from tests.conftest import spark_jobs

    def counting(builder, jobs):
        orig = builder._stage_term_stats

        def stage(*args, **kw):
            with spark_jobs(spark) as started:
                orig(*args, **kw)
            jobs.append(started)

        builder._stage_term_stats = stage

    out = f"{tmp_path}/fold_idx"
    b = IndexBuilder(spark, out, n_shards=2)
    jobs: list = []
    counting(b, jobs)
    m = b.build(pages_df(spark, 150, partitions=2), fingerprint="f0")
    _assert_term_stats_exact(spark, out)
    assert m["term_stats_rows"] > 0
    ledger = LineageLedger(spark, f"{out}/lineage").read()
    row = ledger.filter(F.col("stage") == "term_stats").first()
    assert row["rows_out"] == m["term_stats_rows"]

    m = b.build_incremental(pages_df(spark, 220, partitions=2),
                            fingerprint="f1")
    _assert_term_stats_exact(spark, out)
    q = make_query_set()[0]["query_text"]
    victims = [d for d, _ in
               SearchEngine(spark, out).search(q, k=3, mode="local")]
    b.delete_docs(victims)
    assert b.compact(fingerprint="f-compact")["compacted_gens"]
    _assert_term_stats_exact(spark, out)
    b.build_incremental(pages_df(spark, 260, partitions=2),
                        fingerprint="f2")
    _assert_term_stats_exact(spark, out)
    b.merge_generations(fingerprint="f-merge")
    assert len(b.committed_generations()) == 1
    _assert_term_stats_exact(spark, out)
    assert _norm(SearchEngine(spark, out).search(q, k=10, mode="local")) \
        == _norm(_oracle(spark, out).search(q, k=10))

    out2 = f"{tmp_path}/fold_docs_idx"
    b2 = IndexBuilder(spark, out2, n_shards=2)
    counting(b2, jobs)
    b2.build_docs(extract_docs(pages_df(spark, 90, partitions=2)),
                  fingerprint="fd")
    _assert_term_stats_exact(spark, out2)
    assert len(jobs) == 6 and jobs == [[]] * 6
