"""Generation-incremental serving refresh: a refreshed ServingContext keeps
the postings generations it already holds, loads only new ones, and
answers exactly like a freshly opened context — with zero Spark jobs."""

from pyspark.sql import functions as F

from baram_spark.corpus import make_query_set, pages_df
from baram_spark.index import fs
from baram_spark.index.builder import IndexBuilder
from baram_spark.query.engine import SearchEngine
from baram_spark.serving import ServingContext
from tests.conftest import read_committed, spark_jobs


def _pages(spark, lo: int, hi: int):
    """Corpus pages [lo, hi): the article id is the url's last segment."""
    return pages_df(spark, hi, partitions=2).where(
        F.substring_index("url", "/", -1).cast("long") >= lo)


def _answers(ctx) -> list:
    """BM25, filtered and hybrid results (doc ids and scores) for a fixed
    query set — everything a refresh could get wrong."""
    out = []
    for q in make_query_set()[:8]:
        text = q["query_text"]
        for kw in ({"mode": "bm25"}, {"mode": "bm25", "category": "sports"},
                   {"mode": "hybrid"},
                   {"mode": "hybrid", "date_from": "2024-01-10"}):
            res = ctx.search(text, k=10, **kw)
            out.append((text, tuple(sorted(kw.items())),
                        [(r["doc_id"], r["score"]) for r in res["results"]]))
    return out


def _committed(out: str) -> list[int]:
    return sorted(fs.read_manifest(out)["generations"])


def test_refresh_matches_fresh_open_through_index_lifecycle(spark, tmp_path):
    """After a wave, a delete, compact() and merge_generations(), the
    refreshed context answers identically (ids and scores) to a context
    opened fresh on the same snapshot; unchanged generations are shared
    by identity, retired ones leave the resident state, and neither the
    refresh nor a preloaded open starts a Spark job."""
    out = f"{tmp_path}/idx"
    b = IndexBuilder(spark, out, n_shards=2,
                     build_embeddings=True)
    b.build(_pages(spark, 0, 120), fingerprint="base")
    ctx = ServingContext(spark, out)

    def wave():
        m = b.build_incremental(_pages(spark, 120, 170), fingerprint="w1")
        assert m["gen"] == 1

    def delete():
        wave1 = spark.read.parquet(f"{out}/docs/gen=1").select("doc_id")
        b.delete_docs([int(r["doc_id"]) for r in wave1.limit(5).collect()])

    steps = [("wave", wave), ("delete", delete), ("compact", b.compact),
             ("merge", b.merge_generations)]
    for name, step in steps:
        held = dict(ctx.engine._resident)
        held_cols = {g: gp.cols for g, gp in held.items()}
        step()
        with spark_jobs(spark) as jobs:
            ctx.refresh()
        assert jobs == [], f"{name}: refresh started Spark jobs {jobs}"
        gens = _committed(out)
        resident = ctx.engine._resident
        assert sorted(resident) == gens, name
        shared = {g for g in set(held) & set(gens)
                  if held[g].files == resident[g].files}
        if name == "wave":
            assert shared == {0}  # the wave left generation 0 untouched
        for g in shared:
            # a generation whose part files did not change is shared,
            # decoded arrays and df and all: nothing is read again
            assert resident[g] is held[g], (name, g)
            assert resident[g].cols is held_cols[g], (name, g)
            assert all(a is b for a, b in zip(resident[g].cols,
                                              held_cols[g])), (name, g)
        with spark_jobs(spark) as jobs:
            fresh = ServingContext(spark, out)
        assert jobs == [], f"{name}: preloaded open started {jobs}"
        assert _answers(ctx) == _answers(fresh), name
        assert ({g: gp.df for g, gp in resident.items()}
                == {g: gp.df for g, gp in fresh.engine._resident.items()}), name
        assert ctx.engine.corpus_stats == fresh.engine.corpus_stats, name
        assert ctx.engine._bound_factor == fresh.engine._bound_factor, name
        assert (ctx.engine._denied is None) == (fresh.engine._denied is None)
        assert sorted(ctx.meta) == sorted(fresh.meta), name
    # the wave added generation 1 beside 0; delete + compact rewrote the
    # tombstoned generation, and the merge folded all into one
    assert len(_committed(out)) == 1 and _committed(out)[0] >= 3


def test_refresh_after_gen_number_reuse_drops_stale_blobs(spark, tmp_path):
    """compact-to-empty + vacuum lets the next build take generation 0
    again. A context opened before must not keep serving the old
    generation-0 postings after refresh: reuse is keyed on the part-file
    listing, not on the generation number."""
    out = f"{tmp_path}/idx"
    b = IndexBuilder(spark, out, n_shards=2,
                     build_embeddings=True)
    b.build(_pages(spark, 0, 60), fingerprint="old")
    ctx = ServingContext(spark, out)
    old_gen0 = ctx.engine._resident[0]

    ids = [int(r["doc_id"]) for r in
           read_committed(spark, out, "docs").select("doc_id").collect()]
    b.delete_docs(ids)
    assert b.compact()["new_gens"] == []
    b.vacuum(retain_snapshots=1)
    assert not fs.exists(f"{out}/postings/gen=0")
    m = b.build_incremental(_pages(spark, 60, 120), fingerprint="new")
    assert m["gen"] == 0  # the number is handed out again

    ctx.refresh()
    new_gen0 = ctx.engine._resident[0]
    assert new_gen0 is not old_gen0 and new_gen0.files != old_gen0.files
    fresh = ServingContext(spark, out)
    assert _answers(ctx) == _answers(fresh)
    assert any(hits for *_, hits in _answers(ctx))
    served = {d for *_, hits in _answers(ctx) for d, _ in hits}
    assert served and not served & set(ids)


def test_queries_racing_refreshes_see_whole_snapshots(spark, tmp_path):
    """Snapshots share resident generations, so nothing a refresh builds
    may write into the lists a running query reads: query threads (more
    than cores) racing repeated refreshes of an unchanged index always get
    the answers of a fresh open."""
    import sys
    import threading

    out = f"{tmp_path}/idx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(_pages(spark, 0, 80), fingerprint="r")
    b.build_incremental(_pages(spark, 80, 120), fingerprint="r1")
    ctx = ServingContext(spark, out)
    queries = [q["query_text"] for q in make_query_set()[:6]]
    want = {q: ctx.search(q, mode="bm25", k=10) for q in queries}
    stop = threading.Event()
    bad: list = []

    def client():
        while not stop.is_set():
            for q in queries:
                got = ctx.search(q, mode="bm25", k=10)
                if got != want[q]:
                    bad.append(q)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=client) for _ in range(6)]
    try:
        for t in threads:
            t.start()
        for _ in range(5):
            ctx.refresh()
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert bad == []
    # each (field, term) has one decoded list per (shard, generation)
    for gp in ctx.engine._resident.values():
        assert all(len(v) == len({shard for shard, _ in v})
                   for v in gp.lists.values())


def test_preloaded_engine_open_starts_no_spark_job(spark, tmp_path):
    out = f"{tmp_path}/idx"
    IndexBuilder(spark, out, n_shards=2).build(
        _pages(spark, 0, 60), fingerprint="p")
    q = make_query_set()[0]["query_text"]
    with spark_jobs(spark) as jobs:
        eng = SearchEngine(spark, out, preload=True)
        eng.refresh()
        hits = eng.search(q, k=5, mode="local")
    assert jobs == []
    lazy = SearchEngine(spark, out)
    assert hits and hits == lazy.search(q, k=5, mode="distributed")
    # an engine opened without preload loads the resident generations at
    # its first local query, and a refresh shares them
    assert lazy._resident is None
    with spark_jobs(spark) as jobs:
        assert lazy.search(q, k=5, mode="local") == hits
        held = lazy._resident[0]
        lazy.refresh()
        assert lazy._resident is None
        assert lazy.search(q, k=5, mode="local") == hits
    assert jobs == []
    assert lazy._resident[0] is held
