"""Adversarial crash-recovery harness for the snapshot commit protocol.

Simulates a writer dying at every stage boundary of
incremental-build / compact / merge / vacuum (monkeypatched stage methods
raise mid-operation) and asserts the two invariants the manifest design
promises (builder.py commit/GC docstrings):

1. a reader opened AFTER the crash sees exactly the prior committed
   snapshot — same hits, same scores, tombstones still excluded;
2. re-running the same operation converges to the clean-run state.
"""

import shutil

import pytest

from baram_spark.corpus import make_query_set, pages_df
from baram_spark.index.builder import IndexBuilder
from baram_spark.query.bm25 import BruteForceIndex
from baram_spark.query.engine import SearchEngine
from tests.conftest import read_committed


class _Crash(RuntimeError):
    pass


def _norm(hits):
    return [(d, round(s, 9)) for d, s in hits]


def _search(spark, out, q):
    return _norm(SearchEngine(spark, out).search(q, k=10, mode="local"))


def _oracle(spark, out, q):
    docs = (
        read_committed(spark, out, "docs")
        .select("doc_id", "title", "text").toPandas()
    )
    idx = BruteForceIndex.build(
        [(int(r.doc_id), r.title, r.text) for r in docs.itertuples()]
    )
    return _norm(idx.search(q, k=10))


@pytest.fixture(scope="module")
def base_index(spark, tmp_path_factory):
    """One base build, copied per case (copytree is instant; a fresh
    build per kill point would dominate the suite)."""
    out = f"{tmp_path_factory.mktemp('crash_base')}/idx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 150, partitions=2), fingerprint="crash-base")
    return out


def _clone(base_index, tmp_path, name):
    out = f"{tmp_path}/{name}"
    shutil.copytree(base_index, out)
    return out


def _builder(spark, out):
    return IndexBuilder(spark, out, n_shards=2)


def _kill_first_call(builder, method_name):
    orig = getattr(builder, method_name)
    state = {"fired": False}

    def boom(*a, **kw):
        if not state["fired"]:
            state["fired"] = True
            raise _Crash(method_name)
        return orig(*a, **kw)

    setattr(builder, method_name, boom)


WAVE_KILLS = ["_stage_extract_tokenize", "_stage_postings",
              "_stage_term_stats", "_commit_manifest"]


@pytest.mark.parametrize("kill", WAVE_KILLS)
def test_incremental_wave_crash(spark, tmp_path, base_index, kill):
    out = _clone(base_index, tmp_path, f"wave_{kill}")
    q = make_query_set()[0]["query_text"]
    before = _search(spark, out, q)

    b = _builder(spark, out)
    _kill_first_call(b, kill)
    with pytest.raises(_Crash):
        b.build_incremental(pages_df(spark, 260, partitions=2),
                            fingerprint="wave-crash")
    # (1) reader sees the prior snapshot, bit for bit
    assert _builder(spark, out).committed_generations() == [0]
    assert _search(spark, out, q) == before

    # (2) rerun converges: two generations, rank/score == brute force
    b2 = _builder(spark, out)
    b2.build_incremental(pages_df(spark, 260, partitions=2),
                         fingerprint="wave-crash")
    assert b2.committed_generations() == [0, 1]
    assert _search(spark, out, q) == _oracle(spark, out, q)


MAINT_KILLS = ["_stage_postings", "_stage_term_stats", "_commit_manifest"]


@pytest.mark.parametrize("kill", MAINT_KILLS)
def test_compact_crash_keeps_tombstones_live(spark, tmp_path, base_index,
                                             kill):
    out = _clone(base_index, tmp_path, f"compact_{kill}")
    q = make_query_set()[0]["query_text"]
    victims = [d for d, _ in
               SearchEngine(spark, out).search(q, k=2, mode="local")]
    b = _builder(spark, out)
    b.delete_docs(victims)
    with_tombstones = _search(spark, out, q)
    assert not set(victims) & {d for d, _ in with_tombstones}

    b2 = _builder(spark, out)
    _kill_first_call(b2, kill)
    with pytest.raises(_Crash):
        b2.compact(fingerprint="compact-crash")
    # (1) old snapshot live WITH tombstones still excluding docs
    assert _search(spark, out, q) == with_tombstones
    assert _builder(spark, out).deleted_ids() == sorted(victims)

    # (2) rerun converges: tombstones gone physically and logically.
    # Scores legitimately SHIFT here — compaction recomputes df/avgdl
    # without the deleted docs (the documented Lucene deleted-docs
    # semantics) — so the bar is brute-force identity over the compacted
    # corpus, not equality with the tombstone-era scores.
    b3 = _builder(spark, out)
    res = b3.compact(fingerprint="compact-crash-2")
    assert res["tombstones"] == 2
    assert b3.deleted_ids() == []
    after = _search(spark, out, q)
    assert not set(victims) & {d for d, _ in after}
    assert after == _oracle(spark, out, q)


@pytest.mark.parametrize("kill", ["_stage_tokenize_from", "_stage_postings",
                                  "_commit_manifest"])
def test_merge_crash(spark, tmp_path, base_index, kill):
    out = _clone(base_index, tmp_path, f"merge_{kill}")
    q = make_query_set()[0]["query_text"]
    b = _builder(spark, out)
    b.build_incremental(pages_df(spark, 230, partitions=2),
                        fingerprint="merge-wave")
    before = _search(spark, out, q)

    b2 = _builder(spark, out)
    _kill_first_call(b2, kill)
    with pytest.raises(_Crash):
        b2.merge_generations(fingerprint="merge-crash")
    assert _builder(spark, out).committed_generations() == [0, 1]
    assert _search(spark, out, q) == before

    b3 = _builder(spark, out)
    b3.merge_generations(fingerprint="merge-crash-2")
    assert len(b3.committed_generations()) == 1
    assert _search(spark, out, q) == before
    assert _search(spark, out, q) == _oracle(spark, out, q)


def test_vacuum_crash_before_swap(spark, tmp_path, base_index, monkeypatch):
    """A vacuum dying between the tmp write and the rename leaves the
    manifest untouched and every committed gen dir intact."""
    out = _clone(base_index, tmp_path, "vacuum_crash")
    q = make_query_set()[0]["query_text"]
    b = _builder(spark, out)
    b.build_incremental(pages_df(spark, 230, partitions=2),
                        fingerprint="vac-wave")
    before = _search(spark, out, q)
    sid_before = b._begin()

    from baram_spark.index import fs as fsmod

    orig = fsmod.rename

    def boom(src, dst):
        if dst.endswith("_manifest.json"):
            raise _Crash("rename")
        return orig(src, dst)

    monkeypatch.setattr(fsmod, "rename", boom)
    with pytest.raises(_Crash):
        _builder(spark, out).vacuum(retain_snapshots=1)
    monkeypatch.setattr(fsmod, "rename", orig)

    b2 = _builder(spark, out)
    assert b2._begin() == sid_before  # manifest untouched
    assert b2.committed_generations() == [0, 1]
    assert _search(spark, out, q) == before
    # rerun converges
    b2.vacuum(retain_snapshots=1)
    assert b2.committed_generations() == [0, 1]
    assert _search(spark, out, q) == before


def test_crashed_first_build_never_goes_live(spark, tmp_path, monkeypatch):
    """A first build killed after shard group 0's postings leaves a
    half-written generation 0 and no manifest. A wave of another
    fingerprint commits only its own generation: readers never see
    generation 0 (it has no term_stats), and vacuum reclaims it."""
    import os

    from baram_spark.index import builder as builder_mod
    from baram_spark.index import fs
    from baram_spark.serving import ServingContext

    out = f"{tmp_path}/first_crash"
    orig = builder_mod.build_postings
    calls = []

    def second_call_dies(*a, **kw):
        calls.append(1)
        if len(calls) == 2:
            raise _Crash("build_postings")
        return orig(*a, **kw)

    b = IndexBuilder(spark, out, n_shards=2,
                     shard_concurrency=1)
    with monkeypatch.context() as m:
        m.setattr(builder_mod, "build_postings", second_call_dies)
        with pytest.raises(_Crash):
            b.build(pages_df(spark, 150, partitions=2), fingerprint="first")
    assert fs.read_manifest(out) is None
    assert os.path.isdir(f"{out}/postings/gen=0/shard=0")
    assert not os.path.exists(f"{out}/term_stats/gen=0")

    b2 = _builder(spark, out)
    assert b2.committed_generations() == []
    m = b2.build_incremental(pages_df(spark, 260, partitions=2),
                             fingerprint="wave")
    assert m["gen"] == 1
    assert b2.committed_generations() == [1]
    engine = SearchEngine(spark, out)
    for q in [q["query_text"] for q in make_query_set()[:3]]:
        exp = _oracle(spark, out, q)
        assert exp
        for mode in ("local", "distributed"):
            assert _norm(engine.search(q, k=10, mode=mode)) == exp, mode
    ctx = ServingContext(spark, out)
    assert list(ctx.engine._resident) == [1]

    assert b2.vacuum()["removed_gens"] == [0]
    assert not [t for t in os.listdir(out)
                if os.path.exists(f"{out}/{t}/gen=0")]


def test_vacuum_reports_gens_without_postings(spark, tmp_path, monkeypatch):
    """A first build killed at its first build_postings call leaves
    generation 0 in docs, doc_terms, doc_attrs and gen_meta but not in
    postings. After a wave of another fingerprint commits, vacuum
    removes generation 0 from every table and reports it."""
    import os

    from baram_spark.index import builder as builder_mod

    def dies(*a, **kw):
        raise _Crash("build_postings")

    out = f"{tmp_path}/no_postings"
    with monkeypatch.context() as m:
        m.setattr(builder_mod, "build_postings", dies)
        with pytest.raises(_Crash):
            _builder(spark, out).build(pages_df(spark, 120, partitions=2),
                                       fingerprint="first")
    assert os.path.isdir(f"{out}/docs/gen=0")
    assert not os.path.exists(f"{out}/postings/gen=0")

    b = _builder(spark, out)
    assert b.build_incremental(pages_df(spark, 180, partitions=2),
                               fingerprint="wave")["gen"] == 1
    assert b.vacuum()["removed_gens"] == [0]
    assert not [t for t in os.listdir(out)
                if os.path.exists(f"{out}/{t}/gen=0")]
    assert b.vacuum()["removed_gens"] == []
