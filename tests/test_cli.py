"""CLI smoke tests — every `python -m baram_spark` subcommand runs against
a tiny real index.

The round-2 review found a shipped NameError in `stats` precisely because
no test invoked the CLI surface; this file closes that class of bug for
good (index / search / search --hybrid / stats / cluster / serve --check).
"""

import json
import os

import pytest

from baram_spark.__main__ import main
from baram_spark.corpus import make_query_set, pages_df
from tests.conftest import read_committed

N_DOCS = 150


@pytest.fixture(scope="module")
def cli_index(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    pages_path = f"{d}/pages"
    pages_df(spark, N_DOCS, partitions=4).write.parquet(pages_path)
    out = f"{d}/idx"
    rc = main(
        ["index", "--pages", pages_path, "--out", out, "--shards", "2",
         "--embeddings", "--fingerprint", f"cli-{N_DOCS}"],
        spark=spark,
    )
    assert rc == 0
    return out


def _run(capsys, spark, argv) -> dict:
    assert main(argv, spark=spark) == 0
    lines = [ln for ln in capsys.readouterr().out.strip().splitlines() if ln]
    return json.loads(lines[-1])


def test_cli_index_emits_metrics(cli_index):
    import os

    assert os.path.exists(f"{cli_index}/_manifest.json")
    assert os.path.exists(f"{cli_index}/postings")
    assert os.path.exists(f"{cli_index}/embeddings")


def test_cli_search(capsys, spark, cli_index):
    q = make_query_set()[0]["query_text"]
    out = _run(capsys, spark, ["search", "--index", cli_index,
                               "--query", q, "--k", "5"])
    assert out["query"] == q
    assert 1 <= len(out["hits"]) <= 5
    assert all("doc_id" in h and "score" in h for h in out["hits"])


def test_cli_search_hybrid(capsys, spark, cli_index):
    q = make_query_set()[0]["query_text"]
    out = _run(capsys, spark, ["search", "--index", cli_index,
                               "--query", q, "--k", "5", "--hybrid"])
    assert out["hits"]


def test_cli_hybrid_embeds_only_committed_docs(capsys, spark, tmp_path):
    """`search --hybrid` on an index built without embeddings embeds the
    committed docs: a doc tombstoned and compacted away stays out of the
    knn side of the fusion, though its superseded generation is still
    retained on disk."""
    from baram_spark.index.builder import IndexBuilder
    from baram_spark.query.engine import SearchEngine
    from baram_spark.query.hybrid import embed_docs, knn_search

    out = f"{tmp_path}/noemb"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 80, partitions=2), fingerprint="h0")
    q = make_query_set()[0]["query_text"]
    # the knn side's best doc, which the query also matches
    (victim, _), = knn_search(embed_docs(read_committed(spark, out, "docs")),
                              q, k=1)
    assert victim in {d for d, _ in SearchEngine(spark, out).search(q, k=100)}
    argv = ["search", "--index", out, "--query", q, "--k", "5", "--hybrid"]
    assert victim in {h["doc_id"] for h in _run(capsys, spark, argv)["hits"]}

    b.delete_docs([victim])
    assert b.compact()["compacted_gens"] == [0]
    assert os.path.isdir(f"{out}/docs/gen=0")
    hits = _run(capsys, spark, argv)["hits"]
    assert hits and victim not in {h["doc_id"] for h in hits}


def test_cli_stats(capsys, spark, cli_index):
    # the generator plants deleted-page fixtures that extraction drops,
    # so compare against the docs table, not the raw page count
    n_docs = read_committed(spark, cli_index, "docs").count()
    out = _run(capsys, spark, ["stats", "--index", cli_index])
    assert out["documents"] == n_docs
    assert out["posting_lists"] > 0
    assert out["postings"] > 0
    assert out["terms"] > 0
    assert out["generations"] == [0]


def test_cli_stats_terms_follow_the_manifest(capsys, spark, tmp_path):
    """`stats` counts terms as the distinct (field, term) pairs of the
    committed generations — not of a staged, uncommitted wave whose
    term_stats are already on disk."""
    from baram_spark.index.builder import IndexBuilder

    out = f"{tmp_path}/statsidx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 60, partitions=2), fingerprint="t0")
    b.build_incremental(pages_df(spark, 100, partitions=2),
                        fingerprint="t1")

    class Held(Exception):
        pass

    def held(*a, **kw):
        raise Held

    staged = IndexBuilder(spark, out, n_shards=2)
    staged._commit_manifest = held
    with pytest.raises(Held):
        staged.build_incremental(pages_df(spark, 300, partitions=2),
                                 fingerprint="t2")
    assert os.path.isdir(f"{out}/term_stats/gen=2")

    rep = _run(capsys, spark, ["stats", "--index", out])
    assert rep["generations"] == [0, 1]
    post = read_committed(spark, out, "postings")
    assert rep["terms"] == post.select("field", "term").distinct().count()
    # a term in both generations counts once
    assert rep["terms"] < read_committed(spark, out, "term_stats").count()


def test_cli_cluster(capsys, spark, cli_index):
    out = _run(capsys, spark, ["cluster", "--index", cli_index,
                               "--threshold", "0.5", "--min-size", "2"])
    assert "clusters" in out


def test_cli_serve_check(capsys, spark, cli_index):
    n_docs = spark.read.parquet(f"{cli_index}/docs").count()
    out = _run(capsys, spark, ["serve", "--index", cli_index,
                               "--port", "0", "--check"])
    assert out["status"] == "ok"
    assert out["document_count"] == n_docs


def test_cli_maintenance(capsys, spark, cli_index):
    """maintenance = merge gens+tombstones -> vacuum -> recluster ->
    POST /api/refresh on a live node. Drives a second build wave plus a
    deletion, then asserts the node re-opened on the single merged
    generation with the deleted doc gone."""
    from baram_spark.index.builder import IndexBuilder
    from baram_spark.serving import (
        ServingContext,
        make_server,
        serve_forever_in_thread,
    )

    b = IndexBuilder(spark, cli_index, n_shards=2,
                     build_embeddings=True)
    b.build_incremental(pages_df(spark, 190, partitions=4),
                        fingerprint="cli-wave2")
    victim = spark.read.parquet(f"{cli_index}/docs").select(
        "oid", "aid").first()
    assert b.delete_by_query(
        f"oid = '{victim['oid']}' AND aid = '{victim['aid']}'") == 1

    ctx = ServingContext(spark, cli_index)
    srv = make_server(ctx, port=0)
    serve_forever_in_thread(srv)
    host, port = srv.server_address[:2]
    try:
        out = _run(capsys, spark, [
            "maintenance", "--index", cli_index, "--threshold", "0.5",
            "--notify", f"http://{host}:{port}",
        ])
        assert out["merge"]["docs"] is not None
        assert "cluster" in out and out["cluster"].get("clusters", 0) >= 0
        assert out["refresh"]["refreshed"]
        # node re-opened on the merged snapshot: one generation, no victim
        eng = ctx.engine
        assert len(eng._committed) == 1
        meta = ctx.meta
        assert all(
            not (m["oid"] == victim["oid"] and m["aid"] == victim["aid"])
            for m in meta.values()
        )
    finally:
        srv.shutdown()


def test_cli_maintenance_preserves_shard_count(capsys, spark, tmp_path):
    """maintenance must open the index with ITS OWN shard count (from
    index_meta) — merging with the default 8 would silently re-shard the
    postings under the engine's filter-cogroup math."""
    from baram_spark.index.builder import IndexBuilder, index_n_shards
    from baram_spark.query.engine import SearchEngine

    out = f"{tmp_path}/shardidx"
    b = IndexBuilder(spark, out, n_shards=4,
                     build_embeddings=True)
    b.build(pages_df(spark, 120, partitions=2), fingerprint="s1")
    b.build_incremental(pages_df(spark, 160, partitions=2),
                        fingerprint="s2")
    rep = _run(capsys, spark, ["maintenance", "--index", out,
                               "--skip-cluster"])
    assert rep["n_shards"] == 4
    assert index_n_shards(out) == 4
    shards = {
        int(r["shard"])
        for r in spark.read.parquet(f"{out}/postings")
        .select("shard").distinct().collect()
    }
    assert shards <= {0, 1, 2, 3}
    # filtered search still cogroups correctly post-merge
    eng = SearchEngine(spark, out)
    q = make_query_set()[0]["query_text"]
    local = eng.search(q, k=5, mode="local", category="sports")
    dist = eng.search(q, k=5, mode="distributed", category="sports")
    assert local == dist


def test_index_n_shards_reads_the_committed_manifest(spark, tmp_path):
    """index_n_shards answers with the committed manifest's n_shards:
    every build overwrites index_meta at its start, so a build that has
    not committed (or crashed) must not re-shard a maintenance run.
    index_meta counts only before the first commit, the default only on
    an empty dir, and an unreadable index_meta raises."""
    import pytest

    from baram_spark.index.builder import IndexBuilder, index_n_shards

    out = f"{tmp_path}/committed"
    IndexBuilder(spark, out, n_shards=4).build(
        pages_df(spark, 60, partitions=2), fingerprint="n4")
    assert index_n_shards(out) == 4
    # an uncommitted 8-shard build has started over the same dir
    IndexBuilder(spark, out, n_shards=8)._write_index_meta()
    assert index_n_shards(out) == 4

    fresh = f"{tmp_path}/uncommitted"
    IndexBuilder(spark, fresh, n_shards=3)._write_index_meta()
    assert index_n_shards(fresh) == 3
    assert index_n_shards(f"{tmp_path}/empty") == 8
    assert index_n_shards(f"{tmp_path}/empty", 5) == 5

    bad = f"{tmp_path}/bad/index_meta"
    os.makedirs(bad)
    with open(f"{bad}/part-0.parquet", "wb") as f:
        f.write(b"not parquet")
    with pytest.raises(Exception):
        index_n_shards(f"{tmp_path}/bad")


def test_cli_maintenance_notify_failure_keeps_report(capsys, spark,
                                                     tmp_path):
    """An unreachable serving node must not throw away the report of the
    maintenance work that already completed."""
    from baram_spark.index.builder import IndexBuilder

    out = f"{tmp_path}/notifyidx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 100, partitions=2), fingerprint="n1")
    rep = _run(capsys, spark, [
        "maintenance", "--index", out, "--skip-cluster",
        "--notify", "http://127.0.0.1:9",  # discard port: refused
    ])
    assert "error" in rep["refresh"]
    assert "merge" in rep and "vacuum" in rep


def test_cli_hybrid_respects_filters(capsys, spark, cli_index):
    """--hybrid fuses bm25 with knn; the filter context must constrain
    BOTH inputs — an out-of-filter doc must not enter via the knn side."""
    q = make_query_set()[0]["query_text"]
    pub = "바람일보"
    out = _run(capsys, spark, [
        "search", "--index", cli_index, "--query", q, "--k", "5",
        "--hybrid", "--publisher", pub,
    ])
    assert out["hits"]
    ids = [h["doc_id"] for h in out["hits"]]
    pubs = {
        r["doc_id"]: r["publisher"]
        for r in spark.read.parquet(f"{cli_index}/docs")
        .select("doc_id", "publisher").collect()
    }
    assert all(pubs[d] == pub for d in ids), [(d, pubs[d]) for d in ids]


def test_cli_index_codec_flag(capsys, spark, tmp_path):
    """`index --codec pfor` builds a PFOR-packed index that searches
    identically through the CLI (codec is a physical choice only)."""
    pages_path = f"{tmp_path}/pages"
    pages_df(spark, 80, partitions=2).write.parquet(pages_path)
    out = f"{tmp_path}/idx_pfor"
    rc = main(
        ["index", "--pages", pages_path, "--out", out, "--shards", "2",
         "--codec", "pfor", "--fingerprint", "cli-pfor"],
        spark=spark,
    )
    assert rc == 0
    # every postings blob is stamped with the PFOR codec id
    import pyarrow.dataset as ds

    from baram_spark.index.codec import CODEC_PFOR

    blobs = ds.dataset(f"{out}/postings", partitioning="hive").to_table(
        columns=["postings"]
    )["postings"]
    assert len(blobs) > 0
    assert all(bytes(b.as_py())[0] == CODEC_PFOR for b in blobs)
    q = make_query_set()[0]["query_text"]
    res = _run(capsys, spark, ["search", "--index", out, "--query", q,
                               "--k", "5"])
    assert res["hits"]
