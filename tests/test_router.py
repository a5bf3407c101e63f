"""Multi-node serving: split_index + router vs the single-node engine.

The identity contract: a 2-node split (shard-sets {0,2}/{1,3} of a
4-shard index, global stats copied verbatim) answered through the router
is rank- AND score-identical to one ServingContext over the unsplit
index — every mode, filters included (the serve.rs/OpenSearch
coordinator behavior)."""

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from baram_spark.corpus import make_query_set, pages_df
from baram_spark.index import fs
from baram_spark.index.builder import IndexBuilder
from baram_spark.index.split import split_index
from baram_spark.router import Router, make_router_server
from baram_spark.serving import (
    ServingContext,
    make_server,
    serve_forever_in_thread,
)
from tests.conftest import read_committed


@pytest.fixture(scope="module")
def topology(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("router")
    full = f"{root}/full"
    b = IndexBuilder(spark, full, n_shards=4,
                     build_embeddings=True)
    b.build(pages_df(spark, 400, partitions=4), fingerprint="router-test")

    node_dirs = [f"{root}/node0", f"{root}/node1"]
    shard_sets = split_index(spark, full, node_dirs)
    assert shard_sets == [{0, 2}, {1, 3}]

    # a tiny clusters sidecar, overlapping across nodes, to pin the
    # router's merge+dedupe (event e1 on both nodes, e2 only on node1)
    e1 = {"event_id": "e1", "article_count": 3, "category": "sports",
          "title": "shared"}
    e2 = {"event_id": "e2", "article_count": 5, "category": "economy",
          "title": "solo"}
    fs.makedirs(f"{node_dirs[0]}/clusters")
    fs.makedirs(f"{node_dirs[1]}/clusters")
    fs.write_text(f"{node_dirs[0]}/clusters/part-0.json", json.dumps(e1))
    fs.write_text(f"{node_dirs[1]}/clusters/part-0.json",
                  json.dumps(e1) + "\n" + json.dumps(e2))

    single = ServingContext(spark, full)
    nodes = []
    for d in node_dirs:
        srv = make_server(ServingContext(spark, d), port=0)
        serve_forever_in_thread(srv)
        h, p = srv.server_address[:2]
        nodes.append((srv, f"http://{h}:{p}"))
    router = Router([u for _, u in nodes])
    rsrv = make_router_server(router, port=0)
    serve_forever_in_thread(rsrv)
    h, p = rsrv.server_address[:2]
    yield {"single": single, "router_url": f"http://{h}:{p}",
           "router": router, "full": full}
    rsrv.shutdown()
    for srv, _ in nodes:
        srv.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url, timeout=60) as r:
            return r.status, json.loads(r.read().decode("utf-8"))
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode("utf-8"))


def _round_trip(obj):
    """The single-node response through the same JSON round-trip the
    router's answer took (exact for doubles; tuples→lists)."""
    return json.loads(json.dumps(obj, ensure_ascii=False))


def _assert_identical(topology, **kwargs):
    single = topology["single"]
    expected = _round_trip(single.search(**kwargs))
    qs = {"q": kwargs["q"], "mode": kwargs.get("mode", "hybrid"),
          "k": kwargs.get("k", 10)}
    for key in ("category", "publisher", "threshold", "bm25_weight"):
        if kwargs.get(key) is not None:
            qs[key] = kwargs[key]
    if kwargs.get("date_from") is not None:
        qs["date_from"] = kwargs["date_from"].strftime("%Y-%m-%d")
    if kwargs.get("date_to") is not None:
        qs["date_to"] = kwargs["date_to"].strftime("%Y-%m-%d")
    code, body = _get(
        f"{topology['router_url']}/api/search?{urllib.parse.urlencode(qs)}"
    )
    assert code == 200
    assert body == expected


@pytest.mark.parametrize("mode", ["keyword", "vector", "hybrid"])
def test_rank_score_identity_all_modes(topology, mode):
    for spec in make_query_set()[:6]:
        _assert_identical(topology, q=spec["query_text"], mode=mode, k=10)


def test_identity_with_filters(topology):
    from datetime import datetime

    meta = topology["single"].meta
    pub = next(
        m["publisher"] for m in (meta[d] for d in meta)
        if m["publisher"]
    )
    q = make_query_set()[0]["query_text"]
    _assert_identical(topology, q=q, mode="keyword", k=10,
                      category="sports")
    _assert_identical(topology, q=q, mode="hybrid", k=10,
                      category="sports")
    _assert_identical(topology, q=q, mode="vector", k=10, publisher=pub)
    _assert_identical(topology, q=q, mode="keyword", k=10,
                      date_from=datetime(2024, 12, 5),
                      date_to=datetime(2024, 12, 15))
    _assert_identical(topology, q=q, mode="hybrid", k=10,
                      category="sports",
                      date_from=datetime(2024, 12, 1),
                      date_to=datetime(2024, 12, 20))


def test_identity_with_threshold_and_weight(topology):
    q = make_query_set()[1]["query_text"]
    _assert_identical(topology, q=q, mode="keyword", k=10, threshold=1.0)
    _assert_identical(topology, q=q, mode="hybrid", k=10, threshold=0.2)
    _assert_identical(topology, q=q, mode="hybrid", k=10, bm25_weight=0.7)


def test_health_aggregates(topology):
    code, body = _get(f"{topology['router_url']}/api/health")
    assert code == 200
    assert body["status"] == "ok" and body["nodes"] == 2
    assert body["document_count"] == len(topology["single"].meta)


def test_events_merge_dedupe(topology):
    code, body = _get(f"{topology['router_url']}/api/events")
    assert code == 200
    assert body["total"] == 2
    # canonical order: article_count desc, event_id asc — e2 (5) first,
    # and the shared e1 appears ONCE
    assert [e["event_id"] for e in body["events"]] == ["e2", "e1"]
    code, ev = _get(f"{topology['router_url']}/api/events/e2")
    assert code == 200 and ev["title"] == "solo"
    code, _ = _get(f"{topology['router_url']}/api/events/nope")
    assert code == 404


def test_refresh_fans_out(topology):
    req = urllib.request.Request(
        f"{topology['router_url']}/api/refresh", method="POST")
    with urllib.request.urlopen(req, timeout=60) as r:
        body = json.loads(r.read().decode("utf-8"))
    assert body["refreshed"] is True
    assert body["document_count"] == len(topology["single"].meta)


def test_bad_requests(topology):
    code, _ = _get(f"{topology['router_url']}/api/search?q=")
    assert code == 400
    code, _ = _get(f"{topology['router_url']}/api/search?q=x&mode=bogus")
    assert code == 400


def test_split_rejects_bad_assignments(spark, topology):
    with pytest.raises(ValueError, match="unassigned"):
        split_index(spark, topology["full"], ["/tmp/x0"],
                    shard_sets=[{0, 1}])
    with pytest.raises(ValueError, match="twice"):
        split_index(spark, topology["full"], ["/tmp/x0", "/tmp/x1"],
                    shard_sets=[{0, 1, 2}, {2, 3}])
    # an empty shard set is rejected BEFORE any node dir materializes —
    # both the explicit form and the implicit one (more node dirs than
    # shards under the default round-robin)
    with pytest.raises(ValueError, match="empty shard set"):
        split_index(spark, topology["full"], ["/tmp/x0", "/tmp/x1"],
                    shard_sets=[{0, 1, 2, 3}, set()])
    with pytest.raises(ValueError, match="empty shard set"):
        split_index(spark, topology["full"],
                    [f"/tmp/x{i}" for i in range(5)])  # 4-shard index
    import os

    assert not any(os.path.exists(f"/tmp/x{i}") for i in range(5))


def test_ivf_activation_is_topology_consistent(spark, topology):
    """A corpus straddling ivf_threshold (global count above, per-node
    local counts below) must flip BOTH topologies to IVF together: the
    split descriptor carries the global committed embedding count and
    _Snapshot keys activation off it (router.py identity contract)."""
    root = topology["full"].rsplit("/", 1)[0]
    desc = json.loads(fs.read_text(f"{root}/node0/_shard_set.json"))
    n_global = desc["n_embeddings"]
    single = ServingContext(spark, topology["full"],
                            ivf_threshold=n_global)
    assert single._snap.ivf is not None  # unsplit: local == global count
    for node in ("node0", "node1"):
        ctx = ServingContext(spark, f"{root}/{node}",
                             ivf_threshold=n_global)
        # node-local matrix is ~half the corpus — WITHOUT the descriptor
        # this would stay exact while the unsplit engine went approximate
        assert ctx._snap.emb_ids.size < n_global
        assert ctx._snap.ivf is not None
    # and below-threshold stays exact everywhere (the fixture default)
    assert topology["single"]._snap.ivf is None


def test_router_events_pagination_not_truncated():
    """A node holding >200 clusters (the node page cap) must contribute
    ALL of them to the router merge, not just its first page."""
    events = [
        {"event_id": f"e{i:04d}", "article_count": 1000 - i,
         "category": "sports", "title": f"ev {i}"}
        for i in range(250)
    ]

    router = Router(["http://fake-node"])

    def fake_call(node, path, method="GET"):
        qs = urllib.parse.parse_qs(urllib.parse.urlparse(path).query)
        offset = int(qs.get("offset", ["0"])[0])
        limit = min(int(qs.get("limit", ["20"])[0]), 200)
        return {"total": len(events), "offset": offset, "limit": limit,
                "events": events[offset:offset + limit]}

    router._call = fake_call
    body = router.list_events(limit=20, offset=0)
    assert body["total"] == 250
    tail = router.list_events(limit=200, offset=200)
    assert [e["event_id"] for e in tail["events"]] == [
        f"e{i:04d}" for i in range(200, 250)
    ]


def test_router_propagates_client_errors_as_4xx(topology):
    """A node's 400 for a malformed client param must surface from the
    router as a 400 (not a 502 'gateway failure'), and the body must not
    leak internal node addresses."""
    code, body = _get(
        f"{topology['router_url']}/api/search"
        "?q=x&mode=keyword&date_from=not-a-date")
    assert code == 400, body
    assert "http://" not in json.dumps(body)


def test_router_event_id_needing_encoding(topology):
    """A percent-encoded event id must round-trip router -> node: the
    node unquotes its path segment and the router quotes exactly once."""
    import urllib.parse as up

    # unknown-but-encodable id: must be a clean 404 on both tiers (the
    # old double-quote turned every encoded id into a guaranteed 404 on
    # EXISTING ids; here we pin the decode path end-to-end)
    weird = "econ update/한글"
    code, _ = _get(
        f"{topology['router_url']}/api/events/{up.quote(weird, safe='')}")
    assert code == 404
    # direct node probe through the router's registry
    node0 = topology["router"].nodes[0]
    code, _ = _get(f"{node0}/api/events/{up.quote(weird, safe='')}")
    assert code == 404


def test_split_guards(spark, topology, tmp_path):
    """Split safety rails: refuse splitting a split node, refuse
    populated node dirs, refuse out-of-range shard ids, and survive a
    concurrent-commit-proof single manifest snapshot."""
    full = topology["full"]
    root = str(tmp_path)
    # out-of-range shard id (typo 7 for 3)
    with pytest.raises(ValueError, match="out of range"):
        split_index(spark, full, [f"{root}/x0", f"{root}/x1"],
                    shard_sets=[{0, 1}, {2, 3, 7}])
    # populated node dir
    import os

    os.makedirs(f"{root}/dirty/postings", exist_ok=True)
    with pytest.raises(ValueError, match="not empty"):
        split_index(spark, full, [f"{root}/dirty", f"{root}/y1"])
    # split of a split node
    sets = split_index(spark, full, [f"{root}/n0", f"{root}/n1"])
    assert sets
    with pytest.raises(ValueError, match="split the ORIGINAL"):
        split_index(spark, f"{root}/n0", [f"{root}/z0"])


def test_split_counts_only_committed_embeddings(spark, tmp_path):
    """An index compacted to empty commits no generation but retains the
    superseded generation 0 for pinned readers: its split descriptors
    count 0 committed embeddings, not the retained generation's rows."""
    import os

    out = f"{tmp_path}/emptied"
    b = IndexBuilder(spark, out, n_shards=2,
                     build_embeddings=True)
    b.build(pages_df(spark, 60, partitions=2), fingerprint="e0")
    b.delete_docs([int(r["doc_id"]) for r in
                   read_committed(spark, out, "docs").collect()])
    b.compact()
    assert b.committed_generations() == []
    assert os.path.isdir(f"{out}/embeddings/gen=0")

    nodes = [f"{tmp_path}/n0", f"{tmp_path}/n1"]
    split_index(spark, out, nodes)
    for nd in nodes:
        desc = json.loads(fs.read_text(f"{nd}/_shard_set.json"))
        assert desc["n_embeddings"] == 0, desc
