"""REST serving tier: /api/search + /api/health against a live server
(the ``baram serve`` analog, serve.rs:311-470)."""

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from baram_spark.corpus import make_query_set, pages_df
from baram_spark.index.builder import IndexBuilder
from baram_spark.query.engine import SearchEngine
from baram_spark.serving import ServingContext, make_server, serve_forever_in_thread


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    out = f"{tmp_path_factory.mktemp('serve')}/idx"
    b = IndexBuilder(spark, out, n_shards=2,
                     build_embeddings=True)
    b.build(pages_df(spark, 300, partitions=4), fingerprint="serve-test")
    ctx = ServingContext(spark, out)
    srv = make_server(ctx, port=0)
    serve_forever_in_thread(srv)
    host, port = srv.server_address[:2]
    yield f"http://{host}:{port}", out
    srv.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url, timeout=30) as r:
            return r.status, json.loads(r.read().decode("utf-8"))
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode("utf-8"))


def test_health(server):
    base, _ = server
    code, body = _get(f"{base}/api/health")
    assert code == 200
    assert body["status"] == "ok" and body["document_count"] > 0


def test_bm25_mode_matches_engine(spark, server):
    base, out = server
    q = make_query_set()[0]["query_text"]
    code, body = _get(
        f"{base}/api/search?q={urllib.parse.quote(q)}&mode=bm25&k=5"
    )
    assert code == 200
    assert body["mode"] == "bm25" and body["total"] == 5
    engine = SearchEngine(spark, out)
    expected = engine.search(q, k=5, mode="local")
    got_scores = [round(r["score"], 9) for r in body["results"]]
    assert got_scores == [round(s, 9) for _, s in expected]
    r0 = body["results"][0]
    # reference SearchResult shape
    assert set(r0) == {"id", "doc_id", "score", "title", "content",
                       "category", "publisher", "url", "published_at",
                       "highlights"}
    assert "_" in r0["id"] and len(r0["content"]) <= 500


def test_knn_and_hybrid_modes(server):
    base, _ = server
    q = make_query_set()[0]["query_text"]
    code, knn = _get(f"{base}/api/search?q={urllib.parse.quote(q)}&mode=knn&k=5")
    assert code == 200 and knn["total"] == 5
    code, hyb = _get(f"{base}/api/search?q={urllib.parse.quote(q)}&k=5")
    assert code == 200 and hyb["mode"] == "hybrid" and hyb["total"] == 5
    # hybrid fuses: its top score is the weighted min-max fusion, ≤ 1.0
    assert 0.0 < hyb["results"][0]["score"] <= 1.0


def test_category_filter_returns_k_in_category(server):
    base, _ = server
    q = make_query_set()[0]["query_text"]
    code, body = _get(
        f"{base}/api/search?q={urllib.parse.quote(q)}&mode=bm25&k=5"
        f"&category=sports"
    )
    assert code == 200
    assert body["results"], "sports docs must match in 300-doc corpus"
    assert all(r["category"] == "sports" for r in body["results"])


def test_date_filter(server):
    base, _ = server
    q = make_query_set()[0]["query_text"]
    code, body = _get(
        f"{base}/api/search?q={urllib.parse.quote(q)}&mode=bm25&k=5"
        f"&date_from=2024-12-05&date_to=2024-12-15"
    )
    assert code == 200
    for r in body["results"]:
        assert r["published_at"] is not None
        assert "2024-12-05" <= r["published_at"][:10] <= "2024-12-15"


def test_refresh_picks_up_new_generation(spark, server):
    """POST-build docs become searchable after /api/refresh (the
    OpenSearch _refresh analog) without restarting the node."""
    base, out = server
    code, before = _get(f"{base}/api/health")
    n_before = before["document_count"]
    b = IndexBuilder(spark, out, n_shards=2,
                     build_embeddings=True)
    b.build_incremental(pages_df(spark, 380, partitions=4),
                        fingerprint="serve-wave2")
    # not visible yet (snapshot pinned at node start)
    code, mid = _get(f"{base}/api/health")
    assert mid["document_count"] == n_before
    code, r = _get(f"{base}/api/refresh")
    assert code == 200 and r["refreshed"]
    assert r["document_count"] > n_before
    q = make_query_set()[0]["query_text"]
    code, body = _get(
        f"{base}/api/search?q={urllib.parse.quote(q)}&mode=bm25&k=5"
    )
    assert code == 200 and body["total"] == 5


def test_error_paths(server):
    base, _ = server
    code, body = _get(f"{base}/api/search?q=")
    assert code == 400 and body["code"] == 400
    code, body = _get(f"{base}/api/search?q=x&mode=nope")
    assert code == 400
    code, body = _get(f"{base}/api/search?q=x&date_from=garbage")
    assert code == 400 and "date" in body["error"]
    code, body = _get(f"{base}/nope")
    assert code == 404


def _post(url):
    req = urllib.request.Request(url, method="POST", data=b"")
    try:
        with urllib.request.urlopen(req, timeout=30) as r:
            return r.status, json.loads(r.read().decode("utf-8"))
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode("utf-8"))


def test_refresh_via_post_and_compaction_drops_vectors(spark, server):
    """POST /api/refresh works (the canonical verb); after delete+compact a
    refreshed node drops the doc's metadata AND its embedding vector, so
    knn/hybrid can't waste slots on it (r2 advice: compaction must retire
    embedding generations with their doc generations)."""
    base, out = server
    q = make_query_set()[1]["query_text"]
    code, body = _get(
        f"{base}/api/search?q={urllib.parse.quote(q)}&mode=knn&k=5"
    )
    assert code == 200 and body["total"] > 0
    victim = body["results"][0]["id"]
    oid, aid = victim.split("_")

    b = IndexBuilder(spark, out, n_shards=2,
                     build_embeddings=True)
    n = b.delete_by_query(f"oid = '{oid}' AND aid = '{aid}'")
    assert n == 1
    b.compact()

    code, r = _post(f"{base}/api/refresh")
    assert code == 200 and r["refreshed"]
    code, after = _get(
        f"{base}/api/search?q={urllib.parse.quote(q)}&mode=knn&k=5"
    )
    assert code == 200
    assert all(res["id"] != victim for res in after["results"])
    # full k results — the deleted vector freed its slot instead of being
    # silently dropped at meta lookup
    assert after["total"] == 5
    code, nf = _post(f"{base}/api/nope")
    assert code == 404


def test_events_endpoint(spark, server):
    """GET /api/events (serve.rs:570-627 analog): empty-state message,
    category filter, offset/limit pagination (cap 200), and the
    /api/events/<id> detail + 404 paths."""
    base, out = server
    code, body = _get(f"{base}/api/events")
    if body.get("total", 0) == 0:
        assert "message" in body  # no clusters generated yet

    from baram_spark.__main__ import main
    assert main(["cluster", "--index", out, "--threshold", "0.3"],
                spark=spark) == 0
    code, r = _post(f"{base}/api/refresh")
    assert code == 200

    code, body = _get(f"{base}/api/events?limit=2")
    assert code == 200
    assert body["total"] >= 1
    assert len(body["events"]) <= 2
    ev = body["events"][0]
    assert set(ev) >= {"event_id", "title", "category", "article_count",
                       "first_seen", "last_seen", "articles"}
    assert ev["article_count"] == len(ev["articles"])
    # size-desc ordering
    counts = [e["article_count"] for e in body["events"]]
    assert counts == sorted(counts, reverse=True)

    # pagination walks without overlap
    code, p0 = _get(f"{base}/api/events?limit=1&offset=0")
    code, p1 = _get(f"{base}/api/events?limit=1&offset=1")
    if p0["events"] and p1["events"]:
        assert p0["events"][0]["event_id"] != p1["events"][0]["event_id"]

    # category filter returns only that category (pick a NON-empty one —
    # an empty query value parses as "no filter", and most synthetic pages
    # carry no category breadcrumb)
    code, allb = _get(f"{base}/api/events?limit=200")
    named = [e for e in allb["events"] if e["category"]]
    if named:
        cat = named[0]["category"]
        code, fc = _get(
            f"{base}/api/events?category={urllib.parse.quote(cat)}"
        )
        assert fc["total"] >= 1
        assert all(e["category"] == cat for e in fc["events"])
    code, none = _get(f"{base}/api/events?category=definitely-not-a-cat")
    assert none["total"] == 0

    # detail + 404
    code, detail = _get(f"{base}/api/events/{ev['event_id']}")
    assert code == 200 and detail["event_id"] == ev["event_id"]
    code, missing = _get(f"{base}/api/events/evt_999999")
    assert code == 404


def _post_json(url, obj):
    req = urllib.request.Request(
        url, method="POST", data=json.dumps(obj).encode("utf-8"),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as r:
            return r.status, json.loads(r.read().decode("utf-8"))
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode("utf-8"))


def test_embedding_server():
    """Standalone embedding service (embedding_server analog): /health,
    POST /embed, POST /embed/batch with reference-shaped responses, and
    vectors identical to the build-side hash_embed swap point."""
    import numpy as np

    from baram_spark.query.hybrid import hash_embed
    from baram_spark.serving import make_embed_server, serve_forever_in_thread

    srv = make_embed_server(dim=32, port=0)
    serve_forever_in_thread(srv)
    host, port = srv.server_address[:2]
    base = f"http://{host}:{port}"
    try:
        code, h = _get(f"{base}/health")
        assert code == 200 and h["ready"] and h["model"] == "hash-embed-32"

        code, r = _post_json(f"{base}/embed", {"text": "안녕 world"})
        assert code == 200 and r["dimension"] == 32
        assert np.allclose(r["embedding"], hash_embed("안녕 world", 32))

        code, rb = _post_json(f"{base}/embed/batch",
                              {"texts": ["one", "two", ""]})
        assert code == 200 and rb["count"] == 3 and rb["dimension"] == 32
        assert np.allclose(rb["embeddings"][1], hash_embed("two", 32))

        code, e = _post_json(f"{base}/embed", {"text": 42})
        assert code == 400
        code, e = _post_json(f"{base}/embed/batch", {"texts": "nope"})
        assert code == 400
        code, root = _get(f"{base}/")
        assert code == 200 and "endpoints" in root
    finally:
        srv.shutdown()


def test_api_root_and_bm25_weight(spark, server):
    base, out = server
    code, root = _get(f"{base}/")
    assert code == 200
    assert root["service"].startswith("baram-spark")
    assert set(root["endpoints"]) >= {"health", "search", "events",
                                      "event_detail", "refresh"}

    q = make_query_set()[0]["query_text"]
    # bm25_weight=1.0 → pure-bm25 ranking; 0.0 → pure-knn ranking.
    # Min-max fusion maps the weighted side's MINIMUM hit to 0.0, tying it
    # with other-side-only candidates (also 0.0), so only the strictly-
    # positive prefix of the fused ranking is pinned to the pure ranking.
    def _pos_ids(resp):
        return [r["id"] for r in resp["results"] if r["score"] > 0.0]

    code, wb = _get(f"{base}/api/search?q={urllib.parse.quote(q)}"
                    f"&mode=hybrid&k=5&bm25_weight=1.0")
    code, bm = _get(f"{base}/api/search?q={urllib.parse.quote(q)}"
                    f"&mode=bm25&k=5")
    ids = _pos_ids(wb)
    assert ids and ids == [r["id"] for r in bm["results"]][:len(ids)]
    code, wk = _get(f"{base}/api/search?q={urllib.parse.quote(q)}"
                    f"&mode=hybrid&k=5&bm25_weight=0.0")
    code, kn = _get(f"{base}/api/search?q={urllib.parse.quote(q)}"
                    f"&mode=knn&k=5")
    ids = _pos_ids(wk)
    assert ids and ids == [r["id"] for r in kn["results"]][:len(ids)]


def test_publisher_filter(spark, server):
    """publisher= is pre-ranking filter context: every hit carries the
    requested publisher, and the serving-tier results equal the engine's
    publisher-filtered search."""
    base, out = server
    q = make_query_set()[0]["query_text"]
    pub = "바람일보"
    code, body = _get(f"{base}/api/search?q={urllib.parse.quote(q)}"
                      f"&mode=bm25&k=5&publisher={urllib.parse.quote(pub)}")
    assert code == 200 and body["total"] > 0
    assert all(r["publisher"] == pub for r in body["results"])
    engine = SearchEngine(spark, out)
    expected = engine.search(q, k=5, mode="local", publisher=pub)
    assert [round(r["score"], 9) for r in body["results"]] == \
        [round(s, 9) for _, s in expected]
    # unknown publisher → empty result set, not an error
    code, none = _get(f"{base}/api/search?q={urllib.parse.quote(q)}"
                      f"&mode=bm25&k=5&publisher=nope")
    assert code == 200 and none["total"] == 0


def test_negative_k_and_hybrid_threshold(spark, server):
    base, out = server
    q = make_query_set()[0]["query_text"]
    # k <= 0 means "no hits" — not one hit (the old max(1, k) clamp), and
    # a negative k must not defeat the response cap
    for bad_k in ("-1", "0"):
        code, body = _get(f"{base}/api/search?q={urllib.parse.quote(q)}"
                          f"&mode=bm25&k={bad_k}")
        assert code == 200 and body["total"] == 0 and body["results"] == []

    # hybrid threshold applies to the FUSED score (mod.rs:623-624)
    code, hyb = _get(f"{base}/api/search?q={urllib.parse.quote(q)}"
                     f"&mode=hybrid&k=10")
    scores = [r["score"] for r in hyb["results"]]
    assert scores
    cut = scores[len(scores) // 2]
    code, filt = _get(f"{base}/api/search?q={urllib.parse.quote(q)}"
                      f"&mode=hybrid&k=10&threshold={cut}")
    assert code == 200
    assert all(r["score"] >= cut for r in filt["results"])
    assert [r["id"] for r in filt["results"]] == [
        r["id"] for r in hyb["results"] if r["score"] >= cut
    ]


def test_snapshot_refuses_null_embedding_rows(spark, tmp_path):
    """flatten() silently drops null list slots, which would shift every
    later vector against its doc_id — silently wrong knn. A snapshot
    load over an embeddings table containing a null row must fail
    loudly instead."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = f"{tmp_path}/idx"
    b = IndexBuilder(spark, out, n_shards=1,
                     build_embeddings=True)
    b.build(pages_df(spark, 20, partitions=2), fingerprint="null-emb")
    ServingContext(spark, out)  # clean load works

    part = sorted(glob.glob(f"{out}/embeddings/gen=*/*.parquet"))[0]
    tbl = pq.read_table(part)
    emb_type = tbl.schema.field("embedding").type
    bad = {name: [tbl[name][0].as_py()] for name in tbl.schema.names}
    bad["doc_id"] = [10**9]  # fresh id, null vector
    bad["embedding"] = pa.array([None], type=emb_type)
    pq.write_table(
        pa.table(bad, schema=tbl.schema),
        f"{part.rsplit('/', 1)[0]}/part-null-injected.parquet")

    with pytest.raises(ValueError, match="null embedding"):
        ServingContext(spark, out)
