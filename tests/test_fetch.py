"""HTTP fetch tier (S1) against a LOCAL test server: retry policy,
non-retryable failures as data rows, politeness pacing, and the full
crawl → extract → index → search loop over HTTP-served corpus pages."""

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from baram_spark.sources.fetch import fetch_pages, fetch_url


@pytest.fixture(scope="module")
def http_server():
    state = {"flaky_hits": 0, "pages": {}}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):  # noqa: N802
            if self.path == "/ok":
                body = "<html><body>안녕</body></html>".encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            elif self.path == "/flaky":
                state["flaky_hits"] += 1
                if state["flaky_hits"] <= 2:
                    self.send_error(503)
                else:
                    body = b"<html>recovered</html>"
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
            elif self.path in state["pages"]:
                body = state["pages"][self.path]
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_error(404)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    host, port = srv.server_address[:2]
    yield f"http://{host}:{port}", state
    srv.shutdown()


def test_fetch_url_retry_policy(http_server):
    base, state = http_server
    body, status, attempts, err = fetch_url(f"{base}/ok", base_delay_ms=1)
    assert status == 200 and attempts == 1 and err is None
    assert "안녕".encode("utf-8") in body

    # 503 twice then 200: exponential-backoff retries win through
    state["flaky_hits"] = 0
    body, status, attempts, err = fetch_url(f"{base}/flaky",
                                            base_delay_ms=1)
    assert status == 200 and attempts == 3 and err is None

    # 404 is NOT retryable: one attempt, error returned
    body, status, attempts, err = fetch_url(f"{base}/nope",
                                            base_delay_ms=1)
    assert body is None and status == 404 and attempts == 1
    assert err == "HTTP 404"


def test_fetch_pages_dataframe(spark, http_server):
    base, state = http_server
    state["flaky_hits"] = 0
    urls = spark.createDataFrame(
        [(f"{base}/ok",), (f"{base}/flaky",), (f"{base}/missing",)],
        "url string",
    ).coalesce(1)
    rows = {r["url"].rsplit("/", 1)[1]: r for r in fetch_pages(
        urls, requests_per_second=1000, base_delay_ms=1
    ).collect()}
    assert rows["ok"]["status"] == 200 and rows["ok"]["error"] is None
    assert bytes(rows["ok"]["html"])
    assert rows["flaky"]["status"] == 200 and rows["flaky"]["attempts"] == 3
    # failures are data rows, not task failures
    assert rows["missing"]["status"] == 404
    assert rows["missing"]["html"] is None
    assert rows["missing"]["error"] == "HTTP 404"
    assert rows["ok"]["warc_ts"] is not None


def test_crawl_extract_index_search_loop(spark, http_server, tmp_path):
    """The full S1→S2→…→Q1 story: corpus pages served over real HTTP,
    fetched distributed, extracted (charset chain incl. EUC-KR pages),
    indexed, and searched with rank+score identity vs brute force."""
    from baram_spark.corpus import make_query_set, pages_df
    from baram_spark.index.builder import IndexBuilder
    from baram_spark.query.bm25 import BruteForceIndex
    from baram_spark.query.engine import SearchEngine
    from pyspark.sql import functions as F

    base, state = http_server
    pages = pages_df(spark, 80, partitions=2).collect()
    url_map = {}
    for i, r in enumerate(pages):
        path = f"/page/{i}"
        state["pages"][path] = bytes(r["html"])
        url_map[f"{base}{path}"] = r["url"]

    urls = spark.createDataFrame([(u,) for u in url_map], "url string")
    fetched = fetch_pages(urls, requests_per_second=1000,
                          base_delay_ms=1).collect()
    assert all(r["status"] == 200 for r in fetched)
    # fetched bytes are byte-identical to the corpus html
    orig = {r["url"]: bytes(r["html"]) for r in pages}
    for r in fetched:
        assert bytes(r["html"]) == orig[url_map[r["url"]]]

    # restore the canonical urls (the test server's host isn't the id
    # source) and run the standard pipeline
    fetched_df = spark.createDataFrame(
        [(url_map[r["url"]], r["warc_ts"], bytes(r["html"]))
         for r in fetched],
        "url string, warc_ts timestamp, html binary",
    ).withColumn("lang", F.lit("ko"))

    out = f"{tmp_path}/crawl_idx"
    IndexBuilder(spark, out, n_shards=2).build(
        fetched_df, fingerprint="crawl"
    )
    table = spark.read.parquet(f"{out}/docs")
    engine = SearchEngine(spark, out)
    oracle = BruteForceIndex.build([
        (int(r["doc_id"]), r["title"], r["text"])
        for r in table.select("doc_id", "title", "text").collect()
    ])
    q = make_query_set()[0]["query_text"]
    got = [(d, round(s, 9)) for d, s in engine.search(q, k=10, mode="local")]
    exp = [(d, round(s, 9)) for d, s in oracle.search(q, k=10)]
    assert got and got == exp


def test_fetch_url_malformed_fails_fast():
    """Unsupported schemes / malformed urls can never succeed — one
    attempt, no backoff burn."""
    import time as _time

    t0 = _time.time()
    body, status, attempts, err = fetch_url("htp://typo.example",
                                            base_delay_ms=1000)
    assert body is None and attempts == 1
    assert "unknown url type" in err or "ValueError" in err
    assert _time.time() - t0 < 1.0  # no exponential backoff happened
