"""URL extraction (S3-S5)."""

from baram_spark.sources.urls import extract_urls, extract_urls_df, normalize_url


def test_normalize_variants():
    canon = "https://n.news.naver.com/mnews/article/001/0014123456"
    assert normalize_url(canon) == canon
    assert normalize_url("https://m.news.naver.com/article/001/0014123456") == canon
    assert normalize_url("/article/001/0014123456") == canon
    assert normalize_url("https://x.com/read?oid=001&aid=0014123456") == canon
    assert normalize_url("https://example.com/other") is None


def test_extract_urls_dedup_sorted():
    html = (
        '<a href="/article/002/0000000010">b</a>'
        '<a href="/article/001/0000000010">a</a>'
        '<a href="/article/002/0000000010">dup</a>'
    )
    urls = extract_urls(html)
    assert urls == sorted(urls)
    assert len(urls) == 2


def test_extract_urls_df(spark):
    html1 = b'<a href="/article/001/0000000010">x</a><a href="/mnews/article/002/0000000011">y</a>'
    html2 = b'<a href="/article/001/0000000010">dup</a>'
    df = spark.createDataFrame([(html1,), (html2,)], "html binary")
    urls = [r["url"] for r in extract_urls_df(df).collect()]
    assert urls == [
        "https://n.news.naver.com/mnews/article/001/0000000010",
        "https://n.news.naver.com/mnews/article/002/0000000011",
    ]
