"""Markdown article source/sink (S7/S8), comment JSONP source (S12), and
the rotating-bloom dedup fast-reject tier (I9)."""

import json
from datetime import datetime, timezone

import numpy as np
import pytest
from pyspark.sql import functions as F

from baram_spark.sources.markdown import (
    markdown_docs,
    parse_markdown,
    read_markdown_dir,
    render_markdown,
)

MD = """---
id: 001_0000000123
title: "경제 회복 신호"
category: economy
publisher: 바람일보
author: 김기자
published_at: 2024-12-05 14:30
crawled_at: 2024-12-05 15:00:00
url: https://n.news.naver.com/mnews/article/001/0000000123
oid: 001
aid: 0000000123
content_hash: abc123
---

# 경제 회복 신호

**바람일보** | 2024-12-05 14:30 | economy

---

첫 번째 문단입니다.

두 번째 문단: 지표가 개선되었다.

---

*Crawled at: 2024-12-05 15:00:00*
*Source: [원문 보기](https://n.news.naver.com/mnews/article/001/0000000123)*
"""


def test_parse_markdown_reference_semantics():
    d = parse_markdown(MD, filename="001_0000000123.md")
    assert d["id"] == "001_0000000123"
    assert d["oid"] == "001" and d["aid"] == "0000000123"
    assert d["title"] == "경제 회복 신호"
    assert d["category"] == "economy"
    assert d["publisher"] == "바람일보"
    assert d["author"] == "김기자"
    # space-separated date → ISO with seconds + Z (index.rs:483-503)
    assert d["published_at"] == "2024-12-05T14:30:00Z"
    assert d["content_hash"] == "abc123"
    # the reference's body keeps every non-empty non-frontmatter line,
    # headings and separators included
    assert "첫 번째 문단입니다." in d["content"]
    assert d["content"].startswith("# 경제 회복 신호")
    assert "---" in d["content"]


def test_parse_markdown_fallbacks():
    # no frontmatter ids → filename stem "<oid>_<aid>"
    d = parse_markdown("# 제목\n\n본문", filename="dir/032_0009998888.md")
    assert d["oid"] == "032" and d["aid"] == "0009998888"
    # stem without underscore → oid 000
    d = parse_markdown("text only", filename="weird.md")
    assert d["oid"] == "000" and d["aid"] == "weird"
    assert d["title"] == "Untitled"
    # invalid dates dropped, ISO passes through
    assert parse_markdown("---\ndate: unknown\n---\nx")["published_at"] is None
    assert parse_markdown(
        "---\ndate: 2024-01-01T09:00:00Z\n---\nx"
    )["published_at"] == "2024-01-01T09:00:00Z"


def test_render_parse_roundtrip_metadata():
    doc = {
        "id": "123_0000000001", "oid": "123", "aid": "0000000001",
        "title": "라운드트립", "content": "본문 한 줄",
        "category": "it", "publisher": "스파크뉴스", "author": "이기자",
        "published_at": "2024-11-30 09:15",
        "crawled_at": "2024-11-30 10:00:00",
        "url": "https://n.news.naver.com/mnews/article/123/0000000001",
        "content_hash": "deadbeef",
    }
    back = parse_markdown(render_markdown(doc), filename="123_0000000001.md")
    for k in ("id", "oid", "aid", "title", "category", "publisher",
              "author", "url", "content_hash"):
        assert back[k] == doc[k], k
    assert back["published_at"] == "2024-11-30T09:15:00Z"
    # reference semantics: parsed content embeds the body plus template
    # furniture (that IS what the reference indexes from its own files)
    assert "본문 한 줄" in back["content"]


def test_markdown_spark_surface(spark, tmp_path):
    mddir = tmp_path / "corpus"
    mddir.mkdir()
    (mddir / "001_0000000123.md").write_text(MD, encoding="utf-8")
    (mddir / "007_0000000777.md").write_text(
        "# 두 번째\n\n내용입니다.", encoding="utf-8"
    )
    docs = read_markdown_dir(spark, str(mddir))
    rows = {r["id"]: r for r in docs.collect()}
    assert set(rows) == {"001_0000000123", "007_0000000777"}
    assert rows["001_0000000123"]["publisher"] == "바람일보"
    assert rows["007_0000000777"]["title"] == "두 번째"
    assert rows["007_0000000777"]["oid"] == "007"
    # narrow plan: no shuffle for the parse
    plan = markdown_docs(
        spark.read.text(f"{mddir}/*.md", wholetext=True)
        .withColumn("path", F.input_file_name())
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# -- comment JSONP (S12) ----------------------------------------------------

from baram_spark.sources.jsonp import (  # noqa: E402
    clean_content,
    comment_stats,
    comments_df,
    parse_comments,
    parse_jsonp,
)


def _payload(comments, success=True):
    return "_callback(" + json.dumps({
        "success": success, "code": "200",
        "result": {"count": {"comment": len(comments)},
                   "commentList": comments},
    }, ensure_ascii=False) + ");"


def _raw(no, parent=0, contents="본문", reg=1702684800000, mod=0,
         likes=0, dislikes=0, replies=0, best=False, deleted=False):
    return {"commentNo": no, "parentCommentNo": parent,
            "contents": contents, "maskedUserId": "user****",
            "userName": "테스터", "regTime": reg, "modTime": mod,
            "sympathyCount": likes, "antipathyCount": dislikes,
            "replyCount": replies, "best": best, "deleted": deleted}


def test_parse_jsonp_variants():
    assert parse_jsonp('_callback({"a": 1})') == '{"a": 1}'
    assert parse_jsonp('jQuery12345({"a": 1});') == '{"a": 1}'
    assert parse_jsonp('  {"bare": true} ') == '{"bare": true}'
    with pytest.raises(ValueError):
        parse_jsonp("<html>not jsonp</html>")


def test_clean_content_matches_reference():
    raw = "<b>굿&nbsp;댓글</b>\n\n  진짜&amp;최고  "
    assert clean_content(raw) == "굿 댓글 진짜&최고"


def test_parse_comments_conversion_rules():
    reg = 1702684800000
    got = parse_comments(_payload([
        _raw(1, contents="<i>첫&quot;댓글</i>", likes=10, dislikes=2,
             replies=1, best=True),
        _raw(2, parent=1, reg=reg, mod=reg),          # mod==reg → None
        _raw(3, parent=1, reg=reg, mod=reg + 60000),  # real edit
        _raw(4, deleted=True),
    ]), object_id="news001,0000000123")
    assert len(got) == 4
    c1, c2, c3, c4 = got
    assert c1["content"] == '첫"댓글' and c1["is_best"] and c1["likes"] == 10
    assert c1["parent_id"] is None and c2["parent_id"] == "1"
    assert c1["created_at"] == datetime(2023, 12, 16, 0, 0,
                                    tzinfo=timezone.utc)  # tz-AWARE
    # UTC instant (comment.rs DateTime<Utc>); a naive value would shift
    # on non-UTC Spark sessions
    assert c2["modified_at"] is None
    assert c3["modified_at"] == datetime(2023, 12, 16, 0, 1,
                                     tzinfo=timezone.utc)
    assert c4["is_deleted"]
    # unsuccessful response → no rows
    assert parse_comments(_payload([_raw(9)], success=False)) == []


def test_comments_spark_surface(spark):
    rows = [
        ("obj1", _payload([_raw(1, replies=1), _raw(2, parent=1),
                           _raw(3, deleted=True)])),
        ("obj2", _payload([_raw(10)])),
        ("obj3", "<garbage not jsonp>"),
    ]
    df = spark.createDataFrame(rows, "object_id string, payload string")
    out = comments_df(df)
    got = out.collect()
    assert len(got) == 4  # garbage payload yields zero rows, no failure
    stats = {r["object_id"]: r for r in comment_stats(out).collect()}
    assert stats["obj1"]["n_comments"] == 2  # ids 1 and 3 are top-level
    assert stats["obj1"]["n_replies"] == 1
    assert stats["obj1"]["n_deleted"] == 1
    assert stats["obj2"]["n_comments"] == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # parse+explode is narrow


# -- rotating bloom (I9) ----------------------------------------------------

from baram_spark.operators.bloom import RotatingBloom  # noqa: E402


def test_bloom_no_false_negatives_and_low_fp():
    b = RotatingBloom(capacity=5000, fp_rate=0.01)
    keys = [f"https://x.test/a/{i}" for i in range(3000)]
    b.add_many(keys)
    assert all(b.might_contain(k) for k in keys)  # NEVER a false negative
    probes = [f"https://x.test/b/{i}" for i in range(3000)]
    fp = sum(b.membership(probes)) / len(probes)
    assert fp < 0.05, fp


def test_bloom_rotation_bounds_memory_keeps_recent():
    b = RotatingBloom(capacity=100, fp_rate=0.01, rotation_threshold=0.8)
    for i in range(300):
        b.add(f"k{i}")
    assert b.rotation_count >= 2  # rotated while streaming
    # the most recent inserts are always present (active generation)
    assert all(b.might_contain(f"k{i}") for i in range(260, 300))


def test_builder_bloom_skips_and_routes(spark, tmp_path):
    """All-new wave with a seeded committed-superset bloom → the
    committed-urls anti-join is skipped (bloom_maybe_seen=0); a wave
    overlapping committed urls routes through the anti-join and stays
    duplicate-free; outgrowing the capacity clears authority and the
    builder ignores the filter."""
    from baram_spark.corpus import pages_df
    from baram_spark.index.builder import IndexBuilder
    from baram_spark.operators.bloom import CommittedUrlBloom

    out = f"{tmp_path}/bloom_idx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 100, partitions=2), fingerprint="b0")

    committed_urls = spark.read.parquet(f"{out}/docs").select("url")
    bloom = CommittedUrlBloom.seed(committed_urls)
    assert bloom.authoritative
    # seeded filter is a superset of the committed urls
    urls = [r["url"] for r in committed_urls.collect()]
    assert all(bloom.might_contain(u) for u in urls)

    # wave of pages 100..160: disjoint from committed → join skipped
    wave = pages_df(spark, 160, partitions=2).filter(
        F.col("url").isin(
            [r["url"] for r in pages_df(spark, 160).select("url")
             .exceptAll(pages_df(spark, 100).select("url")).collect()]
        )
    )
    m = b.build_incremental(wave, fingerprint="b1", bloom=bloom)
    assert m["bloom_maybe_seen"] == 0
    assert m.get("docs_out", 0) > 0
    bloom.add_many(r["url"] for r in wave.select("url").collect())

    # overlapping wave (0..200 includes indexed urls) → routed through
    # the anti-join; no duplicates committed
    m2 = b.build_incremental(pages_df(spark, 200, partitions=2),
                             fingerprint="b2", bloom=bloom)
    assert m2["bloom_maybe_seen"] > 0
    docs = spark.read.parquet(f"{out}/docs")
    assert docs.count() == docs.select("url").distinct().count()

    # authority loss: inserts past capacity → builder stops consulting it
    small = CommittedUrlBloom(capacity=10)
    small.add_many(f"u{i}" for i in range(20))
    assert not small.authoritative
    m3 = b.build_incremental(pages_df(spark, 220, partitions=2),
                             fingerprint="b3", bloom=small)
    assert "bloom_maybe_seen" not in m3  # fell back to the anti-join
    docs = spark.read.parquet(f"{out}/docs")
    assert docs.count() == docs.select("url").distinct().count()


def test_stream_build_with_bloom_prefilter(spark, tmp_path):
    from baram_spark.corpus import pages_df
    from baram_spark.streaming.ingest import stream_build

    pages_dir = str(tmp_path / "pages")
    idx = str(tmp_path / "sidx")
    ck = str(tmp_path / "ck")
    pages_df(spark, 120, partitions=2).write.mode("append").parquet(pages_dir)
    stream_build(spark, pages_dir, idx, ck, n_shards=2,
                 bloom_prefilter=True)
    pages_df(spark, 200, partitions=2).write.mode("append").parquet(pages_dir)
    stream_build(spark, pages_dir, idx, ck, n_shards=2,
                 bloom_prefilter=True)
    docs = spark.read.parquet(f"{idx}/docs")
    assert docs.count() == docs.select("url").distinct().count()
    assert docs.count() > 120  # second drop's new urls landed


def test_markdown_corpus_to_index_cli(spark, tmp_path, capsys):
    """The reference `index` command's markdown path, end to end: render
    a corpus to markdown files, `index --markdown` them (no HTML
    re-extraction), and get rank+score identity against a brute-force
    oracle built over the PARSED docs table."""
    import json as _json

    from baram_spark.__main__ import main
    from baram_spark.corpus import make_query_set, pages_df
    from baram_spark.index.build import extract_docs
    from baram_spark.query.bm25 import BruteForceIndex
    from baram_spark.query.engine import SearchEngine

    docs = extract_docs(pages_df(spark, 120, partitions=2)).collect()
    mddir = tmp_path / "corpus"
    mddir.mkdir()
    for r in docs:
        d = r.asDict()
        d["content"] = d.pop("text")
        d["id"] = f"{d['oid']}_{d['aid']}"
        d["crawled_at"] = "2024-12-01 00:00:00"
        (mddir / f"{d['oid']}_{d['aid']}.md").write_text(
            render_markdown(d), encoding="utf-8"
        )

    out = f"{tmp_path}/md_idx"
    assert main(["index", "--markdown", str(mddir), "--out", out,
                 "--shards", "2", "--fingerprint", "md1"],
                spark=spark) == 0
    metrics = _json.loads(
        [ln for ln in capsys.readouterr().out.strip().splitlines() if ln][-1]
    )
    assert metrics["docs_out"] == len(docs)

    table = spark.read.parquet(f"{out}/docs")
    assert table.count() == len(docs)
    assert table.filter(F.col("format") == "markdown").count() == len(docs)

    engine = SearchEngine(spark, out)
    oracle = BruteForceIndex.build([
        (int(r["doc_id"]), r["title"], r["text"])
        for r in table.select("doc_id", "title", "text").collect()
    ])
    for q in make_query_set()[:3]:
        got = [(d, round(s, 9)) for d, s in
               engine.search(q["query_text"], k=10, mode="local")]
        exp = [(d, round(s, 9)) for d, s in
               oracle.search(q["query_text"], k=10)]
        assert got == exp, q["query_text"]


def test_markdown_doc_id_parity_and_collisions():
    """Markdown ids must be EXACTLY the extractor's scheme: packed for
    ≤10-digit numeric pairs, 10^13-offset hash above that, and distinct
    hashed ids for url-less non-numeric stems (no '' collisions)."""
    from baram_spark.textproc.extract import doc_id_from_ids

    d = parse_markdown(MD, filename="001_0000000123.md")
    assert d["doc_id"] == doc_id_from_ids("001", "0000000123")

    # 11-digit aid: hash fallback above the packed range, no collision
    # with a packed (oid=2, aid=5) pair
    big = parse_markdown("---\noid: 1\naid: 10000000005\n---\nx")
    packed = parse_markdown("---\noid: 2\naid: 0000000005\n---\nx")
    assert big["doc_id"] >= 10_000_000_000_000
    assert big["doc_id"] != packed["doc_id"]
    assert packed["doc_id"] == doc_id_from_ids("2", "0000000005")

    # two url-less files with non-numeric stems: DISTINCT ids
    a = parse_markdown("alpha body", filename="alpha.md")
    b = parse_markdown("beta body", filename="beta.md")
    assert a["doc_id"] != b["doc_id"]
    assert a["doc_id"] >= 10_000_000_000_000


def test_markdown_content_hash_default(spark, tmp_path):
    from baram_spark.sources.markdown import to_index_docs

    mddir = tmp_path / "nohash"
    mddir.mkdir()
    (mddir / "001_0000000009.md").write_text("# 제목\n\n본문", "utf-8")
    row = to_index_docs(read_markdown_dir(spark, str(mddir))).collect()[0]
    import hashlib

    assert row["content_hash"] == hashlib.sha256(
        row["text"].encode("utf-8")
    ).hexdigest()


def test_cli_markdown_rejects_incremental(spark, tmp_path):
    from baram_spark.__main__ import main

    with pytest.raises(SystemExit):
        main(["index", "--markdown", str(tmp_path), "--out",
              f"{tmp_path}/x", "--incremental"], spark=spark)


def test_build_docs_preserves_chunk_text(spark, tmp_path):
    """build_docs must carry a chunk_text column through to the docs
    table so the third scored field gets indexed (bm25.py documents it)."""
    from baram_spark.corpus import pages_df
    from baram_spark.index.build import extract_docs
    from baram_spark.index.builder import IndexBuilder

    docs = extract_docs(pages_df(spark, 80, partitions=2)).withColumn(
        "chunk_text", F.substring("text", 1, 40)
    )
    out = f"{tmp_path}/chunk_docs_idx"
    IndexBuilder(spark, out, n_shards=2).build_docs(
        docs, fingerprint="ck"
    )
    table = spark.read.parquet(f"{out}/docs")
    assert "chunk_text" in table.columns
    n_chunks = spark.read.parquet(f"{out}/postings").filter(
        F.col("field") == "chunk_text"
    ).count()
    assert n_chunks > 0  # the third field really got postings


def test_committed_bloom_empty_seed(spark):
    """Seeding from a ZERO-row url relation (committed gens written from
    an empty wave) must not crash (rdd.treeReduce raises on empty RDDs) —
    the fresh filter is already a valid superset of zero urls."""
    from pyspark.sql.types import StringType, StructField, StructType

    from baram_spark.operators.bloom import CommittedUrlBloom

    empty = spark.createDataFrame(
        [], StructType([StructField("url", StringType())]))
    b = CommittedUrlBloom.seed(empty, col="url")
    assert b.authoritative
    assert not b.might_contain("https://news.example.com/a/1")
    # and it still works as a live filter afterwards
    b.add("https://news.example.com/a/1")
    assert b.might_contain("https://news.example.com/a/1")


def test_bloom_add_df_matches_add_many(spark):
    """The distributed feed (add_df — fat micro-batches) must set exactly
    the bits the driver-side add_many would: same hashes, same
    supersetness, same capacity/authority accounting, while the driver
    only ever receives one fixed-size bit array."""
    import numpy as np

    from baram_spark.operators.bloom import CommittedUrlBloom

    urls = [f"https://news.example.com/a/{i}" for i in range(3000)]
    df = spark.createDataFrame([(u,) for u in urls], "url string") \
        .repartition(8)

    a = CommittedUrlBloom(capacity=50_000)
    a.add_many(urls)
    b = CommittedUrlBloom(capacity=50_000)
    b.add_df(df)
    assert np.array_equal(a.bloom.bits, b.bloom.bits)
    assert b.bloom.count == 3000 and b.authoritative
    assert all(b.might_contain(u) for u in urls[:100])

    # overflow via add_df drops authority exactly like add()
    small = CommittedUrlBloom(capacity=1000)
    small.add_df(df)
    assert not small.authoritative

    # empty add_df is a no-op
    before = b.bloom.count
    b.add_df(df.filter("url = 'nope'"))
    assert b.bloom.count == before


def test_comments_df_survives_malformed_shapes(spark):
    """Valid-JSON-but-wrong-shape payloads (list body, scalar result,
    string comments) yield ZERO rows for that object instead of killing
    the task — the no-fail contract covers every malformed shape."""
    from baram_spark.sources.jsonp import comments_df

    rows = [
        ("a", "cb([1,2,3]);"),
        ("b", '{"success": true, "result": "ok"}'),
        ("c", 'cb({"success": true, "result": {"commentList": ["x"]}});'),
        ("d", "not json at all"),
        ("e", None),
    ]
    df = spark.createDataFrame(rows, "object_id string, payload string")
    assert comments_df(df).count() == 0


def test_hidden_comment_counts_as_deleted(spark):
    """comment.rs: is_deleted = deleted || !visible — a moderated
    (visible=false) comment is deleted content."""
    from baram_spark.sources.jsonp import parse_comments

    payload = ('cb({"success": true, "result": {"commentList": ['
               '{"commentNo": 1, "contents": "hidden", "visible": false},'
               '{"commentNo": 2, "contents": "live", "visible": true},'
               '{"commentNo": 3, "contents": "gone", "deleted": true}'
               ']}});')
    got = {c["comment_id"]: c["is_deleted"] for c in parse_comments(payload)}
    assert got == {"1": True, "2": False, "3": True}


def test_markdown_title_trim_matches_reference():
    """index.rs:414 trim_start_matches('# '): repeated prefixes all
    stripped, trailing whitespace preserved."""
    from baram_spark.sources.markdown import parse_markdown

    assert parse_markdown("# # Quoted heading\nbody")["title"] == \
        "Quoted heading"
    assert parse_markdown("# Title  \nbody")["title"] == "Title  "
