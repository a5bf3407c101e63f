"""URL extraction / normalization / dedup (S3-S5).

Re-implements ``/root/reference/src/crawler/url.rs``:

- href harvesting with ``href=["']([^"']+)["']`` (url.rs:71)
- id extraction ``/(?:mnews/)?article/(\\d{3})/(\\d{10,})`` and the legacy
  ``oid=(\\d{3})&aid=(\\d{10,})`` query format (url.rs:36-38)
- normalization to ``https://n.news.naver.com/mnews/article/{oid}/{aid}``
  (url.rs:116-124)
- HashSet dedupe + sort for deterministic output (url.rs:67-91)

Exposed both as pure functions and as DataFrame operators
(``regexp_extract_all`` + ``distinct`` + ``orderBy`` — all JVM-side).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

HREF_RE = re.compile(r"""href=["']([^"']+)["']""")
ARTICLE_RE = re.compile(r"/(?:mnews/)?article/(\d{3})/(\d{10,})")
OLD_FORMAT_RE = re.compile(r"oid=(\d{3})&aid=(\d{10,})")

CANONICAL = "https://n.news.naver.com/mnews/article/{oid}/{aid}"


def extract_ids(url: str) -> tuple[str, str] | None:
    m = ARTICLE_RE.search(url) or OLD_FORMAT_RE.search(url)
    return (m.group(1), m.group(2)) if m else None


def normalize_url(url: str) -> str | None:
    ids = extract_ids(url)
    return CANONICAL.format(oid=ids[0], aid=ids[1]) if ids else None


def extract_urls(html: str) -> list[str]:
    """All normalized article urls in a list page, deduped + sorted."""
    urls = set()
    for m in HREF_RE.finditer(html):
        normalized = normalize_url(m.group(1))
        if normalized:
            urls.add(normalized)
    return sorted(urls)


def canonical_url(url) -> "F.Column":
    """JVM-side :func:`normalize_url` of a url column: the canonical
    ``CANONICAL`` form, or null when the url carries no article ids."""
    def ids(pattern):
        return (F.regexp_extract(url, pattern, 1),
                F.regexp_extract(url, pattern, 2))

    oid, aid = ids(r"/(?:mnews/)?article/(\d{3})/(\d{10,})")
    oid2, aid2 = ids(r"oid=(\d{3})&aid=(\d{10,})")
    oid = F.when(oid != "", oid).otherwise(oid2)
    aid = F.when(aid != "", aid).otherwise(aid2)
    return F.when((oid != "") & (aid != ""), F.concat(
        F.lit(CANONICAL.split("{")[0]), oid, F.lit("/"), aid))


def with_canonical_url(df: DataFrame, col: str = "url") -> DataFrame:
    """``df`` with ``col`` in canonical form — the dedup key of an index,
    whose doc_id is derived from (oid, aid) alone (url.rs:116-124
    normalizes before dedup). A url carrying no article ids is kept as
    is; extraction drops its page."""
    return df.withColumn(col, F.coalesce(canonical_url(F.col(col)),
                                         F.col(col)))


def extract_urls_df(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Distributed variant: page html → one row per normalized article url
    (regexp_extract_all → explode → normalize → distinct → sort)."""
    hrefs = F.expr(
        f"regexp_extract_all(cast({html_col} as string), 'href=[\"\\']([^\"\\']+)[\"\\']', 1)"
    )
    return (
        pages.select(F.explode(hrefs).alias("href"))
        .select(canonical_url(F.col("href")).alias("url"))
        .filter(F.col("url").isNotNull())
        .distinct()
        .orderBy("url")
    )
