"""Seeded inputs: page batches, wave schedules, query streams, operator tables.

Everything here is a pure function of ``seed`` (and of explicit sizes), so
the same seed gives byte-identical inputs. The program under test only
ever receives what these functions return.

Two page corpora:

- ``corpus`` pages come from the package's own generator
  (``baram_spark.corpus.make_page``) over a seed-chosen index range:
  a 5,000-word Zipf vocabulary that fits the analyzer's segmentation cache.
- ``bigvocab`` pages use the same HTML shapes with a Zipf vocabulary of
  10^6 distinct Hangul words, more than the analyzer's 262,144-entry
  segmentation cache holds. A run indexes about 670 such pages, some
  95,000 tokens and some 22,500 distinct words, so its cache misses are
  first sightings of a word, spread over four workers; no run fills the
  cache, and a change to its size or eviction does not show here.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pandas as pd

from baram_spark import corpus

# publishers and categories the page shapes carry (corpus.py shapes)
PUBLISHERS = ("바람일보", "스파크뉴스", "데이터타임스", "Naver News", "검색신문")
CATEGORIES = ("sports", "entertainment")

BIG_VOCAB_SIZE = 1_000_000
BIG_ZIPF_S = 1.1
# EUC-KR-encodable syllables; 120^3 > 10^6, so three syllables name every rank
_SYLLABLES = (
    "가나다라마바사아자차카타파하간난단란만반산안잔찬강남당랑망방상앙장창"
    "거너더러머버서어저처건넌던런게네데레메베세에제체고노도로모보소오조초"
    "곡녹독록구누두루무부수우주추국눈둘률문불술울줄출그느드르므브스으즈츠"
    "기니디리미비시이지치김닌딘린민빈신인"
)[:120]
_BIG_CUM: np.ndarray | None = None

# page index range reserved per seed for the corpus generator; the
# bigvocab pages use 10-digit article ids above every corpus id
_SEED_STRIDE = 1_000_000
_BIG_AID_BASE = 5_000_000_000


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


# -- corpus pages (the package's generator) ---------------------------------
def corpus_base(seed: int) -> int:
    """First page index of this seed's slice of the corpus generator."""
    return (seed % 1000) * _SEED_STRIDE


def corpus_pages(indices) -> pd.DataFrame:
    """``corpus.make_page`` rows for the given page indices."""
    pdf = pd.DataFrame([corpus.make_page(int(i)) for i in indices])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    return pdf[["url", "warc_ts", "html", "lang"]]


# -- bigvocab pages -----------------------------------------------------------
def big_word(rank: int) -> str:
    """The Hangul word of Zipf rank ``rank`` (a bijection on [0, 120^3))."""
    n = len(_SYLLABLES)
    v = (rank * 742_891 + 12_345) % n ** 3  # odd multiplier: a permutation
    return _SYLLABLES[v // (n * n)] + _SYLLABLES[v // n % n] + _SYLLABLES[v % n]


def _big_cum() -> np.ndarray:
    global _BIG_CUM
    if _BIG_CUM is None:
        w = np.arange(1, BIG_VOCAB_SIZE + 1, dtype=np.float64) ** -BIG_ZIPF_S
        _BIG_CUM = np.cumsum(w / w.sum())
    return _BIG_CUM


def big_ranks(rng: np.random.Generator, size: int) -> np.ndarray:
    return np.minimum(np.searchsorted(_big_cum(), rng.random(size)),
                      BIG_VOCAB_SIZE - 1)


def _big_text(rng: np.random.Generator, n: int) -> str:
    return " ".join(big_word(int(r)) for r in big_ranks(rng, n))


def big_page(seed: int, i: int) -> dict:
    """Page ``i`` of the bigvocab corpus: the general / entertainment /
    sports shapes of ``corpus.make_page`` over the large vocabulary."""
    rng = _rng(seed, 7, i)
    oid = f"{int(rng.integers(100, 999)):03d}"
    url = f"https://n.news.naver.com/mnews/article/{oid}/{_BIG_AID_BASE + i:010d}"
    title = _big_text(rng, int(rng.integers(3, 8)))
    body = "\n".join(_big_text(rng, int(rng.integers(15, 45)))
                     for _ in range(int(rng.integers(3, 7))))
    date = "2024.12.%02d. %02d:%02d" % (int(rng.integers(1, 28)),
                                        int(rng.integers(0, 24)),
                                        int(rng.integers(0, 60)))
    publisher = PUBLISHERS[int(rng.integers(0, len(PUBLISHERS)))]
    shape = rng.random()
    if shape < 0.7:
        html = (f'<html><head><title>{title}</title></head><body>\n'
                f'<div class="media_end_head_top_logo"><img alt="{publisher}" '
                f'src="/logo.png"></div>\n'
                f'<div id="title_area"><span>{title}</span></div>\n'
                f'<span class="media_end_head_info_datestamp_time">{date}</span>\n'
                f'<article id="dic_area">{body}</article>\n</body></html>')
    elif shape < 0.85:
        html = (f'<html><head><title>{title}</title></head><body>\n'
                f'<h2 class="end_tit">{title}</h2>\n'
                f'<div class="article_info"><span class="author"><em>{date}'
                f'</em></span></div>\n<em class="press_name">{publisher}</em>\n'
                f'<div class="article_body">{body}</div>\n</body></html>')
    else:
        html = (f'<html><head><title>{title}</title></head><body>\n'
                f'<div class="news_headline"><h4 class="title">{title}</h4>\n'
                f'<div class="info"><span>{date}</span></div></div>\n'
                f'<div class="news_end">{body}</div>\n</body></html>')
    ts = np.datetime64("2024-12-01T00:00:00") + np.timedelta64(
        int(rng.integers(0, 30 * 24 * 3600)), "s")
    return {"url": url, "warc_ts": ts, "html": html.encode("utf-8"),
            "lang": "ko"}


def big_pages(seed: int, indices) -> pd.DataFrame:
    pdf = pd.DataFrame([big_page(seed, int(i)) for i in indices])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    return pdf


# -- page sources -------------------------------------------------------------
@dataclass(frozen=True)
class PageSource:
    """One corpus: fresh-page indices for a seed and a batch renderer."""

    name: str  # "corpus" | "bigvocab"
    seed: int

    def indices(self, start: int, n: int) -> np.ndarray:
        base = corpus_base(self.seed) if self.name == "corpus" else 0
        return np.arange(base + start, base + start + n, dtype=np.int64)

    def render(self, indices) -> pd.DataFrame:
        if self.name == "corpus":
            return corpus_pages(indices)
        return big_pages(self.seed, indices)


def probe_term(seed: int, wave: int) -> str:
    """A token no generated page contains, planted in one page of a wave."""
    return f"zqprobe{seed}w{wave}"


def plant_probe(html: bytes, term: str) -> bytes | None:
    """Insert ``term`` at the start of the article body, or None when the
    page has no body the extractor keeps (deleted / card shapes)."""
    for tag in (b'<article id="dic_area">', b'<div class="article_body">',
                b'<div class="news_end">'):
        if tag in html:
            return html.replace(tag, tag + term.encode("ascii") + b" ", 1)
    return None


@dataclass(frozen=True)
class Wave:
    number: int
    new: np.ndarray      # fresh page indices
    recrawl: np.ndarray  # indices of pages already committed
    delete_share: float  # share of the wave's new docs tombstoned after it


RECRAWL_SHARE = 0.1  # of each wave: urls already committed
TOMBSTONE_WAVE = 1   # this wave also deletes DELETE_SHARE of its new docs
DELETE_SHARE = 0.02


def wave_schedule(seed: int, source: PageSource, base_pages: int,
                  n_waves: int, wave_pages: int) -> list[Wave]:
    """Incremental crawl waves after a base build of ``base_pages`` pages.

    Each wave has ``wave_pages`` pages: RECRAWL_SHARE of them re-crawl
    already committed urls (which the build must skip), the rest are new."""
    rng = _rng(seed, 11)
    n_re = int(round(wave_pages * RECRAWL_SHARE))
    n_new = wave_pages - n_re
    waves, committed = [], base_pages
    for w in range(n_waves):
        start = base_pages + w * n_new
        new = source.indices(start, n_new)
        recrawl = source.indices(0, 0)
        if n_re:
            recrawl = np.sort(rng.choice(source.indices(0, committed), n_re,
                                         replace=False))
        waves.append(Wave(w, new, recrawl,
                          DELETE_SHARE if w == TOMBSTONE_WAVE else 0.0))
        committed += n_new
    return waves


# -- query stream ------------------------------------------------------------
@dataclass(frozen=True)
class Query:
    text: str
    mode: str  # "bm25" | "hybrid"
    k: int
    category: str | None = None
    publisher: str | None = None
    date_from: datetime | None = None
    date_to: datetime | None = None

    @property
    def filtered(self) -> bool:
        return (self.category is not None or self.publisher is not None
                or self.date_from is not None or self.date_to is not None)


def _terms(source: str, u: np.ndarray) -> list[str]:
    """Vocabulary words at Zipf quantiles ``u``."""
    if source == "corpus":
        w = np.arange(1, len(corpus.VOCAB) + 1, dtype=np.float64) ** -corpus.ZIPF_S
        idx = np.minimum(np.searchsorted(np.cumsum(w / w.sum()), u),
                         len(corpus.VOCAB) - 1)
        return [corpus.VOCAB[i] for i in idx]
    idx = np.minimum(np.searchsorted(_big_cum(), u), BIG_VOCAB_SIZE - 1)
    return [big_word(int(r)) for r in idx]


def query_pool(seed: int, source: str, size: int = 300) -> list[Query]:
    """A pool of queries: 70% unfiltered BM25, 15% BM25 with a category,
    publisher or date filter, 15% hybrid; one in five asks for k=50; one to
    three terms drawn Zipf-weighted from the corpus vocabulary. The package's
    extended reference query set is appended to the pool.

    The shares are exact, and within each class of queries of one shape
    (mode, filter, k, term count) the Zipf quantiles of every term position
    are stratified, so pools of different seeds differ in their words but
    not in how many cheap and expensive queries of each shape they hold."""
    rng = _rng(seed, 13)
    n_bm25, n_filt = int(size * 0.70), int(size * 0.15)
    shapes = []
    for j in range(size):
        kind = ("bm25" if j < n_bm25 else
                f"filter{j % 3}" if j < n_bm25 + n_filt else "hybrid")
        shapes.append((kind, 50 if j % 5 == 0 else 10, 1 + j % 3))
    members: dict[tuple, list[int]] = {}
    for j, shape in enumerate(shapes):
        members.setdefault(shape, []).append(j)
    u = [[0.0] * shape[2] for shape in shapes]
    for shape, js in sorted(members.items()):
        m = len(js)
        for pos in range(shape[2]):
            strata = (rng.permutation(m) + rng.random(m)) / m
            for j, x in zip(js, strata):
                u[j][pos] = x
    words = iter(_terms(source, np.array([x for row in u for x in row])))
    pool: list[Query] = []
    for j, (kind, k, n_terms) in enumerate(shapes):
        text = " ".join(next(words) for _ in range(n_terms))
        if kind == "bm25":
            pool.append(Query(text, "bm25", k))
        elif kind == "hybrid":
            pool.append(Query(text, "hybrid", k))
        elif kind == "filter0":
            pool.append(Query(text, "bm25", k, category=CATEGORIES[j % 2]))
        elif kind == "filter1":
            pool.append(Query(text, "bm25", k,
                              publisher=PUBLISHERS[j % len(PUBLISHERS)]))
        else:
            d0 = int(rng.integers(1, 20))
            pool.append(Query(text, "bm25", k,
                              date_from=datetime(2024, 12, d0),
                              date_to=datetime(2024, 12,
                                               d0 + int(rng.integers(1, 9)))))
    pool += [Query(q["query_text"], "bm25", q["k"])
             for q in corpus.make_query_set_extended()]
    return pool


def query_stream(seed: int, pool: list[Query], n: int) -> list[int]:
    """Indices into ``pool`` in request order: one seeded permutation of the
    pool after another, so that any stretch of the stream sends every query
    about equally often and seeds differ in order, not in mix."""
    rng = _rng(seed, 17)
    reps = -(-n // len(pool))
    return np.concatenate([rng.permutation(len(pool))
                           for _ in range(reps)])[:n].tolist()


# -- operator-suite tables ---------------------------------------------------
_DOC_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()


def operator_tables(seed: int, n_docs: int = 500, n_events: int = 1000,
                    n_orders: int = 1500) -> dict[str, pd.DataFrame]:
    """The ten tables ``__spark_entry__.queries()`` read, at roughly the
    shape of the package's sf0.001 test data."""
    rng = _rng(seed, 19)
    ts = lambda a: pd.to_datetime(a).astype("datetime64[us]")  # noqa: E731
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 5), n_orders // 7
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                    "HOUSEHOLD", "BUILDING"], n_cust)})
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["small", "red", "blue", "cold", "big"], n_part),
            rng.choice(["ring", "widget", "bolt", "gear"], n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 50, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_orders).astype("timedelta64[D]")
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": ts(odate),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    # ~17% of orders have no lineitems (the anti-join has rows to return)
    keys = np.flatnonzero(rng.random(n_orders) > 0.17)
    per = rng.integers(1, 8, keys.size)
    l_order = np.repeat(keys, per)
    n_li = l_order.size
    l_line = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flag = rng.choice(["A", "N", "R"], n_li)
    lineitem = pd.DataFrame({
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": flag,
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": ts(odate[l_order]
                         + rng.integers(1, 122, n_li).astype("timedelta64[D]"))})
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + rng.integers(0, 30 * 86_400_000_000, n_events).astype(
                 "timedelta64[us]"))
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.sort(ev_ts),
        "user_id": rng.integers(0, max(n_events // 66, 2), n_events).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "purchase",
                                  "view"], n_events),
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = [" ".join(rng.choice(_DOC_WORDS, int(rng.integers(10, 100))))
             for _ in range(n_docs)]
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(0, 0.125, (n_docs, 64)).astype(np.float32)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_docs).astype(np.int32)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events, "documents": documents,
            "embeddings": embeddings}


def write_operator_tables(seed: int, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, pdf in operator_tables(seed).items():
        if name == "embeddings":
            tbl = pa.table({
                "vec_id": pa.array(pdf["vec_id"]),
                "embedding": pa.array([v.tolist() for v in pdf["embedding"]],
                                      pa.list_(pa.float32())),
                "label": pa.array(pdf["label"])})
        else:
            tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        pq.write_table(tbl, f"{out_dir}/{name}.parquet")
