"""Correctness gates, run outside every timed region.

- BM25 answers must be rank- and score-identical (to 1e-9) to
  ``BruteForceIndex`` built from the committed docs of the snapshot the
  query saw. Tombstoned docs keep their place in the statistics until a
  compaction, exactly as the engine scores them, and are dropped from the
  oracle's ranking.
- Hybrid answers must equal ``hybrid_search`` fed the oracle's BM25 hits
  and an exact cosine scan over the snapshot's committed embeddings.
- After each wave no url is committed twice, and the wave's probe term
  finds a doc of that wave.
- Each operator query must match its ``oracle_sql()`` through DuckDB.
"""

from __future__ import annotations

import contextlib
import math

import numpy as np
import pyarrow.dataset as ds

from baram_spark.index import fs
from baram_spark.query import bm25
from baram_spark.query.bm25 import BruteForceIndex
from baram_spark.query.hybrid import embed_query, hybrid_search

ROUND = 9  # score digits compared (the package's own test idiom)


def norm_hits(hits) -> list[tuple[int, float]]:
    return [(int(d), round(float(s), ROUND)) for d, s in hits]


@contextlib.contextmanager
def _memo_analyzer(memo: dict):
    """Analyze each distinct text once across oracle rebuilds: the analyzer
    is a pure function, so this changes no oracle answer."""
    orig = bm25.analyze_index

    def cached(text):
        v = memo.get(text)
        if v is None:
            v = memo[text] = orig(text)
        return list(v)

    bm25.analyze_index = cached
    try:
        yield
    finally:
        bm25.analyze_index = orig


def _read(index_dir: str, table: str, cols: list[str], gens: list[int]):
    path = f"{index_dir}/{table}"
    if not fs.exists(path):
        return None
    d = ds.dataset(path, format="parquet", partitioning="hive")
    return d.to_table(columns=cols, filter=ds.field("gen").isin(gens))


class SnapshotOracle:
    """Expected answers for one committed snapshot of an index."""

    def __init__(self, index_dir: str, gens: list[int], deleted: set[int],
                 memo: dict):
        docs = _read(index_dir, "docs", ["doc_id", "url", "title", "text",
                                          "category", "published_at",
                                          "publisher"], gens).to_pandas()
        self.index_dir, self.gens, self.memo = index_dir, gens, memo
        self.docs = docs
        self.deleted = set(deleted)
        self.urls = docs["url"].tolist()
        self._bf = None
        self._cache: dict = {}

    def _load(self):
        """The brute-force index and the embeddings, built on first use:
        a snapshot no query saw needs only its urls checked."""
        docs = self.docs
        pub = docs["published_at"]
        if getattr(pub.dt, "tz", None) is not None:
            pub = pub.dt.tz_convert("UTC").dt.tz_localize(None)
        with _memo_analyzer(self.memo):
            self._bf = BruteForceIndex.build(
                zip(docs["doc_id"].astype(int), docs["title"], docs["text"]),
                meta={int(d): (c, p, pb) for d, c, p, pb in zip(
                    docs["doc_id"], docs["category"], pub, docs["publisher"])},
            )
        emb = _read(self.index_dir, "embeddings", ["doc_id", "embedding"],
                    self.gens)
        self.emb_ids = np.zeros(0, dtype=np.int64)
        self.matn = np.zeros((0, 0))
        if emb is not None and emb.num_rows:
            ids = emb["doc_id"].to_numpy().astype(np.int64)
            mat = np.asarray(emb["embedding"].to_pylist(), dtype=np.float64)
            keep = ~np.isin(ids, np.fromiter(self.deleted, np.int64))
            ids, mat = ids[keep], mat[keep]
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            self.emb_ids, self.matn = ids, mat / norms[:, None]

    @property
    def bf(self) -> BruteForceIndex:
        if self._bf is None:
            self._load()
        return self._bf

    def bm25(self, q) -> list[tuple[int, float]]:
        key = ("bm25", q.text, q.k, q.category, q.publisher, q.date_from,
               q.date_to)
        hit = self._cache.get(key)
        if hit is None:
            raw = self.bf.search(q.text, k=q.k + len(self.deleted),
                                 category=q.category, publisher=q.publisher,
                                 date_from=q.date_from, date_to=q.date_to)
            hit = self._cache[key] = [h for h in raw
                                      if h[0] not in self.deleted][:q.k]
        return hit

    def knn(self, text: str, k: int) -> list[tuple[int, float]]:
        if self._bf is None:
            self._load()
        if not self.emb_ids.size:
            return []
        cos = self.matn @ embed_query(text)
        order = np.lexsort((self.emb_ids, -cos))[:k]
        return [(int(self.emb_ids[i]), float(cos[i])) for i in order]

    def expected(self, q) -> list[tuple[int, float]]:
        if q.mode == "bm25":
            return norm_hits(self.bm25(q))
        key = ("hybrid", q.text, q.k)
        hit = self._cache.get(key)
        if hit is None:
            hit = self._cache[key] = norm_hits(hybrid_search(
                self.bm25(q), self.knn(q.text, q.k), k=q.k))
        return hit

    def duplicate_urls(self) -> int:
        return len(self.urls) - len(set(self.urls))


def answer(result: dict) -> list[tuple[int, float]]:
    return norm_hits((r["doc_id"], r["score"]) for r in result["results"])


# -- operator suite -------------------------------------------------------------
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 6)
                    if v == -0.0:
                        v = 0.0
            vals.append((c, v))
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def same_as_duckdb(con, sql: str, columns: list[str], rows: list[dict]) -> bool:
    """Row count, column names and order-insensitive values (floats to six
    digits) equal the DuckDB oracle's."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    expect = [dict(zip(cols, r)) for r in cur.fetchall()]
    return (sorted(columns) == sorted(cols) and len(rows) == len(expect)
            and _normalize(rows, columns) == _normalize(expect, cols))
