"""kNN + hybrid search and highlighting (Q3/Q4/Q5).

The reference's vector path (``/root/reference/src/embedding/mod.rs:445-467``
kNN, ``541-602`` hybrid via OpenSearch's min_max + arithmetic_mean pipeline
with weights BM25 0.3 / kNN 0.7 per ``CLAUDE.md:377-386``) re-expressed
Spark-side:

- ``hash_embed``: deterministic feature-hashing embeddings (hashing-trick
  bag-of-tokens, signed buckets, L2-normalized) standing in for the MiniLM
  service the reference calls over HTTP (``src/embedding/vectorize.rs``) —
  swap in a real model via ``predict_batch_udf`` in production; everything
  downstream (schema, fusion math, ranking) is model-agnostic.
- ``knn_search``: exact cosine top-k over the doc-embedding table.
- ``hybrid_search``: min-max normalize each ranked list, weighted
  arithmetic mean (missing side contributes 0), canonical tie-break.
- ``highlight``: reference-shaped snippets — title 1 fragment, content 3
  fragments of ~150 chars with ``<mark>`` tags
  (``src/embedding/mod.rs:612-621``).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..textproc.analyzer import analyze_index, analyze_search

DEFAULT_DIM = 64
BM25_WEIGHT = 0.3
KNN_WEIGHT = 0.7


def _token_bucket(token: str, dim: int) -> tuple[int, float]:
    h = int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:8], "little")
    return h % dim, 1.0 if (h >> 63) & 1 == 0 else -1.0


def hash_embed(text: str, dim: int = DEFAULT_DIM) -> np.ndarray:
    """Deterministic hashing-trick embedding of analyzed tokens."""
    vec = np.zeros(dim, dtype=np.float64)
    for tok in analyze_index(text or ""):
        bucket, sign = _token_bucket(tok, dim)
        vec[bucket] += sign
    norm = np.linalg.norm(vec)
    return vec / norm if norm > 0 else vec


def embed_docs(docs: DataFrame, dim: int = DEFAULT_DIM,
               text_col: str = "text", id_col: str = "doc_id",
               embed_fn=None) -> DataFrame:
    """docs → (doc_id, embedding array<double>); narrow Arrow stage.

    ``embed_fn(texts: list[str]) -> 2-D array`` is the model swap point —
    the ``predict_batch_udf`` shape: a real encoder (the MiniLM service the
    reference calls over HTTP, vectorize.rs:238-364) plugs in here and gets
    Arrow-batched inputs; the default is the deterministic hashing-trick
    embedding. Everything downstream is model-agnostic."""

    def run(iterator):
        for pdf in iterator:
            texts = ["" if t is None else t for t in pdf[text_col].tolist()]
            if embed_fn is not None:
                mat = np.asarray(embed_fn(texts), dtype=np.float64)
                vecs = [row.tolist() for row in mat]
            else:
                vecs = [hash_embed(t, dim).tolist() for t in texts]
            yield pd.DataFrame({"doc_id": pdf[id_col], "embedding": vecs})

    return docs.select(id_col, text_col).mapInPandas(
        run, schema="doc_id long, embedding array<double>"
    )


def embed_query(query_text: str, dim: int = DEFAULT_DIM,
                embed_fn=None) -> np.ndarray:
    """Query-side embedding through the SAME swap point as the docs:
    ``embed_fn(texts) -> 2-D array`` when a model is plugged in, else the
    deterministic hashing-trick default. Always L2-normalized (cosine
    scoring assumes a unit query vector)."""
    if embed_fn is not None:
        qv = np.asarray(embed_fn([query_text]), dtype=np.float64)[0]
        n = np.linalg.norm(qv)
        return qv / n if n > 0 else qv
    return hash_embed(query_text, dim)


def knn_search(embeddings: DataFrame, query_text: str, k: int = 10,
               dim: int = DEFAULT_DIM,
               embed_fn=None) -> list[tuple[int, float]]:
    """Exact cosine top-k of the query's embedding (Q3).

    Distributed scoring via mapInPandas partial top-k, merged on driver —
    the same shape as the BM25 per-shard merge. ``embed_fn`` must be the
    same model the index was built with (embed_docs).
    """
    if k <= 0:
        return []  # a negative k would slice "all but the last"
    qv = embed_query(query_text, dim, embed_fn)

    def score(iterator):
        for pdf in iterator:
            if pdf.empty:  # a 0-row batch collapses to a 1-D array and
                continue   # norm(axis=1) would raise AxisError
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            cos = (mat @ qv) / norms
            order = np.lexsort((pdf["doc_id"].to_numpy(), -cos))[:k]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[order],
                    "score": cos[order],
                }
            )

    rows = embeddings.mapInPandas(score, "doc_id long, score double").collect()
    hits = [(int(r["doc_id"]), float(r["score"])) for r in rows]
    hits.sort(key=lambda x: (-x[1], x[0]))
    return hits[:k]


def _minmax(hits: list[tuple[int, float]]) -> dict[int, float]:
    if not hits:
        return {}
    scores = [s for _, s in hits]
    lo, hi = min(scores), max(scores)
    if hi == lo:
        return {d: 1.0 for d, _ in hits}
    return {d: (s - lo) / (hi - lo) for d, s in hits}


def hybrid_search(
    bm25_hits: list[tuple[int, float]],
    knn_hits: list[tuple[int, float]],
    k: int = 10,
    bm25_weight: float = BM25_WEIGHT,
    knn_weight: float = KNN_WEIGHT,
) -> list[tuple[int, float]]:
    """Min-max normalization + weighted arithmetic mean rank fusion (Q4).

    Mirrors the OpenSearch hybrid-pipeline shape: each retrieved list is
    normalized to [0,1]; docs missing from one list contribute 0 there.
    """
    if k <= 0:
        return []  # a negative k would slice "all but the last"
    nb = _minmax(bm25_hits)
    nk = _minmax(knn_hits)
    fused = {
        d: bm25_weight * nb.get(d, 0.0) + knn_weight * nk.get(d, 0.0)
        for d in set(nb) | set(nk)
    }
    out = sorted(fused.items(), key=lambda x: (-x[1], x[0]))
    return out[:k]


_MARK_OPEN, _MARK_CLOSE = "<mark>", "</mark>"


def highlight_pattern(query_text: str) -> re.Pattern | None:
    """The match pattern of ``highlight``: the query's analyzed terms,
    longest first, case-insensitive. None when the query analyzes to no
    term. Build it once per request and pass it to every ``highlight``
    call of that request."""
    terms = [t for t in analyze_search(query_text) if t]
    if not terms:
        return None
    return re.compile(
        "|".join(re.escape(t) for t in sorted(set(terms), key=len, reverse=True)),
        re.IGNORECASE,
    )


def highlight(text: str, query: str | re.Pattern | None,
              n_fragments: int = 3, frag_len: int = 150) -> list[str]:
    """Matched-term snippets with <mark> tags (Q5 shape,
    src/embedding/mod.rs:612-621): up to ``n_fragments`` windows of
    ``frag_len`` chars centered on query-term occurrences. ``query`` is
    the query text or its :func:`highlight_pattern`."""
    pattern = highlight_pattern(query) if isinstance(query, str) else query
    if pattern is None or not text:
        return []
    fragments: list[str] = []
    used_ranges: list[tuple[int, int]] = []
    for m in pattern.finditer(text):
        if len(fragments) >= n_fragments:
            break
        lo = max(m.start() - frag_len // 2, 0)
        hi = min(lo + frag_len, len(text))
        if any(not (hi <= a or lo >= b) for a, b in used_ranges):
            continue
        used_ranges.append((lo, hi))
        frag = text[lo:hi]
        fragments.append(pattern.sub(lambda x: f"{_MARK_OPEN}{x.group(0)}{_MARK_CLOSE}", frag))
    return fragments
