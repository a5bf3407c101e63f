"""REST serving tier — the ``baram serve`` analog.

Re-implements the reference's API server surface
(``/root/reference/src/commands/serve.rs:311-470, 688-760``) over the
preloaded search engine:

    GET /api/search?q=...&mode=hybrid|keyword|bm25|vector|knn&k=10
        [&category=...&publisher=...&date_from=...&date_to=...
         &threshold=...&bm25_weight=...]
        → {"query", "mode", "total", "results": [SearchResult...]}
    GET /api/health → {"status", "service", "version", ...}

SearchResult mirrors ``src/embedding/mod.rs:88-116``: id ("oid_aid"),
score, title, 500-char content, category, publisher, url, published_at,
highlights (1 title + 3 content fragments).

Architecture note (the 100-TB story): this is the OpenSearch-NODE analog —
one serving process holds the postings (engine ``preload=True``), the doc
metadata projection, and the embedding matrix resident, and answers with
zero Spark jobs. A snapshot reads exactly the generations the manifest
commits: postings, docs and embeddings each from their generation dirs'
part files, never a whole table dir where crashed or superseded
generations may linger. At full scale each such node serves one
shard-set and a thin router fans out/merges (exactly the reference's
OpenSearch topology); Spark remains the build/analytics plane. The stdlib
threaded HTTP server stands in for axum."""

from __future__ import annotations

import json
import threading
from collections.abc import Mapping as _Mapping
from datetime import datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import numpy as np
import pyarrow as pa

from .query.bm25 import DEFAULT_K
from .query.engine import MAX_K, SearchEngine, read_gens
from .query.hybrid import (embed_query, highlight, highlight_pattern,
                           hybrid_search)

VERSION = "0.2.0"

#: the doc-store columns; the types give an empty snapshot its schema
_DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("oid", pa.string()), ("aid", pa.string()),
    ("title", pa.string()), ("text", pa.string()),
    ("category", pa.string()), ("publisher", pa.string()),
    ("url", pa.string()), ("published_at", pa.timestamp("us")),
])


def _parse_date(s: str | None):
    if not s:
        return None
    for fmt in ("%Y-%m-%d", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S"):
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            continue
    raise ValueError(f"bad date: {s!r} (use YYYY-MM-DD[THH:MM:SS])")


class _IvfServing:
    """Node-resident IVF over the snapshot's embedding matrix: spherical
    k-means centroids (shared with operators.similarity.ivf_fit),
    multi-assignment inverted lists, n-probe search. All numpy — zero
    Spark jobs per query, mirroring the reference's in-node HNSW."""

    __slots__ = ("centroids", "lists", "matn", "n_probes")

    def __init__(self, centroids, lists, matn, n_probes):
        self.centroids = centroids
        self.lists = lists
        self.matn = matn
        self.n_probes = n_probes

    @classmethod
    def build(cls, emb: np.ndarray | None = None,
              n_cells: int | None = None,
              n_probes: int | None = None, n_assign: int = 2,
              fit_sample: int = 100_000, seed: int = 42,
              matn: np.ndarray | None = None):
        from .operators.similarity import kmeans_spherical

        if matn is None:
            norms = np.linalg.norm(emb, axis=1)
            norms[norms == 0] = 1.0
            matn = emb / norms[:, None]
        # a caller-supplied matn is SHARED, not copied — the snapshot's
        # normalized matrix serves both the IVF and the exact path, so
        # IVF never doubles the resident footprint
        n = len(matn)
        if n_cells is None:
            n_cells = max(16, int(np.sqrt(n)))  # FAISS rule of thumb
        fit = matn
        if n > fit_sample:  # bound the k-means cost, not the index
            rng = np.random.default_rng(seed)
            fit = matn[rng.choice(n, fit_sample, replace=False)]
        cent = kmeans_spherical(fit, n_cells, seed=seed)
        n_cells = len(cent)
        r = min(max(n_assign, 1), n_cells)
        sims = matn @ cent.T
        if r == 1:
            assign = np.argmax(sims, axis=1)[:, None]
        else:
            assign = np.argpartition(-sims, r - 1, axis=1)[:, :r]
        rows = np.repeat(np.arange(n, dtype=np.int64), r)
        cells = assign.reshape(-1)
        order = np.argsort(cells, kind="stable")
        cells, rows = cells[order], rows[order]
        bounds = np.searchsorted(cells, np.arange(n_cells + 1))
        lists = [rows[bounds[c]:bounds[c + 1]] for c in range(n_cells)]
        if n_probes is None:
            n_probes = max(4, n_cells // 8)
        return cls(cent, lists, matn, min(n_probes, n_cells))

    def candidates(self, qv: np.ndarray) -> np.ndarray:
        probe = np.argsort(-(self.centroids @ qv))[: self.n_probes]
        if not len(probe):
            return np.zeros(0, dtype=np.int64)
        return np.unique(np.concatenate([self.lists[c] for c in probe]))


def _one_chunk(col):
    """Normalize a pyarrow Table column (ChunkedArray) to a single Array."""
    ca = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    if isinstance(ca, pa.ChunkedArray):
        return ca.chunk(0) if ca.num_chunks else pa.array([], type=ca.type)
    return ca


def _group_ids(ids_sorted: np.ndarray, arr,
               keep_null: bool = False) -> dict:
    """value → ascending doc_id array, vectorized via dictionary encoding
    (no per-doc Python loop). ``keep_null=True`` groups null values under
    key None (category semantics); otherwise nulls are dropped
    (publisher semantics — a filter never matches them)."""
    import pyarrow.compute as pc

    arr = _one_chunk(arr)
    enc = pc.dictionary_encode(arr)
    codes = enc.indices.to_numpy(zero_copy_only=False)
    valid = (~np.isnan(codes) if codes.dtype.kind == "f"
             else np.ones(codes.size, dtype=bool))
    vals = enc.dictionary.to_pylist()
    codes_v = codes[valid].astype(np.int64)
    ids_v = ids_sorted[valid]
    order = np.argsort(codes_v, kind="stable")  # stable keeps ids ascending
    bounds = np.searchsorted(codes_v[order], np.arange(len(vals) + 1))
    out = {
        v: ids_v[order[bounds[j]:bounds[j + 1]]]
        for j, v in enumerate(vals)
        if bounds[j + 1] > bounds[j]
    }
    if keep_null and valid.size and not valid.all():
        out[None] = ids_sorted[~valid]
    return out


class _DocStore(_Mapping):
    """Columnar doc-metadata store: a doc_id-sorted int64 index plus the
    pyarrow column arrays, materializing Python objects only for the
    rows actually served.  Replaces the per-doc Python-dict projection
    (≈300 B/doc of dict+box overhead) so a resident node scales past
    10⁷ docs; exposes the full Mapping interface the previous dict
    offered (get/items/values/len/==)."""

    __slots__ = ("ids", "_cols")

    def __init__(self, ids: np.ndarray, cols: dict):
        self.ids = ids          # sorted int64
        self._cols = cols       # name -> pyarrow Array (same row order)

    @classmethod
    def from_table(cls, tbl, denied: set[int]):
        ids = tbl["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64)
        order = np.argsort(ids, kind="stable")
        if denied:
            keep = ~np.isin(ids[order],
                            np.fromiter(denied, dtype=np.int64))
            order = order[keep]
        tbl = tbl.take(pa.array(order, type=pa.int64()))
        return cls(
            ids[order],
            {n: _one_chunk(tbl[n]) for n in tbl.schema.names
             if n != "doc_id"},
        )

    def _row(self, i: int) -> dict:
        return {n: a[i].as_py() for n, a in self._cols.items()}

    def __getitem__(self, doc_id: int) -> dict:
        d = int(doc_id)
        i = int(np.searchsorted(self.ids, d))
        if i >= self.ids.size or int(self.ids[i]) != d:
            raise KeyError(doc_id)
        return self._row(i)

    def __iter__(self):
        return (int(x) for x in self.ids)

    def __len__(self) -> int:
        return int(self.ids.size)

    def column(self, name: str):
        """The raw pyarrow column (snapshot-internal index builds)."""
        return self._cols[name]

    @property
    def nbytes(self) -> int:
        """Resident bytes of the columnar buffers (telemetry/tests)."""
        return int(self.ids.nbytes
                   + sum(a.nbytes for a in self._cols.values()))


class _Snapshot:
    """One immutable resident snapshot: engine + doc metadata + embedding
    matrix. Built off to the side and swapped into ServingContext with a
    single attribute assignment, so a request racing a refresh sees either
    the whole old state or the whole new one, never a mix."""

    __slots__ = ("engine", "meta", "emb_ids", "matn", "emb_norms",
                 "cat_ids", "publisher_ids", "pub", "pub_ids", "events",
                 "ivf", "_emb_raw")

    @property
    def emb(self):
        """Raw embedding matrix, memoized on first access — the snapshot
        holds only the NORMALIZED matrix plus per-row norms (one resident
        copy shared by the exact and IVF paths, instead of raw+normalized
        doubling above ivf_threshold); nothing on the serving hot path
        reads the raw matrix, so the rebuild cost lands only on external
        inspection and is paid once. Values are the normalized round-trip
        (identical to disk up to the last ulp)."""
        if self.matn is None:
            return None
        if self._emb_raw is None:
            self._emb_raw = self.matn * self.emb_norms[:, None]
        return self._emb_raw

    def __init__(self, spark, index_dir: str, prev: "_Snapshot | None" = None,
                 ivf_threshold: int | None = None, ivf_cells: int | None = None,
                 ivf_probes: int | None = None, ivf_assign: int = 2):
        """``prev``: the snapshot this one replaces; its engine's resident
        postings generations are shared where their part files are
        unchanged (see SearchEngine ``reuse``). Everything else — stats,
        tombstones, doc metadata, embeddings and the attribute indexes —
        is re-read with pyarrow from the engine's committed generations'
        dirs; no Spark job runs."""
        from .index import fs

        self.engine = SearchEngine(spark, index_dir, preload=True,
                                   reuse=prev.engine if prev else None)
        base = index_dir.rstrip("/")
        committed = self.engine._committed
        tbl = (read_gens(f"{base}/docs", committed, _DOC_SCHEMA.names)
               if committed else _DOC_SCHEMA.empty_table())
        denied = set(
            int(x) for x in (self.engine._denied.tolist()
                             if self.engine._denied is not None else [])
        )
        # columnar store (doc_id-sorted): python objects materialize only
        # for served hits, so resident footprint is the arrow buffers
        self.meta = _DocStore.from_table(tbl, denied)
        ids_sorted = self.meta.ids
        # filter attribute index, built ONCE per snapshot (refresh), so a
        # filtered request is O(log n + |slice|) array work instead of an
        # O(n_docs) python loop per query (the r2 scale finding):
        #   cat_ids:       category -> sorted doc_id array
        #   publisher_ids: publisher -> sorted doc_id array
        #   pub / pub_ids: published_at-sorted parallel arrays (docs with
        #                  no date excluded — a date filter never matches
        #                  them, same as the reference's range query)
        self.cat_ids = _group_ids(ids_sorted, self.meta.column("category"),
                                  keep_null=True)
        self.publisher_ids = _group_ids(ids_sorted,
                                        self.meta.column("publisher"))
        ts = self.meta.column("published_at").to_numpy(
            zero_copy_only=False).astype("datetime64[us]")
        valid = ~np.isnat(ts)
        order = np.lexsort((ids_sorted[valid], ts[valid]))
        self.pub = ts[valid][order]
        self.pub_ids = ids_sorted[valid][order]

        self.emb_ids = None
        self.matn = None
        self.emb_norms = None
        self._emb_raw = None  # lazy raw-matrix memo (see the property)
        n_emb_committed = 0  # pre-tombstone committed rows (IVF gating)
        emb_dir = f"{base}/embeddings"
        # the committed generations built with embeddings — a
        # compaction/merge retires an embedding gen with its doc gen, so
        # deleted docs' vectors never re-enter knn/hybrid ranking
        emb_gens = [g for g in committed if fs.exists(f"{emb_dir}/gen={g}")]
        if emb_gens:
            tbl = read_gens(emb_dir, emb_gens, ["doc_id", "embedding"])
            ids = tbl["doc_id"].to_numpy(zero_copy_only=False).astype(
                np.int64)
            # zero-copy-ish matrix rebuild: flatten() respects list
            # offsets; reshape is valid because every vector is dim-long.
            # (to_pylist boxed ~n*dim Python floats per refresh — a
            # multi-GB GC spike at 10^7 vectors, measured in review)
            emb_col = tbl["embedding"].combine_chunks()
            # flatten() silently DROPS null list slots, which would shift
            # every later vector against doc_ids (silently wrong knn);
            # ragged rows would mis-split in the reshape. Fail loudly.
            if emb_col.null_count:
                raise ValueError(
                    f"embeddings under {emb_dir}: {emb_col.null_count} "
                    "null embedding rows — refusing to reshape (vectors "
                    "would misalign with doc_ids)")
            if ids.size:
                import pyarrow.compute as pac

                lens = pac.min_max(pac.list_value_length(emb_col))
                if lens["min"].as_py() != lens["max"].as_py():
                    raise ValueError(
                        f"embeddings under {emb_dir}: ragged vector "
                        f"lengths {lens['min']}..{lens['max']} — refusing "
                        "to reshape (vectors would misalign with doc_ids)")
            flat = emb_col.flatten().to_numpy(zero_copy_only=False)
            mat = (flat.astype(np.float64).reshape(ids.size, -1)
                   if ids.size else np.zeros((0, 0)))
            n_emb_committed = int(ids.size)  # pre-tombstone, for IVF gating
            keep = (~np.isin(ids, np.fromiter(denied, dtype=np.int64))
                    if denied else np.ones(ids.size, dtype=bool))
            self.emb_ids, mat = ids[keep], mat[keep]
            if self.emb_ids.size:  # zero rows collapse to a 1-D array
                norms = np.linalg.norm(mat, axis=1)
                norms[norms == 0] = 1.0
                self.emb_norms = norms
                self.matn = mat / norms[:, None]

        # node-resident IVF cell index (the HNSW-serving analog,
        # src/embedding/mod.rs:309-321): above ivf_threshold resident
        # vectors, an unfiltered knn probes only n_probes cells instead of
        # scanning the whole matrix — flat per-query work as the corpus
        # grows. Built once per snapshot; scores are IDENTICAL to the
        # exact path for every candidate surfaced (same normalized-matrix
        # dot product), only recall is traded.
        #
        # Activation is keyed to the GLOBAL committed embedding count, not
        # the node-local matrix: a split-index node (index/split.py) reads
        # the count from its _shard_set.json descriptor, an unsplit index
        # uses its own committed rows (pre-tombstone, the same quantity
        # the descriptor records). Without this, a corpus straddling
        # ivf_threshold would serve EXACT vectors from split nodes while
        # the unsplit engine serves APPROXIMATE — breaking the router's
        # topology-identity contract in both directions.
        n_emb_activation = n_emb_committed
        if self.emb_ids is not None:
            try:
                desc = json.loads(fs.read_text(f"{base}/_shard_set.json"))
                n_emb_activation = int(desc["n_embeddings"])
            except (FileNotFoundError, OSError, ValueError, KeyError):
                pass  # not a split node (or an old descriptor): local count
        self.ivf = None
        if (self.matn is not None and ivf_threshold is not None
                and n_emb_activation >= ivf_threshold):
            self.ivf = _IvfServing.build(
                matn=self.matn, n_cells=ivf_cells, n_probes=ivf_probes,
                n_assign=ivf_assign,
            )

        # event clusters (the clusters.json analog, written by the
        # `cluster` subcommand) — small, resident, served by /api/events
        self.events: list[dict] = []
        ev_dir = f"{base}/clusters"
        if fs.isdir(ev_dir):
            names = sorted(
                n for n in fs.listdir(ev_dir)
                if n.startswith("part-") and n.endswith((".json", ".txt"))
            )
            for n in names:
                for line in fs.read_text(f"{ev_dir}/{n}").splitlines():
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        self.events.append(json.loads(line))
                    except ValueError:
                        # clusters/ is an optional sidecar — one truncated
                        # line (crashed cluster job) must not take down
                        # snapshot construction or /api/refresh
                        continue
            self.events.sort(
                key=lambda e: (-int(e.get("article_count", 0)),
                               e.get("event_id", ""))
            )


class ServingContext:
    """Everything a serving node keeps resident: preloaded postings,
    doc-metadata projection, and the build-time embedding matrix."""

    def __init__(self, spark, index_dir: str, dim: int = 64, embed_fn=None,
                 ivf_threshold: int | None = 100_000,
                 ivf_cells: int | None = None,
                 ivf_probes: int | None = None, ivf_assign: int = 2):
        self.spark = spark
        self.index_dir = index_dir
        self.dim = dim
        # the query-side model swap point — MUST be the model the index's
        # embeddings were built with (IndexBuilder(embed_fn=...)); default
        # is the deterministic hashing-trick stand-in
        self.embed_fn = embed_fn
        # vector-serving scale knobs: when the resident matrix crosses
        # ivf_threshold rows, unfiltered knn goes through the per-snapshot
        # IVF cell index (None disables; the exact path is always used for
        # filtered queries — their allowed sets are selective by contract)
        self._ivf_opts = dict(
            ivf_threshold=ivf_threshold, ivf_cells=ivf_cells,
            ivf_probes=ivf_probes, ivf_assign=ivf_assign,
        )
        # PER-INSTANCE: a class-level lock would serialize refreshes
        # across every context in the process (a multi-node-in-one-
        # process tier refreshing in parallel would time out the router)
        self._refresh_lock = threading.Lock()
        self._snap = _Snapshot(spark, index_dir, **self._ivf_opts)

    # the resident state is read through properties so every consumer sees
    # one _snap object per attribute access chain (handlers grab it once)
    @property
    def engine(self):
        return self._snap.engine

    @property
    def meta(self):
        return self._snap.meta

    @property
    def emb_ids(self):
        return self._snap.emb_ids

    @property
    def emb(self):
        return self._snap.emb

    @property
    def events(self):
        return self._snap.events

    def refresh(self) -> None:
        """Re-open at the latest committed snapshot (OpenSearch _refresh
        analog): builds the new state OFF TO THE SIDE and swaps it in with
        one attribute assignment — concurrent searches keep the old
        snapshot until the swap and never observe a half-built context.
        Postings generations the current snapshot holds are handed over,
        so the cost tracks what changed since, not the index size.
        Serialized: two concurrent POSTs to /api/refresh would otherwise
        each build a snapshot, and the LATER-finishing (possibly
        older-read) build would win the swap."""
        with self._refresh_lock:
            self._snap = _Snapshot(self.spark, self.index_dir,
                                   prev=self._snap, **self._ivf_opts)

    # -- candidate filter (precomputed snapshot attribute index) ----------
    @staticmethod
    def _allowed(snap, category, date_from, date_to, publisher=None):
        if (category is None and date_from is None and date_to is None
                and publisher is None):
            return None
        base = None
        if category is not None:
            base = snap.cat_ids.get(category,
                                    np.empty(0, dtype=np.int64))
        if publisher is not None:
            by_pub = snap.publisher_ids.get(publisher,
                                            np.empty(0, dtype=np.int64))
            base = by_pub if base is None else np.intersect1d(
                base, by_pub, assume_unique=True
            )
        if date_from is not None or date_to is not None:
            i0 = (np.searchsorted(snap.pub, np.datetime64(date_from), "left")
                  if date_from is not None else 0)
            i1 = (np.searchsorted(snap.pub, np.datetime64(date_to), "right")
                  if date_to is not None else snap.pub.size)
            in_range = np.sort(snap.pub_ids[i0:i1])
            base = in_range if base is None else np.intersect1d(
                base, in_range, assume_unique=True
            )
        return base

    def _knn(self, snap, query_text: str, k: int,
             allowed) -> list[tuple[int, float]]:
        if snap.matn is None or snap.emb_ids is None or not snap.emb_ids.size:
            return []
        qv = embed_query(query_text, self.dim, self.embed_fn)
        if allowed is None and snap.ivf is not None:
            # IVF n-probe path (corpus crossed ivf_threshold): candidate
            # scores use the same normalized-matrix dot product as the
            # exact scan, so surfaced hits carry identical values
            cand = snap.ivf.candidates(qv)
            if not cand.size:
                return []
            cos = snap.ivf.matn[cand] @ qv
            ids_c = snap.emb_ids[cand]
            order = np.lexsort((ids_c, -cos))[:k]
            return [(int(ids_c[i]), float(cos[i])) for i in order]
        ids, matn = snap.emb_ids, snap.matn
        if allowed is not None:
            idx = np.searchsorted(allowed, ids)
            idx_c = np.minimum(idx, max(allowed.size - 1, 0))
            mask = (
                (idx < allowed.size) & (allowed[idx_c] == ids)
                if allowed.size else np.zeros(ids.size, dtype=bool)
            )
            ids, matn = ids[mask], matn[mask]
        if not ids.size:
            return []
        # norms are baked into the snapshot's normalized matrix — no
        # per-query norm pass, and bit-identical to the IVF path
        cos = matn @ qv
        order = np.lexsort((ids, -cos))[:k]
        return [(int(ids[i]), float(cos[i])) for i in order]

    def search(self, q: str, mode: str = "hybrid", k: int = DEFAULT_K,
               category: str | None = None, date_from=None, date_to=None,
               threshold: float | None = None,
               bm25_weight: float | None = None,
               publisher: str | None = None) -> dict:
        if k <= 0:  # k=0 means "no hits", not "one hit"
            return {"query": q, "mode": mode, "total": 0, "results": []}
        k = min(k, MAX_K)  # upper cap only; a negative k would slice
        # as "all but the last" and defeat the response cap
        snap = self._snap  # one snapshot per request (refresh-safe)
        allowed = self._allowed(snap, category, date_from, date_to,
                                publisher)

        def bm25(min_score=None):
            # allowed passes through as the sorted ndarray — the engine
            # consumes it directly, no per-request list round-trip
            return snap.engine.search(
                q, k=k, min_score=min_score, mode="local",
                allowed_ids=allowed,
            )

        if mode in ("keyword", "bm25"):
            hits = bm25(min_score=threshold)
        elif mode in ("vector", "knn"):
            hits = self._knn(snap, q, k, allowed)
            if threshold is not None:
                hits = [(d, s) for d, s in hits if s >= threshold]
        elif mode == "hybrid":
            # SearchConfig.bm25_weight (mod.rs:155-157): knn gets the rest
            bw = 0.3 if bm25_weight is None else max(0.0, min(bm25_weight, 1.0))
            hits = hybrid_search(bm25(), self._knn(snap, q, k, allowed), k=k,
                                 bm25_weight=bw, knn_weight=1.0 - bw)
            if threshold is not None:
                # the reference applies min_score to the FINAL hybrid
                # scores (mod.rs:623-624), not to one fusion input
                hits = [(d, s) for d, s in hits if s >= threshold]
        else:
            raise ValueError(f"unknown mode {mode!r}")

        results = []
        pattern = highlight_pattern(q) if hits else None
        for doc_id, score in hits:
            m = snap.meta.get(doc_id)
            if m is None:
                continue
            text = m["text"] or ""
            content = text if len(text) <= 500 else text[:497] + "..."
            pub = m["published_at"]
            results.append(
                {
                    "id": f"{m['oid']}_{m['aid']}",
                    # the router's merge/dedupe key (tie-break is score
                    # desc, doc_id asc — the engine's canonical order);
                    # additive to the reference SearchResult shape
                    "doc_id": int(doc_id),
                    "score": score,
                    "title": m["title"],
                    "content": content,
                    "category": m["category"],
                    "publisher": m["publisher"],
                    "url": m["url"],
                    "published_at": pub.isoformat() if pub else None,
                    "highlights": (
                        highlight(m["title"] or "", pattern, n_fragments=1,
                                  frag_len=100)
                        + highlight(text, pattern)
                    ) or None,
                }
            )
        return {"query": q, "mode": mode, "total": len(results),
                "results": results}

    # -- event clusters (serve.rs:570-627 analog) -------------------------
    def list_events(self, category: str | None = None, offset: int = 0,
                    limit: int = 20) -> dict:
        snap = self._snap
        if not snap.events:
            return {"total": 0, "events": [],
                    "message": ("No clusters found. Run "
                                "'python -m baram_spark cluster' first to "
                                "generate event clusters.")}
        evs = [e for e in snap.events
               if category is None or e.get("category") == category]
        total = len(evs)
        limit = max(0, min(limit, 200))  # reference caps page size at 200
        offset = max(0, min(offset, total))
        return {"total": total, "offset": offset, "limit": limit,
                "events": evs[offset:offset + limit]}

    def get_event(self, event_id: str) -> dict | None:
        for e in self._snap.events:
            if e.get("event_id") == event_id:
                return e
        return None

    def health(self) -> dict:
        return {
            "status": "ok",
            "service": "baram-spark-api",
            "version": VERSION,
            "index_connected": True,
            "document_count": len(self.meta),
        }


def make_server(ctx: ServingContext, host: str = "127.0.0.1",
                port: int = 0) -> ThreadingHTTPServer:
    """Build (without starting) the HTTP server; port 0 picks a free port."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, code: int, obj: dict):
            body = json.dumps(obj, ensure_ascii=False).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):  # noqa: N802 (stdlib API)
            # refresh mutates serving state → POST is the canonical verb
            # (GET kept for back-compat with the reference's probe scripts)
            u = urlparse(self.path)
            if u.path == "/api/refresh":
                try:
                    ctx.refresh()
                    self._send(200, {"refreshed": True,
                                     "document_count": len(ctx.meta)})
                except Exception as e:  # pragma: no cover - defensive 500
                    self._send(500, {"error": f"Refresh failed: {e}",
                                     "code": 500})
            else:
                self._send(404, {"error": "not found", "code": 404})

        def do_GET(self):  # noqa: N802 (stdlib API)
            u = urlparse(self.path)
            qs = {kk: vv[0] for kk, vv in parse_qs(u.query).items()}
            try:
                if u.path == "/api/health":
                    self._send(200, ctx.health())
                elif u.path == "/api/refresh":
                    ctx.refresh()
                    self._send(200, {"refreshed": True,
                                     "document_count": len(ctx.meta)})
                elif u.path == "/api/events":
                    self._send(200, ctx.list_events(
                        category=qs.get("category"),
                        offset=int(qs.get("offset", 0)),
                        limit=int(qs.get("limit", 20)),
                    ))
                elif u.path.startswith("/api/events/"):
                    from urllib.parse import unquote

                    eid = unquote(u.path.rsplit("/", 1)[1])
                    ev = ctx.get_event(eid)
                    if ev is None:
                        self._send(404, {
                            "error": f"Event '{eid}' not found", "code": 404,
                        })
                    else:
                        self._send(200, ev)
                elif u.path == "/api/search":
                    q = (qs.get("q") or "").strip()
                    if not q:
                        self._send(400, {
                            "error": "Query parameter 'q' cannot be empty",
                            "code": 400,
                        })
                        return
                    self._send(200, ctx.search(
                        q,
                        mode=qs.get("mode", "hybrid"),
                        k=int(qs.get("k", DEFAULT_K)),
                        category=qs.get("category"),
                        date_from=_parse_date(qs.get("date_from")),
                        date_to=_parse_date(qs.get("date_to")),
                        threshold=(float(qs["threshold"])
                                   if "threshold" in qs else None),
                        bm25_weight=(float(qs["bm25_weight"])
                                     if "bm25_weight" in qs else None),
                        publisher=qs.get("publisher"),
                    ))
                elif u.path == "/":
                    # endpoint listing (api_root_handler, serve.rs:686-698)
                    self._send(200, {
                        "service": "baram-spark API Server",
                        "version": VERSION,
                        "endpoints": {
                            "health": "GET /api/health",
                            "search": ("GET /api/search?q=<query>"
                                       "&mode=hybrid|keyword|vector&k=10"
                                       "&category=...&publisher=..."
                                       "&date_from=...&date_to=..."
                                       "&bm25_weight=0.3"),
                            "events": ("GET /api/events?category=..."
                                       "&limit=50&offset=0"),
                            "event_detail": "GET /api/events/:event_id",
                            "refresh": "POST /api/refresh",
                        },
                    })
                else:
                    self._send(404, {"error": "not found", "code": 404})
            except ValueError as e:
                self._send(400, {"error": str(e), "code": 400})
            except Exception as e:  # pragma: no cover - defensive 500
                self._send(500, {"error": f"Search failed: {e}", "code": 500})

    return ThreadingHTTPServer((host, port), Handler)


def make_embed_server(embed_fn=None, dim: int = 64,
                      model_name: str | None = None,
                      host: str = "127.0.0.1",
                      port: int = 0) -> ThreadingHTTPServer:
    """The standalone EMBEDDING server (``embedding_server``,
    serve.rs:73-130 analog): the API tier fetches query embeddings from
    this service, so the model runs in exactly one place.

        GET  /health        → {"status", "model", "ready"}
        POST /embed         {"text": ...}  → {"embedding", "dimension"}
        POST /embed/batch   {"texts": [...]} → {"embeddings", "count",
                                                "dimension"}

    ``embed_fn(texts) -> 2-D array`` is the same swap point as the build
    side; the default is the deterministic hashing-trick embedding."""
    import numpy as _np

    from .query.hybrid import hash_embed

    name = model_name or (
        f"hash-embed-{dim}" if embed_fn is None else "custom-embed-fn"
    )

    def run(texts: list[str]):
        if embed_fn is not None:
            return _np.asarray(embed_fn(texts), dtype=_np.float64)
        return _np.stack([hash_embed(t or "", dim) for t in texts])

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, code: int, obj: dict):
            body = json.dumps(obj, ensure_ascii=False).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 (stdlib API)
            u = urlparse(self.path)
            if u.path == "/health":
                self._send(200, {"status": "ok", "model": name,
                                 "ready": True})
            elif u.path == "/":
                self._send(200, {
                    "service": "baram-spark embedding server",
                    "model": name,
                    "endpoints": {
                        "health": "GET /health",
                        "embed": "POST /embed {\"text\": ...}",
                        "embed_batch": "POST /embed/batch {\"texts\": [...]}",
                    },
                })
            else:
                self._send(404, {"error": "not found", "code": 404})

        def do_POST(self):  # noqa: N802 (stdlib API)
            u = urlparse(self.path)
            try:
                n = int(self.headers.get("Content-Length") or 0)
                req = json.loads(self.rfile.read(n) or b"{}")
            except Exception:
                self._send(400, {"error": "invalid JSON body", "code": 400})
                return
            try:
                if u.path == "/embed":
                    text = req.get("text")
                    if not isinstance(text, str):
                        self._send(400, {"error": "'text' must be a string",
                                         "code": 400})
                        return
                    vec = run([text])[0]
                    self._send(200, {"embedding": [float(x) for x in vec],
                                     "dimension": int(vec.shape[0])})
                elif u.path == "/embed/batch":
                    texts = req.get("texts")
                    if (not isinstance(texts, list)
                            or any(not isinstance(t, str) for t in texts)):
                        self._send(400, {
                            "error": "'texts' must be a list of strings",
                            "code": 400,
                        })
                        return
                    mat = run(texts) if texts else None
                    self._send(200, {
                        "embeddings": (
                            [[float(x) for x in row] for row in mat]
                            if mat is not None else []
                        ),
                        "count": len(texts),
                        "dimension": int(mat.shape[1]) if mat is not None
                        else dim,
                    })
                else:
                    self._send(404, {"error": "not found", "code": 404})
            except Exception as e:  # pragma: no cover - defensive 500
                self._send(500, {"error": f"Embedding failed: {e}",
                                 "code": 500})

    return ThreadingHTTPServer((host, port), Handler)


def serve_forever_in_thread(server: ThreadingHTTPServer) -> threading.Thread:
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t
