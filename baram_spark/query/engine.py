"""Distributed BM25 top-k search over the sharded postings index.

Query lifecycle (the Spark-native analog of ``baram search`` →
``VectorStore::search_bm25``, ``/root/reference/src/embedding/mod.rs:469-535``
+ ``src/commands/search.rs:95-159``):

1. analyze the query with the SEARCH analyzer (driver-side, tiny).
2. idf weights from the committed generations' ``term_stats`` (df per
   generation, summed; the resident generations' dicts in local mode, a
   parquet scan with predicate pushdown on the term-sorted files in
   distributed mode) + ``corpus_stats`` summed from their ``gen_meta``
   rows when the engine opens. The committed generations are exactly the
   manifest's list (``fs.committed_gens``); no gen dir is ever listed.
3. postings lookup: ``term IN (...)`` over ``postings/shard=K`` — the index
   is DOCUMENT-sharded (every doc lives in exactly one shard, the
   OpenSearch/Lucene shard model), so each shard holds all query terms for
   its doc subset and can compute exact local BM25 scores.
4. per-segment scoring (``wand.score_segments``). A segment is one
   (generation, shard) pair: docs are disjoint across them, so each one's
   top-k is complete alone, the way Lucene searches each segment on its
   own. Segments are visited in descending bound order (Σ weight × each
   list's largest block-max) and share one threshold θ, the k-th best
   score so far (never below ``min_score``): θ seeds each segment's
   block-max-WAND ``min_score``, and the first segment whose bound is
   below θ ends the query with its lists never built.
   ``mode="distributed"``: the same loop inside each shard's Arrow-batched
   ``applyInPandas`` task over its generations, a scored list decoded from
   its blobs into a ``wand.TermPostings``. ``mode="local"``: the loop on
   the driver over every (gen, shard) of the resident generations
   (``_GenPostings``, each decoded once when it loads), so a query gathers
   blocks and decodes nothing.
5. global k-merge of the per-segment top-k lists (at most k·n_shards rows
   in distributed mode — O(k) driver work), deterministic tie-break
   (score desc, doc_id asc).

Filters from SearchConfig (category / date range / min_score,
``src/embedding/mod.rs:135-175``) apply on the doc-join projection step.
"""

from __future__ import annotations

import functools
import logging

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

import numpy as np

from ..index import fs
from ..index.codec import decode_blockmax, decode_generation
from ..index.fs import spark_url as _sp
from ..textproc.analyzer import analyze_search
from .bm25 import DEFAULT_K, FIELD_BOOSTS, FIELDS, idf
from .wand import (
    TermPostings,
    merge_topk,
    score_blockmax,
    score_exhaustive,
    score_segments,
)

MAX_K = 100  # REST cap, src/commands/serve.rs:426

log = logging.getLogger(__name__)


def _part_files(d: str) -> tuple[tuple[str, int], ...]:
    """(relative path, size) of every parquet part under ``d``, sorted.

    Spark part names carry a per-write UUID, so this listing identifies
    one write of a generation: a generation NUMBER handed out again after
    compact-to-empty + vacuum lists different files. Hidden and
    underscore paths (``_SUCCESS``, ``.crc``, in-flight staging dirs) are
    skipped, as Spark's and pyarrow's dataset discovery skip them. A
    missing committed directory raises: serving it as empty would drop
    documents silently."""
    from pyarrow import fs as pafs

    pa_fs, root = fs.resolve(d)
    infos = pa_fs.get_file_info(pafs.FileSelector(root, recursive=True))
    out = []
    for i in infos:
        if i.type != pafs.FileType.File:
            continue
        rel = i.path[len(root):].lstrip("/")
        if any(part.startswith((".", "_")) for part in rel.split("/")):
            continue
        out.append((rel, int(i.size)))
    return tuple(sorted(out))


def _read_parts(d: str, files, columns: list[str]):
    """``columns`` of the parquet parts ``files`` (a ``_part_files``
    listing) under ``d`` as one pyarrow table; the hive partition
    columns below ``d`` (``gen``, ``shard``) can be selected too."""
    import pyarrow.dataset as ds

    pa_fs, root = fs.resolve(d)
    return ds.dataset([f"{root}/{rel}" for rel, _ in files],
                      format="parquet", filesystem=pa_fs,
                      partitioning="hive", partition_base_dir=root
                      ).to_table(columns=columns)


def read_gens(table_dir: str, gens: list[int], columns: list[str]):
    """``columns`` of exactly generations ``gens`` of a gen-partitioned
    table, read with pyarrow from each generation dir's part-file
    listing. A missing generation dir raises."""
    return _read_parts(table_dir, [
        (f"gen={g}/{rel}", n)
        for g in gens for rel, n in _part_files(f"{table_dir}/gen={g}")
    ], columns)


class _GenPostings:
    """One generation's postings, decoded once when it loads and resident
    on the driver: ``cols`` holds every posting list of the generation as
    flat CSR arrays (``codec.decode_generation``) and
    ``lists[(field, term)] = [(shard, row), ...]`` indexes them.
    ``list_max[row]`` is list ``row``'s largest block-max, its segment
    bound before weight and bound factor. The compressed blobs are not
    kept. ``df[(field, term)]`` is the generation's own term_stats
    (``stats``: its dir) — global over all shards, so a split node's idf
    stays global.

    Immutable once loaded, so consecutive snapshots of a serving node
    share it: a refresh loads only generations it does not already hold.
    ``files`` is the part-file listing it was read from — the reuse key."""

    __slots__ = ("files", "lists", "cols", "list_max", "df")

    def __init__(self, d: str, files: tuple, stats: str):
        self.files = files
        self.lists: dict = {}
        self.cols = None
        self.list_max = None
        ts = fs.read_parquet(stats, columns=["field", "term", "df"])
        self.df = dict(zip(zip(ts["field"].to_pylist(),
                               ts["term"].to_pylist()),
                           ts["df"].to_pylist()))
        if not files:
            return
        tbl = _read_parts(d, files, ["field", "term", "postings", "skips",
                                     "blockmax", "shard"])
        cols = self.cols = decode_generation(tbl["postings"], tbl["skips"],
                                             tbl["blockmax"])
        # a zero-block list bounds nothing; reduceat over the starts of
        # the others covers exactly each one's blocks
        starts = cols.block_offsets[:-1]
        has_blocks = np.diff(cols.block_offsets) > 0
        self.list_max = np.zeros(starts.size, dtype=np.float64)
        if has_blocks.any():
            self.list_max[has_blocks] = np.maximum.reduceat(
                cols.block_max, starts[has_blocks])
        shards = tbl["shard"].to_pylist()
        lists = self.lists
        for row, key in enumerate(zip(tbl["field"].to_pylist(),
                                      tbl["term"].to_pylist())):
            lists.setdefault(key, []).append((int(shards[row]), row))

    def term_postings(self, row: int, field: str, term: str, weight: float,
                      avgdl: float, bound_factor: float) -> TermPostings:
        """List ``row`` as a :class:`TermPostings` over views of ``cols``."""
        return TermPostings(field, term, weight,
                            *self.cols.list_arrays(row), avgdl, bound_factor)


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str,
                 preload: bool = False,
                 reuse: "SearchEngine | None" = None):
        """Local queries score the committed generations' df + postings
        resident in driver memory, decoded once into flat arrays (the
        'open index' serving mode — an OpenSearch node keeps exactly this
        resident), with zero Spark jobs. ``preload=True`` loads them at
        open and refresh, so no query pays for a load; otherwise the first
        local query loads them. Distributed queries read parquet-pruned
        postings and score per shard in executors.

        ``reuse``: an earlier engine over the same index whose resident
        generations this one may share (the serving refresh): only
        generations whose part files it does not hold are read.

        The engine reads the snapshot that was committed when it was
        created; call :meth:`refresh` (the OpenSearch refresh analog) to
        pick up generations committed since."""
        self._preload = preload
        self.spark = spark
        self.index_dir = index_dir.rstrip("/")
        # snapshot-consistency loop: everything below reads several tables
        # over multiple seconds; a compact()/vacuum() committing in that
        # window could pair OLD generations with an already-cleared
        # tombstone set (deletes is the one unversioned table). Re-check
        # the manifest after the reads and re-open if the snapshot moved.
        for _attempt in range(3):
            self._open(reuse)
            m2 = self._load_manifest()
            if ((m2 or {}).get("snapshot_id")
                    == (self._manifest or {}).get("snapshot_id")):
                break
        else:
            # three snapshots moved under us in a row: serve the last
            # consistent-read attempt but say so — a silent fall-through
            # could pair old generations with a newer tombstone set
            log.warning(
                "index %s: snapshot moved during all 3 open attempts; "
                "serving the last read (snapshot_id=%s) which may pair "
                "generations with a newer tombstone set until refresh()",
                self.index_dir, (self._manifest or {}).get("snapshot_id"))

    def _open(self, reuse: "SearchEngine | None" = None) -> None:
        # taken before _resident is rebound below (an in-place refresh
        # passes reuse=self)
        held = (reuse._resident or reuse._held) if reuse is not None else {}
        # snapshot isolation: read ONLY the committed generations — a
        # crashed/in-flight build's partial gen dirs are invisible (the
        # Iceberg-manifest analog) — and ONLY their stats: every
        # generation writes its own immutable gen_meta and term_stats, so
        # the snapshot's global stats are the sum over its generation
        # list. Everything here is a driver-side pyarrow read; the Spark
        # relations of the distributed mode are built on first use (see
        # _postings / _term_stats).
        self._manifest = self._load_manifest()
        self._committed = fs.committed_gens(self._manifest)
        self._postings_df: DataFrame | None = None
        self._term_stats_df: DataFrame | None = None
        meta = [(g, r) for g in self._committed for r in fs.read_parquet(
            f"{self.index_dir}/gen_meta/gen={g}").to_pylist()]
        totals: dict = {}
        for _g, r in meta:
            n, dl = totals.get(r["field"], (0, 0))
            totals[r["field"]] = (n + r["n_docs"], dl + r["dl_sum"])
        self.corpus_stats = {f: (n, dl / n)
                             for f, (n, dl) in totals.items() if n}
        # block-max bound correction per (gen, field): avgdl_now/avgdl_pack
        # capped below at 1 (see wand.TermPostings). Every committed
        # generation has a row per index field.
        self._bound_factor: dict = {}
        for g, r in meta:
            _, avgdl_now = self.corpus_stats.get(r["field"], (0, 0.0))
            pack = r["avgdl_pack"] or avgdl_now
            self._bound_factor[(g, r["field"])] = max(
                1.0, avgdl_now / pack if pack else 1.0)
        # the doc -> shard modulus of the pinned snapshot
        self.n_shards = int((self._manifest or {}).get("n_shards", 1))
        # tombstones (delete_by_query analog): excluded pre-ranking like
        # Lucene deleted docs; reclaimed by IndexBuilder.compact(). The set
        # is small by contract (deleted-docs-bitmap regime) so it rides to
        # executors inside the task closure.
        self._denied = self._load_denied()
        # generation -> its resident postings and df, in generation order;
        # None until loaded (at open when preloaded, else by the first
        # local query). ``_held`` is what a load may share.
        self._resident: dict[int, _GenPostings] | None = None
        self._held = held
        if self._preload:
            self._load_resident()

    def _load_resident(self) -> dict[int, "_GenPostings"]:
        """The committed generations' resident postings, loading them on
        first use. A generation the previous snapshot held with the same
        part files is shared, df and all, not re-read."""
        if self._resident is None:
            resident = {}
            for g in self._committed:
                d = f"{self.index_dir}/postings/gen={g}"
                files = _part_files(d)
                prev = self._held.get(g)
                resident[g] = (
                    prev if prev is not None and prev.files == files
                    else _GenPostings(
                        d, files, f"{self.index_dir}/term_stats/gen={g}"))
            self._resident, self._held = resident, {}
        return self._resident

    @property
    def _postings(self) -> DataFrame:
        """The committed postings as a Spark relation (cluster mode)."""
        if self._postings_df is None:
            self._postings_df = self._gen_read(f"{self.index_dir}/postings")
        return self._postings_df

    @property
    def _term_stats(self) -> DataFrame:
        """The committed generations' term_stats as a Spark relation
        (cluster mode): one (field, term, df) row per generation."""
        if self._term_stats_df is None:
            self._term_stats_df = self._gen_read(
                f"{self.index_dir}/term_stats")
        return self._term_stats_df

    def refresh(self) -> "SearchEngine":
        """Re-open the index at the latest committed snapshot (new
        generations, deletions, compactions become visible) — the S11
        'refresh' analog. Re-runs __init__ in place; resident generations
        whose part files are unchanged are kept, everything else (stats,
        tombstones, file listings) is re-read."""
        self.__init__(self.spark, self.index_dir, preload=self._preload,
                      reuse=self)
        return self

    # ------------------------------------------------------------------
    def _load_manifest(self) -> dict | None:
        # pointer-protocol aware (object stores) with the single-file
        # _manifest.json as the local/legacy path — see fs.read_manifest
        return fs.read_manifest(self.index_dir)

    #: explicit schemas for EMPTY snapshots: a compact-to-empty index
    #: whose gen dirs were vacuumed has nothing left for parquet schema
    #: inference, yet must still open as an empty index
    _POSTINGS_EMPTY = (
        "shard int, field string, term string, salt int, df long, "
        "postings binary, skips binary, blockmax binary, gen int"
    )
    _DOCS_EMPTY = (
        "doc_id long, url string, oid string, aid string, title string, "
        "text string, category string, published_at timestamp, "
        "publisher string, author string, format string, "
        "content_hash string, warc_ts timestamp, lang string, gen int"
    )
    _ATTRS_EMPTY = (
        "doc_id long, shard int, category string, publisher string, "
        "published_at timestamp, gen int"
    )

    def _empty_rel(self, d: str, schema: str) -> DataFrame:
        """Empty relation for dir ``d``: prefer the on-disk schema (keeps
        optional columns like chunk_text) but survive a dir with no
        parquet files left (post-vacuum empty snapshot)."""
        try:
            return self.spark.read.parquet(_sp(d)).filter(F.lit(False))
        except Exception:
            return self.spark.createDataFrame([], schema)

    def _gen_read(self, d: str, empty_schema: str | None = None) -> DataFrame:
        """Read a gen-partitioned table at the committed snapshot; an
        empty committed list is an EMPTY relation, not a whole-dir read."""
        if self._committed:
            return self.spark.read.option("basePath", _sp(d)).parquet(
                *[_sp(f"{d}/gen={g}") for g in self._committed]
            )
        return self._empty_rel(d, empty_schema or self._POSTINGS_EMPTY)

    def _docs(self) -> DataFrame:
        return self._gen_read(f"{self.index_dir}/docs",
                              empty_schema=self._DOCS_EMPTY)

    def _load_denied(self):
        deletes = f"{self.index_dir}/deletes"
        if not fs.exists(deletes):
            return None
        try:
            tbl = fs.read_parquet(deletes)
        except FileNotFoundError:
            # concurrent compact cleared the files between exists and
            # read; the __init__ snapshot re-check re-opens consistently
            return None
        # any OTHER read error must propagate: returning None here would
        # silently RESURRECT tombstoned docs on a transient store error
        # (same fail-closed convention as fs.listdir)
        if "doc_id" not in tbl.column_names:
            return None  # dir left behind with zero files (post-compact)
        ids = tbl["doc_id"].to_numpy()
        if ids.size == 0:
            return None
        return np.unique(ids.astype(np.int64))

    def _doc_attrs(self) -> DataFrame | None:
        """The build-time filter ATTRIBUTE INDEX (doc_id, shard, category,
        published_at), sorted by the filter keys so min-max row-group
        pruning skips non-matching groups — the index-time keyword/date
        field analog (mod.rs:237-330). None on pre-attrs layouts."""
        d = f"{self.index_dir}/doc_attrs"
        dirs = [f"{d}/gen={g}" for g in self._committed]
        if not all(fs.exists(p) for p in dirs):
            # mixed layout (e.g. pre-attrs gens next to new waves):
            # a partial attribute index would silently DROP candidates
            # from the uncovered generations — fall back to docs
            return None
        return self._gen_read(d, empty_schema=self._ATTRS_EMPTY)

    def _allowed_docs(self, category, date_from, date_to, publisher=None):
        """Filter-context candidate set (doc_id, shard) — the reference's
        bool-filter on category / publisher / published_at range
        (mod.rs:509-531).

        The filter is a pushed-down parquet predicate over the doc_attrs
        attribute index (falling back to a column-pruned docs scan on
        old layouts, or when an old attrs layout predates the publisher
        column); doc_attrs carries the shard precomputed with the
        same expression the builder used, so the set cogroups 1:1 with
        the postings shards. Returns None when no filter is active."""
        if (category is None and date_from is None and date_to is None
                and publisher is None):
            return None
        cond = F.lit(True)
        if category is not None:
            cond = cond & (F.col("category") == category)
        if publisher is not None:
            cond = cond & (F.col("publisher") == publisher)
        if date_from is not None:
            cond = cond & (F.col("published_at") >= F.lit(date_from).cast("timestamp"))
        if date_to is not None:
            cond = cond & (F.col("published_at") <= F.lit(date_to).cast("timestamp"))
        attrs = self._doc_attrs()
        if attrs is not None and (publisher is None
                                  or "publisher" in attrs.columns):
            return attrs.filter(cond).select("doc_id", "shard")
        from ..index.build import shard_expr

        return self._docs().filter(cond).select(
            "doc_id", shard_expr(self.n_shards).cast("int").alias("shard")
        )

    def _weights(self, terms: list[str]) -> dict:
        """{(field, term): boost * idf} from global df (the resident
        generations' df dicts once loaded, else one pruned scan)."""
        if not terms:
            return {}
        if self._resident is not None:
            return self._idf_weights(
                (f, t, gp.df.get((f, t))) for gp in self._resident.values()
                for f in FIELDS for t in terms)
        rows = (
            self._term_stats.filter(F.col("term").isin(terms))
            .select("field", "term", "df")
            .collect()
        )
        return self._idf_weights((r["field"], r["term"], r["df"])
                                 for r in rows)

    def _idf_weights(self, dfs) -> dict:
        """{(field, term): boost * idf} from (field, term, df) triples; a
        key repeated over shards and generations sums its df."""
        total: dict = {}
        for f, t, d in dfs:
            total[(f, t)] = total.get((f, t), 0) + int(d or 0)
        weights = {}
        for (f, t), d in total.items():
            n_docs, _ = self.corpus_stats.get(f, (0, 0.0))
            if n_docs and d:
                weights[(f, t)] = FIELD_BOOSTS[f] * idf(n_docs, d)
        return weights

    def _postings_rows(self, terms: list[str]) -> DataFrame:
        cols = ["shard", "field", "term", "df", "postings", "skips", "blockmax"]
        return self._postings.filter(
            F.col("term").isin(terms) & F.col("field").isin(list(FIELDS))
        ).select(*cols, "gen")

    # ------------------------------------------------------------------
    def search(
        self,
        query_text: str,
        k: int = DEFAULT_K,
        min_score: float | None = None,
        mode: str = "distributed",
        prune: bool = True,
        category: str | None = None,
        date_from=None,
        date_to=None,
        allowed_ids=None,
        publisher: str | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k (doc_id, score); rank-identical to the brute-force oracle.

        ``category`` / ``publisher`` / ``date_from`` / ``date_to`` apply
        PRE-ranking as
        filter context (the reference's bool-filter, mod.rs:509-531): the
        candidate set is restricted before top-k, scores of surviving docs
        are unchanged. Distributed mode ships the per-shard allowed sets via
        a shard cogroup (never through the driver); local mode collects them
        (the low-latency serving path, fine for selective filters).

        ``allowed_ids`` lets a serving tier that already holds the doc
        metadata pass a precomputed sorted candidate array directly — zero
        Spark jobs for filtered local-mode queries."""
        if k <= 0:
            return []  # k=0 means "no hits", not "one hit"
        k = min(k, MAX_K)  # upper cap only; negative k would slice
        # "all but the last" in the top-k merges and defeat the cap
        terms = sorted(set(analyze_search(query_text)))
        if not terms:
            return []
        if not self._committed:  # empty snapshot: nothing to score
            return []
        avgdls = {f: self.corpus_stats[f][1] for f in self.corpus_stats}
        scorer = score_blockmax if prune else score_exhaustive
        allowed_flat: np.ndarray | None = None
        allowed_df = None
        if allowed_ids is not None:
            if (category is not None or publisher is not None
                    or date_from is not None or date_to is not None):
                # silently dropping the facets would return unfiltered
                # results; the serving tier intersects facets INTO its
                # precomputed allowed array before calling
                raise ValueError(
                    "allowed_ids cannot be combined with category/"
                    "publisher/date filters — intersect them into "
                    "allowed_ids first")
            # ndarray input (the serving tier's precomputed sorted array)
            # passes straight into np.unique — no python-list round-trip
            arr = (allowed_ids if isinstance(allowed_ids, np.ndarray)
                   else np.asarray(list(allowed_ids), dtype=np.int64))
            allowed_flat = np.unique(arr.astype(np.int64, copy=False))
            if allowed_flat.size == 0:
                return []  # empty candidate set: nothing can match —
                # also avoids a zero-row createDataFrame + full postings
                # scan in distributed mode
            if mode != "local":
                from ..index.build import shard_expr

                allowed_df = self.spark.createDataFrame(
                    pd.DataFrame({"doc_id": allowed_flat})
                ).select(
                    "doc_id",
                    shard_expr(self.n_shards).cast("int").alias("shard"),
                )
        else:
            allowed_df = self._allowed_docs(category, date_from, date_to,
                                            publisher)
        denied = self._denied

        if mode == "local":
            allowed_by_shard: dict[int, np.ndarray] | None = None
            if allowed_flat is not None:
                pass  # one flat membership array serves every shard
            elif allowed_df is not None:
                rows = allowed_df.collect()
                tmp: dict[int, list] = {}
                for r in rows:
                    tmp.setdefault(int(r["shard"]), []).append(int(r["doc_id"]))
                allowed_by_shard = {
                    s: np.sort(np.asarray(ids, dtype=np.int64))
                    for s, ids in tmp.items()
                }
            # weights from the resident df dictionary; each (gen, shard)
            # segment's lists are views into its generation's decoded
            # arrays, built only if the segment is scored — zero Spark
            # jobs, nothing decoded per query
            resident = self._load_resident()
            weights = self._weights(terms)
            by_segment: dict[tuple[int, int], list] = {}
            for (field, term), w in weights.items():
                for gen, gp in resident.items():
                    bf = self._bound_factor[(gen, field)]
                    for shard, row in gp.lists.get((field, term), ()):
                        by_segment.setdefault((gen, shard), []).append((
                            field, term, w, float(gp.list_max[row]) * bf,
                            functools.partial(gp.term_postings, row, field,
                                              term, w, avgdls[field], bf)))
            segments = []
            for (_gen, shard), lists in by_segment.items():
                allowed = allowed_flat
                if allowed is None and allowed_by_shard is not None:
                    allowed = allowed_by_shard.get(shard)
                    if allowed is None:
                        continue  # no doc in this shard passes the filter
                segments.append((lists, allowed))
            return score_segments(segments, k, scorer, min_score, denied)

        weights = self._weights(terms)
        if not weights:
            return []

        # distributed: per-shard scoring in executors, k-merge on driver
        out_schema = "doc_id long, score double"

        bound_factor = dict(self._bound_factor)
        filtered = allowed_df is not None

        def _score_rows(pdf: pd.DataFrame, allowed) -> pd.DataFrame:
            # one shard's rows: each generation is a segment, and a
            # skipped segment's lists are never decoded
            by_gen: dict[int, list] = {}
            for row in pdf.itertuples():
                wkey = (row.field, row.term)
                if wkey not in weights:
                    continue
                bf = bound_factor[(int(row.gen), row.field)]
                blockmax = bytes(row.blockmax)
                bm = decode_blockmax(blockmax)
                by_gen.setdefault(int(row.gen), []).append((
                    row.field, row.term, weights[wkey],
                    float(bm.max()) * bf if bm.size else 0.0,
                    functools.partial(
                        TermPostings.from_blobs, row.field, row.term,
                        weights[wkey], bytes(row.postings), bytes(row.skips),
                        blockmax, avgdls[row.field], bf)))
            hits = score_segments([(lists, allowed)
                                   for lists in by_gen.values()],
                                  k, scorer, min_score, denied)
            return pd.DataFrame(
                {
                    "doc_id": pd.Series([h[0] for h in hits], dtype="int64"),
                    "score": pd.Series([h[1] for h in hits], dtype="float64"),
                }
            )

        if filtered:
            # shard-cogroup: each shard's task receives its postings AND its
            # allowed doc set — no filter set ever crosses the driver.
            def score_shard_filtered(left: pd.DataFrame,
                                     right: pd.DataFrame) -> pd.DataFrame:
                if len(left) == 0 or len(right) == 0:
                    return pd.DataFrame(
                        {"doc_id": pd.Series([], dtype="int64"),
                         "score": pd.Series([], dtype="float64")}
                    )
                allowed = np.sort(right["doc_id"].to_numpy(dtype=np.int64))
                return _score_rows(left, allowed)

            partial_rows = (
                self._postings_rows(terms)
                .groupBy("shard")
                .cogroup(allowed_df.groupBy("shard"))
                .applyInPandas(score_shard_filtered, schema=out_schema)
                .collect()
            )
        else:

            def score_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
                return _score_rows(pdf, None)

            partial_rows = (
                self._postings_rows(terms)
                .groupBy("shard")
                .applyInPandas(score_shard, schema=out_schema)
                .collect()
            )
        partials = [(int(r["doc_id"]), float(r["score"])) for r in partial_rows]
        return merge_topk(partials, k)

    # ------------------------------------------------------------------
    def search_df(self, query_text: str, k: int = DEFAULT_K,
                  min_score: float | None = None,
                  category: str | None = None,
                  date_from=None, date_to=None,
                  publisher: str | None = None,
                  include_highlights: bool = True) -> DataFrame:
        """Search + doc projection (Q6): rank, score, title, url, category,
        publisher, published_at, 500-char content, and (Q5) ``highlights``
        — the reference SearchResult shape (src/embedding/mod.rs:88-116,
        _source projection 608-610, truncation 855-869). category/date
        filters apply PRE-ranking (filter context), so a filtered search
        still returns up to k hits."""
        hits = self.search(query_text, k=k, min_score=min_score,
                           category=category, date_from=date_from,
                           date_to=date_to, publisher=publisher)
        hits_df = self.spark.createDataFrame(
            [(d, s, r) for r, (d, s) in enumerate(hits, 1)],
            "doc_id long, score double, rank int",
        )
        docs = self._docs()
        out = docs.join(F.broadcast(hits_df), "doc_id").select(
            "rank", "doc_id", "score", "title", "url", "category",
            "publisher", "published_at", "text",
            F.expr(
                "case when length(text) > 500 then concat(substring(text,1,497),'...') "
                "else text end"
            ).alias("content"),
        )
        if include_highlights:
            from .hybrid import highlight, highlight_pattern

            pattern = highlight_pattern(query_text)

            def add_highlights(iterator):
                # reference highlight shape (mod.rs:612-621, flattened
                # title-then-content in parse_search_hits 636-655):
                # 1 title fragment + up to 3×150-char content fragments
                for pdf in iterator:
                    pdf = pdf.copy()
                    pdf["highlights"] = [
                        highlight(title or "", pattern, n_fragments=1,
                                  frag_len=100)
                        + highlight(t or "", pattern)
                        for title, t in zip(pdf["title"], pdf["text"])
                    ]
                    yield pdf.drop(columns=["text"])

            schema = (
                "rank int, doc_id long, score double, title string, "
                "url string, category string, publisher string, "
                "published_at timestamp, content string, "
                "highlights array<string>"
            )
            out = out.mapInPandas(add_highlights, schema=schema)
        else:
            out = out.drop("text")
        return out.orderBy("rank")

