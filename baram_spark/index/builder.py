"""Resumable, incrementally-updatable index build orchestration.

Drives the stages in ``build.py`` with per-shard lineage + resume and
Lucene-segment-style GENERATIONS for incremental ingest:

    out_dir/
      docs/gen=G/                 extraction output per generation
      doc_terms/gen=G/shard=K/    tokenized rows (doc-sharded)
      gen_meta/gen=G/             per field: n_docs, dl_sum and the avgdl
                                  G's postings were PACKED with (block-max
                                  bound correction at query time)
      term_stats/gen=G/           per (field, term): G's df, summed over
                                  its shards, sorted by term
      postings/gen=G/shard=K/     packed posting lists
      lineage/                    the resume + metrics ledger

Fresh build = generation 0. ``build_incremental`` appends a new generation:
new pages are prefiltered by ``warc_ts`` (the reference's ``--since`` mtime
filter, ``src/commands/index.rs:115-158``) and anti-joined against already-
indexed urls (the checkpoint/dedup prefilter, ``index.rs:160-175`` +
``storage/dedup.rs:856-970``). Every build keys pages by their canonical
url (``sources.urls.CANONICAL``), as the doc_id is keyed by (oid, aid), so
a legacy variant of a committed url is deduped too. Each document lives in
exactly one generation, so a query scores every generation's postings
independently and exactly; only the block-max BOUNDS need a safety factor
when the global avgdl has grown since a generation was packed (see
query/engine.py).

A generation writes its own gen_meta and term_stats once and never
rewrites them, as a Lucene segment carries its own statistics. The
manifest's generation list is the whole snapshot: a reader sums n_docs,
dl_sum and df over the listed generations, so its global stats can never
belong to another operation.

Each postings shard is an independent lineage entry; a re-run skips
completed shards and rebuilds only missing ones (idempotent dynamic
partition overwrite).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .build import (
    CODEC_VARINT,
    DOC_TERMS_SCHEMA,
    INDEX_FIELDS,
    build_postings,
    extract_docs,
    shard_expr,
    tokenize_docs,
)
from ..sources.urls import with_canonical_url
from . import fs
from .fs import spark_url as _sp
from .lineage import LineageLedger, StageTimer

# extract-stage phasing crossover in pages: at and above it the tokenize
# job runs alone before the other extraction consumers (see
# _stage_extract_tokenize)
PHASE_THRESHOLD = 100_000

# data dirs that carry gen=G partitions (GC / next-gen scans)
_GEN_TABLES = ("docs", "doc_terms", "postings", "embeddings", "doc_attrs",
               "gen_meta", "term_stats")

# doc_terms rows per postings reduce partition (see postings_partitions):
# where a reduce task's packing time matches its fixed cost. Measured at
# local[4] on a 4-vCPU host: a Python reduce task of 250 rows takes
# 0.23 s (median of 16), nearly all of it fixed cost, and the arrow
# packer runs at 0.25-0.29M rows/s — 0.2 s x 0.25M rows/s = 50k rows.
POSTINGS_ROWS_PER_PARTITION = 50_000


def postings_partitions(rows: int, n_shards: int) -> int:
    """Reduce partitions of one postings job over ``rows`` doc_terms rows
    of ``n_shards`` shards: one per POSTINGS_ROWS_PER_PARTITION rows, so
    a small wave pays for few tasks, and at most 4 per shard (the fixed
    layout large builds keep)."""
    return max(1, min(4 * n_shards, -(-rows // POSTINGS_ROWS_PER_PARTITION)))


def _parquet_rows(path: str) -> int:
    """Row count of a parquet dir from its footers (no data read)."""
    import pyarrow.dataset as ds

    pa_fs, p = fs.resolve(path)
    try:
        return ds.dataset(p, format="parquet", filesystem=pa_fs).count_rows()
    except FileNotFoundError:
        return 0


_DOC_COLS = ("doc_id", "url", "oid", "aid", "title", "text", "category",
             "published_at", "publisher", "author", "format",
             "content_hash", "warc_ts", "lang")


def _normalize_docs(docs: DataFrame) -> DataFrame:
    """Conform a pre-parsed documents DataFrame to the docs-table schema:
    required identity/content columns must exist, optional columns get
    defaults (content_hash = sha256(text), format 'imported'), ISO-string
    published_at is cast to timestamp."""
    required = ("doc_id", "url", "oid", "aid", "title", "text")
    missing = [c for c in required if c not in docs.columns]
    if missing:
        raise ValueError(f"build_docs input missing columns: {missing}")
    out = docs.withColumn("doc_id", F.col("doc_id").cast("long"))
    defaults = {
        "category": F.lit(""),
        "published_at": F.lit(None).cast("timestamp"),
        "publisher": F.lit(None).cast("string"),
        "author": F.lit(None).cast("string"),
        "format": F.lit("imported"),
        "content_hash": F.sha2(F.col("text"), 256),
        "warc_ts": F.lit(None).cast("timestamp"),
        "lang": F.lit(None).cast("string"),
    }
    for c, expr in defaults.items():
        if c not in out.columns:
            out = out.withColumn(c, expr)
    if dict(out.dtypes).get("published_at") == "string":
        # tolerate malformed dates (null) like the reference's parser
        out = out.withColumn(
            "published_at",
            F.try_to_timestamp(F.regexp_replace("published_at", "Z$", "")),
        )
    keep = list(_DOC_COLS)
    if "chunk_text" in out.columns:  # the third scored field rides along
        keep.append("chunk_text")
    return out.select(*keep)


def index_n_shards(index_dir: str, default: int = 8) -> int:
    """The shard count an existing index was built with: the committed
    manifest's, as ``SearchEngine`` reads it (every
    build overwrites ``index_meta`` at its start, so only the manifest
    is snapshot-consistent), else ``index_meta`` when nothing is
    committed yet, else ``default``. Maintenance operations MUST open the
    builder with this value — merging with a different n_shards would
    silently re-shard the layout out from under the engine's
    filter-cogroup shard math — so a read error raises."""
    m = fs.read_manifest(index_dir)
    if m is not None:
        return int(m["n_shards"])
    meta = f"{index_dir.rstrip('/')}/index_meta"
    if fs.exists(meta):
        t = fs.read_parquet(meta, columns=["n_shards"])
        if t.num_rows:
            return int(t["n_shards"][0].as_py())
    return default


def read_gen_table(spark: SparkSession, index_dir: str, table: str,
                   gens: list[int]) -> DataFrame:
    """Read generations ``gens`` of a gen-partitioned index table — the
    committed snapshot's, from ``fs.committed_gens``.

    Superseded generations may linger on disk until GC (retention keeps
    pinned readers alive), so a consumer reads exactly the listed
    generation dirs, never the table dir, or it double-counts merged
    docs; a missing listed dir raises. An empty list (every doc
    tombstoned then compacted away) is an EMPTY relation with the
    table's schema."""
    base = f"{index_dir.rstrip('/')}/{table}"
    if not gens:
        return spark.read.parquet(_sp(base)).filter(F.lit(False))
    return spark.read.option("basePath", _sp(base)).parquet(
        *[_sp(f"{base}/gen={g}") for g in gens])


class SnapshotConflictError(RuntimeError):
    """Another writer committed a snapshot after this operation began —
    committing would silently drop its generations (lost update). The
    caller should re-open the index and retry (Iceberg's optimistic-
    concurrency contract)."""


class IndexBuilder:
    """Builds, extends and maintains one index directory.

    ``salt_threshold`` is accepted and ignored: every build packs its
    postings through one unsalted exchange (see ``build.build_postings``).
    It is kept only so that existing callers still construct a builder."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        n_shards: int = 8,
        salt_threshold: int | None = None,
        codec: int = CODEC_VARINT,
        shard_concurrency: int = 2,
        build_embeddings: bool = False,
        embed_fn=None,
        retain_snapshots: int = 2,
    ):
        self.spark = spark
        self.out = out_dir.rstrip("/")
        self.n_shards = n_shards
        self.codec = codec
        self.shard_concurrency = shard_concurrency
        # hybrid search reads build-time embeddings (embeddings/gen=G) —
        # never a per-query full-corpus embedding pass. embed_fn is the
        # model swap point (see query.hybrid.embed_docs).
        self.build_embeddings = build_embeddings
        self.embed_fn = embed_fn
        # snapshots whose generation dirs survive GC (readers pinned to a
        # recent manifest keep their files; see _commit_manifest / vacuum)
        self.retain_snapshots = max(retain_snapshots, 1)
        # fresh builds: few big jobs (full parallelism); resume rebuilds are
        # naturally small. Half the shards per job.
        self.shards_per_job = max(n_shards // 2, 1)
        self.ledger = LineageLedger(spark, f"{self.out}/lineage")
        # doc_terms rows per shard observed by the tokenize write (sizes
        # the postings exchange); keyed by generation
        self._doc_terms_rows: dict[int, dict[int, int]] = {}

    # -- paths ----------------------------------------------------------
    @property
    def docs_path(self):
        return f"{self.out}/docs"

    @property
    def doc_terms_path(self):
        return f"{self.out}/doc_terms"

    @property
    def gen_meta_path(self):
        return f"{self.out}/gen_meta"

    @property
    def term_stats_path(self):
        return f"{self.out}/term_stats"

    @property
    def postings_path(self):
        return f"{self.out}/postings"

    @property
    def deletes_path(self):
        return f"{self.out}/deletes"

    @property
    def embeddings_path(self):
        return f"{self.out}/embeddings"

    @property
    def doc_attrs_path(self):
        return f"{self.out}/doc_attrs"

    def _exists(self, path: str) -> bool:
        return fs.exists(path)

    def codec_stats(self, persist: bool = True) -> dict:
        """Per-codec compression telemetry over the on-disk postings:
        bytes/posting for the postings stream plus skip/blockmax overhead.

        One distributed aggregate — blobs never leave the executors, only
        the per-codec sums do. The codec id is each blob's first byte
        (codec.py CODEC_VARINT=0 / CODEC_FOR=1 / CODEC_PFOR=2). Persisted as
        ``codec_stats.json`` beside gen_meta so codec work has a
        recorded baseline (PFor-with-exceptions landed as CODEC_PFOR)."""
        import json as _json

        if not self._exists(self.postings_path):
            return {}
        p = self.spark.read.parquet(_sp(self.postings_path))
        rows = (
            p.groupBy(
                F.hex(F.substring(F.col("postings"), 1, 1)).alias("cb")
            )
            .agg(
                F.count(F.lit(1)).alias("n_terms"),
                F.sum("df").alias("n_postings"),
                F.sum(F.length("postings")).alias("postings_bytes"),
                F.sum(F.length("skips")).alias("skips_bytes"),
                F.sum(F.length("blockmax")).alias("blockmax_bytes"),
            )
            .collect()
        )
        names = {"00": "varint", "01": "for", "02": "pfor"}
        out = {}
        for r in rows:
            name = names.get(r["cb"].lower(), f"codec_0x{r['cb']}")
            n = max(int(r["n_postings"] or 0), 1)
            pb, sb, bb = (int(r["postings_bytes"]), int(r["skips_bytes"]),
                          int(r["blockmax_bytes"]))
            out[name] = {
                "n_terms": int(r["n_terms"]),
                "n_postings": int(r["n_postings"] or 0),
                "postings_bytes": pb,
                "skips_bytes": sb,
                "blockmax_bytes": bb,
                "bytes_per_posting": round(pb / n, 4),
                "total_bytes_per_posting": round((pb + sb + bb) / n, 4),
            }
        if persist and out:
            fs.write_text(
                f"{self.out}/codec_stats.json",
                _json.dumps(out, sort_keys=True),
            )
        return out

    # -- stage helpers ----------------------------------------------------
    def _stage_extract_tokenize(self, pages, gen, stage_docs, stage_terms,
                                fingerprint, done, metrics, others):
        """Fused extract+tokenize: ONE pass over the pages html.

        The extraction output is persisted (memory, spill to disk) and two
        jobs consume it concurrently — the docs-table write and the
        tokenize→doc_terms write — so the expensive HTML parse happens once
        and the docs parquet round-trip between the stages disappears.
        ``others``: see _stage_tokenize_from.
        """
        stage_emb = f"{stage_docs}.embed"
        docs_done = (stage_docs, 0) in done
        terms_done = (stage_terms, 0) in done
        emb_done = (not self.build_embeddings) or (stage_emb, 0) in done
        if docs_done:
            metrics["resumed_stages"].append(stage_docs)
        if terms_done:
            metrics["resumed_stages"].append(stage_terms)
        if docs_done and terms_done and emb_done:
            # even a fully-resumed build must repair a missing doc_attrs
            # dir (a crash after embeddings but before the attrs write
            # would otherwise leave this generation permanently without
            # its attribute index, silently degrading filtered queries
            # to full docs scans)
            if not self._exists(f"{self.doc_attrs_path}/gen={gen}"):
                on_disk = self.spark.read.parquet(
                    _sp(f"{self.docs_path}/gen={gen}"))
                self._stage_doc_attrs(on_disk, gen)
            return
        if docs_done:
            # docs already on disk: finish the missing stages from parquet
            on_disk = self.spark.read.parquet(_sp(f"{self.docs_path}/gen={gen}"))
            if not terms_done:
                self._stage_tokenize_from(
                    on_disk, gen, stage_terms, fingerprint, metrics, others
                )
            if not emb_done:
                self._stage_embeddings(on_disk, gen, stage_emb, fingerprint)
            if not self._exists(f"{self.doc_attrs_path}/gen={gen}"):
                self._stage_doc_attrs(on_disk, gen)
            return

        from pyspark import StorageLevel

        # corpus size decides the phasing strategy below — for plain
        # parquet input this is a metadata-only count; filtered inputs
        # (incremental waves) pay one cheap pre-pass over the filter
        # columns only (never the html)
        n_pages = pages.count()
        metrics["pages_in"] = n_pages
        extracted = extract_docs(pages).persist(StorageLevel.MEMORY_AND_DISK)
        obs_docs = Observation(stage_docs)
        try:
            with StageTimer() as t:
                errs: list = []

                def write_docs():
                    try:
                        (
                            extracted.observe(
                                obs_docs, F.count(F.lit(1)).alias("rows")
                            )
                            .write.mode("overwrite")
                            .parquet(_sp(f"{self.docs_path}/gen={gen}"))
                        )
                    except Exception as e:  # surfaced below
                        errs.append(e)

                def write_terms():
                    try:
                        if not terms_done:
                            self._stage_tokenize_from(
                                extracted, gen, stage_terms, fingerprint,
                                metrics, others,
                            )
                    except Exception as e:
                        errs.append(e)

                def write_embeddings():
                    try:
                        if not emb_done:
                            self._stage_embeddings(
                                extracted, gen, stage_emb, fingerprint
                            )
                    except Exception as e:
                        errs.append(e)

                def write_attrs():
                    # filter attribute index — JVM-only shuffle+write over
                    # 4 skinny columns of the cached extraction
                    try:
                        self._stage_doc_attrs(extracted, gen)
                    except Exception as e:
                        errs.append(e)

                # Adaptive phasing. Running every consumer concurrently
                # spawns n_jobs × n_cores python workers — a measured hard
                # wall-time floor at 400k docs (3× core oversubscription at
                # local[32]); but at small corpora the lost overlap costs
                # more than the oversubscription (r2 driver bench, 20k
                # docs: extract 4.75 s → 8.01 s). Above the threshold:
                # PHASE 1 runs the tokenize job alone — it materializes the
                # persisted extraction at FULL python-worker parallelism —
                # then PHASE 2 overlaps the cheap cache consumers (docs
                # write is JVM-only parquet IO, embeddings hash cached
                # rows). Below it, every consumer overlaps from the start.
                tasks = [write_docs, write_attrs]
                if not emb_done:
                    tasks.append(write_embeddings)
                if n_pages >= PHASE_THRESHOLD:
                    write_terms()
                else:
                    tasks.insert(0, write_terms)
                with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
                    list(pool.map(lambda f: f(), tasks))
                if errs:
                    raise errs[0]
                n_out = int(obs_docs.get["rows"])
        finally:
            extracted.unpersist()
        self.ledger.record(stage_docs, 0, fingerprint, 0, n_out, t.seconds)
        metrics["docs_per_sec"] = n_out / t.seconds if t.seconds else 0.0
        metrics["extract_seconds"] = t.seconds
        metrics["docs_out"] = n_out

    def _stage_tokenize_from(self, docs, gen, stage, fingerprint, metrics,
                             others):
        """Tokenize ``docs`` into doc_terms/gen=G and write G's gen_meta.

        ``others``: the generations this operation commits beside ``gen``
        (a wave: the snapshot it started from; a compact: the generations
        it has not retired so far and the replacements it staged before
        this one; a merge: none).
        G is packed with the avgdl over them plus G (see _write_gen_meta)."""
        # per-field corpus stats ride along as write observations on the
        # `first` flag — no separate pass over the much larger doc_terms.
        obs = Observation(f"doc_terms_{gen}")
        obs_aggs = [F.count(F.lit(1)).alias("rows")]
        obs_aggs += [
            F.sum(F.when(F.col("shard") == k, 1).otherwise(0)).alias(f"rows_{k}")
            for k in range(self.n_shards)
        ]
        for f in INDEX_FIELDS:
            cond = F.col("field") == f
            obs_aggs.append(
                F.sum(F.when(cond, F.col("first")).otherwise(0)).alias(f"n_{f}")
            )
            obs_aggs.append(
                F.sum(
                    F.when(cond, F.col("dl") * F.col("first")).otherwise(0)
                ).alias(f"dl_{f}")
            )
        with StageTimer() as t:
            (
                tokenize_docs(docs)
                .withColumn("shard", shard_expr(self.n_shards))
                .observe(obs, *obs_aggs)
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(_sp(f"{self.doc_terms_path}/gen={gen}"))
            )
            got = obs.get
            n_out = int(got["rows"])
            self._doc_terms_rows[gen] = {
                k: int(got[f"rows_{k}"] or 0) for k in range(self.n_shards)
            }
            self._write_gen_meta(gen, {
                f: (int(got[f"n_{f}"] or 0), int(got[f"dl_{f}"] or 0))
                for f in INDEX_FIELDS
            }, others)
        self.ledger.record(stage, 0, fingerprint, 0, n_out, t.seconds)
        metrics["tokenize_seconds"] = t.seconds

    def _stage_doc_attrs(self, docs, gen) -> None:
        """Per-snapshot filter ATTRIBUTE INDEX (the analog of the
        reference's index-time keyword/date fields, embedding/mod.rs:
        237-330): a skinny (doc_id, shard, category, publisher,
        published_at) table sorted within partitions by (category,
        publisher, published_at).

        Why not just column-prune the docs table? Parquet pushdown prunes
        ROW GROUPS by min-max, and docs are laid out in ingest order —
        every row group spans every category, so a category filter still
        reads the whole skinny projection. Sorting the attribute table by
        the filter keys makes min-max pruning actually skip row groups, so
        a filtered query's candidate scan stays proportional to the
        selected slice at 100 TB, not to the corpus."""
        import uuid

        final = f"{self.doc_attrs_path}/gen={gen}"
        if fs.exists(final):  # completed by an earlier run (atomic marker)
            return
        # clear any crashed attempt's staging leftovers for this gen
        for d in fs.listdir(self.doc_attrs_path):
            if d.startswith(f".stage_{gen}_"):
                fs.rmtree(f"{self.doc_attrs_path}/{d}")
        staging = f"{self.doc_attrs_path}/.stage_{gen}_{uuid.uuid4().hex}"
        (
            docs.select(
                "doc_id",
                shard_expr(self.n_shards).cast("int").alias("shard"),
                "category",
                "publisher",
                "published_at",
            )
            # tiny rows: few output files, each internally sorted for
            # min-max pruning on (category, publisher, published_at)
            .repartition(max(self.n_shards // 4, 1))
            .sortWithinPartitions("category", "publisher", "published_at")
            .write.mode("overwrite")
            .parquet(_sp(staging))
        )
        # the rename IS the stage's commit marker: a crash mid-write
        # leaves only the staging dir, so the dir-existence checks in
        # resume repair and SearchEngine._doc_attrs never see a partial
        # attribute index (attrs has no ledger row — the final dir's
        # existence is the record)
        fs.rename(staging, final)

    def _stage_embeddings(self, docs, gen, stage, fingerprint) -> None:
        """Build-time doc embeddings (the reference embeds at index time,
        vectorize.rs — hybrid queries must never trigger a corpus-wide
        embedding pass)."""
        from ..query.hybrid import embed_docs

        with StageTimer() as t:
            (
                embed_docs(docs, embed_fn=self.embed_fn)
                .write.mode("overwrite")
                .parquet(_sp(f"{self.embeddings_path}/gen={gen}"))
            )
        self.ledger.record(stage, 0, fingerprint, 0, 0, t.seconds)

    def _gen_meta(self, gen: int) -> list[dict]:
        """One generation's gen_meta rows (field, n_docs, dl_sum,
        avgdl_pack) — a tiny driver-side pyarrow read, no Spark job."""
        return fs.read_parquet(f"{self.gen_meta_path}/gen={gen}").to_pylist()

    def _write_gen_meta(self, gen: int, counts: dict, others) -> None:
        """Write generation ``gen``'s own gen_meta: per field its
        (n_docs, dl_sum) from ``counts``, and avgdl_pack — the avgdl over
        ``others`` plus ``gen``, which ``gen``'s postings are packed with.

        The rows are immutable: a resumed or retried operation packs with
        the avgdl recorded here, whatever has been committed since, and
        the query-time bound factor corrects for the drift."""
        import pyarrow as pa

        from .lineage import write_small_parquet

        totals = dict(counts)
        for g in set(others) - {gen}:
            for r in self._gen_meta(g):
                n, dl = totals.get(r["field"], (0, 0))
                totals[r["field"]] = (n + r["n_docs"], dl + r["dl_sum"])
        avgdl = {f: (dl / n if n else 0.0) for f, (n, dl) in totals.items()}
        write_small_parquet(
            f"{self.gen_meta_path}/gen={gen}",
            pa.table({
                "field": pa.array(list(counts), pa.string()),
                "n_docs": pa.array([n for n, _ in counts.values()],
                                   pa.int64()),
                "dl_sum": pa.array([dl for _, dl in counts.values()],
                                   pa.int64()),
                "avgdl_pack": pa.array([avgdl[f] for f in counts],
                                       pa.float64()),
            }),
            overwrite=True,
        )

    def _stage_postings(self, gen, stage_prefix, fingerprint, done, metrics):
        todo, resumed = [], []
        for k in range(self.n_shards):
            if (stage_prefix, k) not in done:
                todo.append(k)
                continue
            # trust-but-verify: ledger.invalidate cannot tombstone a
            # completion record still IN FLIGHT from a concurrent retry
            # of the same fingerprint, so a conflicting writer's
            # _remove_gen_dirs can leave a "done" shard with no artifact.
            # A shard with doc_terms present but postings absent lost its
            # output — re-run it (a genuinely-empty shard has no
            # doc_terms dir; a completed non-empty one has its postings).
            if (fs.exists(f"{self.doc_terms_path}/gen={gen}/shard={k}")
                    and not fs.exists(
                        f"{self.postings_path}/gen={gen}/shard={k}")):
                todo.append(k)
            else:
                resumed.append(k)
        metrics["resumed_shards"] = sorted(resumed)
        if not todo:
            # fully resumed: skip the avgdl collect
            metrics["postings_built"] = 0
            return
        # the avgdl this generation recorded when it was tokenized
        avgdl_by_field = {r["field"]: r["avgdl_pack"]
                          for r in self._gen_meta(gen)}
        groups = [
            todo[i : i + self.shards_per_job]
            for i in range(0, len(todo), self.shards_per_job)
        ]
        gen_doc_terms = f"{self.doc_terms_path}/gen={gen}"
        gen_postings = f"{self.postings_path}/gen={gen}"
        # the exchange is sized by the rows it moves: the tokenize write
        # observed them, and on resume the doc_terms footers know them
        rows_by_shard = self._doc_terms_rows.pop(gen, None)
        if rows_by_shard is None:
            rows_by_shard = {k: _parquet_rows(f"{gen_doc_terms}/shard={k}")
                             for k in todo}

        def build_group(shard_ids: list[int]) -> tuple[int, int]:
            t0 = time.time()
            # a tiny wave (e.g. two re-indexed urls after a compact freed
            # them) may leave some shards with NO doc_terms rows — the
            # partitioned writer creates no dir for them. Empty shards
            # are complete with zero postings, not read errors.
            present = [k for k in shard_ids
                       if fs.exists(f"{gen_doc_terms}/shard={k}")]
            if not present:
                self.ledger.record_many(
                    [(stage_prefix, k, fingerprint, 0, 0, 0.0)
                     for k in shard_ids]
                )
                return 0, 0
            n_parts = postings_partitions(
                sum(rows_by_shard.get(k, 0) for k in present), len(shard_ids))
            # the schema is known: inferring it would start a footer-read
            # job per group before the write
            shard_terms = (
                self.spark.read.schema(f"{DOC_TERMS_SCHEMA}, shard int")
                .option("basePath", _sp(gen_doc_terms))
                .parquet(*[_sp(f"{gen_doc_terms}/shard={k}")
                           for k in present])
            )
            # build_postings' one exchange is keyed on (shard, term) at
            # this partition count — the write needs no repartition of its
            # own; counts ride along as write observations.
            postings = build_postings(shard_terms, avgdl_by_field, n_parts,
                                      codec=self.codec)
            obs = Observation(f"postings-{gen}-{shard_ids[0]}")
            (
                postings.observe(
                    obs,
                    *[
                        F.sum(
                            F.when(F.col("shard") == k, F.col("df")).otherwise(0)
                        ).alias(f"n{k}")
                        for k in shard_ids
                    ],
                )
                .write.mode("overwrite")
                # dynamic scope ONLY here (a group writes a SUBSET of
                # shards; static overwrite would wipe the others) — as a
                # per-write option, never a session-wide conf mutation
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("shard")
                .parquet(_sp(gen_postings))
            )
            dt = time.time() - t0
            got = obs.get
            counts = {k: int(got[f"n{k}"] or 0) for k in shard_ids}
            per_shard_dt = dt / max(len(shard_ids), 1)
            self.ledger.record_many(
                [
                    (stage_prefix, k, fingerprint, 0, counts.get(k, 0),
                     per_shard_dt)
                    for k in shard_ids
                ]
            )
            return sum(counts.values()), n_parts

        total_postings = 0
        metrics["postings_partitions"] = []  # per shard group, in order
        t0 = time.time()
        if groups:
            with ThreadPoolExecutor(max_workers=self.shard_concurrency) as pool:
                for n_postings, n_parts in pool.map(build_group, groups):
                    total_postings += n_postings
                    metrics["postings_partitions"].append(n_parts)
        metrics["postings_seconds"] = time.time() - t0
        metrics["postings_built"] = total_postings
        if metrics["postings_seconds"] > 0 and total_postings:
            metrics["postings_per_sec"] = (
                total_postings / metrics["postings_seconds"]
            )

    def _stage_term_stats(self, stage, fingerprint, done, metrics,
                          gens: list[int]):
        """Each generation in ``gens`` (the ones this operation staged)
        writes its own term_stats/gen=G: per (field, term), the df of G's
        postings summed over its shards, sorted by term. A reader sums
        them over the committed generations — the global df for idf.

        Runs on the driver with pyarrow — no Spark job. It reads only the
        (field, term, df) columns of G's postings: n_terms × n_shards rows,
        far smaller than doc_terms. The ledger part is the generation, and
        a resume skips a generation whose stats are on disk: they depend
        on G's postings alone, so no concurrent commit can stale them."""
        import pyarrow as pa

        from .lineage import write_small_parquet

        schema = pa.schema([("field", pa.string()), ("term", pa.string()),
                            ("df", pa.int64())])
        n_rows, seconds, built = 0, 0.0, False
        for g in gens:
            out = f"{self.term_stats_path}/gen={g}"
            if (stage, g) in done and fs.exists(out):
                n_rows += _parquet_rows(out)
                continue
            with StageTimer() as t:
                d = f"{self.postings_path}/gen={g}"
                postings = (fs.read_parquet(d, columns=schema.names)
                            if fs.exists(d) else schema.empty_table())
                stats = (
                    postings.group_by(["field", "term"])
                    .aggregate([("df", "sum")])
                    .rename_columns(schema.names)
                    .sort_by([("term", "ascending"), ("field", "ascending")])
                )
                # dictionary pages only where values repeat: the all-unique
                # term column stays plain, as Spark's writer leaves it
                write_small_parquet(out, stats, overwrite=True,
                                    use_dictionary=["field", "df"])
            self.ledger.record(stage, g, fingerprint, 0, stats.num_rows,
                               t.seconds)
            n_rows += stats.num_rows
            seconds += t.seconds
            built = True
        if built:
            metrics["term_stats_seconds"] = seconds
        else:
            metrics["resumed_stages"].append(stage)
        metrics["term_stats_rows"] = n_rows

    def _read_manifest(self) -> dict | None:
        return fs.read_manifest(self.out)

    def committed_generations(self) -> list[int]:
        """The snapshot's generation list: the manifest's, [] before the
        first commit. A crashed earlier build's partial gen dirs are
        never part of it."""
        return fs.committed_gens(self._read_manifest())

    def _begin(self) -> int:
        """Snapshot id this operation bases its commit on (optimistic
        concurrency: the commit aborts if another writer advanced it)."""
        return int((self._read_manifest() or {}).get("snapshot_id", 0))

    def _next_gen(self) -> int:
        """First generation number unused by ANY on-disk gen dir — never
        reuses a number a pinned reader might still resolve."""
        used = set()
        for t in _GEN_TABLES:
            used.update(
                int(d.split("=")[1]) for d in fs.listdir(f"{self.out}/{t}")
                if d.startswith("gen=")
            )
        return (max(used) + 1) if used else 0

    def _commit_manifest(self, gens: list[int],
                         base_sid: int | None = None) -> None:
        """Snapshot-atomic commit point (the Iceberg-manifest analog for
        the parquet layout): a single ``_manifest.json`` swapped via
        tmp+rename AFTER a generation's postings + stats are complete.

        ``gens`` is the EXPLICIT committed-generation list (previous
        manifest's list plus/minus what this operation added or retired) —
        never a directory listing, so a partial generation left by a
        crashed build is never committed by the next successful one. The
        manifest also keeps a short snapshot ``history``; generation dirs
        that FELL OUT of the retained history are GC'd here (readers pinned
        within the retention window keep their files). Dirs never
        referenced by any snapshot — crashed garbage or a concurrent
        writer's in-flight staging — are reclaimed only by ``vacuum``,
        when the caller knows nothing is pinned or in flight.

        Multi-writer safety: the re-read + OCC check + swap run under
        ``fs.commit_lock`` (a true O_EXCL mutex locally; conditional-put
        emulation with a documented residual window on object stores —
        see fs.py's module docstring), and on stores without atomic
        rename the swap itself is the immutable-file + pointer protocol
        (``fs.publish_manifest``). A lost lock race surfaces as
        :class:`SnapshotConflictError` so callers' ``occ_retries``
        machinery retries it like any conflicting commit."""
        import json

        try:
            with fs.commit_lock(self.out):
                self._commit_manifest_locked(gens, base_sid, json)
        except fs.CommitLockError as e:
            raise SnapshotConflictError(
                f"concurrent committer holds the lock on {self.out}: {e}"
            ) from e

    def _commit_manifest_locked(self, gens, base_sid, json) -> None:
        prev = self._read_manifest()
        cur_sid = int((prev or {}).get("snapshot_id", 0))
        if base_sid is not None and cur_sid != base_sid:
            # optimistic concurrency (the Iceberg commit contract): another
            # writer advanced the snapshot while this operation ran, and
            # our gens list was derived from the OLD snapshot — committing
            # would drop its generations. Abort; caller re-opens + retries.
            raise SnapshotConflictError(
                f"snapshot advanced {base_sid} → {cur_sid} during this "
                f"operation; re-open the index and retry"
            )
        gens = sorted({int(g) for g in gens})
        sid = cur_sid + 1
        history = list((prev or {}).get("history", []))
        history.append({"snapshot_id": sid, "generations": gens})
        history = history[-self.retain_snapshots:]
        m = {
            "n_shards": self.n_shards,
            "generations": gens,
            "snapshot_id": sid,
            "history": history,
        }
        fs.publish_manifest(self.out, json.dumps(m))
        # GC at commit reclaims ONLY generations that just fell out of the
        # retained history (superseded by merge/compact and past retention).
        # Never-referenced dirs are left alone: they are either crashed
        # garbage OR another writer's IN-FLIGHT staged generation — under
        # optimistic concurrency a commit must not delete a racing append's
        # staging (the Iceberg contract: commit never removes orphans;
        # `vacuum` does, when the operator knows nothing is in flight).
        prev_ref = {
            int(g)
            for h in (prev or {}).get("history", [])
            for g in h["generations"]
        }
        referenced = {int(g) for h in history for g in h["generations"]}
        for g in sorted(prev_ref - referenced):
            self._remove_gen_dirs(g)

    def _gc_gen_dirs(self, referenced: set[int]) -> set[int]:
        """Remove EVERY gen dir not in ``referenced`` — including crashed
        partial gens — in every gen-partitioned table, and return the
        generations removed. Only safe from :meth:`vacuum` (no writer in
        flight)."""
        removed = set()
        for t in _GEN_TABLES:
            base = f"{self.out}/{t}"
            for d in fs.listdir(base):
                gen = int(d.split("=")[1]) if d.startswith("gen=") else None
                if gen is not None and gen not in referenced:
                    fs.rmtree(f"{base}/{d}")
                    removed.add(gen)
                elif d.startswith(".stage_"):  # crashed attrs staging
                    fs.rmtree(f"{base}/{d}")
        return removed

    def _remove_gen_dirs(self, gen: int) -> None:
        for t in _GEN_TABLES:
            fs.rmtree(f"{self.out}/{t}/gen={gen}")

    def vacuum(self, retain_snapshots: int = 1) -> dict:
        """Expire old snapshots NOW (the Iceberg expire_snapshots analog):
        shrink the manifest history to the newest ``retain_snapshots``
        entries and delete generation dirs nothing retained references.
        Call when the operator knows no reader is pinned past the window
        (e.g. right after a maintenance merge, before re-serving)."""
        import json

        m = self._read_manifest()
        if m is None:
            return {"removed_gens": []}
        base_sid = int(m.get("snapshot_id", 0))
        history = list(m.get("history", []))[-max(retain_snapshots, 1):]
        referenced = {int(g) for h in history for g in h["generations"]}
        referenced |= {int(g) for g in m.get("generations", [])}
        # vacuum is itself an OCC commit: it advances snapshot_id (so a
        # concurrent writer whose base_sid predates the vacuum conflicts
        # and retries instead of committing over the shrunk history), and
        # under the commit lock it aborts if another writer advanced the
        # snapshot since the base read — otherwise that writer's commit
        # would be silently reverted and its fresh generation dirs GC'd.
        #
        # no history append: the retained newest entry already references
        # the live generations — bumping snapshot_id alone gives vacuum
        # its OCC semantics without growing history on every run
        m["history"] = history
        m["snapshot_id"] = base_sid + 1
        try:
            with fs.commit_lock(self.out):
                cur = self._read_manifest()
                cur_sid = int((cur or {}).get("snapshot_id", 0))
                if cur_sid != base_sid:
                    raise SnapshotConflictError(
                        f"snapshot advanced {base_sid} → {cur_sid} during "
                        f"vacuum; re-run vacuum against the new snapshot"
                    )
                fs.publish_manifest(self.out, json.dumps(m))
                removed = self._gc_gen_dirs(referenced)
        except fs.CommitLockError as e:
            raise SnapshotConflictError(
                f"concurrent committer holds the lock on {self.out}: {e}"
            ) from e
        return {"removed_gens": sorted(removed)}

    def _write_index_meta(self) -> None:
        """Record structural facts queries need (n_shards re-derives the
        doc→shard mapping for filter-context cogroups)."""
        import pyarrow as pa

        from .lineage import write_small_parquet

        write_small_parquet(
            f"{self.out}/index_meta",
            pa.table({"n_shards": pa.array([self.n_shards], pa.int32())}),
            overwrite=True,
        )

    # -- public API -------------------------------------------------------
    def build(self, pages: DataFrame, fingerprint: str,
              resume: bool = True) -> dict:
        """Fresh build (generation 0); returns throughput metrics."""
        base_sid = self._begin()
        self._write_index_meta()
        done = self.ledger.completed(fingerprint) if resume else set()
        metrics: dict = {"fingerprint": fingerprint, "gen": 0,
                         "resumed_stages": []}
        others = [g for g in self.committed_generations() if g != 0]
        self._stage_extract_tokenize(
            with_canonical_url(pages), 0, "docs", "doc_terms", fingerprint,
            done, metrics, others,
        )
        self._stage_postings(0, "postings", fingerprint, done, metrics)
        self._stage_term_stats("term_stats", fingerprint, done, metrics, [0])
        self._commit_manifest(others + [0], base_sid=base_sid)
        return metrics

    def build_docs(self, docs: DataFrame, fingerprint: str,
                   resume: bool = True) -> dict:
        """Fresh build from PRE-PARSED documents — the reference `index`
        command's markdown-corpus path (src/commands/index.rs:402-520 →
        bulk index), which bypasses HTML extraction entirely.

        ``docs`` must carry (doc_id, url, oid, aid, title, text) and may
        carry the other docs-table columns; missing optional columns are
        filled with defaults (content_hash = sha256(text), format
        'imported'). Everything downstream of extraction — tokenize,
        doc_attrs, optional embeddings, postings, stats, manifest — is
        the standard pipeline, so queries are indistinguishable from an
        HTML-built index."""
        base_sid = self._begin()
        self._write_index_meta()
        done = self.ledger.completed(fingerprint) if resume else set()
        metrics: dict = {"fingerprint": fingerprint, "gen": 0,
                         "resumed_stages": []}
        gen = 0
        wrote_docs = ("docs", 0) not in done or not self._exists(
            f"{self.docs_path}/gen={gen}"
        )
        if wrote_docs:
            prepared = _normalize_docs(docs)
            obs = Observation("docs_direct")
            with StageTimer() as t:
                (
                    prepared.observe(obs, F.count(F.lit(1)).alias("rows"))
                    .write.mode("overwrite")
                    .parquet(_sp(f"{self.docs_path}/gen={gen}"))
                )
            n_out = int(obs.get["rows"])
            self.ledger.record("docs", 0, fingerprint, 0, n_out, t.seconds)
            metrics["docs_out"] = n_out
        # the docs-on-disk branch finishes tokenize/embeddings/attrs; it
        # marks "docs" resumed unconditionally, so correct the signal for
        # the fresh-write case
        others = [g for g in self.committed_generations() if g != gen]
        self._stage_extract_tokenize(
            None, gen, "docs", "doc_terms", fingerprint,
            done | {("docs", 0)}, metrics, others,
        )
        if wrote_docs and "docs" in metrics["resumed_stages"]:
            metrics["resumed_stages"].remove("docs")
        self._stage_postings(gen, "postings", fingerprint, done, metrics)
        self._stage_term_stats("term_stats", fingerprint, done, metrics,
                               [gen])
        self._commit_manifest(others + [gen], base_sid=base_sid)
        return metrics

    def build_incremental(self, pages: DataFrame, fingerprint: str,
                          since=None, resume: bool = True,
                          occ_retries: int = 0, bloom=None) -> dict:
        """Append a new generation with only NEW pages.

        ``since`` prunes by warc_ts before any content is read (partition
        pruning at scale); the anti-join against indexed urls is the
        dedup/checkpoint tier. Re-running with the same fingerprint resumes
        at per-shard granularity like the base build.

        ``occ_retries``: if another writer advances the snapshot while this
        wave runs (``SnapshotConflictError`` at the commit), retry up to N
        times. A retry resumes this wave's staged generation from the
        ledger (its gen_meta and term_stats are its own, so nothing is
        refolded), re-reads the NEW committed list and commits the union.
        Appends compose under retry; a concurrent merge/compact that
        RETIRED generations still commits correctly (the union is taken
        against its new list). If the
        concurrent writer indexed some of the SAME urls, the staged
        generation is discarded and the wave re-runs against the new
        snapshot, so the no-duplicate-url invariant survives the race.

        ``bloom``: an optional :class:`~baram_spark.operators.bloom.
        CommittedUrlBloom` — a SUPERSET summary of the committed urls
        (the reference's 3-tier dedup fast-reject, dedup.rs:856-970).
        When NO url in this wave might be indexed, the committed-urls
        anti-join is skipped entirely — the common all-new forward-crawl
        case. Only consulted while ``bloom.authoritative`` holds, and
        never on a conflict retry (a concurrent writer's urls are not in
        our filter) — correctness always falls back to the anti-join."""
        attempt = 0
        while True:
            try:
                return self._build_incremental_once(
                    pages, fingerprint, since, resume,
                    bloom=bloom if attempt == 0 else None,
                )
            except SnapshotConflictError:
                # concurrency evidence: another writer committed urls our
                # caller's filter has never seen. The filter is no longer
                # a superset of the committed urls, so it must lose
                # authority for FUTURE waves too (the caller re-seeds or
                # falls back to the anti-join), not just this retry.
                if bloom is not None:
                    bloom.authoritative = False
                attempt += 1
                if attempt > occ_retries:
                    raise

    def _staged_gen_overlaps(self, gen: int, committed: list[int]) -> bool:
        """True when the staged (uncommitted) generation shares any url
        with the committed snapshot — i.e. a concurrent wave indexed some
        of the same pages after this wave's dedup anti-join ran. Disjoint
        staging (the common pure-append race) resumes as-is."""
        gen_dir = f"{self.docs_path}/gen={gen}"
        if not committed or not self._exists(gen_dir):
            return False
        staged = self.spark.read.parquet(_sp(gen_dir)).select("url")
        known = read_gen_table(
            self.spark, self.out, "docs", gens=committed
        ).select("url")
        return staged.join(known, "url", "left_semi").limit(1).count() > 0

    def _build_incremental_once(self, pages: DataFrame, fingerprint: str,
                                since=None, resume: bool = True,
                                bloom=None) -> dict:
        base_sid = self._begin()
        self._write_index_meta()
        done = self.ledger.completed(fingerprint) if resume else set()
        # resume within the same fingerprint keeps ITS generation number
        # (recovered from the ledger stage names — other fingerprints may
        # have appended further generations in between)
        # ".g" guard + isdigit: embed stages are named "docs.gN.embed",
        # whose tail after the last ".g" is "N.embed", not a gen number
        prior_gens = [
            int(tail)
            for stage, _ in done
            if ".g" in stage
            and (tail := stage.rsplit(".g", 1)[1]).isdigit()
        ]
        committed_before = self.committed_generations()
        if prior_gens:
            gen = max(prior_gens)
            docs_gone = (
                gen not in committed_before
                and (f"docs.g{gen}", 0) in done
                and not self._exists(f"{self.docs_path}/gen={gen}")
            )
            if gen not in committed_before and (
                docs_gone or self._staged_gen_overlaps(gen, committed_before)
            ):
                # Two ways a staged generation becomes unresumable:
                # (a) its dirs were reclaimed by a concurrent `vacuum`
                #     (ledger says docs complete, dir gone) — resuming
                #     would take the empty-wave path and silently DROP
                #     the wave's documents;
                # (b) its dedup anti-join ran against an OLDER snapshot
                #     and a concurrent wave has since committed some of
                #     the same urls — resuming would commit duplicates.
                # Either way: discard the staging, invalidate the wave's
                # ledger, and redo against the current snapshot. The
                # discard is concurrency evidence — our bloom may miss
                # the other writer's urls, so it must not skip the
                # anti-join for this wave.
                self._remove_gen_dirs(gen)
                self.ledger.invalidate(fingerprint)
                done = set()
                gen = self._next_gen()
                if bloom is not None:  # same concurrency evidence: the
                    # caller's filter may miss the other writer's urls
                    bloom.authoritative = False
                bloom = None
        else:
            gen = self._next_gen()
        metrics: dict = {"fingerprint": fingerprint, "gen": gen,
                         "resumed_stages": []}
        if since is not None:
            pages = pages.filter(F.col("warc_ts") >= F.lit(since))
        # committed urls are canonical: a legacy or tracking-suffixed
        # variant of one is the same (oid, aid), so the same doc_id
        pages = with_canonical_url(pages)
        if gen > 0 and committed_before:
            skip_dedup = False
            if bloom is not None and getattr(bloom, "authoritative", True):
                # bloom fast-reject tier (3-tier dedup, dedup.rs:856-970):
                # a skinny url-column pass with an Arrow-batched
                # membership test — the html column is never read. Zero
                # maybe-seen urls → the whole anti-join is skipped.
                from ..operators.bloom import membership_udf

                n_maybe = pages.where(
                    membership_udf(bloom)(F.col("url"))
                ).count()
                metrics["bloom_maybe_seen"] = int(n_maybe)
                skip_dedup = n_maybe == 0
            if not skip_dedup:
                # checkpoint anti-join against COMMITTED urls only — a
                # retained superseded gen may hold urls whose docs were
                # deleted in the merge; those must be re-indexable
                known = read_gen_table(
                    self.spark, self.out, "docs", gens=committed_before
                ).select("url")
                pages = pages.join(known, "url", "left_anti")
        stage = lambda name: f"{name}.g{gen}"
        self._stage_extract_tokenize(
            pages, gen, stage("docs"), stage("doc_terms"), fingerprint, done,
            metrics, committed_before,
        )
        if metrics.get("docs_out") == 0 or not self._exists(
            f"{self.docs_path}/gen={gen}"
        ):
            # nothing new in this wave: drop EVERY staged dir of the
            # never-committed generation (the fused stage may have written
            # doc_terms/doc_attrs/embeddings before docs_out was known —
            # leaving them would accumulate one orphan set per empty wave
            # of a caught-up stream) and record the no-op
            self._remove_gen_dirs(gen)
            metrics["postings_built"] = 0
            self._commit_manifest(committed_before, base_sid=base_sid)
            return metrics
        self._stage_postings(gen, stage("postings"), fingerprint, done, metrics)
        self._stage_term_stats(stage("term_stats"), fingerprint, done,
                               metrics, [gen])
        self._commit_manifest(sorted(set(committed_before) | {gen}),
                              base_sid=base_sid)
        return metrics

    # -- deletion (delete_by_query analog, mod.rs:768-818) -----------------
    def deleted_ids(self) -> list[int]:
        """Current tombstone set (sorted doc_ids)."""
        return self._read_tombstones()[0]

    def _read_tombstones(self) -> tuple[list[int], list[str]]:
        """(sorted tombstoned doc_ids, the parquet FILES that carry them).

        compact/merge must clear exactly the files they READ — a
        delete_docs() racing the maintenance job appends a new file, and
        wiping the whole dir afterwards would silently resurrect that
        doc (its tombstone never applied, never preserved)."""
        names = [f for f in fs.listdir(self.deletes_path)
                 if f.endswith(".parquet")]
        ids: set[int] = set()
        for name in names:
            try:
                tbl = fs.read_parquet(f"{self.deletes_path}/{name}")
            except Exception:
                continue
            ids.update(int(i) for i in tbl["doc_id"].to_pylist())
        return sorted(ids), names

    def _clear_tombstones(self, files: list[str]) -> None:
        """Remove exactly the applied tombstone files (see above)."""
        for name in files:
            try:
                fs.remove(f"{self.deletes_path}/{name}")
            except FileNotFoundError:
                pass

    def delete_docs(self, doc_ids) -> int:
        """Tombstone documents by id; returns how many NEW tombstones were
        added. Deleted docs stop appearing in search immediately (the query
        engine excludes the tombstone set pre-ranking, like Lucene deleted
        docs); the postings bytes are reclaimed by :meth:`compact`.

        The tombstone set is assumed small relative to the corpus (the
        Lucene deleted-docs-bitmap regime). Bulk deletions of a large
        fraction of the index should go straight to compact()/rebuild."""
        from pyspark.sql import DataFrame as _DF

        if isinstance(doc_ids, _DF):
            ids = sorted(
                int(r["doc_id"])
                for r in doc_ids.select("doc_id").distinct().collect()
            )
        else:
            ids = sorted({int(x) for x in doc_ids})
        existing = set(self.deleted_ids())
        new = [i for i in ids if i not in existing]
        if new:
            import pyarrow as pa

            from .lineage import write_small_parquet

            write_small_parquet(
                self.deletes_path,
                pa.table({"doc_id": pa.array(new, pa.int64())}),
            )
        return len(new)

    def delete_by_query(self, predicate: str) -> int:
        """Tombstone every indexed doc matching a SQL predicate over the
        docs table (the ``delete_by_query`` analog, mod.rs:768-818) —
        e.g. ``"category = 'sports'"`` or ``"url = '...'"``. The predicate
        is a pushed-down parquet filter; returns the number tombstoned."""
        docs = read_gen_table(self.spark, self.out, "docs",
                              self.committed_generations()).filter(predicate)
        return self.delete_docs(docs.select("doc_id"))

    def compact(self, fingerprint: str | None = None) -> dict:
        """Physically remove tombstoned docs: each affected generation's
        surviving docs are rewritten into a FRESH generation number (docs +
        doc_terms + postings + embeddings + its own gen_meta and
        term_stats), the manifest commits the swap, and the tombstone set is
        cleared. Generations containing no tombstoned doc are untouched
        (per-generation compaction — the Lucene segment-merge shape).

        Writing a NEW gen instead of overwriting in place means (a) a
        shard whose compacted output is empty can never leave stale files
        behind under dynamic partition overwrite, and (b) readers pinned to
        the previous snapshot keep their gen dirs until GC retention
        expires them."""
        import time as _time

        base_sid = self._begin()
        deleted, del_files = self._read_tombstones()
        result = {"tombstones": len(deleted), "compacted_gens": [],
                  "dropped_gens": [], "new_gens": []}
        if not deleted:
            return result
        fp = fingerprint or f"compact-{int(_time.time())}"
        del_df = F.broadcast(
            self.spark.createDataFrame([(i,) for i in deleted], "doc_id long")
        )
        committed = list(self.committed_generations())
        next_gen = self._next_gen()
        new_committed = list(committed)
        for gen in committed:
            gen_dir = f"{self.docs_path}/gen={gen}"
            docs_gen = self.spark.read.parquet(_sp(gen_dir))
            if docs_gen.join(del_df, "doc_id", "left_semi").isEmpty():
                continue
            kept = docs_gen.join(del_df, "doc_id", "left_anti")
            new_committed.remove(gen)
            result["compacted_gens"].append(gen)
            if kept.isEmpty():
                # every doc in the generation was tombstoned: the gen
                # simply leaves the snapshot (no replacement gen)
                result["dropped_gens"].append(gen)
                continue
            g2 = next_gen
            next_gen += 1
            kept.write.mode("overwrite").parquet(
                _sp(f"{self.docs_path}/gen={g2}")
            )
            kept_disk = self.spark.read.parquet(_sp(f"{self.docs_path}/gen={g2}"))
            # packed with the avgdl over the generations not retired so
            # far and the replacements staged before this one
            self._stage_tokenize_from(
                kept_disk, g2, f"doc_terms.g{g2}", fp, {}, new_committed,
            )
            self._stage_postings(g2, f"postings.g{g2}", fp, set(), {})
            self._stage_doc_attrs(kept_disk, g2)
            emb_dir = f"{self.embeddings_path}/gen={gen}"
            if self._exists(emb_dir):
                (
                    self.spark.read.parquet(_sp(emb_dir))
                    .join(del_df, "doc_id", "left_anti")
                    .write.mode("overwrite")
                    .parquet(_sp(f"{self.embeddings_path}/gen={g2}"))
                )
            new_committed.append(g2)
            result["new_gens"].append(g2)
        if result["new_gens"]:
            self._stage_term_stats(f"term_stats.{fp}", fp, set(), {},
                                   result["new_gens"])
        # commit FIRST: a crash before the manifest swap must leave the
        # old snapshot live WITH its tombstones still excluding docs
        self._commit_manifest(new_committed, base_sid=base_sid)
        self._clear_tombstones(del_files)
        return result

    def merge_generations(self, fingerprint: str | None = None) -> dict:
        """Consolidate ALL committed generations (and pending tombstones)
        into ONE fresh generation — the Lucene segment-merge analog.

        Many small generations cost queries one posting-list row per
        (gen, shard, term) and one bound-correction factor each; merging
        restores the single-generation layout and re-packs every posting
        list with the current global avgdl (bound factors return to 1).
        At scale this is the periodic maintenance job, run when
        n_generations or the tombstone count crosses a threshold.

        The merged output is staged under a NEW generation number and only
        becomes visible at the manifest commit — a crash mid-merge leaves
        the previous snapshot fully live, and readers pinned to it keep
        their gen dirs until GC retention (or an explicit :meth:`vacuum`)
        expires them. No data dir is ever removed before the commit."""
        import time as _time

        base_sid = self._begin()
        gens = self.committed_generations()
        deleted, del_files = self._read_tombstones()
        if len(gens) <= 1 and not deleted:
            return {"merged_gens": gens, "docs": None}
        fp = fingerprint or f"merge-{int(_time.time())}"
        new_gen = self._next_gen()
        docs = read_gen_table(self.spark, self.out, "docs", gens).drop("gen")
        del_df = None
        if deleted:
            del_df = F.broadcast(
                self.spark.createDataFrame(
                    [(i,) for i in deleted], "doc_id long"
                )
            )
            docs = docs.join(del_df, "doc_id", "left_anti")
        docs.write.mode("overwrite").parquet(
            _sp(f"{self.docs_path}/gen={new_gen}")
        )
        merged = self.spark.read.parquet(_sp(f"{self.docs_path}/gen={new_gen}"))
        # the merged gen is the whole corpus: it commits alone
        self._stage_tokenize_from(merged, new_gen, f"doc_terms.{fp}", fp, {},
                                  [])
        self._stage_postings(new_gen, f"postings.{fp}", fp, set(), {})
        self._stage_doc_attrs(merged, new_gen)
        emb_gens = [g for g in gens
                    if self._exists(f"{self.embeddings_path}/gen={g}")]
        if emb_gens:
            emb = read_gen_table(self.spark, self.out, "embeddings",
                                 emb_gens).drop("gen")
            if del_df is not None:
                emb = emb.join(del_df, "doc_id", "left_anti")
            emb.write.mode("overwrite").parquet(
                _sp(f"{self.embeddings_path}/gen={new_gen}")
            )
        self._stage_term_stats(f"term_stats.{fp}", fp, set(), {}, [new_gen])
        self._commit_manifest([new_gen], base_sid=base_sid)
        self._clear_tombstones(del_files)
        return {"merged_gens": gens, "new_gen": new_gen,
                "tombstones_applied": len(deleted),
                "docs": merged.count()}

    def generations(self) -> list[int]:
        return sorted(
            int(d.split("=")[1])
            for d in fs.listdir(self.postings_path)
            if d.startswith("gen=")
        )
