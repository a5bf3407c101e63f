"""Index build pipeline: pages → docs → doc_terms → sharded postings.

The Spark-native analog of ``baram index`` (``/root/reference/src/commands/
index.rs:36-359``), re-architected for 10^12-doc scale:

    pages ──extract UDF──▶ docs            (narrow; no shuffle)
    docs  ──analyze UDF──▶ doc_terms       (narrow; tf+dl computed in-batch)
    doc_terms ─repartition(shard,term)─▶ packed postings   (THE shuffle)

Scale levers, explicit per the north_rule:

- **Sharding**: DOCUMENT-sharded (the OpenSearch/Lucene shard model,
  ``src/embedding/mod.rs:241``): ``shard = pmod(xxhash64(doc_id),
  n_shards)`` (see :func:`shard_expr`), so every shard holds all query
  terms for its doc subset and computes exact local BM25 scores; the
  query engine fans out to every shard and k-merges (engine.py). Term
  pruning happens WITHIN a shard via the term-sorted parquet files'
  row-group min-max, not by shard routing.
- **Skew**: bounded by the document sharding itself. A term sends at
  most one doc_terms row per doc of its shard into the exchange keyed
  (shard, term), so a Zipf-head term's reducer input is bounded by its
  shard's doc count, while the shard's other terms spread over up to 4
  reduce partitions (see ``builder.postings_partitions``). The packer
  consumes its partition in ``PACK_CHUNK_ROWS`` chunks, so its working
  set stays bounded however large the partition grows.
- **Map-side pre-aggregation**: tf and dl are computed inside the tokenize
  batch (one row per (doc, field, term) leaves the mapper — never one row
  per token).
- **Resume**: each shard's postings build is an independent job recording a
  lineage row; re-runs skip shards already present (see lineage.py), the
  analog of Baram's checkpoint id-prefilter (``src/commands/index.rs:160-194``).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..textproc.analyzer import analyze_index
from ..textproc.extract import extract_batch
from .codec import CODEC_VARINT, encode_many, merge_postings

DOCS_SCHEMA = (
    "doc_id long, url string, oid string, aid string, title string, "
    "text string, category string, published_at timestamp, publisher string, "
    "author string, format string, content_hash string"
)

DOC_TERMS_SCHEMA = (
    "doc_id long, field string, term string, tf int, dl int, first int"
)

# arrow-pack working-set bound: a packer task buffers at most this many
# rows at once (one chunk ≈ 7 int64 columns + two short strings ≈ 0.4 GB
# at 4M rows, plus the sort's index array). Partitions larger than a
# chunk — a reduce partition grows with its shard's doc count — are
# packed chunk-wise and merged group-wise (see _pack_partition_arrow).
PACK_CHUNK_ROWS = 4_000_000
# per-emitted-RecordBatch cap on binary payload: pa.binary() carries
# 32-bit offsets, so one array tops out at 2 GiB total bytes; a reduce
# partition grows with its shard's doc count, so the packer slices its
# output at this boundary instead of trusting partition size
PACK_EMIT_BYTES_CAP = 1 << 30

# the three scored fields of the reference's bool-should query
# (mod.rs:475-501); chunk_text postings exist only when docs carry chunks
INDEX_FIELDS = ("title", "content", "chunk_text")

POSTINGS_SCHEMA_SPARK = (
    "shard int, field string, term string, salt int, df long, "
    "postings binary, skips binary, blockmax binary"
)


def extract_docs(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, ...) → docs; deleted/unparseable dropped.

    One narrow stage: the Arrow-batched extraction UDF (E1-E16 +
    sanitize chain) runs where the scan runs — no shuffle.
    """
    cols = pages.columns

    def run(iterator):
        for pdf in iterator:
            out = extract_batch(pdf["html"], pdf["url"])
            # both optional columns degrade to null, not an
            # executor-side KeyError after the job is already scheduled
            out["warc_ts"] = (pdf["warc_ts"].values
                              if "warc_ts" in pdf else None)
            out["lang"] = pdf["lang"].values if "lang" in pdf else None
            yield out

    schema = DOCS_SCHEMA + ", warc_ts timestamp, lang string"
    sel = [c for c in ("url", "warc_ts", "html", "lang") if c in cols]
    return (
        pages.select(*sel)
        .mapInPandas(run, schema=schema)
        .filter(F.col("text").isNotNull())
    )


def tokenize_docs(docs: DataFrame) -> DataFrame:
    """docs → doc_terms(doc_id, field, term, tf, dl).

    tf and dl are computed inside the Arrow batch (map-side combine before
    the shuffle even sees the data). Output is one row per distinct
    (doc, field, term) — the minimal shuffle payload.

    Docs may carry an optional ``chunk_text`` column (the reference's third
    match field, mod.rs:493-501); it tokenizes as field "chunk_text". Absent
    column → zero chunk postings, rankings identical to the 2-field index.
    """
    has_chunks = "chunk_text" in docs.columns

    def run(iterator):
        for pdf in iterator:
            rows_doc, rows_field, rows_term = [], [], []
            rows_tf, rows_dl, rows_first = [], [], []
            chunks = (
                pdf["chunk_text"].tolist() if has_chunks else [None] * len(pdf)
            )
            for doc_id, title, text, chunk in zip(
                pdf["doc_id"].tolist(), pdf["title"].tolist(),
                pdf["text"].tolist(), chunks,
            ):
                for fname, ftext in (
                    ("title", title), ("content", text),
                    ("chunk_text", chunk),
                ):
                    tokens = analyze_index(ftext or "")
                    if not tokens:
                        continue
                    dl = len(tokens)
                    first = 1  # flags one row per (doc, field): free
                    # per-doc stats via write observations downstream
                    for term, tf in Counter(tokens).items():
                        rows_doc.append(doc_id)
                        rows_field.append(fname)
                        rows_term.append(term)
                        rows_tf.append(tf)
                        rows_dl.append(dl)
                        rows_first.append(first)
                        first = 0
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows_doc, dtype="int64"),
                    "field": rows_field,
                    "term": rows_term,
                    "tf": pd.Series(rows_tf, dtype="int32"),
                    "dl": pd.Series(rows_dl, dtype="int32"),
                    "first": pd.Series(rows_first, dtype="int32"),
                }
            )

    cols = ["doc_id", "title", "text"] + (["chunk_text"] if has_chunks else [])
    return docs.select(*cols).mapInPandas(run, schema=DOC_TERMS_SCHEMA)


# a group table: one row per (shard, field, term, salt) posting list, salt
# always 0 (the column stays so existing indexes still read). The packer
# holds its groups and chunk partials in this layout and emits it through
# _emit; the blob columns are large_binary so a task's groups may exceed
# the 2 GiB that pa.binary()'s 32-bit offsets allow
_GROUP_SCHEMA = pa.schema(
    [
        ("shard", pa.int32()),
        ("field", pa.string()),
        ("term", pa.string()),
        ("salt", pa.int32()),
        ("df", pa.int64()),
        ("postings", pa.large_binary()),
        ("skips", pa.large_binary()),
        ("blockmax", pa.large_binary()),
    ]
)
_OUT_SCHEMA = pa.schema(
    [f.with_type(pa.binary()) if pa.types.is_large_binary(f.type) else f
     for f in _GROUP_SCHEMA]
)
_BLOB_COLUMNS = ("postings", "skips", "blockmax")


def _numpy(col) -> np.ndarray:
    """An integer Arrow column as int64 numpy."""
    return col.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def _group_key(shard: np.ndarray, field, salt: np.ndarray, term):
    """Fold each row's (shard, field, salt, term) into ONE int64 key.

    ``field`` and ``term`` are dictionary-encoded (hash-based, C++, no
    string sort, no Python string objects). Returns ``(key, fnames,
    fcode)``: the keys plus the field dictionary and each row's code."""
    fdict = field.dictionary_encode()
    fcode = _numpy(fdict.indices)
    fnames = fdict.dictionary.to_pylist()
    tcode = _numpy(term.dictionary_encode().indices)
    # salt < 64 (6 key bits), term codes < 2^32 (a table holds < 2^32
    # rows); the shard/field product must leave 38 low bits free
    if salt.size and int(salt.max()) >= 64:
        raise ValueError("salt factor exceeds 64: key fold invalid")
    hi = (int(shard.max()) + 1) * len(fnames) if shard.size else 0
    if hi >= (1 << 25):
        raise ValueError(f"shard*field cardinality {hi} overflows key")
    key = (((shard * len(fnames) + fcode) << 6 | salt) << 32) | tcode
    return key, fnames, fcode


def _runs(skey: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of the equal-key runs of a sorted key array."""
    change = np.empty(skey.size, dtype=bool)
    change[0] = True
    change[1:] = skey[1:] != skey[:-1]
    starts = np.flatnonzero(change)
    return starts, np.append(starts[1:], skey.size)


def _avgdl_lut(fnames: list, avgdl_by_field: dict) -> np.ndarray:
    return np.array([avgdl_by_field.get(f, 1.0) for f in fnames],
                    dtype=np.float64)


def _pack_table(tbl, avgdl_by_field: dict, codec: int):
    """One buffered chunk of doc_terms rows → its group table (groups in
    key order): ``np.lexsort((doc_id, key))`` — a fixed-width integer
    sort — then ``encode_many`` over the key runs."""
    term = tbl.column("term").combine_chunks()
    field = tbl.column("field").combine_chunks()
    shard = _numpy(tbl.column("shard"))
    salt = _numpy(tbl.column("salt"))
    ids = _numpy(tbl.column("doc_id"))
    tfs = _numpy(tbl.column("tf"))
    dls = _numpy(tbl.column("dl"))
    del tbl
    key, fnames, fcode = _group_key(shard, field, salt, term)
    order = np.lexsort((ids, key))
    starts, ends = _runs(key[order])
    gpos = order[starts]
    avgdl = _avgdl_lut(fnames, avgdl_by_field)[fcode[gpos]]
    blobs, skips, bmax = encode_many(
        ids[order], tfs[order], dls[order], starts, ends,
        np.repeat(avgdl, ends - starts), codec=codec,
    )
    return pa.Table.from_arrays(
        [
            pa.array(shard[gpos], pa.int32()),
            field.take(gpos),
            term.take(gpos),
            pa.array(salt[gpos], pa.int32()),
            pa.array(ends - starts, pa.int64()),
            pa.array(blobs, pa.large_binary()),
            pa.array(skips, pa.large_binary()),
            pa.array(bmax, pa.large_binary()),
        ],
        schema=_GROUP_SCHEMA,
    )


def merge_chunks(tables: list, avgdl_by_field: dict, codec: int):
    """Group-wise merge of partial group tables into one group table.

    Rows with the same (shard, field, salt, term) are one group. A group
    held by several rows goes through :func:`codec.merge_postings`
    (decode, stable doc_id sort — table order preserved for equal ids,
    matching a whole-partition lexsort — re-encode); a group held by one
    row passes through byte-identical."""
    t = pa.concat_tables(tables).combine_chunks()
    shard = _numpy(t.column("shard"))
    key, fnames, fcode = _group_key(
        shard, t.column("field").combine_chunks(), _numpy(t.column("salt")),
        t.column("term").combine_chunks())
    order = np.argsort(key, kind="stable")
    starts, ends = _runs(key[order])
    runs = ends - starts
    pos0 = order[starts]
    out = t.take(pos0)
    out = out.set_column(
        out.schema.get_field_index("df"), "df",
        pa.array(np.add.reduceat(_numpy(t.column("df"))[order], starts)))
    midx = np.flatnonzero(runs > 1)
    if midx.size:
        # partials of the split groups, in (group, table order)
        part_idx = order[np.flatnonzero(np.repeat(runs > 1, runs))]
        merged = merge_postings(
            t.column("postings").take(part_idx),
            t.column("skips").take(part_idx),
            np.repeat(np.arange(midx.size), runs[midx]),
            _avgdl_lut(fnames, avgdl_by_field)[fcode[pos0[midx]]], codec,
        )
        # row midx[k] takes merged list k: index past the passthrough rows
        src = np.arange(pos0.size)
        src[midx] = pos0.size + np.arange(midx.size)
        for name, blobs in zip(_BLOB_COLUMNS, merged):
            col = pa.concat_arrays([out.column(name).combine_chunks(),
                                    pa.array(blobs, pa.large_binary())])
            out = out.set_column(out.schema.get_field_index(name), name,
                                 col.take(src))
    return out


def _emit(groups):
    """A group table → RecordBatches of the postings schema.

    Groups are sorted by (shard, field, term, salt) so the parquet
    writer's files keep term-lexicographic row-group min/max pruning
    (Arrow compares strings as UTF-8 bytes, which is Spark's UTF8String
    ordering). The output is sliced at PACK_EMIT_BYTES_CAP so no
    string/binary column's 32-bit offsets overflow (2 GiB/array): the
    payload counts the term bytes as well as the three blobs. Slices are
    contiguous in the sorted order, so the ordering the writer prunes on
    holds across the yielded batches."""
    groups = groups.take(pc.sort_indices(groups, sort_keys=[
        ("shard", "ascending"), ("field", "ascending"),
        ("term", "ascending"), ("salt", "ascending")]))
    payload = sum(_numpy(pc.binary_length(groups.column(c)))
                  for c in ("term",) + _BLOB_COLUMNS)
    cum = payload.cumsum()
    n = groups.num_rows
    n_slices = int(cum[-1] // PACK_EMIT_BYTES_CAP) + 1 if n else 1
    cuts = np.searchsorted(
        cum, np.arange(1, n_slices) * PACK_EMIT_BYTES_CAP, side="right")
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, n]):
        if lo < hi:
            yield from groups.slice(lo, hi - lo).cast(_OUT_SCHEMA).to_batches()


def _pack_partition_arrow(avgdl_by_field: dict, codec: int,
                          chunk_rows: int | None = None):
    """mapInArrow packer over an UNSORTED partition of doc_terms rows.

    There is no ``sortWithinPartitions`` before it and no Arrow→pandas
    conversion: the JVM comparison sort of 30M UnsafeRows with multi-byte
    string keys and the pandas object conversion of the term column were
    the two dominant non-scaling costs of the postings stage (measured at
    400k docs / 30M postings, local[8]/local[32]: JVM-sorted pandas pack
    29.5 s / 20.7 s → this path 21.7 s / 17.6 s, byte-identical output).
    Each chunk is grouped Python-side (:func:`_pack_table`).

    **Memory bound**: the partition is consumed in chunks of
    ``chunk_rows`` rows, each packed independently (O(chunk_rows) working
    set). When a partition spans several chunks, the per-chunk PARTIAL
    lists (~3 bytes/posting — one to two orders smaller than rows) are
    merged by :func:`merge_chunks` before the task yields; the emitted
    bytes equal a whole-partition pack (pinned by tests). The resident
    peak is therefore one chunk plus the accumulated partials — NOT the
    whole partition as rows, which a Zipf-head term of a large shard
    would otherwise make unbounded.

    Output is written by :func:`_emit` (term-sorted, byte-capped).
    """
    # resolved at CALL time (driver side) so deployments and tests can
    # set build.PACK_CHUNK_ROWS; the closure ships the resolved int
    if chunk_rows is None:
        chunk_rows = PACK_CHUNK_ROWS

    def run(iterator):
        pending, pending_rows, packed = [], 0, []
        for b in iterator:
            if b.num_rows == 0:
                continue
            pending.append(b)
            pending_rows += b.num_rows
            if pending_rows >= chunk_rows:
                packed.append(_pack_table(pa.Table.from_batches(pending),
                                          avgdl_by_field, codec))
                pending, pending_rows = [], 0
        if pending_rows:
            packed.append(_pack_table(pa.Table.from_batches(pending),
                                      avgdl_by_field, codec))
        if packed:
            yield from _emit(packed[0] if len(packed) == 1 else
                             merge_chunks(packed, avgdl_by_field, codec))

    return run


def shard_expr(n_shards: int):
    """shard = pmod(xxhash64(doc_id), n_shards) — DOCUMENT sharding.

    Each document lives in exactly one shard (the OpenSearch/Lucene shard
    model, ``src/embedding/mod.rs:241``), so a shard holds postings of ALL
    query terms for its doc subset: per-shard BM25 scores are complete and
    the global top-k is exactly the k-merge of per-shard top-ks.
    """
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_shards))


def build_postings(
    doc_terms: DataFrame,
    avgdl_by_field: dict,
    out_partitions: int,
    codec: int = CODEC_VARINT,
) -> DataFrame:
    """doc_terms (WITH shard column) → packed postings, in ONE exchange.

    Rows are hash-partitioned on (shard, term) into ``out_partitions``
    partitions and each partition is packed by
    :func:`_pack_partition_arrow`: every row of a (shard, field, term)
    group lands in one task, so each group is packed once, with nothing
    to merge across tasks. The same exchange is the writer's layout: each
    task emits its groups sorted by (shard, field, term), which is what
    the writer wants (few files per shard, row-group min/max pruning),
    so the write needs no repartition of its own.

    Skew is bounded by the document sharding (see the module docstring):
    a term's rows in one shard are at most that shard's docs, and the
    packer's chunking bounds its working set. The ``salt`` column is
    always 0; it stays in the schema so existing indexes still read."""
    # shuffle only what the packer consumes (`first` and any extra
    # columns ride the doc_terms parquet for the stats observer, not
    # this exchange)
    return (
        doc_terms.select("doc_id", "field", "term", "tf", "dl", "shard")
        .withColumn("salt", F.lit(0).cast("int"))
        .repartition(out_partitions, "shard", "term")
        .mapInArrow(_pack_partition_arrow(avgdl_by_field, codec),
                    schema=POSTINGS_SCHEMA_SPARK)
    )
