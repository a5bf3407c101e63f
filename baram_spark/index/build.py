"""Index build pipeline: pages → docs → doc_terms → sharded postings.

The Spark-native analog of ``baram index`` (``/root/reference/src/commands/
index.rs:36-359``), re-architected for 10^12-doc scale:

    pages ──extract UDF──▶ docs            (narrow; no shuffle)
    docs  ──analyze UDF──▶ doc_terms       (narrow; tf+dl computed in-batch)
    doc_terms ─groupBy(field,term[,salt])─▶ packed postings   (THE shuffle)
    salted heavy terms ──groupBy(field,term)──▶ merged postings

Scale levers, explicit per the north_rule:

- **Sharding**: DOCUMENT-sharded (the OpenSearch/Lucene shard model,
  ``src/embedding/mod.rs:241``): ``shard = pmod(xxhash64(doc_id),
  n_shards)`` (see :func:`shard_expr`), so every shard holds all query
  terms for its doc subset and computes exact local BM25 scores; the
  query engine fans out to every shard and k-merges (engine.py). Term
  pruning happens WITHIN a shard via the term-sorted parquet files'
  row-group min-max, not by shard routing.
- **Skew**: Zipf-head terms (df above ``salt_threshold``, detected from a
  cheap term_stats aggregation) get a salt ``pmod(xxhash64(doc_id), k)``
  so no single reducer receives the head term's full posting set. The merge
  stage re-groups only the salted terms — by then they are compact packed
  blobs (~3 bytes/posting), 1-2 orders of magnitude smaller than rows.
- **Map-side pre-aggregation**: tf and dl are computed inside the tokenize
  batch (one row per (doc, field, term) leaves the mapper — never one row
  per token).
- **Resume**: each shard's postings build is an independent job recording a
  lineage row; re-runs skip shards already present (see lineage.py), the
  analog of Baram's checkpoint id-prefilter (``src/commands/index.rs:160-194``).
"""

from __future__ import annotations

import time
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..textproc.analyzer import analyze_index
from ..textproc.extract import extract_batch
from .codec import CODEC_VARINT, decode_postings, encode_many, encode_postings

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
# chunk — unbounded by any shuffle knob on the blob path, where the pack
# runs straight on scan partitions — are packed chunk-wise and merged
# group-wise (see _pack_partition_arrow).
PACK_CHUNK_ROWS = 4_000_000
# per-emitted-RecordBatch cap on binary payload: pa.binary() carries
# 32-bit offsets, so one array tops out at 2 GiB total bytes; blob-path
# scan partitions are unbounded by any shuffle knob, so the packer
# slices its output at this boundary instead of trusting partition size
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


def plan_salts(term_stats_pdf: pd.DataFrame, salt_threshold: int) -> dict:
    """Driver-side salt planner: heavy (field,term) → salt factor k.

    k = ceil(df / salt_threshold) capped at 64 — each salted reducer handles
    at most ~salt_threshold postings.
    """
    heavy = term_stats_pdf[term_stats_pdf["df"] > salt_threshold]
    return {
        (r.field, r.term): min(int(np.ceil(r.df / salt_threshold)), 64)
        for r in heavy.itertuples()
    }


def _pack_runs(pdf: pd.DataFrame, avgdl_by_field: dict, codec: int) -> pd.DataFrame:
    """Pack every contiguous (field, term, salt) run of a SORTED frame.

    One numpy boundary scan finds the runs; encode_postings runs per group
    with already-sorted doc_ids (no per-group argsort, no per-group pandas
    DataFrame construction — the applyInPandas-per-group overhead that
    dominates at ~tens of thousands of small terms is gone).
    """
    n = len(pdf)
    shards = pdf["shard"].to_numpy()
    fields = pdf["field"].to_numpy()
    terms = pdf["term"].to_numpy()
    salts = pdf["salt"].to_numpy()
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    dls = pdf["dl"].to_numpy(dtype=np.int64)
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = (
        (terms[1:] != terms[:-1]) | (fields[1:] != fields[:-1])
        | (salts[1:] != salts[:-1]) | (shards[1:] != shards[:-1])
    )
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], n)
    avgdl_per_row = np.empty(n, dtype=np.float64)
    for f in np.unique(fields):
        avgdl_per_row[fields == f] = avgdl_by_field.get(f, 1.0)
    if codec == CODEC_VARINT:
        blobs, skips_l, bmax_l = encode_many(
            ids, tfs, dls, starts, ends, avgdl_per_row
        )
    else:
        blobs, skips_l, bmax_l = [], [], []
        for st, en in zip(starts, ends):
            blob, skips, bmax = encode_postings(
                ids[st:en], tfs[st:en], dls[st:en],
                avgdl=avgdl_by_field.get(fields[st], 1.0), codec=codec,
            )
            blobs.append(blob)
            skips_l.append(skips)
            bmax_l.append(bmax)
    frame = pd.DataFrame(
        {
            "shard": shards[starts],
            "field": fields[starts],
            "term": terms[starts],
            "salt": salts[starts],
            "df": ends - starts,
            "postings": blobs,
            "skips": skips_l,
            "blockmax": bmax_l,
        }
    )
    frame["shard"] = frame["shard"].astype("int32")
    frame["salt"] = frame["salt"].astype("int32")
    frame["df"] = frame["df"].astype("int64")
    return frame


def _pack_partition_arrow(avgdl_by_field: dict, codec: int,
                          chunk_rows: int | None = None):
    """mapInArrow packer over an UNSORTED partition — the production pack.

    Replaces ``sortWithinPartitions + _pack_partition`` (the legacy
    streaming-pandas path, removed): the JVM comparison sort of 30M
    UnsafeRows with multi-byte string keys and the Arrow→pandas object
    conversion of the term column were the two dominant non-scaling costs
    of the postings stage (measured at 400k docs / 30M postings,
    local[8]/local[32]: JVM-sorted pandas pack 29.5 s / 20.7 s → this
    path 21.7 s / 17.6 s, byte-identical output). Grouping is done
    Python-side instead:

    - ``dictionary_encode`` the term column (hash-based, C++, no string
      sort, no Python string objects),
    - fold (shard, field, salt, term_code) into ONE int64 key,
    - ``np.lexsort((doc_id, key))`` — a fixed-width integer sort,
    - boundary-scan the key and encode each run (vectorized for varint).

    **Memory bound**: the partition is consumed in chunks of
    ``chunk_rows`` rows. Each chunk is grouped/encoded independently
    (O(chunk_rows) working set); when a partition spans several chunks,
    the per-chunk PARTIAL blobs (packed postings, ~3 bytes/posting — one
    to two orders smaller than rows) are merged group-wise before the
    task yields: groups split across chunks are decoded, stable-sorted by
    doc_id, and re-encoded; unsplit groups pass through untouched. Either
    way the emitted bytes are identical to a whole-partition pack
    (pinned by tests). The resident peak is therefore one chunk plus the
    accumulated partials — NOT the whole partition as rows. This matters
    most on the blob path (``row_shuffle=False``), where the packer runs
    directly on scan partitions whose size no shuffle knob bounds; the
    removed JVM sort tolerated oversized partitions by spilling, and the
    chunked pack restores that safety with less I/O.

    Output groups are sorted by (shard, field, term) so the parquet
    writer's files keep term-lexicographic row-group min/max pruning
    (python str comparison == Spark's UTF8String ordering on code
    points).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    # resolved at CALL time (driver side) so deployments and tests can
    # set build.PACK_CHUNK_ROWS; the closure ships the resolved int
    if chunk_rows is None:
        chunk_rows = PACK_CHUNK_ROWS

    out_schema = pa.schema(
        [
            ("shard", pa.int32()),
            ("field", pa.string()),
            ("term", pa.string()),
            ("salt", pa.int32()),
            ("df", pa.int64()),
            ("postings", pa.binary()),
            ("skips", pa.binary()),
            ("blockmax", pa.binary()),
        ]
    )

    def pack_table(tbl):
        """One buffered chunk → per-group columns (groups unsorted)."""
        n = tbl.num_rows
        term = tbl.column("term").combine_chunks()
        tdict = term.dictionary_encode()
        tcode = tdict.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        fdict = tbl.column("field").combine_chunks().dictionary_encode()
        fcode = fdict.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        fnames = fdict.dictionary.to_pylist()
        shard = tbl.column("shard").to_numpy(zero_copy_only=False).astype(
            np.int64
        )
        salt = tbl.column("salt").to_numpy(zero_copy_only=False).astype(
            np.int64
        )
        ids = tbl.column("doc_id").to_numpy(zero_copy_only=False)
        tfs = tbl.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)
        dls = tbl.column("dl").to_numpy(zero_copy_only=False).astype(np.int64)
        del tbl
        # fold the group key into one int64: salt < 64 (plan_salts caps k
        # at 64), term codes < 2^32 (a chunk holds < 2^32 rows); the
        # shard/field product must leave 38 low bits free
        fcount = len(fnames)
        if salt.size and int(salt.max()) >= 64:
            raise ValueError("salt factor exceeds 64: key fold invalid")
        hi = (int(shard.max()) + 1) * fcount
        if hi >= (1 << 25):
            raise ValueError(f"shard*field cardinality {hi} overflows key")
        key = (((shard * fcount + fcode) << 6 | salt) << 32) | tcode
        order = np.lexsort((ids, key))
        key = key[order]
        ids = ids[order]
        tfs = tfs[order]
        dls = dls[order]
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = key[1:] != key[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], n)
        gpos = order[starts]
        g_field_code = fcode[gpos]
        avgdl_lut = np.array(
            [avgdl_by_field.get(fn, 1.0) for fn in fnames], dtype=np.float64
        )
        sizes = ends - starts
        if codec == CODEC_VARINT:
            avgdl_per_row = np.repeat(avgdl_lut[g_field_code], sizes)
            blobs, skips_l, bmax_l = encode_many(
                ids, tfs, dls, starts, ends, avgdl_per_row
            )
        else:
            blobs, skips_l, bmax_l = [], [], []
            for gi, (st, en) in enumerate(zip(starts, ends)):
                blob, skips, bmax = encode_postings(
                    ids[st:en], tfs[st:en], dls[st:en],
                    avgdl=float(avgdl_lut[g_field_code[gi]]), codec=codec,
                )
                blobs.append(blob)
                skips_l.append(skips)
                bmax_l.append(bmax)
        return {
            "shard": shard[gpos],
            "fnames": fnames,
            "fcode": g_field_code,
            "term": pc.take(term, pa.array(gpos)),
            "salt": salt[gpos],
            "sizes": sizes,
            "blobs": blobs,
            "skips": skips_l,
            "bmax": bmax_l,
        }

    def merge_chunks(chunks):
        """Group-wise merge of per-chunk partials (multi-chunk partitions
        only). Split groups: decode → stable doc_id sort (chunk order
        preserved for equal ids, matching the whole-partition lexsort) →
        re-encode. Unsplit groups pass through byte-identical."""
        from .codec import decode_many, decode_postings

        fnames = sorted({f for c in chunks for f in c["fnames"]})
        fmap = {f: i for i, f in enumerate(fnames)}
        fcode = np.concatenate(
            [
                np.array([fmap[f] for f in c["fnames"]], dtype=np.int64)[
                    c["fcode"]
                ]
                for c in chunks
            ]
        )
        shard = np.concatenate([c["shard"] for c in chunks])
        salt = np.concatenate([c["salt"] for c in chunks])
        sizes = np.concatenate([c["sizes"] for c in chunks])
        term = pa.concat_arrays(
            [c["term"].combine_chunks() if isinstance(c["term"], pa.ChunkedArray)
             else c["term"] for c in chunks]
        )
        blobs = [b for c in chunks for b in c["blobs"]]
        skips_l = [s for c in chunks for s in c["skips"]]
        bmax_l = [m for c in chunks for m in c["bmax"]]

        tdict = term.dictionary_encode()
        tcode = tdict.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        fcount = len(fnames)
        hi = (int(shard.max()) + 1) * fcount
        if hi >= (1 << 25):
            raise ValueError(f"shard*field cardinality {hi} overflows key")
        key = (((shard * fcount + fcode) << 6 | salt) << 32) | tcode
        order = np.argsort(key, kind="stable")
        skey = key[order]
        m = skey.size
        change = np.empty(m, dtype=bool)
        change[0] = True
        change[1:] = skey[1:] != skey[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], m)
        runs = ends - starts
        pos0 = order[starts]

        df_out = np.add.reduceat(sizes[order], starts)
        avgdl_lut = np.array(
            [avgdl_by_field.get(fn, 1.0) for fn in fnames], dtype=np.float64
        )
        g_fcode = fcode[pos0]

        multi = runs > 1
        out_blobs = [blobs[i] for i in pos0]
        out_skips = [skips_l[i] for i in pos0]
        out_bmax = [bmax_l[i] for i in pos0]
        midx = np.flatnonzero(multi)
        if midx.size:
            # partial indices of split groups, in (group, chunk) order
            part_idx = order[np.flatnonzero(np.repeat(multi, runs))]
            n_parts_per = runs[midx]
            if codec == CODEC_VARINT:
                from .codec import encode_many as _enc_many

                ids, tfs, dls, dfs = decode_many(
                    [blobs[i] for i in part_idx],
                    [skips_l[i] for i in part_idx],
                )
                run_of_partial = np.repeat(
                    np.arange(midx.size, dtype=np.int64), n_parts_per
                )
                run_of_post = np.repeat(run_of_partial, dfs)
                o2 = np.lexsort((ids, run_of_post))
                ids, tfs, dls = ids[o2], tfs[o2], dls[o2]
                g_df = np.bincount(run_of_post, minlength=midx.size)
                g_ends = np.cumsum(g_df)
                g_starts = g_ends - g_df
                avgdl_per_post = np.repeat(avgdl_lut[g_fcode[midx]], g_df)
                mb, ms, mm = _enc_many(
                    ids, tfs, dls, g_starts, g_ends, avgdl_per_post
                )
                for k, g in enumerate(midx):
                    out_blobs[g] = mb[k]
                    out_skips[g] = ms[k]
                    out_bmax[g] = mm[k]
            else:
                off = 0
                bounds = np.concatenate(([0], np.cumsum(n_parts_per)))
                for k, g in enumerate(midx):
                    parts = part_idx[bounds[k]:bounds[k + 1]]
                    seg = [decode_postings(bytes(blobs[i]), bytes(skips_l[i]))
                           for i in parts]
                    ids = np.concatenate([s[0] for s in seg])
                    tfs = np.concatenate([s[1] for s in seg])
                    dls = np.concatenate([s[2] for s in seg])
                    o2 = np.argsort(ids, kind="stable")
                    blob, skips, bmax = encode_postings(
                        ids[o2], tfs[o2], dls[o2],
                        avgdl=float(avgdl_lut[g_fcode[g]]), codec=codec,
                    )
                    out_blobs[g] = blob
                    out_skips[g] = skips
                    out_bmax[g] = bmax

        return {
            "shard": shard[pos0],
            "fnames": fnames,
            "fcode": g_fcode,
            "term": pc.take(term, pa.array(pos0)),
            "salt": salt[pos0],
            "sizes": df_out,
            "blobs": out_blobs,
            "skips": out_skips,
            "bmax": out_bmax,
        }

    def emit(c):
        g_field = np.array(c["fnames"], dtype=object)[c["fcode"]]
        g_term = c["term"]
        # one row per group now — sort the GROUPS by (shard, field, term)
        # for the writer's row-group pruning; this sorts thousands of
        # strings, not the 30M input rows
        oo = np.lexsort(
            (np.asarray(g_term, dtype=object), g_field, c["shard"])
        )
        # slice on PACK_EMIT_BYTES_CAP so no string/binary column's
        # 32-bit offsets overflow (2 GiB/array): the payload counts the
        # term bytes as well as the three blobs. Slices are contiguous in
        # oo, so the (shard, field, term) ordering the writer prunes on is
        # preserved across the yielded batches
        term_bytes = pc.binary_length(g_term).to_numpy(
            zero_copy_only=False).astype(np.int64)
        payload = term_bytes[oo] + np.fromiter(
            (len(c["blobs"][i]) + len(c["skips"][i]) + len(c["bmax"][i])
             for i in oo), dtype=np.int64, count=oo.size)
        cum = payload.cumsum()
        n_slices = int(cum[-1] // PACK_EMIT_BYTES_CAP) + 1 if oo.size else 1
        cuts = np.searchsorted(
            cum, np.arange(1, n_slices) * PACK_EMIT_BYTES_CAP, side="right")
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, oo.size]):
            if lo == hi:
                continue
            sl = oo[lo:hi]
            yield pa.record_batch(
                [
                    pa.array(c["shard"][sl].astype(np.int32)),
                    pa.array(g_field[sl], type=pa.string()),
                    pc.take(g_term, pa.array(sl)),
                    pa.array(c["salt"][sl].astype(np.int32)),
                    pa.array(c["sizes"][sl].astype(np.int64)),
                    pa.array([c["blobs"][i] for i in sl], type=pa.binary()),
                    pa.array([c["skips"][i] for i in sl], type=pa.binary()),
                    pa.array([c["bmax"][i] for i in sl], type=pa.binary()),
                ],
                schema=out_schema,
            )

    def run(iterator):
        pending, pending_rows, packed = [], 0, []
        for b in iterator:
            if b.num_rows == 0:
                continue
            pending.append(b)
            pending_rows += b.num_rows
            if pending_rows >= chunk_rows:
                packed.append(pack_table(pa.Table.from_batches(pending)))
                pending, pending_rows = [], 0
        if pending_rows:
            packed.append(pack_table(pa.Table.from_batches(pending)))
        if not packed:
            return
        yield from emit(
            packed[0] if len(packed) == 1 else merge_chunks(packed))

    return run


def _merge_partition(avgdl_by_field: dict, codec: int):
    """mapInPandas merger over a partition sorted by (field, term, salt).

    Partial blobs of the same (shard, field, term) run are decoded,
    merge-sorted by doc_id, and re-encoded; single-row runs pass through
    byte-identical. Arrow batches may split a run → carry, as in packing.

    For the varint codec the whole frame merges in ONE vectorized pass
    (codec.decode_many + encode_many) — the blob-shuffle strategy feeds
    this with millions of tiny partials, where per-blob Python calls are
    the entire cost (measured 2.8× over the per-run loop single-threaded;
    note that at 32 concurrent workers on one box the larger vectorized
    temporaries can saturate memory bandwidth — another reason the blob
    strategy targets multi-NODE clusters, not single-box scale-up).
    Other codecs use the per-run loop.
    """

    def merge_runs_vectorized(pdf: pd.DataFrame, starts: np.ndarray,
                              ends: np.ndarray) -> pd.DataFrame:
        from .codec import decode_many, encode_many

        shards = pdf["shard"].to_numpy()
        fields = pdf["field"].to_numpy()
        terms = pdf["term"].to_numpy()
        sizes = ends - starts
        n_runs = starts.size
        multi = sizes > 1
        midx = np.flatnonzero(multi)

        merged_blobs: list = []
        merged_skips: list = []
        merged_bmax: list = []
        merged_df: list = []
        if midx.size:
            run_of_row = np.repeat(np.arange(n_runs), sizes)
            rows_multi = np.flatnonzero(np.repeat(multi, sizes))
            blobs = [bytes(pdf["postings"].iat[i]) for i in rows_multi]
            skips = [bytes(pdf["skips"].iat[i]) for i in rows_multi]
            ids, tfs, dls, dfs = decode_many(blobs, skips)
            # local 0..m-1 run index per posting, in run order
            run_local = np.searchsorted(midx, run_of_row[rows_multi])
            run_of_post = np.repeat(run_local, dfs)
            order = np.lexsort((ids, run_of_post))
            ids, tfs, dls = ids[order], tfs[order], dls[order]
            run_df = np.bincount(run_of_post, minlength=midx.size)
            g_ends = np.cumsum(run_df)
            g_starts = g_ends - run_df
            avgdl_per_post = np.repeat(
                np.array([avgdl_by_field.get(f, 1.0) for f in fields[starts[midx]]]),
                run_df,
            )
            merged_blobs, merged_skips, merged_bmax = encode_many(
                ids, tfs, dls, g_starts, g_ends, avgdl_per_post
            )
            merged_df = run_df.tolist()

        out = {
            "shard": [], "field": [], "term": [], "salt": [], "df": [],
            "postings": [], "skips": [], "blockmax": [],
        }
        mpos = 0
        for r in range(n_runs):
            st = int(starts[r])
            out["shard"].append(int(shards[st]))
            out["field"].append(fields[st])
            out["term"].append(terms[st])
            out["salt"].append(0)
            if sizes[r] == 1:
                out["df"].append(int(pdf["df"].iat[st]))
                out["postings"].append(pdf["postings"].iat[st])
                out["skips"].append(pdf["skips"].iat[st])
                out["blockmax"].append(pdf["blockmax"].iat[st])
            else:
                out["df"].append(int(merged_df[mpos]))
                out["postings"].append(merged_blobs[mpos])
                out["skips"].append(merged_skips[mpos])
                out["blockmax"].append(merged_bmax[mpos])
                mpos += 1
        frame = pd.DataFrame(out)
        frame["shard"] = frame["shard"].astype("int32")
        frame["salt"] = frame["salt"].astype("int32")
        frame["df"] = frame["df"].astype("int64")
        return frame

    def merge_runs(pdf: pd.DataFrame) -> pd.DataFrame:
        shards = pdf["shard"].to_numpy()
        fields = pdf["field"].to_numpy()
        terms = pdf["term"].to_numpy()
        n = len(pdf)
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = ((terms[1:] != terms[:-1]) | (fields[1:] != fields[:-1])
                      | (shards[1:] != shards[:-1]))
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], n)
        if codec == CODEC_VARINT:
            try:
                return merge_runs_vectorized(pdf, starts, ends)
            except ValueError:
                pass  # mixed-codec frame: per-run loop below
        out = {
            "shard": [], "field": [], "term": [], "salt": [], "df": [],
            "postings": [], "skips": [], "blockmax": [],
        }
        for st, en in zip(starts, ends):
            out["shard"].append(int(shards[st]))
            out["field"].append(fields[st])
            out["term"].append(terms[st])
            out["salt"].append(0)
            if en - st == 1:
                out["df"].append(int(pdf["df"].iat[st]))
                out["postings"].append(pdf["postings"].iat[st])
                out["skips"].append(pdf["skips"].iat[st])
                out["blockmax"].append(pdf["blockmax"].iat[st])
                continue
            ids_l, tfs_l, dls_l = [], [], []
            for i in range(st, en):
                ids, tfs, dls = decode_postings(
                    bytes(pdf["postings"].iat[i]), bytes(pdf["skips"].iat[i])
                )
                ids_l.append(ids)
                tfs_l.append(tfs)
                dls_l.append(dls)
            ids = np.concatenate(ids_l)
            order = np.argsort(ids, kind="stable")
            blob, skips, bmax = encode_postings(
                ids[order],
                np.concatenate(tfs_l)[order],
                np.concatenate(dls_l)[order],
                avgdl=avgdl_by_field.get(fields[st], 1.0),
                codec=codec,
            )
            out["df"].append(len(ids))
            out["postings"].append(blob)
            out["skips"].append(skips)
            out["blockmax"].append(bmax)
        frame = pd.DataFrame(out)
        frame["shard"] = frame["shard"].astype("int32")
        frame["salt"] = frame["salt"].astype("int32")
        frame["df"] = frame["df"].astype("int64")
        return frame

    def run(iterator):
        carry: pd.DataFrame | None = None
        for pdf in iterator:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            n = len(pdf)
            if n == 0:
                continue
            lsh = pdf["shard"].iat[n - 1]
            lf = pdf["field"].iat[n - 1]
            lt = pdf["term"].iat[n - 1]
            tail = ((pdf["shard"].to_numpy() == lsh)
                    & (pdf["field"].to_numpy() == lf)
                    & (pdf["term"].to_numpy() == lt))
            nonmatch = np.flatnonzero(~tail)
            split = (nonmatch[-1] + 1) if nonmatch.size else 0
            carry = pdf.iloc[split:]
            head = pdf.iloc[:split]
            if len(head):
                yield merge_runs(head)
        if carry is not None and len(carry):
            yield merge_runs(carry)

    return run


def shard_expr(n_shards: int):
    """shard = pmod(xxhash64(doc_id), n_shards) — DOCUMENT sharding.

    Each document lives in exactly one shard (the OpenSearch/Lucene shard
    model, ``src/embedding/mod.rs:241``), so a shard holds postings of ALL
    query terms for its doc subset: per-shard BM25 scores are complete and
    the global top-k is exactly the k-merge of per-shard top-ks.
    """
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_shards))


def resolve_shuffle_mode(master: str | None, mode: str = "auto") -> str:
    """Pick the postings shuffle strategy for this deployment.

    ``"rows"`` and ``"blob"`` pass through (explicit override). ``"auto"``
    selects on where the postings exchange physically lands — the one
    variable that flips the measured tradeoff in :func:`build_postings`:

    * ``local[...]`` master → **rows**: the shuffle is same-box disk, so
      the ~10× byte reduction of map-side packing buys nothing while its
      per-partial decode/re-encode CPU cost is pure overhead (measured:
      rows 23.9 s vs blob 36.4 s at 30M postings, local[8]).
    * any cluster master (yarn, k8s, spark://, …) → **blob**: the exchange
      crosses the network, where ~3 bytes/posting vs ~40-byte rows is the
      dominant term and Zipf-head terms arrive pre-compacted (the classic
      inverted-index combiner; measured to SCALE better 8→32 even on one
      box: 1.63× vs 1.27×).
    """
    if mode in ("rows", "blob"):
        return mode
    if mode != "auto":
        raise ValueError(f"shuffle_mode must be rows|blob|auto, got {mode!r}")
    return "rows" if (master or "").startswith("local") else "blob"


def build_postings(
    spark: SparkSession,
    doc_terms: DataFrame,
    avgdl_by_field: dict,
    salt_plan: dict,
    codec: int = CODEC_VARINT,
    out_partitions: int | None = None,
    row_shuffle: bool = False,
) -> DataFrame:
    """doc_terms (WITH shard column) → packed postings.

    Two physical strategies, identical output (byte-identical blobs,
    asserted in tests):

    Measured on this sandbox (30M postings, local[8]/local[32], best-of-2
    interleaved): rows 23.9 s / 18.8 s, blob 36.4 s / 22.4 s — blob SCALES
    better (1.63× vs 1.27×) and ships ~10× fewer shuffle bytes, but pays a
    per-partial decode/re-encode CPU cost that local-disk shuffle doesn't
    recoup. On a real multi-executor cluster the shuffle crosses the
    network, flipping the tradeoff toward blob; the builder default stays
    "rows" for single-box benches.

    Round-5 rework: BOTH strategies now pack through
    :func:`_pack_partition_arrow` — no ``sortWithinPartitions`` before the
    packer and no Arrow→pandas conversion. Stage-isolated decomposition at
    the same 30M postings showed the pure JVM exchange is only 8.2 s / 6.2 s
    (noop-write probe); the JVM string sort (+7 s, non-scaling) and the
    pandas object conversion were most of the rest. Arrow pack: 21.7 s /
    17.6 s vs 29.5 s / 20.7 s for the sorted-pandas path, byte-identical
    crc over every blob.

    **Blob shuffle (``row_shuffle=False``)** — map-side packing:
    each input partition locally sorts its rows and packs every
    (shard, field, term) run into a PARTIAL posting blob, then ONE
    blob-level exchange keyed (shard, term) ordered-concat-merges each
    term's partials. The shuffle moves ~3 bytes/posting instead of
    ~40-byte rows (the classic inverted-index combiner) — an order of
    magnitude less shuffle I/O, and Zipf-head terms arrive at their
    reducer pre-compacted so no reducer ever receives a heavy term as
    rows. The bound that remains is the merge task materializing one
    term's full postings (~3 bytes each).

    **Row shuffle (``row_shuffle=True``)** — rows are hash-partitioned on
    (shard, field, term, salt) with Zipf-head terms salted across k
    reducers, packed post-shuffle, and salted partials blob-merged in a
    second exchange. Strictly bounds per-reducer ROW volume too — the
    regime for extreme skew where even a packed hot-term blob would blow a
    task (term in ~every doc at 10^12 scale).

    ``out_partitions`` folds the writer's layout into the LAST shuffle
    (no separate write repartition): the final stage is partitioned on
    (shard, term) and row-sorted on (field, term), which is exactly what
    the writer wants (few files per shard, row-group min/max pruning)."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out_parts = out_partitions or n_parts
    # shuffle only what the packer consumes (`first` and any extra
    # columns ride the doc_terms parquet for the stats observer, not
    # this exchange)
    doc_terms = doc_terms.select("doc_id", "field", "term", "tf", "dl",
                                 "shard")
    if not row_shuffle:
        # map-side pack: the arrow packer groups WITHOUT a partition
        # sort, then the single blob-level merge exchange.
        partial = (
            doc_terms.withColumn("salt", F.lit(0).cast("int"))
            .mapInArrow(_pack_partition_arrow(avgdl_by_field, codec),
                        schema=POSTINGS_SCHEMA_SPARK)
        )
        return (
            partial.repartition(out_parts, "shard", "term")
            .sortWithinPartitions("shard", "field", "term", "salt")
            .mapInPandas(_merge_partition(avgdl_by_field, codec),
                         schema=POSTINGS_SCHEMA_SPARK)
        )
    if salt_plan:
        plan_pdf = pd.DataFrame(
            [(f, t, k) for (f, t), k in salt_plan.items()],
            columns=["field", "term", "salt_k"],
        )
        plan_df = F.broadcast(spark.createDataFrame(plan_pdf))
        salted = doc_terms.join(plan_df, ["field", "term"], "left").withColumn(
            "salt",
            F.when(
                F.col("salt_k").isNotNull(),
                F.pmod(F.xxhash64(F.col("doc_id")), F.col("salt_k")),
            ).otherwise(F.lit(0)).cast("int"),
        ).drop("salt_k")

        # Row shuffle keyed WITH salt (spreads each heavy term over its k
        # reducers); the arrow packer groups without a partition sort.
        packed = (
            salted.repartition(n_parts, "shard", "field", "term", "salt")
            .mapInArrow(_pack_partition_arrow(avgdl_by_field, codec),
                        schema=POSTINGS_SCHEMA_SPARK)
        )
        # Salted-partial merge: re-shuffle the PACKED rows (≈3 bytes/posting
        # — 1-2 orders of magnitude lighter than the row shuffle above) and
        # ordered-concat each term's partials; unsalted runs pass through.
        # Keyed on (shard, term) at the writer's partition count: the merge
        # exchange IS the write layout.
        merged = (
            packed.repartition(out_parts, "shard", "term")
            .sortWithinPartitions("shard", "field", "term", "salt")
            .mapInPandas(_merge_partition(avgdl_by_field, codec),
                         schema=POSTINGS_SCHEMA_SPARK)
        )
        return merged

    # No salt plan ⇒ no term exceeds salt_threshold rows, so keying the row
    # shuffle by (shard, term) cannot overload a reducer — ONE exchange
    # serves both packing and the write layout.
    salted = doc_terms.withColumn("salt", F.lit(0).cast("int"))
    return (
        salted.repartition(out_parts, "shard", "term")
        .mapInArrow(_pack_partition_arrow(avgdl_by_field, codec),
                    schema=POSTINGS_SCHEMA_SPARK)
    )
