"""Physical-plan regression tests — the scale properties VERDICT audits.

These pin the plan SHAPE, not timings: exchange counts (the shuffle budget
of the postings build), predicate pushdown into the postings scan, and
broadcast of the small join sides. If a refactor silently adds a shuffle or
loses a pushed filter, these fail before any benchmark notices.
"""

import re

import pytest
from pyspark.sql import functions as F

from baram_spark.corpus import pages_df
from baram_spark.index.build import build_postings, shard_expr, tokenize_docs
from baram_spark.index.builder import IndexBuilder
from baram_spark.index.codec import CODEC_FOR, CODEC_PFOR, CODEC_VARINT


def _plan(df, mode: str = "formatted") -> str:
    jdf = df._jdf
    spark = df.sparkSession
    em = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jdf.queryExecution().explainString(em)


def _n_shuffles(df) -> int:
    # hash/range repartition exchanges only — broadcast exchanges are free
    # of shuffle I/O and counted separately ("simple" mode inlines the
    # partitioning into the Exchange node line)
    plan = _plan(df, mode="simple")
    return len(re.findall(r"Exchange (?:hash|range)partitioning", plan))


@pytest.fixture(scope="module")
def doc_terms(spark):
    pages = pages_df(spark, 200, partitions=4)
    from baram_spark.index.build import extract_docs

    docs = extract_docs(pages)
    return tokenize_docs(docs).withColumn("shard", shard_expr(4))


def test_rows_unsalted_postings_is_one_shuffle(spark, doc_terms):
    """Every build packs unsalted rows behind ONE exchange keyed
    (shard, term) — no salt-plan broadcast, no merge exchange."""
    out = build_postings(doc_terms, {"title": 5.0, "content": 130.0}, 8)
    plan = _plan(out, "simple")
    assert _n_shuffles(out) == 1, plan
    assert "Broadcast" not in plan, plan


@pytest.mark.parametrize("chunk_rows", [None, 16])
@pytest.mark.parametrize("codec", [CODEC_VARINT, CODEC_FOR, CODEC_PFOR])
def test_build_postings_matches_pack_runs(spark, doc_terms, monkeypatch,
                                          codec, chunk_rows):
    """build_postings emits one row per (shard, field, term), salt 0, with
    the df and packed bytes of _pack_runs (one encode_postings call per
    doc_id-sorted group) — in every codec. At the default PACK_CHUNK_ROWS
    a task packs its partition in one chunk; with 16 (and 8-row Arrow
    batches, so a chunk holds 16-23 rows) a head term's rows span chunks
    inside one task and go through merge_chunks."""
    from baram_spark.index import build

    avgdl = {"title": 5.0, "content": 130.0}
    if chunk_rows is not None:
        monkeypatch.setattr(build, "PACK_CHUNK_ROWS", chunk_rows)
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prev = spark.conf.get(key)
        spark.conf.set(key, "8")
    try:
        got = build_postings(doc_terms, avgdl, 4, codec=codec).collect()
    finally:
        if chunk_rows is not None:
            spark.conf.set(key, prev)
    keyed = {
        (r["shard"], r["field"], r["term"], r["salt"]): (
            r["df"], bytes(r["postings"]), bytes(r["skips"]),
            bytes(r["blockmax"]))
        for r in got
    }
    assert len(keyed) == len(got)  # no duplicate groups
    pdf = (doc_terms.select("doc_id", "field", "term", "tf", "dl", "shard")
           .toPandas().assign(salt=0)
           .sort_values(["shard", "field", "term", "salt", "doc_id"],
                        kind="stable"))
    assert keyed == _pack_runs(pdf, avgdl, codec)
    if chunk_rows is not None:
        # a group larger than the largest chunk cannot fit in one
        assert max(df for df, *_ in keyed.values()) > chunk_rows + 7


def test_build_starts_no_salt_sample_job(spark, tmp_path):
    """salt_threshold is accepted and ignored: a 150-page build at 100 (a
    value that once ran a 5% salt-sample job) starts exactly the Spark
    jobs of the same build without it, in total and in its postings
    stage."""
    from tests.conftest import spark_jobs

    def build(name, **kw):
        b = IndexBuilder(spark, f"{tmp_path}/{name}", n_shards=2, **kw)
        post = []
        orig = b._stage_postings

        def stage(*args, **kws):
            with spark_jobs(spark) as started:
                orig(*args, **kws)
            post.extend(started)

        b._stage_postings = stage
        with spark_jobs(spark) as jobs:
            m = b.build(pages_df(spark, 150, partitions=2), fingerprint="j")
        return len(jobs), len(post), len(m["postings_partitions"])

    total, post, groups = build("kw", salt_threshold=100)
    assert (total, post, groups) == build("ref")
    assert groups == 2 and 0 < post < total


def test_postings_lookup_pushes_term_filter(spark, tmp_path):
    out = f"{tmp_path}/plan_idx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 120, partitions=4), fingerprint="plan")
    from baram_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, out)
    lookup = eng._postings_rows(["the", "spark"])
    plan = _plan(lookup)
    assert "PushedFilters" in plan
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert pushed and "term" in pushed.group(1), plan
    # column pruning: the scan must not read the wide blob columns' siblings
    # it doesn't need — ReadSchema carries only the projected columns
    rs = re.search(r"ReadSchema: struct<(.*?)>", plan)
    assert rs and "postings" in rs.group(1) and "term" in rs.group(1), plan


def test_filtered_docs_scan_pushes_category(spark, tmp_path):
    out = f"{tmp_path}/plan_idx2"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, 120, partitions=4), fingerprint="plan2")
    from baram_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, out)
    allowed = eng._allowed_docs("sports", None, None)
    plan = _plan(allowed)
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert pushed and "category" in pushed.group(1), plan
    rs = re.search(r"ReadSchema: struct<(.*?)>", plan)
    # projection pruned to the two needed columns (html/text never read)
    assert rs and "text" not in rs.group(1) and "html" not in rs.group(1), plan


def test_exact_dedup_has_partial_aggregate(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(100)], "doc_id long, text string"
    )
    from baram_spark.operators.dedup import exact_dedup

    plan = _plan(exact_dedup(docs))
    # map-side combine: partial HashAggregate before the exchange
    assert plan.count("HashAggregate") >= 2, plan
    assert _n_shuffles(exact_dedup(docs)) == 1, plan


def _pack_runs(pdf, avgdl_by_field: dict, codec: int) -> dict:
    """Reference packer: one encode_postings call per (shard, field, term,
    salt) group of a frame sorted by those columns and doc_id →
    {group: (df, postings, skips, blockmax)}."""
    from baram_spark.index.codec import encode_postings

    out = {}
    for (shard, field, term, salt), g in pdf.groupby(
            ["shard", "field", "term", "salt"], sort=False):
        blob, skips, bmax = encode_postings(
            g["doc_id"].to_numpy(), g["tf"].to_numpy(), g["dl"].to_numpy(),
            avgdl=avgdl_by_field.get(field, 1.0), codec=codec)
        out[(int(shard), field, term, int(salt))] = (len(g), blob, skips,
                                                      bmax)
    return out


def test_arrow_packer_matches_legacy_packer_kernel():
    """_pack_partition_arrow (unsorted arrow input, production) must emit
    byte-identical groups to _pack_runs (a per-group encode_postings
    reference) — every codec, salted groups included."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from baram_spark.index.build import _pack_partition_arrow

    rng = np.random.default_rng(7)
    n = 20_000
    group = rng.integers(0, 900, n)
    pdf = pd.DataFrame(
        {
            "doc_id": rng.choice(10**9, size=n, replace=False).astype(
                "int64"
            ),
            "field": np.where(group % 3 == 0, "title", "content"),
            "term": np.char.add("t", (group // 3).astype(str)),
            "tf": rng.integers(1, 9, n).astype("int32"),
            "dl": rng.integers(5, 400, n).astype("int32"),
            "shard": (group % 4).astype("int32"),
            "salt": (group % 5).astype("int32"),
        }
    )
    avgdl = {"title": 5.0, "content": 130.0}
    for codec in (CODEC_VARINT, CODEC_FOR, CODEC_PFOR):
        run = _pack_partition_arrow(avgdl, codec)
        batches = [
            pa.RecordBatch.from_pandas(chunk, preserve_index=False)
            for chunk in np.array_split(pdf, 7)
        ]
        got = {}
        for out in run(iter(batches)):
            t = out.to_pydict()
            for i in range(out.num_rows):
                k = (t["shard"][i], t["field"][i], t["term"][i],
                     t["salt"][i])
                assert k not in got, f"duplicate group {k}"
                got[k] = (t["df"][i], t["postings"][i], t["skips"][i],
                          t["blockmax"][i])
        sorted_pdf = pdf.sort_values(
            ["shard", "field", "term", "salt", "doc_id"], kind="stable"
        ).reset_index(drop=True)
        want = _pack_runs(sorted_pdf, avgdl, codec)
        got = {
            k: (int(df_), bytes(p), bytes(s), bytes(b))
            for k, (df_, p, s, b) in got.items()
        }
        assert got == want, f"codec {codec} mismatch"


def test_arrow_packer_chunked_matches_whole_partition():
    """A partition spanning several pack chunks must emit byte-identical
    groups to the single-chunk pack (and hence to _pack_runs): split
    groups are decoded, stable-sorted, re-encoded; unsplit groups pass
    through untouched. Every codec."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from baram_spark.index.build import _pack_partition_arrow

    rng = np.random.default_rng(11)
    n = 30_000
    group = rng.integers(0, 700, n)
    pdf = pd.DataFrame(
        {
            "doc_id": rng.choice(10**9, size=n, replace=False).astype(
                "int64"
            ),
            "field": np.where(group % 3 == 0, "title", "content"),
            "term": np.char.add("t", (group // 3).astype(str)),
            "tf": rng.integers(1, 9, n).astype("int32"),
            "dl": rng.integers(5, 400, n).astype("int32"),
            "shard": (group % 4).astype("int32"),
            "salt": (group % 5).astype("int32"),
        }
    )
    avgdl = {"title": 5.0, "content": 130.0}
    batches = [
        pa.RecordBatch.from_pandas(chunk, preserve_index=False)
        for chunk in np.array_split(pdf, 13)
    ]
    sorted_pdf = pdf.sort_values(
        ["shard", "field", "term", "salt", "doc_id"], kind="stable"
    ).reset_index(drop=True)
    for codec in (CODEC_VARINT, CODEC_FOR, CODEC_PFOR):
        # chunk_rows forces ~6 chunks of ~2-3 batches each
        run = _pack_partition_arrow(avgdl, codec, chunk_rows=5_000)
        got = {}
        for out in run(iter(batches)):
            t = out.to_pydict()
            for i in range(out.num_rows):
                k = (t["shard"][i], t["field"][i], t["term"][i],
                     t["salt"][i])
                assert k not in got, f"duplicate group {k}"
                got[k] = (t["df"][i], bytes(t["postings"][i]),
                          bytes(t["skips"][i]), bytes(t["blockmax"][i]))
        want = _pack_runs(sorted_pdf, avgdl, codec)
        got = {k: (int(d), p, s, b) for k, (d, p, s, b) in got.items()}
        assert got == want, f"codec {codec} mismatch"


def test_arrow_packer_slices_emit_at_bytes_cap(monkeypatch):
    """pa.binary() arrays carry 32-bit offsets (2 GiB cap per array) and
    blob-path scan partitions are unbounded, so run() slices its output
    at PACK_EMIT_BYTES_CAP. With a tiny cap the packer must yield many
    batches whose concatenation is row-identical (same order) to the
    single-batch emit, each batch's binary payload within cap + one row."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from baram_spark.index import build
    from baram_spark.index.build import _pack_partition_arrow

    rng = np.random.default_rng(23)
    n = 8_000
    group = rng.integers(0, 300, n)
    pdf = pd.DataFrame(
        {
            "doc_id": rng.choice(10**9, size=n, replace=False).astype(
                "int64"
            ),
            "field": np.where(group % 3 == 0, "title", "content"),
            "term": np.char.add("t", (group // 3).astype(str)),
            "tf": rng.integers(1, 9, n).astype("int32"),
            "dl": rng.integers(5, 400, n).astype("int32"),
            "shard": (group % 4).astype("int32"),
            "salt": np.zeros(n, dtype="int32"),
        }
    )
    avgdl = {"title": 5.0, "content": 130.0}
    batches = [pa.RecordBatch.from_pandas(c, preserve_index=False)
               for c in np.array_split(pdf, 5)]

    def rows(outs):
        t = pa.Table.from_batches(outs).to_pydict()
        return list(zip(t["shard"], t["field"], t["term"], t["salt"],
                        t["df"], t["postings"], t["skips"], t["blockmax"]))

    run = _pack_partition_arrow(avgdl, CODEC_VARINT)
    whole = list(run(iter(batches)))

    cap = 2_000  # bytes — forces many slices on this corpus
    monkeypatch.setattr(build, "PACK_EMIT_BYTES_CAP", cap)
    run = _pack_partition_arrow(avgdl, CODEC_VARINT)
    sliced = list(run(iter(batches)))

    assert len(whole) == 1 and len(sliced) > 3
    assert rows(sliced) == rows(whole)  # same rows, same order
    per_row_max = max(len(p) + len(s) + len(b)
                      for _, _, _, _, _, p, s, b in rows(whole))
    for out in sliced:
        payload = sum(
            len(v) for col in ("postings", "skips", "blockmax")
            for v in out.column(col).to_pylist()
        )
        assert payload <= cap + per_row_max


def test_arrow_packer_emit_cap_counts_term_bytes(monkeypatch):
    """The term column is pa.string(), with the same 32-bit offsets as the
    blob columns, so the emit cap counts its bytes too: with long terms
    and tiny blobs, every emitted batch keeps terms + blobs within the cap
    (plus one row), and the rows are the uncapped packer's, unchanged."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from baram_spark.index import build
    from baram_spark.index.build import _pack_partition_arrow

    rng = np.random.default_rng(29)
    n = 3_000
    group = rng.integers(0, 200, n)
    pdf = pd.DataFrame(
        {
            "doc_id": rng.choice(10**9, size=n, replace=False).astype(
                "int64"),
            "field": np.where(group % 2 == 0, "title", "content"),
            # ~600-byte terms: the term column outweighs the blobs
            "term": [f"{'t' * 600}{g // 2}" for g in group],
            "tf": rng.integers(1, 9, n).astype("int32"),
            "dl": rng.integers(5, 400, n).astype("int32"),
            "shard": (group % 4).astype("int32"),
            "salt": np.zeros(n, dtype="int32"),
        }
    )
    avgdl = {"title": 5.0, "content": 130.0}
    batches = [pa.RecordBatch.from_pandas(c, preserve_index=False)
               for c in np.array_split(pdf, 3)]

    def rows(outs):
        t = pa.Table.from_batches(outs).to_pydict()
        return list(zip(t["shard"], t["field"], t["term"], t["salt"],
                        t["df"], t["postings"], t["skips"], t["blockmax"]))

    whole = list(_pack_partition_arrow(avgdl, CODEC_VARINT)(iter(batches)))
    all_rows = rows(whole)
    blob_bytes = sum(len(p) + len(s) + len(b)
                     for *_, p, s, b in all_rows)
    term_bytes = sum(len(r[2].encode()) for r in all_rows)
    assert term_bytes > 4 * blob_bytes

    cap = 20_000
    monkeypatch.setattr(build, "PACK_EMIT_BYTES_CAP", cap)
    sliced = list(_pack_partition_arrow(avgdl, CODEC_VARINT)(iter(batches)))

    assert rows(sliced) == all_rows  # same rows and blobs, same order
    # counting blobs alone would cut blob_bytes // cap + 1 batches
    assert len(sliced) > blob_bytes // cap + 1
    per_row_max = max(len(r[2].encode()) + len(r[5]) + len(r[6]) + len(r[7])
                      for r in all_rows)
    for out in sliced:
        terms = sum(len(t.encode()) for t in out.column("term").to_pylist())
        blobs = sum(len(v) for col in ("postings", "skips", "blockmax")
                    for v in out.column(col).to_pylist())
        assert terms + blobs <= cap + per_row_max


def test_row_sized_postings_partitions_keep_blobs_and_ledger(
        spark, tmp_path, monkeypatch):
    """The postings exchange is sized by the doc_terms rows a shard group
    packs (capped at the old fixed 4 x shards). The partition count is a
    layout choice only: blobs and the per-shard ledger rows are identical
    to the fixed-count build, and the chosen counts are in the metrics."""
    from baram_spark.corpus import pages_df
    from baram_spark.index import builder as builder_mod
    from baram_spark.index.builder import IndexBuilder, postings_partitions

    assert postings_partitions(0, 2) == 1
    assert postings_partitions(builder_mod.POSTINGS_ROWS_PER_PARTITION + 1,
                               2) == 2
    assert postings_partitions(10**12, 2) == 8  # the fixed layout's cap

    def build(name):
        out = f"{tmp_path}/{name}"
        b = IndexBuilder(spark, out, n_shards=4)
        m = b.build(pages_df(spark, 200, partitions=4), fingerprint="fp")
        blobs = sorted(
            (r["shard"], r["field"], r["term"], r["df"], bytes(r["postings"]),
             bytes(r["skips"]), bytes(r["blockmax"]))
            for r in spark.read.parquet(f"{out}/postings").collect())
        ledger = sorted(
            (r["stage"], r["partition_id"], r["rows_out"])
            for r in b.ledger.metrics() if r["stage"] == "postings")
        return m["postings_partitions"], blobs, ledger

    sized = build("sized")
    monkeypatch.setattr(builder_mod, "POSTINGS_ROWS_PER_PARTITION", 1)
    fixed = build("fixed")
    assert fixed[0] == [8, 8]  # 4 x the 2 shards of each group
    assert sized[0] == [1, 1]  # 200 pages fit one partition per group
    assert sized[1] == fixed[1]
    assert sized[2] == fixed[2] and len(sized[2]) == 4


def test_wave_postings_stage_runs_one_job_per_shard_group(spark, tmp_path):
    """A wave's postings stage reads doc_terms with the known schema, so
    each shard group runs its write job alone: no footer-reading job for
    schema inference first. Adaptive execution is off here because it
    runs the shuffle stage of the one write as a job of its own."""
    from tests.conftest import spark_jobs

    b = IndexBuilder(spark, f"{tmp_path}/wave_jobs", n_shards=4)
    b.build(pages_df(spark, 120, partitions=2), fingerprint="base")
    post = []
    orig = b._stage_postings

    def stage(*args, **kws):
        with spark_jobs(spark) as started:
            orig(*args, **kws)
        post.extend(started)

    b._stage_postings = stage
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        m = b.build_incremental(pages_df(spark, 200, partitions=2),
                                fingerprint="wave")
    finally:
        spark.conf.set(key, prev)
    groups = len(m["postings_partitions"])
    assert groups == 2 and m["postings_built"] > 0
    assert len(post) == groups
