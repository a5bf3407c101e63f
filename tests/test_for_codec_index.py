"""End-to-end index build + rank identity with the bit-packed codecs (FOR
and PForDelta-with-exceptions) — keeps the alternative posting formats
exercised through the full build + WAND path, not just unit-tested."""

import pytest

from baram_spark.corpus import make_query_set, pages_df
from baram_spark.index.builder import IndexBuilder
from baram_spark.index.codec import CODEC_FOR, CODEC_PFOR
from baram_spark.query.bm25 import BruteForceIndex
from baram_spark.query.engine import SearchEngine
from tests.conftest import read_committed


@pytest.fixture(scope="module",
                params=[(CODEC_FOR, "for"), (CODEC_PFOR, "pfor")],
                ids=["for", "pfor"])
def for_index(request, spark, work_dir):
    codec, name = request.param
    out = f"{work_dir}/idx_codec{codec}"
    builder = IndexBuilder(spark, out, n_shards=2,
                           codec=codec)
    builder.build(pages_df(spark, 250, partitions=4), fingerprint="for-250")
    return out, name


def test_for_codec_rank_identity(spark, for_index):
    for_index, _ = for_index
    docs = (
        read_committed(spark, for_index, "docs")
        .select("doc_id", "title", "text")
        .toPandas()
    )
    oracle = BruteForceIndex.build(
        [(int(r.doc_id), r.title, r.text) for r in docs.itertuples()]
    )
    # distributed scoring decodes the bit-packed blobs per query; the
    # serving mode decodes them once, at load
    engine = SearchEngine(spark, for_index)
    resident = SearchEngine(spark, for_index, preload=True)
    for q in make_query_set()[:5]:
        exp = [(d, round(s, 9)) for d, s in oracle.search(q["query_text"], k=10)]
        hits = engine.search(q["query_text"], k=10, mode="distributed")
        assert [(d, round(s, 9)) for d, s in hits] == exp, q["query_text"]
        assert resident.search(q["query_text"], k=10, mode="local") == hits
        assert engine.search(q["query_text"], k=10, mode="local") == hits


def test_codec_stats_telemetry(spark, for_index):
    """codec_stats aggregates bytes/posting per codec distributedly and
    persists codec_stats.json — the compression baseline BENCH carries."""
    import json
    import os

    for_index, codec_name = for_index
    builder = IndexBuilder(spark, for_index, n_shards=2, codec=CODEC_FOR)
    stats = builder.codec_stats(persist=True)
    # whole index packed with exactly the fixture's codec — a builder
    # that ignored codec= or a mis-stamped codec id byte fails here
    assert set(stats) == {codec_name}
    s = stats[codec_name]
    assert s["n_postings"] > 0 and s["n_terms"] > 0
    assert s["bytes_per_posting"] > 0
    assert s["total_bytes_per_posting"] >= s["bytes_per_posting"]
    # persisted beside gen_meta
    path = f"{for_index}/codec_stats.json"
    assert os.path.exists(path)
    assert json.load(open(path)) == stats


def test_for_beats_varint_on_long_lists():
    """FOR bit-packing wins on long posting lists (its per-block headers
    dominate short ones — varint stays the default for mixed corpora)."""
    import numpy as np

    from baram_spark.index.codec import CODEC_VARINT, encode_postings

    rng = np.random.default_rng(3)
    ids = np.sort(rng.choice(5_000_000, size=50_000, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 4, size=50_000).astype(np.int64)
    dls = rng.integers(50, 200, size=50_000).astype(np.int64)
    b_var, _, _ = encode_postings(ids, tfs, dls, avgdl=100.0, codec=CODEC_VARINT)
    b_for, _, _ = encode_postings(ids, tfs, dls, avgdl=100.0, codec=CODEC_FOR)
    assert len(b_for) < len(b_var)


def test_pfor_beats_for_and_varint_on_long_skewed_lists():
    """PForDelta's regime: long lists with skewed tf / broad dl
    distributions — patched exceptions keep the base width at the common
    case (measured ~3.3 vs 3.7 (FOR) vs 4.2 (varint) bytes/posting).
    Short-list corpora keep varint as the default: PFOR pays a 7-byte
    header per section, FOR 5, varint none."""
    import numpy as np

    from baram_spark.index.codec import (
        CODEC_PFOR,
        CODEC_VARINT,
        encode_postings,
    )

    rng = np.random.default_rng(3)
    n = 50_000
    ids = np.sort(
        rng.choice(50_000_000, size=n, replace=False)
    ).astype(np.int64)
    tfs = np.minimum((rng.pareto(1.5, n) + 1).astype(np.int64), 60)
    dls = np.maximum(rng.lognormal(4.5, 0.8, n).astype(np.int64), 5)
    sizes = {}
    for codec in (CODEC_VARINT, CODEC_FOR, CODEC_PFOR):
        blob, _, _ = encode_postings(ids, tfs, dls, avgdl=120.0,
                                     codec=codec)
        sizes[codec] = len(blob)
    assert sizes[CODEC_PFOR] < sizes[CODEC_FOR] < sizes[CODEC_VARINT]
